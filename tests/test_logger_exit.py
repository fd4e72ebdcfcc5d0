"""The live logger's loss bound on each way its process can end (README,
"When the logging process ends"). Each test runs a child process that
logs 250 events through a ``SparkParquetLogger`` with ``buffer_size=100``
(two flushes, 50 rows left in the buffer), ends it one way, and counts
the rows on disk. The child starts no JVM: a flush is a pyarrow write,
and the logger reads only the session time zone from its session."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import textwrap

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N, BUFFER = 250, 100

CHILD = """
import os, signal, sys, time, types
sys.path.insert(0, {root!r})
from langchain_callback_parquet_logger_spark import SparkParquetLogger, sinks
spark = types.SimpleNamespace(conf=types.SimpleNamespace(get=lambda key: "UTC"))
{setup}
logger = SparkParquetLogger(spark, {out!r}, buffer_size={buffer})
{configure}
for i in range({n}):
    logger.on_llm_start({{}}, ["p"], run_id=f"r{{i}}")
    {each}
{end}
"""


def run_child(tmp_path, end="", setup="", configure="", each="pass"):
    out = str(tmp_path / "logs")
    script = CHILD.format(
        root=ROOT, out=out, buffer=BUFFER, n=N, end=textwrap.dedent(end),
        setup=textwrap.dedent(setup), configure=textwrap.dedent(configure), each=each,
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=120
    )
    return proc, rows_on_disk(out)


def rows_on_disk(out: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(d, n)).num_rows
        for d, _, names in os.walk(out) for n in names
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


def test_normal_exit_writes_every_row(tmp_path):
    proc, rows = run_child(tmp_path)
    assert proc.returncode == 0, proc.stderr
    assert rows == N


def test_sigint_writes_every_row(tmp_path):
    """KeyboardInterrupt unwinds to the top, and atexit runs."""
    proc, rows = run_child(tmp_path, end="""
        os.kill(os.getpid(), signal.SIGINT)
        time.sleep(30)
    """)
    assert "KeyboardInterrupt" in proc.stderr
    assert rows == N


def test_sigterm_writes_every_row_and_ends_by_the_signal(tmp_path):
    """SIGTERM's default action skips atexit; the logger's hook flushes
    the buffer, then the process still ends by SIGTERM."""
    proc, rows = run_child(tmp_path, end="""
        assert signal.getsignal(signal.SIGTERM) is not signal.SIG_DFL
        os.kill(os.getpid(), signal.SIGTERM)
        time.sleep(30)
    """)
    assert proc.returncode == -signal.SIGTERM, proc.stderr
    assert rows == N


def test_sigterm_under_an_application_handler(tmp_path):
    """An application's SIGTERM handler stays installed; the rows it
    flushes are on disk."""
    proc, rows = run_child(
        tmp_path,
        setup="""
            def on_term(signum, frame):
                logger.flush()
                os._exit(3)
            signal.signal(signal.SIGTERM, on_term)
        """,
        end="""
            assert signal.getsignal(signal.SIGTERM) is on_term
            os.kill(os.getpid(), signal.SIGTERM)
            time.sleep(30)
        """,
    )
    assert proc.returncode == 3, proc.stderr
    assert rows == N


def test_sigkill_loses_at_most_the_buffer(tmp_path):
    proc, rows = run_child(tmp_path, end="""
        os.kill(os.getpid(), signal.SIGKILL)
        time.sleep(30)
    """)
    assert proc.returncode == -signal.SIGKILL
    assert rows == N - N % BUFFER


def test_down_sink_under_continue_loses_only_its_batches(tmp_path):
    """A file where the log directory should be fails the first flush
    on every attempt; under ``on_failure='continue'`` that batch is
    dropped with an error, and the flushes after the sink is back land."""
    blocker = tmp_path / "logs"
    blocker.write_text("not a directory")
    proc, rows = run_child(
        tmp_path,
        setup="sinks._sleep = lambda seconds: None",
        configure='logger.sink.on_failure = "continue"',
        each=f"i == {BUFFER - 1} and os.remove({str(blocker)!r})",
    )
    assert proc.returncode == 0, proc.stderr
    assert "sink write failed after 3 attempts" in proc.stderr
    assert rows == N - BUFFER


def test_dropped_logger_writes_its_buffer_at_exit(tmp_path):
    """The exit hooks hold every open logger; one dropped with rows in
    its buffer is kept alive and flushed at exit."""
    proc, rows = run_child(tmp_path, end="""
        del logger
        import gc
        gc.collect()
    """)
    assert proc.returncode == 0, proc.stderr
    assert rows == N


def test_terminated_forked_workers_write_no_rows_of_the_parent(tmp_path):
    """A forked multiprocessing worker starts with a copy of the parent's
    buffered rows and SIGTERM's default action, not the parent's hook.
    ``Pool.terminate()`` ends each worker by SIGTERM; the worker writes
    none of the copy, and the parent writes its rows once at exit."""
    proc, rows = run_child(tmp_path, end="""
        import multiprocessing
        pool = multiprocessing.get_context("fork").Pool(2)
        assert pool.map(abs, range(-4, 0)) == [4, 3, 2, 1]
        assert pool.apply(signal.getsignal, (signal.SIGTERM,)) == signal.SIG_DFL
        pool.terminate()
        pool.join()
    """)
    assert proc.returncode == 0, proc.stderr
    assert rows == N
