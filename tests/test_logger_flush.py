"""The live logger's flush as written files: one parquet file per date
partition per flush, the failure policy seen from the flushing callback,
atomic and idempotent publishing, the S3 leg, the atexit flush, and a log
tree mixing Spark-written and Arrow-written flushes. Tests that fail a
write record the waits between attempts instead of sleeping them."""

from __future__ import annotations

import datetime as dt
import gc
import json
import os
import subprocess
import sys
import textwrap
import threading
import weakref

import pyarrow.parquet as pq
import pytest

from langchain_callback_parquet_logger_spark import sinks
from langchain_callback_parquet_logger_spark.ingest import (
    RAW_EVENT_DDL,
    normalize_events,
    read_log_dataset,
)
from langchain_callback_parquet_logger_spark.logger import SparkParquetLogger
from langchain_callback_parquet_logger_spark.schema import LOG_SCHEMA
from langchain_callback_parquet_logger_spark.sinks import (
    CompositeSink,
    ParquetSink,
    compact_logs,
)

UTC = dt.timezone.utc
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def files_under(root) -> list[str]:
    """Every file below ``root``, hidden ones included."""
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, _, names in os.walk(root) for n in names
    )


def log_llm_starts(logger, n: int, prefix: str = "r") -> None:
    for i in range(n):
        logger.on_llm_start({"_type": "fake"}, [f"p{i}"], run_id=f"{prefix}{i}")


class FailingSink(ParquetSink):
    """Fails its first ``fail_times`` write attempts."""

    def __init__(self, *args, fail_times: int = 0, **kwargs):
        super().__init__(*args, **kwargs)
        self.fail_times = fail_times
        self.calls = 0

    def _write_once(self, df):
        self.calls += 1
        if self.calls <= self.fail_times:
            raise ConnectionError(f"injected failure #{self.calls}")
        super()._write_once(df)


def test_flush_writes_one_file_per_date_partition(spark, tmp_path):
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=50)
    log_llm_starts(logger, 120)  # two full flushes and 20 rows left
    assert len(files_under(out)) == 2
    logger.flush()
    files = files_under(out)
    assert len(files) == 3 and all(f.startswith("date=") and f.endswith(".parquet")
                                   for f in files)
    df = read_log_dataset(spark, str(out))
    assert [(f.name, f.dataType) for f in df.schema.fields if f.name != "date"] == [
        (f.name, f.dataType) for f in LOG_SCHEMA.fields
    ]
    assert dict(df.dtypes)["date"] == "date"
    assert df.count() == 120


def test_concurrent_callbacks_lose_and_duplicate_no_rows(spark, tmp_path):
    """More threads than cores log and flush at once: every row lands on
    disk exactly once."""
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=37)
    threads = [threading.Thread(target=log_llm_starts, args=(logger, 300, f"t{k}-"))
               for k in range(3 * os.cpu_count())]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    logger.flush()
    run_ids = [r["run_id"] for f in files_under(out) for r in pq.read_table(out / f).to_pylist()]
    assert sorted(run_ids) == sorted(f"t{k}-{i}" for k in range(len(threads)) for i in range(300))


def test_flush_error_policy_raises_from_the_callback(spark, tmp_path, sink_sleeps):
    logger = SparkParquetLogger(spark, str(tmp_path / "logs"), buffer_size=2)
    logger.sink = FailingSink(str(tmp_path / "logs"), fail_times=99, retry_attempts=2)
    log_llm_starts(logger, 1)
    with pytest.raises(RuntimeError, match="after 2 attempts"):
        log_llm_starts(logger, 1)
    assert logger.sink.calls == 2
    assert sink_sleeps == [1]
    assert not (tmp_path / "logs").exists()


def test_flush_continue_policy_logs_and_carries_on(spark, tmp_path, caplog, sink_sleeps):
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=2)
    logger.sink = FailingSink(str(out), fail_times=2, retry_attempts=2, on_failure="continue")
    log_llm_starts(logger, 2, "lost")  # both attempts fail: logged, not raised
    assert any("continuing" in r.message for r in caplog.records)
    log_llm_starts(logger, 2, "kept")
    assert sorted(r.run_id for r in read_log_dataset(spark, str(out)).collect()) == [
        "kept0", "kept1"
    ]


def test_failing_remote_leg_under_continue_keeps_local_rows(spark, tmp_path, sink_sleeps):
    logger = SparkParquetLogger(spark, str(tmp_path / "local"), buffer_size=3)
    logger.sink = CompositeSink([
        ParquetSink(str(tmp_path / "local")),
        FailingSink(str(tmp_path / "remote"), fail_times=99, retry_attempts=2,
                    on_failure="continue"),
    ])
    log_llm_starts(logger, 3)
    assert read_log_dataset(spark, str(tmp_path / "local")).count() == 3
    assert not (tmp_path / "remote").exists()


def test_failed_attempt_leaves_no_visible_file(spark, tmp_path, monkeypatch):
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=10)
    logger.sink.retry_attempts = 1

    def broken_replace(src, dst):
        raise OSError("disk full")

    monkeypatch.setattr(sinks.os, "replace", broken_replace)
    with pytest.raises(RuntimeError, match="after 1 attempts"):
        log_llm_starts(logger, 10)
    assert files_under(out) == []  # not even the hidden temp file
    monkeypatch.undo()
    log_llm_starts(logger, 10)
    assert read_log_dataset(spark, str(out)).count() == 10


def test_retry_after_a_partial_publish_does_not_duplicate_rows(spark, tmp_path,
                                                              sink_sleeps):
    """A flush across midnight writes two partitions; the first attempt
    publishes one and fails on the other, and the retry publishes both
    under the same names."""
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=10**9)
    log_llm_starts(logger, 6)
    midnight = dt.datetime(2024, 5, 2, tzinfo=UTC)
    logger._buffer = [(midnight + dt.timedelta(seconds=i - 3), *row[1:])
                      for i, row in enumerate(logger._buffer)]
    put = logger.sink.arrow_store()
    seen: list[str] = []

    def second_file_fails_once(body, rel):
        seen.append(rel)
        if len(seen) == 2:
            raise ConnectionError("injected failure")
        put(body, rel)

    logger.sink._put = second_file_fails_once
    logger.flush()
    assert len(seen) == 4 and seen[:2] == seen[2:]  # one retry, same file names
    assert len(files_under(out)) == 2
    back = read_log_dataset(spark, str(out))
    assert sorted(r.run_id for r in back.collect()) == [f"r{i}" for i in range(6)]
    assert {str(r.date) for r in back.collect()} == {"2024-05-01", "2024-05-02"}


def test_s3_leg_round_trips_under_moto(spark, tmp_path, monkeypatch):
    moto = pytest.importorskip("moto")
    import boto3

    for k, v in {"AWS_ACCESS_KEY_ID": "testing", "AWS_SECRET_ACCESS_KEY": "testing",
                 "AWS_DEFAULT_REGION": "us-east-1"}.items():
        monkeypatch.setenv(k, v)
    for bucket, s3_dir, prefix in [("logs-bucket", "s3a://logs-bucket/llm/", "llm/"),
                                   ("root-bucket", "s3a://root-bucket", "")]:
        with moto.mock_aws():
            client = boto3.client("s3")
            client.create_bucket(Bucket=bucket)
            local = tmp_path / bucket
            with SparkParquetLogger(spark, str(local), s3_dir=s3_dir,
                                    buffer_size=100) as logger:
                log_llm_starts(logger, 7)
            keys = [o["Key"] for o in client.list_objects_v2(Bucket=bucket)["Contents"]]
            assert [f"{prefix}{f}" for f in files_under(local)] == keys
            body = client.get_object(Bucket=bucket, Key=keys[0])["Body"].read()
        assert body == (local / files_under(local)[0]).read_bytes()  # the same bytes
        assert pq.read_table(local / files_under(local)[0]).num_rows == 7


def test_unsupported_scheme_fails_when_the_logger_is_built(spark):
    with pytest.raises(ValueError, match="write_log"):
        SparkParquetLogger(spark, "hdfs://namenode/logs")
    with pytest.raises(ValueError, match="write_log"):
        SparkParquetLogger(spark, "/tmp/unused", s3_dir="gs://bucket/logs")


def test_atexit_flush_writes_the_partial_buffer_without_a_jvm(tmp_path):
    """A process logs fewer than buffer_size events, stops Spark and its
    JVM, and exits without flushing: the atexit hook writes the rows."""
    out = tmp_path / "logs"
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
        from langchain_callback_parquet_logger_spark import SparkParquetLogger
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.driver.memory", "512m")
                 .config("spark.ui.enabled", "false").getOrCreate())
        logger = SparkParquetLogger(spark, {str(out)!r}, buffer_size=100)
        for i in range(3):
            logger.on_llm_start({{}}, ["p"], run_id=f"exit{{i}}")
        spark.stop()
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on end of input
        gateway.proc.wait(timeout=120)
    """)
    subprocess.run([sys.executable, "-c", script], check=True, timeout=300,
                   capture_output=True)
    files = files_under(out)
    assert len(files) == 1
    rows = pq.read_table(out / files[0]).to_pylist()
    assert sorted(r["run_id"] for r in rows) == ["exit0", "exit1", "exit2"]


def test_closed_logger_is_not_kept_alive_by_atexit(spark, tmp_path):
    """Leaving the ``with`` block flushes and drops the atexit hook, which
    would otherwise hold the logger and its sink until the interpreter
    exits."""
    out = tmp_path / "logs"
    with SparkParquetLogger(spark, str(out), buffer_size=100) as logger:
        log_llm_starts(logger, 3)
    ref = weakref.ref(logger)
    del logger
    gc.collect()
    assert ref() is None
    assert read_log_dataset(spark, str(out)).count() == 3


def test_mixed_spark_and_arrow_tree_reads_and_compacts(spark, tmp_path):
    """A tree holding a Spark-written flush (INT96 timestamps) and an Arrow
    flush reads back with LOG_SCHEMA types, and compaction keeps every row."""
    out = str(tmp_path / "logs")
    logger = SparkParquetLogger(spark, out, buffer_size=10**9)
    log_llm_starts(logger, 4, "spark")
    old = spark.createDataFrame(logger._buffer, RAW_EVENT_DDL)
    logger._buffer = []
    ts_conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(ts_conf)
    spark.conf.set(ts_conf, "INT96")  # Spark's default, which the old flush wrote
    try:
        ParquetSink(out).write(normalize_events(old))
    finally:
        spark.conf.set(ts_conf, prev)
    log_llm_starts(logger, 5, "arrow")
    logger.flush()

    kinds = sorted(
        pq.ParquetFile(os.path.join(out, f)).schema.column(0).physical_type
        for f in files_under(out) if not f.rsplit("/", 1)[-1].startswith(("_", "."))
    )
    assert "INT96" in kinds and "INT64" in kinds
    df = read_log_dataset(spark, out)
    assert [(f.name, f.dataType) for f in df.schema.fields if f.name != "date"] == [
        (f.name, f.dataType) for f in LOG_SCHEMA.fields
    ]
    assert dict(df.dtypes)["date"] == "date"
    before = sorted(tuple(r) for r in df.collect())
    assert len(before) == 9
    compact_logs(spark, out)
    assert sorted(tuple(r) for r in read_log_dataset(spark, out).collect()) == before


# --- each handler argument is converted once --------------------------------


class _CountingModel:
    """Pydantic-like: counts its model_dump calls."""

    calls = 0

    def model_dump(self):
        type(self).calls += 1
        return {"text": "hi"}


def test_handler_converts_each_argument_once(spark, tmp_path):
    logger = SparkParquetLogger(spark, str(tmp_path / "logs"), buffer_size=10**9)
    _CountingModel.calls = 0
    logger.on_llm_start(_CountingModel(), [_CountingModel()], run_id="r",
                        invocation_params={"m": _CountingModel()})
    assert _CountingModel.calls == 3  # serialized, prompts, invocation_params
    data = json.loads(logger._buffer[0][6])
    assert data["prompts"] == [{"text": "hi"}]
    assert data["invocation_params"] == {"m": {"text": "hi"}}


def test_handler_keeps_an_argument_nested_21_levels(spark, tmp_path):
    """The depth limit counts from each handler argument. The second walk
    of the whole payload restarted the count one level up and turned the
    innermost list of this argument into a str; it now keeps its shape."""
    deep = "leaf"
    for _ in range(21):
        deep = [deep]
    logger = SparkParquetLogger(spark, str(tmp_path / "logs"), buffer_size=10**9)
    logger.on_llm_start({}, deep, run_id="r")
    assert json.loads(logger._buffer[0][6])["prompts"] == deep
