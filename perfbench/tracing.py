"""Traced runs: spans recorded from outside the program, around calls into
its modules' public functions, plus Spark status-store counts per span.

Spans are kept in memory and written out when the run ends. The tracer
also times its own bookkeeping (status-store and ``/proc`` reads), which is
the overhead a traced run reports next to its numbers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "langchain_callback_parquet_logger_spark"


class StageCounter:
    """Jobs, tasks and shuffle bytes of the Spark work done between two
    marks. Job and stage ids are handed out in sequence by the scheduler,
    so the ids between two marks are exactly the work started in between,
    including jobs submitted from helper threads that carry no job group."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()

    def mark(self) -> tuple[int, int]:
        return _int(self._dag.nextJobId()), _int(self._dag.nextStageId())

    def between(self, a: tuple[int, int], b: tuple[int, int]) -> dict[str, int]:
        self._bus.waitUntilEmpty()  # stage metrics land through the listener bus
        tasks = shuffle = 0
        for sid in range(a[1], b[1]):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stages never get an attempt
                continue
            tasks += st.numTasks()
            shuffle += st.shuffleWriteBytes()
        return {"jobs": b[0] - a[0], "tasks": tasks, "shuffle_bytes": shuffle}


def _int(counter) -> int:
    """A scheduler id counter, which py4j returns as an int or an AtomicInteger."""
    return counter if isinstance(counter, int) else counter.get()


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, int, int, int, dict]] = []
        self.overhead_s = 0.0
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.stages: StageCounter | None = None

    # -- spans -------------------------------------------------------------

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def open(self, name: str) -> int:
        parents = self._parents()
        parent = parents[-1] if parents else -1
        self.spans.append((name, time.perf_counter_ns(), 0, parent, {}))
        idx = len(self.spans) - 1
        parents.append(idx)
        return idx

    def close(self, idx: int, **attrs) -> None:
        self._parents().pop()
        name, start, _, parent, old = self.spans[idx]
        self.spans[idx] = (name, start, time.perf_counter_ns(), parent, {**old, **attrs})

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block."""
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def reset(self) -> None:
        """Forget what warm-up recorded; the timed part starts now."""
        self.spans.clear()
        self.overhead_s = 0.0

    def charge(self, t0: float) -> None:
        self.overhead_s += time.perf_counter() - t0

    # -- wrapping public functions ----------------------------------------

    def wrap(self, name: str, fn, counted: bool = False, attrs=None):
        """A wrapper recording one span per call; with ``counted`` the span
        also carries the Spark jobs, tasks and shuffle bytes it started, and
        ``attrs(*args)`` adds attributes taken from the call's arguments."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            mark = tracer._mark() if counted else None
            idx = tracer.open(name)
            ok = False
            try:
                out = fn(*args, **kwargs)
                ok = True
                return out
            finally:
                extra = {"ok": ok, **(attrs(*args) if attrs else {})}
                if counted:
                    extra.update(tracer._count_since(mark))
                tracer.close(idx, **extra)

        return traced

    def _mark(self):
        t0 = time.perf_counter()
        m = self.stages.mark() if self.stages else None
        self.charge(t0)
        return m

    def _count_since(self, mark) -> dict:
        if mark is None or self.stages is None:
            return {}
        t0 = time.perf_counter()
        out = self.stages.between(mark, self.stages.mark())
        self.charge(t0)
        return out

    def patch(self, owner, attr: str, name: str, counted: bool = False, attrs=None) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, counted, attrs))

    def patch_function(self, fn, name: str) -> None:
        """Replace every module-level binding of ``fn`` inside the package
        (callers import it by name, so patching its home module alone would
        miss them)."""
        for modname, mod in list(sys.modules.items()):
            if modname.startswith(PACKAGE) and getattr(mod, fn.__name__, None) is fn:
                self.patch(mod, fn.__name__, name)

    def install(self, spark) -> None:
        from langchain_callback_parquet_logger_spark import ingest, logger, sinks

        self.stages = StageCounter(spark)
        self.patch_function(logger.safe_json_dumps, "logger.serialize")
        self.patch_function(ingest.normalize_events, "ingest.normalize")
        self.patch(logger.SparkParquetLogger, "flush", "logger.flush")
        self.patch(sinks.ParquetSink, "write", "sinks.write", counted=True,
                   attrs=lambda sink, *_: {"base_dir": sink.base_dir})
        self.patch(sinks.ParquetSink, "_write_once", "sinks.write_once")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- summaries ---------------------------------------------------------

    def flush_spans_s(self) -> list[float]:
        """Durations of the logger flushes that reached the sink (a flush of
        an empty buffer writes nothing)."""
        writers = {p for name, _, _, p, _ in self.spans if name == "sinks.write"}
        return [(e - s) / 1e9 for i, (name, s, e, _, _) in enumerate(self.spans)
                if name == "logger.flush" and i in writers]

    def by_name(self) -> dict[str, list[tuple[int, dict]]]:
        out: dict[str, list[tuple[int, dict]]] = defaultdict(list)
        for name, start, end, _, attrs in self.spans:
            out[name].append((end - start, attrs))
        return out

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps(header) + "\n")
            for i, (name, start, end, parent, attrs) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start_ns": start,
                                    "end_ns": end, "parent": parent, **attrs}) + "\n")
