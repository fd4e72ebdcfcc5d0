"""The ``query_registry`` workload: the registry queries, the timed loop
over them, and the DuckDB oracle check of every result.

One run times a fixed set that holds at least one query of every registry
module (a full pass over all 154 queries takes minutes even on tiny
inputs). ``tools/check_oracle.py`` checks all 154 against DuckDB.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pickle
import random
import sys
import threading
import time
from dataclasses import dataclass, field

import measure

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Registry modules, by the layer name used in metric names: first the
# Catalyst/JVM-bound ones over the log and its tables, then the LLM-data
# ones, where Arrow kernels, tracked caches and broadcast memos do the work.
MODULES = [
    "queries", "analytic", "sql_surface", "temporal", "batch_queries",
    "maintenance", "streaming.ingest", "streaming.stateful",
    "text", "dedup", "similarity", "graph", "pipeline", "indexes", "multimodal",
]

# The timed set: at least one query from every module. q_log_compaction
# holds the bulk-write use of sinks (compact_logs); q_embedding_dedup the
# banded-embedding memo, the gather broadcast and the Arrow kernels.
TIMED = [
    "q_token_rollup", "q_topk", "q_sessionize", "q_percentiles", "q_sql_in_agg",
    "q_asof_join", "q_checkpoint_resume", "q_log_compaction", "q_stream_dedup",
    "q_stream_sessionize", "q_text_stats", "q_exact_dedup", "q_knn_ivf", "q_embedding_dedup",
    "q_dedup_clusters", "q_hash_sample", "q_index_incremental_dedup", "q_multimodal_meta",
]


def registry_modules() -> dict[str, object]:
    """The registry modules by layer name, imported from the package."""
    import importlib

    out = {}
    for name in MODULES:
        path = name if "." in name else f"operators.{name}"
        out[name] = importlib.import_module(f"langchain_callback_parquet_logger_spark.{path}")
    return out


def assignment() -> dict[str, str]:
    """query name -> the module that registers it."""
    out: dict[str, str] = {}
    for m, mod in registry_modules().items():
        for q in mod.QUERIES:
            if q in out:
                raise ValueError(f"{q} registered by both {out[q]} and {m}")
            out[q] = m
    return out


def make_inputs(out_dir: str, sf: float) -> None:
    """The fixture tables, from the repo's own deterministic generator. The
    inputs are the same for every seed; the seed permutes query order."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import make_testdata

    make_testdata.write_dir(out_dir, sf)


class Oracle:
    """DuckDB over the same parquet inputs, compared the way
    ``tools/check_oracle.py`` compares: column-name set, row count, and
    order-insensitive canonical values."""

    def __init__(self, data_dir: str, store_dir: str) -> None:
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import _canon

        from langchain_callback_parquet_logger_spark.plans.session import TABLES

        self._canon = _canon
        self._con = duckdb.connect()
        digest = hashlib.sha256(duckdb.__version__.encode())
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            with open(p, "rb") as f:
                digest.update(f.read())
        self._inputs = digest.hexdigest()
        self._store = store_dir
        self._cache: dict[str, tuple[list[str], list] | Exception] = {}
        self._thread: threading.Thread | None = None

    def _compute(self, name: str, sql: str) -> None:
        """The expected result of one query. A result is stored on disk
        under the hash of the input tables, the SQL and the DuckDB version,
        so later runs in the same checkout reuse it: the tables are the same
        for every seed, and DuckDB takes about 40 CPU-seconds over the
        timed set, which would crowd the warm-up pass."""
        key = hashlib.sha256(f"{self._inputs}\n{sql}".encode()).hexdigest()
        path = os.path.join(self._store, f"{key}.pickle")
        with contextlib.suppress(OSError, pickle.UnpicklingError, EOFError):
            with open(path, "rb") as f:
                self._cache[name] = pickle.load(f)
                return
        try:
            res = self._con.execute(sql)
            cols = [d[0] for d in res.description]
            self._cache[name] = (cols, self._canon(res.fetchall(), cols))
        except Exception as e:  # noqa: BLE001 — reported as that query's failure
            self._cache[name] = e
            return
        os.makedirs(self._store, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(self._cache[name], f)
        os.replace(tmp, path)

    def prefetch(self, queries: dict[str, str]) -> None:
        """Compute the expected results in a background thread (DuckDB
        releases the GIL), to overlap with the untimed warm-up pass."""
        self._thread = threading.Thread(
            target=lambda: [self._compute(n, q) for n, q in queries.items()], daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()
            self._thread = None

    def mismatch(self, name: str, sql: str, cols: list[str], rows: list) -> str | None:
        self.join()
        if name not in self._cache:
            self._compute(name, sql)
        expected = self._cache[name]
        if isinstance(expected, Exception):
            return f"duckdb error: {expected}"
        ocols, orows = expected
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"rowcount {len(rows)} != {len(orows)}"
        if self._canon(rows, cols) != orows:
            return "value mismatch"
        return None


@dataclass
class Execution:
    name: str
    module: str
    build_s: float
    op_s: float  # build, action and the release_caches() after them
    release_s: float = 0.0
    cols: list[str] = field(default_factory=list)
    rows: list = field(default_factory=list)
    error: str | None = None
    cpu: dict = field(default_factory=dict)  # CPU seconds per process class
    steal_pct: float = 0.0  # the host's steal while the query ran
    probes_ns: list[int] = field(default_factory=list)  # host-speed probes while it ran
    stats: dict = field(default_factory=dict)  # Spark counts, when traced


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def run_query(spark, name: str, module: str, fn, data_dir: str, tracer=None) -> Execution:
    """Build and collect one query. Traced, it records spans for the build
    call and the action and attaches the query's Spark counts, read after
    the query's own timing."""
    ex = Execution(name, module, 0.0, 0.0)
    if tracer:
        t = time.perf_counter()
        mark = tracer.stages.mark()
        tracer.charge(t)
    t0 = time.perf_counter()
    with _span(tracer, f"query.{module}.{name}"):
        try:
            with _span(tracer, "build"):
                df = fn(spark, data_dir)
            ex.build_s = time.perf_counter() - t0
            with _span(tracer, "action"):
                ex.rows = [tuple(r) for r in df.collect()]
            ex.cols = df.columns
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            ex.error = f"{type(e).__name__}: {str(e)[:300]}"
    ex.op_s = time.perf_counter() - t0
    if tracer:
        t = time.perf_counter()
        ex.stats = tracer.stages.between(mark, tracer.stages.mark())
        tracer.charge(t)
    return ex


def count_parquet(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


@dataclass
class QueryRun:
    names: list[str]
    warm: list[Execution]
    passes: list[list[Execution]]
    wall_s: float
    peak_rss_mb: dict[str, float]
    heap_live_mb: dict[str, float]  # per query, from the warm-up pass
    files: int
    bytes: int
    oracle: Oracle
    sqls: dict[str, str]


def run(spark, seed: int, seconds: float, data_dir: str, out_root: str, oracle_dir: str,
        tree, tracer=None) -> QueryRun:
    """One untimed warm-up pass over the timed set, then timed passes,
    each in a fresh seeded order: at least one, and more while they fit in
    ``seconds``; a query's latency is its median over the passes. The
    warm-up pass also reads the live heap after each query, while its
    caches are held. It runs in the fixed order of ``TIMED``, because the
    live heap holds what earlier queries left behind (Spark's job history,
    memos), and with a seeded order its largest value moved by a fifth."""
    import __spark_entry__ as entry

    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    assign = assignment()
    names = list(TIMED)
    registry = entry.queries()
    sqls = entry.oracle_sql()
    oracle = Oracle(data_dir, oracle_dir)
    oracle.prefetch({q: sqls[q] for q in names})
    rng = random.Random(seed)

    def run_one(q: str, live: dict[str, float] | None = None) -> Execution:
        mark = len(prober.samples)
        ticks0, cpu0 = measure.host_ticks(), tree.cpu()
        ex = run_query(spark, q, assign[q], registry[q], data_dir, tracer)
        if live is not None:
            live[q] = tree.heap_live_mb()
        t = time.perf_counter()
        with _span(tracer, "plans.session.release_caches"):
            release_caches()  # what every harness does between queries
        ex.release_s = time.perf_counter() - t
        ex.op_s += ex.release_s
        ex.cpu = measure.cpu_delta(cpu0, tree.cpu())
        ex.steal_pct = measure.steal_pct(ticks0)
        ex.probes_ns = prober.samples[mark:]
        return ex

    def one_pass() -> list[Execution]:
        order = names[:]
        rng.shuffle(order)
        return [run_one(q) for q in order]

    live: dict[str, float] = {}
    with measure.Prober() as prober:
        warm = [run_one(q, live) for q in names]
        oracle.join()  # keep DuckDB off the CPUs while timing
        if tracer:
            tracer.reset()
        files, size = count_parquet(out_root)
        t0 = time.perf_counter()
        passes = [one_pass()]
        # another pass only if, at the mean pass length, it ends within `seconds`
        while (time.perf_counter() - t0) * (len(passes) + 1) / len(passes) <= seconds:
            passes.append(one_pass())
        wall = time.perf_counter() - t0
    rss = tree.peak_rss_mb()
    return QueryRun(names, warm, passes, wall, rss, live, files, size, oracle, sqls)


def check(run_: QueryRun) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems) over every execution, warm-up included."""
    attempted = failed = 0
    problems: list[str] = []
    for ex in run_.warm + [e for p in run_.passes for e in p]:
        attempted += 1
        err = ex.error or run_.oracle.mismatch(ex.name, run_.sqls[ex.name], ex.cols, ex.rows)
        if err:
            failed += 1
            problems.append(f"{ex.name}: {err}")
    return attempted, failed, problems


def end_to_end(run_: QueryRun) -> tuple[dict[str, float], dict]:
    """End-to-end metrics of a query run and the facts the record names.
    Timings are scaled to the reference host (measure.py, "host speed"):
    each query's latency by the wall factor of the probes taken while it
    ran, CPU time by the CPU factor of all of them."""
    execs = [e for p in run_.passes for e in p]
    k = len(run_.passes)
    probes = [x for e in execs for x in e.probes_ns]
    slow = measure.Slowdown.of(probes)

    def latency(e: Execution, scale: bool) -> float:
        return e.op_s / measure.Slowdown.of(e.probes_ns or probes).wall if scale else e.op_s

    def per_query(scale: bool) -> dict[str, float]:
        return {q: measure.median([latency(e, scale) for e in execs if e.name == q])
                for q in run_.names}

    scaled, raw = per_query(True), per_query(False)
    pct, tail_s = measure.tail(list(scaled.values()))
    n = len(run_.names)
    cpu = {c: sum(e.cpu[c] for e in execs) / k for c in execs[0].cpu}
    cpu_ms = sum(cpu.values()) / n * 1e3
    metrics = {
        "ops_per_s": n / sum(scaled.values()),
        # The median of ~20 different queries jumps between queries from run
        # to run; their geometric mean weighs each query alike and is steady.
        "op_typical_ms": measure.geomean(list(scaled.values())) * 1e3,
        "op_tail_ms": tail_s * 1e3,
        "cpu_ms_per_op": cpu_ms / slow.cpu,
        "peak_rss_mb": sum(run_.peak_rss_mb.values()),
        "heap_live_mb": max(run_.heap_live_mb.values()),
        "files_per_1k_ops": run_.files / n * 1e3,
        "bytes_per_op": run_.bytes / n,
    }
    facts = {
        "ops": len(execs), "passes": k, "pass_s": sum(raw.values()), "op_tail_pct": pct,
        "timed_s": run_.wall_s, "cpu_s": cpu, "peak_rss_mb": run_.peak_rss_mb,
        "heap_live_mb": run_.heap_live_mb, "per_query_s": raw, "slowdown": vars(slow),
        "probes": len(probes),
        "unscaled": {"ops_per_s": n / sum(raw.values()),
                     "op_typical_ms": measure.geomean(list(raw.values())) * 1e3,
                     "op_tail_ms": measure.tail(list(raw.values()))[1] * 1e3,
                     "cpu_ms_per_op": cpu_ms},
        "wall_factor": [{e.name: round(measure.Slowdown.of(e.probes_ns or probes).wall, 3)
                         for e in p} for p in run_.passes],
        "host_steal_pct": [{e.name: round(e.steal_pct, 2) for e in p} for p in run_.passes],
    }
    return metrics, facts


def layers(run_: QueryRun) -> dict[str, float]:
    """Per-module metrics, per timed pass, for every registry module."""
    k = len(run_.passes)
    out: dict[str, float] = {}
    for m in MODULES:
        execs = [e for p in run_.passes for e in p if e.module == m]
        out[f"{m}.wall_s"] = sum(e.op_s for e in execs) / k
        out[f"{m}.build_s"] = sum(e.build_s for e in execs) / k
        out[f"{m}.jvm_cpu_s"] = sum(e.cpu.get("jvm", 0.0) for e in execs) / k
        out[f"{m}.python_cpu_s"] = sum(e.cpu.get("python", 0.0) for e in execs) / k
        out[f"{m}.shuffle_bytes"] = sum(e.stats.get("shuffle_bytes", 0) for e in execs) / k
        out[f"{m}.tasks"] = sum(e.stats.get("tasks", 0) for e in execs) / k
    out["plans.session.release_caches_s"] = sum(e.release_s for p in run_.passes for e in p) / k
    return out
