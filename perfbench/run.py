"""Benchmark of the log engine: one command, two workloads.

    python3 perfbench/run.py --workload log_capture --seed 1 --seconds 20 --trace 0

Workloads (see README.md for why each exists):
  log_capture     LangChain-shaped callbacks through SparkParquetLogger to parquet
  query_registry  registry queries from every module, JVM-bound and Arrow-kernel

The run pins the host (``local[nproc]``, a driver heap below physical RAM,
every scratch directory inside the checkout), builds its inputs from the
seed, measures, checks every output, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
The full record (host stamp, facts, problems; spans when traced) is written
under ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "run")
RECORDS = os.path.join(STATE, "records")

WORKLOADS = ("log_capture", "query_registry")
SCALE_FACTOR = 0.003  # smallest generator scale whose event log spans the retention window
CAPTURE_WARMUP_RUNS = 480  # about twenty flushes: past the cold first write and the JIT warm-up


def pin_host() -> dict:
    """Environment every process of the run inherits; returns the host stamp."""
    ncpu = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gb = max(1, min(2, int(ram_gb // 4)))
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "local"), RECORDS):
        os.makedirs(d, exist_ok=True)
    # The heap is committed and touched at start-up, so peak_rss_mb does not
    # depend on when the JVM chose to grow it; it moves with memory outside
    # the Java heap (Python driver and workers, metaspace, direct buffers).
    # The live heap is measured by heap_live_mb.
    java_opts = (f"-Xms{driver_gb}g -XX:+AlwaysPreTouch "
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "{java_opts}" '
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
        ),
    )
    tempfile.tempdir = tmp
    return {"nproc": ncpu, "ram_gb": round(ram_gb, 1), "driver_memory": f"{driver_gb}g"}


def start_session():
    """Cold set-up: JVM launch and session start up to the first job
    finishing; returns (spark, seconds). A run starts one JVM, since each
    further cold start would add about 10 s to the run."""
    from langchain_callback_parquet_logger_spark.plans.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.parallelize([0], 1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on end of input
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def stamp(spark, host: dict) -> dict:
    import pyarrow
    import pyspark

    return {
        **host,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def run_capture(spark, seed: int, seconds: float, tree, tracer):
    import capture
    import measure
    from querywork import count_parquet

    from langchain_callback_parquet_logger_spark import SparkParquetLogger

    pool = capture.generate(seed)
    warm = capture.EventPool(pool.runs[:CAPTURE_WARMUP_RUNS])
    warm_dir = os.path.join(WORK, "warmup-logs")
    t0 = time.perf_counter()
    capture.drive(SparkParquetLogger(spark, warm_dir, buffer_size=capture.BUFFER_SIZE), warm, 0)
    warmup_s = time.perf_counter() - t0
    shutil.rmtree(warm_dir, ignore_errors=True)
    if tracer:
        tracer.reset()

    log_dir = os.path.join(WORK, "logs")
    logger = SparkParquetLogger(spark, log_dir, buffer_size=capture.BUFFER_SIZE, partition_on="date")
    wrap = (lambda fn: tracer.wrap("logger.callback", fn)) if tracer else None
    cpu0, ticks0 = tree.cpu(), measure.host_ticks()
    res = capture.drive(logger, pool, seconds, capture.MIN_CAPTURED_ROWS, wrap=wrap)
    cpu, steal = measure.cpu_delta(cpu0, tree.cpu()), measure.steal_pct(ticks0)
    rss = tree.peak_rss_mb()
    heap = tree.heap_live_mb()  # what the logger's jobs left on the heap

    failed, problems = capture.check_readback(spark, log_dir, pool.expected(res.calls))
    failed += res.handler_errors
    if res.first_error:
        problems.insert(0, f"{res.handler_errors} callbacks raised, first: {res.first_error}")
    files, size = count_parquet(log_dir)
    n = len(res.latencies_ns)
    lat_ms = [x / 1e6 for x in res.latencies_ns]
    # About half of the callbacks are dropped by the capture set and return
    # in microseconds; over all callbacks the median sits between the two
    # groups and moved with the share captured (spread 0.28 over five runs).
    captured_ms = [x for x, c in zip(lat_ms, res.calls) if c.expect is not None]
    dropped_ms = [x for x, c in zip(lat_ms, res.calls) if c.expect is None]
    pct, tail_ms = measure.tail(lat_ms)
    cycle_ops_per_s = measure.median([c.ops_per_s for c in res.cycles])
    cpu_ms = sum(cpu.values()) / n * 1e3
    # Timings scaled to the reference host (measure.py, "host speed"): the
    # flush-bound throughput and tail by the wall factor, the callback
    # median and CPU time by the CPU factor.
    slow = measure.Slowdown.of(res.probes_ns)
    metrics = {
        "ops_per_s": cycle_ops_per_s * slow.wall,
        "op_typical_ms": measure.median(captured_ms) / slow.cpu,
        "op_tail_ms": tail_ms / slow.wall,
        "cpu_ms_per_op": cpu_ms / slow.cpu,
        "peak_rss_mb": sum(rss.values()),
        "heap_live_mb": heap,
        "files_per_1k_ops": files / n * 1e3,
        "bytes_per_op": size / n,
    }
    facts = {
        "ops": n, "captured_rows": sum(pool.expected(res.calls).values()),
        "cycles": len(res.cycles), "op_tail_pct": pct,
        "dropped_p50_ms": measure.median(dropped_ms), "all_p50_ms": measure.median(lat_ms),
        "timed_s": res.span_s, "slowdown": vars(slow), "probes": len(res.probes_ns),
        "unscaled": {"ops_per_s": cycle_ops_per_s, "ops_per_s_overall": n / res.span_s,
                     "op_typical_ms": measure.median(captured_ms), "op_tail_ms": tail_ms,
                     "cpu_ms_per_op": cpu_ms},
        "warmup_s": warmup_s, "cpu_s": cpu, "host_steal_pct": steal, "peak_rss_mb": rss,
        "files": files, "bytes": size, "buffer_size": capture.BUFFER_SIZE,
    }
    return n, failed, problems, metrics, facts, {}


def run_queries(spark, seed: int, seconds: float, tree, tracer):
    import querywork

    data_dir = os.path.join(WORK, "data")
    querywork.make_inputs(data_dir, SCALE_FACTOR)
    run = querywork.run(spark, seed, seconds, data_dir, os.path.join(WORK, "tmp"),
                        os.path.join(STATE, "oracle"), tree, tracer)
    attempted, failed, problems = querywork.check(run)
    metrics, facts = querywork.end_to_end(run)
    return attempted, failed, problems, metrics, facts, {"layers": querywork.layers(run)}


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run
# ---------------------------------------------------------------------------


def layer_metrics(tracer, extra: dict, timed_s: float, ops_per_s: float) -> dict:
    import measure
    from querywork import MODULES, count_parquet

    spans = tracer.by_name()
    flushes = tracer.flush_spans_s()

    def total(name: str) -> float:
        return sum(d for d, _ in spans.get(name, [])) / 1e9

    def attr_sum(name: str, key: str) -> float:
        return sum(a.get(key, 0) for _, a in spans.get(name, []))

    dirs = {a["base_dir"] for _, a in spans.get("sinks.write", []) if "base_dir" in a}
    files = size = 0
    for d in dirs:
        f, b = count_parquet(d)
        files, size = files + f, size + b
    out = {
        "logger.callback_s": total("logger.callback"),
        "logger.serialize_s": total("logger.serialize"),
        "logger.flushes": len(flushes),
        "logger.flush_s": sum(flushes),
        "logger.flush_p50_ms": measure.median(flushes) * 1e3,
        "ingest.normalize_s": total("ingest.normalize"),
        "sinks.write_s": total("sinks.write"),
        "sinks.writes": len(spans.get("sinks.write", [])),
        "sinks.write_failures": sum(1 for _, a in spans.get("sinks.write_once", [])
                                    if not a.get("ok")),
        "sinks.jobs": attr_sum("sinks.write", "jobs"),
        "sinks.tasks": attr_sum("sinks.write", "tasks"),
        "sinks.files": files,
        "sinks.bytes": size,
        "plans.session.release_caches_s": 0.0,
    }
    for m in MODULES:
        for k in ("wall_s", "build_s", "jvm_cpu_s", "python_cpu_s", "shuffle_bytes", "tasks"):
            out[f"{m}.{k}"] = 0.0
    out.update(extra.get("layers", {}))
    out["trace.overhead_pct"] = 100 * tracer.overhead_s / timed_s
    out["trace.ops_per_s"] = ops_per_s
    return out


# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    shutil.rmtree(WORK, ignore_errors=True)
    host = pin_host()
    sys.path.insert(0, ROOT)

    import measure
    import tracing

    spark, setup_s = start_session()
    try:
        from pyspark import SparkContext

        tree = measure.ProcessTree(SparkContext._gateway.proc.pid, SparkContext._jvm)
        tracer = tracing.Tracer() if args.trace else None
        if tracer:
            tracer.install(spark)
        if args.workload == "log_capture":
            result = run_capture(spark, args.seed, args.seconds, tree, tracer)
        else:
            result = run_queries(spark, args.seed, args.seconds, tree, tracer)
        attempted, failed, problems, e2e, facts, extra = result
        e2e["setup_s"] = setup_s
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "host": stamp(spark, host),
                  "facts": facts, "problems": problems[:50], "end_to_end": e2e}
        if tracer:
            tracer.uninstall()
            layers = layer_metrics(tracer, extra, facts["timed_s"], e2e["ops_per_s"])
            record["per_layer"] = layers
            chosen, kind = layers, "per_layer"
        else:
            chosen, kind = e2e, "end_to_end"
    finally:
        stop_session(spark)

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if tracer:
        tracer.dump(os.path.join(RECORDS, f"{name}.spans.jsonl"), record)
    with open(os.path.join(RECORDS, f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(WORK, ignore_errors=True)

    metrics = {}
    for m in spec[kind]:
        metrics[m["name"]] = {"value": float(chosen[m["name"]]), "unit": m["unit"]}
    for p in problems[:10]:
        print("problem:", p, file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
