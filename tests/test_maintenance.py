"""Maintenance operators for the log warehouse: small-file compaction and
the partition-pruned read path it preserves.

The reference's flush cadence (one parquet file per buffer fill,
logger.py:418-470 in /root/reference) is exactly the small-files problem at
scale; `compact_logs` is the counterpart operator."""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from langchain_callback_parquet_logger_spark.logger import SparkParquetLogger
from langchain_callback_parquet_logger_spark.plans.session import (
    glob_escaped,
    load_table,
    run_concurrently,
)
from langchain_callback_parquet_logger_spark.sinks import compact_logs, write_log


def _parquet_files(root: str) -> list[str]:
    return [
        p
        for p in glob.glob(os.path.join(glob.escape(root), "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    ]


@pytest.fixture()
def fragmented_logs(spark, sf_dir, tmp_path):
    """A date-partitioned log tree written the way the reference writes it:
    many tiny flush files per partition (forced via repartition(24))."""
    out = str(tmp_path / "logs")
    events = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("timestamp"),
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    write_log(events.repartition(24), out)
    return out, events.count()


def test_compact_logs_reduces_files_preserves_rows(spark, fragmented_logs):
    out, n_rows = fragmented_logs
    before_files = _parquet_files(out)
    checks = [F.sum("event_id"), F.round(F.sum("value"), 3), F.count("*")]
    before_sum = spark.read.parquet(out).agg(*checks).collect()[0]

    compact_logs(spark, out, target_rows_per_file=max(1, n_rows // 2))

    after_files = _parquet_files(out)
    assert len(after_files) < len(before_files) / 2, (
        f"{len(before_files)} -> {len(after_files)}"
    )
    after = spark.read.parquet(out)
    assert after.count() == n_rows
    after_sum = after.agg(*checks).collect()[0]
    assert list(before_sum) == list(after_sum)
    assert not os.path.exists(os.path.join(out, "_compacting"))


def test_compact_logs_clusters_timestamp_ranges(spark, fragmented_logs):
    """Post-compaction, files inside one date partition must cover disjoint
    timestamp ranges (repartitionByRange + sortWithinPartitions) — that is
    what lets parquet min/max stats skip whole files on time-window scans.
    Pre-compaction the random flush files all overlap."""
    out, n_rows = fragmented_logs
    compact_logs(spark, out, target_rows_per_file=max(1, n_rows // 6))

    by_dir: dict[str, list[tuple]] = {}
    for f in _parquet_files(out):
        md = pq.read_metadata(f)
        idx = md.schema.names.index("timestamp")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        by_dir.setdefault(os.path.dirname(f), []).append((min(mins), max(maxs)))

    assert any(len(v) > 1 for v in by_dir.values()), "want multi-file partitions"
    for files in by_dir.values():
        files.sort()
        for (lo1, hi1), (lo2, hi2) in zip(files, files[1:]):
            assert hi1 <= lo2, f"overlapping file ranges: {hi1} > {lo2}"


def _file_stats(root: str) -> dict[str, tuple[int, int]]:
    return {
        p: (os.path.getsize(p), os.stat(p).st_mtime_ns) for p in _parquet_files(root)
    }


def test_compaction_keeps_every_row_a_live_logger_flushes(spark, tmp_path):
    """A logger keeps flushing into the tree while it is compacted: every
    row written is read back exactly once."""
    out = str(tmp_path / "logs")
    logger = SparkParquetLogger(spark, out, buffer_size=100)
    for i in range(3_000):  # 30 flush files before the compaction starts
        logger.on_llm_start({"_type": "fake"}, ["p"], run_id=f"a{i}")
    stop = threading.Event()
    live = []

    def keep_flushing():
        while not stop.is_set():
            for _ in range(100):
                logger.on_llm_start({"_type": "fake"}, ["p"], run_id=f"b{len(live)}")
                live.append(1)
            time.sleep(0.02)

    flusher = threading.Thread(target=keep_flushing)
    flusher.start()
    try:
        compact_logs(spark, out)
    finally:
        stop.set()
        flusher.join(timeout=60)
    assert not flusher.is_alive()
    logger.flush()

    written = 3_000 + len(live)
    assert len(live) >= 100, "no flush landed while the compaction ran"
    logs = spark.read.parquet(out)
    assert logs.count() == written
    assert logs.select("run_id").distinct().count() == written


def test_compacting_a_compact_tree_rewrites_nothing(spark, fragmented_logs):
    out, n_rows = fragmented_logs
    target = max(1, n_rows // 120)  # several files in most partitions
    assert compact_logs(spark, out, target_rows_per_file=target) > 0
    before = _file_stats(out)
    assert compact_logs(spark, out, target_rows_per_file=target) == 0
    assert _file_stats(out) == before


def test_compaction_rewrites_only_the_partition_that_changed(spark, fragmented_logs):
    """Two flush files land on one compacted date, which takes it past
    twice its planned file count: only that date is rewritten."""
    out, n_rows = fragmented_logs
    assert compact_logs(spark, out, target_rows_per_file=n_rows) == 1
    before = _file_stats(out)
    day = sorted(glob.glob(os.path.join(out, "date=*")))[1]
    (compacted,) = [p for p in before if os.path.dirname(p) == day]
    day_rows = pq.read_metadata(compacted).num_rows
    for name in ("flush1.parquet", "flush2.parquet"):
        pq.write_table(pq.read_table(compacted).slice(0, 1), os.path.join(day, name))

    assert compact_logs(spark, out, target_rows_per_file=n_rows) == 1
    after = _file_stats(out)
    assert {p: v for p, v in after.items() if os.path.dirname(p) != day} == {
        p: v for p, v in before.items() if os.path.dirname(p) != day
    }
    (rewritten,) = [p for p in after if os.path.dirname(p) == day]
    assert rewritten != compacted
    assert pq.read_metadata(rewritten).num_rows == day_rows + 2
    assert spark.read.parquet(out).count() == n_rows + 2


def test_compaction_leaves_a_file_being_copied_alone(spark, fragmented_logs):
    """A file still being copied in (``hadoop fs -put`` names it
    ``<name>._COPYING_``) sits in a partition that is rewritten: Spark
    does not read it, and the compaction neither reads nor deletes it."""
    out, n_rows = fragmented_logs
    day = sorted(glob.glob(os.path.join(out, "date=*")))[1]
    copying = os.path.join(day, "flush.parquet._COPYING_")
    shutil.copyfile(_parquet_files(day)[0], copying)
    size = os.path.getsize(copying)

    assert compact_logs(spark, out, target_rows_per_file=n_rows) == 1
    assert len(_parquet_files(day)) == 1
    assert os.path.getsize(copying) == size
    assert spark.read.parquet(out).count() == n_rows


def test_concurrent_compactions_write_int64_timestamps(spark, sf_dir, tmp_path):
    """Two compactions at once, on two trees Spark wrote with its INT96
    default: both write INT64 timestamps, and the caller's session keeps
    its own timestamp type."""
    events = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("timestamp"), "event_id", "user_id", "event_type", "value"
    )
    trees = [str(tmp_path / name) for name in ("a", "b")]
    ts_conf = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(ts_conf)
    for tree in trees:
        write_log(events.repartition(8), tree)
    run_concurrently(*[lambda t=t: compact_logs(spark, t) for t in trees])

    assert spark.conf.get(ts_conf) == before
    for tree in trees:
        schemas = [pq.read_metadata(f).schema for f in _parquet_files(tree)]
        assert schemas
        for s in schemas:
            assert s.column(s.names.index("timestamp")).physical_type == "INT64"
        assert spark.read.parquet(tree).count() == events.count()


@pytest.mark.parametrize("name", ["back\\slash x", "brack[et]", "brace{x}"])
def test_compaction_of_a_tree_under_a_glob_character_name(spark, sf_dir, tmp_path, name):
    """A directory name holding a Hadoop glob character is read as
    itself: compaction rewrites the tree, and the tree reads back with
    every row (read through ``glob_escaped``, as the engine reads it)."""
    events = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("timestamp"), "event_id", "user_id", "event_type", "value"
    )
    tree = str(tmp_path / name / "logs")
    write_log(events.repartition(8), tree)
    before = len(_parquet_files(tree))

    assert compact_logs(spark, tree) > 0

    assert len(_parquet_files(tree)) < before
    assert spark.read.parquet(glob_escaped(tree)).count() == events.count()


def test_date_partition_join_prunes_dynamically(spark, fragmented_logs):
    """Joining the partitioned log tree to a date dim that a filter reduces
    to one day must inject a dynamic-pruning predicate into the scan's
    PartitionFilters — at 100 TB this is the difference between reading one
    partition and reading the decade."""
    import datetime as dt

    out, _ = fragmented_logs
    logs = spark.read.parquet(out)
    days = sorted(
        dt.date.fromisoformat(os.path.basename(d).split("=", 1)[1])
        for d in glob.glob(os.path.join(out, "date=*"))
    )
    assert len(days) > 1, "fixture should span multiple date partitions"
    dim = spark.createDataFrame(
        [(d, "keep" if i == 0 else "drop") for i, d in enumerate(days)],
        "date date, tag string",
    )
    joined = (
        logs.join(dim.filter(F.col("tag") == "keep"), "date")
        .groupBy("date")
        .agg(F.count("*").alias("n"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == 1


def test_retain_partitions_drops_only_expired_dates(spark, fragmented_logs):
    from langchain_callback_parquet_logger_spark.sinks import retain_partitions

    out, n_rows = fragmented_logs
    dates = sorted(
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(out, "date=*"))
    )
    assert len(dates) > 2
    cutoff = dates[1]  # drop exactly the first partition
    expected_kept = (
        spark.read.parquet(out)
        .filter(F.col("date") >= cutoff)
        .count()
    )
    dropped = retain_partitions(spark, out, cutoff)
    assert dropped == 1
    kept_dirs = sorted(
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(out, "date=*"))
    )
    assert kept_dirs == dates[1:]
    after = spark.read.parquet(out)
    assert after.count() == expected_kept < n_rows
    # idempotent: nothing else is below the cutoff now
    assert retain_partitions(spark, out, cutoff) == 0


def test_retain_partitions_drops_null_date_partition(spark, fragmented_logs):
    """A null-date partition (``__HIVE_DEFAULT_PARTITION__``) sorts above
    every ISO date lexically (``_`` > digits) but can never satisfy the
    retention predicate ``CAST(date) >= min_date`` — retain_partitions
    must drop it, keeping the directory tree read-identical to the
    predicate the q_log_compaction oracle grades."""
    from langchain_callback_parquet_logger_spark.sinks import retain_partitions

    out, _ = fragmented_logs
    dates = sorted(
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(out, "date=*"))
    )
    cutoff = dates[0]  # every real date partition survives
    null_dir = os.path.join(out, "date=__HIVE_DEFAULT_PARTITION__")
    os.makedirs(null_dir, exist_ok=True)
    with open(os.path.join(null_dir, "placeholder"), "w") as f:
        f.write("")
    assert retain_partitions(spark, out, cutoff) == 1
    assert not os.path.exists(null_dir)
    kept = sorted(
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(out, "date=*"))
    )
    assert kept == dates


def test_q_log_compaction_read_identity_and_file_contract(spark, sf_dir, tmp_path):
    """The graded lifecycle equals the events-table rollup under the
    retention predicate, and the emitted file target matches the
    ceil(retained/target) contract."""
    from langchain_callback_parquet_logger_spark.operators import (
        maintenance as MN,
    )

    got = {
        r.log_date: r
        for r in MN.q_log_compaction(spark, sf_dir, str(tmp_path)).collect()
    }
    events = load_table(spark, sf_dir, "events").filter(
        F.to_date("ts") >= MN.RETENTION_MIN_DATE
    )
    vq = F.round(F.col("value") * 1e6).cast("bigint")
    ref = {
        r.log_date: r
        for r in events.groupBy(F.to_date("ts").alias("log_date"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum(vq) / 1e6, 2).alias("sum_value"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .collect()
    }
    assert set(got) == set(ref)
    retained = events.count()
    want_files = max(1, -(-retained // MN.COMPACT_TARGET_ROWS))
    for d, r in got.items():
        e = ref[d]
        assert (
            r.n_events,
            r.n_users,
            r.sum_value,
            r.min_ts,
            r.max_ts,
        ) == (e.n_events, e.n_users, e.sum_value, e.min_ts, e.max_ts), d
        assert r.expected_files == want_files


def test_q_incremental_rollup_equals_full_recompute(spark, sf_dir, tmp_path):
    """The merge path (stored partials of touched dates + delta partials,
    dynamic partition overwrite) must be indistinguishable from the
    from-scratch rollup over all events; the delta must be non-trivial."""
    from langchain_callback_parquet_logger_spark.operators import (
        maintenance as MN,
    )

    got = {
        (r.user_id, r.log_date): (r.n_events, r.sum_value, r.min_ts, r.max_ts)
        for r in MN.q_incremental_rollup(spark, sf_dir, str(tmp_path)).collect()
    }
    events = load_table(spark, sf_dir, "events")
    n_delta = events.filter(
        F.col("event_id") % MN.DELTA_BATCH_MOD == 0
    ).count()
    assert n_delta > 0
    vq = F.round(F.col("value") * 1e6).cast("bigint")
    ref = {
        (r.user_id, r.log_date): (r.n_events, r.sum_value, r.min_ts, r.max_ts)
        for r in events.groupBy("user_id", F.to_date("ts").alias("log_date"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(vq) / 1e6, 2).alias("sum_value"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .collect()
    }
    assert got == ref


def test_zorder_key_matches_python_interleave(spark):
    from langchain_callback_parquet_logger_spark.operators import (
        maintenance as MN,
    )

    def morton_py(a: int, b: int, bits: int = MN.ZORDER_BITS) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    cases = [(a, b) for a in (0, 1, 2, 3, 127, 128, 255) for b in (0, 1, 85, 170, 255)]
    df = spark.createDataFrame(cases, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", MN.zorder_key(F.col("a"), F.col("b")).alias("z")
        ).collect()
    }
    for a, b in cases:
        assert got[(a, b)] == morton_py(a, b), (a, b)
    # locality sanity: adjacent a values share high-order z prefix more
    # often than distant ones
    assert morton_py(4, 4) < morton_py(255, 255)


def test_q_zorder_layout_read_identity(spark, sf_dir, tmp_path):
    """Graded z-order rewrite preserves content exactly (the skipping
    contract is asserted inside the query)."""
    from langchain_callback_parquet_logger_spark.operators import (
        maintenance as MN,
    )

    got = {
        r.user_id: (r.n_events, r.sum_value, r.min_ts, r.max_ts)
        for r in MN.q_zorder_layout(spark, sf_dir, str(tmp_path)).collect()
    }
    events = load_table(spark, sf_dir, "events")
    vq = F.round(F.col("value") * 1e6).cast("bigint")
    ref = {
        r.user_id: (r.n_events, r.sum_value, r.min_ts, r.max_ts)
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(vq) / 1e6, 2).alias("sum_value"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .collect()
    }
    assert got == ref and got
