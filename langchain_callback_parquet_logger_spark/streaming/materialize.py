"""Incremental materialized rollup: a streaming foreachBatch merge-upsert
into a plain-parquet aggregate table.

This generalizes the reference's checkpoint pattern (read → append →
dedup → overwrite, background_retrieval.py:352-366 in /root/reference)
from a processed-id set to arbitrary additive aggregates: each micro-batch
contributes partial (count, sum) rows that merge with the existing table
by key. Additive merge means the view never rescans history — the cost
per batch is the batch, not the table.

Exactly-once: foreachBatch can re-deliver a batch after a crash, and a
naive merge would double-count it. The applied batch id is persisted
beside the table (`_last_batch` file) and re-deliveries are skipped —
the standard idempotent-foreachBatch recipe. The table flip itself is a
two-phase directory swap (``_swap_dirs``); at warehouse scale both the
merge and the flip collapse into a table format's MERGE INTO + atomic
commit.

Scale: the merge is (existing ⋈ delta) on the rollup key — both sides are
one row per key, orders of magnitude smaller than the event stream; the
delta aggregation inside each batch is a normal two-phase hash aggregate.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.session import glob_escaped


def _meta_path(table_path: str) -> str:
    return table_path.rstrip("/") + "._last_batch"


def _last_applied(table_path: str) -> int:
    try:
        with open(_meta_path(table_path)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return -1


def _swap_dirs(spark: SparkSession, src_path: str, dst_path: str) -> None:
    """Promote ``src_path`` to ``dst_path`` via rename, staging the old
    tree aside and rolling back on failure. Works on any Hadoop scheme."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    dst = jvm.org.apache.hadoop.fs.Path(dst_path)
    src = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = dst.getFileSystem(hconf)
    old = jvm.org.apache.hadoop.fs.Path(dst_path.rstrip("/") + ".swap-old")
    if fs.exists(old):
        fs.delete(old, True)
    had_dst = fs.exists(dst)
    if had_dst and not fs.rename(dst, old):
        raise IOError(f"swap_dirs: could not stage {dst_path} aside")
    if not fs.rename(src, dst):
        if had_dst:
            fs.rename(old, dst)  # roll back
        raise IOError(f"swap_dirs: could not promote {src_path} to {dst_path}")
    fs.delete(old, True)


def merge_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    keys: Sequence[str],
    value_col: str = "value",
) -> None:
    """Merge one micro-batch's partial aggregates into the parquet rollup.
    Idempotent per batch_id; additive on (n, total)."""
    if batch_id <= _last_applied(table_path):
        return  # re-delivered batch: already folded in
    spark = batch_df.sparkSession
    delta = batch_df.groupBy(*keys).agg(
        F.count("*").alias("n"), F.sum(value_col).alias("total")
    )
    if os.path.exists(table_path):
        existing = spark.read.parquet(glob_escaped(table_path))
        merged = (
            existing.unionByName(delta)
            .groupBy(*keys)
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        )
    else:
        merged = delta
    tmp = table_path.rstrip("/") + ".merge-tmp"
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    _swap_dirs(spark, tmp, table_path)
    with open(_meta_path(table_path), "w") as f:
        f.write(str(batch_id))


def maintain_rollup(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    keys: Sequence[str] = ("event_type",),
    value_col: str = "value",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming maintenance of the rollup table."""
    writer = events.writeStream.foreachBatch(
        lambda df, bid: merge_rollup_batch(df, bid, table_path, keys, value_col)
    ).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
