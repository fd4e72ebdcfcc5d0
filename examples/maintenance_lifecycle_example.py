"""Nightly warehouse maintenance session: the ops crontab a 100 TB log
deployment actually runs, end-to-end on one scratch log tree.

1. land      — write the day's events the way the reference flushes them
               (one small parquet file per buffer fill → fragmented tree).
2. retain    — drop expired date partitions (directory-only, no data read;
               runs FIRST so compaction never rewrites expiring bytes).
3. compact   — rewrite each fragmented date partition into ~target-row
               files range-clustered on (date, timestamp); parquet
               min/max stats keep time-window scans file-skipping.
4. z-order   — cluster a second copy on the Morton key of (user, hour) and
               show the footer-level skipping advantage for user probes.
5. refresh   — incremental materialized-view update: merge a delta batch's
               partial aggregates into the stored per-(user, date) rollup
               via dynamic partition overwrite (touched dates only).

Reference provenance: the fragmentation is the flush cadence of
/root/reference/langchain_callback_parquet_logger/logger.py:418-470; the
maintenance ops are what any deployment must add around it.
"""

from __future__ import annotations

import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from langchain_callback_parquet_logger_spark import get_spark
from langchain_callback_parquet_logger_spark.operators import (
    maintenance as mn,
)
from langchain_callback_parquet_logger_spark.plans.session import load_table
from langchain_callback_parquet_logger_spark.sinks import (
    compact_logs,
    retain_partitions,
    write_log,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def census(root: str) -> int:
    return len(
        [
            p
            for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
            if os.path.isfile(p)
        ]
    )


def main() -> None:
    spark = get_spark("example-maintenance")
    work = tempfile.mkdtemp(prefix="maintenance_lifecycle_")
    logs = os.path.join(work, "logs")

    events = load_table(spark, SF_DIR, "events").select(
        F.col("ts").alias("timestamp"),
        "event_id",
        "user_id",
        "event_type",
        "value",
    )

    print("1. landing fragmented log tree (reference flush cadence):")
    write_log(events.repartition(24), logs, mode="overwrite")
    print(f"   {census(logs)} files")

    print(f"2. retention: dropping dates before {mn.RETENTION_MIN_DATE}:")
    dropped = retain_partitions(spark, logs, mn.RETENTION_MIN_DATE)
    print(f"   {dropped} partitions dropped, {census(logs)} files remain")

    print("3. compaction (range-clustered on (date, timestamp)):")
    n_files = compact_logs(
        spark, logs, target_rows_per_file=mn.COMPACT_TARGET_ROWS
    )
    print(f"   planned {n_files} range partitions -> {census(logs)} files")

    print("4. z-order layout (Morton key over (user, hour) buckets):")
    rollup = mn.q_zorder_layout(spark, SF_DIR, os.path.join(work, "zorder"))
    print(f"   skipping contract held; {rollup.count()} users in read-back")

    print("5. incremental MV refresh (dynamic partition overwrite):")
    mv = mn.q_incremental_rollup(spark, SF_DIR, os.path.join(work, "mv"))
    print(f"   {mv.count()} (user, date) rows, untouched partitions intact")

    spark.stop()


if __name__ == "__main__":
    main()
