"""Data-mixing + warehouse-maintenance example: scrub → mixture-resample →
write date-partitioned logs the way the reference's flush cadence does
(many small files) → compact into range-clustered files.

Every stage is the operator a 100 TB pipeline runs: regex scrub and
hash-bucket sampling are scan-side (no shuffle), and the rate config is a
broadcast dim. Compaction rewrites only the partitions holding more
than twice ceil(rows / target) files, in one shuffle; it publishes the
new files before it deletes the inputs it read, so readers may briefly
see a row twice and a crash in between leaves duplicate rows, never
lost ones.
"""

from __future__ import annotations

import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from langchain_callback_parquet_logger_spark import compact_logs, get_spark, load_table, write_log
from langchain_callback_parquet_logger_spark.operators.pipeline import mixture_sample
from langchain_callback_parquet_logger_spark.operators.text import redact, redaction_count

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
MIX = {"en": 50, "de": 100, "fr": 25}  # keep-% per language; others dropped


def main() -> None:
    spark = get_spark("example-mixing")

    docs = load_table(spark, SF_DIR, "documents")
    scrubbed = docs.select(
        "doc_id", "lang", redact(F.col("text")).alias("text"),
        redaction_count(F.col("text")).alias("n_redactions"),
    )
    mixed = mixture_sample(scrubbed, F.col("doc_id"), "lang", MIX)
    print("mixture kept per lang:")
    mixed.groupBy("lang").count().orderBy("lang").show()

    events = load_table(spark, SF_DIR, "events").select(
        F.col("ts").alias("timestamp"), "event_id", "user_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "logs")
        # many tiny flush files, like the reference's buffer-per-file write
        write_log(events.repartition(16), out)
        n_before = len(glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True))
        compact_logs(spark, out, target_rows_per_file=500_000)
        n_after = len(glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True))
        print(f"compaction: {n_before} files -> {n_after}")
        assert spark.read.parquet(out).count() == events.count()

    spark.stop()


if __name__ == "__main__":
    main()
