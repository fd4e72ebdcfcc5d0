"""D7/S11/A4/A5 — checkpoint/resume for long-running batch retrieval.

The reference's ``retrieve_background_responses``
(background_retrieval.py:51-366 in /root/reference) polls an external API
for queued responses, skipping rows already recorded in a checkpoint
parquet, retrying with backoff, and periodically rewriting the checkpoint
with keep-last dedup.

Spark realization (SURVEY.md §3.3):
- the processed-set skip is a **broadcast left-anti join** (the reference's
  only join, A5/J1) — the big input never shuffles;
- checkpoint accumulation is union + **window keep-last dedup** with an
  explicit ``updated_at`` ordering column — the reference relies on
  pd.concat order (background_retrieval.py:360-362) which has no meaning in
  a distributed engine, so the ordering is made explicit (SURVEY.md §7
  hard #2);
- the retrieval call itself (retry/backoff/rate-limit, D6) runs inside the
  async batch map (batchmap.py), never in the plan.

At real scale the overwrite-checkpoint pattern would become a Delta/Iceberg
MERGE; plain parquet overwrite matches the reference's semantics.
"""

from __future__ import annotations

import datetime as dt
from typing import Awaitable, Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .batchmap import ColumnConfig, RetryConfig, batch_run
from .plans.session import glob_escaped
from .schema import CHECKPOINT_SCHEMA


def load_checkpoint(spark: SparkSession, path: str) -> DataFrame:
    """Read the checkpoint table; empty frame with the right schema if absent
    (reference background_retrieval.py:102-118)."""
    try:
        df = spark.read.parquet(glob_escaped(path))
        missing = [f.name for f in CHECKPOINT_SCHEMA.fields if f.name not in df.columns]
        for name in missing:
            df = df.withColumn(name, F.lit(None).cast(dict(
                (f.name, f.dataType) for f in CHECKPOINT_SCHEMA.fields)[name]))
        return df.select([f.name for f in CHECKPOINT_SCHEMA.fields])
    except Exception:
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)


def dedup_keep_last(df: DataFrame, key: str = "response_id", order: str = "updated_at") -> DataFrame:
    """A4 — keep the latest row per key, deterministically: order by the
    explicit ordering column, tie-break on processed DESC then error."""
    w = W.partitionBy(key).orderBy(F.col(order).desc(), F.col("processed").desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def filter_unprocessed(
    df: DataFrame, checkpoint: DataFrame, id_col: str = "response_id"
) -> DataFrame:
    """A5/J1 — drop rows whose id is already processed in the checkpoint.
    Broadcast anti-join: checkpoint is small relative to the input."""
    done = checkpoint.filter(F.col("processed")).select(id_col)
    keyed = df.withColumn(id_col, F.col(id_col).cast("string"))
    return keyed.join(F.broadcast(done), id_col, "left_anti")


def save_checkpoint(
    spark: SparkSession,
    path: str,
    new_entries: DataFrame,
    existing: DataFrame | None = None,
) -> None:
    """S11 — append new entries, keep-last dedup, overwrite atomically.

    The union is checkpointed to pandas-free local storage via a staging
    write: Spark cannot overwrite a parquet dir it is concurrently reading,
    so the merged frame is materialized first (localCheckpoint) and then
    written with mode=overwrite."""
    if existing is None:
        existing = load_checkpoint(spark, path)
    merged = dedup_keep_last(existing.unionByName(new_entries))
    materialized = merged.localCheckpoint(eager=True)
    materialized.write.mode("overwrite").parquet(path)


def checkpoint_entries(
    results: DataFrame, updated_at: dt.datetime, id_col: str = "response_id"
) -> DataFrame:
    """Shape a batch-map result frame into checkpoint rows. ``updated_at``
    is passed in as data — no wall-clock reads inside the plan."""
    return results.select(
        F.col(id_col).cast("string").alias("response_id"),
        (F.col("status") == "ok").alias("processed"),
        F.col("error").alias("error"),
        F.lit(updated_at).cast("timestamp").alias("updated_at"),
    )


def audit_events(
    pending: DataFrame,
    results: DataFrame,
    updated_at: dt.datetime,
    id_col: str = "response_id",
    custom_id_col: str = "custom_id",
) -> DataFrame:
    """Shape the retrieval run into the reference's three audit event types
    flowing into the 7-column log table: one ``background_retrieval_attempt``
    per pending row (reference background_retrieval.py:146-159), one
    ``background_retrieval_complete`` per success (ibid:185-201), one
    ``background_retrieval_error`` per exhausted failure (ibid:249-267).

    Declarative, set-based: the trail is derived from the pending/results
    frames rather than logged call-by-call inside the async map — no logger
    object rides to executors and the events get Spark's write path
    (partitioned parquet) like every other log row."""
    import json

    meta = F.lit(json.dumps({"source": "retrieve_with_checkpoint"}))
    ts = F.lit(updated_at).cast("timestamp")
    when = F.lit(updated_at.isoformat())

    def envelope(frame: DataFrame, event_type: str, payload) -> DataFrame:
        cid = (
            F.coalesce(F.col(custom_id_col).cast("string"), F.lit(""))
            if custom_id_col in frame.columns
            else F.lit("")
        )
        return frame.select(
            ts.alias("timestamp"),
            F.lit("").alias("run_id"),
            F.lit("").alias("parent_run_id"),
            cid.alias("custom_id"),
            F.lit(event_type).alias("event_type"),
            meta.alias("logger_metadata"),
            F.to_json(payload).alias("payload"),
        )

    rid = F.col(id_col).alias("response_id")
    attempts = envelope(
        pending,
        "background_retrieval_attempt",
        F.struct(rid, when.alias("attempt_time")),
    )
    # results carry only (id, result, status, error); custom_id rides back
    # in via an equi-join on the id (J3 — never positional). No broadcast
    # hint: both sides are the pending-row cardinality, so AQE picks the
    # strategy (broadcast at test sizes, shuffle join at scale).
    keyed_ids = (
        pending.select(id_col, custom_id_col)
        if custom_id_col in pending.columns
        else pending.select(id_col)
    )
    res = results.join(keyed_ids, id_col, "left")
    completes = envelope(
        res.filter(F.col("status") == "ok"),
        "background_retrieval_complete",
        F.struct(
            rid,
            F.col("result").alias("response"),
            F.lit("completed").alias("status"),
            when.alias("retrieval_time"),
        ),
    )
    errors = envelope(
        res.filter(F.col("status") == "error"),
        "background_retrieval_error",
        F.struct(
            rid,
            F.col("error").alias("error"),
            F.lit("failed").alias("status"),
            when.alias("failure_time"),
        ),
    )
    return attempts.unionByName(completes).unionByName(errors)


def retrieve_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    fn: Callable[[dict], Awaitable[object]],
    checkpoint_path: str,
    updated_at: dt.datetime,
    id_col: str = "response_id",
    max_concurrency: int = 50,
    retry: RetryConfig | None = None,
    audit_log_dir: str | None = None,
    custom_id_col: str = "custom_id",
) -> DataFrame:
    """End-to-end resume loop (reference background_retrieval.py:272-347):
    load checkpoint → anti-join out processed rows → async retrieve with
    retry → merge results back into the checkpoint → return results.

    Already-processed rows are reported with status='already_processed'
    (reference background_retrieval.py:133-144) without re-invoking fn.
    With ``audit_log_dir`` set, the attempt/complete/error audit trail is
    written to the log table (see :func:`audit_events`)."""
    if id_col not in df.columns:
        raise ValueError(f"missing required column {id_col!r}")

    # Materialize the prior checkpoint now: it is consumed again (for the
    # already_processed branch) AFTER save_checkpoint overwrites its files,
    # and a lazy scan would read deleted parts.
    checkpoint = load_checkpoint(spark, checkpoint_path).localCheckpoint(eager=True)
    keyed = df.withColumn(id_col, F.col(id_col).cast("string"))
    pending = filter_unprocessed(keyed, checkpoint, id_col)

    cols = ColumnConfig(id=id_col, prompt=id_col)
    results = batch_run(
        pending, fn, max_concurrency=max_concurrency, columns=cols,
        retry=retry or RetryConfig(),
    )
    # Persist before the double use (checkpoint write + return) so the async
    # map runs once, and the overwrite below cannot race the read.
    results = results.localCheckpoint(eager=True)

    save_checkpoint(
        spark,
        checkpoint_path,
        checkpoint_entries(results, updated_at, id_col),
        existing=checkpoint,
    )

    if audit_log_dir is not None:
        from .sinks import write_log

        write_log(
            audit_events(pending, results, updated_at, id_col, custom_id_col),
            audit_log_dir,
        )

    done = checkpoint.filter(F.col("processed")).select(
        F.col("response_id").alias(id_col)
    )
    skipped = keyed.join(F.broadcast(done), id_col, "left_semi").select(
        F.col(id_col),
        F.lit(None).cast("string").alias("result"),
        F.lit("already_processed").alias("status"),
        F.lit(None).cast("string").alias("error"),
    )
    return results.unionByName(skipped)
