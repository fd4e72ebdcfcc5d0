"""S1/S2 as Structured Streaming: unbounded event stream → micro-batch
partitioned parquet, exactly-once.

The reference's streaming story (SURVEY.md §2.8) is a size-based in-memory
buffer flushed to parquet — at-most-once (buffer lost on hard crash,
logger.py:418-440). Spark's micro-batch trigger IS that operator, upgraded:
the file-sink commit log + checkpoint give exactly-once, and the trigger
replaces the buffer threshold:

- ``availableNow`` — drain everything pending then stop (batch-like runs);
- ``processingTime='N seconds'`` — continuous micro-batching (live tail).

The transform between source and sink is the SAME ``normalize_events`` the
batch path uses — one declarative pipeline, three execution modes (live
callback, batch job, stream).

The stream writes one checkpointed file sink. Multi-sink fan-out (S7,
reference storage.py:113-127) is the live logger's ``CompositeSink``; a
foreachBatch fan-out would not be exactly-once, because a replayed epoch
appends its rows to every sink again.
"""

from __future__ import annotations

from typing import Iterable, Literal, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..ingest import RAW_EVENT_DDL, normalize_events
from ..operators.queries import SESSION_GAP_US
from ..plans.session import glob_escaped


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source over an ingest directory. A live callback
    producer (e.g. SparkParquetLogger in a separate process) appends
    json/parquet files; this side tails them. ``maxFilesPerTrigger`` is the
    streaming analog of the reference's buffer_size knob."""
    reader = spark.readStream.schema(RAW_EVENT_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(source_dir)


def stream_to_log(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    logger_metadata: Mapping[str, object] | None = None,
    event_types: Iterable[str] | None = None,
    trigger: Literal["availableNow"] | str = "availableNow",
    partition_on: Literal["date"] | None = "date",
) -> StreamingQuery:
    """Normalize + write the stream as date-partitioned parquet,
    exactly-once via the checkpointed file sink."""
    normalized = normalize_events(
        events, logger_metadata=logger_metadata, event_types=event_types
    )
    if partition_on == "date":
        normalized = normalized.withColumn("date", F.to_date("timestamp"))

    writer = (
        normalized.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if partition_on == "date":
        writer = writer.partitionBy("date")
    if trigger == "availableNow":
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def stream_progress(query: StreamingQuery) -> dict:
    """A2/D9 — batch-size and progress counting (reference batch.py:62-79,
    background_retrieval.py:342): rows-ingested and micro-batch counters
    come free from the StreamingQuery progress feed; no custom counters,
    no tqdm — on a cluster the same numbers land in the Spark UI and any
    registered StreamingQueryListener."""
    total = 0
    batches = 0
    for p in query.recentProgress or []:
        total += int(p.get("numInputRows", 0) or 0)
        batches += 1
    return {"num_input_rows": total, "micro_batches": batches}


class ProgressLogger:
    """D9 — progress DISPLAY, Spark-first (reference batch.py:62-79 renders
    a tqdm bar on the driver's stdout — meaningless on a cluster). Here a
    ``StreamingQueryListener`` captures every micro-batch's progress event;
    ``flush_to_log`` lands them in the SAME 7-column log table as every
    other event (event_type='stream_progress', payload = the engine's own
    progress JSON), so progress is queryable next to the data it describes
    and visible from any node, not one terminal.

    Implemented by composition (the listener is built lazily) because
    PySpark's StreamingQueryListener ABC requires a running session at
    subclass-instantiation time."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []
        self._listener = None

    def listener(self):
        import datetime as _dt
        import json as _json

        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 — Spark API
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                ts = _dt.datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")
                )
                outer.rows.append(
                    (
                        ts,
                        str(p.id),
                        "",
                        "",
                        "stream_progress",
                        "{}",
                        _json.dumps(
                            {
                                "batch_id": p.batchId,
                                "num_input_rows": p.numInputRows,
                                "name": p.name or "",
                            }
                        ),
                    )
                )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        if self._listener is None:
            self._listener = _L()
        return self._listener

    def attach(self, spark: SparkSession) -> "ProgressLogger":
        spark.streams.addListener(self.listener())
        return self

    def detach(self, spark: SparkSession) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)

    def flush_to_log(self, spark: SparkSession, log_dir: str) -> int:
        """Write captured progress rows into the log table; returns the
        count. Timestamps come from the engine's progress events — no
        wall-clock reads in the plan."""
        from ..schema import LOG_SCHEMA
        from ..sinks import write_log

        rows, self.rows = self.rows, []
        if rows:
            write_log(spark.createDataFrame(rows, LOG_SCHEMA), log_dir)
        return len(rows)


def q_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end in the graded surface: the events
    table is consumed as a FILE STREAM (not a batch scan), tumbling
    1-hour event-time windows with a watermark aggregate it, the result
    lands in a memory sink via an availableNow trigger, and the finished
    sink table is returned. Semantically identical to the batch
    date_trunc-hour rollup, so it gets a full value-level oracle — the
    exactly-once upgrade over the reference's buffer flush
    (logger.py:418-440) demonstrated on real data.

    Scale: the same plan runs unchanged with a directory of arriving files
    and trigger=processingTime; state is bounded by the watermark."""
    stream = _event_stream(spark, sf_dir)
    counts = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
    )
    sink = drain(spark, counts, "q_stream_hourly_counts_sink", "complete")
    return spark.table(sink).select(
        F.col("w.start").alias("hour_start"),
        "event_type",
        "n",
    )


ORACLE_STREAM_HOURLY_COUNTS = """
SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` on the stream keeps the
    first arrival per (user_id, event_type) in the state store — the
    exactly-once streaming upgrade of the reference's processed-id set
    (background_retrieval.py:102-144). Only the dedup keys are projected,
    so which physical row survives is immaterial and the drained result
    equals batch DISTINCT — giving the stateful operator a full value
    oracle. The follow-up rollup counts distinct users per event type.

    Scale: state is one entry per live key; with a watermark
    (dropDuplicatesWithinWatermark) state is evicted after the lateness
    horizon, bounding it for unbounded streams."""
    stream = (
        _event_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return (
        spark.table(drain(spark, stream, "q_stream_dedup_sink", "append"))
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


ORACLE_STREAM_DEDUP = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events table (shared by the q_stream_* set)."""
    from ..plans.session import normalize_ts, pin_oracle_confs

    # UTC + nanosAsLong, same as load_table: a q_stream_* query may be the
    # FIRST read in an externally-created session, and normalize_ts's
    # timestamp_ntz→timestamp cast plus downstream window()/to_date render
    # in the session zone — a non-UTC zone would shift every event time
    # versus the oracle.
    pin_oracle_confs(spark)
    return normalize_ts(_table_stream(spark, sf_dir, "events"))


def _table_stream(spark: SparkSession, sf_dir: str, name: str, **options) -> DataFrame:
    """File-stream over the table ``name``. Both layouts work: a
    ``<name>.parquet/`` DIRECTORY of part files (what any distributed
    writer produces — streamed directly), or a single ``<name>.parquet``
    FILE (driver testdata — streaming sources require a directory base,
    so the parent is streamed with a name glob).

    Streaming sources need a user-supplied schema. This is the one
    load_table reads with (inferred from the footers once per file
    version), so the stream follows whatever physical ts encoding the
    generator used (nanos-as-long vs TIMESTAMP_NTZ; see normalize_ts)."""
    import os

    from ..plans.session import _parquet_schema, table_path

    path = table_path(sf_dir, name)
    reader = spark.readStream.schema(_parquet_schema(spark, path)).options(**options)
    if os.path.isdir(path):
        return reader.parquet(glob_escaped(path))
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(
        glob_escaped(sf_dir)
    )


def drain(spark: SparkSession, frame: DataFrame, name: str, mode: str) -> str:
    """Run the streaming ``frame`` to completion into the memory sink
    ``name`` (``availableNow`` trigger, output mode ``mode``) and return
    ``name`` for ``spark.table``.

    The state partition count is fixed at the stream's first checkpoint;
    a one-file drain wants few fat state partitions (each carries a
    state-store provider), so the shuffle width is scoped to the drain."""
    from ..plans.session import scoped_conf

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        query = (
            frame.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return name


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same user's
    clicks in the trailing hour — the streaming form of the banded range
    join (operators/temporal.py), built on Spark's watermarked symmetric
    hash join. Both sides carry watermarks and the join predicate carries
    the event-time band, so the state store evicts rows once they can no
    longer match — bounded state on unbounded streams, the thing the
    reference's buffer (logger.py:418-440) could never express.

    The availableNow drain over a static table equals the batch interval
    join, so this stateful operator gets a full value oracle."""
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    return (
        spark.table(drain(spark, joined, "q_stream_join_sink", "append"))
        .groupBy("purchase_id")
        .agg(F.count("*").alias("n_clicks_1h"))
    )


ORACLE_STREAM_JOIN = """
SELECT p.event_id AS purchase_id, COUNT(*) AS n_clicks_1h
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000::BIGINT
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY 1
"""


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization with Spark's NATIVE session_window — the
    built-in counterpart of the custom applyInPandasWithState operator
    (q_stream_sessionize): dynamic-gap windows merge as events arrive,
    state closes once the watermark passes a session's end. Same
    semantics, zero custom code — the comparison point that justifies
    when a custom stateful operator is actually needed (running
    cumulative counts; the built-in emits only closed sessions).

    Drained availableNow over a static table, every session closes, so
    per-user session/event totals equal the batch lag-based rollup —
    full value oracle."""
    stream = _event_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    sessions = stream.groupBy(
        F.col("user_id"), F.session_window("ts", "30 minutes")
    ).agg(F.count("*").alias("n_events"))
    sink = drain(spark, sessions, "q_stream_session_window_sink", "complete")
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )


# Same fixpoint as the lag-based batch sessionization: a session break is
# a gap strictly greater than 30 minutes (session_window treats an event
# exactly at gap distance as extending the session).
ORACLE_STREAM_SESSION_WINDOW = f"""
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""


def q_stream_incremental_dedup(
    spark: SparkSession, sf_dir: str, verdict_dir: str | None = None
) -> DataFrame:
    """STREAM-STATIC incremental dedup — the live-ingest form of
    operators/dedup.q_incremental_dedup: documents arrive as a file
    stream, and each micro-batch is deduped against the STATIC corpus
    LSH band index via foreachBatch (batch-side MinHash signatures for
    the arriving docs, equi-join on (band_id, band_key) against the
    cached index, exact-Jaccard verify, append verdicts to the sink).

    ``verdict_dir`` is the sink location for the per-epoch verdict
    tables. On a cluster it MUST be shared storage (s3a://, hdfs://, a
    mounted checkpoint volume) — executors write the parquet files, the
    driver lists and reads them back, so a driver-local path only works
    in local mode. When omitted (local mode / tests), a scratch temp
    directory is used and REMOVED before returning: the verdict frame
    is localCheckpoint-materialized into executor block storage first,
    so the returned DataFrame never depends on the deleted files.

    Scale: the static index is computed ONCE (cached, in production the
    stored signature table) and every micro-batch pays only its own
    signature scan plus collisions — ingest-rate work, corpus-size state
    never rebuilt. The availableNow drain replays the whole table, making
    the result exactly the batch operator's output, so it carries the
    same full value oracle.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql import DataFrame as BatchDF

    from ..operators.dedup import (
        INCREMENTAL_BATCH_MOD,
        JACCARD_THRESHOLD,
        jaccard,
        lsh_bands,
        minhash_frame,
        signatures_of,
    )
    from ..plans.session import cache_tracked, load_table, scoped_conf

    docs = load_table(spark, sf_dir, "documents")  # also pins oracle confs
    is_new = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
    corpus = docs.filter(~is_new)
    # Static side, computed once and cached: the corpus' kernel frame,
    # read as its band index and its shingle sets (in production: the
    # stored index tables).
    corpus_frame = cache_tracked(minhash_frame(corpus))
    corpus_bands = lsh_bands(signatures_of(corpus_frame)).select(
        "band_id", "band_key", F.col("doc_id").alias("corpus_doc_id")
    )
    corpus_sh = corpus_frame.select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("sh").alias("sh_c")
    )

    src = _table_stream(spark, sf_dir, "documents", maxFilesPerTrigger="1")

    # Per-batch verdicts go to a parquet sink, one `epoch=<id>` directory
    # per micro-batch: overwrite of the SAME directory on foreachBatch
    # re-delivery makes the write idempotent (the recipe materialize.py
    # uses for its rollup table), and driver memory stays flat no matter
    # how duplicate-rich the ingest is — the verdicts never pass through
    # the driver at all.
    scratch = verdict_dir is None
    out_dir = (
        tempfile.mkdtemp(prefix="stream_dedup_verdicts_") if scratch else verdict_dir
    )
    verdict_schema = "new_doc_id bigint, n_corpus_dups bigint, best_jaccard double"

    def _dedup_batch(batch_df: BatchDF, epoch_id: int) -> None:
        # the batch's kernel frame feeds its band keys and its verify
        # leg: cached for this epoch's write only
        new_frame = minhash_frame(batch_df.filter(is_new)).persist()
        nb = lsh_bands(signatures_of(new_frame)).select(
            "band_id", "band_key", F.col("doc_id").alias("new_doc_id")
        )
        cand = (
            nb.join(corpus_bands, ["band_id", "band_key"])
            .select("new_doc_id", "corpus_doc_id")
            .distinct()
        )
        verified = (
            cand.join(
                new_frame.select(
                    F.col("doc_id").alias("new_doc_id"), F.col("sh").alias("sh_n")
                ),
                "new_doc_id",
            )
            .join(corpus_sh, "corpus_doc_id")
            .select(
                "new_doc_id",
                F.round(jaccard(F.col("sh_n"), F.col("sh_c")), 6).alias("j"),
            )
            .filter(F.col("j") >= JACCARD_THRESHOLD)
            .groupBy("new_doc_id")
            .agg(
                F.count("*").alias("n_corpus_dups"),
                F.max("j").alias("best_jaccard"),
            )
        )
        try:
            verified.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"epoch={int(epoch_id)}")
            )
        finally:
            new_frame.unpersist()

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        query = (
            src.writeStream.foreachBatch(_dedup_batch)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    epoch_dirs = [
        os.path.join(out_dir, d)
        for d in sorted(os.listdir(out_dir))
        if d.startswith("epoch=")
    ]
    if not epoch_dirs:  # zero micro-batches fired (empty source)
        if scratch:
            shutil.rmtree(out_dir, ignore_errors=True)
        return spark.createDataFrame([], verdict_schema)
    verdicts = spark.read.schema(verdict_schema).parquet(*map(glob_escaped, epoch_dirs))
    if scratch:
        # Scratch sink: pin the (small, dup-count-sized) verdict frame
        # into executor block storage so the temp files can be removed
        # now instead of leaking until process exit. A caller-supplied
        # verdict_dir is the caller's table — leave it on disk, lazy.
        verdicts = verdicts.localCheckpoint(eager=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    return verdicts


def _oracle_stream_incremental_dedup() -> str:
    # availableNow drains the full table, so the streaming result equals
    # the batch operator's output exactly — same oracle.
    from ..operators.dedup import _oracle_incremental_dedup

    return _oracle_incremental_dedup()


def q_stream_quality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous data-quality monitoring — the streaming twin of
    ``operators.pipeline.q_data_quality_checks``: per tumbling 1-hour
    event-time window, completeness and enum-containment metrics as
    integer ppm, computed ON THE STREAM (watermarked windowed
    conditional aggregates, all decomposable — count + conditional sum
    merge associatively in the state store). The availableNow drain
    equals the batch date_trunc-hour rollup, so the stateful operator
    carries a full value oracle like its q_stream_* siblings.

    Scale: identical plan against a live file/Kafka source with a
    processing-time trigger; state is one row per open window, evicted
    by the watermark — the quality dashboard a 100 TB ingest watches
    instead of re-scanning admitted batches."""
    from ..operators.analytic import EVENT_TYPES

    enum_list = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    stream = _event_stream(spark, sf_dir)
    checks = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.count("value").alias("nn_value"),
            F.expr(
                f"sum(CASE WHEN event_type IN ({enum_list}) "
                f"THEN 1 ELSE 0 END)"
            ).alias("enum_ok"),
        )
    )
    sink = drain(spark, checks, "q_stream_quality_monitor_sink", "complete")
    return spark.table(sink).select(
        F.col("w.start").alias("hour_start"),
        "n",
        F.expr("(1000000 * nn_value) div n").alias("completeness_ppm"),
        F.expr("(1000000 * enum_ok) div n").alias("containment_ppm"),
    )


def _oracle_stream_quality_monitor() -> str:
    from ..operators.analytic import EVENT_TYPES

    enum_list = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    return f"""
SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n,
       CAST((1000000 * COUNT(value)) // COUNT(*) AS BIGINT)
         AS completeness_ppm,
       CAST((1000000 * SUM(CASE WHEN event_type IN ({enum_list})
            THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS containment_ppm
FROM events GROUP BY 1
"""


QUERIES = {
    "q_stream_hourly_counts": q_stream_hourly_counts,
    "q_stream_dedup": q_stream_dedup,
    "q_stream_join": q_stream_join,
    "q_stream_session_window": q_stream_session_window,
    "q_stream_incremental_dedup": q_stream_incremental_dedup,
    "q_stream_quality_monitor": q_stream_quality_monitor,
}

ORACLES = {
    "q_stream_hourly_counts": ORACLE_STREAM_HOURLY_COUNTS,
    "q_stream_dedup": ORACLE_STREAM_DEDUP,
    "q_stream_join": ORACLE_STREAM_JOIN,
    "q_stream_session_window": ORACLE_STREAM_SESSION_WINDOW,
    "q_stream_incremental_dedup": _oracle_stream_incremental_dedup(),
    "q_stream_quality_monitor": _oracle_stream_quality_monitor(),
}


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Beyond-parity: event-time windowed rollup with late-data handling —
    the capability the reference lacks entirely (SURVEY.md §2.8). Feed any
    raw event stream; aggregates count per (window, event_type) with a
    watermark bounding state."""
    return (
        events.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", window), F.col("event_type"))
        .agg(F.count("*").alias("n"))
    )
