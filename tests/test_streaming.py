"""Streaming ingest: availableNow drain → exactly-once partitioned parquet;
restart produces no duplicates; windowed agg runs with watermark."""

from __future__ import annotations

import json
import os

import pytest

from langchain_callback_parquet_logger_spark.streaming.ingest import (
    read_event_stream,
    stream_to_log,
    windowed_event_counts,
)

ALL_TYPES = ["llm_start", "llm_end", "chain_start"]


def _write_source_batch(tmp_path, n0: int, n: int) -> None:
    src = tmp_path / "incoming"
    src.mkdir(exist_ok=True)
    rows = [
        {
            "timestamp": f"2024-01-0{1 + (i % 2)}T10:00:{i % 60:02d}.000Z",
            "run_id": f"r{i}",
            "parent_run_id": None,
            "event_type": ALL_TYPES[i % len(ALL_TYPES)],
            "tags": [f"logger_custom_id:c{i}"],
            "metadata": {"i": str(i)},
            "data": json.dumps({"prompts": [f"p{i}"]}),
            "raw": None,
        }
        for i in range(n0, n0 + n)
    ]
    with open(src / f"batch_{n0}.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_drain_exactly_once(spark, tmp_path):
    _write_source_batch(tmp_path, 0, 12)
    events = read_event_stream(spark, str(tmp_path / "incoming"))
    q = stream_to_log(
        events,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        event_types=ALL_TYPES,
    )
    q.awaitTermination(120)
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 12
    assert {r.custom_id for r in back.select("custom_id").collect()} == {
        f"c{i}" for i in range(12)
    }
    # date partitioning from event time
    dirs = {p.name for p in (tmp_path / "out").iterdir() if p.name.startswith("date=")}
    assert dirs == {"date=2024-01-01", "date=2024-01-02"}

    # restart with NEW data only → no duplicates of the old batch
    _write_source_batch(tmp_path, 100, 5)
    events2 = read_event_stream(spark, str(tmp_path / "incoming"))
    q2 = stream_to_log(
        events2,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        event_types=ALL_TYPES,
    )
    q2.awaitTermination(120)
    back2 = spark.read.parquet(str(tmp_path / "out"))
    assert back2.count() == 17  # 12 + 5, nothing reprocessed


def test_stream_progress_counters(spark, tmp_path):
    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        stream_progress,
    )

    _write_source_batch(tmp_path, 0, 9)
    events = read_event_stream(spark, str(tmp_path / "incoming"))
    q = stream_to_log(
        events,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        event_types=ALL_TYPES,
    )
    q.awaitTermination(120)
    prog = stream_progress(q)
    assert prog["num_input_rows"] == 9
    assert prog["micro_batches"] >= 1


def test_progress_listener_lands_in_log_table(spark, tmp_path):
    """D9 — the ProgressLogger listener captures micro-batch progress and
    flush_to_log writes it into the 7-column log table (event_type=
    'stream_progress', payload = engine progress fields)."""
    import time

    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        ProgressLogger,
    )

    plog = ProgressLogger().attach(spark)
    try:
        _write_source_batch(tmp_path, 0, 9)
        events = read_event_stream(spark, str(tmp_path / "incoming"))
        q = stream_to_log(
            events,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            event_types=ALL_TYPES,
        )
        q.awaitTermination(120)
        # listener callbacks arrive on a background thread — poll briefly
        deadline = time.time() + 30
        while not plog.rows and time.time() < deadline:
            time.sleep(0.5)
        assert plog.rows, "no progress events captured within 30s"
        n = plog.flush_to_log(spark, str(tmp_path / "progress_log"))
        assert n >= 1
        back = spark.read.parquet(str(tmp_path / "progress_log"))
        rows = back.collect()
        assert all(r.event_type == "stream_progress" for r in rows)
        payloads = [json.loads(r.payload) for r in rows]
        assert sum(p["num_input_rows"] for p in payloads) == 9
    finally:
        plog.detach(spark)


def test_event_type_filter_applies_in_stream(spark, tmp_path):
    _write_source_batch(tmp_path, 0, 9)
    events = read_event_stream(spark, str(tmp_path / "incoming"))
    q = stream_to_log(
        events,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        event_types=["llm_start"],  # drop llm_end/chain_start
    )
    q.awaitTermination(120)
    back = spark.read.parquet(str(tmp_path / "out"))
    assert {r.event_type for r in back.collect()} == {"llm_start"}


def test_windowed_counts_memory_sink(spark, tmp_path):
    _write_source_batch(tmp_path, 0, 12)
    events = read_event_stream(spark, str(tmp_path / "incoming"))
    agg = windowed_event_counts(events, window="1 minute", watermark="2 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_counts").collect()
    assert rows
    assert sum(r.n for r in rows) == 12


def test_transform_with_state_user_stats(spark, sf_dir):
    """Spark 4 transformWithState leg of the stateful surface. Runtime-
    gated: the driver worker needs google.protobuf, absent from the bare
    container — skips there, runs wherever the dependency exists."""
    import pytest

    from langchain_callback_parquet_logger_spark.streaming.stateful import (
        _has_transform_with_state_runtime,
        q_stream_user_stats,
    )

    if not _has_transform_with_state_runtime():
        pytest.skip("google.protobuf not available in this runtime")

    import duckdb
    from pyspark.sql import functions as F

    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in q_stream_user_stats(spark, sf_dir).collect()
    }
    want = {
        int(u): (int(n), float(t))
        for u, n, t in duckdb.sql(
            f"SELECT user_id, COUNT(*), round(SUM(value), 6) "
            f"FROM '{sf_dir}/events.parquet' GROUP BY user_id"
        ).fetchall()
    }
    assert got == want


def test_materialized_rollup_incremental_merge(spark, sf_dir, tmp_path):
    """The foreachBatch merge-upsert must equal the batch rollup after a
    multi-batch drain, and re-applying a delivered batch id must be a
    no-op (exactly-once despite re-delivery)."""
    from pyspark.sql import functions as F

    from langchain_callback_parquet_logger_spark.plans.session import load_table
    from langchain_callback_parquet_logger_spark.streaming.materialize import (
        _last_applied,
        maintain_rollup,
        merge_rollup_batch,
    )

    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    ingest = str(tmp_path / "ingest")
    events.repartition(3).write.json(ingest)

    table = str(tmp_path / "rollup")
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(ingest)
    )
    q = maintain_rollup(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert _last_applied(table) >= 1, "expected a multi-batch drain"

    got = {
        r.event_type: (r.n, round(r.total, 3))
        for r in spark.read.parquet(table).collect()
    }
    want = {
        r.event_type: (r.n, round(r.total, 3))
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want

    # re-delivery of an already-applied batch id must not change the table
    merge_rollup_batch(events, 0, table, keys=("event_type",))
    again = {
        r.event_type: (r.n, round(r.total, 3))
        for r in spark.read.parquet(table).collect()
    }
    assert again == got


def test_streaming_cms_sketch_union_equals_batch_sketch(spark, sf_dir, tmp_path):
    """Count-Min sketches merge additively, so maintaining one over a
    micro-batched document stream with the generic rollup maintainer
    must give the batch-built sketch exactly — the streaming half of
    q_cms_heavy_hitters' production story."""
    from pyspark.sql import functions as F

    from langchain_callback_parquet_logger_spark.operators.analytic import (
        CMS_D,
        _cms_bucket,
    )
    from langchain_callback_parquet_logger_spark.operators.text import words_col
    from langchain_callback_parquet_logger_spark.plans.session import load_table
    from langchain_callback_parquet_logger_spark.streaming.materialize import (
        maintain_rollup,
    )

    def sketch_cols(df):
        rows_i = F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("i")
        tok = df.select(F.explode(words_col(F.col("text"))).alias("word"))
        return tok.select("word", rows_i).select(
            "i",
            _cms_bucket(F.col("word"), F.col("i")).alias("bucket"),
            F.lit(1.0).alias("value"),
        )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ingest = str(tmp_path / "ingest")
    docs.repartition(3).write.json(ingest)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(ingest)
    )
    table = str(tmp_path / "cms")
    q = maintain_rollup(
        sketch_cols(stream), table, str(tmp_path / "ckpt"), keys=("i", "bucket")
    )
    q.awaitTermination()
    got = {(r.i, r.bucket): r.n for r in spark.read.parquet(table).collect()}
    want = {
        (r.i, r.bucket): r.n
        for r in sketch_cols(docs)
        .groupBy("i", "bucket")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_non_utc_session_cannot_shift_event_times(spark, sf_dir):
    """ADVICE-r3 regression: a driver session with a non-UTC timezone that
    runs a q_stream_* query FIRST (before any load_table, which also pins
    UTC) must produce the same windows as a UTC session — both the batch
    and streaming entry points re-apply pin_oracle_confs."""
    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        q_stream_hourly_counts,
    )

    def rows():
        return sorted(
            (str(r.hour_start), r.event_type, r.n)
            for r in q_stream_hourly_counts(spark, sf_dir).collect()
        )

    baseline = rows()  # UTC (pinned by the entry point itself)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        shifted_session = rows()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert shifted_session == baseline


def test_stream_incremental_dedup_equals_batch_operator(spark, sf_dir):
    """The stream-static form must produce exactly the batch operator's
    verdicts once the availableNow drain replays the table."""
    from langchain_callback_parquet_logger_spark.operators.dedup import (
        q_incremental_dedup,
    )
    from langchain_callback_parquet_logger_spark.plans.session import release_caches
    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        q_stream_incremental_dedup,
    )

    try:
        streamed = {
            (r.new_doc_id, r.n_corpus_dups, r.best_jaccard)
            for r in q_stream_incremental_dedup(spark, sf_dir).collect()
        }
        batch = {
            (r.new_doc_id, r.n_corpus_dups, r.best_jaccard)
            for r in q_incremental_dedup(spark, sf_dir).collect()
        }
    finally:
        release_caches()
    assert streamed == batch


@pytest.mark.parametrize(
    "name, layout",
    [("back\\slash x", "file"), ("brack[et]", "directory"), ("brace{x}", "file")],
)
def test_stream_incremental_dedup_under_a_glob_character_name(
    spark, sf_dir, tmp_path, name, layout
):
    """The documents table and the verdict sink under a directory name
    holding a Hadoop glob character, in both table layouts the stream
    reads: the drain gives the batch operator's verdicts."""
    import shutil

    from langchain_callback_parquet_logger_spark.operators.dedup import (
        q_incremental_dedup,
    )
    from langchain_callback_parquet_logger_spark.plans.session import release_caches
    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        q_stream_incremental_dedup,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    root = tmp_path / name
    dst = root / "documents.parquet"
    if layout == "directory":
        dst.mkdir(parents=True)
        dst = dst / "part-0.parquet"
    else:
        root.mkdir()
    shutil.copyfile(src, dst)
    try:
        streamed = {
            tuple(r)
            for r in q_stream_incremental_dedup(
                spark, str(root), verdict_dir=str(root / "verdicts")
            ).collect()
        }
        batch = {tuple(r) for r in q_incremental_dedup(spark, sf_dir).collect()}
    finally:
        release_caches()
    assert streamed == batch and batch


def _split_documents(sf_dir, root, n_parts: int) -> None:
    """``root/documents.parquet/`` as ``n_parts`` part files (the directory
    layout the stream reads one file per trigger from); ``n_parts=0``
    writes one part with the schema and no rows."""
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    out = root / "documents.parquet"
    out.mkdir(parents=True)
    if n_parts == 0:
        pq.write_table(table.slice(0, 0), out / "part-0.parquet")
        return
    step = -(-table.num_rows // n_parts)
    for i in range(n_parts):
        pq.write_table(table.slice(i * step, step), out / f"part-{i}.parquet")


def test_stream_incremental_dedup_drains_many_epochs(spark, sf_dir, tmp_path):
    """Documents in 3 part files drain as at least 3 micro-batches, one
    ``epoch=`` verdict table each, and their union is the batch
    operator's verdicts."""
    from langchain_callback_parquet_logger_spark.operators.dedup import (
        q_incremental_dedup,
    )
    from langchain_callback_parquet_logger_spark.plans.session import release_caches
    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        q_stream_incremental_dedup,
    )

    _split_documents(sf_dir, tmp_path / "docs", 3)
    verdict_dir = tmp_path / "verdicts"
    try:
        streamed = sorted(
            tuple(r)
            for r in q_stream_incremental_dedup(
                spark, str(tmp_path / "docs"), verdict_dir=str(verdict_dir)
            ).collect()
        )
        batch = sorted(tuple(r) for r in q_incremental_dedup(spark, sf_dir).collect())
    finally:
        release_caches()
    epochs = [d for d in os.listdir(verdict_dir) if d.startswith("epoch=")]
    assert len(epochs) >= 3, epochs
    assert streamed == batch and batch


@pytest.mark.parametrize("n_parts", [1, 0])
def test_stream_incremental_dedup_schema_is_the_batch_schema(
    spark, sf_dir, tmp_path, n_parts
):
    """The stream's verdict columns and types are ``q_incremental_dedup``'s,
    over the documents table and over an empty one.  Nullability is not
    compared: Spark reads every parquet column back as nullable, and the
    stream's verdicts come back from its parquet sink."""
    from langchain_callback_parquet_logger_spark.operators.dedup import (
        q_incremental_dedup,
    )
    from langchain_callback_parquet_logger_spark.plans.session import release_caches
    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        q_stream_incremental_dedup,
    )

    root = tmp_path / "docs"
    _split_documents(sf_dir, root, n_parts)
    try:
        got = q_stream_incremental_dedup(spark, str(root)).schema
        want = q_incremental_dedup(spark, str(root)).schema
    finally:
        release_caches()
    assert [(f.name, f.dataType) for f in got] == [(f.name, f.dataType) for f in want]


def test_stream_quality_monitor_equals_batch_rollup(spark, sf_dir):
    """The availableNow drain of the streaming DQ monitor must equal the
    batch per-hour rollup computed directly — the exactly-once claim the
    full value oracle rides on."""
    from pyspark.sql import functions as F

    from langchain_callback_parquet_logger_spark.operators.analytic import (
        EVENT_TYPES,
    )
    from langchain_callback_parquet_logger_spark.plans.session import (
        load_table,
    )
    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        q_stream_quality_monitor,
    )

    got = {
        r.hour_start: (r.n, r.completeness_ppm, r.containment_ppm)
        for r in q_stream_quality_monitor(spark, sf_dir).collect()
    }
    enum_list = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(
            F.count("*").alias("n"),
            F.expr("(1000000 * count(value)) div count(*)").alias("comp"),
            F.expr(
                f"(1000000 * sum(CASE WHEN event_type IN ({enum_list}) "
                f"THEN 1 ELSE 0 END)) div count(*)"
            ).alias("cont"),
        )
        .collect()
    )
    want = {r.hour_start: (r.n, r.comp, r.cont) for r in batch}
    assert got == want


def test_sessionize_drain_is_one_microbatch(spark, sf_dir):
    """Pins the round-10 adjudication of the r9 bench_compare flag on
    q_stream_sessionize: an availableNow drain of a static events table
    completes in exactly ONE non-empty micro-batch (no maxFilesPerTrigger
    on the probe source, one listing), so drain wall-time cannot vary
    with a batch-count coin flip — observed multi-second swings are
    ambient (SCALING.md round-10 notes)."""
    from pyspark.sql import functions as F

    from langchain_callback_parquet_logger_spark.plans.session import (
        load_table,
        scoped_conf,
    )
    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        _event_stream,
    )
    from langchain_callback_parquet_logger_spark.streaming.stateful import (
        sessionize_stream,
    )

    stream = _event_stream(spark, sf_dir)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            sessionize_stream(stream)
            .writeStream.format("memory")
            .queryName("sess_onebatch_sink")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(nonempty) == 1, [p["numInputRows"] for p in q.recentProgress]
    got_users = (
        spark.table("sess_onebatch_sink").select("user_id").distinct().count()
    )
    want_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert got_users == want_users


def test_stream_session_window_gap_rule_matches_its_oracle(spark, tmp_path):
    """An event exactly 30 minutes after the previous one stays in its
    session and one 30 minutes + 1 µs after it starts a new one, in
    Spark's session_window and in the DuckDB oracle alike."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        ORACLE_STREAM_SESSION_WINDOW,
        q_stream_session_window,
    )

    t0 = dt.datetime(2024, 1, 1, 12)
    gap, us = dt.timedelta(minutes=30), dt.timedelta(microseconds=1)
    # user 1: an exact gap, then a gap of 30 min + 1 µs; user 2: one event
    ts = [t0, t0 + gap, t0 + 2 * gap + us, t0]
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2, 3, 4], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([1, 1, 1, 2], pa.int64()),
        "event_type": ["click"] * 4,
        "value": [0.0] * 4,
        "props": ["{}"] * 4,
    }), path)

    got = sorted(tuple(r) for r in q_stream_session_window(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = sorted(con.execute(ORACLE_STREAM_SESSION_WINDOW).fetchall())
    assert got == want == [(1, 2, 3), (2, 1, 1)]
