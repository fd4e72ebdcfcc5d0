"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState``.

The reference keeps no per-key state at all (its only state is the
processed-id set, SURVEY.md §2.8); this is the Spark-native upgrade path
for event-stream analytics: per-user state (last event time, running
session/event counts) lives in the state store, survives micro-batches via
the checkpoint, and is updated with Arrow-batched pandas — no
row-at-a-time Python.

Scale design: state is O(1) per user (three longs); keys are hash
partitioned across executors by the streaming groupBy; each micro-batch
touches only the arriving keys. The same operator with a processingTime
trigger and a state TTL (GroupStateTimeout) runs the live tail.

When drained with an availableNow trigger over a static table the result
equals the batch window-function sessionization — which gives this custom
stateful operator a full value-level DuckDB oracle (q_sessionize's SQL).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.queries import SESSION_GAP_US

OUTPUT_SCHEMA = "user_id bigint, n_sessions bigint, n_events bigint"
STATE_SCHEMA = "last_ts bigint, n_sessions bigint, n_events bigint"


def _sessionize_group(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold a micro-batch of one user's events into (last_ts, counts)."""
    if state.exists:
        last_ts, n_sessions, n_events = state.get
    else:
        last_ts, n_sessions, n_events = None, 0, 0

    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["ts", "event_id"])
    # datetime64[ns] → integer microseconds (matches unix_micros in batch).
    # The fold is vectorized: a session starts wherever the gap to the
    # previous event exceeds the threshold; the previous event of row 0 is
    # the state's last_ts (or a sentinel forcing a new session).
    ts_us = (batch["ts"].astype("int64") // 1_000).to_numpy()
    if len(ts_us):
        import numpy as np

        prev = np.empty_like(ts_us)
        prev[1:] = ts_us[:-1]
        prev[0] = last_ts if last_ts is not None else ts_us[0] - SESSION_GAP_US - 1
        n_sessions += int((ts_us - prev > SESSION_GAP_US).sum())
        n_events += len(ts_us)
        last_ts = int(ts_us[-1])

    state.update((last_ts, n_sessions, n_events))
    yield pd.DataFrame(
        [(key[0], n_sessions, n_events)],
        columns=["user_id", "n_sessions", "n_events"],
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events (ts timestamp, user_id, event_id, ...) → running per-user
    session/event counts, emitted each micro-batch in update mode."""
    return (
        events.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events table through the stateful operator (file stream →
    state store → memory sink) and return the final per-user counts.
    Counts are cumulative and monotone, so the last emission per user is
    the max."""
    from .ingest import _event_stream, drain

    stream = sessionize_stream(_event_stream(spark, sf_dir))
    return (
        spark.table(drain(spark, stream, "q_stream_sessionize_sink", "update"))
        .groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("n_events").alias("n_events"),
        )
    )


# Identical semantics to the batch window-function sessionization.
ORACLE_STREAM_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# transformWithState — Spark 4's arbitrary-state API (the successor to
# applyInPandasWithState): typed state handles (ValueState here; List/Map
# state and timers available), RocksDB-backed state store, per-key
# processors. Covering BOTH stateful APIs matters: applyInPandasWithState
# is the stable one, transformWithState is where streaming state is
# headed. State is O(1) per user; the availableNow drain equals a batch
# rollup (ORACLE_STREAM_USER_STATS below).
#
# Runtime gate: the transformWithState driver worker imports
# google.protobuf, which this container does not ship (re-probed at
# round-13 open, 2026-08-17: still absent), so the operator is
# exercised by an import-gated test (tests/test_streaming.py) rather
# than the graded query set — see _has_transform_with_state_runtime().
# ---------------------------------------------------------------------------

USER_STATS_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def _make_user_stats_processor():
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState("stats", "n bigint, total double")

        def handleInputRows(self, key, rows, timerValues):
            prior = self._stats.get()
            n, total = (prior[0], prior[1]) if prior else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._stats.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    return UserStatsProcessor()


def user_stats_stream(events: DataFrame) -> DataFrame:
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_make_user_stats_processor(),
            outputStructType=USER_STATS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def q_stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain events through the transformWithState processor; counts and
    the (non-negative) value total are cumulative, so the final emission
    per user is the max."""
    from ..plans.session import scoped_conf
    from .ingest import _event_stream, drain

    stream = _event_stream(spark, sf_dir)
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        )
    }
    with scoped_conf(spark, rocksdb):
        sink = drain(
            spark, user_stats_stream(stream), "q_stream_user_stats_sink", "update"
        )
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("total_value"), 6).alias("total_value"),
        )
    )


ORACLE_STREAM_USER_STATS = """
SELECT user_id, COUNT(*) AS n_events, round(SUM(value), 6) AS total_value
FROM events GROUP BY user_id
"""

def _has_transform_with_state_runtime() -> bool:
    """transformWithState's driver worker needs google.protobuf, which is
    not baked into every runtime (this container lacks it). The operator
    is implemented and tested where the runtime allows; it is NOT a graded
    query because the correctness gate must run in the bare container."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


QUERIES = {
    "q_stream_sessionize": q_stream_sessionize,
}

ORACLES = {
    "q_stream_sessionize": ORACLE_STREAM_SESSIONIZE,
}
