"""The live logger's flush (``ingest.normalize_rows`` in Python and Arrow,
written by pyarrow) and the Spark transform (``normalize_events`` plus
``to_date``) must write the same rows, byte for byte, in any session time
zone. Both sides take the same buffered raw rows; each side's output is read
back through Spark and compared as whole rows.

The metadata maps reach Spark as entry lists: ``createDataFrame`` passes a
Python dict through a Java HashMap, which reorders its keys by hash, while
both transforms keep the order of the map they are given."""

from __future__ import annotations

import contextlib
import datetime as dt
from zoneinfo import ZoneInfo

import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from langchain_callback_parquet_logger_spark.ingest import (
    RAW_EVENT_DDL,
    normalize_events,
    read_log_dataset,
)
from langchain_callback_parquet_logger_spark.logger import SparkParquetLogger
from langchain_callback_parquet_logger_spark.schema import (
    BACKGROUND_EVENT_TYPES,
    CUSTOM_ID_PREFIX,
    DEFAULT_EVENT_TYPES,
    EVENT_TYPES,
)

UTC = dt.timezone.utc
ZONES = ["UTC", "Asia/Kolkata", "America/New_York"]
COLUMNS = ["timestamp", "run_id", "parent_run_id", "custom_id", "event_type",
           "logger_metadata", "payload", "date"]
TZ_CONF = "spark.sql.session.timeZone"
ENTRIES_DDL = RAW_EVENT_DDL.replace(
    "metadata map<string,string>", "metadata array<struct<key:string,value:string>>"
)


@contextlib.contextmanager
def session_zone(spark, zone: str):
    prev = spark.conf.get(TZ_CONF)
    spark.conf.set(TZ_CONF, zone)
    try:
        yield
    finally:
        spark.conf.set(TZ_CONF, prev)


def both_paths(spark, out_dir: str, zone: str, events: list, logger_metadata=None):
    """Log ``events`` — (timestamp, log_event kwargs) pairs — through a
    logger in ``zone``, pinning each buffered row's clock reading to the
    given timestamp, and return (rows the flush wrote, rows the Spark
    transform gives for the same buffer)."""
    with session_zone(spark, zone):
        logger = SparkParquetLogger(spark, out_dir, buffer_size=10**9,
                                    logger_metadata=logger_metadata)
        for _, kw in events:
            logger.log_event(**kw)
        logger._buffer = [(ts, *row[1:]) for (ts, _), row in zip(events, logger._buffer)]
        batch = list(logger._buffer)
        logger.flush()
        flushed = read_log_dataset(spark, out_dir).select(*COLUMNS).collect()
        raw = spark.createDataFrame(
            [(*r[:5], list(r[5].items()), *r[6:]) for r in batch], ENTRIES_DDL
        ).withColumn("metadata", F.map_from_entries("metadata"))
        reference = normalize_events(
            raw,
            logger_metadata=logger_metadata,
            event_types=[r[3] for r in batch],
        ).withColumn("date", F.to_date("timestamp")).select(*COLUMNS).collect()
    return sorted(flushed), sorted(reference)


NASTY = "\x00\x01\x08\x0b\x0e\x1b\x1f\t\n\r\x7f é 中文 🦜 \"quoted\" back\\slash \\u00ab  "


@pytest.mark.parametrize("zone", ZONES)
def test_flush_matches_normalize_events_on_edge_cases(spark, tmp_path, zone):
    local_midnight = dt.datetime(2024, 3, 10, tzinfo=ZoneInfo(zone)).astimezone(UTC)
    tick = dt.timedelta(microseconds=1)
    events = [
        # a null parent, empty metadata and no tags, either side of local midnight
        (local_midnight - tick, dict(event_type="llm_start", run_id="r1", data={"p": 1})),
        (local_midnight, dict(event_type="llm_end", run_id="r1", parent_run_id=None,
                              metadata={}, data={}, raw={})),
        # a bypass-injected event outside the capture set, without data or raw
        (local_midnight + tick, dict(event_type="background_retrieval_error", run_id="r2",
                                     _bypass_filter=True)),
        # control characters, non-ASCII and an emoji in every envelope field
        (dt.datetime(2024, 7, 1, 23, 59, 59, 999999, tzinfo=UTC), dict(
            event_type="chat_model_start", run_id=NASTY, parent_run_id=NASTY,
            tags=[NASTY, f"{CUSTOM_ID_PREFIX}{NASTY}", f"{CUSTOM_ID_PREFIX}second"],
            metadata={NASTY: NASTY, "n": 3}, data={NASTY: [NASTY]}, raw={"x": NASTY})),
        # a custom-id tag with an empty id, and a tag that is None
        (dt.datetime(2024, 12, 31, 12, tzinfo=UTC), dict(
            event_type="llm_error", run_id="r3", tags=["a", None, CUSTOM_ID_PREFIX])),
    ]
    flushed, reference = both_paths(spark, str(tmp_path / "logs"), zone, events,
                                    logger_metadata={"job": NASTY, "v": 1})
    assert len(flushed) == len(events)
    assert flushed == reference
    assert {r.date for r in flushed} >= {
        (local_midnight - tick).astimezone(ZoneInfo(zone)).date(),
        local_midnight.astimezone(ZoneInfo(zone)).date(),
    }


_text = st.text(max_size=12)
_event = st.fixed_dictionaries(
    {
        "event_type": st.sampled_from(EVENT_TYPES + BACKGROUND_EVENT_TYPES),
        "run_id": st.one_of(st.none(), _text),
        "parent_run_id": st.one_of(st.none(), _text),
        "tags": st.one_of(st.none(), st.lists(st.one_of(
            _text, _text.map(lambda t: CUSTOM_ID_PREFIX + t), st.none()), max_size=4)),
        "metadata": st.one_of(st.none(), st.dictionaries(_text, _text, max_size=3)),
        "data": st.one_of(st.none(), st.dictionaries(_text, st.one_of(_text, st.integers()),
                                                     max_size=3)),
        "raw": st.one_of(st.none(), st.dictionaries(_text, _text, max_size=3)),
    }
).map(lambda kw: {**kw, "_bypass_filter": kw["event_type"] not in DEFAULT_EVENT_TYPES})
_stamp = st.datetimes(min_value=dt.datetime(2000, 1, 1), max_value=dt.datetime(2035, 12, 31),
                      timezones=st.just(UTC))


@pytest.mark.parametrize("zone", ZONES)
# each example runs Spark jobs: a few examples, and no shrinking, which
# would take minutes
@settings(max_examples=8, deadline=None, phases=[Phase.explicit, Phase.generate],
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=st.lists(st.tuples(_stamp, _event), min_size=1, max_size=12),
       logger_metadata=st.dictionaries(_text, _text, max_size=2))
def test_flush_matches_normalize_events(spark, tmp_path_factory, zone, events, logger_metadata):
    out_dir = str(tmp_path_factory.mktemp("parity"))
    flushed, reference = both_paths(spark, out_dir, zone, events, logger_metadata)
    assert len(flushed) == len(events)
    assert flushed == reference
