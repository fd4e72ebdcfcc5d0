from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

# Spark's Python workers unpickle test-module functions by reference; make
# the repo root and tests dir importable in the worker processes.
_here = os.path.dirname(os.path.abspath(__file__))
_root = os.path.dirname(_here)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in [_root, _here, os.environ.get("PYTHONPATH")] if p
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

if not os.path.isdir(SF_DIR):
    # CI / laptop fallback: the driver's read-only fixtures are absent —
    # materialize deterministic schema-compatible tables once per checkout
    # (tools/make_testdata.py, seed 42) so the suite runs anywhere.
    _gen_dir = os.path.join(_root, ".pytest_fixtures", "sf0.001")
    if not os.path.isdir(_gen_dir):
        sys.path.insert(0, os.path.join(_root, "tools"))
        from make_testdata import write_dir  # noqa: E402

        write_dir(_gen_dir, 0.001)
    SF_DIR = _gen_dir
    os.environ["SPARK_GRAFT_TEST_SF_DIR"] = SF_DIR


@pytest.fixture(scope="session")
def spark():
    from langchain_callback_parquet_logger_spark.plans.session import get_spark

    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def sink_sleeps(monkeypatch):
    """The waits ``ParquetSink.write`` asks for between attempts, recorded
    instead of slept."""
    from langchain_callback_parquet_logger_spark import sinks

    sleeps: list[float] = []
    monkeypatch.setattr(sinks, "_sleep", sleeps.append)
    return sleeps


UTC = dt.timezone.utc


@pytest.fixture()
def raw_events(spark):
    """Canonical callback-event fixture mirroring the reference's conftest
    (tests/conftest.py:57-79 in /root/reference): an llm_start/llm_end pair
    plus an error and a chain event, with the reference's tag fixture."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("run_id", T.StringType()),
            T.StructField("parent_run_id", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
            T.StructField("data", T.StringType()),
            T.StructField("raw", T.StringType()),
        ]
    )
    rows = [
        (
            dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=UTC),
            "run-1",
            None,
            "llm_start",
            ["tag1", "logger_custom_id:my-custom-id", "tag2"],
            {"experiment": "x1"},
            '{"prompts":["What is 2+2?"],"llm_type":"openai"}',
            '{"kwargs":{"invocation_params":{"temperature":0}}}',
        ),
        (
            dt.datetime(2024, 1, 1, 12, 0, 1, tzinfo=UTC),
            "run-1",
            None,
            "llm_end",
            ["tag1", "logger_custom_id:my-custom-id", "tag2"],
            {"experiment": "x1"},
            '{"response":"4","usage_metadata":{"input_tokens":5,"output_tokens":1,"total_tokens":6}}',
            None,
        ),
        (
            dt.datetime(2024, 1, 1, 12, 0, 2, tzinfo=UTC),
            "run-2",
            "run-1",
            "llm_error",
            [],
            None,
            '{"error":{"message":"boom","type":"ValueError"}}',
            None,
        ),
        (
            dt.datetime(2024, 1, 2, 9, 0, 0, tzinfo=UTC),
            "run-3",
            None,
            "chain_start",
            ["tag-only"],
            None,
            '{"inputs":{"q":"hi"}}',
            None,
        ),
    ]
    return spark.createDataFrame(rows, schema)
