"""Configuration surface parity (reference config.py:8-157 and its tests
tests/test_config.py:13-119): field names and defaults a migrating user
relies on, plus the Spark re-pointing (s3a path, sink factory, metadata
JSON builder)."""

from __future__ import annotations

import pytest

from langchain_callback_parquet_logger_spark import (
    EventType,
    JobConfig,
    LLMConfig,
    ProcessingConfig,
    S3Config,
    StorageConfig,
    build_job_metadata,
)
from langchain_callback_parquet_logger_spark.sinks import CompositeSink, ParquetSink


def test_event_type_vocabulary():
    assert len(EventType.all_events()) == 12
    assert EventType.default_set() == [
        "llm_start",
        "llm_end",
        "llm_error",
        "chat_model_start",
    ]
    assert EventType.LLM_END.value == "llm_end"


def test_s3_config_path():
    assert S3Config("bkt").s3a_dir == "s3a://bkt/langchain-logs"
    assert S3Config("bkt", "a/b/").s3a_dir == "s3a://bkt/a/b"
    assert S3Config("bkt", "").s3a_dir == "s3a://bkt"
    assert S3Config("bkt").on_failure == "error"
    assert S3Config("bkt").retry_attempts == 3


def test_processing_config_defaults_match_reference():
    p = ProcessingConfig()
    assert (p.max_concurrency, p.buffer_size) == (100, 1000)
    assert p.partition_on == "date"
    assert p.resolved_event_types() == tuple(EventType.default_set())
    assert p.batch_run_kwargs() == {
        "max_concurrency": 100,
        "return_exceptions": True,
        "return_results": False,
    }


def test_storage_config_sink_factory():
    local_only = StorageConfig(output_dir="/tmp/x").create_sink()
    assert isinstance(local_only, ParquetSink)
    both = StorageConfig(
        output_dir="/tmp/x",
        s3_config=S3Config("bkt", on_failure="continue", retry_attempts=5),
    ).create_sink()
    assert isinstance(both, CompositeSink)
    local, s3 = both.sinks
    assert (local.on_failure, local.retry_attempts) == ("error", 3)
    assert s3.base_dir == "s3a://bkt/langchain-logs"
    assert (s3.on_failure, s3.retry_attempts) == ("continue", 5)


def test_llm_config_factory_and_metadata():
    calls = {}

    class FakeLLM:
        def __init__(self, **kw):
            calls.update(kw)

    cfg = LLMConfig(
        llm_class=FakeLLM,
        llm_kwargs={"model": "m", "temperature": 0},
        model_kwargs={"top_p": 0.9},
    )
    cfg.create_llm(callbacks=["cb"])
    assert calls == {
        "model": "m",
        "temperature": 0,
        "model_kwargs": {"top_p": 0.9},
        "callbacks": ["cb"],
    }
    md = cfg.to_metadata_dict()
    assert md["class"] == "FakeLLM" and md["structured_output"] is None


def test_llm_config_structured_output_wrap():
    class Schema:
        pass

    class FakeLLM:
        def __init__(self, **kw):
            self.kw = kw

        def with_structured_output(self, schema):
            return ("wrapped", schema)

    wrapped = LLMConfig(llm_class=FakeLLM, structured_output=Schema).create_llm()
    assert wrapped == ("wrapped", Schema)


def test_build_job_metadata_shape():
    md = build_job_metadata(
        JobConfig("cat", "sub", version="1.2.3", metadata={"team": "ml"}),
        ProcessingConfig(max_concurrency=7),
        started_at="2026-08-13T00:00:00Z",
    )
    assert md["job_category"] == "cat"
    assert md["team"] == "ml"
    assert md["batch_config"]["max_concurrency"] == 7
    assert md["batch_started_at"] == "2026-08-13T00:00:00Z"


def test_frozen():
    with pytest.raises(Exception):
        S3Config("b").bucket = "other"
