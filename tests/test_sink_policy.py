"""Sink failure policy: retry budget + on_failure error|continue.

Mirrors the reference's mocked-S3 policy tests
(/root/reference/tests/test_s3_integration.py:50-141) with local-FS failure
injection: the injection seam is ``ParquetSink._write_once`` (the whole
Spark write job — the analog of one ``put_object`` call). Every test
records the waits between attempts instead of sleeping them.
"""

from __future__ import annotations

import datetime as dt

import pytest

from langchain_callback_parquet_logger_spark.sinks import CompositeSink, ParquetSink

UTC = dt.timezone.utc

pytestmark = pytest.mark.usefixtures("sink_sleeps")


def _log_frame(spark):
    return spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, tzinfo=UTC), "r1", "", "c1", "llm_start", "{}", "{}")],
        "timestamp timestamp, run_id string, parent_run_id string, "
        "custom_id string, event_type string, logger_metadata string, payload string",
    )


class FlakySink(ParquetSink):
    """Fails the first ``fail_times`` write attempts, then succeeds —
    the 'network error, timeout, success' sequence of the reference's
    test_s3_upload_with_retry."""

    def __init__(self, *args, fail_times: int = 0, **kwargs):
        super().__init__(*args, **kwargs)
        self.fail_times = fail_times
        self.calls = 0

    def _write_once(self, df):
        self.calls += 1
        if self.calls <= self.fail_times:
            raise ConnectionError(f"injected failure #{self.calls}")
        super()._write_once(df)


def test_write_retries_then_succeeds(spark, tmp_path, sink_sleeps):
    out = str(tmp_path / "retry_ok")
    sink = FlakySink(out, fail_times=2, retry_attempts=3)
    sink.write(_log_frame(spark))
    assert sink.calls == 3  # two failures + one success
    assert sink_sleeps == [1, 2]
    assert spark.read.parquet(out).count() == 1


def test_write_failure_error_mode_raises(spark, tmp_path):
    sink = FlakySink(str(tmp_path / "err"), fail_times=99, retry_attempts=2,
                     on_failure="error")
    with pytest.raises(RuntimeError, match="after 2 attempts"):
        sink.write(_log_frame(spark))
    assert sink.calls == 2


def test_write_failure_continue_mode_swallows(spark, tmp_path, caplog):
    sink = FlakySink(str(tmp_path / "cont"), fail_times=99, retry_attempts=2,
                     on_failure="continue")
    sink.write(_log_frame(spark))  # must not raise
    assert sink.calls == 2
    assert any("continuing" in r.message for r in caplog.records)


def test_composite_keeps_local_when_remote_continues(spark, tmp_path):
    """on_failure='continue' on the remote leg leaves the local leg's data
    intact (reference test_s3_upload_failure_continue_mode: local parquet
    exists despite the dead S3 client)."""
    local_dir = str(tmp_path / "local")
    local = ParquetSink(local_dir)
    dead_remote = FlakySink(str(tmp_path / "remote"), fail_times=99,
                            retry_attempts=2, on_failure="continue")
    CompositeSink([local, dead_remote]).write(_log_frame(spark))
    assert spark.read.parquet(local_dir).count() == 1


def test_composite_error_mode_propagates(spark, tmp_path):
    local = ParquetSink(str(tmp_path / "local2"))
    dead_remote = FlakySink(str(tmp_path / "remote2"), fail_times=99,
                            retry_attempts=2, on_failure="error")
    with pytest.raises(RuntimeError, match="after 2 attempts"):
        CompositeSink([local, dead_remote]).write(_log_frame(spark))
