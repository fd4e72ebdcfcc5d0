"""S6 coverage: the S3 leg of ``ParquetSink`` — key layout, retry budget
with the reference's backoff, error/continue policy, and an optional live
s3a:// round-trip.

The reference tests these behaviors against a mocked boto3 client
(its tests/test_s3_integration.py:13-243). Here the same
behaviors run against moto's in-process S3 (real bucket/key semantics, real
bytes round-tripped), with a flaky client standing in for boto3's in the
failure-injection cases. The waits between attempts are recorded, not
slept. The distributed s3a:// path needs the hadoop-aws jar and an
endpoint — the final test exercises it when SPARK_GRAFT_S3_ENDPOINT is set
(minio/moto server) and skips cleanly in sandboxes without either.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pytest

from langchain_callback_parquet_logger_spark.sinks import ParquetSink

moto = pytest.importorskip("moto")
import boto3  # noqa: E402

UTC = dt.timezone.utc


@pytest.fixture()
def s3_bucket(monkeypatch):
    for k, v in {"AWS_ACCESS_KEY_ID": "testing", "AWS_SECRET_ACCESS_KEY": "testing",
                 "AWS_DEFAULT_REGION": "us-east-1"}.items():
        monkeypatch.setenv(k, v)
    with moto.mock_aws():
        client = boto3.client("s3")
        client.create_bucket(Bucket="test-bucket")
        yield client


def _keys(client) -> list[str]:
    listing = client.list_objects_v2(Bucket="test-bucket")
    return sorted(o["Key"] for o in listing.get("Contents", []))


def _table() -> pa.Table:
    return pa.table({"timestamp": [dt.datetime(2024, 1, 1, tzinfo=UTC)],
                     "run_id": ["r1"]})


def test_upload_key_layout(s3_bucket):
    """Key = prefix/filepath, or filepath at the bucket root
    (reference config.py:43-46, storage.py:73-75)."""
    ParquetSink("s3a://test-bucket/test-prefix/", partition_on=None).write(_table())
    [prefixed] = _keys(s3_bucket)
    assert prefixed.startswith("test-prefix/part-") and prefixed.endswith(".parquet")
    ParquetSink("s3://test-bucket", partition_on=None).write(_table())
    [root] = set(_keys(s3_bucket)) - {prefixed}
    assert root.startswith("part-") and "/" not in root


class _FlakyClient:
    """put_object fails `n_failures` times, then delegates/succeeds —
    the reference's retry fixture (test_s3_integration.py:50-81)."""

    def __init__(self, n_failures: int, delegate=None):
        self.n_failures = n_failures
        self.delegate = delegate
        self.calls = 0

    def put_object(self, **kwargs):
        self.calls += 1
        if self.calls <= self.n_failures:
            raise Exception("Network error")
        if self.delegate is not None:
            return self.delegate.put_object(**kwargs)


@pytest.fixture()
def flaky(monkeypatch):
    """Make the S3 leg's boto3 client a _FlakyClient(n_failures, delegate)."""

    def install(n_failures: int, delegate=None) -> _FlakyClient:
        client = _FlakyClient(n_failures, delegate)
        monkeypatch.setattr(boto3, "client", lambda *a, **kw: client)
        return client

    return install


def test_retry_then_success(s3_bucket, flaky, sink_sleeps):
    client = flaky(2, delegate=s3_bucket)
    ParquetSink("s3a://test-bucket/langchain-logs", partition_on=None,
                retry_attempts=3).write(_table())
    assert client.calls == 3
    # the third attempt landed exactly one object, read through moto itself
    assert len(_keys(s3_bucket)) == 1
    assert sink_sleeps == [1, 2]


def test_failure_error_mode_raises(flaky, sink_sleeps):
    client = flaky(99)
    sink = ParquetSink("s3a://test-bucket/logs", partition_on=None,
                       retry_attempts=2, on_failure="error")
    with pytest.raises(RuntimeError, match="after 2 attempts"):
        sink.write(_table())
    assert client.calls == 2


def test_failure_continue_mode_swallows(flaky, sink_sleeps, caplog):
    client = flaky(99)
    sink = ParquetSink("s3a://test-bucket/logs", partition_on=None,
                       retry_attempts=2, on_failure="continue")
    with caplog.at_level("ERROR"):
        sink.write(_table())  # must not raise
    assert client.calls == 2
    assert any("continuing" in r.message for r in caplog.records)


def test_backoff_is_exponential(flaky, sink_sleeps):
    flaky(99)
    sink = ParquetSink("s3a://test-bucket/logs", partition_on=None,
                       retry_attempts=3, on_failure="continue")
    sink.write(_table())
    assert sink_sleeps == [1, 2]  # 2**0, 2**1; no sleep after the final attempt


def _hadoop_aws_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.hadoop.fs.s3a.S3AFileSystem"
        )
        return True
    except Exception:
        return False


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_S3_ENDPOINT"),
    reason="no S3 endpoint configured (set SPARK_GRAFT_S3_ENDPOINT to a "
    "minio/moto-server URL to run the live s3a round-trip)",
)
def test_s3a_roundtrip_live(spark, tmp_path):
    """Distributed write path against a real endpoint: ParquetSink with an
    s3a:// base_dir, date partitioning, retry/policy config — then read
    back through the same scheme and compare counts."""
    if not _hadoop_aws_available(spark):
        pytest.skip("hadoop-aws jar not on the Spark classpath")
    endpoint = os.environ["SPARK_GRAFT_S3_ENDPOINT"]
    hconf = spark._jsc.hadoopConfiguration()
    hconf.set("fs.s3a.endpoint", endpoint)
    hconf.set("fs.s3a.path.style.access", "true")
    hconf.set("fs.s3a.access.key", os.environ.get("AWS_ACCESS_KEY_ID", "test"))
    hconf.set(
        "fs.s3a.secret.key", os.environ.get("AWS_SECRET_ACCESS_KEY", "test")
    )

    boto3.client("s3", endpoint_url=endpoint).create_bucket(
        Bucket="s3a-live-test"
    )
    from pyspark.sql import functions as F

    df = spark.range(50).select(
        F.col("id"),
        F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
    )
    sink = ParquetSink("s3a://s3a-live-test/logs", retry_attempts=2)
    sink.write(df)
    assert sink.exists(spark)
    back = spark.read.parquet("s3a://s3a-live-test/logs")
    assert back.count() == 50
