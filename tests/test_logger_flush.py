"""The live logger's flush as written files: one parquet file per date
partition per flush, the failure policy seen from the flushing callback,
atomic and idempotent publishing, the S3 leg, the atexit flush, and a log
tree mixing Spark-written and Arrow-written flushes, the per-flush file's
layout, and the exact data/raw JSON text of the handlers. Tests that fail
a write record the waits between attempts instead of sleeping them."""

from __future__ import annotations

import collections
import datetime as dt
import enum
import gc
import json
import os
import subprocess
import sys
import textwrap
import threading
import weakref
from collections.abc import Mapping

import pyarrow.parquet as pq
import pytest

from langchain_callback_parquet_logger_spark import sinks
from langchain_callback_parquet_logger_spark.ingest import (
    RAW_EVENT_DDL,
    normalize_events,
    normalize_rows,
    read_log_dataset,
)
from langchain_callback_parquet_logger_spark.logger import SparkParquetLogger
from langchain_callback_parquet_logger_spark.schema import LOG_SCHEMA
from langchain_callback_parquet_logger_spark.sinks import (
    CompositeSink,
    ParquetSink,
    compact_logs,
)

UTC = dt.timezone.utc
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def files_under(root) -> list[str]:
    """Every file below ``root``, hidden ones included."""
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, _, names in os.walk(root) for n in names
    )


def log_llm_starts(logger, n: int, prefix: str = "r") -> None:
    for i in range(n):
        logger.on_llm_start({"_type": "fake"}, [f"p{i}"], run_id=f"{prefix}{i}")


class FailingSink(ParquetSink):
    """Fails its first ``fail_times`` write attempts."""

    def __init__(self, *args, fail_times: int = 0, **kwargs):
        super().__init__(*args, **kwargs)
        self.fail_times = fail_times
        self.calls = 0

    def _write_once(self, df):
        self.calls += 1
        if self.calls <= self.fail_times:
            raise ConnectionError(f"injected failure #{self.calls}")
        super()._write_once(df)


def test_flush_writes_one_file_per_date_partition(spark, tmp_path):
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=50)
    log_llm_starts(logger, 120)  # two full flushes and 20 rows left
    assert len(files_under(out)) == 2
    logger.flush()
    files = files_under(out)
    assert len(files) == 3 and all(f.startswith("date=") and f.endswith(".parquet")
                                   for f in files)
    df = read_log_dataset(spark, str(out))
    assert [(f.name, f.dataType) for f in df.schema.fields if f.name != "date"] == [
        (f.name, f.dataType) for f in LOG_SCHEMA.fields
    ]
    assert dict(df.dtypes)["date"] == "date"
    assert df.count() == 120


def test_concurrent_callbacks_lose_and_duplicate_no_rows(spark, tmp_path):
    """More threads than cores log and flush at once: every row lands on
    disk exactly once."""
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=37)
    threads = [threading.Thread(target=log_llm_starts, args=(logger, 300, f"t{k}-"))
               for k in range(3 * os.cpu_count())]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    logger.flush()
    run_ids = [r["run_id"] for f in files_under(out) for r in pq.read_table(out / f).to_pylist()]
    assert sorted(run_ids) == sorted(f"t{k}-{i}" for k in range(len(threads)) for i in range(300))


def test_flush_error_policy_raises_from_the_callback(spark, tmp_path, sink_sleeps):
    logger = SparkParquetLogger(spark, str(tmp_path / "logs"), buffer_size=2)
    logger.sink = FailingSink(str(tmp_path / "logs"), fail_times=99, retry_attempts=2)
    log_llm_starts(logger, 1)
    with pytest.raises(RuntimeError, match="after 2 attempts"):
        log_llm_starts(logger, 1)
    assert logger.sink.calls == 2
    assert sink_sleeps == [1]
    assert not (tmp_path / "logs").exists()


def test_flush_continue_policy_logs_and_carries_on(spark, tmp_path, caplog, sink_sleeps):
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=2)
    logger.sink = FailingSink(str(out), fail_times=2, retry_attempts=2, on_failure="continue")
    log_llm_starts(logger, 2, "lost")  # both attempts fail: logged, not raised
    assert any("continuing" in r.message for r in caplog.records)
    log_llm_starts(logger, 2, "kept")
    assert sorted(r.run_id for r in read_log_dataset(spark, str(out)).collect()) == [
        "kept0", "kept1"
    ]


def test_failing_remote_leg_under_continue_keeps_local_rows(spark, tmp_path, sink_sleeps):
    logger = SparkParquetLogger(spark, str(tmp_path / "local"), buffer_size=3)
    logger.sink = CompositeSink([
        ParquetSink(str(tmp_path / "local")),
        FailingSink(str(tmp_path / "remote"), fail_times=99, retry_attempts=2,
                    on_failure="continue"),
    ])
    log_llm_starts(logger, 3)
    assert read_log_dataset(spark, str(tmp_path / "local")).count() == 3
    assert not (tmp_path / "remote").exists()


def test_failed_attempt_leaves_no_visible_file(spark, tmp_path, monkeypatch):
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=10)
    logger.sink.retry_attempts = 1

    def broken_replace(src, dst):
        raise OSError("disk full")

    monkeypatch.setattr(sinks.os, "replace", broken_replace)
    with pytest.raises(RuntimeError, match="after 1 attempts"):
        log_llm_starts(logger, 10)
    assert files_under(out) == []  # not even the hidden temp file
    monkeypatch.undo()
    log_llm_starts(logger, 10)
    assert read_log_dataset(spark, str(out)).count() == 10


def test_retry_after_a_partial_publish_does_not_duplicate_rows(spark, tmp_path,
                                                              sink_sleeps):
    """A flush across midnight writes two partitions; the first attempt
    publishes one and fails on the other, and the retry publishes both
    under the same names."""
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=10**9)
    log_llm_starts(logger, 6)
    midnight = dt.datetime(2024, 5, 2, tzinfo=UTC)
    logger._buffer = [(midnight + dt.timedelta(seconds=i - 3), *row[1:])
                      for i, row in enumerate(logger._buffer)]
    put = logger.sink.arrow_store()
    seen: list[str] = []

    def second_file_fails_once(body, rel):
        seen.append(rel)
        if len(seen) == 2:
            raise ConnectionError("injected failure")
        put(body, rel)

    logger.sink._put = second_file_fails_once
    logger.flush()
    assert len(seen) == 4 and seen[:2] == seen[2:]  # one retry, same file names
    assert len(files_under(out)) == 2
    back = read_log_dataset(spark, str(out))
    assert sorted(r.run_id for r in back.collect()) == [f"r{i}" for i in range(6)]
    assert {str(r.date) for r in back.collect()} == {"2024-05-01", "2024-05-02"}


def test_s3_leg_round_trips_under_moto(spark, tmp_path, monkeypatch):
    moto = pytest.importorskip("moto")
    import boto3

    for k, v in {"AWS_ACCESS_KEY_ID": "testing", "AWS_SECRET_ACCESS_KEY": "testing",
                 "AWS_DEFAULT_REGION": "us-east-1"}.items():
        monkeypatch.setenv(k, v)
    for bucket, s3_dir, prefix in [("logs-bucket", "s3a://logs-bucket/llm/", "llm/"),
                                   ("root-bucket", "s3a://root-bucket", "")]:
        with moto.mock_aws():
            client = boto3.client("s3")
            client.create_bucket(Bucket=bucket)
            local = tmp_path / bucket
            with SparkParquetLogger(spark, str(local), s3_dir=s3_dir,
                                    buffer_size=100) as logger:
                log_llm_starts(logger, 7)
            keys = [o["Key"] for o in client.list_objects_v2(Bucket=bucket)["Contents"]]
            assert [f"{prefix}{f}" for f in files_under(local)] == keys
            body = client.get_object(Bucket=bucket, Key=keys[0])["Body"].read()
        assert body == (local / files_under(local)[0]).read_bytes()  # the same bytes
        assert pq.read_table(local / files_under(local)[0]).num_rows == 7


def test_unsupported_scheme_fails_when_the_logger_is_built(spark):
    with pytest.raises(ValueError, match="write_log"):
        SparkParquetLogger(spark, "hdfs://namenode/logs")
    with pytest.raises(ValueError, match="write_log"):
        SparkParquetLogger(spark, "/tmp/unused", s3_dir="gs://bucket/logs")


def test_atexit_flush_writes_the_partial_buffer_without_a_jvm(tmp_path):
    """A process logs fewer than buffer_size events, stops Spark and its
    JVM, and exits without flushing: the atexit hook writes the rows."""
    out = tmp_path / "logs"
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
        from langchain_callback_parquet_logger_spark import SparkParquetLogger
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.driver.memory", "512m")
                 .config("spark.ui.enabled", "false").getOrCreate())
        logger = SparkParquetLogger(spark, {str(out)!r}, buffer_size=100)
        for i in range(3):
            logger.on_llm_start({{}}, ["p"], run_id=f"exit{{i}}")
        spark.stop()
        gateway = SparkContext._gateway
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on end of input
        gateway.proc.wait(timeout=120)
    """)
    subprocess.run([sys.executable, "-c", script], check=True, timeout=300,
                   capture_output=True)
    files = files_under(out)
    assert len(files) == 1
    rows = pq.read_table(out / files[0]).to_pylist()
    assert sorted(r["run_id"] for r in rows) == ["exit0", "exit1", "exit2"]


def test_closed_logger_is_not_kept_alive_by_atexit(spark, tmp_path):
    """Leaving the ``with`` block flushes and drops the atexit hook, which
    would otherwise hold the logger and its sink until the interpreter
    exits."""
    out = tmp_path / "logs"
    with SparkParquetLogger(spark, str(out), buffer_size=100) as logger:
        log_llm_starts(logger, 3)
    ref = weakref.ref(logger)
    del logger
    gc.collect()
    assert ref() is None
    assert read_log_dataset(spark, str(out)).count() == 3


def test_mixed_spark_and_arrow_tree_reads_and_compacts(spark, tmp_path):
    """A tree holding a Spark-written flush (INT96 timestamps) and an Arrow
    flush reads back with LOG_SCHEMA types, and compaction keeps every row."""
    out = str(tmp_path / "logs")
    logger = SparkParquetLogger(spark, out, buffer_size=10**9)
    log_llm_starts(logger, 4, "spark")
    old = spark.createDataFrame(logger._buffer, RAW_EVENT_DDL)
    logger._buffer = []
    ts_conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(ts_conf)
    spark.conf.set(ts_conf, "INT96")  # Spark's default, which the old flush wrote
    try:
        ParquetSink(out).write(normalize_events(old))
    finally:
        spark.conf.set(ts_conf, prev)
    log_llm_starts(logger, 5, "arrow")
    logger.flush()

    kinds = sorted(
        pq.ParquetFile(os.path.join(out, f)).schema.column(0).physical_type
        for f in files_under(out) if not f.rsplit("/", 1)[-1].startswith(("_", "."))
    )
    assert "INT96" in kinds and "INT64" in kinds
    df = read_log_dataset(spark, out)
    assert [(f.name, f.dataType) for f in df.schema.fields if f.name != "date"] == [
        (f.name, f.dataType) for f in LOG_SCHEMA.fields
    ]
    assert dict(df.dtypes)["date"] == "date"
    before = sorted(tuple(r) for r in df.collect())
    assert len(before) == 9
    compact_logs(spark, out)
    assert sorted(tuple(r) for r in read_log_dataset(spark, out).collect()) == before


# --- the per-flush file ------------------------------------------------------


def test_arrow_write_spanning_two_dates_writes_one_file_per_date(tmp_path):
    rows = [
        (dt.datetime(2024, 1, 1, 23, 59, tzinfo=UTC), "a", None, "llm_start", [], {}, None, None),
        (dt.datetime(2024, 1, 2, 0, 1, tzinfo=UTC), "b", None, "llm_end", [], {}, None, None),
        (dt.datetime(2024, 1, 1, 12, 0, tzinfo=UTC), "c", None, "llm_end", [], {}, None, None),
    ]
    out = tmp_path / "logs"
    ParquetSink(str(out)).write(normalize_rows(rows, UTC))
    files = files_under(out)
    assert [f.split("/")[0] for f in files] == ["date=2024-01-01", "date=2024-01-02"]
    assert [sorted(pq.read_table(out / f)["run_id"].to_pylist()) for f in files] == [
        ["a", "c"], ["b"]
    ]


def test_logger_file_keeps_dictionary_and_statistics_off_the_payload(spark, tmp_path):
    """Dictionary pages and min/max statistics only on the columns readers
    group or filter by; timestamp's statistics carry compaction's file
    skipping. Spark reads the tree with LOG_SCHEMA."""
    out = tmp_path / "logs"
    logger = SparkParquetLogger(spark, str(out), buffer_size=5)
    for i in range(12):
        logger.on_llm_start({"_type": "fake"}, [f"p{i}"], run_id=f"r{i}",
                            parent_run_id="chain", tags=["logger_custom_id:c1"])
    logger.flush()
    files = files_under(out)
    assert len(files) == 3
    written = []
    for f in files:
        pf = pq.ParquetFile(out / f)
        rg = pf.metadata.row_group(0)
        chunks = {rg.column(i).path_in_schema: rg.column(i) for i in range(rg.num_columns)}
        stamps = pf.read(columns=["timestamp"])["timestamp"].to_pylist()
        ts = chunks["timestamp"].statistics
        assert ts.has_min_max and (ts.min, ts.max) == (min(stamps), max(stamps))
        assert chunks["event_type"].statistics.has_min_max
        assert chunks["payload"].statistics is None
        assert not chunks["payload"].has_dictionary_page
        assert chunks["event_type"].has_dictionary_page
        written += pf.read().to_pylist()
    df = spark.read.schema(LOG_SCHEMA).parquet(str(out))
    cols = [f.name for f in LOG_SCHEMA.fields if f.name != "timestamp"]
    assert sorted(tuple(r[c] for c in cols) for r in df.collect()) == sorted(
        tuple(r[c] for c in cols) for r in written
    )
    assert df.filter("timestamp IS NULL").count() == 0


# --- each handler argument is converted once --------------------------------


class _CountingModel:
    """Pydantic-like: counts its model_dump calls."""

    calls = 0

    def model_dump(self):
        type(self).calls += 1
        return {"text": "hi"}


def test_handler_converts_each_argument_once(spark, tmp_path):
    logger = SparkParquetLogger(spark, str(tmp_path / "logs"), buffer_size=10**9)
    _CountingModel.calls = 0
    logger.on_llm_start(_CountingModel(), [_CountingModel()], run_id="r",
                        invocation_params={"m": _CountingModel()})
    assert _CountingModel.calls == 3  # serialized, prompts, invocation_params
    data = json.loads(logger._buffer[0][6])
    assert data["prompts"] == [{"text": "hi"}]
    assert data["invocation_params"] == {"m": {"text": "hi"}}


def test_handler_keeps_an_argument_nested_21_levels(spark, tmp_path):
    """The depth limit counts from each handler argument. The second walk
    of the whole payload restarted the count one level up and turned the
    innermost list of this argument into a str; it now keeps its shape."""
    deep = "leaf"
    for _ in range(21):
        deep = [deep]
    logger = SparkParquetLogger(spark, str(tmp_path / "logs"), buffer_size=10**9)
    logger.on_llm_start({}, deep, run_id="r")
    assert json.loads(logger._buffer[0][6])["prompts"] == deep


# --- golden data/raw text -----------------------------------------------------


class _ItemsOverride(dict):
    def items(self):
        return [("overridden", True)]


class _FrozenMapping(Mapping):
    def __init__(self, d):
        self._d = d

    def __getitem__(self, k):
        return self._d[k]

    def __iter__(self):
        return iter(self._d)

    def __len__(self):
        return len(self._d)


class _Level(enum.IntEnum):
    HIGH = 3


class _Tag(str):
    pass


class _Model:
    def model_dump(self):
        return {"text": "hi", "n": (1, 2)}


def _nested(levels: int):
    deep = "leaf"
    for _ in range(levels):
        deep = [deep]
    return deep


def _golden_sample() -> dict:
    return {
        "ordered": collections.OrderedDict([("b", 1), ("a", [1.5, None])]),
        "items_override": _ItemsOverride(x=1),
        "mapping": _FrozenMapping({"k": "v", 2: "two"}),
        "int_enum": _Level.HIGH,
        "str_sub": _Tag("tagged"),
        "keys": {1: "one", None: "none", (1, 2): "pair", "s": "é\x01"},
        "bool_key": {True: "yes"},
        "set": {3, 1, 2},
        "tuple": (1, "a", (2,)),
        "when": dt.datetime(2024, 1, 2, 3, 4, 5, 6, tzinfo=UTC),
        "model": _Model(),
        "nested21": _nested(21),
        "nested22": _nested(22),
    }


def _golden_text(kept: int, cut21: str, cut22: str) -> str:
    """The sample's JSON text; its nested lists keep ``kept`` levels and
    the level below them is the ``str`` of the rest."""

    def cut(rest: str) -> str:
        return "[" * kept + rest + "]" * kept

    return (
        '{"ordered":{"b":1,"a":[1.5,null]},"items_override":{"overridden":true},'
        '"mapping":{"k":"v","2":"two"},"int_enum":3,"str_sub":"tagged",'
        r'"keys":{"1":"one","None":"none","(1, 2)":"pair","s":"\u00e9\u0001"},'
        '"bool_key":{"True":"yes"},"set":[1,2,3],"tuple":[1,"a",[2]],'
        '"when":"2024-01-02T03:04:05.000006+00:00","model":{"text":"hi","n":[1,2]},'
        f'"nested21":{cut(cut21)},"nested22":{cut(cut22)}}}'
    )


# the sample as a whole argument or payload section, and one level below it
SAMPLE_TOP = _golden_text(20, '''"['leaf']"''', '''"[['leaf']]"''')
SAMPLE_BELOW = _golden_text(19, '''"[['leaf']]"''', '''"[[['leaf']]]"''')


def test_handler_and_log_event_json_text_is_pinned(spark, tmp_path):
    """The exact data/raw text of subclasses, non-dict mappings, enums,
    non-str keys, sets, datetimes, model objects and the depth cut, as the
    conversion cascade wrote it before exact types were dispatched first."""
    logger = SparkParquetLogger(spark, str(tmp_path / "logs"), buffer_size=10**9,
                                event_types=["llm_start", "chain_end"])
    logger.on_llm_start(_FrozenMapping({"_type": "fake"}), [_golden_sample()], run_id="r",
                        invocation_params=_golden_sample())
    logger.on_chain_end(_golden_sample(), run_id="r")
    logger.log_event("custom", run_id="r", data=_golden_sample(),
                     raw={"wrapped": _golden_sample()}, _bypass_filter=True)
    assert [(row[3], row[6], row[7]) for row in logger._buffer] == [
        ("llm_start",
         f'{{"prompts":[{SAMPLE_BELOW}],"llm_type":"fake","serialized":{{"_type":"fake"}},'
         f'"invocation_params":{SAMPLE_TOP}}}',
         f'{{"serialized":{{"_type":"fake"}},"prompts":[{SAMPLE_BELOW}],"run_id":"r",'
         f'"invocation_params":{SAMPLE_TOP}}}'),
        ("chain_end", f'{{"outputs":{SAMPLE_TOP}}}', '{"run_id":"r"}'),
        ("custom", SAMPLE_TOP, f'{{"wrapped":{SAMPLE_BELOW}}}'),
    ]
