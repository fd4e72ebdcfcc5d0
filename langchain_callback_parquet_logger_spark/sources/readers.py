"""Event-source readers: batch and streaming intake of raw event files.

The reference's only sources are the 12 LangChain callback handlers
(`logger.py:252-415` in the reference) plus `pd.read_parquet` on the log
dir; here intake is format-pluggable: the same explicit raw-event schema
reads json / csv / parquet, batch or stream, and feeds the one
`normalize_events` pipeline. Schemas are always explicit — the engine
never infers (reference design choice, logger.py:21)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest import RAW_EVENT_DDL, RAW_EVENT_DDL_FLAT
from ..plans.session import glob_escaped

_FORMATS = ("json", "csv", "parquet")


def read_events(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    streaming: bool = False,
    **options: str,
) -> DataFrame:
    """Read raw callback events from an ingest directory with the explicit
    raw-event schema. ``streaming=True`` returns an unbounded readStream
    over the same files (tail-the-directory mode).

    CSV has no nested types, so ``tags``/``metadata`` travel as JSON
    strings in a flat schema and are from_json-parsed right after the scan
    — the returned frame has the SAME shape for every format."""
    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {_FORMATS}, got {fmt!r}")
    reader = spark.readStream if streaming else spark.read
    reader = reader.schema(RAW_EVENT_DDL_FLAT if fmt == "csv" else RAW_EVENT_DDL).format(fmt)
    if fmt == "csv":
        options.setdefault("header", "true")
        # RFC-4180 doubled-quote escaping (Spark's default escape is '\')
        options.setdefault("escape", '"')
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load(path)
    if fmt == "csv":
        df = df.withColumn(
            "tags", F.from_json("tags", "array<string>")
        ).withColumn("metadata", F.from_json("metadata", "map<string,string>"))
    return df


def read_log(spark: SparkSession, path: str) -> DataFrame:
    """Scan a written log dataset (hive-partitioned parquet tree) with
    partition discovery — filters on the `date` partition column prune
    directories before any I/O."""
    return spark.read.parquet(glob_escaped(path))
