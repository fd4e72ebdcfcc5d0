"""SparkSession factory and table loading helpers.

Tuned for the harness (single-JVM ``local[N]``) but every setting is the one
you would also want on a real cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), UTC session timezone (deterministic oracle
comparison), Arrow enabled for the pandas interop used by the custom
operators, and shuffle partitions sized to cores instead of the 200 default.
"""

from __future__ import annotations

import os
import re
import shlex

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# A file:// FileSystem that sets mode bits in process: without libhadoop,
# Hadoop's own one forks ``chmod`` once per file, .crc file and directory it
# creates (source and build notes in jvm/ForkFreeLocalFs.java).
_LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jvm", "localfs.jar"
)
_LOCAL_FS = "langchain_callback_parquet_logger_spark.jvm.ForkFreeLocalFs"
# one line of a properties file: key, then value
_PROPERTY = re.compile(r"\s*([^#!\s=:][^\s=:]*)\s*[=:\s]\s*(.*)")


def _submit_default(key: str) -> str | None:
    """The value that spark-submit's properties files give ``key``: a
    ``--properties-file`` in PYSPARK_SUBMIT_ARGS first, then
    spark-defaults.conf in SPARK_CONF_DIR (or the Spark home's conf)
    unless a properties file replaced it. Parses ``key value``,
    ``key=value`` and ``key: value`` lines, as java.util.Properties does
    without escapes or continuations."""
    from pyspark.find_spark_home import _find_spark_home

    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    files = [b for a, b in zip(args, args[1:]) if a == "--properties-file"]
    files += [a.split("=", 1)[1] for a in args if a.startswith("--properties-file=")]
    if not files or "--load-spark-defaults" in args:
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
        files.append(os.path.join(conf_dir, "spark-defaults.conf"))
    for path in files:
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            found = [m[2].strip() for m in map(_PROPERTY.match, f) if m and m[1] == key]
        if found:
            return found[-1]
    return None


def _fork_free_local_fs(conf: dict[str, str]) -> dict[str, str]:
    """The confs that install the fork-free ``file://`` in a session.

    Launches the JVM with ``conf`` and the jar on its class path when no
    JVM runs yet. The jar goes on through
    ``spark.driver.defaultExtraClassPath``, which the launcher appends to
    ``spark.driver.extraClassPath`` (from ``--driver-class-path``, a
    ``--conf`` or spark-defaults.conf), joined to any value spark-defaults
    already gives it, so no class path a user configured is replaced.
    Returns no conf for a JVM that cannot load the class: one other code
    started. That JVM keeps Hadoop's own ``file://``. A JVM this function
    launched keeps the jar after ``spark.stop()``, so the next session in
    it gets the confs again."""
    from pyspark import SparkConf, SparkContext

    if SparkContext._gateway is None:
        key = "spark.driver.defaultExtraClassPath"
        cp = os.pathsep.join(filter(None, [_submit_default(key), _LOCAL_FS_JAR]))
        SparkContext._ensure_initialized(conf=SparkConf().setAll([*conf.items(), (key, cp)]))
    try:
        SparkContext._jvm.java.lang.Class.forName(_LOCAL_FS)
    except Exception:  # noqa: BLE001 — py4j's wrapped ClassNotFoundException
        return {}
    return {
        "spark.hadoop.fs.file.impl": _LOCAL_FS + "$Checksummed",
        # FileContext, which the streaming checkpoint manager renames through.
        # Spark's FileSystem-based manager would avoid FileContext with one
        # conf, but for every scheme, and where a rename does not replace
        # (HDFS) it returns without error from an overwriting commit.
        "spark.hadoop.fs.AbstractFileSystem.file.impl": _LOCAL_FS + "$Context",
    }


def get_spark(app_name: str = "langchain-callback-parquet-logger-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(max(int(cpus), 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "snappy",
        # The driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which vanilla Spark rejects (PARQUET_TYPE_ILLEGAL). Read it as
        # nanos-since-epoch LongType and convert in load_table.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    conf.update(_fork_free_local_fs(conf))
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-local TIMESTAMP regardless
    of the physical parquet encoding the generator used. Seen in the wild
    across driver rounds: TIMESTAMP(NANOS) (arrives as LongType under
    nanosAsLong — floor-divide to micros, matching DuckDB's ns→us
    truncation) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as
    TIMESTAMP_NTZ — cast re-tags the same wall-clock instant; the session
    timezone is pinned to UTC so the rendering is unchanged). Functions like
    ``unix_micros`` and stream watermarks require the LTZ type."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def pin_oracle_confs(spark: SparkSession) -> None:
    """(Re)apply the confs every read path depends on, so externally-created
    sessions (e.g. the driver's) get the same semantics as get_spark():

    - nanosAsLong: the driver testdata has stored events.ts as parquet
      TIMESTAMP(NANOS), which vanilla Spark rejects (PARQUET_TYPE_ILLEGAL);
    - UTC session timezone: timestamps in the testdata are timezone-naive
      and the DuckDB oracle treats them as such — a non-UTC session would
      shift the timestamp_ntz→timestamp cast in normalize_ts and every
      to_date()/window() rendering, failing strict hash grading.

    Called by both load_table and the streaming entry point (streaming/
    ingest._event_stream) — the ONLY two places frames enter the engine —
    so neither path depends on the other having run first."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Session confs that decide how parquet footers map to a Spark schema: the
# eight that ParquetToSparkSchemaConverter(SQLConf) reads, plus the two
# that decide which footers and partition directory names feed it.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# path -> (key, schema). One entry per path, replaced when its key
# changes. It holds no data and no JVM reference, so it is not tied to a
# session and outlives release_caches().
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def glob_escaped(path: str) -> str:
    """``path`` for ``spark.read``, which expands Hadoop globs: a
    backslash before each of the glob characters ``\\[]{}*?`` makes it
    match only the directory or file named ``path``."""
    return "".join("\\" + c if c in "\\[]{}*?" else c for c in path)


def _data_files(spark: SparkSession, path: str) -> tuple:
    """``(fs, files)``: the Hadoop file system of ``path`` and one sorted
    ``(path, length, modification time, Hadoop Path)`` per data file below
    it, from a ``listStatus`` walk (any scheme) that skips what Spark
    skips: names led by ``.``, or by ``_`` without a ``=``, and names
    ending in ``._COPYING_`` (a ``hadoop fs -put`` in flight).
    ``listFiles`` would walk the tree in one call, but on the local file
    system each status it returns asks for the file's owner and mode
    bits, and without libhadoop Hadoop's ``DeprecatedRawLocalFileStatus``
    forks an ``ls -ld`` for them (5.9 ms a file against 1.1 ms, 4-core
    host). The fork-free ``file://`` of :func:`get_spark` does not cover
    that fork."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files, todo = [], [hpath]
    while todo:
        for st in fs.listStatus(todo.pop()):
            p = st.getPath()
            s = p.toString()
            name = s[s.rfind("/") + 1:]
            hidden = name[:1] == "." or name.endswith("._COPYING_")
            if hidden or (name[:1] == "_" and "=" not in name):
                continue
            if st.isDirectory():
                todo.append(p)
            else:
                files.append((s, st.getLen(), st.getModificationTime(), p))
    return fs, sorted(files)


def _parquet_schema(spark: SparkSession, path: str, files: list | None = None) -> StructType:
    """The Spark schema of the parquet file or directory at ``path``.

    ``spark.read.parquet(path)`` answers every call with a one-task
    schema-inference job. Here that job runs once per key: the
    ``(path, length, modification time)`` of every data file under
    ``path`` (``files`` when the caller has listed them already, else
    :func:`_data_files`) and the values of ``_SCHEMA_CONFS``. Spark
    itself uses length and modification time to notice a changed file.
    The listing is taken before the inference, so a file rewritten in
    between gives a key that misses next time."""
    if files is None:
        files = _data_files(spark, path)[1]
    key = (tuple(f[:3] for f in files), tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != key:
        hit = _SCHEMAS[path] = (key, spark.read.parquet(glob_escaped(path)).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan with partition discovery, read with an explicit schema.

    The schema comes from the files themselves (parquet is
    self-describing), inferred by :func:`_parquet_schema` on the first
    load of a table in the process and reused until the table's files or
    the schema confs change, so a repeated load starts no Spark job.

    ``events.ts`` is normalized to TIMESTAMP via :func:`normalize_ts`
    (the generator's physical encoding has varied across rounds)."""
    pin_oracle_confs(spark)
    path = table_path(sf_dir, name)
    df = spark.read.schema(_parquet_schema(spark, path)).parquet(glob_escaped(path))
    if name == "events":
        df = normalize_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


class scoped_conf:
    """Temporarily override session confs (restored on exit). Used to size
    a streaming query's state-store partition count independently of the
    batch shuffle parallelism: the stateful shuffle's partition count is
    fixed at first checkpoint and every partition carries a state-store
    provider, so a small drain wants few fat state partitions while batch
    shuffles keep cores×1. On a real cluster the same knob scales the
    state partition count UP with the key cardinality."""

    def __init__(self, spark: SparkSession, confs: dict[str, str]):
        self._spark = spark
        self._confs = dict(confs)
        self._saved: dict[str, str | None] = {}

    def __enter__(self):
        for k, v in self._confs.items():
            try:
                self._saved[k] = self._spark.conf.get(k)
            except Exception:
                self._saved[k] = None
            self._spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, old in self._saved.items():
            if old is None:
                self._spark.conf.unset(k)
            else:
                self._spark.conf.set(k, old)
        return False


# Below this estimated input size the repartition exchange costs more than
# the parallelism it buys. Measured A/B at sf0.1 (584 KB documents, median
# of 3 cold reps): spread wins for every compute-heavy consumer
# (q_decontaminate 2.26→1.78 s, q_simhash_pairs 1.81→1.50 s,
# q_corpus_clean 0.75→0.62 s), so the threshold sits BELOW that — it only
# has to keep the exchange out of genuinely tiny inputs (the sf0.001/0.01
# correctness-gate scans, where the ~100 ms exchange is pure overhead on
# sub-100 ms queries). Catalyst's estimate for a parquet scan is the
# on-disk byte size, so this is "skip for inputs under ~256 KB".
SPREAD_MIN_BYTES = 256 * 1024


def spread(df: DataFrame, min_bytes: int = SPREAD_MIN_BYTES) -> DataFrame:
    """Widen a narrow scan before compute-heavy per-row work (shingling,
    hashing, feature extraction).

    A small table often arrives as a single parquet file → one partition →
    the whole map side runs on one core while the rest of the machine idles.
    Repartitioning to the default parallelism costs one tiny shuffle of the
    input rows and parallelizes everything downstream.

    Measure before spending: the exchange is only added when (a) Catalyst's
    size estimate says the input is big enough that per-row compute
    dominates the shuffle cost, and (b) the scan actually has fewer
    EFFECTIVE splits than cores. At warehouse scale the scan already has
    ≥cores splits and this is a NO-OP — the gates keep the extra exchange
    out of both tiny-data plans (where it is pure overhead) and big-data
    plans (where it is redundant).

    "Effective" matters (round-14 finding, guide §2.5 input skew): Spark
    assigns each parquet ROW GROUP to the byte-range split containing its
    midpoint, so a 131 MB file written as ONE row group reports 32 splits
    while every row lands in the single split holding the midpoint — 31
    empty partitions and a one-core map side that getNumPartitions()
    cannot see.  When the split count looks sufficient, the row-group
    counts from the parquet footers (driver-side metadata, read only
    until the bound is proven ≥ target, and skipped entirely when there
    are ≥ target files) bound the scan's REAL parallelism."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # stats unavailable (e.g. streaming frame): be safe
        est = min_bytes
    if est < min_bytes:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    if _scan_row_group_bound(df, target) < target:
        return df.repartition(target)
    return df


def _scan_row_group_bound(df: DataFrame, target: int) -> int:
    """Upper bound on how many non-empty partitions ``df``'s parquet scan
    can produce: the total row-group count of its input files (each row
    group is the atomic unit the reader hands to exactly one split).
    Returns ``target`` as soon as the bound is proven sufficient, and on
    any error (non-parquet source, no input files) — the caller then
    keeps the pre-round-14 behavior of trusting the split count."""
    try:
        files = df.inputFiles()
        if not files or len(files) >= target:  # ≥1 row group per file
            return target
        import pyarrow.parquet as pq

        groups = 0
        for uri in files:
            path = uri[7:] if uri.startswith("file://") else uri
            groups += pq.ParquetFile(path).metadata.num_row_groups
            if groups >= target:
                return target
        return groups
    except Exception:
        return target


def run_concurrently(*thunks):
    """Run independent Spark ACTIONS (writes, counts) from a small driver
    thread pool so the later job's tasks back-fill executors freed by the
    earlier job's straggler tail (optimization guide §2.6: actions are
    only sequential because driver code calls them sequentially).  Used
    by the index/maintenance lifecycles whose build steps write two
    independent tables — locally that overlaps two small jobs' fixed
    scheduling/commit latencies; on a cluster it keeps the tail from
    idling the fleet.  Returns the thunk results in order; the first
    exception propagates (both jobs are waited on either way — partial
    failure never goes unobserved)."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


# ---------------------------------------------------------------------------
# Tracked caching. Query builders persist reused sub-plans (LSH signatures,
# shingle sets) that multiple joins consume; Spark's CacheManager holds those
# blocks until an explicit unpersist, so repeated invocations in a long-lived
# session (bench reps, the 87-query grading pass) would otherwise accumulate
# resident cache. Builders register every persist here; harnesses call
# release_caches() after each query's action. The contract is documented on
# each caching query.
# ---------------------------------------------------------------------------

_TRACKED_CACHES: list[DataFrame] = []
_MEMOS: dict = {}


def cache_tracked(df: DataFrame) -> DataFrame:
    """persist() a reused sub-plan and register it for release_caches()."""
    df = df.persist()
    _TRACKED_CACHES.append(df)
    return df


def track_unpersistable(obj):
    """Register any .unpersist()-able resource (e.g. a Broadcast backing
    the gather-scored re-rank) for release_caches() — same lifecycle as
    tracked DataFrame caches, so harness reps never accumulate copies."""
    _TRACKED_CACHES.append(obj)
    return obj


def memo_tracked(key, build):
    """``build()``'s result, built once per ``key`` until the next
    release_caches().  For builders whose result holds tracked caches
    (e.g. the banded LSH front end shared by q_embedding_dedup and
    q_ann_join): within one release cycle every consumer shares a single
    cached copy, and because release_caches() drops the memo together
    with the caches, an entry never outlives the blocks it holds.  Put
    the applicationId in ``key`` so a frame built under a stopped
    session is never handed to a successor session in the same
    process."""
    if key not in _MEMOS:
        _MEMOS[key] = build()
    return _MEMOS[key]


def release_caches() -> int:
    """Unpersist every tracked cache (non-blocking) and drop every
    memo_tracked entry; returns the count of caches released."""
    _MEMOS.clear()
    n = 0
    while _TRACKED_CACHES:
        try:
            _TRACKED_CACHES.pop().unpersist()
        except Exception:
            pass  # session already stopped
        n += 1
    return n
