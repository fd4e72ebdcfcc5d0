"""The fork-free ``file://`` FileSystem that ``get_spark`` installs
(``jvm/ForkFreeLocalFs.java``). Without libhadoop, Hadoop's own local
file system forks ``chmod`` for every file, .crc file and directory it
creates, and ``readlink`` under ``FileContext`` renames.

A child process the JVM reaps adds its CPU time to the JVM's
``cutime``/``cstime`` (``/proc/<pid>/stat``). A long-lived session's JVM
also reaps Python workers that earlier queries started, so the census
runs in a fresh child process per file system, whose JVM has run no
Python worker: there, a write or a streaming drain that forks nothing
leaves the counters as they were. With Hadoop's own file system the
240-file write below adds over a hundred clock ticks."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest

from langchain_callback_parquet_logger_spark.plans import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE = os.path.join(os.path.dirname(session._LOCAL_FS_JAR), "ForkFreeLocalFs.java")
DAYS, PARTS, ROWS, BATCHES = 10, 24, 3000, 6
PROBES = ("localfs-probe-extra.txt", "localfs-probe-default.txt")

# Starts the session (code may start a JVM before get_spark does) and
# reports which class path entries the JVM can see; writes ROWS log rows
# over DAYS dates in PARTS partitions (DAYS * PARTS data files), then drains BATCHES json files through a checkpointed
# stream one file a micro-batch; prints the file system classes, the
# JVM's reaped-children ticks around each step and Hadoop's mode bits,
# then stops the session and reports the FileContext file system of a
# second get_spark session in the same JVM.
CHILD = """
import json, os, sys
sys.path.insert(0, {root!r})
from pyspark.sql import functions as F
from langchain_callback_parquet_logger_spark.plans.session import get_spark
from langchain_callback_parquet_logger_spark.sinks import write_log
from langchain_callback_parquet_logger_spark.streaming.ingest import (
    read_event_stream, stream_to_log)

out = {out!r}
{first}
spark = get_spark("localfs")
jvm = spark.sparkContext._jvm
loader = jvm.java.lang.ClassLoader.getSystemClassLoader()
resources = [n for n in {probes!r} if loader.getResource(n) is not None]
conf = spark._jsc.hadoopConfiguration()
uri = jvm.java.net.URI("file:///")
pid = jvm.java.lang.ProcessHandle.current().pid()

def ticks():
    with open(f"/proc/{{pid}}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])  # cutime, cstime

frame = spark.range({rows}).select(
    F.timestamp_seconds(F.lit(1704067200) + F.col("id") % {days} * 86400 + F.col("id"))
    .alias("timestamp"),
    F.concat(F.lit("r"), F.col("id").cast("string")).alias("run_id"),
).repartition({parts})
frame.count()
t0 = ticks()
write_log(frame, os.path.join(out, "logs"))
t1 = ticks()

src = os.path.join(out, "incoming")
os.makedirs(src)
for b in range({batches}):
    with open(os.path.join(src, f"batch_{{b}}.json"), "w") as f:
        for i in range(5):
            f.write(json.dumps({{
                "timestamp": f"2024-01-0{{1 + i % 2}}T10:00:{{b * 5 + i:02d}}.000Z",
                "run_id": f"r{{b}}-{{i}}", "event_type": "llm_start",
                "data": json.dumps({{"prompts": ["p"]}}),
            }}) + "\\n")
events = read_event_stream(spark, src, max_files_per_trigger=1)
t2 = ticks()
q = stream_to_log(events, os.path.join(out, "stream"), os.path.join(out, "ckpt"),
                  event_types=["llm_start"])
q.awaitTermination(120)
t3 = ticks()

def afs(conf):
    return (jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
            .getDefaultFileSystem().getClass().getName())

perm = jvm.org.apache.hadoop.fs.permission.FsPermission
umask = perm.getUMask(conf)
res = {{
    "resources": resources,
    "fs": jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf).getClass().getName(),
    "afs": afs(conf),
    "write_ticks": t1 - t0,
    "stream_ticks": t3 - t2,
    "file_mode": perm.getFileDefault().applyUMask(umask).toShort(),
    "dir_mode": perm.getDirDefault().applyUMask(umask).toShort(),
    "log_rows": spark.read.parquet(os.path.join(out, "logs")).count(),
    "stream_rows": spark.read.parquet(os.path.join(out, "stream")).count(),
}}
spark.stop()
res["restart_afs"] = afs(get_spark("localfs-again")._jsc.hadoopConfiguration())
print("RESULT " + json.dumps(res))
"""


def run_child(out: str, first: str = "", **env: str) -> dict:
    script = CHILD.format(root=ROOT, out=out, rows=ROWS, days=DAYS, parts=PARTS,
                          batches=BATCHES, first=first, probes=list(PROBES))
    env = {**os.environ, "PYSPARK_SUBMIT_ARGS": "pyspark-shell",
           "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "512m", **env}
    proc = subprocess.run([sys.executable, "-c", script], env=env, cwd=ROOT,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    return json.loads(line[-1][len("RESULT "):])


@pytest.fixture(scope="module")
def shim_run(tmp_path_factory):
    """A deployment's spark-defaults.conf puts its own entries on the
    driver's class path, through both keys the launcher joins."""
    out = str(tmp_path_factory.mktemp("shim"))
    entries = {}
    for key, probe in zip(("extra", "default"), PROBES):
        entries[key] = os.path.join(out, "cp-" + key)
        os.makedirs(entries[key])
        open(os.path.join(entries[key], probe), "w").close()
    conf_dir = os.path.join(out, "conf")
    os.makedirs(conf_dir)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(f"spark.driver.extraClassPath   {entries['extra']}\n"
                f"spark.driver.defaultExtraClassPath={entries['default']}\n")
    return out, run_child(out, SPARK_CONF_DIR=conf_dir)


@pytest.fixture(scope="module")
def stock_run(tmp_path_factory):
    """A JVM other code started before ``get_spark`` holds no jar, so it
    cannot load the shim."""
    out = str(tmp_path_factory.mktemp("stock"))
    first = ('from pyspark.sql import SparkSession\n'
             'SparkSession.builder.master("local[2]").config("spark.driver.memory", "512m")'
             '.getOrCreate()')
    return out, run_child(out, first)


def modes(root: str) -> dict[tuple[bool, str], set[int]]:
    """The mode bits under ``root``, keyed by (is a directory, name), with
    the unique part of a data file's name cut off."""
    out: dict[tuple[bool, str], set[int]] = {}
    for d, _, names in os.walk(root):
        for name in [d, *(os.path.join(d, n) for n in names)]:
            key = os.path.relpath(name, root)
            if "part-" in key:  # part-<n>-<uuid>.c000.snappy.parquet[.crc]
                key = key[: key.index("part-")] + ("crc" if key.endswith(".crc") else "part")
            st = os.stat(name)
            out.setdefault((stat.S_ISDIR(st.st_mode), key), set()).add(stat.S_IMODE(st.st_mode))
    return out


def test_session_file_system_is_the_shim(spark):
    jvm = spark.sparkContext._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == session._LOCAL_FS + "$Checksummed"
    assert fs.getRawFileSystem().getClass().getName() == session._LOCAL_FS + "$Raw"
    afs = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf).getDefaultFileSystem()
    assert afs.getClass().getName() == session._LOCAL_FS + "$Context"


@pytest.mark.skipif(not os.path.exists("/proc/self/stat"), reason="reads /proc/<pid>/stat")
def test_partitioned_write_and_checkpoint_commits_fork_nothing(shim_run):
    """The write keeps Hadoop's umask-applied modes; each micro-batch
    writes and renames offset, commit and sink-log files through
    ``FileContext``, which the shim's ``Context`` serves."""
    out, res = shim_run
    assert (res["fs"], res["afs"]) == (session._LOCAL_FS + "$Checksummed",
                                       session._LOCAL_FS + "$Context")
    assert res["write_ticks"] == 0
    assert res["stream_ticks"] == 0
    logs = os.path.join(out, "logs")
    parts = [n for _, _, names in os.walk(logs) for n in names if n.endswith(".parquet")]
    assert len(parts) == DAYS * PARTS
    assert res["log_rows"] == ROWS
    for (is_dir, key), got in modes(logs).items():
        assert got == {res["dir_mode"] if is_dir else res["file_mode"]}, key
    assert len(os.listdir(os.path.join(out, "ckpt", "commits"))) >= 2 * BATCHES  # + .crc
    assert res["stream_rows"] == 5 * BATCHES


def test_a_session_restarted_in_the_same_jvm_keeps_the_shim(shim_run, stock_run):
    """``spark.stop()`` then ``get_spark()`` builds a new session in the
    JVM the first one launched, which still holds the jar; the new
    FileContexts (the streaming checkpoint manager's) are the shim's. A
    JVM without the jar stays on Hadoop's."""
    assert shim_run[1]["restart_afs"] == session._LOCAL_FS + "$Context"
    assert session._LOCAL_FS not in stock_run[1]["restart_afs"]


def test_the_jar_joins_the_class_path_a_user_configured(shim_run):
    """The entries that spark-defaults.conf gives
    ``spark.driver.extraClassPath`` and ``spark.driver.defaultExtraClassPath``
    stay on the class path beside the jar. (``--driver-class-path`` sets
    the first key, so it keeps the jar too.)"""
    res = shim_run[1]
    assert res["resources"] == list(PROBES)
    assert res["fs"] == session._LOCAL_FS + "$Checksummed"


def test_a_jvm_without_the_jar_keeps_hadoops_file_system_and_writes(shim_run, stock_run):
    """The JVM that cannot load the shim keeps Hadoop's ``file://`` and
    leaves the same files with the same mode bits."""
    (shim_out, shim), (stock_out, stock) = shim_run, stock_run
    assert session._LOCAL_FS not in stock["fs"] + stock["afs"]
    assert (stock["log_rows"], stock["stream_rows"]) == (ROWS, 5 * BATCHES)
    for tree in ("logs", "stream", "ckpt"):
        assert modes(os.path.join(stock_out, tree)) == modes(os.path.join(shim_out, tree)), tree


def test_jar_holds_the_compiled_source(tmp_path):
    """localfs.jar is the build of ForkFreeLocalFs.java, class for class."""
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac on PATH")
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    subprocess.run([javac, "--release", "17", "-cp", jars, "-d", str(tmp_path), SOURCE],
                   check=True, capture_output=True, timeout=300)
    built = {p.relative_to(tmp_path).as_posix(): p.read_bytes()
             for p in tmp_path.rglob("*.class")}
    with zipfile.ZipFile(session._LOCAL_FS_JAR) as jar:
        shipped = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert built and built == shipped
