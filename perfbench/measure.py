"""Measurement primitives: the tail-percentile rule, the metric-name grammar,
process-tree CPU and memory read from ``/proc``, and Java heap use.

The process tree of a PySpark run has three classes of process: the driver
(this Python process), the JVM it launched, and the Python workers the JVM
forks through the PySpark daemon. Spark's own ``executorCpuTime`` sees only
JVM task threads, so CPU is read per process class from ``/proc`` instead.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

MIN_BEYOND = 10  # samples a reported tail percentile must leave above it
MIN_TAIL_PCT = 90.0  # below this the rule names no tail; the maximum stands in

_TICK = os.sysconf("SC_CLK_TCK")


def tail_rank(n: int, min_beyond: int = MIN_BEYOND) -> tuple[float, int] | None:
    """The highest percentile, in steps of 0.1, that leaves at least
    ``min_beyond`` of ``n`` samples above it, and its nearest rank (1-based).

    Integer arithmetic keeps the guarantee exact: rank <= n - min_beyond.
    Returns None when there are too few samples for any such percentile.
    """
    if n <= min_beyond:
        return None
    tenths = 1000 * (n - min_beyond) // n
    rank = max(1, -(-tenths * n // 1000))
    return tenths / 10, rank


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """(percentile, value) of the tail rule over ``values``; the maximum
    (p100) when the rule's percentile would fall below p90 (fewer than 100
    samples)."""
    ordered = sorted(values)
    r = tail_rank(len(ordered), min_beyond)
    if r is None or r[0] < MIN_TAIL_PCT:
        return 100.0, ordered[-1]
    pct, rank = r
    return pct, ordered[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    return statistics.geometric_mean(values) if values else 0.0


def check_name(name: str) -> None:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")


def check_unit(unit: str) -> None:
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad metric unit {unit!r}")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may contain spaces and parentheses; it ends at the last ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    fields = raw[rpar + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, raw[lpar + 1 : rpar], (utime + stime + cutime + cstime) / _TICK


def _snapshot() -> dict[int, tuple[int, str, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def _descendants(root: int, procs: dict[int, tuple[int, str, float]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcessTree:
    """CPU seconds and peak memory of the driver, its JVM and the JVM's
    Python workers. Workers that exit are counted through their parent's
    reaped-children time, so the Python total is monotone.

    Through the py4j ``jvm`` view it also reads the live Java heap, which
    the resident set cannot show once the heap is committed."""

    def __init__(self, jvm_pid: int, jvm) -> None:
        self.jvm_pid = jvm_pid
        self._jvm = jvm

    def heap_live_mb(self) -> float:
        """Java heap in use right after a full collection, in MB: the live
        set. The peak use of the heap pools is not used, because it depends
        on when the collector chose to run (its spread was about 0.25)."""
        self._jvm.System.gc()
        usage = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return usage.getHeapMemoryUsage().getUsed() / 2**20

    def cpu(self) -> dict[str, float]:
        t = os.times()
        procs = _snapshot()
        jvm = procs.get(self.jvm_pid)
        python = sum(procs[p][2] for p in _descendants(self.jvm_pid, procs))
        return {
            "driver": t.user + t.system,
            "jvm": jvm[2] if jvm else 0.0,
            "python": python,
        }

    def peak_rss_mb(self) -> dict[str, float]:
        """High-water resident set per process class, in MB; the sum over the
        live tree is an upper bound on the tree's simultaneous peak."""
        procs = _snapshot()
        classes = {"driver": [os.getpid()], "jvm": [self.jvm_pid],
                   "python": _descendants(self.jvm_pid, procs)}
        return {k: sum(_hwm_kb(p) for p in pids) / 1024 for k, pids in classes.items()}


# ---------------------------------------------------------------------------
# host speed
# ---------------------------------------------------------------------------

# A shared host runs this guest's CPUs faster or slower from one minute to
# the next, by up to a third, and every timing of a run moves with it. So a
# fixed piece of pure-Python work (the probe) is timed while the workload
# runs: in log_capture after every chain run, between the callbacks; in
# query_registry on a background thread while each query runs (Prober). The
# timings are divided by the probe's slowdown against PROBE_REF_US. The
# probe is benchmark code, so only the host and the load on its CPUs move it.
PROBE_REF_US = 45.0  # the probe's median on an idle core of the 4-core host the bounds were set on

_PROBE_DOC = {
    "run_id": "0f8e2c1a-5d1b-4c3b-9a55-5d2f0e7b9c11",
    "tags": ["perfbench", "custom_id:req-1"],
    "messages": [{"type": "human", "content": "word " * 40}] * 3,
    "usage": {"input_tokens": 120, "output_tokens": 48},
    "ok": True,
    "score": 0.125,
}


def probe_ns() -> int:
    """Nanoseconds of one run of the probe: JSON round trips, a sort and a
    join, the kind of work the driver's Python does."""
    t0 = time.perf_counter_ns()
    for _ in range(2):
        s = json.dumps(_PROBE_DOC, sort_keys=True)
        n = len(json.loads(s)["messages"])
        "".join(sorted(s.split(" "))[::n])
    return time.perf_counter_ns() - t0


class Prober:
    """Times the probe every ``period_s`` on a background thread, for work
    that blocks the driver's own thread (a query waiting on the JVM). The
    probe holds the CPU for under 1% of one core."""

    def __init__(self, period_s: float = 0.01) -> None:
        self.samples: list[int] = []
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="host-probe", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self.samples.append(probe_ns())

    def __enter__(self) -> Prober:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@dataclass
class Slowdown:
    """The host's slowdown over a set of probes, against the reference.

    ``cpu`` is from their median: how much slower the CPU ran, which is what
    CPU time and a median latency feel. ``wall`` is from their mean, which
    also counts the probes the host stopped to run other guests (steal);
    a wall-clock total feels both. Dividing a time by the matching factor
    (multiplying a rate) scales it to the reference host."""

    cpu: float
    wall: float

    @classmethod
    def of(cls, samples_ns: list[int]) -> Slowdown:
        ref = PROBE_REF_US * 1e3
        return cls(statistics.median(samples_ns) / ref, statistics.fmean(samples_ns) / ref)


def host_ticks() -> list[int]:
    """The guest's CPU time counters, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int]) -> float:
    """The share of CPU time since ``before`` that the hypervisor gave to
    other guests (the steal column): a sign of a busy host."""
    d = [b - a for a, b in zip(before, host_ticks())]
    return 100 * d[7] / sum(d) if sum(d) else 0.0


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # the process exited
        pass
    return 0


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}
