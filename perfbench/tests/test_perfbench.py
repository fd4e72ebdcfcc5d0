"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import capture  # noqa: E402
import measure  # noqa: E402
import querywork  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _calls(pool):
    return [(c.method, repr(c.args), repr(c.kwargs), c.expect) for r in pool.runs for c in r]


# -- the event generator -------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    assert _calls(capture.generate(7, n_runs=60)) == _calls(capture.generate(7, n_runs=60))
    assert _calls(capture.generate(7, n_runs=60)) != _calls(capture.generate(8, n_runs=60))


def test_generator_expects_exactly_the_default_capture_set():
    from langchain_callback_parquet_logger_spark.schema import DEFAULT_EVENT_TYPES

    pool = capture.generate(3, n_runs=400)
    calls = [c for r in pool.runs for c in r]
    for c in calls:
        event_type = c.method.removeprefix("on_")
        assert (c.expect is not None) == (event_type in DEFAULT_EVENT_TYPES)
        if c.expect is not None:
            assert c.expect[:2] == (c.kwargs["run_id"], event_type)
    kinds = {c.method for c in calls}
    assert {"on_chain_start", "on_chat_model_start", "on_llm_start", "on_llm_end",
            "on_llm_error", "on_tool_start", "on_tool_end"} <= kinds
    with_id = {c.expect[0] for c in calls if c.expect and c.expect[2]}
    assert with_id, "a share of the runs carries a custom id"
    expected = pool.expected(calls)
    assert sum(expected.values()) == sum(c.expect is not None for c in calls)


class _StubLogger:
    """Takes any handler call; the cycles are found from the expected rows."""

    def __getattr__(self, name):
        return lambda *a, **kw: None

    def __exit__(self, *exc):
        pass


def test_drive_cuts_the_stream_into_flush_cycles():
    pool = capture.generate(5, n_runs=200)
    res = capture.drive(_StubLogger(), pool, 0)
    rows = sum(c.expect is not None for c in res.calls)
    assert len(res.cycles) == rows // capture.BUFFER_SIZE
    assert res.cycles[0].start == 0
    for a, b in zip(res.cycles, res.cycles[1:]):
        assert a.end == b.start
    for c in res.cycles:
        assert sum(x.expect is not None for x in res.calls[c.start : c.end]) == capture.BUFFER_SIZE
        assert res.calls[c.end - 1].expect is not None  # the call that flushed closes it
        assert c.seconds > 0
    assert len(res.probes_ns) == len(pool.runs)


def test_slowdown_takes_cpu_from_the_probe_median_and_wall_from_the_mean():
    ref_ns = int(measure.PROBE_REF_US * 1e3)
    slow = measure.Slowdown.of([ref_ns, ref_ns, 4 * ref_ns])  # one probe stalled
    assert (slow.cpu, slow.wall) == (1.0, 2.0)
    assert measure.probe_ns() > 0


def test_prober_samples_in_the_background_until_closed():
    with measure.Prober(period_s=0.001) as prober:
        time.sleep(0.05)
    n = len(prober.samples)
    assert n > 0 and all(x > 0 for x in prober.samples)
    time.sleep(0.01)
    assert len(prober.samples) == n


# -- the percentile rule -------------------------------------------------------


@pytest.mark.parametrize("n", [11, 12, 19, 20, 99, 100, 101, 999, 1000, 1001, 4950, 12345])
def test_tail_rank_leaves_ten_beyond_and_is_the_highest_such(n):
    pct, rank = measure.tail_rank(n)
    assert n - rank >= measure.MIN_BEYOND
    tenths = round(pct * 10)
    if tenths < 1000:  # one step higher must leave fewer than ten beyond
        higher_rank = -(-(tenths + 1) * n // 1000)
        assert n - higher_rank < measure.MIN_BEYOND


def test_tail_names_the_percentile_and_falls_back_to_the_maximum():
    values = list(range(1, 1001))
    pct, v = measure.tail(values)
    assert (pct, v) == (99.0, 990)
    assert measure.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert measure.tail(list(range(99))) == (100.0, 98)  # the rule would name p89.8
    assert measure.tail_rank(10) is None


# -- the metric-name grammar ---------------------------------------------------


def test_benchmark_json_names_and_units_follow_the_grammar():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        measure.check_name(n)
    for k in ("end_to_end", "per_layer"):
        for m in SPEC[k]:
            measure.check_unit(m["unit"])
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    for bad in ("", "_x", "a" * 65, "a b", "a/b"):
        with pytest.raises(ValueError):
            measure.check_name(bad)


def test_every_emitted_metric_is_declared():
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    layers = {m["name"] for m in SPEC["per_layer"]}
    ex = querywork.Execution("q_a", "queries", 0.1, 0.2, cpu={"driver": 0.1, "jvm": 0.1, "python": 0.0},
                             probes_ns=[45_000, 90_000])
    fake = querywork.QueryRun(
        names=["q_a"], warm=[], passes=[[ex]], wall_s=0.2,
        peak_rss_mb={"driver": 1.0, "jvm": 1.0, "python": 0.0},
        heap_live_mb={"q_a": 1.0}, files=1, bytes=1, oracle=None, sqls={})
    metrics, _ = querywork.end_to_end(fake)
    assert set(metrics) | {"setup_s"} == e2e
    traced = run.layer_metrics(tracing.Tracer(), {"layers": querywork.layers(fake)}, 1.0, 1.0)
    assert set(traced) == layers


# -- the registry ----------------------------------------------------------------


def test_every_registry_query_has_one_module_and_each_module_is_timed():
    import __spark_entry__ as entry

    assign = querywork.assignment()  # raises on a query registered twice
    assert set(assign) == set(entry.queries())
    assert set(entry.oracle_sql()) == set(assign)
    assert len(querywork.TIMED) == len(set(querywork.TIMED))
    assert {assign[q] for q in querywork.TIMED} == set(querywork.MODULES)
