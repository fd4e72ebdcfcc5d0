"""Graph operators (operators/graph.py): hand-built graphs pin the
fixpoint semantics; the DuckDB oracles pin values at sf0.01."""

from __future__ import annotations

import pytest

from langchain_callback_parquet_logger_spark.operators import graph as G
from langchain_callback_parquet_logger_spark.operators.graph import (
    connected_components,
    q_dedup_clusters,
)


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {
        r.node: r.label for r in connected_components(df, "src", "dst").collect()
    }


def test_two_components(spark):
    got = _labels(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_needs_multiple_rounds(spark):
    # a path graph of diameter 6: propagation must iterate, not just look
    # one hop out
    chain = [(i, i + 1) for i in range(1, 7)]
    got = _labels(spark, chain)
    assert set(got.values()) == {1}


def test_no_fixpoint_within_round_cap_raises(spark, monkeypatch):
    # the diameter-6 chain needs more than two rounds to converge
    monkeypatch.setattr(G, "CC_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="no fixpoint in 2 rounds"):
        _labels(spark, [(i, i + 1) for i in range(1, 7)])


@pytest.mark.parametrize(
    "op", ["connected_components", "pagerank_integer", "label_propagation"]
)
def test_edge_input_is_computed_once(spark, op):
    """Every leg of the symmetric union reads the checkpointed edge list,
    so the upstream edge plan runs once per edge row, not once per leg
    (nor once per round)."""
    from pyspark.sql import functions as F

    from langchain_callback_parquet_logger_spark.plans.session import (
        release_caches,
    )

    edges = [(i, i + 1) for i in range(1, 7)] + [(10, 11), (11, 12)]
    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("bigint")
    def counted(x):
        evaluated.add(1)
        return x

    df = spark.createDataFrame(edges, "src bigint, dst bigint").select(
        counted("src").alias("src"), "dst"
    )
    try:
        getattr(G, op)(df, "src", "dst").collect()
    finally:
        release_caches()
    assert evaluated.value == len(edges)


def test_cycle_and_self_loop(spark):
    got = _labels(spark, [(5, 6), (6, 7), (7, 5), (9, 9)])
    assert got[5] == got[6] == got[7] == 5
    assert got[9] == 9


def test_dedup_clusters_sizes(spark, sf_dir):
    rows = q_dedup_clusters(spark, sf_dir).collect()
    # every cluster has ≥2 members (singletons have no near-dup pair) and
    # the canonical id is not shared between clusters
    assert all(r.cluster_size >= 2 for r in rows)
    assert len({r.canonical_doc_id for r in rows}) == len(rows)


def test_pagerank_integer_star_graph_ranks_hub_highest(spark):
    """On a star (0 joined to 1..5), the hub must out-rank every leaf,
    all leaves tie exactly (integer arithmetic — no float jitter), and
    the Spark result matches a pure-Python reference bit-for-bit."""
    from langchain_callback_parquet_logger_spark.plans.session import (
        release_caches,
    )

    edges = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    try:
        got = {
            r.node: (r.deg, r.rank_q)
            for r in G.pagerank_integer(df).collect()
        }
    finally:
        release_caches()

    # pure-Python twin of the integer contract
    sym = set(edges) | {(b, a) for a, b in edges}
    deg: dict[int, int] = {}
    for u, _ in sym:
        deg[u] = deg.get(u, 0) + 1
    r = {u: G.PAGERANK_SCALE for u in deg}
    for _ in range(G.PAGERANK_ITERS):
        s: dict[int, int] = {u: 0 for u in deg}
        for u, v in sym:
            s[v] += r[u] // deg[u]
        r = {u: G._TELEPORT + (G._DAMP_NUM * s[u]) // G._DAMP_DEN for u in deg}
    assert got == {u: (deg[u], r[u]) for u in deg}
    hub = got[0][1]
    leaves = {got[i][1] for i in range(1, 6)}
    assert len(leaves) == 1 and hub > leaves.pop()


def test_label_propagation_matches_python_and_splits_bridged_cliques(spark):
    """Two 4-cliques joined by ONE bridge edge: connected components fuse
    them into one cluster, LPA must keep two communities (the bridge
    carries one vote, the cliques three) — the discriminating case the
    operator exists for. The Spark labels must equal a pure-Python
    synchronous-LPA twin exactly, fuzzed over random graphs."""
    import random

    from langchain_callback_parquet_logger_spark.plans.session import (
        release_caches,
    )

    def python_lpa(edges):
        sym = set(edges) | {(b, a) for a, b in edges}
        nodes = {u for u, _ in sym}
        label = {u: u for u in nodes}
        for _ in range(G.LPA_ITERS):
            new = {}
            for u in nodes:
                counts: dict = {label[u]: 1}  # self-vote
                for a, b in sym:
                    if a == u:
                        counts[label[b]] = counts.get(label[b], 0) + 1
                new[u] = min(counts, key=lambda L: (-counts[L], L))
            label = new
        return label

    def spark_lpa(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        try:
            return {
                r.node: r.label
                for r in G.label_propagation(df, "src", "dst").collect()
            }
        finally:
            release_caches()

    clique = lambda off: [
        (off + i, off + j) for i in range(4) for j in range(i + 1, 4)
    ]
    bridged = clique(0) + clique(10) + [(0, 10)]
    got = spark_lpa(bridged)
    assert got == python_lpa(bridged)
    assert len(set(got.values())) == 2  # the bridge must NOT fuse them
    assert {got[i] for i in range(4)} != {got[10 + i] for i in range(4)}

    # an isolated pair must converge to ONE community (the self-vote
    # case: pure neighbour voting oscillates and would report two)
    pair = spark_lpa([(7, 8)])
    assert pair == python_lpa([(7, 8)])
    assert pair[7] == pair[8] == 7

    rng = random.Random(8147)
    for trial in range(5):
        n = rng.randint(3, 14)
        edges = list(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(2, 24))
            }
        )
        assert spark_lpa(edges) == python_lpa(edges), (trial, edges)
