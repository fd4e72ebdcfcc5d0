"""Iterative graph operators over near-duplicate pairs: connected
components, integer PageRank and label propagation, the standard
Pregel-style loops expressed in DataFrame ops (the reference has nothing
iterative at all). All three start from one symmetric edge list,
:func:`_symmetric_edges`, cached with ``cache_tracked``.

Connected components turns pairwise dedup verdicts (q_ngram_jaccard,
q_minhash_dedup, q_simhash_pairs) into disjoint duplicate CLUSTERS with
one canonical document each, which is what a curation pipeline actually
deletes against. Every node starts labeled with itself; each round a
node takes the minimum label among itself and its neighbors; converged
when no label changes. Rounds needed = graph diameter (near-dup clusters
are small and clique-ish, so 2-4 in practice).

Scale design:
- Each round is ONE shuffle join (symmetric edge list ⋈ labels on the
  node key) + a min-aggregate — the exact shape GraphFrames/GraphX use.
  Partitioning by node key is stable across rounds, so AQE reuses the
  exchange layout.
- ``localCheckpoint(eager=True)`` truncates the lineage every round;
  without it the plan doubles per iteration and the driver OOMs on plan
  size long before data is the problem (on a cluster, ``checkpoint()`` to
  reliable storage is the durable variant).
- The changed-label count is OBSERVED (``DataFrame.observe``) on the
  join that builds the new labels, so it arrives with the round's
  checkpoint job: one Spark action per round, and the driver reads one
  scalar, not rows.

The declared query's oracle is a DuckDB recursive CTE computing the
transitive closure and taking min over each reachable set — same fixpoint,
different engine, value-identical labels.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .dedup import _oracle_minhash, q_minhash_dedup

CC_MAX_ROUNDS = 25


def _symmetric_edges(
    edges: DataFrame, src: str, dst: str, self_loops: bool = False
) -> DataFrame:
    """(src, dst) → cached distinct (u, v) holding both directions of every
    edge, plus (u, u) and (v, v) when ``self_loops``.

    The projected edge list is checkpointed eagerly BEFORE the union:
    every union leg references it, and without the checkpoint the
    upstream plan (here: the whole MinHash pair pipeline) executes once
    PER LEG in the job that first materializes the cached result
    (measured at sf0.1: q_dup_centrality 3.38 s and q_label_propagation
    4.02 s, against 2.55 s and 2.56 s with it)."""
    from ..plans.session import cache_tracked, scoped_conf

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True
    )
    legs = [e, e.select(F.col("v").alias("u"), F.col("u").alias("v"))]
    if self_loops:
        legs += [
            e.select("u", F.col("u").alias("v")),
            e.select(F.col("v").alias("u"), "v"),
        ]
    # A cached plan keeps the full shuffle width of its distinct() unless
    # AQE may change its output partitioning; let it coalesce, so every
    # round's scan of this small frame is one task, not one per partition.
    with scoped_conf(
        e.sparkSession,
        {"spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true"},
    ):
        return cache_tracked(reduce(DataFrame.unionByName, legs).distinct())


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(src, dst) undirected edge list → (node, label) where label is the
    smallest node id in the node's component. Raises RuntimeError when
    no fixpoint is reached in CC_MAX_ROUNDS rounds."""
    sym = _symmetric_edges(edges, src, dst)
    labels = (
        sym.select(F.col("u").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    for _ in range(CC_MAX_ROUNDS):
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        # Labels only fall, so the rows whose neighbour minimum undercuts
        # the old label are exactly the rows that change this round.
        changed = Observation()
        labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .observe(
                changed, F.count_if(F.col("nlabel") < F.col("label")).alias("n")
            )
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        if changed.get["n"] == 0:
            return labels
    raise RuntimeError(f"connected_components: no fixpoint in {CC_MAX_ROUNDS} rounds")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters: canonical doc (minimum doc_id)
    and cluster size. Edges come from the MinHash+LSH path
    (:func:`~..dedup.q_minhash_dedup`) — the candidate generator that stays
    linear at 100 TB; the exact n-gram Jaccard all-pairs baseline
    (q_ngram_jaccard) is kept only for validating LSH recall at small SF,
    never as the production edge input."""
    pairs = q_minhash_dedup(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    return labels.groupBy(F.col("label").alias("canonical_doc_id")).agg(
        F.count("*").alias("cluster_size")
    )


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS (
  {_oracle_minhash()}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(node, m) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.node, e.v FROM reach r JOIN edges e ON r.m = e.u
),
comp AS (
  SELECT node, MIN(m) AS label FROM reach GROUP BY node
)
SELECT label AS canonical_doc_id, COUNT(*) AS cluster_size
FROM comp GROUP BY label
"""


# ---------------------------------------------------------------------------
# Integer PageRank over the near-dup graph — centrality-based canonical
# selection. q_dedup_clusters picks the MIN doc_id as canonical (cheap,
# arbitrary); real curation pipelines prefer the most CENTRAL member of a
# duplicate cluster (the version most others are copies of). PageRank on
# the symmetric near-dup pair graph measures exactly that.
#
# Determinism contract: the whole iteration is INTEGER arithmetic —
# ranks live at a fixed scale of 1e9, per-edge contribution is
# rank div degree (exact floor division), damping 0.85 is the exact
# rational 17/20 applied as (17 * s) div 20, and the teleport term is
# (3 * scale) div 20 — so five iterations produce bit-identical BIGINTs
# in Spark, DuckDB (five unrolled CTEs), and Python, with no float in
# sight until the final display rounding. Fixed iteration count (not
# convergence-probed) keeps the oracle expressible as a static SQL text.
#
# Scale: each iteration is one equi-join of the edge list with the rank
# frame plus a hash aggregate on the destination key — the GraphX/Pregel
# message-passing shape; edges and degrees are computed once and cached.
# Five iterations ≈ diameter×2 for clique-ish dup clusters.
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 5
PAGERANK_SCALE = 1_000_000_000
_DAMP_NUM, _DAMP_DEN = 17, 20  # 0.85 as an exact rational
_TELEPORT = (PAGERANK_SCALE * (_DAMP_DEN - _DAMP_NUM)) // _DAMP_DEN


def pagerank_integer(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(src, dst) undirected edge list → (node, degree, rank_q) after
    PAGERANK_ITERS integer PageRank steps at the 1e9 fixed-point scale.
    The symmetric graph has no dangling nodes (every node has in-degree
    ≥ 1), so no dangling-mass correction is needed."""
    from ..plans.session import cache_tracked

    sym = _symmetric_edges(edges, src, dst)
    deg = cache_tracked(sym.groupBy("u").agg(F.count("*").alias("deg")))
    ranks = deg.select(
        "u", F.lit(PAGERANK_SCALE).cast("bigint").alias("r")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            sym.join(ranks, "u")
            .join(deg, "u")
            .select(F.col("v").alias("node"), F.expr("r div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contrib.select(
            F.col("node").alias("u"),
            (
                F.lit(_TELEPORT)
                + F.expr(f"({_DAMP_NUM} * s) div {_DAMP_DEN}")
            ).cast("bigint").alias("r"),
        )
    return deg.join(ranks, "u").select(
        F.col("u").alias("node"), "deg", F.col("r").alias("rank_q")
    )


def q_dup_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality of every document in the near-dup graph: doc_id,
    degree, and the 6-dp display rank after PAGERANK_ITERS integer
    PageRank steps over the MinHash+LSH pair graph."""
    pairs = q_minhash_dedup(spark, sf_dir).select("doc_a", "doc_b")
    pr = pagerank_integer(pairs, src="doc_a", dst="doc_b")
    return pr.select(
        F.col("node").alias("doc_id"),
        F.col("deg").alias("degree"),
        F.round(F.col("rank_q") / F.lit(float(PAGERANK_SCALE)), 6).alias(
            "centrality"
        ),
    )


def _oracle_dup_centrality() -> str:
    steps = []
    for i in range(1, PAGERANK_ITERS + 1):
        steps.append(
            f"""r{i} AS MATERIALIZED (
  SELECT e.v AS u,
         CAST({_TELEPORT} + ({_DAMP_NUM} * SUM(r{i - 1}.r // deg.deg))
              // {_DAMP_DEN} AS BIGINT) AS r
  FROM edges e
  JOIN r{i - 1} ON r{i - 1}.u = e.u
  JOIN deg ON deg.u = e.u
  GROUP BY e.v
)"""
        )
    chain = ",\n".join(steps)
    # MATERIALIZED for the same reason as the LPA oracle below: DuckDB
    # inlines plain CTEs, so every reference to edges, deg and r{i}
    # would re-run the MinHash pair pipeline.
    return f"""
WITH pairs AS MATERIALIZED (
  {_oracle_minhash()}
),
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
r0 AS (SELECT u, CAST({PAGERANK_SCALE} AS BIGINT) AS r FROM deg),
{chain}
SELECT d.u AS doc_id, d.deg AS degree,
       round(r{PAGERANK_ITERS}.r / {float(PAGERANK_SCALE)!r}, 6) AS centrality
FROM r{PAGERANK_ITERS} JOIN deg d USING (u)
"""


# ---------------------------------------------------------------------------
# Label propagation (Raghavan et al. 2007) over the near-dup graph —
# community detection, NOT connectivity: where connected components
# (q_dedup_clusters) fuse everything a chain of borderline pairs links,
# LPA assigns each node the MODE of its neighbours' labels, so weakly
# bridged clusters keep separate communities. The comparison between
# the two partitionings is exactly what a curator reads before deciding
# whether a giant "duplicate cluster" is one template family or several
# bridged ones.
#
# Determinism contract: synchronous updates for a FIXED iteration count
# with the tie-break (count DESC, label ASC) — no float, no dependence
# on visit order, so Spark, the unrolled DuckDB CTE chain, and a Python
# reference agree exactly.  Each node's OWN current label counts as one
# vote: pure neighbour voting oscillates with period 2 on bipartite
# components (an isolated near-dup PAIR — the most common component in
# the MinHash graph — would end an even iteration count back at two
# distinct labels), while the self-vote makes pairs and stars converge
# to one community and is the standard synchronous-LPA stabilizer.
#
# Scale: each iteration is one edge⋈label equi-join, a hash aggregate
# on (node, label), and a per-node argmax as min(struct(-count, label))
# — a second aggregate with map-side partials (SortAggregate over the
# already-collapsed label-count rows) — the same Pregel message-passing
# shape as pagerank_integer; edges are cached once.
# ---------------------------------------------------------------------------

LPA_ITERS = 4


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(src, dst) undirected edge list → (node, label) after LPA_ITERS
    synchronous mode-label rounds (ties → smallest label).

    Input self-loops are ABSORBED into the stabilizing self-vote: the
    loop-augmented edge list is built with ``distinct()``, so a graph
    that already contains (u, u) still gives u exactly ONE vote for its
    own label per round — not two, as a literal reading of synchronous
    LPA over the raw multigraph would. (Unreachable from
    q_label_propagation, whose MinHash pairs guarantee doc_a < doc_b;
    callers who need multigraph vote weights should pre-aggregate edge
    multiplicities instead of repeating edges.)"""
    # The self-vote is encoded as a SELF-LOOP edge per node: the label
    # frame is then referenced exactly ONCE per round (plain neighbour
    # voting over the loop-augmented graph), so the iteration chain
    # stays a linear plan — a second reference per round would fan the
    # label subtree out 2^LPA_ITERS times (r7 lesson).
    sym = _symmetric_edges(edges, src, dst, self_loops=True)
    labels = sym.select("u").distinct().select(
        "u", F.col("u").alias("label")
    )
    for _ in range(LPA_ITERS):
        counts = (
            sym.join(
                labels.select(
                    F.col("u").alias("v"), F.col("label").alias("nl")
                ),
                "v",
            )
            .groupBy("u", F.col("nl").alias("label"))
            .agg(F.count("*").alias("c"))
        )
        # Per-node argmax (mode label, ties → smallest label) as
        # min(struct(-c, label)): lexicographic struct ordering gives
        # max count then min label — ONE aggregate with map-side
        # partial combine (struct buffers land as SortAggregate, but
        # each node collapses to one row per partition BEFORE the
        # exchange). The former rank-1 window over (c desc, label asc)
        # computed the same row but shipped every label-count row to
        # the per-node sort each round.
        labels = (
            counts.groupBy("u")
            .agg(F.min(F.struct((-F.col("c")).alias("negc"), "label")).alias("m"))
            .select("u", F.col("m.label").alias("label"))
        )
    return labels.select(F.col("u").alias("node"), "label")


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities of the MinHash near-dup graph after LPA_ITERS
    synchronous label-propagation rounds: (community_label,
    community_size)."""
    pairs = q_minhash_dedup(spark, sf_dir).select("doc_a", "doc_b")
    labels = label_propagation(pairs, src="doc_a", dst="doc_b")
    return labels.groupBy(F.col("label").alias("community_label")).agg(
        F.count("*").alias("community_size")
    )


def _oracle_label_propagation() -> str:
    steps = []
    for i in range(1, LPA_ITERS + 1):
        steps.append(
            f"""c{i} AS (
  SELECT e.u, l.label, COUNT(*) AS c
  FROM edges e JOIN l{i - 1} l ON e.v = l.node
  GROUP BY 1, 2
),
l{i} AS MATERIALIZED (
  SELECT u AS node, label FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY c DESC, label ASC)
             AS rk
    FROM c{i}
  ) t WHERE rk = 1
)"""
        )
    chain = ",\n".join(steps)
    # The self-vote rides as self-loop edges (see label_propagation), so
    # every l{{i}} is referenced once; pairs/edges/l{{i}} still carry
    # MATERIALIZED because DuckDB inlines plain CTEs and the multi-leg
    # edges UNION would otherwise re-evaluate the whole MinHash pipeline
    # per leg (measured 46 s → ~3 s at sf0.1 when first added).
    return f"""
WITH pairs AS MATERIALIZED (
  {_oracle_minhash()}
),
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
  UNION
  SELECT doc_a AS u, doc_a AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_b AS v FROM pairs
),
l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM edges),
{chain}
SELECT label AS community_label, COUNT(*) AS community_size
FROM l{LPA_ITERS} GROUP BY 1
"""


QUERIES = {
    "q_dedup_clusters": q_dedup_clusters,
    "q_dup_centrality": q_dup_centrality,
    "q_label_propagation": q_label_propagation,
}

ORACLES = {
    "q_dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "q_dup_centrality": _oracle_dup_centrality(),
    "q_label_propagation": _oracle_label_propagation(),
}
