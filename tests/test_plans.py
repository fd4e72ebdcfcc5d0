"""Physical-plan regression tests for the graded query surface.

Correctness is pinned by the DuckDB oracles; these tests pin the *scale*
properties — the plan shapes that make the same code work at 100 TB:

- predicate pushdown reaches the parquet scan (row-group skipping),
- column pruning reaches the scan (a 2-column rollup must not read `props`),
- small dims broadcast (no shuffle of the fact side for q_topk),
- aggregates are two-phase (map-side partial before the shuffle),
- JVM-path queries contain NO Python evaluation node (whole-stage codegen
  end to end; pandas UDFs appear only in the operators that need them).

A refactor that silently breaks one of these still passes the value
oracles at sf0.01 — and falls over at warehouse scale. This is the
guard-rail.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from langchain_callback_parquet_logger_spark.operators import (
    dedup,
    queries,
    similarity,
    text,
)


def _executed_plan(df) -> str:
    """Final physical plan string. ``collect()`` (not ``count()``) so THIS
    DataFrame's own query execution runs and its AdaptiveSparkPlan
    finalizes — count() would plan and execute a different query."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _initial_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = queries.q_filter_event_type(spark, sf_dir)
    plan = _initial_plan(df)
    assert "PushedFilters: [In(event_type" in plan, plan


def test_rollup_prunes_unused_columns(spark, sf_dir):
    df = queries.q_token_rollup(spark, sf_dir)
    plan = _initial_plan(df)
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "user_id" in scan and "value" in scan, scan
    # the wide columns must not be read for a 2-column rollup
    assert "props" not in scan and "event_type" not in scan, scan


def test_topk_broadcasts_dim_side(spark, sf_dir):
    df = queries.q_topk(spark, sf_dir)
    plan = _initial_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # top-k must be TakeOrdered (per-partition heap + driver merge),
    # never a global sort of the full aggregate output
    assert "TakeOrderedAndProject" in plan, plan


def test_dedup_keep_last_is_partial_argmax_not_window(spark, sf_dir):
    """Keep-last must be the argmax aggregate (partial_max(struct) BEFORE
    the exchange — wire carries distinct keys, ~80:1 collapse on events),
    never a rank-1 window, which ships every event to the per-key sort.
    Measured 2.0x -> 1.2x at the 10x probe when converted."""
    plan = _initial_plan(queries.q_dedup_keep_last(spark, sf_dir))
    assert "partial_max" in plan, plan
    assert "Window" not in plan, plan


def test_rollup_aggregates_in_two_phases(spark, sf_dir):
    df = queries.q_token_rollup(spark, sf_dir)
    plan = _initial_plan(df)
    assert "partial_sum" in plan or "partial_avg" in plan, plan
    assert "HashAggregate" in plan, plan


@pytest.mark.parametrize(
    "build",
    [
        queries.q_pricing_summary,
        queries.q_json_extract,
        queries.q_revenue_by_nation,
        text.q_text_stats,
        text.q_lang_id,
        dedup.q_exact_dedup,
        dedup.q_simhash,
        dedup.q_minhash_dedup,
        dedup.q_diversity_sample,
        similarity.q_knn_bruteforce,
        similarity.q_pq_quantize,
        text.q_bpe_merge_candidates,
    ],
    ids=lambda f: f.__name__,
)
def test_jvm_path_queries_have_no_python_eval(spark, sf_dir, build):
    plan = _initial_plan(build(spark, sf_dir))
    assert "EvalPython" not in plan, f"Python eval node leaked into {plan}"


def test_pricing_summary_runs_in_whole_stage_codegen(spark, sf_dir):
    plan = _executed_plan(queries.q_pricing_summary(spark, sf_dir))
    assert "*(" in plan, plan


def test_pricing_summary_filter_pushdown(spark, sf_dir):
    plan = _initial_plan(queries.q_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_embedding_dedup_plan_is_banded_not_pairwise(spark, sf_dir):
    """The LSH dedup must stay candidate-gated: signature frames cached
    (no per-join recompute of the 32 hyperplane folds), no cartesian
    product anywhere, and no Python stage."""
    df = similarity.q_embedding_dedup(spark, sf_dir)
    plan = _initial_plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan, plan


def test_user_value_median_is_jvm_side(spark, sf_dir):
    """The graded median must run in Spark's aggregation machinery — a
    regression back to the applyInPandas path shows up as a pandas node."""
    from langchain_callback_parquet_logger_spark.operators import batch_queries

    df = batch_queries.q_user_value_median(spark, sf_dir)
    plan = _initial_plan(df)
    assert "percentile" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan


def _analyzed_plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_funnel_joins_are_aqe_decided(spark, sf_dir):
    """The per-stage time tables (s1/s2) are one-row-per-USER frames whose
    cardinality grows with the corpus — they must carry NO hard broadcast
    hint (a forced broadcast OOMs at 100× user scale). AQE/statistics pick
    the strategy instead."""
    from langchain_callback_parquet_logger_spark.operators import analytic

    df = analytic.q_funnel(spark, sf_dir)
    assert "ResolvedHint" not in _analyzed_plan(df)
    # (the final 1-row×1-row count crossJoins are bounded by construction;
    # the stage joins themselves are equi-joins on user_id, so no
    # corpus-cardinality cartesian can appear)


def test_ngram_jaccard_size_dims_carry_no_hint(spark, sf_dir):
    """sa/sb are one-row-per-DOCUMENT dims; corpus-cardinality frames must
    never be hint-broadcast."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    df = dedup.q_ngram_jaccard(spark, sf_dir)
    try:
        assert "ResolvedHint" not in _analyzed_plan(df)
    finally:
        release_caches()


def test_decontaminate_bench_postings_carry_no_hint(spark, sf_dir):
    """The bench posting list is ~1/97th of the CORPUS — proportional to
    corpus size, not bounded by construction, so it must carry no hard
    broadcast hint (at 100 TB a forced ~1 TB broadcast OOMs every
    executor). AQE broadcasts it at runtime while it is actually small."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    df = dedup.q_decontaminate(spark, sf_dir)
    try:
        assert "ResolvedHint" not in _analyzed_plan(df)
    finally:
        release_caches()


def test_simhash_pairs_plan_is_band_blocked(spark, sf_dir):
    """Candidate generation must be an equi-join on (band_id, band_bits) —
    never an all-pairs join on a ~5-value key. The pigeonhole over
    HAMMING_THRESHOLD+1 bands keeps the result set exactly
    {pairs : hamming ≤ t}, so this is pure plan shape, no recall loss."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    df = dedup.q_simhash_pairs(spark, sf_dir)
    try:
        plan = _initial_plan(df)
        assert "band_bits" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "lang" not in plan, plan  # no lang-blocked join remnant
        assert "InMemoryTableScan" in plan, plan  # fingerprint frame cached
    finally:
        release_caches()


def test_sequence_pack_window_is_sharded(spark, sf_dir):
    """The per-doc cumsum must window on (lang, shard) — a plain
    partitionBy(lang) funnels the whole corpus through ≤|langs| sort
    tasks. The shard offset rollup may window on lang alone: it runs over
    one row per shard, not per doc."""
    from langchain_callback_parquet_logger_spark.operators import pipeline
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    df = pipeline.q_sequence_pack(spark, sf_dir)
    try:
        plan = _initial_plan(df)
        specs = [
            ln for ln in plan.splitlines() if "windowspecdefinition" in ln
        ]
        assert specs, plan
        assert any(
            "lang" in s and "shard" in s and "doc_id" in s for s in specs
        ), "\n".join(specs)
    finally:
        release_caches()


def test_bpe_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """Top-K merge candidates must be per-partition heaps + driver merge
    (TakeOrderedAndProject) — a global Sort of the pair-count table would
    serialize the tokenizer-training iteration at scale."""
    plan = _initial_plan(text.q_bpe_merge_candidates(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan  # two-phase aggregate


def test_incremental_dedup_plan_is_band_join_with_cached_index(spark, sf_dir):
    """The batch-vs-corpus join must be an equi-join on (band_id,
    band_key) over the cached band frame — no cartesian, no Python, no
    recompute of the signature pipeline per side."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    df = dedup.q_incremental_dedup(spark, sf_dir)
    try:
        plan = _initial_plan(df)
        assert "band_key" in plan, plan
        assert "InMemoryTableScan" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "EvalPython" not in plan, plan
    finally:
        release_caches()


def test_url_dedup_is_two_phase_aggregate_no_python(spark, sf_dir):
    """The canonicalizer must stay in the scan projection (pure JVM —
    regex/array expressions, no Python eval) and the dedup itself one
    two-phase hash aggregate on the canonical key: exactly one exchange,
    no join, no sort."""
    plan = _initial_plan(dedup.q_url_dedup(spark, sf_dir))
    assert "HashAggregate" in plan, plan
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # partial→final agg only


def test_quality_logit_is_bounded_broadcast_rollup(spark, sf_dir):
    """The apply step must add only a projection + the 4-row threshold
    broadcast + one hash aggregate on top of the feature frame — no
    Python, no cartesian blowup beyond the bounded threshold dim."""
    from langchain_callback_parquet_logger_spark.operators import text as T

    plan = _initial_plan(T.q_quality_logit(spark, sf_dir))
    assert "HashAggregate" in plan, plan
    assert "EvalPython" not in plan, plan
    assert "logit_q" in plan, plan


def test_index_dedup_query_leg_is_band_equi_join(spark, sf_dir, tmp_path):
    """Serving from the STORED index must be an equi-join of the batch's
    band keys against the stored band-table scan (no cartesian, no
    Python, no hard broadcast hint on the corpus-sized index side)."""
    from langchain_callback_parquet_logger_spark.operators import indexes as I
    from langchain_callback_parquet_logger_spark.plans.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_new = F.col("doc_id") % dedup.INCREMENTAL_BATCH_MOD == 0
    index_dir = str(tmp_path / "plan_dedup_index")
    I.materialize_dedup_index(docs.filter(~is_new), index_dir)
    df = I.dedup_against_index(spark, index_dir, docs.filter(is_new))
    plan = _initial_plan(df)
    assert "band_key" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan
    analyzed = _analyzed_plan(df)
    assert "hint" not in analyzed.lower(), analyzed


def test_index_ann_query_leg_is_banded_with_window_topk(spark, sf_dir, tmp_path):
    """The stored-ANN serve leg: band-key equi-join candidates, exact
    re-rank on candidates only, top-K as a row_number window keyed on
    query_id — no cartesian, no Python, no hard broadcast hints."""
    from langchain_callback_parquet_logger_spark.operators import indexes as I
    from langchain_callback_parquet_logger_spark.operators import similarity as S
    from langchain_callback_parquet_logger_spark.plans.session import (
        load_table,
        release_caches,
    )

    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    index_dir = str(tmp_path / "plan_ann_index")
    I.materialize_ann_index(vecs, index_dir)
    probes = vecs.limit(20).select(F.col("vec_id").alias("query_id"), "embedding")
    try:
        df = I.knn_against_index(spark, index_dir, probes, S.ANN_JOIN_K)
        plan = _initial_plan(df)
    finally:
        release_caches()
    assert "band_idx" in plan, plan
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_substring_dedup_is_hash_aggregate_shaped(spark, sf_dir):
    """Duplicated-span detection must stay linear AND aggregate-only
    (round-9 reshape): window explode → two hash-aggregates over the
    cached postings (per-doc count; per-whash count+owner) → one
    doc-cardinality join. The posting list itself must never be joined
    — no cartesian, no Python, no sort of the exploded frame."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        plan = _initial_plan(dedup.q_substring_dedup(spark, sf_dir))
    finally:
        release_caches()
    assert "whash" in plan, plan
    assert "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_semdedup_pairwise_is_cluster_equi_join(spark, sf_dir):
    """SemDeDup's candidate stage must be an equi-join on the cluster id
    (broadcast or shuffled hash/merge) — the only nested-loop joins
    allowed are the K-row broadcast centroid crossings from the Lloyd
    loop; a plain CartesianProduct means the cluster blocking was lost."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        plan = _initial_plan(similarity.q_semdedup(spark, sf_dir))
    finally:
        release_caches()
    assert "CartesianProduct" not in plan, plan
    assert "cid" in plan, plan
    assert "EvalPython" not in plan, plan


def test_ann_join_plan_is_banded_with_cached_sigs(spark, sf_dir):
    """The ANN self-join must stay candidate-gated: band signatures
    cached (one evaluation of the 32 hyperplane folds, not one per join
    side), candidates from an equi-join on the band key, top-K as a
    window — never a cartesian, never Python."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        plan = _initial_plan(similarity.q_ann_join(spark, sf_dir))
    finally:
        release_caches()
    assert "InMemoryTableScan" in plan, plan
    assert "band_idx" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_dsir_weights_is_single_aggregate_plus_bounded_broadcast(spark, sf_dir):
    """DSIR must build both bucket counts in ONE hash aggregate
    (conditional sum, not two aggregates joined) and attach the bounded
    4096-row weight table via broadcast; the per-doc sum is a bigint
    (fixed-point) aggregate with no Python stage."""
    from langchain_callback_parquet_logger_spark.operators import pipeline
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        plan = _initial_plan(pipeline.q_dsir_weights(spark, sf_dir))
    finally:
        release_caches()
    assert "HashAggregate" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_pmi_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """The PMI cutoff must compile to TakeOrderedAndProject (bounded
    per-partition heaps), with the vocab joins equi-shaped — never a
    cartesian or a Python stage."""
    plan = _initial_plan(text.q_pmi_collocations(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_vocab_coverage_prefixes_are_take_ordered(spark, sf_dir):
    """Each curve point is a bounded orderBy().limit(V) — the plan must
    show TakeOrderedAndProject over the cached vocab (InMemoryTableScan),
    and no window rank over the whole vocab."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        plan = _initial_plan(text.q_vocab_coverage(spark, sf_dir))
    finally:
        release_caches()
    assert "TakeOrderedAndProject" in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "Window" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_filter_funnel_is_single_scan(spark, sf_dir):
    """All rule flags and counters come from ONE pass over documents:
    exactly one parquet scan in the plan, no join, no Python."""
    plan = _initial_plan(text.q_filter_funnel(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_unigram_logprob_is_jvm_two_aggregate_shape(spark, sf_dir):
    """The surprisal score must stay in codegen: token explode feeding
    two hash aggregates and one equi-join on word — no Python stage, and
    the per-token quantized sum must be an integer (bigint) aggregate."""
    plan = _initial_plan(text.q_unigram_logprob(spark, sf_dir))
    assert "HashAggregate" in plan, plan
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sequence_pack_two_phase_equals_single_window(spark, sf_dir):
    """The sharded prefix sum must reproduce the global per-lang cumsum
    bin assignment byte-identically (the oracle runs the single-window
    form; this pins the equivalence independently of DuckDB)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from langchain_callback_parquet_logger_spark.operators import pipeline
    from langchain_callback_parquet_logger_spark.operators.text import token_count_bpe
    from langchain_callback_parquet_logger_spark.plans.session import (
        load_table,
        release_caches,
    )

    try:
        two_phase = {
            (r.lang, r.bin): (r.n_docs, r.total_tokens)
            for r in pipeline.q_sequence_pack(spark, sf_dir).collect()
        }
    finally:
        release_caches()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_bpe(F.col("text")).alias("n_tokens")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    single = {
        (r.lang, r.bin): (r.n_docs, r.total_tokens)
        for r in docs.select(
            "lang",
            "n_tokens",
            F.floor(cum_before / F.lit(pipeline.PACK_BUDGET)).alias("bin"),
        )
        .groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .collect()
    }
    assert two_phase == single


def test_release_caches_empties_cache_manager(spark, sf_dir):
    """Tracked operator caches must be fully releasable: after an action +
    release_caches(), Spark's CacheManager holds nothing (the VERDICT-r3
    leak: persisted LSH frames accumulated across invocations)."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    spark.catalog.clearCache()
    release_caches()  # drop any registrations left by other tests
    dedup.q_minhash_dedup(spark, sf_dir).count()
    assert release_caches() >= 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_banded_emb_memo_shares_caches_within_generation(spark, sf_dir):
    """q_embedding_dedup and q_ann_join share the banded-LSH front end;
    running both WITHOUT an intervening release must materialize the
    (emb, bands) cache pair ONCE (the ADVICE-r4 duplicate-cache leak),
    and release_caches() must invalidate the memo so the next call
    rebuilds."""
    from langchain_callback_parquet_logger_spark.operators import similarity as S
    from langchain_callback_parquet_logger_spark.plans import session as sess

    from pyspark.sql import DataFrame

    def n_df_caches() -> int:
        # the gather re-rank also tracks one Broadcast per consumer —
        # count only the DataFrame cache pair the memo shares
        return sum(1 for o in sess._TRACKED_CACHES if isinstance(o, DataFrame))

    spark.catalog.clearCache()
    sess.release_caches()
    n0 = n_df_caches()
    S.q_embedding_dedup(spark, sf_dir).count()
    n1 = n_df_caches()
    S.q_ann_join(spark, sf_dir).count()
    n2 = n_df_caches()
    assert n1 - n0 == 2  # base kernel frame + capped bands registered once
    assert n2 == n1  # second consumer reused the memoized pair
    sess.release_caches()
    S.q_embedding_dedup(spark, sf_dir).count()
    try:
        assert n_df_caches() == 2  # rebuilt after release
    finally:
        sess.release_caches()


def test_aqe_splits_skewed_join_at_runtime(spark):
    """Several operators lean on AQE skew-join splitting as their
    100 TB skew story (dedup posting lists, as-of keys) — prove the
    mechanism actually engages. A 95%-one-key fact sort-merge-joined to a
    uniform side, with the skew thresholds scaled down to test data
    sizes, must show `skew=true` on the SMJ in the final adaptive plan."""
    from pyspark.sql import functions as F

    from langchain_callback_parquet_logger_spark.plans.session import scoped_conf

    skewed = spark.range(120_000).select(
        F.when(F.col("id") % 20 == 0, F.col("id") % 50).otherwise(0).alias("k"),
        F.col("id").alias("v"),
    )
    uniform = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    with scoped_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    ):
        joined = skewed.join(uniform, "k")
        plan = _executed_plan(joined)
    assert "skew=true" in plan, plan


def test_dup_centrality_iterations_are_equi_joins_no_python(spark, sf_dir):
    """Five integer-PageRank iterations must plan as equi-joins + hash
    aggregates — no cartesian stage, no Python eval, no float in the
    fixpoint (the only cast to double is the final display column)."""
    from langchain_callback_parquet_logger_spark.operators import graph as G
    from langchain_callback_parquet_logger_spark.plans.session import (
        release_caches,
    )

    try:
        plan = _initial_plan(G.q_dup_centrality(spark, sf_dir))
    finally:
        release_caches()
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_token_budget_plan_single_scan_bounded_broadcast(spark, sf_dir):
    """The planner is one corpus aggregate + arithmetic on the tiny
    per-source frame with a single-row broadcast — no Python, no second
    corpus scan."""
    from langchain_callback_parquet_logger_spark.operators import pipeline as P

    from langchain_callback_parquet_logger_spark.plans.session import (
        release_caches,
    )

    try:
        plan = _initial_plan(P.q_token_budget_plan(spark, sf_dir))
    finally:
        release_caches()
    # both the output branch and the totals row must read the CACHED
    # per-source frame — the corpus text is scanned once, not per branch
    # (the FileScan text below the InMemoryRelations is the cached
    # relation's build plan, rendered once per consumer)
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "EvalPython" not in plan, plan


def test_ann_recall_audit_probe_side_carries_no_hint(spark, sf_dir):
    """The exact audit leg joins a corpus-proportional probe sample
    against the corpus — neither side may carry a hard broadcast hint
    (AQE decides); the banded leg stays the q_ann_join plan."""
    from langchain_callback_parquet_logger_spark.operators import similarity as S
    from langchain_callback_parquet_logger_spark.plans.session import (
        release_caches,
    )

    try:
        df = S.q_ann_recall_audit(spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        plan = _initial_plan(df)
    finally:
        release_caches()
    assert "EvalPython" not in plan, plan
    # only _banded_emb's internal bounded hints may exist; the probe
    # sample frame itself must not be hinted
    assert "probe_id" in plan, plan


def test_interval_concurrency_is_distributed_prefix_sum(spark, sf_dir):
    """The sweep must be the two-phase scan: ONE sessionize pass behind
    the cache boundary (not one per consumer — the union/double-consumer
    shape recomputed it 4×), day-partitioned running sums, and a single-
    partition window ONLY for the day-cardinality carry frame, attached
    via broadcast. No Python, no cartesian."""
    from langchain_callback_parquet_logger_spark.operators import temporal
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        plan = _initial_plan(temporal.q_interval_concurrency(spark, sf_dir))
    finally:
        release_caches()
    assert "InMemoryTableScan" in plan, plan
    # the sessionize pipeline runs ONCE (inside the cached subtree):
    # one user_id window exchange + one (user_id, sid) aggregate
    # exchange — the recomputed shape had four copies
    assert plan.count("hashpartitioning(user_id") <= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_centroid_confusion_post_assign_is_cell_frame_work(spark, sf_dir):
    """After the k-means assign legs (K-row broadcast crossings), the
    confusion matrix must be hash aggregates + windows on the cell
    frame — no cartesian beyond the bounded centroid crossings, no
    Python anywhere."""
    plan = _initial_plan(similarity.q_centroid_confusion(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert "row_number()" in plan, plan
    assert "EvalPython" not in plan, plan


def test_spread_sees_through_single_row_group_file(spark, tmp_path):
    """A big parquet file written as ONE row group reports ≥cores
    byte-range splits while every row lands in the split holding the
    row-group midpoint (parquet row groups are the reader's atomic
    unit) — the round-13 "native splits = parallelism at sf1" claim was
    exactly this illusion, and the whole sf1 kernel map side ran on one
    core.  spread() must read the row-group bound from the footers and
    repartition; a many-row-group file of the same size must keep the
    no-op path (no redundant exchange at warehouse scale)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from langchain_callback_parquet_logger_spark.plans.session import spread

    n = 200_000
    tbl = pa.table({"id": pa.array(range(n), type=pa.int64())})

    one = str(tmp_path / "one_group.parquet")
    pq.write_table(tbl, one, row_group_size=n)  # single row group
    df1 = spark.read.parquet(one)
    target = spark.sparkContext.defaultParallelism
    # precondition: the split count alone looks fine (or the file is
    # small enough to be one split — either way the bound is the fix)
    out1 = spread(df1, min_bytes=1)
    nonempty1 = sum(1 for s in out1.rdd.glom().map(len).collect() if s)
    assert nonempty1 >= min(target, 8), nonempty1

    many = str(tmp_path / "many_groups.parquet")
    pq.write_table(tbl, many, row_group_size=max(1, n // (2 * target)))
    df2 = spark.read.parquet(many)
    if df2.rdd.getNumPartitions() >= target:
        # enough real splits: spread must NOT add an exchange
        assert spread(df2, min_bytes=1) is df2


# ---------------------------------------------------------------------------
# Schema memo: a table's schema is inferred once per file version, so a
# repeated load starts no Spark job.
# ---------------------------------------------------------------------------


def _next_job_id(spark) -> int:
    """Jobs are numbered in sequence, so the difference of two readings is
    the number of jobs started in between (as perfbench/tracing.py counts)."""
    counter = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return counter if isinstance(counter, int) else counter.get()


def test_repeated_table_load_starts_no_job(spark, tmp_path):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from langchain_callback_parquet_logger_spark.plans.session import load_table
    from langchain_callback_parquet_logger_spark.streaming.ingest import (
        _event_stream,
        _table_stream,
    )

    d = str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), f"{d}/t.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([dt.datetime(2024, 1, 1)] * 2, pa.timestamp("us")),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": ["click", "view"],
                "value": [1.0, 2.0],
                "props": ["{}", "{}"],
            }
        ),
        f"{d}/events.parquet",
    )
    pq.write_table(
        pa.table({"doc_id": pa.array([1], pa.int64()), "text": ["hi"]}),
        f"{d}/documents.parquet",
    )
    loads = [
        lambda: load_table(spark, d, "t"),
        lambda: _event_stream(spark, d),
        lambda: _table_stream(spark, d, "documents", maxFilesPerTrigger="1"),
    ]
    for load in loads:
        j0 = _next_job_id(spark)
        first = load()
        j1 = _next_job_id(spark)
        again = load()
        assert j1 > j0  # the first load infers: the counter sees that job
        assert _next_job_id(spark) == j1
        assert again.schema == first.schema
    assert sorted(load_table(spark, d, "t").collect()) == [(1, "x"), (2, "y")]


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from langchain_callback_parquet_logger_spark.plans.session import load_table

    d = str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2]}), f"{d}/one.parquet")
    assert load_table(spark, d, "one").columns == ["a"]
    pq.write_table(pa.table({"a": ["x"], "c": [0.5]}), f"{d}/one.parquet")
    df = load_table(spark, d, "one")
    assert dict(df.dtypes) == {"a": "string", "c": "double"}
    assert df.collect() == [("x", 0.5)]

    # A Spark-written directory table, its single part file rewritten in
    # place under the same name. The .crc side files go first: they would
    # no longer match the rewritten bytes.
    spark.range(3).coalesce(1).write.parquet(f"{d}/many.parquet")
    for crc in glob.glob(f"{d}/many.parquet/.*.crc"):
        os.remove(crc)
    assert load_table(spark, d, "many").columns == ["id"]
    (part,) = glob.glob(f"{d}/many.parquet/part-*.parquet")
    pq.write_table(pa.table({"id": ["a", "b"], "k": [1, 2]}), part)
    df = load_table(spark, d, "many")
    assert dict(df.dtypes) == {"id": "string", "k": "bigint"}
    assert sorted(df.collect()) == [("a", 1), ("b", 2)]


def test_schema_conf_change_reinfers(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from langchain_callback_parquet_logger_spark.plans.session import (
        load_table,
        scoped_conf,
    )

    d = str(tmp_path)
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), f"{d}/bin.parquet")
    assert dict(load_table(spark, d, "bin").dtypes) == {"b": "binary"}
    with scoped_conf(spark, {"spark.sql.parquet.binaryAsString": "true"}):
        df = load_table(spark, d, "bin")
        assert dict(df.dtypes) == {"b": "string"}
        assert df.collect() == [("x",)]
    assert dict(load_table(spark, d, "bin").dtypes) == {"b": "binary"}


def test_index_compaction_leaves_timestamp_conf_unchanged(spark, sf_dir, tmp_path):
    """The dedup index's two compactions write TIMESTAMP_MICROS from a
    session of their own; the caller's session keeps its timestamp type."""
    from langchain_callback_parquet_logger_spark.operators import indexes
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    ts_conf = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(ts_conf)
    try:
        indexes.q_index_compaction(spark, sf_dir, str(tmp_path / "idx")).collect()
    finally:
        release_caches()
    assert spark.conf.get(ts_conf) == before
