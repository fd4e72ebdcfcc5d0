"""Scaling probe: build a K× replica of the sf0.1 tables (ids offset, doc
texts perturbed so near-dup structure scales ~linearly instead of
quadratically) under /tmp, run the representative queries at both scales,
and report the runtime ratio. A healthy plan scales ≲K× on a fixed-core
machine; superlinear ratios flag shapes that would not survive 100 TB.

    python tools/scale_probe.py            # K=10, writes SCALING.md
    SCALE_K=4 python tools/scale_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from langchain_callback_parquet_logger_spark.plans.session import (
    get_spark,
    load_table,
    release_caches,
)

import __spark_entry__ as entrymod

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = int(os.environ.get("SCALE_K", "10"))
BIG = f"/tmp/sfbig_x{K}"

QUERIES = [
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_hierarchy_join",
    "q_topk",
    "q_running_total",
    "q_sql_exists_semi",
    "q_sql_correlated_scalar",
    "q_sql_moving_avg",
    "q_token_rollup",
    "q_cost_attribution",
    "q_dedup_keep_last",
    "q_sessionize",
    "q_event_pivot",
    "q_asof_join",
    "q_range_join_banded",
    "q_exact_dedup",
    "q_url_dedup",
    "q_minhash_dedup",
    "q_ngram_jaccard",
    "q_dedup_clusters",
    "q_simhash",
    "q_simhash_pairs",
    "q_embedding_dedup",
    "q_knn_bruteforce",
    "q_knn_ivf",
    "q_knn_lsh",
    "q_kmeans_ivf",
    "q_embedding_quantize",
    "q_decontaminate",
    "q_corpus_clean",
    "q_bpe_merge_candidates",
    "q_bpe_apply",
    "q_minhash_estimate_error",
    "q_paraphrase_candidates",
    "q_doc_features",
    "q_quality_logit",
    "q_matryoshka_probe",
    "q_kmv_users",
    "q_key_skew_report",
    "q_length_quality_corr",
    "q_ngram_novelty",
    "q_bigram_logprob",
    "q_cms_heavy_hitters",
    "q_diversity_sample",
    "q_length_histogram",
    "q_incremental_dedup",
    "q_index_incremental_dedup",
    "q_index_ann",
    "q_pq_quantize",
    "q_ensemble_dedup",
    "q_mixture_sample",
    "q_denylist_redact",
    "q_tfidf_top_terms",
    "q_repetition_ratio",
    "q_sequence_pack",
    "q_event_runs",
    "q_udtf_trigrams",
    "q_grouping_sets",
    "q_funnel",
    "q_cohort_retention",
    "q_anomaly_zscore",
    "q_value_histogram",
    "q_user_value_median",
    "q_user_value_p90",
    "q_stream_hourly_counts",
    "q_substring_dedup",
    "q_substring_clean",
    "q_substring_keepone",
    "q_log_compaction",
    "q_incremental_rollup",
    "q_token_budget_plan",
    "q_lsh_pair_audit",
    "q_index_compaction",
    "q_zorder_layout",
    "q_format_roundtrip",
    "q_ann_recall_audit",
    "q_dup_centrality",
    "q_winnow_matches",
    "q_scd2_dimension",
    "q_bitmap_distinct",
    "q_tokenizer_fertility",
    "q_interval_concurrency",
    "q_centroid_confusion",
    "q_dedup_threshold_sweep",
    "q_event_transitions",
    "q_doc_chunking",
    "q_session_funnel_paths",
    "q_burst_detection",
    "q_hll_users",
    "q_sketch_union",
    "q_mad_outliers",
    "q_ks_drift",
    "q_data_quality_checks",
    "q_dataset_diff",
    "q_vocab_overlap",
    "q_quota_resample",
    "q_langid_confusion",
    "q_label_propagation",
    "q_semdedup",
    "q_unigram_logprob",
    "q_training_order",
    "q_ccnet_buckets",
    "q_leakage_safe_split",
    "q_dsir_weights",
    "q_ann_join",
    "q_pmi_collocations",
    "q_filter_funnel",
    "q_vocab_coverage",
    "q_doc_keywords",
]


# Replica-construction version, stamped into the _OK sentinel: bump it
# whenever the construction changes so a /tmp replica left over from an
# earlier round (or an earlier code state) is rebuilt instead of
# silently probed with mismatched assumptions.
# v2 (round 10): embeddings get a per-replica deterministic ORTHOGONAL
# transform (k-keyed dim rotation + hashed sign flips).
# v1 replicated vectors verbatim (vec_id offset only), which made every
# cross-copy pair a true near-dup: OUTPUT volume grew quadratically in
# K and the 100x probe measured duplicate richness on the verify/
# materialize stages, not plan shape (q_embedding_dedup 29.9x,
# q_ann_join heap-OOM — the embedding analogue of the round-3 text
# lesson that led to the bijective vocabulary relabeling). The
# orthogonal transform preserves within-replica dot products EXACTLY
# while cross-replica cosines collapse to noise, so RESULT rows scale
# ~K again.
#
# Measured caveat (K=4 validation, round 10): CANDIDATE volume stays
# ~quadratic either way — 588,409 banded pairs at K=4 vs base 36,620
# (16x for 4x data), almost exactly the verbatim-copy figure, because
# decorrelated replicas still collide AT RANDOM in the fixed
# 4x256-bucket band keyspace (expected cross term Sum_b n_b*n_b' ~
# K^2 * 256 * mean^2 dominates once n >> buckets). That is the SAME
# keyspace-saturation term the sf1 audit exposed: no replica
# construction can remove it; EMB_BUCKET_CAP bounds it once buckets
# pass the cap, and the production knob is scaling the PLANE COUNT
# (band bit-width) with log(corpus) so expected bucket size stays O(1)
# — e.g. 64 planes / 4x16-bit bands beyond ~50k vectors.
BUILD_VERSION = "v2"


def _emb_replica_col(k: int, dim: int = 64):
    """Orthogonal per-replica transform of the `embedding` array:
    rotate dimensions by a k-keyed offset, then flip signs by a hashed
    (k, d) pattern. Rotation + sign flips are orthogonal maps, so
    WITHIN-replica cosine GEOMETRY is preserved (up to the float
    summation-order change the rotation introduces — dot products are
    value-equal only to ~1 ulp), while cross-replica cosines collapse
    to noise. The FIXED LSH planes see rotated vectors — equivalent to
    a fresh plane draw per replica — so within-replica band signatures
    and candidate sets are DISTRIBUTIONALLY equivalent to the base
    block, not bit-identical; probe-ratio adjudications must not
    assume exact per-replica candidate reproduction (round-10 advice).
    k=0 is the identity (base block preserved exactly). The rotation
    offset mixes k//dim so replicas congruent mod dim do not share a
    rotation, and the hashed signs make even same-rotation pairs
    decorrelate."""
    if k == 0:
        return F.col("embedding")
    r = (7 * k + 13 * (k // dim)) % dim
    col = F.col("embedding")
    rotated = (
        F.concat(F.slice(col, r + 1, dim - r), F.slice(col, 1, r))
        if r
        else col
    )
    signs = [
        1.0 if ((k * 2654435761 + d * 40503) >> 7) & 1 == 0 else -1.0
        for d in range(dim)
    ]
    sign_arr = F.array(*[F.lit(s) for s in signs])
    return F.zip_with(rotated, sign_arr, lambda a, b: a * b).cast("array<float>")


def build(spark) -> None:
    ok = os.path.join(BIG, "_OK")
    if os.path.exists(ok):
        with open(ok) as f:
            if f.read().strip() == BUILD_VERSION:
                return
        # stale construction: rebuild from scratch
        import shutil

        shutil.rmtree(BIG)
    os.makedirs(BIG, exist_ok=True)
    ev = load_table(spark, BASE, "events")
    docs = load_table(spark, BASE, "documents")
    emb = load_table(spark, BASE, "embeddings")

    def replicate(df, out, transforms):
        parts = []
        for k in range(K):
            d = df
            for col, fn in transforms.items():
                d = d.withColumn(col, fn(k))
            parts.append(d)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.repartition(32).write.mode("overwrite").parquet(os.path.join(BIG, out))

    replicate(
        ev,
        "events.parquet",
        {
            "event_id": lambda k: F.col("event_id") + k * 1_000_000_000,
            "user_id": lambda k: F.col("user_id") + k * 1_000_000,
            # keep the driver layout's encoding: ts as nanos-since-epoch
            # bigint (load_table and the stream schema both expect it)
            "ts": lambda k: F.unix_micros(F.col("ts")) * 1000,
        },
    )
    replicate(
        docs,
        "documents.parquet",
        {
            "doc_id": lambda k: F.col("doc_id") + k * 10_000_000,
            # Vocabulary relabeling: suffix every token with the replica id.
            # A bijective vocab map preserves WITHIN-replica similarity
            # structure exactly (same token counts, same shingle-set
            # relationships as the base block) while cross-replica overlap
            # is zero — so pair counts scale ~K and the ratio measures plan
            # shape. The earlier append-one-token perturbation left replicas
            # ~0.98-Jaccard similar to their source, making the 10x corpus
            # quadratically duplicate-rich (249,585 true near-dup pairs vs
            # 266 at base): the probe then measured output volume, not plan
            # shape. (A marker-interleave variant fixed that but doubled
            # token counts, inflating every shingle-explode query ~2x.)
            "text": lambda k: F.regexp_replace(
                F.col("text"), r"([A-Za-z0-9]+)", f"$1k{k}"
            ) if k else F.col("text"),
        },
    )
    replicate(
        emb,
        "embeddings.parquet",
        {
            "vec_id": lambda k: F.col("vec_id") + k * 10_000_000,
            # v2: per-replica orthogonal transform — see BUILD_VERSION.
            "embedding": lambda k: _emb_replica_col(k),
        },
    )
    # facts replicated with CONSISTENT join keys: l_orderkey tracks
    # o_orderkey, customers stay fixed (K× orders per customer — realistic
    # fanout growth, and the dim joins stay broadcastable).
    replicate(
        load_table(spark, BASE, "orders"),
        "orders.parquet",
        {"o_orderkey": lambda k: F.col("o_orderkey") + k * 1_000_000_000},
    )
    replicate(
        load_table(spark, BASE, "lineitem"),
        "lineitem.parquet",
        {"l_orderkey": lambda k: F.col("l_orderkey") + k * 1_000_000_000},
    )
    # dims copied as-is so joins keep working
    for t in ("region", "nation", "customer", "supplier", "part"):
        load_table(spark, BASE, t).write.mode("overwrite").parquet(
            os.path.join(BIG, f"{t}.parquet")
        )
    with open(os.path.join(BIG, "_OK"), "w") as f:
        f.write(BUILD_VERSION)


def best_of(fn, reps=int(os.environ.get("SCALE_REPS", "3"))):
    """Min of ``reps`` cold-cache runs. Three, not two: this VM stalls for
    30-130 s at random (firecracker CPU steal), and a stall spanning both
    of two back-to-back reps once inflated a probed ratio 3.6×→18.9× —
    with three spread-out reps the min survives a single stall window.
    SCALE_REPS overrides when wall-clock is tight."""
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
        release_caches()  # every rep pays the full cold-cache cost
    return min(runs)


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _current_round() -> int:
    """Round number for the SCALE_r{N}.json artifact: explicit override,
    else one past the newest driver CORRECTNESS record (the probe runs
    before that round's record lands)."""
    import re

    if os.environ.get("SPARK_GRAFT_ROUND"):
        return int(os.environ["SPARK_GRAFT_ROUND"])
    rounds = [
        int(m.group(1))
        for fn in os.listdir(_repo_root())
        if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", fn))
    ]
    return (max(rounds) if rounds else 0) + 1


def _prior_scale_record(current: int) -> tuple[int, dict] | None:
    """Newest SCALE record from a round BEFORE `current` — an
    incremental SCALE_ONLY re-run must still diff against the previous
    round, not against the file it is itself merging into."""
    import json
    import re

    recs = sorted(
        (int(m.group(1)), fn)
        for fn in os.listdir(_repo_root())
        if (m := re.match(r"SCALE_r(\d+)\.json$", fn))
        and int(m.group(1)) < current
    )
    if not recs:
        return None
    n, fn = recs[-1]
    with open(os.path.join(_repo_root(), fn)) as f:
        return n, json.load(f)


def main() -> None:
    import json

    spark = get_spark("scale-probe")
    build(spark)
    qs = entrymod.queries()
    spark.range(1).count()

    lines = [
        "# SCALING — runtime ratio at K× data (same 32 cores)",
        "",
        f"Base = sf0.1, Big = {K}× replica (ids offset, doc texts perturbed).",
        "ratio ≈ K means linear scaling — the plan's work grows with the",
        "data, not with data². ratio >> K flags a pairwise/quadratic shape.",
        "Streaming rows are end-to-end drains (state + sink included).",
        "",
        "| query | base s | big s | ratio (target ≲{}) |".format(K),
        "|---|---|---|---|",
    ]
    # Persist the machine-readable record and diff the RATIOS against the
    # prior round's: a plan-shape regression shows up as a ratio jump
    # even when sf0.1 wall-time looks flat (VERDICT r5 next-round #4).
    rnd = _current_round()
    prior = _prior_scale_record(rnd)  # read BEFORE writing this round's file
    scale_path = os.path.join(_repo_root(), f"SCALE_r{rnd:02d}.json")

    # interleave scales per-query to decorrelate hypervisor stall bursts;
    # flush the JSON record after every query so a multi-hour run that
    # dies partway still leaves a usable (partial) artifact.
    # SCALE_ONLY=q_a,q_b probes just those queries and MERGES into the
    # current round's existing record (late-round additions don't force
    # a full re-probe; the SCALING.md table is rebuilt from the merge).
    record: dict[str, dict] = {}
    only = {s for s in os.environ.get("SCALE_ONLY", "").split(",") if s}
    if only and os.path.exists(scale_path):
        with open(scale_path) as f:
            record = json.load(f).get("queries", {})
    run_list = [q for q in QUERIES if q in only] if only else QUERIES
    for name in run_list:
        base_t = best_of(lambda: qs[name](spark, BASE).count())
        big_t = best_of(lambda: qs[name](spark, BIG).count())
        ratio = big_t / base_t if base_t > 0 else float("inf")
        record[name] = {
            "base_sec": round(base_t, 3),
            "big_sec": round(big_t, 3),
            "ratio": round(ratio, 2),
        }
        print(
            f"| {name} | {base_t:.2f} | {big_t:.2f} | {ratio:.1f}× |",
            file=sys.stderr,
        )
        with open(scale_path, "w") as f:
            json.dump(
                {"k": K, "complete": False, "queries": record}, f, indent=2
            )
    # "complete" means every probe-list query has a row in the merged
    # record — an incremental SCALE_ONLY run over a missing/partial
    # artifact must not mislabel the result as a full probe.
    complete = all(name in record for name in QUERIES)
    with open(scale_path, "w") as f:
        json.dump({"k": K, "complete": complete, "queries": record}, f, indent=2)
    print(f"wrote {scale_path} (complete={complete})")
    for name in QUERIES:
        if name in record:
            r = record[name]
            lines.append(
                f"| {name} | {r['base_sec']:.2f} | {r['big_sec']:.2f} "
                f"| {r['ratio']:.1f}× |"
            )
    cmp_lines: list[str] = []
    if prior is not None and prior[0] != rnd:
        pn, prec = prior
        pq = prec.get("queries", {})
        jumps = []
        for name, r in record.items():
            if name in pq and pq[name]["ratio"] > 0:
                delta = r["ratio"] / pq[name]["ratio"]
                if delta >= 1.5:  # ratio (not wall-time) jump → shape change
                    jumps.append(
                        f"{name} {pq[name]['ratio']:.1f}×→{r['ratio']:.1f}×"
                    )
        shared = [n for n in record if n in pq]
        cmp_lines = [
            "",
            f"## vs round {pn} (SCALE_r{pn:02d}.json, {len(shared)} shared queries)",
            "",
            (
                "Ratio jumps ≥1.5× round-over-round (plan-shape regression "
                "candidates): " + ("; ".join(jumps) if jumps else "NONE")
                + "."
            ),
        ]

    lines += cmp_lines
    lines += [
        "",
        "## Notes (root causes for past outliers, kept current)",
        "",
        "- **Replica construction matters.** Until round 3 the doc",
        "  perturbation appended one token per replica, leaving replicas",
        "  ~0.98-Jaccard similar to their source: the 10× corpus contained",
        "  249,585 TRUE near-dup pairs vs 266 at base, so pair-producing",
        "  queries (q_minhash_dedup 5.5×, q_ngram_jaccard 3.7×) were",
        "  measuring quadratic GROWTH IN OUTPUT, not a quadratic plan. The",
        "  perturbation is now a bijective vocabulary relabeling (every",
        "  token suffixed with the replica id): token counts and",
        "  within-replica similarity structure are EXACTLY preserved,",
        "  cross-replica overlap is zero, so candidate/output volume scales",
        "  ~K and the ratio measures plan shape. (An interim",
        "  marker-interleave variant also killed cross-replica similarity",
        "  but doubled token counts, inflating every shingle-explode query",
        "  ~2x on top of K.)",
        "- **q_corpus_clean 6.7× (pre-round-3)** was a parallelism",
        "  confound: the base sf0.1 documents table is ONE parquet file →",
        "  one scan partition, so the regex-heavy expression stage ran on a",
        "  single core at base but 32-way on the replica. The query now",
        "  spread()s the scan (no-op at real scale).",
        "- **Round-4 methodology**: release_caches() runs between reps, so",
        "  every rep pays full cold-cache cost — ratios are now honest for",
        "  queries that persist sub-frames (minhash/embedding dedup were",
        "  previously warm on rep 2 via CacheManager plan-dedup).",
        "- **q_sequence_pack ~3.3×** is the two-phase prefix sum's extra",
        "  shuffle (per-shard offsets join) — the price of unbounded window",
        "  parallelism. The r3 single-window version looked better at 10×",
        "  on 32 cores only because ≤5 sort partitions of this size still",
        "  fit; at cluster scale it serializes, the sharded shape doesn't.",
        "- **q_embedding_dedup / q_dedup_clusters** carry ~3-4 s of fixed",
        "  multi-stage overhead (sig persist, band self-join, re-rank /",
        "  iterative label rounds) that dwarfs compute at these tiny sizes;",
        "  expect ratios ≈1× locally and judge them by shape: banded",
        "  equi-joins and per-round single shuffles, nothing pairwise in",
        "  corpus size.",
        "- **q_ngram_novelty (was 4.5× → 5.4×, the one grower) — RESHAPED",
        "  in round 9.** Root cause of the ratio AND its growth: the old",
        "  plan joined the full posting list back to the first-seen table",
        "  on the shingle key, then re-shuffled the joined postings on",
        "  doc_id — ~3× the posting volume on the wire; with the bijective",
        "  replica relabeling the 10× corpus has 10× DISTINCT shingles, so",
        "  aggregate state and both posting shuffles all grew with data",
        "  while the base run hid inside fixed overheads (the round-over-",
        "  round growth was that linear cost emerging, plus VM noise). The",
        "  reshape removes the posting join: shingles are distinct per",
        "  doc, so novel-count = first-seen rows grouped by owner — two",
        "  map-side-combined aggregates over one cached explode plus a",
        "  doc-cardinality join; only aggregate partials cross the wire.",
        "- **q_substring_dedup (4.3×) — RESHAPED in round 9** by the same",
        "  argument: dup_windows = n_windows − n_unique, and a unique",
        "  window's owner is the min(doc_id) of its single posting, so the",
        "  per-hash aggregate's count==1 rows group straight into per-doc",
        "  unique counts. The posting⋈per-hash join and the full doc_id",
        "  re-shuffle are gone; the posting list is aggregated, never",
        "  joined.",
        "- **Round-9 jump-line adjudication**: every round-8→9 ratio",
        "  jump was re-probed in isolation and traced to BASE-time",
        "  speedups (a less-loaded VM), not big-time growth —",
        "  q_ann_recall_audit's big time was flat (8.9→7.9 s) while its",
        "  base halved (5.3→3.1 s), and q_simhash_pairs /",
        "  q_key_skew_report / q_bpe_merge_candidates all returned to",
        "  ≤3.3× on the re-probe with big times at or below round 8's.",
        "  q_grouping_sets 0.7×→1.1× is sub-linear either way.",
        "- **MinHash family re-probed after the map-only signature change**",
        "  (round 9, second half): minhash_signatures dropped its",
        "  explode+groupBy exchange for per-row array_min folds, so every",
        "  LSH consumer's BASE time fell and ratios drifted up",
        "  arithmetically. The one entry that crossed the watch line,",
        "  q_minhash_estimate_error (2.2×→3.8× on the family sweep), was",
        "  re-probed in isolation with SCALE_REPS=5 under heavy external",
        "  VM load (host load avg ~19) and came back at 2.8× with both",
        "  sides inflated proportionally — load noise on a faster base,",
        "  not shape: the plan is the cached signature self-join on banded",
        "  candidate pairs, unchanged by the signature-extraction rewrite.",
        "  All 12 family entries ≤3.0× on the post-change sweep.",
        "- **Rank-1 window → argmax aggregate conversions (round 9,",
        "  second half) — adjudicated per query by interleaved 10× A/B.**",
        "  max/min(struct(order, payload)) lands as SortAggregate (struct",
        "  buffers aren't hash-aggregable) but adds the map-side partial",
        "  combine a window lacks; it pays off iff keys are heavily",
        "  duplicated. q_dedup_keep_last (~80 events/key): KEPT, ratio",
        "  2.0×→1.2×. q_label_propagation's per-node mode pick: KEPT,",
        "  1.8× (A/B min 8.6 s argmax vs 10.1 s window at 10×; its 5.95×",
        "  first probe reading was a load-noise draw — host reps ranged",
        "  8–80 s). clean_corpus's fingerprint dedup: REVERTED to the",
        "  window — fingerprints are ~unique, so the partial leg collapses",
        "  nothing and the double sort measured 1.7× slower at 10×",
        "  (6.4 s vs 3.7 s, interleaved min-of-3).",
        "- **q_zorder_layout (3.9×) — adjudicated, no change.** The query",
        "  is a full two-layout write lifecycle: it writes the whole",
        "  corpus TWICE (linear + Morton, each one range shuffle + sort",
        "  within partitions), reads both trees back, and runs the",
        "  read-identity rollup — every stage linear in rows, so the",
        "  honest cost grows ~10× while the base run amortizes JVM/commit",
        "  fixed overheads; 3.9× is linear cost emerging, not a shape",
        "  defect. The driver-side parquet-footer audit (candidate_files)",
        "  grows with the file census (ceil(rows/target)), i.e. linearly,",
        "  reads metadata only (~5 probe ids per file), and sits off the",
        "  data path — a layout service's bookkeeping, not executor work.",
        "",
        "## Round 10 — probe jump-line adjudications (same-session re-probes)",
        "",
        "- **q_matryoshka_probe 1.21x->4.50x first reading — VM burst,",
        "  ADJUDICATED by isolated re-probe: 1.2x (big 23.6 s -> 5.8 s on",
        "  byte-identical code, merged into SCALE_r10.json).** Shape",
        "  argument: the round-10 EMB_BUCKET_CAP census does not change its",
        "  candidate volume at the 10x replica (max bucket 320 vs cap",
        "  1024 — no bucket dropped), so there was no mechanism for a real",
        "  6x big-side jump; the re-probe confirms.",
        "- **q_minhash_dedup 1.37x->3.27x, q_dedup_keep_last 1.15x->2.6x,",
        "  q_doc_features 1.6x->2.64x — base-speedup arithmetic, not",
        "  shape:** every one of these jumped because its BASE time",
        "  halved on a less-loaded VM (3.02->0.98, 0.46->0.18,",
        "  1.54->0.84 s) while its BIG time FELL TOO (4.12->3.22,",
        "  0.53->0.48, 2.46->2.23 s). A ratio jump whose big side",
        "  declines is definitionally not a scale regression — same",
        "  pattern as the round-9 family-sweep adjudication; minhash's",
        "  isolated re-probe (2.3x, both sides proportional) confirms.",
        "",
        "## Round 10 — sf1 audit findings (beyond the 10x probe)",
        "",
        "The round-10 sf1 audit (ORACLE_SF1_r10.txt: real 100x-gate-scale",
        "fixtures, not replicas) caught two defects the 10x probe could",
        "not see, both fixed and re-verified at sf1 in-round:",
        "",
        "- **EMB_BUCKET_CAP (similarity.py)**: the 4x256-bucket embedding",
        "  band self-join is quadratic in corpus size once the FIXED",
        "  signature space saturates — 36,620 candidate pairs at sf0.1,",
        "  4.0M at the 10x replica (110x for 10x data — already quadratic,",
        "  but still cheap enough to hide inside a 1.81x time ratio),",
        "  1.2e10 at sf1 (70 GB spill, job death). Over-cap buckets are",
        "  now dropped on both engines; graded-SF results bit-identical.",
        "  Lesson encoded: a HEALTHY time ratio can hide a quadratic",
        "  CANDIDATE ratio while absolute work is small — audit volume",
        "  (pair counts), not just wall-clock, when a self-join's key",
        "  space is fixed-cardinality.",
        "- **q_token_rollup exact-cents rebuild**: round(AVG(double), 6)",
        "  hash-diverged by 1 ulp at a 0.5e-6 rounding boundary at sf1 —",
        "  float summation order is engine/partition-dependent, so any SF",
        "  can land on a boundary by luck. Now BIGINT cents end-to-end",
        "  with one deterministic division (the q_cost_attribution money",
        "  convention).",
        "",
        "## Round 10 — 100x probe (SCALE100_r10.json)",
        "",
        "big100/big10 on the same bijective-relabeling replicas (10x more",
        "data; linear target ~10x). 14 watch-zone + family-head queries",
        "measured, min-of-2:",
        "",
        "- **Every text/event watch-zone entry is SUBLINEAR at 100x**:",
        "  q_key_skew_report 7.8x (pure explode+aggregate — linear cost",
        "  honestly emerging), q_incremental_dedup 6.1x, q_minhash_dedup",
        "  5.9x, q_dedup_clusters 4.4x, q_bigram_logprob 4.3x,",
        "  q_ngram_jaccard 3.9x, q_substring_clean 3.7x, q_zorder_layout",
        "  3.4x, q_sequence_pack 3.4x, the rest <=1.6x. The round-9 10x",
        "  watch ratios were fixed-overhead artifacts, confirmed one",
        "  decade higher.",
        "- **q_embedding_dedup 29.9x and q_ann_join OOM at big100 — a",
        "  REPLICA-CONSTRUCTION artifact, adjudicated**: embeddings are",
        "  replicated as VERBATIM copies (only vec_id offset), so every",
        "  cross-copy pair is a true near-dup and the OUTPUT itself grows",
        "  quadratically in K — the exact embedding analogue of the",
        "  round-3 text lesson that led to the bijective vocabulary",
        "  relabeling (text got the fix; embeddings never did). The",
        "  EMB_BUCKET_CAP bounded q_embedding_dedup to completion (177 s)",
        "  where the pre-cap shape died on 70 GB spills at sf1;",
        "  q_ann_join's symmetric orientation doubles the pair volume on",
        "  top and still blew the heap. LANDED same round as replica",
        "  construction v2 (per-replica orthogonal transform — see",
        "  BUILD_VERSION): cross-replica cosines collapse, so RESULT",
        "  volume scales ~K again. K=4 validation sharpened the finding:",
        "  CANDIDATE volume stays ~quadratic regardless of construction",
        "  (588,409 pairs at K=4 vs base 36,620 — random collisions in",
        "  the fixed 4x256-bucket keyspace dominate once n >> buckets),",
        "  i.e. the sf1 audit's keyspace-saturation term, not a replica",
        "  artifact. EMB_BUCKET_CAP bounds it past the cap; the",
        "  production knob is plane-count scaling with log(corpus).",
        "  Round-11 item: re-probe the embedding family at K=100 on v2",
        "  replicas and consider a 64-plane/16-bit-band variant for",
        "  corpora beyond ~50k vectors.",
        "",
        "## Round 10 — bench_compare flag adjudications (round-9 close)",
        "",
        "The drift-normalized comparator on r8-close vs r9-close BENCHFULL",
        "flagged exactly two queries; both sources are UNCHANGED between the",
        "rounds (the r9 package diff touches only analytic/dedup/graph/",
        "pipeline/queries/sinks; `streaming/stateful.py` and the",
        "q_substring_clean body did not move). Both adjudicated ENVIRONMENTAL",
        "by dedicated idle-session measurement at round-10 open:",
        "",
        "- **q_stream_sessionize (1.87 → 3.32 s normalized, +78%)** — the",
        "  micro-batch-count hypothesis is RULED OUT: six instrumented",
        "  availableNow drains at sf0.1 each completed in exactly ONE",
        "  non-empty micro-batch (`recentProgress`), every run, and the",
        "  property is now pinned by a unit test",
        "  (tests/test_streaming.py::test_sessionize_drain_is_one_microbatch).",
        "  Warm steady-state over six dedicated reps: 1.54–2.01 s, i.e. the",
        "  r8 number (1.87 s) reproduces at round-10 open on identical code.",
        "  The only structural cost outside steady state is the FIRST drain",
        "  of a session (~6.6 s: stream-source init + state-store provider +",
        "  Python worker spin-up), which the bench warmup pass absorbs. The",
        "  r9 reading was an ambient burst landing on the streaming segment",
        "  of the timed passes (this host's documented CPU-steal mode).",
        "- **q_substring_clean (1.31 → 1.77 s normalized, +35%)** — the",
        "  \"reshape shifted cost into the clean leg\" hypothesis is RULED",
        "  OUT: the r9 reshape commit (63b6855) rewrote q_substring_dedup",
        "  only; q_substring_clean shares no cached frame with it (separate",
        "  per-position occ explode) and its body is byte-identical r8→r9.",
        "  Interleaved min-of-6 at round-10 open (bench-style release_caches",
        "  between reps, ref-scan floor probed alongside): median 1.42 s at",
        "  floor 0.172 s → ≈1.09 s in r8-floor units (0.131 s), i.e. FASTER",
        "  than the r8 reading once drift-normalized. Ambient, not shape.",
    ]

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
