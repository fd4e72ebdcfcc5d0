"""Regenerate PLANS.md: formatted physical plans for the representative
queries, each with the scale commentary explaining why that plan shape is
the one we want at 100 TB. Run from the repo root:

    python tools/explain_audit.py            # writes PLANS.md
    python tools/explain_audit.py q_topk     # prints one plan to stdout
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from langchain_callback_parquet_logger_spark.plans.session import get_spark

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query → what to look for in the plan and why it survives a 100× scale-up
COMMENTARY: dict[str, str] = {
    "q_filter_event_type": (
        "PushedFilters shows the IN-list predicate reaching the parquet "
        "scan (row-group stats skip non-matching groups); ReadSchema lists "
        "only the 4 projected columns. No exchange at all — embarrassingly "
        "parallel at any scale."
    ),
    "q_token_rollup": (
        "Two-phase hash aggregate: partial_sum/partial_count before the "
        "exchange, final after. The shuffle carries one row per "
        "(partition, user_id), not per event — at 100 TB the wire cost is "
        "the distinct-key count, not the row count."
    ),
    "q_cost_attribution": (
        "The price dim is a 4-row literal → BroadcastHashJoin by hint; "
        "the fact side never shuffles for the join. One two-phase hash "
        "aggregate on (model, day, custom_id) with map-side partials; "
        "cost arithmetic is all BIGINT inside the aggregate (integer "
        "`div` after the sum), so the plan is exchange-once and exact "
        "at any scale. get_json_object stays in WholeStageCodegen."
    ),
    "q_topk": (
        "TakeOrderedAndProject, not a global Sort: each partition keeps "
        "its local top-10, the driver merges. The dimension join below it "
        "is a BroadcastHashJoin — the small side ships once per executor."
    ),
    "q_revenue_by_nation": (
        "The one fact⋈fact join shuffles both sides on the join key "
        "(SortMergeJoin or shuffled hash under AQE); the dim hops "
        "(nation, region) stay BroadcastHashJoin. Partial aggregation "
        "runs above the join, so the second shuffle carries rollup rows."
    ),
    "q_dedup_keep_last": (
        "Argmax as max(struct(ts, event_id, value)) — partial_max BEFORE "
        "the exchange collapses each (user_id, event_type) to one row "
        "per partition, so the wire carries distinct keys, not events "
        "(~80:1 here), and a hot key degrades to more partial buffers "
        "rather than a bigger per-key sort. Struct buffers land as "
        "SortAggregate, not Hash — accepted: the 10x probe measured "
        "2.0x -> 1.2x vs the rank-1 window this replaced."
    ),
    "q_salted_rollup": (
        "Two-phase salted aggregate: the first groupBy includes the salt "
        "column so a hot key fans across N reducers; the second, tiny "
        "aggregate removes the salt. Skew-proof by construction rather "
        "than by AQE rescue."
    ),
    "q_minhash_dedup": (
        "Signature extraction is MAP-ONLY: one Arrow pass "
        "(PythonMapInArrow) builds each doc's distinct shingle set, "
        "digests each shingle once and computes all 16 minhashes in "
        "NumPy — no explode+groupBy exchange anywhere before banding; "
        "the cached kernel frame feeds both banding and the verify joins. "
        "LSH banding explodes to (band, bucket) "
        "keys and the candidate join is an equi join on those keys — "
        "candidate count, not corpus², drives the cost."
    ),
    "q_knn_bruteforce": (
        "Broadcast of the query vectors + TakeOrderedAndProject per "
        "partition: the 100 TB side streams once, never shuffles. The "
        "cosine is a JVM higher-order-function reduce, no Python."
    ),
    "q_knn_lsh": (
        "Candidate selection is a BroadcastHashJoin LeftSemi on "
        "(band_idx, band_val): the corpus computes its 16 sign bits + "
        "hoisted norm in ONE Arrow/NumPy pass (PythonMapInArrow, cached "
        "— bit-identical to the fold by the sequential-accumulation "
        "contract, arrowkernels.py) and only rows colliding with the "
        "broadcast query bands survive to the exact cosine re-rank + "
        "TakeOrderedAndProject. The heavy side never shuffles; recall is "
        "tuned by bits/bands, not by moving data."
    ),
    "q_kmeans_ivf": (
        "Every Lloyd iteration is: ONE Arrow/NumPy assignment pass over "
        "the scan (centroid matrix rides a K-row collected literal — the "
        "same boundedness as the broadcast it replaced; no argmin "
        "shuffle, no emb re-attach join), then a (cluster, dim) "
        "partial-mean shuffle — the update moves K×64 aggregates, not "
        "data. Each step's centroids materialize as a K-row local "
        "relation, so plan depth is constant per iteration (76→6 "
        "Exchanges in round 13). The probe semi-join prunes the corpus "
        "to 2 clusters before the exact re-rank. Centroids round to 6dp "
        "per update, which is what makes a distributed float fit "
        "bit-reproducible against the single-threaded oracle."
    ),
    "q_mixture_sample": (
        "The rate dim joins as BroadcastHashJoin LeftOuter before the "
        "filter — the corpus side never shuffles, and the md5-bucket "
        "predicate drops rows at scan speed. The only exchange is the "
        "final per-stratum rollup. Mixture config size doesn't change "
        "the plan: a thousand-domain config is still one broadcast."
    ),
    "q_embedding_quantize": (
        "The entire quantize→dequantize→error pipeline is ONE scan "
        "projection of higher-order functions (transform/array_min/"
        "array_max) inside codegen — no Python, no intermediate "
        "materialization. The only exchange carries one row per label. "
        "This is the shape that re-encodes 100 TB of embeddings in a "
        "single pass."
    ),
    "q_udtf_trigrams": (
        "The ArrowEvalPythonUDTF node is the one "
        "intentional Python stage; it is per-row independent so it "
        "parallelizes with the scan, and the rollup above it is a "
        "standard two-phase hash aggregate. Distinct-count rides the "
        "same shuffle via partial aggregation."
    ),
    "q_decontaminate": (
        "The benchmark posting list broadcasts (BroadcastHashJoin); the "
        "training side streams through it without shuffling raw text. The "
        "only exchange is the final per-doc aggregate."
    ),
    "q_batch_map": (
        "The single ArrowEvalPython/mapInPandas stage IS the custom "
        "operator (async LLM map). Everything around it stays codegen'd; "
        "concurrency scales with partitions × per-partition semaphore."
    ),
    "q_corpus_clean": (
        "Stages quality→lang-ID→fingerprint fuse into ONE scan projection "
        "(no exchanges until the dedup window): composing operators "
        "declaratively instead of materializing between pipeline steps. "
        "avg_quality aggregates in FIXED POINT (9-dp bigint per doc, "
        "integer sum) so the result is identical under any partial-"
        "aggregate combine order — float-sum order sensitivity cannot "
        "flip the 6-dp rounding against the oracle."
    ),
    "q_sql_exists_semi": (
        "The EXISTS subquery is gone from the physical plan: Catalyst "
        "decorrelated it into a LeftSemi join on the correlation key — "
        "never per-row subquery execution."
    ),
    "q_variant_extract": (
        "The payload JSON is parsed once per row into a Variant binary "
        "(parse_json), then typed path access feeds a two-phase hash "
        "aggregate. No per-field re-parsing, no Python."
    ),
    "q_domain_cap": (
        "One window exchange on the DOMAIN key (source — the "
        "high-cardinality provenance column, not the ~5-value lang): "
        "window parallelism equals key cardinality, so the sort spreads "
        "across the cluster. Hash-rank row_number, then the rollup reuses "
        "the same partitioning — the per-domain cap costs exactly one "
        "shuffle."
    ),
    "q_funnel": (
        "Each funnel stage is a conditional-min hash aggregate on "
        "user_id; the per-stage time tables are one-row-per-user frames "
        "with NO broadcast hint (their cardinality grows with the corpus "
        "— a forced broadcast OOMs at 100× user scale). AQE broadcasts "
        "them while they fit and switches to shuffled joins beyond that; "
        "all three stages reuse the same user_id partitioning."
    ),
    "q_simhash_pairs": (
        "Candidate generation is an equi-join on (band_id, band_bits): "
        "the 32-bit fingerprint splits into HAMMING_THRESHOLD+1 = 4 "
        "bands, and pigeonhole guarantees every pair within hamming ≤ 3 "
        "matches exactly on ≥1 band — so the banded join is a COMPLETE "
        "candidate generator and bit_count verifies. Hash-join-shaped, "
        "linear in docs + true candidates; replaces the r3 lang-blocked "
        "all-pairs shape whose compare volume was O(n²/5)."
    ),
    "q_sequence_pack": (
        "The running token total is a TWO-PHASE PREFIX SUM: local cumsum "
        "windows on (lang, shard) — parallelism scales with corpus size, "
        "not |langs| — then an exclusive cumsum over the tiny per-shard "
        "totals table produces offsets that add back in. Bin assignment "
        "is byte-identical to the global-window formulation the oracle "
        "runs; no ≤5-partition window sort anywhere in the plan."
    ),
    "q_ngram_jaccard": (
        "Posting-list self-join on (lang, shingle) — hash-join-shaped "
        "candidate enumeration; the per-doc size dims attach afterwards "
        "via hint-free joins (they are corpus-cardinality frames: AQE "
        "broadcasts them at small SF, shuffles at scale). This is the "
        "exact quadratic-within-blocks baseline that validates MinHash; "
        "production dedup at 100 TB uses q_minhash_dedup."
    ),
    "q_tfidf_top_terms": (
        "tf and df are independent two-phase hash aggregates off one "
        "explode; N broadcasts as a scalar; the score is a single "
        "int×double multiply so no float summation order exists anywhere "
        "— the property that lets a distributed engine hash-match a "
        "single-threaded oracle. Top-k is a rank window over the small "
        "per-lang word table, not the corpus."
    ),
    "q_asof_join": (
        "No join operator at all: the as-of operator itself is union + "
        "last(ignorenulls) window — a single exchange on the key and a "
        "linear in-partition scan (the other exchanges in this plan belong "
        "to the click-side dedup aggregate that prepares the right side). "
        "No pairwise blowup: this is the shape that as-of joins two "
        "100 TB tables."
    ),
    "q_embedding_dedup": (
        "Candidate generation is an equi join of (band_idx, band_val) "
        "keys — the adaptive family's hyperplane sign bits + hoisted "
        "norms computed in ONE Arrow/NumPy pass (PythonMapInArrow) and "
        "persisted (InMemoryTableScan) so the self-join reads the "
        "signatures instead of re-deriving them per side. Per-bucket "
        "fan-out is capped by band width + EMB_BUCKET_CAP; nothing in "
        "the plan is pairwise in corpus or block size. The exact cosine "
        "runs only on candidate pairs, through the size-adaptive Arrow "
        "re-rank (gather-from-broadcast when the corpus fits one worker, "
        "bucket-local payload kernel otherwise — guide §3.1)."
    ),
    "q_dedup_clusters": (
        "Edges come from the MinHash+LSH path (linear candidate volume); "
        "each label-propagation round is ONE shuffle join + min-aggregate "
        "with localCheckpoint truncating the lineage; the changed-label "
        "count is observed on that checkpoint job, so a round is one Spark "
        "action and the driver touches a single scalar. Rounds = cluster "
        "diameter (small for near-dup cliques), so 100 TB costs a handful "
        "of linear passes."
    ),
    "q_bpe_merge_candidates": (
        "One BPE-trainer iteration: linear adjacent-pair explode (codegen "
        "HOFs, no Python), two-phase hash aggregate on the pair key, then "
        "TakeOrderedAndProject for the top-K — per-partition heaps and a "
        "driver merge, never a global sort of the pair-count table."
    ),
    "q_bpe_apply": (
        "Merge application: M learned rules as M JVM-side aggregate() "
        "folds per document — purely narrow map stages, no shuffle, no "
        "Python; embarrassingly parallel at any corpus size. Each fold "
        "consumes the previous segmentation exactly once (NULL-init "
        "accumulator), keeping the expression tree linear in M where the "
        "head/rest formulation fans out ~3^M (measured 88 s → 4.8 s at "
        "M=8). Merge rules are plan literals (PQ_CODEBOOK pattern): the "
        "bounded top-K collect lives in the trainer loop, never here."
    ),
    "q_length_quality_corr": (
        "Pearson r from exact INTEGER moments: per-doc word count and "
        "1e-4-quantized quality feed one hash aggregate of six integer "
        "sums (associative, combine-order-immune); the closed-form r is "
        "evaluated from the same integers on both engines. Never uses "
        "corr() — float moment accumulation is engine-defined."
    ),
    "q_ngram_novelty": (
        "First-seen novelty, aggregate-only (round-9 reshape of the "
        "probe's worst ratio): per-shingle min → per-doc first-seen "
        "count, plus a per-doc shingle count, both map-side-combined "
        "over the cached posting explode — the posting list itself is "
        "never joined or re-shuffled; the only join is doc-cardinality "
        "(per_doc ⋈ novel). No per-doc history scan, nothing pairwise."
    ),
    "q_cms_heavy_hitters": (
        "Count-Min calibration: token explode ×d (linear), one hash "
        "aggregate into the bounded d·w sketch table (the "
        "legitimate-broadcast case), exact top-K via "
        "TakeOrderedAndProject, then a broadcast join + min-rollup for "
        "the estimates. Sketch rows merge additively across partitions "
        "— the production union."
    ),
    "q_key_skew_report": (
        "Skew diagnostic: one explode + one hash aggregate on the "
        "posting key, a 1-row exact total broadcast, and "
        "TakeOrderedAndProject for the heaviest keys (per-partition "
        "heaps, no global sort); the rank window covers K=20 rows, "
        "bounded by construction. Feeds salting/capping decisions "
        "BEFORE the posting self-join pays the quadratic hot key."
    ),
    "q_sketch_union": (
        "Mergeability proof for the KMV sketch: per-day k-min sets are "
        "a rank window over per-day DISTINCT hashes (production form: "
        "per-partition k-heaps, same result), the union re-rank runs "
        "over the ≤ k·n_days survivors — bounded — and the direct leg "
        "is the proven TakeOrderedAndProject shape. Union estimate == "
        "direct estimate is asserted in-process AND graded; this "
        "equality is exactly why a 1000-executor fleet can sketch per "
        "partition and merge without shuffling raw values."
    ),
    "q_mad_outliers": (
        "Exact grouped median/MAD WITHOUT shuffling raw rows: the "
        "counting form aggregates to per-(type, value) COUNT rows "
        "first, runs the cumulative window over those distinct-value "
        "rows only, and reads the interpolated median off the two "
        "middle ranks as exact integers (med2/mad4 in 1e-6 fixed "
        "point), making the modified z-score threshold a pure-integer "
        "predicate. Per-type stats are an enum-bounded broadcast dim. "
        "The DuckDB oracle states the same numbers via plain median() — "
        "agreement proves the counting form IS the interpolated median."
    ),
    "q_data_quality_checks": (
        "Deequ-pattern admission gate: every metric is a conditional "
        "aggregate fused into ONE scan per table (COUNT DISTINCT is the "
        "single wide metric — its shuffle carries distinct ids only), "
        "then a bounded explode unpivots the one aggregate row into "
        "verdict rows. Integer-ppm metrics make the verdicts "
        "hash-exact cross-engine. At 100 TB this is the pre-training "
        "batch gate: two scans, no raw-row shuffle, no driver loop."
    ),
    "q_dataset_diff": (
        "Snapshot reconciliation: ONE full-outer equi-join on the key — "
        "the canonical diff shape, both sides shuffle-partitioned on "
        "event_id with AQE choosing the strategy — then a hash "
        "aggregate onto (event_type, status). Added/removed/changed "
        "classification and fixed-point drift are pure projections "
        "inside the join's codegen stage; output is "
        "class-cardinality-bounded."
    ),
    "q_ks_drift": (
        "Exact two-sample KS without shuffling raw rows: the same "
        "counting skeleton as q_mad_outliers — per-(type, value) cohort "
        "counts, cumulative windows over distinct-value rows, the CDF "
        "sup carried as the exact integer |cum_a·nb − cum_b·na| "
        "(cross-multiplied, no float CDFs), one double division at the "
        "end. Drift verdict against the α=0.05 critical value is a "
        "deterministic comparison both engines compute identically."
    ),
    "q_stream_quality_monitor": (
        "Continuous DQ monitoring on the stream: watermarked 1-hour "
        "windows aggregate count + conditional sums — all decomposable, "
        "so partial state merges associatively in the state store and "
        "eviction is watermark-bounded. The availableNow drain equals "
        "the batch rollup (full value oracle); swap the trigger for "
        "processingTime and the identical plan watches a live ingest."
    ),
    "q_label_propagation": (
        "Community detection vs connectivity: where connected "
        "components fuse everything a chain of borderline pairs links, "
        "LPA's mode-label update keeps weakly bridged clusters apart "
        "(pinned by the two-cliques-one-bridge test). Synchronous "
        "rounds with a fixed iteration count and (count DESC, label "
        "ASC) tie-break make it deterministic cross-engine; the "
        "stabilizing self-vote rides as SELF-LOOP edges so the label "
        "frame is referenced once per round and the iteration chain "
        "stays a linear plan (a second reference would fan the subtree "
        "out 2^iters times). Each round is one cached-edge equi-join + "
        "hash aggregate + per-node argmax as min(struct(-count, label)) "
        "— a second aggregate with map-side partials instead of a "
        "rank-1 window sort — Pregel shape, same as the integer "
        "PageRank."
    ),
    "q_vocab_overlap": (
        "Source-redundancy map: DISTINCT (source, word) postings joined "
        "on the WORD (high-cardinality, well-distributed — the skew-safe "
        "direction), never doc×doc; per-source vocab sizes attach as an "
        "enum-bounded broadcast after the pair aggregate. Output is "
        "pair-cardinality-bounded, Jaccard in exact integer ppm."
    ),
    "q_quota_resample": (
        "Exact class balancing: one rank window per language over the "
        "salted doc hash (ties broken by doc_id so both engines keep "
        "the identical survivor set); quota is a single-row broadcast. "
        "At 100 TB the full per-class sort swaps for a selection "
        "threshold (quota-th smallest hash via quantile sketch, then "
        "scan-filter) — same survivors; this graded form is the "
        "exact-selection contract that threshold must reproduce."
    ),
    "q_langid_confusion": (
        "Classifier audit as a plan: predicted_lang is a pure codegen "
        "expression fused into the scan, one hash aggregate onto the "
        "bounded lang×lang key space, row totals re-aggregated from the "
        "CELLS (never a second corpus pass) and broadcast back. "
        "Diagonal row_ppm is per-class recall, exact integer."
    ),
    "q_hll_users": (
        "Explicit 512-register HyperLogLog (round 8 — replaced the "
        "implementation-defined approx_count_distinct to earn a full "
        "value oracle): register build is ONE hash aggregate on "
        "(event_type, register) — at most 512 rows per group survive, "
        "the mergeable partial-sketch union production HLL relies on; "
        "no raw-value shuffle. Rank and register sum are pure-integer "
        "codegen expressions (bit_count trailing-zero rank, exact "
        "Σ 2^(52-M_j) as BIGINT) so the estimate is deterministic "
        "cross-engine. The exact COUNT(DISTINCT) leg exists only to "
        "grade the sketch's rel_err calibration."
    ),
    "q_kmv_users": (
        "KMV distinct sketch: hash-distinct then TakeOrderedAndProject "
        "for the k smallest — per-partition k-heaps merged on the "
        "driver, the same associative union a production KMV sketch "
        "uses; never a global sort. The exact COUNT(DISTINCT) leg is "
        "the calibration this query exists to report."
    ),
    "q_doc_features": (
        "Wide feature assembly: all scalar text signals in ONE scan "
        "projection (codegen), the unigram-surprisal leg as the standard "
        "explode → two hash aggregates → vocab join, the exact-dup flag "
        "as a fingerprint hash-aggregate joined back on the same key "
        "(exchange reuse). Near-dup features deliberately come from the "
        "materialized pair tables in production, keeping this linear."
    ),
    "q_matryoshka_probe": (
        "MRL truncation fidelity: candidate pairs from the shared banded "
        "LSH front end, a handful of JVM array folds per pair (prefix "
        "dots/norms), then ONE aggregate row stacked into one row per "
        "prefix. Per-pair deviations quantize to 1e-6 BIGINTs before the "
        "sum — shuffle combine order cannot move the 6-dp mean."
    ),
    "q_minhash_estimate_error": (
        "Estimator calibration on the banded candidate pairs: the "
        "signature-agreement estimate is 16 integer equality checks per "
        "pair over the cached signature frame (no recompute), the exact "
        "leg is the standard two id-equi-joins to the cached shingle "
        "sets. Everything is linear in candidate volume; the expensive "
        "verify it calibrates is the thing a 100 TB run can then skip."
    ),
    "q_paraphrase_candidates": (
        "Embedding-only near-dup slice: LEFT ANTI equi-join of the "
        "embedding-LSH pair list against the MinHash pair list (both "
        "banded-linear), then two AQE-decided lang-dim joins. The lang "
        "dim is one row per document — corpus-cardinality, so no hard "
        "broadcast hint."
    ),
    "q_incremental_dedup": (
        "New-batch-vs-corpus dedup: the batch's MinHash band keys "
        "equi-join the corpus' band-key index (both sides filters over "
        "one cached kernel frame here; the stored index and the stream "
        "call the same dedup_against on their own corpus tables), exact "
        "Jaccard verifies only the collisions. Corpus-internal pairs "
        "never recompute — cost is "
        "linear in the batch plus its true collisions, however large the "
        "corpus."
    ),
    "q_url_dedup": (
        "URL canonicalization dedup: the canonicalizer is a chain of "
        "JVM regex/array expressions in the scan projection (whole-stage "
        "codegen, no Python, no join), followed by ONE map-side-combined "
        "hash aggregate on the canonical key. The cheapest dedup signal "
        "in a crawl pipeline — it reads zero text bytes, so at 100 TB it "
        "runs first and shrinks everything downstream."
    ),
    "q_quality_logit": (
        "Model-based filter apply: the logistic scorer is a pure "
        "projection over the feature frame (weights are plan literals — "
        "no join, no Python, whole-stage codegen), the logit quantizes "
        "to a 1e-6 BIGINT so keep/drop at each pre-mapped threshold is "
        "an exact integer compare, and the ablation rollup is a 4-row "
        "bounded broadcast cross join into ONE map-side-combined hash "
        "aggregate. Upstream cost is q_doc_features itself; the apply "
        "step adds a single linear pass."
    ),
    "q_index_incremental_dedup": (
        "The stored-index production path graded end-to-end: build + "
        "append are plain partitioned parquet writes (one row per "
        "(doc, band) / per doc — linear in corpus, transactional "
        "MERGE/append at warehouse scale), and the query leg is an "
        "equi-join of the batch's band keys against the STORED band "
        "table scan (AQE decides strategy — the index side is corpus-"
        "sized, so no hard broadcast) followed by exact-Jaccard verify "
        "on collisions only. The corpus is never re-shingled: per-run "
        "cost is the batch scan plus true collisions, whatever the "
        "corpus size."
    ),
    "q_index_ann": (
        "Stored ANN index serve: probes' band keys equi-join the stored "
        "band table (hash-join-shaped, fan-out capped by the 8-bit band "
        "key), exact cosine re-ranks candidates only against the stored "
        "normalized vectors, and the top-K cut is the shared 1e-6 "
        "fixed-point row_number contract keyed on query_id. Build + "
        "append legs are linear parquet writes; at 100 TB only the "
        "probe batch pays compute — the corpus index is a "
        "partition-pruned scan."
    ),
    "q_pq_quantize": (
        "Product quantization in ONE scan projection: 64 subvector-to-"
        "codeword distance folds per vector as codegen'd HOFs (codebook "
        "literals live in the plan — no join, no Python), argmin via "
        "array_min over (dist, idx) structs, then a two-phase aggregate "
        "on label. The mean reconstruction error aggregates in fixed "
        "point (1e9-quantized bigint), so combine order cannot flip the "
        "6-dp rounding."
    ),
    "q_ensemble_dedup": (
        "Signal fusion: FULL OUTER equi-join of the MinHash pair list and "
        "the embedding-LSH pair list — both banded-candidate outputs "
        "already linear in corpus + true near-dups, far smaller than the "
        "corpus, so the fusion is one AQE-planned join over pair frames; "
        "raw text and vectors are never touched again."
    ),
    "q_diversity_sample": (
        "Linear simhash fingerprint scan + ONE hash aggregate on the "
        "8-bit prefix bucket — the cheap semantic-coverage pass that runs "
        "before any pairwise dedup; nothing in the plan grows faster than "
        "the corpus."
    ),
    "q_substring_dedup": (
        "Exact duplicated-span detection, aggregate-only (round-9 "
        "reshape): window explode (one row per 8-token window), hash60 "
        "projection, then TWO map-side-combined aggregates over the "
        "cached postings — per-doc window count, and per-whash "
        "count+min-owner whose count==1 rows group into per-doc unique "
        "counts (dup = total − unique, valid because windows are "
        "distinct per doc). The posting list is never joined or "
        "re-shuffled; the only join is doc-cardinality. Nothing is "
        "quadratic in duplicate density."
    ),
    "q_substring_clean": (
        "Duplicated-span REMOVAL (the production write leg of "
        "q_substring_dedup): occurrence-level window explode stays "
        "linear in corpus tokens, the duplicate test is one hash "
        "aggregate on whash re-joined on the same key (shared "
        "partitioning), covered-token indices explode at most w rows "
        "per duplicated window into a collect_set aggregate, and the "
        "text rebuild is a per-row codegen'd higher-order function "
        "after ONE doc_id equi-join — AQE-decided, both sides corpus-"
        "cardinality, no broadcast hints, no suffix array, no driver "
        "state. Remove-all contract keeps the transform order-free. "
        "Output is the DELTA REPORT (affected docs only, inner join on "
        "the covered set): the 100 TB rewrite touches changed rows "
        "only, and the result cardinality depends on the dedup "
        "pipeline itself, so count()-style actions execute the real "
        "plan instead of pruning it to a scan."
    ),
    "q_winnow_matches": (
        "MOSS winnowing as a Spark plan: the k-gram key construction "
        "and the window-min selection are TWO pinned projections (one "
        "codegen'd stage, zero shuffles until the join) — inlined, "
        "Catalyst re-evaluates the key array per window position, "
        "O(m^2) md5s per doc, measured 10x (pinned by "
        "test_winnow_projection_boundary). Argmin-with-rightmost-tie "
        "is a plain string min over hex15(hash)||pad(POS_CAP-pos) "
        "composite keys, so both engines agree byte-identically. The "
        "MOSS common-fingerprint cap (df <= 50) is also the scale "
        "guard: it bounds the fingerprint self-join fan-out per key at "
        "df^2, and the cap aggregate shares the join's hash key "
        "(exchange-reusable). Fingerprint rows cached once "
        "(cache_tracked) across the size and pair legs."
    ),
    "q_scd2_dimension": (
        "SCD type-2 build from the immutable event log: gaps-and-"
        "islands double-row_number finds state runs, boundary rows "
        "(one per run) carry valid_from; lead() over the boundary "
        "frame closes the half-open intervals. EVERY window partition "
        "key here is a refinement of user_id, so the whole dimension "
        "build is ONE shuffle on user_id plus in-partition sorts; the "
        "version-level windows run on corpus-sublinear boundary rows. "
        "Epoch-micro integer outputs keep the cross-engine hash exact."
    ),
    "q_bitmap_distinct": (
        "Bitmap-index distinct counting (Druid/ClickHouse "
        "groupBitmap): two stacked map-side-combinable hash "
        "aggregates — (type, day, id div 32) -> bit_or word, then "
        "popcount sum. The word table is the serving artifact: exact "
        "AND mergeable (OR-ing day words yields week/month distincts "
        "with no raw rescan — pinned by "
        "test_bitmap_distinct_is_exact_and_mergeable). 32-bit words "
        "inside BIGINTs keep every value positive so JVM and DuckDB "
        "shift/popcount agree; the calibration join runs on the same "
        "(type, day) key as the rollup."
    ),
    "q_tokenizer_fertility": (
        "Tokenizer-bias measurement: per-(lang, source) fertility "
        "(BPE tokens per word) and chars-per-token. The BPE fold is "
        "the linear single-reference-per-level higher-order aggregate "
        "from q_bpe_apply (codegen'd, no Python, no shuffle); the "
        "rollup is one partial+final hash aggregate. All ratios "
        "divide exact integer sums — combine-order-free without "
        "fixed-point quantization."
    ),
    "q_interval_concurrency": (
        "Sweep-line peak concurrency as a DISTRIBUTED prefix sum: the "
        "naive formulation is one global running sum — a single-"
        "partition window over corpus-cardinality boundaries, the one "
        "shape that cannot scale. Here: (1) net deltas per position "
        "(map-side-combinable hash aggregate over the +1/-1 boundary "
        "union), (2) running sums WITHIN day partitions, (3) carry-in "
        "offsets from one running sum over per-day totals — the only "
        "single-partition window, calendar-bounded (thousands of rows "
        "at any corpus size), broadcast back onto the day partitions, "
        "(4) per-day argmax filter. Blelloch's two-phase scan on a "
        "cluster; sessionization shares q_sessionize's gap rule. "
        "Boundary fan-out is one explode (a union of two projections "
        "would recompute the sessionize subtree) and the net-delta "
        "frame is cached once (cache_tracked) because both the day "
        "partials and the carry pass consume it. The "
        "argmax output keeps result cardinality sweep-dependent, so a "
        "count()-only consumer cannot prune the running sums."
    ),
    "q_centroid_confusion": (
        "Clustering-evaluation confusion matrix: the fit/assign legs "
        "are the proven deterministic k-means plans (broadcast K-row "
        "centroids, narrow map-side argmin aggregate); everything "
        "downstream runs on the K x |labels| CELL frame — bounded by "
        "construction, corpus-independent. Majority flag and integer-"
        "ppm purity are two windows over that tiny frame; the label "
        "join is a vec_id equi-join (AQE-decided; at warehouse scale "
        "the label rides the same table and it collapses to a "
        "projection). Integer-div ppm keeps the value hash exact."
    ),
    "q_dedup_threshold_sweep": (
        "Threshold-calibration in ONE pass: the exact-Jaccard pair "
        "list (the proven posting-list plan, floored at the grid "
        "minimum so output stays near-dup-sized) is cached once, then "
        "each pair explodes onto ONLY the grid thresholds it "
        "qualifies for (array-filter explode — no pair x grid cross "
        "join, no per-threshold corpus rescan). Both rollups (pair "
        "counts + distinct docs) are hash aggregates on |grid|-"
        "bounded keys; quantities are integer ppm with exact-integer "
        "div means. This is the table that picks the cutoff BEFORE "
        "the 100 TB dedup run commits to one."
    ),
    "q_event_transitions": (
        "Markov transition matrix of user behavior: sessionize (the "
        "q_sessionize gap rule) and the within-session lead share ONE "
        "shuffle on user_id — the (user_id, sid) window is a strict "
        "refinement, so Spark reuses the exchange and only re-sorts. "
        "The transition rollup is a map-side-combinable hash "
        "aggregate onto |event_types|^2 cells; probability and rank "
        "windows run on that bounded cell frame. Integer-ppm "
        "probabilities keep the cross-engine hash exact."
    ),
    "q_session_funnel_paths": (
        "Empirical funnel discovery off ONE shuffle: sessionize, the "
        "within-session row_number, and the per-session aggregate all "
        "share the user_id exchange ((user, sid) keys refine the "
        "window partitioning), and collect_list(when(rn<=4, ...)) "
        "skips nulls so the path prefix and the FULL session length "
        "come out of the same aggregate — no second pass, no "
        "self-join. The path rollup and the rank window run on at "
        "most |event_types|^4 cells — bounded by construction."
    ),
    "q_burst_detection": (
        "Rate-spike detection with a CALIBRATED rule: flags hours at "
        ">= 2x the user's trailing 7-day hourly PEAK (min 5 active "
        "hours of history). Peak-relative baselines survive sparse "
        "streams — the classic 3x-trailing-average rule flagged "
        "8401/8402 eligible fixture buckets (nearly every active hour "
        "of a mostly-1-event-per-hour stream trivially beats its "
        "average), this flags 2.6%. Plan: one map-side-combinable "
        "bucket aggregate, then max+count over ONE integer-RANGE "
        "window in the same user partition — no second shuffle; the "
        "predicate is pure integer arithmetic."
    ),
    "q_doc_chunking": (
        "Context-window chunking as a PURE PROJECTION: one scan, zero "
        "shuffles, whole-stage codegen end to end. The word array is "
        "materialized once per doc in its own projection (bare column "
        "reference inside the chunk-building lambda — the winnowing "
        "projection-boundary lesson), all chunks of a doc are built in "
        "ONE higher-order transform, and the explode fans out rows "
        "that carry only the chunk payload, never the full array. "
        "Output volume is the inherent ~WORDS/STRIDE x corpus chunk "
        "overhead; the non-empty chunk_text filter keeps result "
        "cardinality dependent on the reconstructed text (no count() "
        "pruning of the slice/join work)."
    ),
    "q_dup_centrality": (
        "Iterative graph algorithm with a FULL value oracle: integer "
        "PageRank (1e9 fixed scale, rank div degree contributions, "
        "damping as the exact rational 17/20) runs five Pregel-shaped "
        "iterations — each ONE edge-to-rank equi-join plus a hash "
        "aggregate on the destination key, edges and degrees cached "
        "once. No float enters the fixpoint, so Spark, five unrolled "
        "DuckDB CTEs, and the Python test twin agree bit-for-bit. "
        "Production use: pick a duplicate cluster's canonical doc by "
        "centrality instead of min-id."
    ),
    "q_ann_recall_audit": (
        "Offline ANN tuning job: the exact leg is |probes| x corpus "
        "(linear for a fixed sample fraction — the documented audit "
        "cost; never all-pairs), the banded leg is the existing "
        "q_ann_join plan, and the comparison is one (probe, neighbour) "
        "equi-join into a single-row aggregate. Both legs rank on the "
        "shared 1e-6 fixed-point contract, so ties break identically "
        "cross-engine. Mean recall@3 ~= 0.05 here is the S-curve spec "
        "measured, not a defect: every exact top-3 neighbour of the "
        "probe sample sits below the band-collision knee, which the "
        "banded index is designed to ignore."
    ),
    "q_format_roundtrip": (
        "Interchange-format grading: the write legs serialize "
        "timestamps as epoch micros and values as 1e-6 fixed-point "
        "BIGINTs, so every JSONL/CSV cell is integer-or-string and the "
        "text roundtrip is exact BY CONSTRUCTION — doubles never meet "
        "a decimal formatter. Read-back uses explicit schemas (the "
        "engine never infers), cross-format identity is asserted "
        "in-process, and the graded rollup is read-identity vs the "
        "parquet events table. At 100 TB this is the landing-zone "
        "ingest contract: format conversion must be value-neutral."
    ),
    "q_zorder_layout": (
        "Multi-dimensional clustering: both dimensions range-normalize "
        "ORDER-PRESERVINGLY to the same bit width (a raw modulo lets "
        "the wider dimension dominate the Morton key AND destroys the "
        "min/max stats a skipping scan reads — caught live when the "
        "first cut tied the linear layout); the time axis is the "
        "corpus-relative epoch hour, not a calendar bucket that would "
        "alias across months. Then a 16-term shift/mask "
        "interleave runs as a codegen'd projection and ONE range "
        "shuffle lays the files out. The skipping win is proven from "
        "parquet footers in-process: strictly fewer candidate files "
        "per user probe than the (date, ts)-linear layout, which "
        "cannot narrow user ranges at all. Content is oracle-verified "
        "read-identical."
    ),
    "q_incremental_rollup": (
        "Incremental MV refresh: the stored per-(user, date) rollup "
        "merges with the delta batch's PARTIAL aggregates over touched "
        "partitions only (decomposable aggs — count/sum/min/max — make "
        "re-aggregation of partials exact; sums are 1e-6 fixed-point "
        "BIGINTs so combine order cannot move them), then dynamic "
        "partition overwrite replaces ONLY the touched date dirs — "
        "untouched partitions are byte-identical, asserted in-process. "
        "Refresh cost is |delta| + |touched partitions|; the event "
        "history is never rescanned. Oracle: read-identity with the "
        "full recompute."
    ),
    "q_lsh_pair_audit": (
        "Banding audit: both pair pipelines (exact inverted-index "
        "Jaccard and banded MinHash, each linear in corpus + true "
        "near-dups) fuse through ONE full-outer equi-join on the pair "
        "key into a single-row aggregate — the q_ensemble_dedup shape "
        "with a metrics head. Recall < 1 counts pairs the banding "
        "missed (the MMDS S-curve tuning signal); precision < 1 here "
        "can only expose the BASELINE's blocking blindness, since LSH "
        "pairs are already exact-verified — at sf0.01 it surfaces 19 "
        "cross-lang J≥0.95 pairs the lang-blocked baseline cannot see."
    ),
    "q_token_budget_plan": (
        "Mixture planner: one two-phase aggregate over the corpus "
        "(per-source token sums), a deterministic per-source weight, "
        "and a single-row broadcast cross join; planned tokens are "
        "EXACT integer arithmetic ((budget × w) div Σw — Spark `div` "
        "== DuckDB `//`), so the plan is reproducible bit-for-bit "
        "however the aggregate combines. The corpus is scanned once; "
        "everything downstream is arithmetic on a 20-row frame."
    ),
    "q_substring_keepone": (
        "Keep-one ExactSubstr (the literal Lee et al. semantics): "
        "occurrence count AND canonical rank come from ONE window pass — "
        "count(*) over (partition by whash) and row_number() over "
        "(partition by whash order by doc_id, pos) share a single whash "
        "exchange, so duplicate detection costs one shuffle total (vs "
        "the remove-all variant's aggregate+join pair). Rank order is "
        "exact integers, deterministic across engines and "
        "partitionings; the rebuild is the shared array_except HOF "
        "after one doc_id equi-join."
    ),
    "q_index_compaction": (
        "Stored-index maintenance pass with PLANNER semantics (Delta "
        "OPTIMIZE's threshold): a table rewrites only when its file "
        "census exceeds the planned ceil(rows/target) count, so an "
        "already-compact table is a no-op and the nightly job never "
        "pays a census-growing rewrite (caught live by the 10x scale "
        "probe before the planner existed). Rewrites are ONE range "
        "shuffle per table, clustered on (band_id, band_key) so "
        "post-compaction parquet min/max stats let the serving "
        "equi-join skip files wholesale — the read path gets faster "
        "while verdicts stay byte-identical (read-identity oracle, "
        "census monotonicity asserted in-process). The serve leg is "
        "the stored-band equi-join + collision-only Jaccard verify, "
        "unchanged."
    ),
    "q_log_compaction": (
        "Maintenance lifecycle graded end-to-end: retention is Hadoop-FS "
        "directory deletion (no data read, no shuffle) and runs FIRST so "
        "the compaction never rewrites expiring bytes; compaction is ONE "
        "range shuffle on (date, timestamp) via the sampled range "
        "partitioner (no driver bottleneck) writing TIMESTAMP_MICROS so "
        "parquet min/max stats keep file-skipping alive; the read-back "
        "verification groups on the partition column — partition-pruned "
        "scan plus one map-side-combined hash aggregate. The graded "
        "values pin read-identity and the ceil(rows/target) file "
        "contract."
    ),
    "q_semdedup": (
        "SemDeDup with data-adaptive K (n / target cluster size): the "
        "centroid assignment is a K-row broadcast cross join whose argmin "
        "is min(struct(score, cid)) over a NARROW (vec_id, cid, score) "
        "frame — one map-side-combined row per vector through the "
        "exchange regardless of K — and the pairwise stage is an "
        "equi-join on cid whose per-bucket fan-out is capped by the "
        "target cluster size, so total pair volume is linear in the "
        "corpus. No CartesianProduct; the only nested-loop joins are the "
        "bounded centroid broadcasts."
    ),
    "q_unigram_logprob": (
        "Corpus-fit unigram surprisal: token explode feeds two hash "
        "aggregates (per-(doc, word) tf with map-side combine; global "
        "vocab counts) and one equi-join on word — the vocab side "
        "carries no broadcast hint because web-scale unique-token counts "
        "grow with the corpus (AQE decides). Per-token nll is quantized "
        "to 1e-6 nats as bigint so the doc sum is exactly associative "
        "under any combine order."
    ),
    "q_bigram_logprob": (
        "Bigram JM surprisal: two explodes and three hash aggregates "
        "(all map-side combined), then equi-joins on the bigram/word "
        "keys — the model frames are VOCABULARY-sized, so they carry no "
        "broadcast hint (web-scale vocabularies grow with the corpus; "
        "AQE decides). The only hinted broadcast is the single-row "
        "token total. Per-bigram nll quantizes to 1e-6 nats as bigint "
        "before the doc rollup, making the mean combine-order exact."
    ),
    "q_training_order": (
        "The final publish stage: salted-hash order key + shard = hash "
        "mod N computed in the scan projection, one map-side-combined "
        "hash aggregate for the balance audit. The physical write this "
        "audits is partitionBy(shard) + sortWithinPartitions(order_key) — "
        "one shuffle, no global sort, reproducible across retries "
        "(rand() order is neither)."
    ),
    "q_ccnet_buckets": (
        "CCNet terciles without a global sort: per-lang cut points come "
        "from percentile AGGREGATES (two-phase, no NTILE window funneling "
        "each language through one sort task) and rejoin as a BOUNDED "
        "broadcast (one row per language — cardinality does not grow with "
        "the corpus, the legitimate-broadcast case). Doc scoring reuses "
        "the unigram join; bucket means aggregate in fixed point."
    ),
    "q_leakage_safe_split": (
        "Eval-contamination guard: the split key is the duplicate-group "
        "canonical id, so every copy of a text lands in the same split by "
        "construction. One fingerprint hash-aggregate (min doc_id per "
        "group) and an equi-join back ON THE SAME fingerprint key — "
        "co-partitioned with the aggregate, exchange reused — then a "
        "map-side-combined rollup. Nothing pairwise, nothing keyed on a "
        "fixed-cardinality column."
    ),
    "q_ann_join": (
        "ANN self-join: the candidate generator is an EQUI-join of the "
        "banded LSH signature frame with itself on (band_idx, band_val) "
        "— a plain shuffled hash join whose fan-out is capped by the "
        "8-bit band key, never a cartesian (the vec_id <> vec_id term is "
        "a post-join filter on an equi-join, not a join strategy). Exact "
        "cosine re-ranks candidates only, and the top-K cut is a "
        "row_number window keyed on vec_id — corpus-cardinality, so "
        "window parallelism grows with the data. The cached signature "
        "frame stops CollapseProject from re-inlining the 32 hyperplane "
        "folds into both join sides."
    ),
    "q_dsir_weights": (
        "DSIR importance weights: one feature explode (linear, "
        "whole-stage codegen) and ONE hash aggregate building both "
        "bucket counts via conditional sum — not two aggregates joined. "
        "The feature-weight table is bounded at DSIR_BUCKETS=4096 rows "
        "BY CONSTRUCTION (the hashing trick), so its broadcast back onto "
        "per-doc bucket counts is legitimate at any corpus size — "
        "contrast the raw-vocab joins (q_unigram_logprob) that must stay "
        "AQE-decided. Per-bucket log-ratios are 1e-6-nat fixed-point "
        "BIGINTs, so the per-doc sum is associative under any shuffle "
        "combine order."
    ),
    "q_pmi_collocations": (
        "Phrase mining: two linear explodes feed two-phase hash "
        "aggregates (bigram counts with the min-count floor applied "
        "BEFORE any join, unigram vocab); the bigram frame joins the "
        "vocab twice on the word key — corpus-cardinality, so no "
        "broadcast hint, AQE decides. Scalar totals cross in as 1-row "
        "broadcasts, and the top-K is TakeOrderedAndProject on the "
        "quantized-PMI bigint (per-partition heaps + driver merge, "
        "never a global sort)."
    ),
    "q_filter_funnel": (
        "Curation ablation report: every rule flag is a codegen'd "
        "expression in ONE linear scan, all marginal and cumulative "
        "counters sum in ONE aggregate row (map-side partials — the "
        "shuffle carries one state row per partition), and the per-rule "
        "table is an unpivot of that row. Adding a rule adds a column, "
        "not a pass over the corpus."
    ),
    "q_vocab_coverage": (
        "Tokenizer-design curve: one token explode + vocab aggregate "
        "(cached — the union's branches read the InMemory relation, not "
        "the corpus), then each curve point is orderBy().limit(V) over a "
        "CONSTANT V — TakeOrderedAndProject with per-partition V-row "
        "heaps, never a global sort or a single-partition rank window. "
        "The 'rank the whole vocab' anti-pattern is avoided because the "
        "question only asks about a bounded prefix."
    ),
    "q_doc_keywords": (
        "Per-doc tagging: linear explode, two two-phase hash aggregates "
        "(tf, df), an AQE-decided vocab join (corpus-growing — no "
        "broadcast hint) plus the scalar doc-count broadcast, and a rank "
        "window PARTITIONED ON doc_id — corpus-cardinality, so window "
        "parallelism grows with the data instead of funneling through a "
        "handful of sort tasks."
    ),
    "q_user_value_median": (
        "percentile(0.5) participates in the standard two-phase "
        "aggregation: partial state before the exchange, merge after — "
        "no Python worker, no Arrow transfer (the applyInPandas "
        "formulation of the same median costs ~13× more wall-clock at "
        "sf0.1 and is kept only as the §2.9 grouped-map test leg)."
    ),
}


def plan_of(name: str, spark) -> str:
    df = entrymod.queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark("explain-audit")
    if len(sys.argv) > 1:
        for name in sys.argv[1:]:
            print(plan_of(name, spark))
        spark.stop()
        return

    out = [
        "# PLANS — physical-plan audit of representative queries",
        "",
        f"Generated by `python tools/explain_audit.py` at sf_dir={SF_DIR}.",
        "Each plan is the `explain('formatted')` output; the commentary",
        "states the property that makes the plan scale — regenerate after",
        "touching any of these queries and re-check the property still",
        "holds.",
        "",
    ]
    for name, why in COMMENTARY.items():
        out.append(f"## {name}")
        out.append("")
        out.append(why)
        out.append("")
        out.append("```")
        out.append(plan_of(name, spark).rstrip())
        out.append("```")
        out.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
