"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology (round 4): one UNTIMED warmup pass (JVM/JIT, parquet footer
caches, shuffle-service init), then MEDIAN-OF-3 timed passes per query.
This host exhibits multi-ten-second scheduling stalls (virtualized CPU
steal); the median of three spread-out reps is robust to one stalled rep
without the best-of-N bias toward lucky cache states. Reps are taken as
full passes over the query list (not back-to-back) so a stall burst hits
at most one rep of each query. A trivial reference scan (`__ref_scan__`:
count of the events table) is timed at the start of every pass — its
round-over-round movement is the NOISE FLOOR, letting uniform
environment drift be factored out of per-query comparisons.

Tracked operator caches (LSH signatures, shingle sets) are released after
every query run, so each rep measures the full cold-cache cost instead of
hitting the previous rep's persisted blocks.

Set SPARK_GRAFT_BENCH_REPS to change the timed-rep count (1 = single-shot)
and SPARK_GRAFT_BENCH_WARMUP=0 to skip the warmup pass.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from langchain_callback_parquet_logger_spark.plans.session import (
    get_spark,
    load_table,
    release_caches,
)

import __spark_entry__ as entrymod

# Queries reported in the one-line JSON summary.  Every module is
# represented, but the line must fit the driver's stdout-tail capture,
# which is exactly 2,000 characters (BENCH_r02/r07/r08 all came back
# "parsed": null when the line outgrew it — r8's 2.2 KB trim assumed a
# 3 KB capture and still clipped).  Budget: ~45 family representatives
# at 2-decimal times ≈ 1.4 KB; MAX_SUMMARY_BYTES enforces the contract
# at runtime so registry growth can never silently break it again.
# ALL queries are still timed; the complete 3-decimal record goes to
# BENCHFULL.json.
MAX_SUMMARY_BYTES = 1900
HEADLINE = [
    # parity core
    "q_token_rollup",
    "q_scan_project",
    "q_batch_map",
    "q_revenue_by_nation",
    "q_anti_join_checkpoint",
    "q_format_roundtrip",
    # analytic / SQL surface
    "q_sessionize",
    "q_interval_concurrency",
    "q_scd2_dimension",
    "q_funnel",
    "q_hll_users",
    "q_sketch_union",
    "q_mad_outliers",
    "q_ks_drift",
    # text analysis
    "q_lang_id",
    "q_quality_score",
    "q_tfidf_top_terms",
    "q_bigram_logprob",
    "q_tokenizer_fertility",
    "q_langid_confusion",
    # deduplication
    "q_exact_dedup",
    "q_minhash_dedup",
    "q_dedup_clusters",
    "q_label_propagation",
    "q_incremental_dedup",
    "q_substring_dedup",
    "q_lsh_pair_audit",
    # similarity search
    "q_knn_bruteforce",
    "q_kmeans_ivf",
    "q_embedding_dedup",
    "q_semdedup",
    "q_ann_join",
    "q_index_ann",
    # temporal joins
    "q_asof_join",
    "q_range_join_banded",
    # multimodal
    "q_multimodal_features",
    # training-data pipeline
    "q_corpus_clean",
    "q_data_quality_checks",
    "q_dataset_diff",
    "q_sequence_pack",
    "q_bpe_apply",
    "q_token_budget_plan",
    "q_cost_attribution",
    # maintenance lifecycle
    "q_log_compaction",
    "q_zorder_layout",
    # streaming
    "q_stream_hourly_counts",
    "q_stream_sessionize",
]

REF_QUERY = "__ref_scan__"  # noise-floor probe: trivial full scan count


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]

    # Warm up the JVM + parquet footer caches with a trivial job.
    spark.range(1).count()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    do_warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    runs: dict[str, list[float]] = {n: [] for n in names}
    ref_runs: list[float] = []
    counts: dict[str, int] = {}

    errors: dict[str, str] = {}

    def one(name: str, timed: bool = True) -> None:
        # Per-query guard: one broken query must not void the whole bench
        # record (the driver keeps only this process's output).
        t0 = time.perf_counter()
        try:
            counts[name] = qs[name](spark, sf_dir).count()
            if timed:
                runs[name].append(time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"
            print(f"# ERROR {name}: {errors[name]}", file=sys.stderr)
        finally:
            # each rep measures cold-cache cost, and cached blocks never
            # accumulate across the multi-pass run
            release_caches()

    def ref(timed: bool = True) -> None:
        t0 = time.perf_counter()
        load_table(spark, sf_dir, "events").count()
        if timed:
            ref_runs.append(time.perf_counter() - t0)

    # Reps are FULL PASSES over the query list, not back-to-back: this
    # host's hypervisor stalls come in multi-ten-second bursts, so two
    # immediate reps of one query land in the same burst. Spreading the
    # reps minutes apart decorrelates them at zero extra cost.
    warmup_sec = 0.0
    if do_warmup:
        t0 = time.perf_counter()
        ref(timed=False)
        for name in names:
            one(name, timed=False)
        warmup_sec = round(time.perf_counter() - t0, 3)
    for _ in range(reps):
        ref()
        for name in names:
            one(name)

    # Steady-state annotation for the streaming lifecycles (round-13
    # verdict #8): their cold medians include a fresh-JVM first drain
    # (micro-batch startup, state-store init) whose variance the r13
    # record flagged on q_stream_join. A second back-to-back run after
    # an untimed priming run records the steady-state drain cost.
    # ADDITIONS-ONLY: lands in BENCHFULL.json next to the cold median;
    # the timed reps above and the one-line summary are untouched.
    steady_annotated = [
        "q_stream_join",
        "q_stream_incremental_dedup",
        "q_stream_sessionize",
        "q_stream_hourly_counts",
    ]
    steady: dict[str, float] = {}
    # kept apart from `errors` (the timed reps' failures, counted in the
    # summary's n_errors): an annotation run failing says nothing about
    # the cold medians
    annotation_errors: dict[str, str] = {}
    for name in steady_annotated:
        if name not in qs or name in errors:
            continue
        try:
            qs[name](spark, sf_dir).count()  # untimed priming drain
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()  # steady-state drain
            steady[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001
            annotation_errors[name] = f"{type(e).__name__}: {e}"
        finally:
            release_caches()

    timings: dict[str, float] = {}
    for name in names:
        if not runs[name]:  # every rep errored — recorded in `errors`
            continue
        med = statistics.median(runs[name])
        timings[name] = round(med, 3)
        print(
            f"# {name}: {counts[name]} rows in {med:.3f}s (median of {len(runs[name])})",
            file=sys.stderr,
        )

    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf
    # 2-decimal times in the one-line summary (full 3-decimal precision
    # lives in BENCHFULL.json) — the line must fit the driver's 2,000-char
    # stdout-tail capture.
    headline = {n: round(timings[n], 2) for n in HEADLINE if n in timings}
    ref_median = round(statistics.median(ref_runs), 3) if ref_runs else None
    summary = {
        "metric": "headline_queries_total_time",
        "value": round(sum(headline.values()), 2),
        "unit": "sec",
        "queries": headline,
        "sf": sf_val,
        "n_timed": len(timings),
        "total_all_sec": round(sum(timings.values()), 3),
        "stat": f"median_of_{reps}" + ("_after_warmup" if do_warmup else ""),
        "ref_scan_sec": ref_median,
    }
    if errors:
        summary["n_errors"] = len(errors)

    # Capture-fit contract: if registry growth ever pushes the line past
    # the budget, drop trailing headline entries (never the totals) until
    # it fits, then hard-assert — BENCHFULL.json always has everything.
    def _summary_len() -> int:
        return len(json.dumps(summary, separators=(",", ":")))

    while _summary_len() > MAX_SUMMARY_BYTES and summary["queries"]:
        dropped_name, _ = summary["queries"].popitem()
        summary["headline_truncated"] = True
        print(f"# headline over budget: dropped {dropped_name}", file=sys.stderr)
    assert _summary_len() <= MAX_SUMMARY_BYTES, (
        f"bench summary line {_summary_len()}B exceeds the driver's "
        f"{MAX_SUMMARY_BYTES}B capture budget even after trimming"
    )

    # Full per-query record (all queries, reps, row counts) — too large for
    # the driver's stdout tail capture, so it lives in a repo-root artifact.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCHFULL.json"), "w") as f:
        json.dump(
            {
                "sf": sf_val,
                "reps": reps,
                "stat": "median",
                "warmup": do_warmup,
                "warmup_pass_sec": warmup_sec,
                # Noise floor: a trivial scan timed once per pass. Compare
                # this across rounds first — if it moved, the same factor
                # applies to every query (environment drift, not plans).
                "ref_scan_sec": ref_runs,
                "ref_scan_median_sec": ref_median,
                "queries": timings,
                # Streaming steady-state (post-first-drain) re-run next
                # to the cold median in `queries` — see steady_annotated.
                "steady_state_annotation": steady,
                "runs": {n: [round(t, 3) for t in ts] for n, ts in runs.items()},
                "rows": counts,
                "errors": errors,
                "annotation_errors": annotation_errors,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    # ONE compact JSON line as the FINAL stdout line (driver contract).
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
