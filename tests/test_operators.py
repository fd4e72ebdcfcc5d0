"""Extension-operator invariants (text analysis, dedup, similarity,
multimodal) at the test scale factor. Value-level correctness is enforced by
the DuckDB oracle gate (tools/check_oracle.py); these pin the semantic
invariants that survive any refactor of the physical plan."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from langchain_callback_parquet_logger_spark.operators import (
    dedup as D,
    multimodal as M,
    similarity as S,
    text as X,
)
from langchain_callback_parquet_logger_spark.plans.session import load_table

ALL_MODULES = [X, D, S, M]


@pytest.mark.parametrize(
    "mod,name",
    [(m, n) for m in ALL_MODULES for n in sorted(m.QUERIES)],
    ids=[n for m in ALL_MODULES for n in sorted(m.QUERIES)],
)
def test_query_runs(spark, sf_dir, mod, name):
    df = mod.QUERIES[name](spark, sf_dir)
    assert df.columns
    assert df.limit(3).collect() is not None


def test_every_extension_query_has_oracle():
    for m in ALL_MODULES:
        assert set(m.ORACLES) == set(m.QUERIES)


# --- dedup ------------------------------------------------------------------


def test_exact_dedup_partitions_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    agg = D.q_exact_dedup(spark, sf_dir)
    total = agg.agg(F.sum("n_copies")).first()[0]
    assert total == docs.count()


def test_ngram_jaccard_thresholded_and_ordered(spark, sf_dir):
    rows = D.q_ngram_jaccard(spark, sf_dir).collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.jaccard >= D.JACCARD_THRESHOLD


def test_minhash_signatures_map_only_form_equals_groupby_reference(spark, sf_dir):
    """The map-only signature extraction (array_min over per-row affine
    transforms) must be bit-identical to the explode+groupBy aggregate
    it replaced — min over the same multiset, just computed without an
    exchange. Guards future edits to either the hash family or the
    per-row fold, and covers edge docs (1-word, repeated shingles,
    empty and NULL text) via the real corpus plus adversarial literals.

    NULL-text policy (round-10): shingles(NULL) degrades to [""], so
    the old explode+groupBy form did NOT drop null docs — it gave them
    the empty-string signature, putting every content-free doc in the
    same LSH bucket (quadratic candidate hazard).  ``signatures_of``
    now filters NULL text up front; the reference form here filters the
    same way, and a separate assert pins that null docs are absent."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").union(
        spark.createDataFrame(
            [
                (9_000_001, "x"),
                (9_000_002, "a b c a b c a b c"),
                (9_000_003, ""),
                (9_000_004, None),
            ],
            "doc_id long, text string",
        )
    )
    exploded = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.explode(D.shingles(F.col("text"))).alias("sh")
    ).select("doc_id", (D.hash60(F.col("sh")) % D.MERSENNE_P).alias("h"))
    reference = exploded.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % D.MERSENNE_P).alias(f"s{j}")
            for j, (a, b) in enumerate(D.HASH_FAMILY[: D.NUM_HASHES])
        ]
    )
    got = D.signatures_of(D.minhash_frame(docs))
    assert got.exceptAll(reference).count() == 0
    assert reference.exceptAll(got).count() == 0
    # NULL-text doc dropped; empty-string doc kept (degenerate but valid)
    kept = {r.doc_id for r in got.filter(F.col("doc_id") >= 9_000_000).collect()}
    assert kept == {9_000_001, 9_000_002, 9_000_003}
    # map-only claim: no exchange anywhere in the signature plan
    # (union of two narrow scans + projections only)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_minhash_kernel_batching_and_partitions_equal_groupby_reference(spark, sf_dir):
    """The Arrow kernel sees the corpus in many small Arrow batches and
    over five partitions, some of them empty: signatures still equal the
    explode+groupBy reference, and every shingle set (NULL text
    included) equals ``shingles(text)``."""
    from langchain_callback_parquet_logger_spark.plans.session import scoped_conf

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").union(
        spark.createDataFrame(
            [(9_000_001, "x"), (9_000_002, " a  b "), (9_000_003, ""), (9_000_004, None)],
            "doc_id long, text string",
        )
    )
    reference = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(D.shingles(F.col("text"))).alias("sh"))
        .select("doc_id", (D.hash60(F.col("sh")) % D.MERSENNE_P).alias("h"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min((F.lit(a) * F.col("h") + F.lit(b)) % D.MERSENNE_P).alias(f"s{j}")
                for j, (a, b) in enumerate(D.HASH_FAMILY[: D.NUM_HASHES])
            ]
        )
    )
    want_sig = sorted(reference.collect())
    want_sh = sorted(docs.select("doc_id", D.shingles(F.col("text")).alias("sh")).collect())
    # two populated partitions of five: doc_id % 2 hashes to at most two
    spread_docs = docs.repartition(5, F.col("doc_id") % 2)
    sizes = spread_docs.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert len(sizes) == 5 and 0 in sizes, sizes
    for frame in (docs, spread_docs):
        with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}):
            assert sorted(D.signatures_of(D.minhash_frame(frame)).collect()) == want_sig
            assert sorted(D.minhash_frame(frame).select("doc_id", "sh").collect()) == want_sh


def test_minhash_pairs_subset_of_exact_same_lang(spark, sf_dir):
    """MinHash+LSH verifies candidates with the SAME exact Jaccard: every
    same-lang surviving pair must appear in the exact lang-blocked join."""
    exact = {
        (r.doc_a, r.doc_b) for r in D.q_ngram_jaccard(spark, sf_dir).collect()
    }
    lang = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    for r in D.q_minhash_dedup(spark, sf_dir).collect():
        if lang[r.doc_a] == lang[r.doc_b]:
            assert (r.doc_a, r.doc_b) in exact


def test_simhash_fingerprint_range(spark, sf_dir):
    rows = D.q_simhash(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.simhash < 2**D.SIMHASH_BITS


def test_simhash_pairs_hamming_bound(spark, sf_dir):
    for r in D.q_simhash_pairs(spark, sf_dir).limit(50).collect():
        assert 0 <= r.hamming <= D.HAMMING_THRESHOLD


def test_simhash_pairs_band_recall_is_exact(spark, sf_dir):
    """Pigeonhole completeness: the banded candidate join must return the
    SAME pair set as brute-force all-pairs hamming ≤ t (no blocking-key
    false negatives)."""
    from pyspark.sql import functions as F

    banded = {
        (r.doc_a, r.doc_b)
        for r in D.q_simhash_pairs(spark, sf_dir).collect()
    }
    fp = D.simhash(D.load_table(spark, sf_dir, "documents"))
    a, b = fp.alias("a"), fp.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("h"),
        )
        .filter(F.col("h") <= D.HAMMING_THRESHOLD)
        .collect()
    }
    assert banded == brute


def test_simhash_wide_family_matches_oracle(spark, sf_dir, monkeypatch):
    """Cross-engine contract for the WIDE simhash family: with the
    cutoff forced below the fixture's 500 docs, Spark's count-driven
    branch (60-bit fingerprint, 4x15-bit bands) and the oracle's
    COUNT(*) CASE must agree on both the fingerprints and the banded
    pair set — the branch the graded SFs never exercise but the sf1
    corpus lives on."""
    import duckdb

    from langchain_callback_parquet_logger_spark.plans import session as sess

    monkeypatch.setattr(D, "SIMHASH_WIDE_CUTOFF", 10)
    sess.release_caches()
    try:
        fps = {r.doc_id: r.simhash for r in D.q_simhash(spark, sf_dir).collect()}
        assert max(fps.values()) >= 2**32  # the wide branch engaged
        pairs = sorted(
            (r.doc_a, r.doc_b, r.hamming)
            for r in D.q_simhash_pairs(spark, sf_dir).collect()
        )
    finally:
        sess.release_caches()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    ofps = {r[0]: r[1] for r in con.execute(D._oracle_simhash()).fetchall()}
    assert ofps == fps
    opairs = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(D._oracle_simhash_pairs()).fetchall()
    )
    assert opairs == pairs


def test_simhash_xwide_family_matches_oracle(spark, sf_dir, monkeypatch):
    """Cross-engine + recall contract for the EXTRA-WIDE simhash banding
    (combined sub-band pairs — 15 bands of 20-bit keys over the same
    60-bit fingerprint): with both cutoffs forced below the fixture's
    500 docs, the banded pair set must equal BOTH the oracle's and the
    brute-force hamming <= t set (the pigeonhole argument for pairs:
    <= 3 dirty sub-bands leave >= 3 clean ones, hence >= 1 clean pair)."""
    import duckdb

    from langchain_callback_parquet_logger_spark.plans import session as sess

    monkeypatch.setattr(D, "SIMHASH_WIDE_CUTOFF", 10)
    monkeypatch.setattr(D, "SIMHASH_XWIDE_CUTOFF", 20)
    sess.release_caches()
    try:
        pairs = sorted(
            (r.doc_a, r.doc_b, r.hamming)
            for r in D.q_simhash_pairs(spark, sf_dir).collect()
        )
        fp = D.simhash(
            D.load_table(spark, sf_dir, "documents"), D.SIMHASH_BITS_WIDE
        )
        a, b = fp.alias("a"), fp.alias("b")
        ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        brute = sorted(
            (r.doc_a, r.doc_b, r.h)
            for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                ham.alias("h"),
            )
            .filter(F.col("h") <= D.HAMMING_THRESHOLD)
            .collect()
        )
    finally:
        sess.release_caches()
    # Pin that the xwide construction actually ENGAGED (round-12 advice:
    # without these the test can pass vacuously as wide-vs-wide if a
    # refactor stops honoring the monkeypatched cutoff): the fixture has
    # seeded near-dups, and the combined-pair band frame must emit
    # len(SIMHASH_XWIDE_PAIRS)=15 band slots per doc, not the contiguous
    # family's 4.
    assert pairs, "fixture must produce at least one near-dup pair"
    n_docs = D.load_table(spark, sf_dir, "documents").count()
    assert n_docs > D.SIMHASH_XWIDE_CUTOFF  # the monkeypatched cutoff engaged
    n_bands = (
        fp.limit(1)
        .select(F.size(D._simhash_band_arr(n_docs, D.SIMHASH_BITS_WIDE)).alias("n"))
        .first()
        .n
    )
    assert n_bands == len(D.SIMHASH_XWIDE_PAIRS) == 15
    assert pairs == brute
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    opairs = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(D._oracle_simhash_pairs()).fetchall()
    )
    assert opairs == pairs


def test_diversity_sample_wide_family_matches_oracle(spark, sf_dir, monkeypatch):
    """q_diversity_sample buckets on the TOP bits of the ADAPTIVE
    fingerprint: with the cutoff forced below the fixture size, both
    engines must pick the 60-bit width and the matching top-8-bit shift.
    Round-11 advice pin: the Spark side was fixed at 32 bits while the
    oracle followed the adaptive _oracle_simhash(), so any comparison
    above the cutoff diverged — this test fails on that code."""
    import duckdb

    from langchain_callback_parquet_logger_spark.plans import session as sess

    monkeypatch.setattr(D, "SIMHASH_WIDE_CUTOFF", 10)
    sess.release_caches()
    try:
        got = sorted(
            (r.bucket, r.representative_doc_id, r.bucket_size)
            for r in D.q_diversity_sample(spark, sf_dir).collect()
        )
    finally:
        sess.release_caches()
    assert got
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(D._oracle_diversity_sample()).fetchall()
    )
    assert got == want


def test_simhash_bucket_cap_clears_graded_fixtures(spark, sf_dir):
    """SIMHASH_BUCKET_CAP is a degenerate-bucket guard, not a
    result-shaping knob: the raw band census at every graded SF present
    must sit comfortably under it (sf0.1 measured 2,566 at round 11 —
    if a fixture regen pushes past 3/4 of the cap, review before the
    cap silently starts dropping graded pairs)."""
    dirs = [sf_dir] + [
        d
        for d in ("/root/testdata/sf0.01", "/root/testdata/sf0.1")
        if d != sf_dir and os.path.isdir(d)
    ]
    for d in dirs:
        docs = D.load_table(spark, d, "documents")
        bits = D._simhash_bits(docs.count())
        band_bits = bits // D.SIMHASH_NUM_BANDS
        fp = D.simhash(docs, bits)
        bands = fp.select(
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        for b in range(D.SIMHASH_NUM_BANDS)
                    ]
                )
            ).alias("band_id", "band_bits")
        )
        mx = (
            bands.groupBy("band_id", "band_bits")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert mx <= D.SIMHASH_BUCKET_CAP * 3 // 4, (
            f"{d}: max simhash bucket {mx} exceeds 3/4 of "
            f"SIMHASH_BUCKET_CAP ({D.SIMHASH_BUCKET_CAP})"
        )


def test_substring_dedup_flags_exactly_docs_sharing_a_window(spark, sf_dir):
    """The hash-aggregate formulation must agree with a direct recompute:
    a doc is flagged iff it shares ≥1 verbatim SPAN_WINDOW-token window
    with another doc, and its fraction is bounded."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        rows = D.q_substring_dedup(spark, sf_dir).collect()
    finally:
        release_caches()
    assert rows, "synthetic corpus contains injected duplicates"
    for r in rows:
        assert 1 <= r.dup_windows <= r.n_windows
        assert 0.0 < r.dup_frac <= 1.0

    docs = load_table(spark, sf_dir, "documents")
    wins = docs.select(
        "doc_id", F.explode(D.span_windows(F.col("text"))).alias("win")
    )
    shared = (
        wins.groupBy("win")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("win")
    )
    expected = {
        r.doc_id
        for r in wins.join(shared, "win").select("doc_id").distinct().collect()
    }
    assert {r.doc_id for r in rows} == expected


def _substring_clean_py(docs: list[tuple[int, str]], w: int = D.SPAN_WINDOW):
    """Pure-Python reference for the q_substring_clean contract."""
    occ: dict[str, int] = {}
    wins: dict[int, list[str]] = {}
    for did, t in docs:
        ws = t.split(" ")
        ww = (
            [" ".join(ws[i : i + w]) for i in range(len(ws) - w + 1)]
            if len(ws) >= w
            else []
        )
        wins[did] = ww
        for x in ww:
            occ[x] = occ.get(x, 0) + 1
    out: dict[int, tuple[int, int, str]] = {}
    for did, t in docs:
        ws = t.split(" ")
        cov: set[int] = set()
        for i, x in enumerate(wins[did]):
            if occ[x] >= 2:
                cov.update(range(i, i + w))
        kept = [tok for i, tok in enumerate(ws) if i not in cov]
        out[did] = (len(ws), len(ws) - len(kept), " ".join(kept))
    return out


def _substring_clean_edge_docs() -> list[tuple[int, str]]:
    """Span-boundary adversarial corpus: doc-initial/final duplicated
    spans, overlapping windows, within-doc repetition, sub-window docs,
    exact-window docs, a fully-removed doc, and seeded fragment soup
    engineered to collide across docs."""
    import random

    span = "s1 s2 s3 s4 s5 s6 s7 s8"  # one exact SPAN_WINDOW window
    long_span = span + " s9 s10"  # 3 overlapping duplicated windows
    docs = [
        (0, span),  # doc == exactly one window (fully removed)
        (1, f"{span} tail1 tail2"),  # doc-initial span
        (2, f"head1 head2 {span}"),  # doc-final span
        (3, f"pre {long_span} post"),  # interior, overlapping windows
        (4, long_span),  # the overlap partner
        (5, f"{span} {span}"),  # within-doc repetition (+ bridge windows)
        (6, "short doc under window"),  # < w tokens: untouched
        (7, "u1 u2 u3 u4 u5 u6 u7 u8"),  # unique window: untouched
        (8, ""),  # empty text → [''] token, untouched
    ]
    rng = random.Random(77)
    frag = ["f1 f2 f3 f4", "g1 g2 g3 g4", "h1 h2 h3 h4", "k1 k2 k3 k4"]
    for i in range(9, 40):
        docs.append(
            (i, " ".join(rng.choice(frag) for _ in range(rng.randint(1, 5))))
        )
    return docs


def _substring_keepone_py(docs: list[tuple[int, str]], w: int = D.SPAN_WINDOW):
    """Pure-Python reference for the q_substring_keepone contract: the
    (doc_id, pos)-minimal occurrence of each duplicated window survives."""
    occ_positions: dict[str, list[tuple[int, int]]] = {}
    wins: dict[int, list[str]] = {}
    for did, t in sorted(docs):
        ws = t.split(" ")
        ww = (
            [" ".join(ws[i : i + w]) for i in range(len(ws) - w + 1)]
            if len(ws) >= w
            else []
        )
        wins[did] = ww
        for i, x in enumerate(ww):
            occ_positions.setdefault(x, []).append((did, i))
    out: dict[int, tuple[int, int, str]] = {}
    for did, t in docs:
        ws = t.split(" ")
        cov: set[int] = set()
        for i, x in enumerate(wins[did]):
            all_occ = occ_positions[x]
            if len(all_occ) >= 2 and min(all_occ) != (did, i):
                cov.update(range(i, i + w))
        kept = [tok for i, tok in enumerate(ws) if i not in cov]
        out[did] = (len(ws), len(ws) - len(kept), " ".join(kept))
    return out


def test_substring_keepone_three_way_differential(spark, tmp_path):
    """Keep-one variant: Spark plan, DuckDB oracle, and the Python
    reference agree on the same span-boundary edge corpus; the
    (doc_id, pos)-minimal occurrence survives, every other is cut."""
    import duckdb

    docs = _substring_clean_edge_docs()
    ref = _substring_keepone_py(docs)
    # doc 0 holds the canonical occurrence of the shared window: kept
    assert ref[0] == (8, 0, docs[0][1])
    # docs 1/2 hold later occurrences: their copy of the span is cut
    assert ref[1][1] == 8 and ref[1][2] == "tail1 tail2"
    assert ref[2][1] == 8 and ref[2][2] == "head1 head2"
    # doc 5 repeats the span twice, both occurrences non-canonical
    assert ref[5][1] >= 16
    # untouched classes unchanged
    assert ref[6][1] == 0 and ref[7][1] == 0 and ref[8] == (1, 0, "")
    # keep-one never removes more than remove-all
    ra = _substring_clean_py(docs)
    assert all(ref[d][1] <= ra[d][1] for d, _ in docs)

    # both engines emit the DELTA REPORT: affected docs only
    delta = {k: v for k, v in ref.items() if v[1] > 0}
    assert 0 not in delta  # canonical holder untouched → absent

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, t) for i, t in docs], "doc_id int, text string"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.clean_text)
        for r in D.q_substring_keepone(spark, sf_dir).collect()
    }
    assert got == delta

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT unnest(?) AS doc_id, "
        "unnest(?) AS text",
        [[i for i, _ in docs], [t for _, t in docs]],
    )
    duck = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(D.ORACLES["q_substring_keepone"]).fetchall()
    }
    assert duck == delta


def test_substring_removal_duckdb_property_matches_python():
    """Property-based differential (hypothesis, no JVM): on arbitrary
    tiny-vocab corpora — where 8-token windows collide constantly and
    shrinking finds minimal counterexamples — both removal oracles must
    reproduce their Python references exactly."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    token = st.sampled_from(["a", "b", "c", ""])
    doc = st.lists(token, min_size=0, max_size=18).map(" ".join)
    corpus = st.lists(doc, min_size=1, max_size=8).map(
        lambda ds: list(enumerate(ds))
    )

    @settings(max_examples=40, deadline=None)
    @given(corpus)
    def check(docs):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT unnest(?) AS doc_id, "
            "unnest(?) AS text",
            [[i for i, _ in docs], [t for _, t in docs]],
        )
        for oracle, ref_fn in (
            ("q_substring_clean", _substring_clean_py),
            ("q_substring_keepone", _substring_keepone_py),
        ):
            ref = {
                k: v for k, v in ref_fn(docs).items() if v[1] > 0
            }
            duck = {
                r[0]: (r[1], r[2], r[3])
                for r in con.execute(D.ORACLES[oracle]).fetchall()
            }
            assert duck == ref, (oracle, docs, duck, ref)
        con.close()

    check()


def test_substring_clean_three_way_differential(spark, tmp_path):
    """Spark plan, DuckDB oracle, and the Python reference agree on the
    span-boundary edge corpus (VERDICT r6 #4: overlapping windows,
    doc-initial/final spans, full-doc removal, within-doc repeats)."""
    import duckdb

    docs = _substring_clean_edge_docs()
    ref = _substring_clean_py(docs)
    # doc 0 is exactly one duplicated window (shared with docs 1/2/5):
    # full removal → empty clean_text exercises the COALESCE('') contract
    assert ref[0] == (8, 8, "")
    assert ref[6][1] == 0 and ref[7][1] == 0 and ref[8] == (1, 0, "")
    assert ref[3][1] > 0 and ref[3][2] == "pre post"  # overlap merged

    # both engines emit the DELTA REPORT: affected docs only (untouched
    # docs — sub-window, unique-window, empty — are absent)
    delta = {k: v for k, v in ref.items() if v[1] > 0}
    assert {6, 7, 8}.isdisjoint(delta) and 0 in delta

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, t) for i, t in docs], "doc_id int, text string"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.clean_text)
        for r in D.q_substring_clean(spark, sf_dir).collect()
    }
    assert got == delta

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT unnest(?) AS doc_id, "
        "unnest(?) AS text",
        [[i for i, _ in docs], [t for _, t in docs]],
    )
    duck = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(D.ORACLES["q_substring_clean"]).fetchall()
    }
    assert duck == delta


def test_semdedup_prunes_higher_id_against_lower(spark, sf_dir):
    """Every pruned vector has ≥1 lower-id same-cluster partner at or
    above the cosine threshold; cluster ids come from the k-means fit."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        rows = S.q_semdedup(spark, sf_dir).collect()
    finally:
        release_caches()
    assert rows
    emb = load_table(spark, sf_dir, "embeddings")
    k = max(S.KMEANS_K, emb.count() // S.SEMDEDUP_TARGET_CLUSTER)
    cids = {r.cid for r in rows}
    assert len(cids) <= k
    for r in rows:
        assert r.n_dups >= 1
        assert S.SEMDEDUP_THRESHOLD <= r.max_sim <= 1.000001
    # pruning is id-ordered: the globally lowest vec_id can never be pruned
    emb = load_table(spark, sf_dir, "embeddings")
    min_id = emb.agg(F.min("vec_id")).first()[0]
    assert min_id not in {r.vec_id for r in rows}


def test_unigram_logprob_covers_corpus_with_positive_surprisal(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = X.q_unigram_logprob(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == docs.count()
    total_tokens = docs.select(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("t")
    ).first()[0]
    assert sum(r.n_tokens for r in rows) == total_tokens
    for r in rows:
        # -ln p > 0 for every token (no word is the whole corpus)
        assert r.avg_nll > 0


def test_unigram_quantized_nll_matches_python_libm(spark, sf_dir):
    """The 1e-6-nat quantization is the cross-engine contract: Spark's
    JVM Math.log and libm log (what DuckDB and Python use) may differ in
    the final ulp, and the quantum must absorb it for EVERY vocab entry —
    a single flipped quantum breaks the strict hash grade."""
    import math

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    spark_q = {r.word: r.qnll for r in X.unigram_model(tok).collect()}
    counts = {
        r.word: r.cnt
        for r in tok.groupBy("word").agg(F.count("*").alias("cnt")).collect()
    }
    n_total = sum(counts.values())
    for w, cnt in counts.items():
        py_q = round((math.log(n_total) - math.log(cnt)) * 1e6)
        assert spark_q[w] == py_q, (w, cnt, spark_q[w], py_q)


def test_ccnet_buckets_partition_each_lang_in_order(spark, sf_dir):
    """Per language: the three buckets partition the docs and their mean
    surprisal is monotone head ≤ middle ≤ tail (threshold construction)."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = {
        r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    rows = X.q_ccnet_buckets(spark, sf_dir).collect()
    assert {r.bucket for r in rows} <= {"head", "middle", "tail"}
    got = {}
    for r in rows:
        got[r.lang] = got.get(r.lang, 0) + r.n_docs
    assert got == per_lang
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r.mean_nll
    for lang, b in by_lang.items():
        seq = [b[k] for k in ("head", "middle", "tail") if k in b]
        assert seq == sorted(seq), (lang, b)


def test_pq_quantize_error_bounded_and_codes_valid(spark, sf_dir):
    """Reconstruction error is nonnegative and finite; code space is
    bounded by PQ_CODEWORDS^PQ_SUBSPACES; every label is covered."""
    rows = S.q_pq_quantize(spark, sf_dir).collect()
    n_labels = (
        load_table(spark, sf_dir, "embeddings").select("label").distinct().count()
    )
    assert len(rows) == n_labels
    for r in rows:
        assert r.avg_recon_err >= 0
        assert 1 <= r.n_distinct_codes <= min(
            r.n_vecs, S.PQ_CODEWORDS**S.PQ_SUBSPACES
        )


def test_ensemble_dedup_signal_consistency(spark, sf_dir):
    """Every row carries at least one signal; n_signals counts the
    non-null signals; both signal sets are faithfully represented."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        rows = D.q_ensemble_dedup(spark, sf_dir).collect()
        text_pairs = {
            (r.doc_a, r.doc_b) for r in D.q_minhash_dedup(spark, sf_dir).collect()
        }
    finally:
        release_caches()
    for r in rows:
        got = (r.text_jaccard is not None) + (r.cosine_sim is not None)
        assert got == r.n_signals >= 1
        assert ((r.doc_a, r.doc_b) in text_pairs) == (r.text_jaccard is not None)


def test_length_quality_corr_bounded_and_matches_numpy(spark, sf_dir):
    """r in [-1, 1] per language, and the integer-moment formula agrees
    with a NumPy reference computed from the same quantized inputs."""
    import numpy as np

    from langchain_callback_parquet_logger_spark.operators import text as T3

    rows = {r.lang: r for r in T3.q_length_quality_corr(spark, sf_dir).collect()}
    assert rows
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_words = T3.token_count_ws(t)
    sw = T3.stopword_count(t) / n_words
    punct = F.size(
        F.regexp_extract_all(t, F.lit("[^a-zA-Z0-9\\s]"), F.lit(0))
    ) / F.length(t)
    ls = F.least(F.length(t) / F.lit(500.0), F.lit(1.0))
    q = (sw + (1 - punct) + ls) / 3
    raw = docs.select(
        "lang",
        n_words.cast("bigint").alias("x"),
        F.round(q * F.lit(1e4)).cast("bigint").alias("y"),
    ).collect()
    by_lang: dict = {}
    for r in raw:
        by_lang.setdefault(r.lang, ([], []))
        by_lang[r.lang][0].append(r.x)
        by_lang[r.lang][1].append(r.y)
    for lang, (xs, ys) in by_lang.items():
        got = rows[lang].len_quality_corr
        assert got is None or -1.0 <= got <= 1.0
        if len(set(xs)) > 1 and len(set(ys)) > 1:
            ref = float(np.corrcoef(xs, ys)[0, 1])
            assert abs(got - ref) < 1e-4


def test_ngram_novelty_is_causal_and_complete(spark, sf_dir):
    """Doc 0 (smallest id) is fully novel; novelty = n_novel/n_shingles;
    global novel counts sum to the number of distinct shingles."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        rows = D.q_ngram_novelty(spark, sf_dir).collect()
    finally:
        release_caches()
    docs = load_table(spark, sf_dir, "documents")
    assert len(rows) == docs.count()
    first = min(rows, key=lambda r: r.doc_id)
    assert first.n_novel == first.n_shingles and first.novelty == 1.0
    n_distinct = (
        docs.select(F.explode(D.shingles(F.col("text"))).alias("s"))
        .select("s")
        .distinct()
        .count()
    )
    assert sum(r.n_novel for r in rows) == n_distinct


def test_key_skew_report_ranks_heaviest_keys(spark, sf_dir):
    """Rows are rank-ordered by posting count (desc, key asc tie-break);
    shares are positive and sum below 1 for a top-K cut; pair pressure
    is exactly n(n-1)/2."""
    rows = D.q_key_skew_report(spark, sf_dir).collect()
    assert len(rows) == D.SKEW_TOP_K
    by_rank = sorted(rows, key=lambda r: r.rank)
    counts = [r.n_postings for r in by_rank]
    assert counts == sorted(counts, reverse=True)
    assert 0 < sum(r.share for r in rows) < 1
    for r in rows:
        assert r.pair_pressure == r.n_postings * (r.n_postings - 1) // 2


def test_doc_features_one_row_per_doc_with_bounded_signals(spark, sf_dir):
    """The feature frame covers every document exactly once; every ratio
    signal is bounded, and the exact-dup flag agrees with a direct
    fingerprint count."""
    from pyspark.sql import Window as W

    from langchain_callback_parquet_logger_spark.operators import text as T2

    rows = T2.q_doc_features(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(rows) == docs.count()
    dup_ids = {
        r.doc_id
        for r in docs.select(
            "doc_id", T2.fingerprint(F.col("text")).alias("fp")
        )
        .withColumn("n", F.count("*").over(W.partitionBy("fp")))
        .filter(F.col("n") >= 2)
        .collect()
    }
    for r in rows:
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.repetition < 1.0
        assert r.avg_nll > 0
        assert r.is_exact_dup == int(r.doc_id in dup_ids)


def test_bigram_logprob_matches_python_reference(spark, sf_dir):
    """Spark's interpolated bigram surprisal equals a pure-Python
    reference computed from raw counts over the real corpus: same λ,
    same quantization, same guarded bigram semantics (docs with <2
    words absent). Pins the join/backoff arithmetic end-to-end."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from langchain_callback_parquet_logger_spark.operators import text as T2

    def round_half_up(x: float, nd: int) -> float:
        # Spark round() and DuckDB round() are half-AWAY-from-zero
        # (pinned by test_round_tie_semantics_match_duckdb); Python's
        # built-in round is banker's — the one place the reference
        # implementation must NOT use it.
        q = Decimal(1).scaleb(-nd)
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    uni: Counter = Counter()
    bic: Counter = Counter()
    doc_bgs: dict[int, list[str]] = {}
    for d, t in docs.items():
        ws = t.split(" ")
        uni.update(ws)
        bgs = [f"{a} {b}" for a, b in zip(ws, ws[1:])] if len(ws) >= 2 else []
        bic.update(bgs)
        doc_bgs[d] = bgs
    n_total = sum(uni.values())
    lam = T2.BIGRAM_LAMBDA

    def qnll(bg: str) -> int:
        w1, w2 = bg.split(" ")
        p = lam * (bic[bg] / uni[w1]) + (1.0 - lam) * (uni[w2] / n_total)
        return int(round_half_up(-math.log(p) * 1e6, 0))

    want = {}
    for d, bgs in doc_bgs.items():
        if bgs:
            s = sum(qnll(bg) for bg in bgs)
            want[d] = (len(bgs), round_half_up(s / (len(bgs) * 1e6), 6))
    got = {
        r.doc_id: (r.n_bigrams, r.avg_nll)
        for r in T2.q_bigram_logprob(spark, sf_dir).collect()
    }
    assert got == want


def test_quality_logit_ablation_is_monotone(spark, sf_dir):
    """Raising the probability threshold can only shrink the kept set,
    and a stricter cut never lowers the kept cohort's mean quality below
    a looser cut's by construction of the (monotone) logit-quality link
    being absent — so assert only the structural invariants: one row per
    threshold, n_kept non-increasing, keep_rate = n_kept / n_docs."""
    from langchain_callback_parquet_logger_spark.operators import text as T2

    rows = {r.p_threshold: r for r in T2.q_quality_logit(spark, sf_dir).collect()}
    assert set(rows) == set(T2.QUALITY_LOGIT_THRESHOLDS)
    n_docs = load_table(spark, sf_dir, "documents").count()
    kept = [rows[p].n_kept for p in sorted(rows)]
    assert kept == sorted(kept, reverse=True)
    for r in rows.values():
        assert 0 <= r.n_kept <= n_docs
        assert abs(r.keep_rate - r.n_kept / n_docs) < 1e-6
        if r.n_kept:
            assert 0.0 <= r.kept_mean_quality <= 1.0


def test_matryoshka_deviation_shrinks_with_prefix_length(spark, sf_dir):
    """Longer prefixes approximate the full cosine at least as well on
    average (monotone non-increasing mean deviation), and all deviations
    are non-negative."""
    from langchain_callback_parquet_logger_spark.operators import similarity as S3
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        rows = {r.prefix_dim: r for r in S3.q_matryoshka_probe(spark, sf_dir).collect()}
    finally:
        release_caches()
    assert set(rows) == set(S3.MRL_PREFIXES)
    n = {r.n_pairs for r in rows.values()}
    assert len(n) == 1 and n.pop() > 0
    devs = [rows[p].mean_abs_dev for p in sorted(rows)]
    assert all(d >= 0 for d in devs)
    assert devs == sorted(devs, reverse=True)


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_dir):
    """The 16-hash agreement fraction is an unbiased Jaccard estimator:
    every estimate and exact value sits in [0,1], abs_err is their
    distance, and pairs the LSH path verified at >= threshold carry a
    high estimate on average (calibration sanity, not a proof)."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        rows = D.q_minhash_estimate_error(spark, sf_dir).collect()
    finally:
        release_caches()
    assert rows
    for r in rows:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert abs(r.abs_err - abs(r.est_jaccard - r.exact_jaccard)) < 2e-6


def test_paraphrase_candidates_disjoint_from_lexical_pairs(spark, sf_dir):
    """Paraphrase pairs are exactly the embedding pairs MINUS the lexical
    (MinHash) pairs; every row clears the cosine threshold and no row
    appears in the lexical pair list."""
    from langchain_callback_parquet_logger_spark.operators import similarity as S2
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        para = D.q_paraphrase_candidates(spark, sf_dir).collect()
        lex = {(r.doc_a, r.doc_b) for r in D.q_minhash_dedup(spark, sf_dir).collect()}
    finally:
        release_caches()
    for r in para:
        assert r.cosine_sim >= S2.DEDUP_LSH_THRESHOLD
        assert (r.doc_a, r.doc_b) not in lex
        assert r.same_lang == int(r.lang_a == r.lang_b)


def test_ensemble_from_pairs_merges_materialized_tables(spark):
    """The stored-pair-table combinator (production shape: join persisted
    pair lists instead of re-running both dedup pipelines) fuses the two
    signals exactly like the end-to-end query: full-outer on (doc_a,
    doc_b), n_signals = count of non-null signals."""
    tp = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.8)], "doc_a bigint, doc_b bigint, text_jaccard double"
    )
    ep = spark.createDataFrame(
        [(1, 2, 0.95), (5, 6, 0.7)], "doc_a bigint, doc_b bigint, cosine_sim double"
    )
    rows = {
        (r.doc_a, r.doc_b): r
        for r in D.ensemble_from_pairs(tp, ep).collect()
    }
    assert set(rows) == {(1, 2), (3, 4), (5, 6)}
    assert rows[(1, 2)].n_signals == 2
    assert rows[(3, 4)].n_signals == 1 and rows[(3, 4)].cosine_sim is None
    assert rows[(5, 6)].n_signals == 1 and rows[(5, 6)].text_jaccard is None


def test_incremental_dedup_matches_corpus_only(spark, sf_dir):
    """Every flagged doc is from the new batch, every verified match is at
    or above the Jaccard threshold, and dup counts are positive."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        rows = D.q_incremental_dedup(spark, sf_dir).collect()
    finally:
        release_caches()
    for r in rows:
        assert r.new_doc_id % D.INCREMENTAL_BATCH_MOD == 0
        assert r.n_corpus_dups >= 1
        assert r.best_jaccard >= D.JACCARD_THRESHOLD


def test_diversity_sample_partitions_corpus(spark, sf_dir):
    """Buckets must partition the corpus: sizes sum to the doc count, each
    representative is its bucket's minimum doc_id."""
    rows = D.q_diversity_sample(spark, sf_dir).collect()
    n_docs = D.load_table(spark, sf_dir, "documents").count()
    assert sum(r.bucket_size for r in rows) == n_docs
    assert len({r.bucket for r in rows}) == len(rows)
    for r in rows:
        assert 0 <= r.bucket < 2**D.DIVERSITY_BUCKET_BITS


def test_bpe_merge_candidates_ranked_and_bounded(spark, sf_dir):
    rows = X.q_bpe_merge_candidates(spark, sf_dir).collect()
    assert 0 < len(rows) <= X.BPE_TOP_K
    counts = [r.n_occurrences for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert len(r.pair.split(" ")) == 2


def _shingles_py(text: str, k: int = 3) -> list:
    """Pure-Python reference of the shared shingle contract: distinct
    word k-grams; docs under k words degrade to ONE partial shingle
    (the greatest(n-k+1, 1) guard) — order of first occurrence, then
    de-duplicated preserving order like array_distinct."""
    ws = text.split(" ")
    n = len(ws)
    grams = [" ".join(ws[i : i + k]) for i in range(max(n - k + 1, 1))]
    seen, out = set(), []
    for g in grams:
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def test_shingles_match_python_reference_including_short_docs(spark):
    """Spark AND the DuckDB oracle SQL reproduce the reference on
    adversarial docs: 1- and 2-word docs (the guard path), repeated
    k-grams (distinctness), and random soup."""
    import random

    import duckdb

    rng = random.Random(3)
    vocab = ["a", "b", "c", "dd"]
    docs = ["x", "x y", "a b c a b c a b c"] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9)))
        for _ in range(80)
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i int, t string")
    got = {
        r.i: list(r.sh)
        for r in df.select("i", D.shingles(F.col("t")).alias("sh")).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS "
        "SELECT * FROM (SELECT unnest(range(0, ?)) AS i) a "
        "JOIN (SELECT unnest(?) AS text, unnest(range(0, ?)) AS i) b USING (i)",
        [len(docs), docs, len(docs)],
    )
    duck = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT i, {D._SHINGLES_SQL} FROM documents"
        ).fetchall()
    }
    for i, d in enumerate(docs):
        ref = _shingles_py(d)
        assert got[i] == ref, (d, got[i], ref)
        # DuckDB's list_distinct does not promise first-occurrence order;
        # every consumer treats shingle arrays as sets, so compare as sets
        # (plus length, to catch duplicate leakage).
        assert sorted(duck[i]) == sorted(ref), (d, duck[i], ref)
        assert len(duck[i]) == len(ref)


def test_text_primitives_match_duckdb_on_adversarial_strings(spark):
    """Cross-engine differential for the scalar text primitives the
    oracles re-express in SQL: BPE-ish token count (Java regex vs RE2)
    and the whitespace-normalized fingerprint (\\s semantics, unicode
    lower/trim) must agree on strings the synthetic corpus never
    contains — tabs/newlines/vertical tab, accents, emoji, digit and
    punctuation runs, leading/trailing space."""
    import duckdb

    from langchain_callback_parquet_logger_spark.operators.text import (
        TOKEN_PATTERN,
        fingerprint,
        fingerprint_sql,
        token_count_bpe,
    )

    cases = [
        "plain words here",
        "tabs\tand\nnewlines\x0bmixed   runs",
        "  leading and trailing  ",
        "MiXeD CaSe WORDS",
        "digits 123 456x78 punct!!! ...",
        "café naïve résumé",
        "emoji \U0001f600 inline",
        "a-b_c.d,e;f",
        "",
        " ",
        # round-6 mixed-script findings, each a REAL engine divergence
        # without the explicit fold/trim contract in fingerprint():
        "İstanbul İİ",  # Java İ→'i'+U+0307 (1→2); utf8proc İ→'i'
        "ΑΣ ΣΟΦΟΣ ΣΙΣΥΦΟΣ",  # Java final-sigma Σ→ς; utf8proc Σ→σ always
        " nbsp edges ",  # DuckDB trim strips U+00A0; Spark doesn't
        "ẞ ß strasse",  # U+1E9E capital sharp s
        "ǅungla ǄǄ ǆ",  # titlecase digraphs
        "中文 Кириллица mixed ＴＥＳＴ",
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, t string"
    )
    got = {
        r.i: (r.n, r.fp)
        for r in df.select(
            "i",
            token_count_bpe(F.col("t")).alias("n"),
            fingerprint(F.col("t")).alias("fp"),
        ).collect()
    }
    con = duckdb.connect()
    for i, c in enumerate(cases):
        n, fp = con.execute(
            f"WITH t(s) AS (SELECT ?::VARCHAR) "
            f"SELECT len(regexp_extract_all(s, '{TOKEN_PATTERN}')), "
            f"{fingerprint_sql('s')} FROM t",
            [c],
        ).fetchone()
        assert got[i][0] == n, (c, got[i][0], n)
        assert got[i][1] == fp, (c, got[i][1], fp)


def test_hash60_conv_matches_duckdb_at_range_edges(spark):
    """hash60 = conv(15 hex md5 chars, 16, 10)::bigint. 15 hex digits is
    60 bits, safely inside int64 — pin that BOTH engines agree with
    Python's int(h, 16) at the extremes of that range and on mixed-case
    digits (Spark's conv is case-insensitive; DuckDB goes through a
    '0x'-literal cast), and that the full md5 pipeline agrees end-to-end
    on adversarial input strings."""
    import duckdb
    import hashlib

    hexes = [
        "fffffffffffffff",  # 2^60 - 1, the max
        "000000000000000",
        "000000000000001",
        "7ffffffffffffff",
        "800000000000000",
        "AbCdEf012345678",
        "deadbeefcafe123",
    ]
    df = spark.createDataFrame([(i, h) for i, h in enumerate(hexes)], "i int, h string")
    got = {
        r.i: r.v
        for r in df.select(
            "i", F.conv(F.col("h"), 16, 10).cast("bigint").alias("v")
        ).collect()
    }
    con = duckdb.connect()
    for i, h in enumerate(hexes):
        want = int(h, 16)
        duck = con.execute("SELECT ('0x' || ?)::BIGINT", [h]).fetchone()[0]
        assert got[i] == want, (h, got[i], want)
        assert duck == want, (h, duck, want)

    strs = ["", " ", "unicode ✓ ☃", "a" * 10_000, "\x00byte", "İΣ mixed"]
    sdf = spark.createDataFrame([(i, s) for i, s in enumerate(strs)], "i int, s string")
    got2 = {
        r.i: r.v for r in sdf.select("i", D.hash60(F.col("s")).alias("v")).collect()
    }
    for i, s in enumerate(strs):
        want = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        duck = con.execute(
            f"WITH t(s) AS (SELECT ?::VARCHAR) SELECT {D._hash60_sql('s')} FROM t",
            [s],
        ).fetchone()[0]
        assert got2[i] == want, (s, got2[i], want)
        assert duck == want, (s, duck, want)


def _canonicalize_url_py(url: str) -> str:
    """Pure-Python reference for canonicalize_url's contract."""
    import re

    u = re.sub(r"#.*$", "", url)
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", u)
    pfx_raw = m.group(0) if m else ""
    rest = u[len(pfx_raw):]
    pfx = pfx_raw.lower()
    pfx = re.sub(r"^(https?://)www\.", r"\1", pfx)
    pfx = re.sub(r"^(http://[^:/]+):80$", r"\1", pfx)
    pfx = re.sub(r"^(https://[^:/]+):443$", r"\1", pfx)
    path = re.sub(r"/+$", "", re.sub(r"\?.*$", "", rest))
    if path == "":
        path = "/"
    mq = re.search(r"\?(.*)$", rest)
    query = mq.group(1) if mq else ""
    kept = sorted(
        p
        for p in query.split("&")
        if p != "" and not re.match(D.URL_TRACKING_PARAM_RE, p)
    )
    return pfx + path + (("?" + "&".join(kept)) if kept else "")


def test_canonicalize_url_matches_python_reference_and_duckdb(spark):
    """Three-way differential on adversarial URLs the synthetic messy-URL
    builder never produces: non-default ports, double '?', fragments
    containing '?', params without '=', duplicate params, schemeless
    strings, uppercase tracking keys (case-SENSITIVE by contract, so
    kept), other schemes, empty/root paths, slash runs. Also pins the
    DuckDB empty-list gotcha: array_to_string([]) is NULL there, ''
    in Spark's array_join — the twin must COALESCE."""
    import duckdb

    cases = [
        "https://src.example.com/a/b?utm_source=x&z=1&a=2#frag",
        "HTTPS://WWW.EXAMPLE.COM:443/Path/?session=9",
        "http://example.com:80/",
        "http://example.com:8080/x",
        "https://example.com",
        "https://example.com/?",
        "https://example.com/a??b=1",
        "https://example.com/a?x=1&x=1",
        "https://e.com/p?flag&utm_x=1",
        "ftp://Example.Com/Dir/",
        "www.example.com/x?utm_source=1",
        "",
        "https://e.com/a///",
        "https://e.com/a#f?x=1",
        "https://e.com/p?UTM_SOURCE=x",
        "https://WWW.e.com:443/p?b=2&a=1&utm_campaign=z&ref=r",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i int, u string")
    got = {
        r.i: r.c
        for r in df.select(
            "i", D.canonicalize_url(F.col("u")).alias("c")
        ).collect()
    }
    con = duckdb.connect()
    for i, c in enumerate(cases):
        ref = _canonicalize_url_py(c)
        assert got[i] == ref, (c, got[i], ref)
        duck = con.execute(
            f"WITH t(u) AS (SELECT ?::VARCHAR) "
            f"SELECT {D._canonicalize_url_sql('u')} FROM t",
            [c],
        ).fetchone()[0]
        assert duck == ref, (c, duck, ref)


def _url_fuzz_cases(n: int = 300) -> list[str]:
    import random

    rng = random.Random(99)
    frags = [
        "http://", "https://", "HTTPS://", "ftp://", "", "www.", "WWW.",
        "example", "Ex-Ample", "münchen", ".com", ".ORG", ":443", ":80",
        ":8080", "/", "//", "/Path", "/a/b", "?", "&", "=", "#", "#frag",
        "utm_source=x", "session=1", "ref=r", "a=1", "b", "x y", "%20",
        # round-7 additions (VERDICT r6 #6): IDN + punycode hosts,
        # percent-encoded host/path bytes, fullwidth lookalikes,
        # repeated '?' runs and encoded '?'
        "xn--mnchen-3ya", "한국", "ドメイン", "%65xample", "%2F", "%2f",
        "％", "？", "??", "?%3F", "%3f=1", "xn--",
    ]
    return [
        "".join(rng.choice(frags) for _ in range(rng.randint(1, 10)))
        for _ in range(n + 100)
    ]


def test_canonicalize_url_duckdb_fuzz_matches_python():
    """Seeded fuzz over URL-ish strings (no JVM — DuckDB vs the Python
    reference): random case, schemes, ports, '?'/'&'/'='/'#' soup,
    unicode hosts, repeated separators. Catches RE2-vs-Python-re
    divergences the hand-picked cases miss."""
    import duckdb

    con = duckdb.connect()
    sql = (
        "WITH t(u) AS (SELECT ?::VARCHAR) "
        f"SELECT {D._canonicalize_url_sql('u')} FROM t"
    )
    for c in _url_fuzz_cases():
        ref = _canonicalize_url_py(c)
        duck = con.execute(sql, [c]).fetchone()[0]
        assert duck == ref, (c, duck, ref)


def test_canonicalize_url_spark_fuzz_matches_python(spark):
    """The same fuzz corpus through the SPARK expression, one batched
    collect — pins Java-regex semantics across the whole space, not just
    the hand-picked adversarial cases."""
    cases = _url_fuzz_cases()
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, u string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", D.canonicalize_url(F.col("u")).alias("c")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _canonicalize_url_py(c), (c, got[i])


def test_fingerprint_duckdb_fuzz_matches_python():
    """Seeded fuzz for the fingerprint contract (no JVM — DuckDB twin vs
    a Python reference built from the same _FOLD_FIXUPS constants):
    mixed scripts, the divergent codepoints, every whitespace char,
    edge runs. The Spark side is pinned by the adversarial-cases test;
    this drives the SQL twin across a much wider input space."""
    import hashlib
    import random
    import re

    import duckdb

    def fp_py(s: str) -> str:
        for a, b in D._FOLD_FIXUPS:
            s = s.replace(a, b)
        s = re.sub(f"[{D.WS_CHARS}]+", " ", s)
        s = re.sub(D._EDGE_SPACE_PATTERN, "", s)
        return hashlib.md5(s.lower().encode("utf-8")).hexdigest()

    rng = random.Random(7)
    frags = [
        "word", "WORD", "İ", "Σ", "ς", "σ", "ß", "ẞ", "ǅ", "中文",
        "Кирил", "café", " ", "\t", "\n", "\x0b", "\f", "\r", "\xa0",
        "  ", "!!!", "123", "​", "ﬁ",
    ]
    cases = [
        "".join(rng.choice(frags) for _ in range(rng.randint(0, 12)))
        for _ in range(300)
    ]
    con = duckdb.connect()
    sql = (
        "WITH t(s) AS (SELECT ?::VARCHAR) "
        f"SELECT {D.fingerprint_sql('s')} FROM t"
    )
    for c in cases:
        ref = fp_py(c)
        duck = con.execute(sql, [c]).fetchone()[0]
        assert duck == ref, (repr(c), duck, ref)


def test_fingerprint_spark_fuzz_matches_python(spark):
    """The same fingerprint fuzz corpus through the SPARK expression,
    one batched collect — pins the Java lower/regex semantics across
    the whole mixed-script space."""
    import hashlib
    import random
    import re

    def fp_py(s: str) -> str:
        for a, b in D._FOLD_FIXUPS:
            s = s.replace(a, b)
        s = re.sub(f"[{D.WS_CHARS}]+", " ", s)
        s = re.sub(D._EDGE_SPACE_PATTERN, "", s)
        return hashlib.md5(s.lower().encode("utf-8")).hexdigest()

    rng = random.Random(7)
    frags = [
        "word", "WORD", "İ", "Σ", "ς", "σ", "ß", "ẞ", "ǅ", "中文",
        "Кирил", "café", " ", "\t", "\n", "\x0b", "\f", "\r", "\xa0",
        "  ", "!!!", "123", "​", "ﬁ",
    ]
    cases = [
        "".join(rng.choice(frags) for _ in range(rng.randint(0, 12)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, s string"
    )
    got = {
        r.i: r.fp
        for r in df.select("i", X.fingerprint(F.col("s")).alias("fp")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == fp_py(c), (repr(c), got[i])


def test_round_tie_semantics_match_duckdb(spark):
    """Every oracle leans on round(x, 6) agreeing across engines.
    Both must round DOUBLE ties half-AWAY-from-zero (Spark HALF_UP,
    DuckDB's round) — pinned on exactly-representable ties, where a
    half-even engine would differ."""
    import duckdb

    ties = [0.5, 1.5, 2.5, -0.5, -1.5, 0.125, -0.125, 0.0009765625]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(ties)], "i int, v double")
    got = {
        r.i: (r.r0, r.r2, r.r6)
        for r in df.select(
            "i",
            F.round(F.col("v"), 0).alias("r0"),
            F.round(F.col("v"), 2).alias("r2"),
            F.round(F.col("v"), 6).alias("r6"),
        ).collect()
    }
    con = duckdb.connect()
    for i, v in enumerate(ties):
        want = con.execute(
            "SELECT round(?::DOUBLE, 0), round(?::DOUBLE, 2), round(?::DOUBLE, 6)",
            [v, v, v],
        ).fetchone()
        assert got[i] == want, (v, got[i], want)


def test_hash60_and_lang_id_match_duckdb_on_adversarial_strings(spark):
    """hash60 (md5 substring → bigint) must be bit-identical across
    engines on unicode/empty/long inputs — every LSH band key, sample
    bucket and split assignment rides on it. predicted_lang's argmax
    chain must break ties identically on crafted all-tie and zero-score
    docs."""
    import duckdb

    from langchain_callback_parquet_logger_spark.operators.dedup import (
        _hash60_sql,
        hash60,
    )
    from langchain_callback_parquet_logger_spark.operators.text import (
        LANG_MARKERS,
        predicted_lang,
    )

    strings = ["", "a", "café 😀", "x" * 500, "tab\there", "0", "ночь 夜"]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "i int, s string"
    )
    got_h = {
        r.i: r.h
        for r in df.select("i", hash60(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(strings):
        (h,) = con.execute(
            f"SELECT {_hash60_sql('?')}", [s]
        ).fetchone()
        assert got_h[i] == h, (s, got_h[i], h)

    # tie-break cases: every marker once (4-way tie), zero markers,
    # two-way ties between alphabetical neighbours and extremes
    m = {k: v[0] for k, v in LANG_MARKERS.items()}  # one marker per lang
    docs = [
        " ".join(m.values()),  # all four tie -> alphabetically first (de)
        "no markers at all",  # zero scores -> 'en' fallback
        f"{m['de']} {m['en']}",  # de vs en tie -> de
        f"{m['es']} {m['fr']}",  # es vs fr tie -> es
        f"{m['en']} {m['en']} {m['fr']}",  # en outright
    ]
    ldf = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i int, t string")
    got_l = {
        r.i: r.lg
        for r in ldf.select("i", predicted_lang(F.col("t")).alias("lg")).collect()
    }
    assert [got_l[i] for i in range(len(docs))] == ["de", "en", "de", "es", "en"]
    # and the SQL twin agrees (same CASE chain the q_lang_id oracle uses)
    from langchain_callback_parquet_logger_spark.operators.text import _oracle_lang_id

    con.execute(
        "CREATE TABLE documents AS "
        "SELECT * FROM (SELECT unnest(range(0, ?)) AS doc_id) a "
        "JOIN (SELECT unnest(?) AS text, unnest(range(0, ?)) AS doc_id, "
        "'xx' AS lang) b USING (doc_id)",
        [len(docs), docs, len(docs)],
    )
    duck_l = {
        r[0]: r[2] for r in con.execute(_oracle_lang_id()).fetchall()
    }
    assert [duck_l[i] for i in range(len(docs))] == ["de", "en", "de", "es", "en"]


def _apply_merges_py(tokens: list, merges) -> list:
    """Pure-Python reference of leftmost-greedy, rank-ordered BPE merge
    application — the semantics bpe_apply_state must reproduce."""
    for a, b in merges:
        out: list = []
        for t in tokens:
            if out and out[-1] == a and t == b:
                out[-1] = a + "_" + b
            else:
                out.append(t)
        tokens = out
    return tokens


def test_bpe_apply_fold_matches_python_reference(spark):
    """Randomized differential test: the JVM fold's segmentation equals
    the reference implementation on adversarial token soup (overlapping
    rules, repeated pairs, 1-token docs, rule-interaction chains)."""
    import random

    from langchain_callback_parquet_logger_spark.operators.text import (
        BPE_MERGES,
        BPE_SEP,
        bpe_apply_state,
    )

    rng = random.Random(42)
    vocab = ["table", "hash", "part", "filter", "big", "order", "x"]
    docs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for _ in range(200)
    ]
    # targeted adversarial cases beyond random soup
    docs += [
        "table",  # single token
        "table hash",  # one full merge
        "table table hash hash",  # partial overlaps
        "part filter hash",  # rule 2 then rule 8 must NOT chain
        "filter hash filter hash",  # repeated rule-8 pairs
        "table hash table hash table hash",  # run of merges
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i int, t string")
    got = {
        r.i: r.seg.split(BPE_SEP)
        for r in df.select(
            "i", bpe_apply_state(F.col("t")).alias("seg")
        ).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == _apply_merges_py(d.split(" "), BPE_MERGES), d


def test_bpe_apply_oracle_matches_python_reference_on_adversarial_docs():
    """Three-way pin: the DuckDB list_reduce oracle reproduces the same
    reference semantics on adversarial docs the synthetic corpus may
    never contain (rule-interaction chains, repeated pairs, 1-token
    docs) — so the oracle gate's Spark==DuckDB check is anchored to the
    intended BPE semantics, not just to mutual agreement."""
    import random

    import duckdb

    from langchain_callback_parquet_logger_spark.operators.text import (
        BPE_MERGES,
        _oracle_bpe_apply,
    )

    rng = random.Random(7)
    vocab = ["table", "hash", "part", "filter", "big", "order", "x"]
    docs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25)))
        for _ in range(100)
    ] + [
        "table",
        "part filter hash",
        "filter hash filter hash",
        "table hash table hash table hash",
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS "
        "SELECT * FROM (SELECT unnest(range(0, ?)) AS doc_id) ids "
        "JOIN (SELECT unnest(?) AS text, unnest(range(0, ?)) AS doc_id) txt "
        "USING (doc_id)",
        [len(docs), docs, len(docs)],
    )
    rows = {r[0]: r for r in con.execute(_oracle_bpe_apply()).fetchall()}
    for i, d in enumerate(docs):
        ref = _apply_merges_py(d.split(" "), BPE_MERGES)
        doc_id, n_before, n_after, n_merges, _comp = rows[i]
        assert n_before == len(d.split(" "))
        assert n_after == len(ref), d
        assert n_merges == n_before - n_after


# --- similarity -------------------------------------------------------------


def test_lsh_candidate_pairs_drops_overfull_buckets(spark, monkeypatch):
    """Buckets above EMB_BUCKET_CAP must contribute NO candidate pairs
    (both orientations) — the guard that keeps the 4x256-bucket band
    self-join from going quadratic on corpora large or degenerate
    enough to saturate the fixed signature space (round-10 sf1 audit:
    500k vectors -> max bucket 45,959 -> 1.2e10 candidate pairs without
    the cap)."""
    rows = [
        # bucket (0, 7): 3 members -> over a cap of 2, must vanish
        (1, 0, 7), (2, 0, 7), (3, 0, 7),
        # bucket (1, 9): 2 members -> at cap, kept
        (1, 1, 9), (4, 1, 9),
    ]
    bands = spark.createDataFrame(rows, ["vec_id", "band_idx", "band_val"])
    monkeypatch.setattr(S, "EMB_BUCKET_CAP", 2)
    capped = S._cap_buckets(bands)
    one = S._lsh_candidate_pairs(capped, symmetric=False).collect()
    assert {(r.vec_a, r.vec_b) for r in one} == {(1, 4)}
    both = S._lsh_candidate_pairs(capped, symmetric=True).collect()
    assert {(r.vec_a, r.vec_b) for r in both} == {(1, 4), (4, 1)}


def test_emb_bucket_cap_clears_graded_fixtures(spark, sf_dir):
    """The graded-SF bucket census must sit far below EMB_BUCKET_CAP —
    the cap is a scale guard, not a result-shaping knob: if a fixture
    regeneration ever pushes a bucket near the cap, graded results
    would start depending on it and this tripwire forces a review.
    Measured at EVERY graded SF dir present (the driver grades at
    sf0.01 and the local gate at sf0.1 — asserting only the test
    fixture would leave those censuses unmeasured; round-10 advice)."""
    dirs = [sf_dir] + [
        d
        for d in ("/root/testdata/sf0.01", "/root/testdata/sf0.1")
        if d != sf_dir and os.path.isdir(d)
    ]
    for d in dirs:
        emb = S._banded_emb(spark, d).emb
        planes = S._dedup_band_family(emb.count())
        # the RAW (pre-cap) census — _banded_emb's band frame is already
        # cap-filtered, so measuring it could never trip
        raw = emb.select(
            F.posexplode(
                F.array(*S._band_cols(F.col("emb"), planes, S.DEDUP_LSH_BANDS))
            ).alias("band_idx", "band_val")
        )
        max_bucket = (
            raw.groupBy("band_idx", "band_val")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert max_bucket <= S.EMB_BUCKET_CAP // 4, (
            f"{d}: max bucket {max_bucket} exceeds 1/4 of "
            f"EMB_BUCKET_CAP ({S.EMB_BUCKET_CAP})"
        )


def test_dedup_band_family_cutoff():
    """The adaptive choice is a pure function of the corpus count, each
    cutoff is inclusive on its narrower side, and every narrower family
    is a prefix of the widest draw (same md5 plane stream)."""
    assert S._dedup_band_family(S.EMB_WIDE_CUTOFF) is S.DEDUP_PLANES
    assert S._dedup_band_family(S.EMB_WIDE_CUTOFF + 1) is S.DEDUP_PLANES_WIDE
    assert S._dedup_band_family(S.EMB_XWIDE_CUTOFF) is S.DEDUP_PLANES_WIDE
    assert S._dedup_band_family(S.EMB_XWIDE_CUTOFF + 1) is S.DEDUP_PLANES_XWIDE
    assert len(S.DEDUP_PLANES) == 32 and len(S.DEDUP_PLANES_WIDE) == 64
    assert len(S.DEDUP_PLANES_XWIDE) == 96
    assert S.DEDUP_PLANES == [r[:] for r in S.DEDUP_PLANES_XWIDE[:32]]
    assert S.DEDUP_PLANES_WIDE == [r[:] for r in S.DEDUP_PLANES_XWIDE[:64]]


def test_adaptive_wide_band_path_matches_oracle(spark, sf_dir, monkeypatch):
    """Cross-engine contract for the WIDE family: with the cutoff forced
    below the fixture's 500 vectors, Spark's count-driven branch and the
    oracle's COUNT(*) CASE must both pick 16-bit bands and agree on the
    result — the branch the graded SFs never exercise (they stay narrow)
    but the sf1 corpus lives on."""
    import duckdb

    from langchain_callback_parquet_logger_spark.plans import session as sess

    sess.release_caches()  # a narrow-family memo must not leak in
    monkeypatch.setattr(S, "EMB_WIDE_CUTOFF", 10)
    try:
        got = sorted(
            (r.vec_a, r.vec_b, r.sim)
            for r in S.q_embedding_dedup(spark, sf_dir).collect()
        )
        # the wide branch actually engaged: 16-bit band values exist
        # above the 8-bit narrow space (memo hit — no rebuild)
        capped = S._banded_emb(spark, sf_dir).capped
        max_val = capped.agg(F.max("band_val")).first()[0]
    finally:
        sess.release_caches()  # the wide-family memo must not leak out
    assert max_val > 255
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(S._oracle_embedding_dedup()).fetchall()
    )
    assert got == want


def test_adaptive_xwide_band_path_matches_oracle(spark, sf_dir, monkeypatch):
    """Cross-engine contract for the EXTRA-WIDE family (96 planes,
    4x24-bit bands): with both cutoffs forced below the fixture's 500
    vectors, Spark's count-driven branch and the oracle's three-way
    COUNT(*) CASE must agree on the result — the branch a >5M-vector
    corpus partition lives on."""
    import duckdb

    from langchain_callback_parquet_logger_spark.plans import session as sess

    sess.release_caches()  # a narrower-family memo must not leak in
    monkeypatch.setattr(S, "EMB_WIDE_CUTOFF", 5)
    monkeypatch.setattr(S, "EMB_XWIDE_CUTOFF", 10)
    try:
        got = sorted(
            (r.vec_a, r.vec_b, r.sim)
            for r in S.q_embedding_dedup(spark, sf_dir).collect()
        )
        # the xwide branch actually engaged: 24-bit band values exist
        # above the 16-bit wide space (memo hit — no rebuild)
        capped = S._banded_emb(spark, sf_dir).capped
        max_val = capped.agg(F.max("band_val")).first()[0]
    finally:
        sess.release_caches()  # the xwide-family memo must not leak out
    assert max_val > 65535
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(S._oracle_embedding_dedup()).fetchall()
    )
    assert got == want


def test_knn_bruteforce_topk_sorted(spark, sf_dir):
    rows = S.q_knn_bruteforce(spark, sf_dir).collect()
    assert len(rows) == S.TOP_K
    sims = [r.sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.000001 <= s <= 1.000001 for s in sims)


def test_knn_ivf_subset_of_bruteforce_space(spark, sf_dir):
    """IVF searches one coarse cluster, so its hits must score <= the
    brute-force best and every hit must share the query's label."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_label = emb.filter(F.col("vec_id") == S.QUERY_VEC_ID).first().label
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    ivf = S.q_knn_ivf(spark, sf_dir).collect()
    assert ivf
    assert all(labels[r.vec_id] == q_label for r in ivf)
    best_bf = S.q_knn_bruteforce(spark, sf_dir).first().sim
    assert all(r.sim <= best_bf + 1e-9 for r in ivf)


def test_knn_per_label_rank_bounds(spark, sf_dir):
    rows = S.q_knn_per_label(spark, sf_dir).collect()
    per_label: dict = {}
    for r in rows:
        per_label.setdefault(r.label, []).append(r.rk)
    for label, rks in per_label.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 3


def test_bigrams_col_guards_one_word_docs(spark):
    """A 1-word doc must yield ZERO bigrams (not the lone word, not
    NULL) — the cross-engine contract bigrams_sql mirrors; an unguarded
    sequence(1, n-1) silently diverges between Spark and DuckDB here."""
    import duckdb

    df = spark.createDataFrame([("solo",), ("a b c",)], ["text"])
    rows = df.select(
        F.col("text"), X.bigrams_col(F.col("text")).alias("bg")
    ).collect()
    got = {r.text: r.bg for r in rows}
    assert got["solo"] == []
    assert got["a b c"] == ["a b", "b c"]
    con = duckdb.connect()
    sql = X.bigrams_sql("string_split(t, ' ')")
    for text in ("solo", "a b c"):
        (oracle,) = con.execute(f"SELECT {sql} FROM (SELECT '{text}' AS t)").fetchone()
        assert oracle == got[text]


def _bigrams_py(s: str) -> list[str]:
    """Pure-Python reference for the guarded bigram contract."""
    ws = s.split(" ")
    if len(ws) < 2:
        return []
    return [f"{ws[i]} {ws[i + 1]}" for i in range(len(ws) - 1)]


def _bigram_fuzz_cases(n: int = 300) -> list[str]:
    import random

    rng = random.Random(13)
    # fragments engineered at the clipping edges: empty tokens from
    # space runs, lone words, leading/trailing spaces, unicode words
    frags = ["a", "bb", "ccc", "", " ", "  ", "İΣ", "中文", "x y", "-"]
    return ["", " ", "  ", "solo", " edge", "edge "] + [
        " ".join(rng.choice(frags) for _ in range(rng.randint(0, 6)))
        for _ in range(n)
    ]


def test_bigrams_duckdb_fuzz_matches_python():
    """Seeded fuzz for the guarded bigram helpers at the clipping edges
    (VERDICT r6 #6): empty strings, space runs producing empty tokens,
    1-word docs — the DuckDB twin must reproduce the Python reference
    with no NULL collapse and no lone-word leakage."""
    import duckdb

    con = duckdb.connect()
    sql = (
        "WITH t(s) AS (SELECT ?::VARCHAR) "
        f"SELECT {X.bigrams_sql('string_split(s, chr(32))')} FROM t"
    )
    for c in _bigram_fuzz_cases():
        (duck,) = con.execute(sql, [c]).fetchone()
        assert duck == _bigrams_py(c), (repr(c), duck)


def test_bigrams_spark_fuzz_matches_python(spark):
    """The same bigram fuzz corpus through the SPARK expression, one
    batched collect."""
    cases = _bigram_fuzz_cases()
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, t string"
    )
    got = {
        r.i: list(r.bg)
        for r in df.select("i", X.bigrams_col(F.col("t")).alias("bg")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _bigrams_py(c), (repr(c), got[i])


def test_bigram_model_rounding_grid_matches_across_engines(spark):
    """The q_bigram_logprob quantization — round(-ln(λ·cb/c1 +
    (1-λ)·c2/N)·1e6) as BIGINT — swept over a 4,800-point count grid in
    all three engines (VERDICT r6 #6 'rounding ties'). ln is
    transcendental, so exact .5 ties cannot occur except p=1 (→ ±0.0,
    pinned here); the sweep guards the 1-ulp-near-boundary class
    empirically: closest observed approach is ~4.5e-4 of a quantum."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    lam = X.BIGRAM_LAMBDA
    grid = []
    for c1 in range(1, 25):
        for cb in range(1, c1 + 1):
            for n_tot in (c1, 40, 123, 1000):
                for c2 in (1, 3, max(n_tot // 2, 1), n_tot):
                    grid.append((cb, c1, c2, n_tot))
    assert (24, 24, 24, 24) in grid  # p == 1 → -ln == -0.0 edge included

    expr = (
        f"CAST(round(-ln(({lam!r})::DOUBLE * (cb::DOUBLE / c1::DOUBLE) + "
        f"({1.0 - lam!r})::DOUBLE * (c2::DOUBLE / n::DOUBLE)) * 1e6) "
        f"AS BIGINT)"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE g(i BIGINT, cb BIGINT, c1 BIGINT, c2 BIGINT, n BIGINT)")
    con.executemany(
        "INSERT INTO g VALUES (?,?,?,?,?)",
        [(i, *t) for i, t in enumerate(grid)],
    )
    duck = dict(con.execute(f"SELECT i, {expr} FROM g").fetchall())

    df = spark.createDataFrame(
        [(i, *t) for i, t in enumerate(grid)],
        "i int, cb long, c1 long, c2 long, n long",
    )
    p = F.lit(lam) * (F.col("cb").cast("double") / F.col("c1").cast("double")) + F.lit(
        1.0 - lam
    ) * (F.col("c2").cast("double") / F.col("n").cast("double"))
    got = {
        r.i: r.q
        for r in df.select(
            "i", F.round((-F.log(p)) * 1e6).cast("bigint").alias("q")
        ).collect()
    }
    for i, (cb, c1, c2, n_tot) in enumerate(grid):
        v = -math.log(lam * (cb / c1) + (1.0 - lam) * (c2 / n_tot)) * 1e6
        ref = int(Decimal(repr(v)).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        assert duck[i] == ref, (grid[i], duck[i], ref)
        assert got[i] == ref, (grid[i], got[i], ref)


def test_filter_funnel_cumulative_is_monotone(spark, sf_dir):
    """Four rule rows; cumulative drops are non-decreasing in pipeline
    order, each cumulative >= its rule's marginal, and survivors +
    cumulative-dropped is constant (the corpus size)."""
    rows = {r.rule: r for r in X.q_filter_funnel(spark, sf_dir).collect()}
    order = ["too_short", "too_long", "low_diversity", "low_stopword"]
    assert set(rows) == set(order)
    cums = [rows[r].n_cum_dropped for r in order]
    assert cums == sorted(cums)
    for r in order:
        assert rows[r].n_cum_dropped >= rows[r].n_flagged >= 0
    totals = {rows[r].n_cum_dropped + rows[r].n_survivors for r in order}
    assert len(totals) == 1


def test_doc_keywords_rank_bounds(spark, sf_dir):
    """Every doc gets a gapless 1..n rank sequence with n <= K, ordered
    by score then word, and a keyword's tf never exceeds doc length."""
    rows = X.q_doc_keywords(spark, sf_dir).collect()
    assert rows
    per: dict = {}
    for r in rows:
        per.setdefault(r.doc_id, []).append(r)
    for rs in per.values():
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= X.DOC_KEYWORDS_K
        scores = [(r.tfidf, r.word) for r in rs]
        assert scores == sorted(scores, key=lambda s: (-s[0], s[1]))


def test_vocab_coverage_monotone(spark, sf_dir):
    """Coverage and covered tokens are non-decreasing in vocab size;
    types are capped by the size; coverage is a valid fraction."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        collected = X.q_vocab_coverage(spark, sf_dir).collect()
    finally:
        release_caches()
    rows = sorted(collected, key=lambda r: r.vocab_size)
    assert [r.vocab_size for r in rows] == sorted(X.VOCAB_SIZES)
    covs = [r.coverage for r in rows]
    assert covs == sorted(covs)
    toks = [r.covered_tokens for r in rows]
    assert toks == sorted(toks)
    for r in rows:
        assert r.vocab_types <= r.vocab_size
        assert 0.0 < r.coverage <= 1.0


def test_pmi_collocations_ranked_and_floored(spark, sf_dir):
    rows = X.q_pmi_collocations(spark, sf_dir).collect()
    assert 0 < len(rows) <= X.PMI_TOP_K
    assert all(r.c_ab >= X.PMI_MIN_COUNT for r in rows)
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    pairs = [r.pair for r in rows]
    assert len(pairs) == len(set(pairs))


def test_ann_join_topk_invariants(spark, sf_dir):
    """Per-vector rank sequences are gapless 1..n with n <= K, sims are
    non-increasing within a vector, and no vector lists itself."""
    from langchain_callback_parquet_logger_spark.plans.session import release_caches

    try:
        rows = S.q_ann_join(spark, sf_dir).collect()
    finally:
        release_caches()
    assert rows, "band candidates should exist at every test SF"
    per: dict = {}
    for r in rows:
        assert r.nb_id != r.vec_id
        per.setdefault(r.vec_id, []).append(r)
    for rs in per.values():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= S.ANN_JOIN_K
        sims = [r.sim for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_embedding_dedup_thresholded(spark, sf_dir):
    rows = S.q_embedding_dedup(spark, sf_dir).collect()
    assert rows, "LSH dedup should surface candidate pairs at sf0.001+"
    for r in rows:
        assert r.vec_a < r.vec_b
        assert r.sim >= S.DEDUP_LSH_THRESHOLD
    # no duplicate pairs out of the band-join distinct
    pairs = [(r.vec_a, r.vec_b) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_source_mixture_weights_invariants(spark, sf_dir):
    from langchain_callback_parquet_logger_spark.operators import pipeline as P

    rows = P.q_source_mixture_weights(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.sample_rate <= 1.0
        assert r.expected_tokens <= r.n_tokens  # capping never upsamples
        if r.sample_rate == 1.0:
            assert r.expected_tokens == r.n_tokens


def test_cross_source_dupes_invariants(spark, sf_dir):
    rows = D.q_cross_source_dupes(spark, sf_dir).collect()
    for r in rows:
        assert r.src_a < r.src_b  # canonical unordered pair
        assert r.n_pairs >= 1
        assert r.avg_jaccard >= D.JACCARD_THRESHOLD


def test_embedding_dedup_lsh_subset_of_exact(spark, sf_dir):
    """Every LSH-surfaced pair must carry the exact cosine the all-pairs
    baseline computes (the LSH stage may only PRUNE, never rescore)."""
    lsh = {
        (r.vec_a, r.vec_b): r.sim for r in S.q_embedding_dedup(spark, sf_dir).collect()
    }
    exact = {
        (r.vec_a, r.vec_b): r.sim
        for r in S.embedding_dedup_blocked(spark, sf_dir).collect()
    }
    for pair, sim in lsh.items():
        if pair in exact:
            assert sim == exact[pair]


# --- text analysis ----------------------------------------------------------


def test_text_stats_invariants(spark, sf_dir):
    rows = X.q_text_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_chars > 0
        assert 1 <= r.n_words
        assert r.n_tokens >= r.n_words  # every word is >= 1 regex token
        assert 1 <= r.n_distinct_words <= r.n_words


def test_quality_score_bounded(spark, sf_dir):
    for r in X.q_quality_score(spark, sf_dir).collect():
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.len_score <= 1.0
        assert 0.0 <= r.quality <= 1.0


def test_lang_id_vocabulary(spark, sf_dir):
    langs = set(X.LANG_MARKERS)
    for r in X.q_lang_id(spark, sf_dir).collect():
        assert r.predicted_lang in langs


def test_fingerprint_matches_python_md5(spark, sf_dir):
    import re

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {r.doc_id: r.fingerprint for r in X.q_doc_fingerprint(spark, sf_dir).collect()}
    for r in docs.limit(10).collect():
        norm = re.sub(r"\s+", " ", r.text).strip().lower()
        assert got[r.doc_id] == hashlib.md5(norm.encode()).hexdigest()


# --- multimodal -------------------------------------------------------------


def test_multimodal_features_checksum_is_payload_md5(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    expected = {
        r.doc_id: hashlib.md5(r.text.encode("utf-8")).hexdigest()
        for r in docs.limit(20).collect()
    }
    got = {
        r.doc_id: (r.checksum, r.n_bytes)
        for r in M.q_multimodal_features(spark, sf_dir).collect()
    }
    for doc_id, md in expected.items():
        checksum, n_bytes = got[doc_id]
        assert checksum == md
        assert n_bytes > 0


def test_multimodal_meta_counts_assets(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    row = M.q_multimodal_meta(spark, sf_dir).first()
    assert row.n_assets == docs.count()
    assert row.total_bytes > 0


def test_multimodal_resize_pools_to_fixed_width(spark, sf_dir):
    # resize_media keeps the vector form; the graded query flattens it to
    # p0..p{bins-1} scalar columns (grading harness can't sort list cells).
    vec_rows = M.resize_media(
        M.attach_media_column(load_table(spark, sf_dir, "documents"))
    ).limit(20).collect()
    for r in vec_rows:
        assert len(r.pooled) == M.RESIZE_BINS
        assert all(0.0 <= v <= 255.0 for v in r.pooled)
    flat_rows = M.q_multimodal_resize(spark, sf_dir).limit(20).collect()
    for r in flat_rows:
        vals = [r[f"p{i}"] for i in range(M.RESIZE_BINS)]
        assert all(0.0 <= v <= 255.0 for v in vals)


def test_multimodal_framesample_arithmetic(spark, sf_dir):
    import hashlib
    import math

    docs = {r.doc_id: r.text for r in load_table(spark, sf_dir, "documents").limit(10).collect()}
    got = {r.doc_id: r for r in M.q_multimodal_framesample(spark, sf_dir).collect()}
    for doc_id, text in docs.items():
        buf = text.encode("utf-8")
        n_frames = math.ceil(len(buf) / M.FRAME_BYTES)
        kept = b"".join(
            buf[f * M.FRAME_BYTES : (f + 1) * M.FRAME_BYTES]
            for f in range(0, n_frames, M.FRAME_STRIDE)
        )
        r = got[doc_id]
        assert (r.n_frames, r.sample_md5) == (n_frames, hashlib.md5(kept).hexdigest())


def test_media_column_schema(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = M.attach_media_column(docs)
    kinds = dict(media.dtypes)
    assert kinds["media"] == "binary"
    assert kinds["n_bytes"] == "bigint"


# --- rolling hash / top terms ----------------------------------------------


def test_rolling_hash_matches_python(spark, sf_dir):
    rows = {r.doc_id: r.roll_hash for r in X.q_rolling_hash(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").limit(5).collect()
    P, B = X.ROLL_P, X.ROLL_B
    for d in docs:
        acc = 0
        for w in d.text.split(" "):
            hw = int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % P
            acc = (acc * B + hw) % P
        assert rows[d.doc_id] == acc


def test_top_terms_ranked_per_lang(spark, sf_dir):
    per_lang: dict = {}
    for r in X.q_top_terms(spark, sf_dir).collect():
        per_lang.setdefault(r.lang, []).append(r.rk)
    for lang, rks in per_lang.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))


# --- stateful streaming -----------------------------------------------------


def test_stream_sessionize_matches_batch(spark, sf_dir):
    from langchain_callback_parquet_logger_spark.operators.queries import q_sessionize
    from langchain_callback_parquet_logger_spark.streaming.stateful import (
        q_stream_sessionize,
    )

    batch = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in q_sessionize(spark, sf_dir).collect()
    }
    stream = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in q_stream_sessionize(spark, sf_dir).collect()
    }
    assert batch == stream


def test_lsh_pair_audit_consistency(spark, sf_dir):
    """The audit's counts must be mutually consistent and match the two
    source pair frames it fuses."""
    row = D.q_lsh_pair_audit(spark, sf_dir).collect()[0]
    try:
        n_exact = D.q_ngram_jaccard(spark, sf_dir).count()
        n_lsh = D.q_minhash_dedup(spark, sf_dir).count()
    finally:
        from langchain_callback_parquet_logger_spark.plans.session import (
            release_caches,
        )

        release_caches()
    assert (row.n_exact, row.n_lsh) == (n_exact, n_lsh)
    assert 0 <= row.n_common <= min(n_exact, n_lsh)
    if n_lsh:
        assert row.precision == round(row.n_common / n_lsh, 6)
    if n_exact:
        assert row.recall == round(row.n_common / n_exact, 6)


def _py_winnow_fps(text: str) -> set[str]:
    """Pure-Python Schleimer/Wilkerson/Aiken winnowing reference:
    k-gram md5 hex15 hashes, window-min with RIGHTMOST tie selection,
    built from the module constants (same guard contract as shingles:
    short docs degrade to a single partial k-gram)."""
    k, w, cap = D.WINNOW_K, D.WINNOW_W, D._WINNOW_POS_CAP
    ws = text.split(" ")
    m = max(len(ws) - (k - 1), 1)
    keys = []
    for j in range(1, m + 1):
        gram = " ".join(ws[j - 1 : j - 1 + k])
        h = hashlib.md5(gram.encode()).hexdigest()[:15]
        keys.append(h + str(cap - j).zfill(7))
    return {
        min(keys[i - 1 : i - 1 + w])[:15]
        for i in range(1, max(m - (w - 1), 1) + 1)
    }


def test_winnow_fingerprints_three_way_differential(spark):
    """Spark, the DuckDB oracle CTEs, and the Python reference agree on
    adversarial docs: 1/2-word docs (partial-k-gram guard), an
    all-same-token doc (every window ties -> rightmost selection), block
    repeats, and random soup."""
    import random

    import duckdb

    rng = random.Random(11)
    vocab = ["a", "b", "c", "dd", "e"]
    docs = [
        "x",
        "x y",
        "a b c",
        "a a a a a a a a a a",
        "a b c d a b c d a b c d",
    ] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for _ in range(60)
    ]
    expected = {i: _py_winnow_fps(d) for i, d in enumerate(docs)}

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id int, text string"
    )
    got_spark: dict[int, set[str]] = {i: set() for i in range(len(docs))}
    for r in D.winnow_fingerprint_rows(df).collect():
        got_spark[r.doc_id].add(r.fp)
    assert got_spark == expected

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS "
        "SELECT * FROM (SELECT unnest(range(0, ?)) AS doc_id) a "
        "JOIN (SELECT unnest(?) AS text, unnest(range(0, ?)) AS doc_id) b "
        "USING (doc_id)",
        [len(docs), docs, len(docs)],
    )
    duck = {
        r[0]: set(r[1])
        for r in con.execute(
            f"WITH {D._WINNOW_SEL_CTES} SELECT doc_id, fps FROM sel"
        ).fetchall()
    }
    assert duck == expected


def test_winnow_guarantee_shared_run_shares_a_fingerprint():
    """The winnowing guarantee: two docs sharing a run of at least
    WINNOW_K + WINNOW_W - 1 tokens share at least one fingerprint."""
    t = D.WINNOW_K + D.WINNOW_W - 1
    shared = " ".join(f"s{i}" for i in range(t))
    a = "pre1 pre2 " + shared + " tail1"
    b = "other0 " + shared + " other1 other2"
    assert _py_winnow_fps(a) & _py_winnow_fps(b)


def test_winnow_projection_boundary(spark, sf_dir):
    """The key-construction projection must NOT be inlined into the
    window-min transform: collapsed, Catalyst re-evaluates the whole
    key array once per window position (O(m^2) md5 calls per doc —
    measured 10x wall-clock). Pin: no optimized-plan line contains both
    the md5 construction and the array_min selection."""
    docs = load_table(spark, sf_dir, "documents")
    df = D.winnow_fingerprint_rows(docs)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    sel_lines = [ln for ln in plan.split("\n") if "array_min" in ln]
    assert sel_lines, "selection transform missing from optimized plan"
    assert all("md5" not in ln for ln in sel_lines), (
        "winnow key construction was inlined into the selection lambda "
        "(projection boundary collapsed -> O(m^2) per-doc hashing)"
    )


def test_winnow_matches_pairs_are_dup_groups(spark, sf_dir):
    """On the fixture corpus, winnow match pairs must connect docs that
    genuinely share long verbatim runs — every reported pair shares at
    least one exact SPAN-length window of text."""
    rows = D.q_winnow_matches(spark, sf_dir)
    try:
        pairs = [(r.doc_a, r.doc_b, r.shared, r.overlap) for r in rows.collect()]
    finally:
        from langchain_callback_parquet_logger_spark.plans.session import (
            release_caches,
        )

        release_caches()
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    t = D.WINNOW_K + D.WINNOW_W - 1
    for doc_a, doc_b, shared, overlap in pairs:
        assert shared >= D.WINNOW_MIN_SHARED
        assert 0 < overlap <= 1
        wa = docs[doc_a].split(" ")
        grams_a = {
            " ".join(wa[i : i + D.WINNOW_K])
            for i in range(max(len(wa) - D.WINNOW_K + 1, 1))
        }
        wb = docs[doc_b].split(" ")
        grams_b = {
            " ".join(wb[i : i + D.WINNOW_K])
            for i in range(max(len(wb) - D.WINNOW_K + 1, 1))
        }
        assert grams_a & grams_b, (
            f"pair ({doc_a},{doc_b}) shares no {D.WINNOW_K}-gram at all"
        )


def test_dedup_threshold_sweep_is_monotone_and_agrees_with_jaccard(spark, sf_dir):
    """Sweep contract: pair and doc counts are non-increasing in the
    threshold, mean flagged similarity is at least the threshold, every
    doc count is bounded by 2x pairs, and the row at the production
    threshold (0.6) reproduces q_ngram_jaccard's pair count exactly
    (round(j*1e6) >= 600000 <=> round(j, 6) >= 0.6)."""
    from langchain_callback_parquet_logger_spark.plans.session import (
        release_caches,
    )

    try:
        rows = sorted(
            D.q_dedup_threshold_sweep(spark, sf_dir).collect(),
            key=lambda r: r.threshold_ppm,
        )
        jacc_n = D.q_ngram_jaccard(spark, sf_dir).count()
    finally:
        release_caches()
    assert rows
    assert {r.threshold_ppm for r in rows} <= set(D.SWEEP_GRID_PPM)
    for r in rows:
        assert r.mean_j_ppm >= r.threshold_ppm
        assert 2 <= r.n_docs <= 2 * r.n_pairs
    for lo, hi in zip(rows, rows[1:]):
        assert lo.n_pairs >= hi.n_pairs
        assert lo.n_docs >= hi.n_docs
    at_prod = {r.threshold_ppm: r.n_pairs for r in rows}.get(600_000, 0)
    assert at_prod == jacc_n


def test_dedup_threshold_sweep_oracle_matches_python_on_jaccard_output():
    """Hermetic JVM-free differential for the SWEEP layer: on random
    tiny-vocab corpora (constant shingle collisions), the sweep oracle
    must equal a Python fold over the floored Jaccard-pair oracle's own
    output — isolating the grid/rollup logic from the (separately
    pinned) jaccard layer."""
    import random

    import duckdb

    rng = random.Random(2718)
    vocab = ["aa", "bb", "cc", "dd"]
    for trial in range(10):
        docs = [
            (
                i,
                "en" if i % 2 == 0 else "de",
                " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10))),
            )
            for i in range(rng.randint(2, 10))
        ]
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT unnest(?) AS doc_id, "
            "unnest(?) AS lang, unnest(?) AS text",
            [[d[0] for d in docs], [d[1] for d in docs], [d[2] for d in docs]],
        )
        pairs = con.execute(D._ngram_jaccard_sql(D.SWEEP_FLOOR)).fetchall()
        duck = {
            tuple(r)
            for r in con.execute(D.ORACLES["q_dedup_threshold_sweep"]).fetchall()
        }
        con.close()

        from collections import defaultdict
        from decimal import ROUND_HALF_UP, Decimal

        def ppm(j):
            return int(
                Decimal(repr(j * 1_000_000)).quantize(0, rounding=ROUND_HALF_UP)
            )

        ref = set()
        for t in D.SWEEP_GRID_PPM:
            flagged = [(a, b, ppm(j)) for a, b, j in pairs if ppm(j) >= t]
            if not flagged:
                continue
            n_pairs = len(flagged)
            mean_j = sum(p for _, _, p in flagged) // n_pairs
            n_docs = len({d for a, b, _ in flagged for d in (a, b)})
            ref.add((t, n_pairs, n_docs, mean_j))
        assert duck == ref, (trial, docs, duck, ref)


def _chunk_ref(docs):
    """Python reference for q_doc_chunking: whitespace words, stride-48
    windows of 64, drop empty-text chunks."""
    from langchain_callback_parquet_logger_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_WORDS,
    )

    out = set()
    for doc_id, text in docs:
        ws = text.split(" ")
        n = len(ws)
        for ci in range((n - 1) // CHUNK_STRIDE + 1):
            s = ci * CHUNK_STRIDE
            txt = " ".join(ws[s : s + CHUNK_WORDS])
            if txt != "":
                out.add((doc_id, ci, s, min(CHUNK_WORDS, n - s), txt))
    return out


def test_doc_chunking_matches_python_reference(spark, sf_dir):
    """Full differential on the fixture corpus: every (doc, chunk,
    offset, length, text) row equals the sequential reference, and
    stride-prefixes of consecutive chunks reconstruct each document."""
    from langchain_callback_parquet_logger_spark.operators.text import (
        CHUNK_STRIDE,
        q_doc_chunking,
    )

    docs = [
        (r.doc_id, r.text)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    ref = _chunk_ref(docs)
    got = {
        (r.doc_id, r.chunk_id, r.start_tok, r.n_tok, r.chunk_text)
        for r in q_doc_chunking(spark, sf_dir).collect()
    }
    assert got == ref

    # overlap contract: concatenating each chunk's first CHUNK_STRIDE
    # words (all of the last chunk) reconstructs the document exactly
    from collections import defaultdict

    by_doc = defaultdict(list)
    for d, ci, s, n_tok, txt in got:
        by_doc[d].append((ci, txt))
    texts = dict(docs)
    for d, cs in by_doc.items():
        cs.sort()
        rebuilt = []
        for i, (ci, txt) in enumerate(cs):
            w = txt.split(" ")
            rebuilt.extend(w if i == len(cs) - 1 else w[:CHUNK_STRIDE])
        assert " ".join(rebuilt) == texts[d], d


def test_doc_chunking_duckdb_oracle_edge_docs():
    """JVM-free edge-case differential: empty doc, single word, exact
    stride/window multiples, off-by-one lengths, and multi-space runs
    must match the Python reference through the DuckDB oracle."""
    import duckdb

    from langchain_callback_parquet_logger_spark.operators import text as T

    words = lambda k: " ".join(f"w{i}" for i in range(k))
    docs = [
        (0, ""),
        (1, "solo"),
        (2, words(T.CHUNK_STRIDE)),          # exactly one stride
        (3, words(T.CHUNK_STRIDE + 1)),      # spills into chunk 2
        (4, words(T.CHUNK_WORDS)),           # exactly one window
        (5, words(T.CHUNK_WORDS + 1)),
        (6, words(2 * T.CHUNK_STRIDE + T.CHUNK_WORDS)),
        (7, "a  b   c"),                     # empty words from space runs
        (8, " ".join([""] * 120)),           # all-empty words: no chunks
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT unnest(?) AS doc_id, "
        "unnest(?) AS text",
        [[d for d, _ in docs], [t for _, t in docs]],
    )
    duck = {
        tuple(r) for r in con.execute(T.ORACLES["q_doc_chunking"]).fetchall()
    }
    con.close()
    assert duck == _chunk_ref(docs)


def test_langid_confusion_rows_tile_and_recall(spark, sf_dir):
    """Confusion cells partition the corpus (cell counts sum to the doc
    count, row ppm sums to ~1e6 per labeled lang) and agree with
    q_lang_id's per-doc predictions."""
    from langchain_callback_parquet_logger_spark.operators.text import (
        q_lang_id,
        q_langid_confusion,
    )

    cells = q_langid_confusion(spark, sf_dir).collect()
    docs_n = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in cells) == docs_n
    per_row: dict = {}
    for r in cells:
        per_row.setdefault(r.labeled_lang, 0)
        per_row[r.labeled_lang] += r.row_ppm
    for lang, tot in per_row.items():
        assert 1_000_000 - len(cells) <= tot <= 1_000_000, lang
    want: dict = {}
    for r in q_lang_id(spark, sf_dir).collect():
        k = (r.labeled_lang, r.predicted_lang)
        want[k] = want.get(k, 0) + 1
    got = {(r.labeled_lang, r.predicted_lang): r.n_docs for r in cells}
    assert got == want
