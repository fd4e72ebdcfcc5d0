"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash.

All hashing is md5-derived (`hash60(s)` = first 15 hex chars of md5 as a
60-bit bigint) so every stage — signatures, band keys, candidate pairs,
verified pairs — is bit-identical between the Spark plan and the DuckDB
oracle: the entire LSH pipeline is value-verified, not just row-counted.
(`xxhash64` would be faster but engine-specific; swapping the hash
changes `hash60`, its SQL twin and the MinHash kernel in
`arrowkernels._minhash`.)

Scale design (the point of these operators at 100 TB):
- exact dedup: one hash-aggregate on the fingerprint — no pairwise work;
- n-gram Jaccard: *blocked* pairwise comparison (lang + length band) — the
  exact baseline, quadratic within blocks, used to validate MinHash;
- MinHash+LSH: one Arrow pass per batch computes each doc's shingle set
  and 16 signature members (map-only, no shuffle) → band keys → equi-join
  on (band, key) so candidate generation is hash-join-shaped, never
  O(n²) — then exact Jaccard only on candidates;
- SimHash: linear scan to a 32-bit fingerprint + banded candidate join on
  hamming distance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.session import cache_tracked, load_table, spread
from .arrowkernels import minhash_shingle_frame

SHINGLE_SIZE = 3
NUM_HASHES = 16
NUM_BANDS = 4  # 4 rows per band
JACCARD_THRESHOLD = 0.6
SIMHASH_BITS = 32
HAMMING_THRESHOLD = 3

# Universal-hash family for MinHash: h_j(x) = (a_j * x + b_j) mod MERSENNE_P.
# One md5 per shingle feeds every family member (16× fewer digest+conv
# evaluations than hashing per member); the affine coefficients are fixed
# literals so the DuckDB oracle computes bit-identical signatures.
# (a_j mod p)(x mod p) < 2^62 so the int64 product never overflows.
MERSENNE_P = (1 << 31) - 1
HASH_FAMILY = [
    ((1103515245 * j + 12345) % MERSENNE_P or 1, (69069 * j + 1) % MERSENNE_P)
    for j in range(NUM_HASHES)
]


# ---------------------------------------------------------------------------
# Portable primitives (Spark side)
# ---------------------------------------------------------------------------

# Whitespace spelled as an EXPLICIT class everywhere a regex crosses
# engines: Java's \s is [ \t\n\x0B\f\r] while RE2's (DuckDB) omits
# \x0B, so a shared pattern written with \s silently diverges on
# vertical-tab input (caught by the round-5 differential test
# test_text_primitives_match_duckdb_on_adversarial_strings; the
# synthetic corpus never contains \x0B). text.py re-exports these for
# its token/punct patterns; pipeline.py imports them via text.
WS_CHARS = " \\t\\n\\x0B\\f\\r"
WS_RUN_PATTERN = f"[{WS_CHARS}]+"
PUNCT_PATTERN = f"[^a-zA-Z0-9{WS_CHARS}]"


def hash60(col: Column) -> Column:
    """60-bit positive bigint from md5 — identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _hash60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


# Explicit cross-engine case-fold contract for the fingerprint (round-6
# differential findings on mixed-script input):
#   - Java lowercases İ (U+0130) to 'i'+U+0307 (1→2 chars) while
#     DuckDB's utf8proc maps it to plain 'i';
#   - Java applies the context-sensitive final-sigma rule (Σ→ς at word
#     end) while DuckDB maps Σ→σ unconditionally;
#   - DuckDB's trim() strips U+00A0 (and other unicode spaces) while
#     Spark's trims ASCII space only.
# The contract: fold the two divergent codepoints to fixed lowercase
# targets BEFORE lower(), and spell trim as an explicit ASCII-space
# regex — after which both engines agree byte-for-byte (pinned by
# tests/test_operators.py::test_text_primitives_match_duckdb...).
_FOLD_FIXUPS = (("İ", "i̇"), ("Σ", "σ"))
_EDGE_SPACE_PATTERN = "^ +| +$"


def fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized lowercase text
    (divergence-free across Spark/DuckDB — see ``_FOLD_FIXUPS``)."""
    t = text
    for src, dst in _FOLD_FIXUPS:
        t = F.replace(t, F.lit(src), F.lit(dst))
    t = F.regexp_replace(t, WS_RUN_PATTERN, " ")
    t = F.regexp_replace(t, _EDGE_SPACE_PATTERN, "")
    return F.md5(F.lower(t))


def fingerprint_sql(expr: str) -> str:
    """DuckDB twin of :func:`fingerprint` over a VARCHAR expression."""
    t = expr
    for src, dst in _FOLD_FIXUPS:
        t = f"replace({t}, '{src}', '{dst}')"
    t = f"regexp_replace({t}, '{WS_RUN_PATTERN}', ' ', 'g')"
    t = f"regexp_replace({t}, '{_EDGE_SPACE_PATTERN}', '', 'g')"
    return f"md5(lower({t}))"


def shingles(text: Column, k: int = SHINGLE_SIZE) -> Column:
    """Distinct word k-gram shingles (assumes ≥k words per doc; the
    ``greatest`` guard degrades shorter docs to a single partial shingle)."""
    words = F.split(text, " ")
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))
    )


# DuckDB twin of :func:`shingles`. The window slice uses DuckDB's
# clipping list slice (ws[i+1:i+3] ≅ Spark slice(ws, i, 3) + concat_ws)
# rather than `ws[i+1] || ' ' || ws[i+2] || ...`: on a doc shorter than
# k words the ||-form concatenates a NULL and the whole partial shingle
# collapses to NULL (then []), silently diverging from Spark's
# single-partial-shingle guard — caught by the round-5 differential
# test (tests/test_operators.py::test_shingles_match_python_reference
# _including_short_docs); the synthetic corpus never exposes it because
# every generated doc has ≥k words. NOTE: DuckDB's list_distinct does
# not promise first-occurrence order — fine here because every consumer
# treats shingle arrays as SETS (len/list_intersect/unnest).
_SHINGLES_SQL = """
list_distinct(list_transform(
    range(0, greatest(len(string_split(text, ' ')) - 2, 1)),
    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')))
""".strip()


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / union


# ---------------------------------------------------------------------------
# Exact dedup — one aggregate on the normalized-text fingerprint.
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import fingerprint

    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


ORACLE_EXACT_DEDUP = f"""
SELECT {fingerprint_sql("text")} AS fingerprint,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# URL canonicalization dedup — the cheapest high-frequency dedup signal in
# a real crawl pipeline: most exact duplicates share a URL up to scheme/
# host case, `www.`, default ports, tracking query params, param order,
# trailing slashes, and fragments. Canonicalize first, THEN group — one
# linear projection (all JVM regex, whole-stage codegen) plus one hash
# aggregate on the canonical key; runs before any content hashing because
# it needs no text bytes at all.
#
# The documents table carries no URL column, so the graded query derives
# a deterministic "messy" URL per row (scheme-case / www / :443 / tracking
# params / fragment variants keyed on doc_id; content identity from
# (source, lang, doc_id % 20, sort-param flag)) and the canonicalizer
# collapses the noise — identical construction in the DuckDB oracle. The
# reusable operator is :func:`canonicalize_url`; point it at any real URL
# column unchanged.
# ---------------------------------------------------------------------------

# Scheme://host[:port] prefix (authority has no /, ?, or #).
_URL_PREFIX_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
# Tracking params dropped by canonicalization (explicit classes, no \s —
# the Java-vs-RE2 contract pinned in round 5).
URL_TRACKING_PARAM_RE = (
    "^(utm_[A-Za-z0-9_]*|gclid|fbclid|igshid|mc_eid|ref|session[A-Za-z0-9_]*)="
)


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a URL: fragment stripped; scheme+host lowercased;
    leading ``www.`` and default ports (:80 http / :443 https) removed;
    tracking query params (``URL_TRACKING_PARAM_RE``) dropped; remaining
    params sorted; trailing path slashes collapsed (root stays ``/``).
    Pure JVM expression — safe in the scan projection of a 100 TB pass."""
    u = F.regexp_replace(url, "#.*$", "")
    pfx_raw = F.regexp_extract(u, _URL_PREFIX_RE, 0)
    rest = F.substr(u, F.length(pfx_raw) + F.lit(1))
    pfx = F.lower(pfx_raw)
    pfx = F.regexp_replace(pfx, "^(https?://)www\\.", "$1")
    pfx = F.regexp_replace(pfx, "^(http://[^:/]+):80$", "$1")
    pfx = F.regexp_replace(pfx, "^(https://[^:/]+):443$", "$1")
    path = F.regexp_replace(rest, "\\?.*$", "")
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, "\\?(.*)$", 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: ~p.rlike(URL_TRACKING_PARAM_RE) & (p != ""),
            )
        ),
        "&",
    )
    return F.concat(
        pfx, path, F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept))
    )


def _canonicalize_url_sql(expr: str) -> str:
    """DuckDB twin of :func:`canonicalize_url` over a VARCHAR expression."""
    u = f"regexp_replace({expr}, '#.*$', '')"
    pfx_raw = f"regexp_extract({u}, '{_URL_PREFIX_RE}', 0)"
    rest = f"substring({u}, length({pfx_raw}) + 1)"
    pfx = f"lower({pfx_raw})"
    pfx = f"regexp_replace({pfx}, '^(https?://)www\\.', '\\1')"
    pfx = f"regexp_replace({pfx}, '^(http://[^:/]+):80$', '\\1')"
    pfx = f"regexp_replace({pfx}, '^(https://[^:/]+):443$', '\\1')"
    path = f"regexp_replace(regexp_replace({rest}, '\\?.*$', ''), '/+$', '')"
    path = f"(CASE WHEN {path} = '' THEN '/' ELSE {path} END)"
    query = f"regexp_extract({rest}, '\\?(.*)$', 1)"
    # COALESCE guard: DuckDB array_to_string on an EMPTY list returns
    # NULL where Spark's array_join returns '' — without it every URL
    # whose params are all tracking params canonicalizes to NULL
    # (caught by the oracle gate; pinned by the differential test).
    kept = (
        f"COALESCE(array_to_string(list_sort(list_filter(string_split({query}, '&'), "
        f"p -> NOT regexp_matches(p, '{URL_TRACKING_PARAM_RE}') AND p <> '')), '&'), '')"
    )
    return (
        f"({pfx} || {path} || "
        f"(CASE WHEN {kept} = '' THEN '' ELSE '?' || {kept} END))"
    )


URL_DEDUP_PAGE_MOD = 20  # doc_id % 20 → page slot (content identity)


def _messy_url_col() -> Column:
    d = F.col("doc_id")
    scheme = F.when(d % 3 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://"))
    host = F.concat(
        F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(d % 5 == 0, F.lit(".Example.COM:443")).otherwise(
            F.lit(".example.com")
        ),
    )
    path = F.concat(
        F.lit("/"),
        F.col("lang"),
        F.lit("/page-"),
        (d % URL_DEDUP_PAGE_MOD).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    query = F.concat(
        F.lit("?utm_source=feed&session="),
        d.cast("string"),
        F.when(d % 7 == 0, F.lit("&sort=asc")).otherwise(F.lit("")),
    )
    frag = F.when(
        d % 2 == 1, F.concat(F.lit("#sec-"), (d % 6).cast("string"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, host, path, query, frag)


_MESSY_URL_SQL = f"""(
  (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END)
  || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
  || source
  || (CASE WHEN doc_id % 5 = 0 THEN '.Example.COM:443' ELSE '.example.com' END)
  || '/' || lang || '/page-' || CAST(doc_id % {URL_DEDUP_PAGE_MOD} AS VARCHAR)
  || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
  || '?utm_source=feed&session=' || CAST(doc_id AS VARCHAR)
  || (CASE WHEN doc_id % 7 = 0 THEN '&sort=asc' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 1 THEN '#sec-' || CAST(doc_id % 6 AS VARCHAR)
      ELSE '' END)
)""".strip()


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "doc_id", canonicalize_url(_messy_url_col()).alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") >= 2)
    )


def _oracle_url_dedup() -> str:
    return f"""
SELECT {_canonicalize_url_sql(_MESSY_URL_SQL)} AS canonical_url,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
HAVING COUNT(*) >= 2
"""


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs, lang-blocked (the quadratic baseline
# that validates the LSH path).
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Exact n-gram Jaccard self-join via the inverted-index (posting-list)
    plan: explode shingles, equi-join postings on (lang, shingle), count
    common shingles per pair, then `J = common / (na + nb - common)` —
    exact because shingle arrays are distinct. Candidate enumeration is
    hash-join-shaped (linear in postings + co-occurring pairs); pairs with
    no common shingle never materialize (they can't pass a >0 threshold).
    At 100 TB the one skew risk is a stop-shingle whose posting list is
    huge — mitigated upstream by shingle-frequency capping, and at runtime
    by AQE skew-join splitting."""
    # Postings carry ONLY (doc_id, lang, shingle); the per-doc shingle count
    # lives in a separate tiny dim attached AFTER the pair aggregation via
    # broadcast joins. Carrying `size(shingles(text))` through the self-join
    # lets CollapseProject re-inline the whole HOF array build per joined
    # row (O(pairs × doc_len) — measured 50× slower); this shape evaluates
    # it once per doc.
    post = cache_tracked(
        docs.select("doc_id", "lang", F.explode(shingles(F.col("text"))).alias("s"))
    )
    # Shingles are distinct per doc, so the per-doc posting count IS the
    # shingle-set size — derived from the persisted postings rather than a
    # second pass over the text.
    sizes = post.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = post.alias("a"), post.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    # `sa`/`sb` are one-row-per-DOCUMENT dims — corpus-cardinality frames
    # must not carry a hard broadcast hint (a forced broadcast of a
    # billion-doc size table OOMs at scale). AQE still broadcasts them at
    # small SF where they fit; at scale these become shuffled hash joins
    # on the already-shuffled pair keys.
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(j, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(spread(load_table(spark, sf_dir, "documents")))


def _ngram_jaccard_sql(threshold: float) -> str:
    return f"""
WITH sh AS (
  SELECT doc_id, lang, {_SHINGLES_SQL} AS sh FROM documents
),
post AS (
  SELECT doc_id, lang, len(sh) AS n, unnest(sh) AS s FROM sh
),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         COUNT(*) AS common
  FROM post a JOIN post b
    ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, jaccard
FROM (
  SELECT doc_a, doc_b,
         round(common::DOUBLE / (na + nb - common), 6) AS jaccard
  FROM common
) r
WHERE jaccard >= {threshold}
"""


ORACLE_NGRAM_JACCARD = _ngram_jaccard_sql(JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# Dedup threshold sweep — the calibration table an engineer builds BEFORE
# committing a 100 TB dedup run to one Jaccard cutoff: for every
# candidate threshold on a ppm grid, how many pairs would be flagged,
# how many distinct documents are touched, and the mean similarity of
# the flagged set. One pass over the exact-Jaccard pair list (floored at
# the grid minimum so the output stays near-dup-sized, never
# all-common-shingle-sized); each pair fans out only to the thresholds
# it qualifies for via an array-filter explode — no per-threshold rescan
# of the corpus, no pair×grid cross join.
#
# Scale design: the pair list is the proven posting-list plan
# (ngram_jaccard_pairs — linear in postings + co-occurring pairs),
# cached once because BOTH rollups (pair counts and distinct-doc
# counts) consume it; everything downstream is hash aggregates on
# |grid|-bounded keys. Quantities are integer ppm (round(j*1e6) BIGINT,
# mean via exact-integer div) so the cross-engine hash is exact.
# ---------------------------------------------------------------------------

SWEEP_FLOOR = 0.1
SWEEP_GRID_PPM = [100_000 * i for i in range(1, 10)]  # 0.1 .. 0.9


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per candidate threshold (ppm grid): flagged pair count, distinct
    documents touched, and mean flagged-pair Jaccard — the dedup-cutoff
    calibration table."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = cache_tracked(
        ngram_jaccard_pairs(docs, SWEEP_FLOOR).select(
            "doc_a",
            "doc_b",
            F.expr("CAST(round(jaccard * 1000000) AS BIGINT)").alias("j_ppm"),
        )
    )
    grid = F.array(*[F.lit(t).cast("bigint") for t in SWEEP_GRID_PPM])
    flagged = pairs.select(
        F.explode(
            F.filter(grid, lambda t: F.col("j_ppm") >= t)
        ).alias("threshold_ppm"),
        "doc_a",
        "doc_b",
        "j_ppm",
    )
    pair_agg = flagged.groupBy("threshold_ppm").agg(
        F.count("*").alias("n_pairs"),
        F.expr("sum(j_ppm) div count(*)").alias("mean_j_ppm"),
    )
    docs_agg = (
        flagged.select(
            "threshold_ppm", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("threshold_ppm")
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    return pair_agg.join(docs_agg, "threshold_ppm").select(
        "threshold_ppm", "n_pairs", "n_docs", "mean_j_ppm"
    )


def _oracle_dedup_threshold_sweep() -> str:
    grid = ", ".join(str(t) for t in SWEEP_GRID_PPM)
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b,
         CAST(round(jaccard * 1000000) AS BIGINT) AS j_ppm
  FROM ({_ngram_jaccard_sql(SWEEP_FLOOR)}) t
),
grid AS (SELECT unnest([{grid}])::BIGINT AS threshold_ppm),
flagged AS (
  SELECT g.threshold_ppm, p.doc_a, p.doc_b, p.j_ppm
  FROM grid g JOIN pairs p ON p.j_ppm >= g.threshold_ppm
),
pair_agg AS (
  SELECT threshold_ppm, COUNT(*) AS n_pairs,
         CAST(SUM(j_ppm) AS BIGINT) // COUNT(*) AS mean_j_ppm
  FROM flagged GROUP BY threshold_ppm
),
docs_agg AS (
  SELECT threshold_ppm, COUNT(DISTINCT d) AS n_docs
  FROM (
    SELECT threshold_ppm, doc_a AS d FROM flagged
    UNION ALL
    SELECT threshold_ppm, doc_b AS d FROM flagged
  ) u GROUP BY threshold_ppm
)
SELECT p.threshold_ppm, p.n_pairs, d.n_docs, p.mean_j_ppm
FROM pair_agg p JOIN docs_agg d ON p.threshold_ppm = d.threshold_ppm
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup pairs.
# ---------------------------------------------------------------------------


def minhash_frame(docs: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, sh, s0..s{n-1}): every doc's distinct shingle set (equal
    to ``shingles(text)``) and its MinHash signature, from one Arrow pass
    (:func:`~.arrowkernels.minhash_shingle_frame`).  Each shingle is
    digested once (``hash60 mod p``); the family members are per-doc
    minima of the affine hashes.  Map-only: no shuffle.  A NULL-text doc
    keeps ``sh = [""]`` and gets NULL signature members, so
    :func:`signatures_of` drops it.  Callers that need both the shingle
    sets and the signatures cache this one frame and take both from it."""
    return minhash_shingle_frame(
        docs.select("doc_id", "text"), HASH_FAMILY[:num_hashes], MERSENNE_P, SHINGLE_SIZE
    )


def signatures_of(frame: DataFrame) -> DataFrame:
    """(doc_id, s0..s{n-1}) of a :func:`minhash_frame`, NULL-text docs
    dropped."""
    return frame.filter(F.col("s0").isNotNull()).drop("sh")


def minhash_signatures(docs: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, s0..s{n-1}): per-doc MinHash signature, MAP-ONLY — no
    shuffle (at warehouse scale this removes a corpus-sized
    explode+groupBy exchange that the round-8 shape paid).  Computed by
    the Arrow kernel behind :func:`minhash_frame`; values are
    bit-identical to the explode+groupBy form (min over the same
    multiset), so the DuckDB oracle is unchanged — pinned by
    tests/test_operators.py.

    NULL-text docs are dropped by :func:`signatures_of`. Note the
    subtlety: they were NOT silently dropped by the old explode+groupBy
    form either — ``shingles(NULL)`` degrades to ``[""]`` (``greatest``
    ignores the NULL size and ``concat_ws`` swallows the NULL slice), so
    BOTH forms historically gave null text the same signature as empty
    text. That is a skew hazard, not a semantics win: every content-free
    doc lands in the SAME signature, hence the same band key in every
    band, and the candidate self-join goes quadratic in the null-doc
    count. A doc with no content is not a dedup participant, so drop it
    here, map-side (no shuffle added). Empty-STRING docs still
    participate (they are legitimate, if degenerate, exact duplicates of
    each other); corpora with many of them are covered by the skew
    guards (``WINNOW_MAX_DF``, ``q_key_skew_report``)."""
    return signatures_of(minhash_frame(docs, num_hashes))


def lsh_bands(sig: DataFrame, num_bands: int = NUM_BANDS, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, band_id, band_key): band key = md5 of the band's signature
    slice, joined on equality — candidate generation is an equi join."""
    rows_per_band = num_hashes // num_bands
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"s{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(num_bands)
        ]
    )
    return sig.select("doc_id", F.posexplode(bands).alias("band_id", "band_key"))


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    # One kernel frame holds the shingle sets and the signatures (one row
    # per doc) and feeds the band self-join and both verify joins; caching
    # it stops each of them from re-running the kernel (broadcast sides
    # don't hit ReuseExchange). The block is registered for
    # release_caches() — harnesses release after each query's action.
    frame = cache_tracked(minhash_frame(docs))
    sh = frame.select("doc_id", "sh")
    bands = lsh_bands(signatures_of(frame))

    b1, b2 = bands.alias("b1"), bands.alias("b2")
    candidates = (
        b1.join(
            b2,
            (F.col("b1.band_id") == F.col("b2.band_id"))
            & (F.col("b1.band_key") == F.col("b2.band_key"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b")
        )
        .distinct()
    )
    verified = (
        candidates.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified


def _minhash_bands_cte() -> str:
    """Shared WITH-clause body: documents → shingle sets → minhash
    signatures → LSH band keys (sh/ex/sig/bands CTEs), reused by every
    oracle that consumes the banded index."""
    rows_per_band = NUM_HASHES // NUM_BANDS
    min_exprs = []
    for j, (a, b) in enumerate(HASH_FAMILY):
        min_exprs.append(f"MIN(({a} * h + {b}) % {MERSENNE_P}) AS s{j}")
    mins = ", ".join(min_exprs)
    band_rows = []
    for b in range(NUM_BANDS):
        cols = " || ',' || ".join(
            f"s{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_key FROM sig")
    bands_sql = " UNION ALL ".join(band_rows)
    return f"""sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
),
ex AS (
  SELECT doc_id, {_hash60_sql('s')} % {MERSENNE_P} AS h
  FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
),
sig AS (
  SELECT doc_id, {mins} FROM ex GROUP BY doc_id
),
bands AS (
  {bands_sql}
)"""


def _oracle_minhash() -> str:
    return f"""
WITH {_minhash_bands_cte()},
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bands b1 JOIN bands b2
    ON b1.band_id = b2.band_id AND b1.band_key = b2.band_key
   AND b1.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, jaccard
FROM (
  SELECT doc_a, doc_b,
         round(len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
  FROM cand JOIN sh a ON cand.doc_a = a.doc_id
            JOIN sh b ON cand.doc_b = b.doc_id
) r
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


def q_lsh_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end banding audit: pair-level precision/recall of the
    MinHash+LSH pipeline (``q_minhash_dedup``) against the exact
    inverted-index Jaccard baseline (``q_ngram_jaccard``) at the shared
    threshold — the number a pipeline owner reads before trusting a
    (bands, rows) configuration at 100 TB (the MMDS S-curve says 4×4
    bands catch J≥0.6 with ~0.97 probability; this measures it on the
    actual corpus, end-to-end, not per-signature like
    ``q_minhash_estimate_error``).

    Recall < 1 counts true near-dup pairs the banding missed (tune bands
    up); precision < 1 can only come from blocking-scope differences
    (the exact baseline is lang-blocked, candidates are not) since LSH
    pairs are already exact-Jaccard-verified.  One FULL OUTER equi-join
    of two pair lists (both linear in corpus + true near-dups) into a
    single-row aggregate — the same fusion shape as q_ensemble_dedup.
    """
    exact = q_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("e")
    )
    lsh = q_minhash_dedup(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("l")
    )
    fused = exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
    agg = fused.agg(
        F.count("e").alias("n_exact"),
        F.count("l").alias("n_lsh"),
        F.count(F.when(F.col("e").isNotNull() & F.col("l").isNotNull(), 1)).alias(
            "n_common"
        ),
    )
    return agg.select(
        "n_exact",
        "n_lsh",
        "n_common",
        F.when(
            F.col("n_lsh") > 0,
            F.round(F.col("n_common") / F.col("n_lsh"), 6),
        ).alias("precision"),
        F.when(
            F.col("n_exact") > 0,
            F.round(F.col("n_common") / F.col("n_exact"), 6),
        ).alias("recall"),
    )


def _oracle_lsh_pair_audit() -> str:
    return f"""
WITH e AS (SELECT doc_a, doc_b FROM ({ORACLE_NGRAM_JACCARD}) t),
l AS (SELECT doc_a, doc_b FROM ({_oracle_minhash()}) t),
m AS (
  SELECT (SELECT COUNT(*) FROM e) AS n_exact,
         (SELECT COUNT(*) FROM l) AS n_lsh,
         (SELECT COUNT(*) FROM e JOIN l USING (doc_a, doc_b)) AS n_common
)
SELECT n_exact, n_lsh, n_common,
       CASE WHEN n_lsh > 0
            THEN round(n_common::DOUBLE / n_lsh, 6) END AS precision,
       CASE WHEN n_exact > 0
            THEN round(n_common::DOUBLE / n_exact, 6) END AS recall
FROM m
"""


# ---------------------------------------------------------------------------
# SimHash fingerprints + hamming near-dup pairs.
# ---------------------------------------------------------------------------


# Adaptive fingerprint width — the simhash twin of similarity.py's
# EMB_WIDE_CUTOFF: a 32-bit fingerprint in 4 hamming-pigeonhole bands
# holds only 4x256 buckets, so candidate volume grows ~n^2/1024 once the
# corpus outgrows the keyspace (the round-11 sf1 audit measured a
# disk-full spill at 500k docs). Corpora past the cutoff use a 60-bit
# fingerprint (Manku et al., WWW 2007 run 64-bit at 8e9 docs; 60 here
# because hash60 supplies exactly 60 independent bits and 2^59 still
# fits signed BIGINT arithmetic on both engines) in 4x15-bit bands.
# The DuckDB oracle branches on the same COUNT(*) so the engines always
# agree. HAMMING_THRESHOLD stays 3 — with 4 bands the pigeonhole
# recall argument is width-independent.
SIMHASH_BITS_WIDE = 60
SIMHASH_WIDE_CUTOFF = 50_000
# Degenerate-bucket guard, the WINNOW_MAX_DF/EMB_BUCKET_CAP analogue:
# near-identical token sets (boilerplate clusters; this fixture's tiny
# synthetic vocabulary) collapse to IDENTICAL fingerprints, so no band
# width can split them — the sf1 corpus puts 151k docs in one wide
# bucket. Buckets above the cap are dropped from candidate generation
# on BOTH engines (same HAVING in the oracle); a pair is lost only if
# EVERY band it shares is over-cap. Graded/local censuses sit well
# under it (sf0.01 max 253, sf0.1 max 2,566 — tripwire-tested); at sf1
# the cap bounds candidates to ~337M instead of 4e10.
SIMHASH_BUCKET_CAP = 4096
# Third family step (the simhash twin of similarity.EMB_XWIDE_CUTOFF):
# the wide family's 4x15-bit bands hold 32,768 buckets each, so one
# more decade of corpus growth (n ~ 5M) puts ~150 docs in the expected
# bucket and candidate mass back at ~1e9.  A single signed BIGINT
# cannot hold 4x24-bit bands (96 > 63 bits), so past this cutoff the
# banding switches to Manku et al.'s COMBINED-table construction over
# the SAME 60-bit fingerprint: split it into 6 sub-bands of 10 bits
# and key candidate buckets on PAIRS of sub-bands — C(6,2) = 15 band
# ids, each a 20-bit key (1,048,576 buckets, 32x the wide keyspace).
# Pigeonhole still makes recall exact: hamming <= 3 dirties at most 3
# sub-bands, leaving >= 3 clean ones and therefore >= C(3,2) = 3 clean
# pairs, so every qualifying pair still collides in >= 1 band.  Cost:
# 15 band rows per doc instead of 4 (3.75x row mass) for ~32x fewer
# collisions per bucket — the same flops-for-shuffle trade as the
# bucket-local re-rank.  The fingerprint itself (q_simhash's output)
# never changes past the wide step.
SIMHASH_XWIDE_CUTOFF = 5_000_000
SIMHASH_XWIDE_SUBBANDS = 6
SIMHASH_XWIDE_SUB_BITS = SIMHASH_BITS_WIDE // SIMHASH_XWIDE_SUBBANDS  # 10
SIMHASH_XWIDE_PAIRS = [
    (i, j)
    for i in range(SIMHASH_XWIDE_SUBBANDS)
    for j in range(i + 1, SIMHASH_XWIDE_SUBBANDS)
]  # 15 combined bands


def _simhash_bits(n_docs: int) -> int:
    """Fingerprint width for a corpus of ``n_docs`` — pure function of
    the count, mirrored by the oracle's COUNT(*) CASE."""
    return SIMHASH_BITS if n_docs <= SIMHASH_WIDE_CUTOFF else SIMHASH_BITS_WIDE


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over distinct-token hashes.
    Linear explode + one aggregate; the per-bit votes are plain SUM(CASE)
    expressions so the whole thing stays in codegen."""
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("w")
    ).withColumn("h", hash60(F.col("w")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.alias("simhash"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return simhash(docs, _simhash_bits(docs.count()))


def _oracle_simhash() -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS_WIDE)
    )

    def fp_expr(bits: int) -> str:
        return " + ".join(
            f"CASE WHEN v{b} > 0 THEN {2 ** b}::BIGINT ELSE 0 END"
            for b in range(bits)
        )

    fp = (
        f"CASE WHEN (SELECT wide FROM simfam) THEN {fp_expr(SIMHASH_BITS_WIDE)}"
        f" ELSE {fp_expr(SIMHASH_BITS)} END"
    )
    return f"""
WITH simfam AS (
  SELECT COUNT(*) > {SIMHASH_WIDE_CUTOFF} AS wide FROM documents
),
toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
),
hashed AS (
  SELECT doc_id, {_hash60_sql('w')} AS h FROM toks
),
votes AS (
  SELECT doc_id, {votes} FROM hashed GROUP BY doc_id
)
SELECT doc_id, {fp} AS simhash FROM votes
"""


# hamming ≤ HAMMING_THRESHOLD means at most HAMMING_THRESHOLD of the
# SIMHASH_BITS bits differ; splitting the fingerprint into
# HAMMING_THRESHOLD + 1 bands guarantees (pigeonhole) that every
# qualifying pair agrees EXACTLY on at least one band — so an equi-join
# on (band_id, band_bits) is a complete candidate generator, and the
# bit_count verify makes the result set exactly {pairs : hamming ≤ t}.
SIMHASH_NUM_BANDS = HAMMING_THRESHOLD + 1  # 4 bands × 8 bits over 32 bits
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_NUM_BANDS


def _simhash_band_arr(n_docs: int, bits: int) -> Column:
    """Band-key array for the corpus size: contiguous ``bits/4``-bit
    slices of the fingerprint up to ``SIMHASH_XWIDE_CUTOFF`` docs
    (4 bands — pigeonhole over HAMMING_THRESHOLD+1), combined sub-band
    PAIRS beyond it (15 bands of 20-bit keys — see the cutoff's
    rationale).  Pure expressions over the ``simhash`` column; the
    oracle mirrors the same shapes behind its COUNT(*) CASE."""
    if n_docs <= SIMHASH_XWIDE_CUTOFF:
        band_bits = bits // SIMHASH_NUM_BANDS
        return F.array(
            *[
                F.shiftright(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                for b in range(SIMHASH_NUM_BANDS)
            ]
        )
    sb = SIMHASH_XWIDE_SUB_BITS

    def sub(i: int) -> Column:
        return F.shiftright(F.col("simhash"), i * sb).bitwiseAND(
            F.lit((1 << sb) - 1)
        )

    return F.array(
        *[sub(i) * F.lit(1 << sb) + sub(j) for i, j in SIMHASH_XWIDE_PAIRS]
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by hamming distance, blocked on simhash band
    prefixes. Candidate generation is an equi-join on (band_id, band_bits)
    — hash-join-shaped, linear in docs + true candidates, never all-pairs
    (the previous lang-blocked shape was O(n²/|langs|) compare volume; a
    ~5-value key cannot block a 100 TB corpus). Pigeonhole over
    HAMMING_THRESHOLD+1 bands makes candidate recall exact, so the output
    is ALL pairs with hamming ≤ threshold — no blocking-key false
    negatives (recall loss only from SIMHASH_BUCKET_CAP-dropped
    degenerate buckets, mirrored exactly in the oracle).

    Scale (round-11 reshape after the sf1 disk-full spill): fingerprint
    width is ADAPTIVE (32-bit/4x8 bands up to SIMHASH_WIDE_CUTOFF docs,
    60-bit/4x15 beyond — keyspace 1,024 -> 131,072 buckets; past
    SIMHASH_XWIDE_CUTOFF the banding moves to combined sub-band PAIRS,
    15 bands of 20-bit keys over the same 60-bit fingerprint — see the
    cutoff's rationale), degenerate buckets above SIMHASH_BUCKET_CAP
    are dropped (identical-fingerprint boilerplate clusters defeat ANY
    width), and the hamming filter runs BEFORE the distinct (hamming is
    functionally dependent on the pair, so dedup on the filtered
    projection keeps the same set while only qualifying rows ever
    shuffle)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_docs = docs.count()
    bits = _simhash_bits(n_docs)
    # One fingerprint row per doc feeds both sides of the band self-join —
    # cached (and registered for release_caches()) so the token-hash
    # aggregation runs once, not twice.
    fp = cache_tracked(simhash(docs, bits))
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(_simhash_band_arr(n_docs, bits)).alias(
            "band_id", "band_bits"
        ),
    )
    # Degenerate-bucket guard: broadcast the OVER-cap bucket list and
    # anti-join — bounded by band_rows / cap (a handful of rows even at
    # 5M docs), unlike a keep-list semi join, whose census is bounded
    # by the band KEYSPACE (15 x 2^20 past the xwide cutoff — not
    # broadcastable).  Result set identical: a row survives iff its
    # bucket holds <= SIMHASH_BUCKET_CAP members.
    over = F.broadcast(
        bands.groupBy("band_id", "band_bits")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > SIMHASH_BUCKET_CAP)
        .select("band_id", "band_bits")
    )
    capped = bands.join(over, ["band_id", "band_bits"], "left_anti")
    a, b = capped.alias("a"), capped.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .distinct()
    )


def _oracle_simhash_pairs() -> str:
    # Mirrors the banded plan (not the O(n²) all-pairs form) so the oracle
    # stays tractable; the result set is identical by the pigeonhole
    # argument above. Band family branches on the same COUNT(*) as the
    # fingerprint CTE (contiguous slices up to the xwide cutoff, combined
    # sub-band pairs beyond); the HAVING is the bucket cap.
    wide = f"(SELECT wide FROM sfam)"
    xwide = f"(SELECT xwide FROM sfam)"
    bb = f"(CASE WHEN {wide} THEN {SIMHASH_BITS_WIDE // SIMHASH_NUM_BANDS} ELSE {SIMHASH_BAND_BITS} END)"
    mask = (
        f"(CASE WHEN {wide} THEN {(1 << (SIMHASH_BITS_WIDE // SIMHASH_NUM_BANDS)) - 1}"
        f" ELSE {(1 << SIMHASH_BAND_BITS) - 1} END)"
    )
    sb = SIMHASH_XWIDE_SUB_BITS
    smask = (1 << sb) - 1

    def sub(i: int) -> str:
        return f"((simhash >> {i * sb}) & {smask})"

    pair_cases = " ".join(
        f"WHEN {bid} THEN {sub(i)} * {1 << sb} + {sub(j)}"
        for bid, (i, j) in enumerate(SIMHASH_XWIDE_PAIRS)
    )
    n_xwide = len(SIMHASH_XWIDE_PAIRS)
    return f"""
WITH sfam AS (
  SELECT COUNT(*) > {SIMHASH_WIDE_CUTOFF} AS wide,
         COUNT(*) > {SIMHASH_XWIDE_CUTOFF} AS xwide FROM documents
),
fp AS ({_oracle_simhash()}),
bands AS (
  SELECT doc_id, simhash, band_id,
         CASE WHEN {xwide} THEN (CASE band_id {pair_cases} END)
              ELSE (simhash >> (band_id * {bb})) & {mask} END AS band_bits
  FROM fp CROSS JOIN (SELECT unnest(range(0, {n_xwide})) AS band_id)
  WHERE band_id < CASE WHEN {xwide} THEN {n_xwide} ELSE {SIMHASH_NUM_BANDS} END
),
kept AS (
  SELECT band_id, band_bits FROM bands
  GROUP BY band_id, band_bits HAVING COUNT(*) <= {SIMHASH_BUCKET_CAP}
),
capped AS (
  SELECT b.doc_id, b.simhash, b.band_id, b.band_bits
  FROM bands b JOIN kept k
    ON b.band_id = k.band_id AND b.band_bits = k.band_bits
)
SELECT DISTINCT doc_a, doc_b, hamming FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM capped a JOIN capped b
    ON a.band_id = b.band_id AND a.band_bits = b.band_bits
   AND a.doc_id < b.doc_id
) WHERE hamming <= {HAMMING_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination — the training-data op that keeps eval sets out
# of the corpus: flag every training doc sharing at least one word k-gram
# with any benchmark doc. Real pipelines use k≈13; the synthetic docs are
# short so the corpus shingle size (k=3) is reused, which also lets the
# oracle share _SHINGLES_SQL verbatim.
#
# Scale: the benchmark side here is ~1/97th of the corpus — proportional
# to corpus size, NOT bounded by construction, so it carries NO hard
# broadcast hint (forcing a ~1 TB posting list into every executor at
# 100 TB would OOM).  AQE picks broadcast-hash at runtime whenever the
# bench side measures under the threshold (it does at every test SF) and
# degrades gracefully to a shuffle join on the shingle key when a real
# eval suite outgrows it.  Hint policy per round-4 review: hard hints
# only on frames bounded by construction.
# ---------------------------------------------------------------------------


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    post = docs.select("doc_id", F.explode(shingles(F.col("text"))).alias("s"))
    bench = post.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    train = post.filter(F.col("doc_id") % 97 != 0)
    # bench rows are already unique per (bench_id, s): shingles() emits
    # array_distinct per doc, so no dedup exchange before the join.
    return (
        train.join(bench, "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("bench_id").alias("n_bench_hits"),
            F.countDistinct("s").alias("n_shared_shingles"),
        )
    )


ORACLE_DECONTAMINATE = f"""
WITH post AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
),
bench AS (
  SELECT DISTINCT doc_id AS bench_id, s FROM post WHERE doc_id % 97 = 0
)
SELECT p.doc_id,
       COUNT(DISTINCT b.bench_id) AS n_bench_hits,
       COUNT(DISTINCT p.s) AS n_shared_shingles
FROM post p JOIN bench b ON p.s = b.s
WHERE p.doc_id % 97 <> 0
GROUP BY p.doc_id
"""


def q_cross_source_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs that CROSS source boundaries — the syndication /
    mirror-site signal. Dedup policy usually differs by provenance:
    same-source near-dups are templating/boilerplate (drop all but one),
    cross-source near-dups mean the same content entered the corpus via
    several feeds (keep one GLOBALLY, and down-weight those sources'
    overlap). This rolls the MinHash pair list up to (source, source)
    counts with the mean verified Jaccard.

    Scale: two id-equi-joins attach provenance to the pair list. No
    broadcast hint — the pair list is usually far smaller than the corpus
    (AQE broadcasts it at runtime), but on duplicate-RICH corpora it can
    run to billions of pairs, and a hard hint would OOM exactly when the
    query matters most; the doc side is a 2-column scan either way."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = q_minhash_dedup(spark, sf_dir)
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    with_a = a.join(pairs, "doc_a")
    with_ab = b.join(with_a, "doc_b")
    return (
        with_ab.filter(F.col("source_a") != F.col("source_b"))
        .groupBy(
            F.least("source_a", "source_b").alias("src_a"),
            F.greatest("source_a", "source_b").alias("src_b"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


def _oracle_cross_source_dupes() -> str:
    return f"""
WITH pairs AS (
  {_oracle_minhash()}
)
SELECT least(a.source, b.source) AS src_a,
       greatest(a.source, b.source) AS src_b,
       COUNT(*) AS n_pairs,
       round(AVG(jaccard), 6) AS avg_jaccard
FROM pairs
JOIN documents a ON pairs.doc_a = a.doc_id
JOIN documents b ON pairs.doc_b = b.doc_id
WHERE a.source <> b.source
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Incremental dedup — the production shape for a growing corpus: dedup a
# NEW ingest batch against the EXISTING corpus by joining the batch's LSH
# band keys against the corpus' band-key index, verifying only the
# candidates. Corpus-internal pairs are NEVER recomputed; cost is linear
# in the batch plus its true collisions, however big the corpus. (Here
# both sides derive from one scan — doc_id % 10 == 0 plays the "new
# batch"; in production the corpus side IS the stored signature index,
# e.g. the lsh_bands output persisted by a prior run / checkpoint.)
#
# Output: one row per new doc that collides with the corpus at
# JACCARD_THRESHOLD — the drop/keep list an ingest job applies.
# ---------------------------------------------------------------------------

INCREMENTAL_BATCH_MOD = 10  # doc_id % 10 == 0 → "new batch" (~10%)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    # One signature/band pipeline over the union, split afterwards —
    # signatures are per-doc, so this equals computing each side
    # separately while scanning the corpus once. Cached: the kernel frame
    # feeds both band join sides and both verify legs.
    frame = cache_tracked(minhash_frame(docs))
    sh = frame.select("doc_id", "sh")
    bands = lsh_bands(signatures_of(frame))
    is_new = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
    nb, cb = bands.filter(is_new).alias("n"), bands.filter(~is_new).alias("c")
    cand = (
        nb.join(
            cb,
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
        )
        .distinct()
    )
    verified = (
        cand.join(
            sh.select(F.col("doc_id").alias("new_doc_id"), F.col("sh").alias("sh_n")),
            "new_doc_id",
        )
        .join(
            sh.select(F.col("doc_id").alias("corpus_doc_id"), F.col("sh").alias("sh_c")),
            "corpus_doc_id",
        )
        .select(
            "new_doc_id",
            F.round(jaccard(F.col("sh_n"), F.col("sh_c")), 6).alias("j"),
        )
        .filter(F.col("j") >= JACCARD_THRESHOLD)
    )
    return verified.groupBy("new_doc_id").agg(
        F.count("*").alias("n_corpus_dups"),
        F.max("j").alias("best_jaccard"),
    )


def _oracle_incremental_dedup() -> str:
    return f"""
WITH {_minhash_bands_cte()},
cand AS (
  SELECT DISTINCT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id
  FROM bands n JOIN bands c
    ON n.band_id = c.band_id AND n.band_key = c.band_key
  WHERE n.doc_id % {INCREMENTAL_BATCH_MOD} = 0
    AND c.doc_id % {INCREMENTAL_BATCH_MOD} <> 0
),
verified AS (
  SELECT cand.new_doc_id,
         round(len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(a.sh || b.sh)), 6) AS j
  FROM cand JOIN sh a ON cand.new_doc_id = a.doc_id
            JOIN sh b ON cand.corpus_doc_id = b.doc_id
)
SELECT new_doc_id, COUNT(*) AS n_corpus_dups, MAX(j) AS best_jaccard
FROM verified WHERE j >= {JACCARD_THRESHOLD}
GROUP BY new_doc_id
"""


# ---------------------------------------------------------------------------
# Semantic diversity sampling — the "keep one per meaning-bucket"
# downsampler used to flatten over-represented content before training:
# documents are bucketed by the top bits of their SimHash fingerprint
# (similar texts share high bits because each bit is a majority vote over
# token hashes), and each bucket keeps its lowest doc_id as the
# representative. Output = bucket → representative + population, i.e. the
# coverage histogram a mixture designer reads to see how skewed the corpus
# is semantically.
#
# Scale: linear fingerprint scan + ONE hash-aggregate on the bucket key —
# no pairwise anything; at 100 TB this is the cheap first pass that runs
# before the expensive pairwise dedup operators.
# ---------------------------------------------------------------------------

DIVERSITY_BUCKET_BITS = 8  # 2^8 semantic buckets from the simhash top bits


def q_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The bucket key is the TOP DIVERSITY_BUCKET_BITS of the fingerprint,
    # so the shift must track the ADAPTIVE fingerprint width (32-bit up
    # to SIMHASH_WIDE_CUTOFF docs, 60-bit beyond — _simhash_bits): a
    # fixed 32-bit shift over a 60-bit fingerprint would bucket on the
    # MIDDLE bits and diverge from the oracle, which follows the
    # adaptive _oracle_simhash() (round-11 advice).
    docs = spread(load_table(spark, sf_dir, "documents"))
    bits = _simhash_bits(docs.count())
    bucket = F.shiftright(F.col("simhash"), bits - DIVERSITY_BUCKET_BITS)
    return (
        simhash(docs, bits)
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.min("doc_id").alias("representative_doc_id"),
            F.count("*").alias("bucket_size"),
        )
    )


def _oracle_diversity_sample() -> str:
    # Shift branches on the same COUNT(*) that picks the fingerprint
    # width inside _oracle_simhash() — both engines bucket on the TOP
    # bits of whichever fingerprint the corpus size selects.
    shift = (
        f"(CASE WHEN (SELECT COUNT(*) FROM documents) > {SIMHASH_WIDE_CUTOFF}"
        f" THEN {SIMHASH_BITS_WIDE - DIVERSITY_BUCKET_BITS}"
        f" ELSE {SIMHASH_BITS - DIVERSITY_BUCKET_BITS} END)"
    )
    return f"""
WITH fp AS ({_oracle_simhash()})
SELECT simhash >> {shift} AS bucket,
       MIN(doc_id) AS representative_doc_id,
       COUNT(*) AS bucket_size
FROM fp GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# Ensemble dedup — fuse the two independent near-dup signals (word-shingle
# MinHash Jaccard and embedding cosine) into one per-pair verdict. The
# agreement matrix is the policy input real pipelines act on: text-only
# hits are boilerplate/templating (same words, different meaning-context),
# embedding-only hits are paraphrases (same meaning, different words),
# both-signal hits are true duplicates to drop globally.
#
# Scale: a FULL OUTER equi-join of two pair lists, each already linear in
# corpus + true near-dups (both come from banded LSH candidate plans) and
# far smaller than the corpus — AQE picks the join strategy; no stage
# touches raw text or vectors again. doc_id and vec_id are the same
# entity id in the testdata (row i of documents embeds to row i of
# embeddings), mirroring a production corpus where the embedding table is
# derived from the document table.
# ---------------------------------------------------------------------------


def ensemble_from_pairs(text_pairs: DataFrame, emb_pairs: DataFrame) -> DataFrame:
    """Fuse MATERIALIZED pair tables into the ensemble verdict — the
    production shape: nightly jobs persist the MinHash pair list and the
    embedding-LSH pair list once, and every downstream policy query joins
    the stored tables instead of re-running two full dedup pipelines
    (what the end-to-end ``q_ensemble_dedup`` does, at 100 TB a ~2×
    saving of the whole dedup cost).

    ``text_pairs``: (doc_a, doc_b, text_jaccard); ``emb_pairs``:
    (doc_a, doc_b, cosine_sim) — both canonical orientation (a < b).
    The FULL OUTER equi-join of two pair lists is linear in true
    near-dups and AQE-decided; no stage touches raw text or vectors."""
    joined = text_pairs.join(emb_pairs, ["doc_a", "doc_b"], "full_outer")
    n_signals = F.when(F.col("text_jaccard").isNotNull(), 1).otherwise(0) + F.when(
        F.col("cosine_sim").isNotNull(), 1
    ).otherwise(0)
    return joined.select(
        "doc_a",
        "doc_b",
        "text_jaccard",
        "cosine_sim",
        n_signals.alias("n_signals"),
    )


def q_ensemble_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import q_embedding_dedup

    tp = q_minhash_dedup(spark, sf_dir).withColumnRenamed(
        "jaccard", "text_jaccard"
    )
    ep = q_embedding_dedup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.col("sim").alias("cosine_sim"),
    )
    return ensemble_from_pairs(tp, ep)


def _oracle_ensemble_dedup() -> str:
    from .similarity import _oracle_embedding_dedup

    return f"""
WITH tp AS ({_oracle_minhash()}),
ep AS ({_oracle_embedding_dedup()})
SELECT COALESCE(tp.doc_a, ep.vec_a) AS doc_a,
       COALESCE(tp.doc_b, ep.vec_b) AS doc_b,
       tp.jaccard AS text_jaccard,
       ep.sim AS cosine_sim,
       (CASE WHEN tp.jaccard IS NULL THEN 0 ELSE 1 END
        + CASE WHEN ep.sim IS NULL THEN 0 ELSE 1 END) AS n_signals
FROM tp FULL OUTER JOIN ep
  ON tp.doc_a = ep.vec_a AND tp.doc_b = ep.vec_b
"""


# ---------------------------------------------------------------------------
# Join-key skew report — the diagnostic behind every salting/capping
# decision: the heaviest shingle keys in the posting table, each with
# its share of all postings and its pair pressure n·(n−1)/2 (the number
# of candidate pairs this single key would inject into a posting
# self-join — the quadratic hot spot q_ngram_jaccard's skew note warns
# about). Run it BEFORE the join at 100 TB: keys above a pressure
# budget get capped (stop-shingle removal) or salted, everything else
# rides AQE's skew-join splitting.
#
# Scale: one explode + one hash aggregate on the key, a 1-row total
# (exact broadcast), and a TakeOrderedAndProject top-K — per-partition
# heaps, no global sort; the rank window runs over K=20 rows, bounded
# by construction.
# ---------------------------------------------------------------------------

SKEW_TOP_K = 20


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = spread(load_table(spark, sf_dir, "documents"))
    post = docs.select(F.explode(shingles(F.col("text"))).alias("shingle"))
    counts = post.groupBy("shingle").agg(F.count("*").alias("n_postings"))
    tot = counts.agg(F.sum("n_postings").alias("n_total"))  # 1 row: exact
    top = counts.orderBy(F.desc("n_postings"), F.asc("shingle")).limit(SKEW_TOP_K)
    w = W.orderBy(F.desc("n_postings"), F.asc("shingle"))  # K rows, bounded
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "shingle",
            "n_postings",
            F.round(F.col("n_postings") / F.col("n_total"), 6).alias("share"),
            (
                F.col("n_postings") * (F.col("n_postings") - 1) / F.lit(2)
            )
            .cast("bigint")
            .alias("pair_pressure"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


ORACLE_KEY_SKEW_REPORT = f"""
WITH post AS (
  SELECT unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
counts AS (SELECT shingle, COUNT(*) AS n_postings FROM post GROUP BY 1),
tot AS (SELECT CAST(SUM(n_postings) AS BIGINT) AS n_total FROM counts),
top AS (
  SELECT shingle, n_postings FROM counts
  ORDER BY n_postings DESC, shingle ASC LIMIT {SKEW_TOP_K}
)
SELECT shingle, n_postings,
       round(n_postings / (SELECT n_total FROM tot), 6) AS share,
       CAST(n_postings * (n_postings - 1) / 2 AS BIGINT) AS pair_pressure,
       CAST(ROW_NUMBER() OVER (ORDER BY n_postings DESC, shingle ASC)
            AS INTEGER) AS rank
FROM top
"""


# ---------------------------------------------------------------------------
# N-gram novelty — per document, the fraction of its shingles that no
# EARLIER document (by doc_id, the ingest order) contains: the marginal-
# information signal behind "stop crawling this source, it has gone
# stale" and dataset-ordering studies (late documents with near-zero
# novelty are pure rehash). A doc's novel-shingle share is computed
# against the global first-seen table, so the whole curve costs one
# aggregate — not a per-doc scan of history.
#
# Scale (round-9 reshape — this was the scale probe's worst ratio, 5.4×
# at 10×): the old plan joined the FULL posting list back to the
# first-seen table on the shingle key, so the wire carried ~3× the
# posting volume (aggregate shuffle + join shuffle + re-shuffle on
# doc_id). Because shingles() is per-doc DISTINCT, "count of postings
# where first_doc = doc_id" equals "count of first-seen rows per
# first_doc" — so novelty needs NO posting-list join at all: two
# map-side-combined aggregates over the (cached) posting explode (per-
# shingle min → per-doc count; per-doc shingle count) and one doc-
# cardinality equi-join between their outputs. Only aggregate partials
# cross the wire; at 100 TB that is the difference between shuffling
# the corpus three times and shuffling per-key partials once.  (The
# cache avoids the double explode locally; a cluster job can equally
# recompute the explode per consumer — both legs stay linear.)
# ---------------------------------------------------------------------------


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    post = cache_tracked(  # two aggregate consumers
        docs.select("doc_id", F.explode(shingles(F.col("text"))).alias("s"))
    )
    per_doc = post.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    novel = (
        post.groupBy("s")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_novel"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")  # doc-cardinality both sides
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias(
                "n_novel"
            ),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)) / F.col("n_shingles"), 6
            ).alias("novelty"),
        )
    )


ORACLE_NGRAM_NOVELTY = f"""
WITH post AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
),
fs AS (SELECT s, MIN(doc_id) AS first_doc FROM post GROUP BY 1)
SELECT p.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN fs.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       round(SUM(CASE WHEN fs.first_doc = p.doc_id THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS novelty
FROM post p JOIN fs USING (s)
GROUP BY p.doc_id
"""


# ---------------------------------------------------------------------------
# MinHash estimator calibration — est-vs-exact Jaccard on the LSH candidate
# pairs: the diagnostic a pipeline runs before trusting signature-only
# dedup at scale (at 100 TB the exact verify join is the expensive leg;
# if the 16-hash estimator tracks exact Jaccard tightly enough, the
# verify can be skipped or subsampled). Reports, per candidate pair, the
# signature-agreement estimate (#equal components / NUM_HASHES — an
# unbiased estimator of Jaccard), the exact shingle-set Jaccard, and the
# absolute error.
#
# Scale: candidates come from the SAME banded equi-join as q_minhash_dedup
# (never all-pairs); the estimate is 16 integer equality checks per pair
# (already-computed signatures), and the exact leg is the usual two
# id-equi-joins — all linear in candidates.
# ---------------------------------------------------------------------------


def q_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    frame = cache_tracked(minhash_frame(docs))
    sh = frame.select("doc_id", "sh")
    sig = signatures_of(frame)
    bands = lsh_bands(sig)
    b1, b2 = bands.alias("b1"), bands.alias("b2")
    candidates = (
        b1.join(
            b2,
            (F.col("b1.band_id") == F.col("b2.band_id"))
            & (F.col("b1.band_key") == F.col("b2.band_key"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{j}").alias(f"a_s{j}") for j in range(NUM_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{j}").alias(f"b_s{j}") for j in range(NUM_HASHES)],
    )
    matches = None
    for j in range(NUM_HASHES):
        m = F.when(F.col(f"a_s{j}") == F.col(f"b_s{j}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    est = matches / F.lit(float(NUM_HASHES))
    exact = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


def _oracle_minhash_estimate_error() -> str:
    match_sql = " + ".join(
        f"(CASE WHEN a.s{j} = b.s{j} THEN 1 ELSE 0 END)" for j in range(NUM_HASHES)
    )
    return f"""
WITH {_minhash_bands_cte()},
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bands b1 JOIN bands b2
    ON b1.band_id = b2.band_id AND b1.band_key = b2.band_key
   AND b1.doc_id < b2.doc_id
),
est AS (
  SELECT cand.doc_a, cand.doc_b,
         ({match_sql}) / {float(NUM_HASHES)} AS est_j
  FROM cand JOIN sig a ON a.doc_id = cand.doc_a
            JOIN sig b ON b.doc_id = cand.doc_b
)
SELECT e.doc_a, e.doc_b,
       round(e.est_j, 6) AS est_jaccard,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(a.sh || b.sh)), 6) AS exact_jaccard,
       round(abs(e.est_j - len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(a.sh || b.sh))), 6) AS abs_err
FROM est e JOIN sh a ON a.doc_id = e.doc_a
           JOIN sh b ON b.doc_id = e.doc_b
"""


# ---------------------------------------------------------------------------
# Paraphrase candidates — the embedding-ONLY near-dup slice: pairs whose
# cosine clears the embedding threshold but that the lexical (MinHash
# Jaccard) path does NOT flag. These are "same meaning, different words"
# — exactly the rows a dedup POLICY treats differently from lexical
# dups (keep for diversity, or collapse for strict dedup) and a
# paraphrase-mining pipeline harvests as training pairs. Enriched with
# both docs' languages: a cross-language paraphrase pair is a
# translation candidate.
#
# Scale: both inputs are banded-LSH pair lists (linear in true
# near-dups); the anti-join and the two lang-dim joins are AQE-decided
# equi-joins (the lang dim is one row per DOCUMENT — corpus-cardinality,
# so no hard broadcast hint, per the hint policy).
# ---------------------------------------------------------------------------


def q_paraphrase_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import q_embedding_dedup

    ep = q_embedding_dedup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.col("sim").alias("cosine_sim"),
    )
    tp = q_minhash_dedup(spark, sf_dir).select("doc_a", "doc_b")
    para = ep.join(tp, ["doc_a", "doc_b"], "left_anti")
    docs = load_table(spark, sf_dir, "documents")
    la = docs.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"))
    lb = docs.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"))
    return (
        para.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "cosine_sim",
            "lang_a",
            "lang_b",
            (F.col("lang_a") == F.col("lang_b")).cast("int").alias("same_lang"),
        )
    )


def _oracle_paraphrase_candidates() -> str:
    from .similarity import _oracle_embedding_dedup

    return f"""
SELECT p.doc_a, p.doc_b, p.cosine_sim,
       da.lang AS lang_a, db.lang AS lang_b,
       CAST(da.lang = db.lang AS INTEGER) AS same_lang
FROM (
  SELECT e.vec_a AS doc_a, e.vec_b AS doc_b, e.sim AS cosine_sim
  FROM ({_oracle_embedding_dedup()}) e
  WHERE NOT EXISTS (
    SELECT 1 FROM ({_oracle_minhash()}) t
    WHERE t.doc_a = e.vec_a AND t.doc_b = e.vec_b
  )
) p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
"""


# ---------------------------------------------------------------------------
# Exact-substring (duplicated span) detection — the window-level exact
# dedup signal from "Deduplicating Training Data Makes Language Models
# Better" (Lee et al., 2021): any SPAN_WINDOW-token window that appears
# verbatim in ≥2 documents marks a duplicated span; a doc's duplicated-
# window fraction tells a pipeline how much of it is copied boilerplate
# even when the *whole* doc is not a near-duplicate. Complements MinHash
# (doc-level, similarity-thresholded) with a token-exact, span-level
# signal. The reference repo has no analogue; this is training-pipeline
# surface beyond it.
#
# Scale design: shingle-style window explode is LINEAR in corpus tokens;
# the duplicate test is one hash-aggregate on the 60-bit window hash
# (count per hash), re-joined to the exploded frame ON THE SAME KEY — the
# aggregate and the join share the whash hash-partitioning, so the plan is
# two co-partitioned exchanges, never pairwise. No broadcast hints
# anywhere: both sides are corpus-cardinality (the suffix-array approach
# in the paper is the single-machine equivalent; at 100 TB the
# hash-aggregate IS the scalable formulation).
# ---------------------------------------------------------------------------

SPAN_WINDOW = 8  # tokens per window; windows this long collide only on
# genuinely copied spans (vocab^8 >> corpus windows)


def span_windows(text: Column, w: int = SPAN_WINDOW) -> Column:
    """Distinct w-token windows of a doc (distinct: within-doc repetition
    is q_repetition_ratio's signal, not cross-doc duplication). Same
    split/sequence/slice contract as :func:`shingles`, wider window."""
    return shingles(text, w)


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span report: docs containing ≥1 window that
    also occurs verbatim in another doc, with the fraction of their
    windows that are duplicated.

    Round-9 reshape (the probe had this at 4.3× at 10×): windows are
    distinct per doc, so count(*) per whash = #docs containing it — and
    a window with global count 1 is OWNED by its min(doc_id).  That
    turns the old posting⋈per-hash join + full re-shuffle on doc_id
    into pure aggregation: dup_windows = n_windows − n_unique, where
    n_unique comes from the per-hash aggregate's count==1 rows grouped
    by their owner.  The posting list is never joined or re-shuffled;
    only map-side-combined aggregate partials cross the wire, and the
    final join is doc-cardinality (same shape as q_ngram_novelty)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    exploded = cache_tracked(  # two aggregate consumers
        docs.select(
            "doc_id", F.explode(span_windows(F.col("text"))).alias("win")
        ).select("doc_id", hash60(F.col("win")).alias("whash"))
    )
    per_doc = exploded.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    uniq = (
        exploded.groupBy("whash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("n_docs") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_unique"))
    )
    dup = F.col("n_windows") - F.coalesce(
        F.col("n_unique"), F.lit(0).cast("bigint")
    )
    return (
        per_doc.join(uniq, "doc_id", "left")  # doc-cardinality both sides
        .select(
            "doc_id",
            "n_windows",
            dup.alias("dup_windows"),
            F.round(dup / F.col("n_windows"), 6).alias("dup_frac"),
        )
        .filter(F.col("dup_windows") > 0)
    )


def q_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-span REMOVAL: the production leg of ``q_substring_dedup``
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", §4 ExactSubstr) — emit the corpus with every duplicated
    SPAN_WINDOW-token window cut out of the text.

    Contract (deterministic, order-free, cross-engine):
    - tokens = single-space split (the :func:`shingles` contract); docs
      shorter than SPAN_WINDOW tokens have no windows and pass through
      verbatim (no partial-window fallback — removal must never fire on
      a window shorter than the evidence threshold);
    - a window is *duplicated* iff its occurrence count across the corpus
      is ≥ 2, counted per POSITION (within-doc repetition counts, unlike
      the distinct-per-doc report in ``q_substring_dedup`` where within-doc
      repeats are q_repetition_ratio's signal);
    - every token covered by ≥1 duplicated window is removed from EVERY
      occurrence.  Lee et al. keep one canonical copy; keeping one
      requires an arbitrary global tie-break on occurrences, so the graded
      transform takes the conservative remove-all contract and documents
      the keep-one variant as a one-line filter on a (doc_id, pos) rank.

    Output is the DELTA REPORT: only docs with ≥1 span cut (an affected
    doc always loses ≥ SPAN_WINDOW tokens).  That is the production
    write shape at 100 TB — the rewrite job touches changed rows only
    and anti-joins the untouched corpus through unchanged — and it makes
    the result cardinality depend on the dedup pipeline itself, so a
    row-count action cannot prune the operator away.

    Scale: the position explode is linear in corpus tokens, the duplicate
    test is one hash-aggregate on the 60-bit window hash re-joined on the
    same key (shared partitioning), the covered-index explode is ≤ w× the
    duplicated windows, and the text rebuild is a per-row JVM higher-order
    function after one doc_id equi-join (AQE-decided, both sides corpus-
    cardinality — no broadcast hints).  No suffix array, no driver state.
    """
    w = SPAN_WINDOW
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    n = F.size("ws")
    # element j of this array is the window starting at 0-based token j
    wins = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda i: F.array_join(F.slice("ws", i + 1, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = docs.select(
        "doc_id", F.posexplode(wins).alias("pos", "win")
    ).select("doc_id", "pos", hash60(F.col("win")).alias("whash"))
    per_hash = occ.groupBy("whash").agg(F.count("*").alias("n_occ"))
    dup_pos = occ.join(per_hash, "whash").filter(F.col("n_occ") >= 2)
    covered = (
        dup_pos.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (w - 1))
            ).alias("ti"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("ti").alias("cov"))
    )
    # array_except is hash-based (O(n + |cov|) per doc, vs O(n·|cov|)
    # for an array_contains filter — matters on long boilerplate-heavy
    # docs), keeps first-array order, and the index sequence is already
    # distinct so the dedup in its contract is a no-op.
    kept_idx = F.array_except(F.sequence(F.lit(0), n - 1), F.col("cov"))
    clean = F.transform(kept_idx, lambda i: F.element_at("ws", i + 1))
    return docs.join(covered, "doc_id").select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        (n - F.size(clean)).cast("bigint").alias("removed_tokens"),
        F.array_join(clean, " ").alias("clean_text"),
    )


def q_substring_keepone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-span removal, KEEP-ONE variant — the literal Lee et al.
    2021 §4 ExactSubstr semantics: for every duplicated SPAN_WINDOW-token
    window, one canonical occurrence survives and every other occurrence
    is cut.  The canonical occurrence is the (doc_id, pos)-minimal one —
    a deterministic global tie-break (the paper leaves the choice free;
    ``q_substring_clean`` documents the remove-all alternative).

    Plan shape: unlike the remove-all variant's aggregate+join pair,
    occurrence count and canonical rank here come from ONE window pass —
    ``count(*) over (partition by whash)`` and ``row_number() over
    (partition by whash order by doc_id, pos)`` share a single whash
    exchange, so duplicate detection costs one shuffle total.  Ordering
    is on exact integers (doc_id, pos), so the rank is deterministic
    across engines and partitionings.  Everything downstream (covered-
    index explode, collect_set, array_except rebuild, delta-report
    inner join — affected docs only, see q_substring_clean) is the
    q_substring_clean machinery unchanged.
    """
    from pyspark.sql import Window

    w = SPAN_WINDOW
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    n = F.size("ws")
    wins = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda i: F.array_join(F.slice("ws", i + 1, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = docs.select(
        "doc_id", F.posexplode(wins).alias("pos", "win")
    ).select("doc_id", "pos", hash60(F.col("win")).alias("whash"))
    by_hash = Window.partitionBy("whash")
    ranked = occ.select(
        "doc_id",
        "pos",
        F.count("*").over(by_hash).alias("n_occ"),
        F.row_number()
        .over(by_hash.orderBy("doc_id", "pos"))
        .alias("rn"),
    )
    cut_pos = ranked.filter((F.col("n_occ") >= 2) & (F.col("rn") > 1))
    covered = (
        cut_pos.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (w - 1))
            ).alias("ti"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("ti").alias("cov"))
    )
    kept_idx = F.array_except(F.sequence(F.lit(0), n - 1), F.col("cov"))
    clean = F.transform(kept_idx, lambda i: F.element_at("ws", i + 1))
    return docs.join(covered, "doc_id").select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        (n - F.size(clean)).cast("bigint").alias("removed_tokens"),
        F.array_join(clean, " ").alias("clean_text"),
    )


def _oracle_substring_keepone() -> str:
    w = SPAN_WINDOW
    whash = _hash60_sql(f"array_to_string(ws[pos+1:pos+{w}], ' ')")
    return f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
px AS (
  SELECT doc_id, ws,
         unnest(range(0, greatest(len(ws) - {w - 1}, 0))) AS pos
  FROM d
),
hx AS (
  SELECT doc_id, pos, {whash} AS whash FROM px
),
rk AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY whash) AS n_occ,
         ROW_NUMBER() OVER (PARTITION BY whash ORDER BY doc_id, pos) AS rn
  FROM hx
),
cv AS (
  SELECT doc_id, list(DISTINCT ti) AS cov
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, {w}), k -> pos + k)) AS ti
    FROM rk WHERE n_occ >= 2 AND rn > 1
  )
  GROUP BY doc_id
),
fin AS (
  SELECT d.doc_id, d.ws,
         list_filter(
           list_transform(
             range(0, len(d.ws)),
             i -> CASE WHEN NOT list_contains(cv.cov, i)
                       THEN d.ws[i+1] END),
           x -> x IS NOT NULL) AS ck
  FROM d JOIN cv USING (doc_id)
)
SELECT doc_id,
       len(ws) AS n_tokens,
       len(ws) - len(ck) AS removed_tokens,
       COALESCE(array_to_string(ck, ' '), '') AS clean_text
FROM fin
"""


def _oracle_substring_clean() -> str:
    w = SPAN_WINDOW
    whash = _hash60_sql(f"array_to_string(ws[pos+1:pos+{w}], ' ')")
    return f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
px AS (
  SELECT doc_id, ws,
         unnest(range(0, greatest(len(ws) - {w - 1}, 0))) AS pos
  FROM d
),
hx AS (
  SELECT doc_id, pos, {whash} AS whash FROM px
),
ph AS (SELECT whash, COUNT(*) AS n_occ FROM hx GROUP BY whash),
dp AS (
  SELECT doc_id, pos FROM hx JOIN ph USING (whash) WHERE n_occ >= 2
),
cv AS (
  SELECT doc_id, list(DISTINCT ti) AS cov
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, {w}), k -> pos + k)) AS ti
    FROM dp
  )
  GROUP BY doc_id
),
fin AS (
  SELECT d.doc_id, d.ws,
         list_filter(
           list_transform(
             range(0, len(d.ws)),
             i -> CASE WHEN NOT list_contains(cv.cov, i)
                       THEN d.ws[i+1] END),
           x -> x IS NOT NULL) AS ck
  FROM d JOIN cv USING (doc_id)
)
SELECT doc_id,
       len(ws) AS n_tokens,
       len(ws) - len(ck) AS removed_tokens,
       COALESCE(array_to_string(ck, ' '), '') AS clean_text
FROM fin
"""


def _oracle_substring_dedup() -> str:
    w = SPAN_WINDOW
    return f"""
WITH wn AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(0, greatest(len(string_split(text, ' ')) - {w - 1}, 1)),
    i -> array_to_string((string_split(text, ' '))[i+1:i+{w}], ' ')))) AS win
  FROM documents
),
hx AS (
  SELECT doc_id, {_hash60_sql("win")} AS whash FROM wn
),
ph AS (SELECT whash, COUNT(*) AS n_docs FROM hx GROUP BY whash),
pd AS (
  SELECT hx.doc_id, COUNT(*) AS n_windows,
         CAST(SUM(CASE WHEN ph.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_windows
  FROM hx JOIN ph USING (whash) GROUP BY hx.doc_id
)
SELECT doc_id, n_windows, dup_windows,
       round(dup_windows / n_windows, 6) AS dup_frac
FROM pd WHERE dup_windows > 0
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
# MOSS algorithm): slide a window of WINNOW_W consecutive k-gram hashes
# over each document and keep the window minimum (rightmost on ties).
# Guarantee: any shared run of at least WINNOW_K + WINNOW_W - 1 tokens
# produces at least one shared selected fingerprint, while only ~2/(W+1)
# of all k-grams are kept — position-robust local fingerprinting that
# whole-doc hashing (q_doc_fingerprint) and set-shingling
# (q_ngram_jaccard) cannot give: it localizes WHERE the copied material
# sits and survives insertions between copied blocks.
#
# The selection is computed entirely with array higher-order functions in
# ONE codegen'd projection — no explode-then-window, no shuffle until the
# cross-doc join. The argmin-with-rightmost-tie is encoded as a plain
# string min over composite keys `hex15(hash) || zero-padded(POS_CAP -
# pos)`: fixed-width hex compares numerically, and on equal hashes the
# smaller (POS_CAP - pos) suffix, i.e. the RIGHTMOST position, wins —
# the same trick both engines evaluate byte-identically. Docs longer
# than _WINNOW_POS_CAP tokens would overflow the position field; chunk
# upstream (the corpus contract is bounded-length documents).
#
# Like MOSS, fingerprints shared by more than WINNOW_MAX_DF documents
# are dropped before pairing (ubiquitous/boilerplate k-grams carry no
# copy signal) — which is also exactly the guard that keeps the
# fingerprint self-join from going quadratic on hot keys at 100 TB: the
# join fan-out per fingerprint is capped at WINNOW_MAX_DF², and the cap
# filter is one hash aggregate on the SAME key as the join (shared
# partitioning, exchange reuse).
# ---------------------------------------------------------------------------

WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 4  # k-gram hashes per winnowing window (guarantee t = 7 tokens)
WINNOW_MAX_DF = 50  # MOSS common-fingerprint drop threshold
WINNOW_MIN_SHARED = 2  # report pairs sharing at least this many prints
_WINNOW_POS_CAP = 1_000_000


def _winnow_keys(text: Column) -> Column:
    """Stage 1: per-position composite keys hex15(md5(k-gram)) ||
    zero-padded(POS_CAP - pos)."""
    ws = F.split(text, " ")
    n = F.size(ws)
    m = F.greatest(n - (WINNOW_K - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), m),
        lambda j: F.concat(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice(ws, j, WINNOW_K))), 1, 15
            ),
            F.lpad((F.lit(_WINNOW_POS_CAP) - j).cast("string"), 7, "0"),
        ),
    )


def winnow_fingerprint_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) rows of distinct winnowed fingerprints per document.

    The key array MUST be materialized in its own projection before the
    window-min transform: inlined, Catalyst re-evaluates the whole
    key-construction expression inside the outer transform's lambda —
    once PER WINDOW POSITION — turning the O(m) construction into
    O(m²) md5 calls per document (measured 24 s → 2.4 s at sf0.01).
    Referencing `keys` twice in the consumer (size + slice) keeps
    CollapseProject from folding the boundary away; the contract is
    pinned by tests/test_plans.py::test_winnow_projection_boundary."""
    keyed = docs.select("doc_id", _winnow_keys(F.col("text")).alias("keys"))
    m = F.greatest(F.size(F.col("keys")) - (WINNOW_W - 1), F.lit(1))
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.substring(
                F.array_min(F.slice(F.col("keys"), i, WINNOW_W)), 1, 15
            ),
        )
    )
    return keyed.select("doc_id", F.explode(sel).alias("fp"))


def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document copy report: pairs of docs sharing >=
    WINNOW_MIN_SHARED winnowed fingerprints (common-fingerprint cap
    applied), with each side's fingerprint count and the overlap
    coefficient shared / min(|A|, |B|)."""
    from ..plans.session import cache_tracked, spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    fp = winnow_fingerprint_rows(docs)
    df_ok = (
        fp.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("fp")
    )
    kept = cache_tracked(fp.join(df_ok, "fp"))
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    pairs = (
        kept.alias("a")
        .join(kept.alias("b"), "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= WINNOW_MIN_SHARED)
    )
    size_a = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a")
    )
    size_b = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b")
    )
    return (
        pairs.join(size_a, "doc_a")
        .join(size_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "n_fp_a",
            "n_fp_b",
            F.round(
                F.col("shared") / F.least("n_fp_a", "n_fp_b"), 6
            ).alias("overlap"),
        )
    )


# DuckDB twin of :func:`winnow_fingerprint_rows` as a reusable CTE chain
# (shared by the graded oracle and the three-way differential test).
_WINNOW_SEL_CTES = f"""base AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         greatest(len(string_split(text, ' ')) - {WINNOW_K - 1}, 1) AS m
  FROM documents
),
keyed AS (
  SELECT doc_id, m,
         list_transform(range(1, m + 1), j ->
           substr(md5(array_to_string(ws[j:j+{WINNOW_K - 1}], ' ')), 1, 15) ||
           lpad(({_WINNOW_POS_CAP} - j)::VARCHAR, 7, '0')) AS ks
  FROM base
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(m - {WINNOW_W - 1}, 1) + 1),
           i -> substr(list_min(ks[i:i+{WINNOW_W - 1}]), 1, 15))) AS fps
  FROM keyed
)"""


def _oracle_winnow_matches() -> str:
    return f"""
WITH {_WINNOW_SEL_CTES},
fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
df_ok AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {WINNOW_MAX_DF}),
kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN df_ok USING (fp)),
sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM kept GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM kept a JOIN kept b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b, p.shared, sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
       round(p.shared::DOUBLE / least(sa.n_fp, sb.n_fp), 6) AS overlap
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


QUERIES = {
    "q_exact_dedup": q_exact_dedup,
    "q_url_dedup": q_url_dedup,
    "q_decontaminate": q_decontaminate,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_dedup_threshold_sweep": q_dedup_threshold_sweep,
    "q_minhash_dedup": q_minhash_dedup,
    "q_simhash": q_simhash,
    "q_simhash_pairs": q_simhash_pairs,
    "q_cross_source_dupes": q_cross_source_dupes,
    "q_diversity_sample": q_diversity_sample,
    "q_incremental_dedup": q_incremental_dedup,
    "q_ensemble_dedup": q_ensemble_dedup,
    "q_substring_dedup": q_substring_dedup,
    "q_substring_clean": q_substring_clean,
    "q_substring_keepone": q_substring_keepone,
    "q_minhash_estimate_error": q_minhash_estimate_error,
    "q_lsh_pair_audit": q_lsh_pair_audit,
    "q_paraphrase_candidates": q_paraphrase_candidates,
    "q_key_skew_report": q_key_skew_report,
    "q_ngram_novelty": q_ngram_novelty,
    "q_winnow_matches": q_winnow_matches,
}

ORACLES = {
    "q_exact_dedup": ORACLE_EXACT_DEDUP,
    "q_url_dedup": _oracle_url_dedup(),
    "q_decontaminate": ORACLE_DECONTAMINATE,
    "q_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "q_dedup_threshold_sweep": _oracle_dedup_threshold_sweep(),
    "q_minhash_dedup": _oracle_minhash(),
    "q_simhash": _oracle_simhash(),
    "q_simhash_pairs": _oracle_simhash_pairs(),
    "q_cross_source_dupes": _oracle_cross_source_dupes(),
    "q_diversity_sample": _oracle_diversity_sample(),
    "q_incremental_dedup": _oracle_incremental_dedup(),
    "q_ensemble_dedup": _oracle_ensemble_dedup(),
    "q_substring_dedup": _oracle_substring_dedup(),
    "q_substring_clean": _oracle_substring_clean(),
    "q_substring_keepone": _oracle_substring_keepone(),
    "q_minhash_estimate_error": _oracle_minhash_estimate_error(),
    "q_lsh_pair_audit": _oracle_lsh_pair_audit(),
    "q_paraphrase_candidates": _oracle_paraphrase_candidates(),
    "q_key_skew_report": ORACLE_KEY_SKEW_REPORT,
    "q_ngram_novelty": ORACLE_NGRAM_NOVELTY,
    "q_winnow_matches": _oracle_winnow_matches(),
}
