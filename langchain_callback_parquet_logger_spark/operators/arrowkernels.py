"""Arrow-vectorized NumPy kernels for the fixed-matrix float work on the
embedding paths (LSH band signatures, PQ codeword assignment) and for the
MinHash front end of text dedup (shingle sets and signatures).

Why these exist: Spark evaluates higher-order array functions
(``zip_with`` + ``aggregate``) as interpreted CodegenFallback
expressions.  A band-signature projection is ``n_planes`` such folds per
row (32/64/96 dot products of 64 terms each) and the PQ assignment is 64
folds per row — measured at sf1 (500k vectors, wide family) the
interpreted projection alone costs ~165 s while the identical arithmetic
in one NumPy pass costs ~6.5 s (25x; probe committed in
OPTIMIZATION_r13.md).  The round-12 attempt to fix this inside codegen
(flat per-index expansion) failed for a different reason — the generated
method blew HotSpot's 8 KB JIT limit (DOTKERNEL_AB_r13.json) — so the
fix that actually works is the optimization guide's §4.2 shape: let
Spark do distribution and shuffles, hand each Arrow batch to vectorized
NumPy.

BIT-IDENTITY CONTRACT (what makes this safe against the DuckDB oracle):
every accumulation below is PER-DIMENSION SEQUENTIAL, exactly the
left-to-right fold the Catalyst expressions and DuckDB's
``list_dot_product`` perform:

    acc = 0.0; for d in range(D): acc += x[d] * y[d]

vectorized across rows (``acc += X[:, d] * P[d]``) — the per-element
operation sequence in IEEE double is identical to
``aggregate(zip_with(a, b, (x, y) -> x*y), 0.0D, (acc, x) -> acc + x)``,
so signs, norms, distances and argmins are bit-identical to the fold
(verified 0 mismatches over 500k vectors x 64 planes, and pinned by
tests/test_arrowkernels.py).  ``np.dot``/BLAS matmul would NOT satisfy
this (pairwise/SIMD-blocked summation reorders the adds); do not
"optimize" the d-loop into one.

Layout: each public ``*_frame`` / ``*_sims`` / ``*_scores`` /
``*_candidates`` function only decodes Arrow batches, calls one private
NumPy core and encodes the result.  The cores are ``_band_signatures``,
``_pq_assign``, ``_centroid_assign``, ``_cluster_pairs``,
``_pair_cosines`` (shared by both band re-rank arms, with one batch
encoder ``_pair_batch``), ``_probe_topk`` and ``_minhash``.  The float
cores are built on two
fold primitives: ``_row_dots`` (row-wise dots over a column prefix: norms,
``|c|^2``, pair and prefix dots) and the panel pair ``_fold_dot_panel`` /
``_seq_dot_panel`` (block x matrix dots).  PQ's ``(x - c)^2`` distance
fold is the only other accumulation loop.  ``_minhash`` is integer-only:
md5 per distinct shingle, affine hashes mod 2^31 - 1 and a per-doc
``np.minimum.reduceat``, so it is exact by construction rather than by
fold order.  tests/test_kernel_cores.py proves every core against a
scalar Python reference without a JVM.

The embedding column crosses the boundary as Arrow — float32 storage is
widened to float64 in NumPy (exact, same as Spark's array<double> cast)
and passed back through, so downstream re-rank folds see the identical
doubles they read from parquet.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _rows_f64(
    col: pa.Array | pa.ChunkedArray, d: int | None, what: str
) -> np.ndarray:
    """List-of-float column -> (n, d) float64 matrix, enforcing the fixed
    width loudly (the band/PQ planes are d-wide literal matrices; a ragged
    or mismatched embedding must fail, not truncate — advice r12#1).
    ``d=None`` takes the width of the first row."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError(f"{what}: embedding column contains nulls")
    flat = col.flatten()
    n = len(col)
    d = len(col[0]) if d is None else d
    if len(flat) != n * d:
        raise ValueError(
            f"{what}: expected fixed width {d}, got {len(flat)} values for "
            f"{n} rows (ragged or mismatched embedding dimension)"
        )
    return np.asarray(flat).astype(np.float64, copy=False).reshape(n, d)


def _list_array(mat: np.ndarray, arrow_type: pa.DataType) -> pa.ListArray:
    """(n, w) matrix -> Arrow list column without a per-row Python loop."""
    n, w = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * w, w, dtype=np.int32))
    return pa.ListArray.from_arrays(
        offsets, pa.array(np.ascontiguousarray(mat).ravel(), type=arrow_type)
    )


def _nonempty(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The batches with at least one row."""
    return (b for b in batches if b.num_rows)


def _id_column(df: DataFrame, emb_col: str) -> tuple[str, str]:
    """The one pass-through id column beside ``emb_col``: (name, DDL type)."""
    others = [c for c in df.columns if c != emb_col]
    if len(others) != 1:
        raise ValueError(f"expected one id column beside {emb_col!r}: {df.columns}")
    return others[0], df.schema[others[0]].dataType.simpleString()


def _row_dots(A: np.ndarray, B: np.ndarray, d: int | None = None) -> np.ndarray:
    """Row-wise dots over the first ``d`` columns (all by default): the
    sequential per-dim fold, vectorized across rows."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1] if d is None else d):  # sequential (bit contract)
        acc += A[:, i] * B[:, i]
    return acc


def _fold_dot_panel(P: np.ndarray, MTc: np.ndarray) -> np.ndarray:
    """(b, d) x (d, c) -> (b, c) dot panel via the explicit sequential
    per-dim fold — the module bit contract, spelled out."""
    acc = np.zeros((P.shape[0], MTc.shape[1]), dtype=np.float64)
    for i in range(P.shape[1]):  # sequential per-dim fold (bit contract)
        acc += P[:, i, None] * MTc[i][None, :]
    return acc


_EINSUM_SEQ_OK: bool | None = None


def _einsum_is_fold() -> bool:
    """Whether ``einsum('pd,dn->pn')`` gives the fold's bits on this NumPy
    build, checked at d = 64 (the embedding width) on the panel shapes
    the kernels feed it: blocks of 1, 7, 64 and 300 rows; column views
    into a wider matrix, as the probe's chunks are, among them chunk
    tails of 1 and 1023 columns; and a whole C-contiguous plane matrix,
    as the band signatures use."""
    rng = np.random.default_rng(0xC0FFEE)
    wide = np.ascontiguousarray(rng.standard_normal((64, 1500)))
    planes = np.ascontiguousarray(rng.standard_normal((64, 32)))
    for rows, MTc in (
        (1, wide[:, 3:1003]),
        (7, wide[:, 1499:]),
        (64, wide[:, 257:1280]),
        (300, planes),
    ):
        P = rng.standard_normal((rows, 64))
        got = np.einsum("pd,dn->pn", P, MTc, optimize=False)
        if not (got.view(np.int64) == _fold_dot_panel(P, MTc).view(np.int64)).all():
            return False
    return True


def _seq_dot_panel(P: np.ndarray, MTc: np.ndarray) -> np.ndarray:
    """The fold panel, computed by ``einsum('pd,dn->pn')`` when safe.

    With the summed dimension as the OUTER (non-contiguous) axis of the
    second operand, NumPy's unoptimized einsum path accumulates over d
    sequentially per output element — the exact fold order, measured
    bit-identical on 3.2e10 random doubles and 4.1x faster than the
    per-dim loop at the sf1 shape (fused multiply-add instead of three
    2 MB array touches per dim).  That is an implementation detail of
    this NumPy build, NOT an API guarantee (the 'nd,nd->n' form, where
    the reduction IS the contiguous inner axis, takes an unrolled
    multi-accumulator path and is NOT bit-identical) — so the first
    call in each worker process PROVES the property on the production
    panel shapes (:func:`_einsum_is_fold`) and the kernel falls back to
    the explicit fold if the build ever changes.
    tests/test_kernel_cores.py proves both arms per shape class, and the
    Spark-level pins in tests/test_arrowkernels.py stay the end-to-end
    guarantee either way."""
    global _EINSUM_SEQ_OK
    if _EINSUM_SEQ_OK is None:
        _EINSUM_SEQ_OK = _einsum_is_fold()
    if (
        _EINSUM_SEQ_OK
        # the property is proven for THIS operand layout only: output
        # axis contiguous inner, summed d axis outer — any other stride
        # pattern (e.g. an F-order operand, where d is the inner axis
        # and einsum may take the unrolled path) uses the explicit fold
        and MTc.strides[1] == MTc.itemsize
        and MTc.strides[0] >= MTc.strides[1]
        and P.flags.c_contiguous
    ):
        return np.einsum("pd,dn->pn", P, MTc, optimize=False)
    return _fold_dot_panel(P, MTc)


def _band_signatures(
    X: np.ndarray, P: np.ndarray, n_bands: int
) -> tuple[np.ndarray, np.ndarray]:
    """(n, d) rows x C-contiguous (d, n_planes) planes -> (norms, (n,
    n_bands) int32 band values packing each band's sign bits MSB-first)."""
    n, band_bits = X.shape[0], P.shape[1] // n_bands
    weights = np.array(
        [1 << (band_bits - 1 - j) for j in range(band_bits)], dtype=np.int64
    )
    bits = (_seq_dot_panel(X, P) >= 0).astype(np.int64)
    bands = bits.reshape(n, n_bands, band_bits) @ weights  # exact ints
    return np.sqrt(_row_dots(X, X)), bands.astype(np.int32)


def band_signature_frame(
    df: DataFrame,
    planes: list[list[float]],
    n_bands: int,
    emb_col: str = "embedding",
) -> DataFrame:
    """(id, embedding) -> (id, emb array<double>, nrm double,
    bands array<int>): the hyperplane-LSH signature projection plus the
    hoisted per-row norm, in one Arrow pass.

    ``df`` must have exactly two columns: one id column (any name/type,
    passed through untouched) and ``emb_col``.  ``bands[k]`` packs the
    sign bits of planes ``k*band_bits .. (k+1)*band_bits-1`` MSB-first —
    the exact integer ``_band_cols`` builds, over bit-identical dot
    products (module docstring).  Consumers posexplode ``bands`` in the
    JVM so the vector payload crosses the Python boundary once per row,
    not once per band row."""
    id_col, id_type = _id_column(df, emb_col)
    # C-contiguous (d, n_planes): the d axis must be the OUTER stride so
    # _seq_dot_panel's verified einsum layout applies (see its docstring)
    P = np.ascontiguousarray(np.array(planes, dtype=np.float64).T)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in _nonempty(batches):
            X = _rows_f64(batch.column(emb_col), P.shape[0], "band_signature_frame")
            nrm, bands = _band_signatures(X, P, n_bands)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(id_col),
                    _list_array(X, pa.float64()),
                    pa.array(nrm),
                    _list_array(bands, pa.int32()),
                ],
                names=[id_col, "emb", "nrm", "bands"],
            )

    return df.mapInArrow(
        kernel,
        f"{id_col} {id_type}, emb array<double>, nrm double, bands array<int>",
    )


def _pq_assign(X: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n, d) rows x (subspaces, codewords, subdim) codebook -> (err, code
    strings); see :func:`pq_assign_frame`."""
    n_sub, n_codes, subdim = C.shape
    err = None
    code_cols = []
    for s in range(n_sub):
        sub = X[:, s * subdim : (s + 1) * subdim]
        dist = np.zeros((X.shape[0], n_codes), dtype=np.float64)
        for i in range(subdim):  # sequential per-dim fold (bit contract)
            diff = sub[:, i, None] - C[s, :, i]
            dist += diff * diff
        sub_err = dist.min(axis=1)
        code_cols.append(dist.argmin(axis=1))  # first min = lowest c
        err = sub_err if err is None else err + sub_err  # left-assoc
    # Unicode width sized from the codebook: astype("U2") would
    # silently truncate codeword indices >= 100 (advice r13 #3);
    # with PQ_CODEWORDS=16 this is width 2 today, but a grown
    # codebook must widen the strings, never corrupt them.
    uw = f"U{len(str(n_codes - 1))}"
    code = code_cols[0].astype(uw)
    for c in code_cols[1:]:
        code = np.char.add(np.char.add(code, ","), c.astype(uw))
    return err, code


def pq_assign_frame(
    df: DataFrame,
    codebook: list[list[list[float]]],
    emb_col: str = "embedding",
) -> DataFrame:
    """(key, embedding) -> (key, err double, code string): per-subspace
    nearest-codeword assignment for product quantization, one Arrow pass
    instead of subspaces x codewords interpreted distance folds per row.

    Distances are the sequential fold ``acc += (x_d - c_d)^2`` (bit
    contract in the module docstring); per subspace the error is the min
    over codewords and the code the FIRST index attaining it (np.argmin
    = ties to the smallest index, the ``min(struct(dist, c))`` /
    ``list_position`` tie-break both engines use); the total err is the
    left-associated sum over subspaces in order."""
    key_col, key_type = _id_column(df, emb_col)
    C = np.array(codebook, dtype=np.float64)  # (subspaces, codewords, subdim)
    d = C.shape[0] * C.shape[2]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in _nonempty(batches):
            X = _rows_f64(batch.column(emb_col), d, "pq_assign_frame")
            err, code = _pq_assign(X, C)
            yield pa.RecordBatch.from_arrays(
                [batch.column(key_col), pa.array(err), pa.array(code.tolist())],
                names=[key_col, "err", "code"],
            )

    return df.mapInArrow(kernel, f"{key_col} {key_type}, err double, code string")


def _centroid_assign(
    X: np.ndarray,
    cids: np.ndarray,
    M: np.ndarray,
    c_sq: np.ndarray,
    with_norm: bool = False,
) -> tuple[np.ndarray, np.ndarray | None]:
    """(n, d) rows x ascending ``cids`` with their C-contiguous (d, K)
    centroid matrix and ``|c|^2`` -> (nearest cid per row, row norms if
    ``with_norm``); see :func:`centroid_assign_frame`."""
    score = c_sq - 2.0 * _seq_dot_panel(X, M)
    best = cids[np.argmin(score, axis=1)]  # ties -> lowest cid
    return best, np.sqrt(_row_dots(X, X)) if with_norm else None


def centroid_assign_frame(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    emb_col: str = "emb",
    keep_emb: bool = False,
    with_norm: bool = False,
) -> DataFrame:
    """(vec_id, emb) -> (vec_id[, emb], cid): nearest-centroid assignment
    against a COLLECTED centroid list — the k-means assign step with the
    scored cross join moved into one Arrow pass.

    The score is ``|c|^2 - 2*dot(x, c)`` with both dot products as the
    sequential per-dim fold (bit contract above), and the argmin is the
    lexicographic ``min(struct(score, cid))``: NumPy evaluates centroids
    in ascending-cid order, so ``argmin`` ties break to the lowest cid —
    identical to the aggregate form in ``kmeans_assign`` and the
    oracle's ``ROW_NUMBER OVER (ORDER BY score, cid)``.  Collecting the
    centroid frame is the same boundedness class as the broadcast it
    replaces (K rows, K always broadcast-sized by design)."""
    id_col, id_type = _id_column(df, emb_col)
    cents = sorted(centroids)  # ascending cid -> argmin ties to lowest cid
    cids = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64)
    # C-contiguous (d, K): d as the OUTER stride, the layout
    # _seq_dot_panel's verified einsum path requires (see its docstring)
    M = np.ascontiguousarray(C.T)
    c_sq = _row_dots(C, C)  # |c|^2 hoisted per centroid

    out_cols = [f"{id_col} {id_type}"]
    if keep_emb:
        out_cols.append("emb array<double>")
    out_cols.append("cid bigint")
    if with_norm:
        out_cols.append("nrm double")
    names = [c.split(" ")[0] for c in out_cols]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in _nonempty(batches):
            X = _rows_f64(batch.column(emb_col), M.shape[0], "centroid_assign_frame")
            best, nrm = _centroid_assign(X, cids, M, c_sq, with_norm)
            arrays = [batch.column(id_col)]
            if keep_emb:
                arrays.append(_list_array(X, pa.float64()))
            arrays.append(pa.array(best))
            if with_norm:
                arrays.append(pa.array(nrm))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(kernel, ", ".join(out_cols))


# Per-block temp budget for the pairwise-dot slabs: one (block, m) float64
# accumulator stays under ~64 MB regardless of cluster size, so a skewed
# cluster bounds worker memory instead of allocating an m x m Gram matrix
# plus two m^2/2 triu index arrays (advice r13 #2 — a ~100k-row cluster
# would otherwise OOM the Python worker where the old equi-self-join
# merely spilled).
_PAIR_BLOCK_BYTES = 64 * 1024 * 1024


def _cluster_pairs(
    ids: np.ndarray, X: np.ndarray, nrm: np.ndarray, loose_min: float | None
) -> tuple[np.ndarray, np.ndarray]:
    """One cluster's rows -> (higher vec_id, raw cosine) per unordered
    pair at or above ``loose_min``; see :func:`cluster_pair_sims`."""
    order = np.argsort(ids, kind="stable")
    ids, X, nrm = ids[order], X[order], nrm[order]
    m = len(ids)
    block = max(1, _PAIR_BLOCK_BYTES // (8 * max(m, 1)))
    out_hi = [np.empty(0, np.int64)]
    out_sims = [np.empty(0, np.float64)]
    cols = np.arange(m)
    for lo in range(0, m - 1, block):
        hi_row = min(lo + block, m - 1)
        acc = _fold_dot_panel(X[lo:hi_row], X.T)
        # same multiply-then-divide as the JVM expression
        sims_blk = acc / (nrm[lo:hi_row, None] * nrm[None, :])
        keep = cols[None, :] > np.arange(lo, hi_row)[:, None]  # strict upper
        if loose_min is not None:
            keep &= sims_blk >= loose_min
        r, c = np.nonzero(keep)
        out_hi.append(ids[c])  # ascending ids -> col holds the higher id
        out_sims.append(sims_blk[r, c])
    return np.concatenate(out_hi), np.concatenate(out_sims)


def cluster_pair_sims(
    assigned: DataFrame, loose_min: float | None = None
) -> DataFrame:
    """(cid, vec_id, emb, nrm) -> (cid, vec_id, sim_raw): every
    intra-cluster unordered pair, keyed by its HIGHER vec_id, with the
    raw cosine ``dot / (nrm_a * nrm_b)`` — the SemDeDup pairwise stage as
    one Arrow pass per cluster instead of an equi-self-join evaluating an
    interpreted 64-term fold per pair (infeasible at sf1: ~31M pairs).

    Pairs are emitted PER ROW-BLOCK: each slab computes a (block, m) dot
    panel with the sequential per-dim fold, slices its own strict-upper-
    triangle pairs, applies ``loose_min`` and appends — no full m x m
    Gram matrix or m^2-sized index arrays ever exist, so a degenerate
    huge cluster is bounded at ~_PAIR_BLOCK_BYTES of temp (advice r13
    #2).

    Bit identity: dots are the sequential per-dim fold; the divide is the
    same two IEEE ops (nrm_a*nrm_b, then /) the JVM expression performs
    on identical inputs, with the hoisted norms passed IN from the
    assignment kernel.  Rounding and thresholding stay JVM-side (F.round
    is HALF_UP); ``loose_min`` is a strictly-conservative raw-value
    pre-filter (set it >= one rounding ulp below the real threshold) that
    only bounds the rows crossing the boundary, never the result."""

    def fn(tbl: pa.Table) -> pa.Table:
        hi, sims = _cluster_pairs(
            np.asarray(tbl.column("vec_id"), dtype=np.int64),
            _rows_f64(tbl.column("emb"), None, "cluster_pair_sims"),
            np.asarray(tbl.column("nrm"), dtype=np.float64),
            loose_min,
        )
        cid = np.full(len(hi), tbl.column("cid")[0].as_py(), dtype=np.int64)
        return pa.table(
            {"cid": pa.array(cid), "vec_id": pa.array(hi), "sim_raw": pa.array(sims)}
        )

    return assigned.groupBy("cid").applyInArrow(
        fn, "cid bigint, vec_id bigint, sim_raw double"
    )


def _pair_cosines(
    A: np.ndarray,
    B: np.ndarray,
    na: np.ndarray,
    nb: np.ndarray,
    prefixes: tuple[int, ...],
) -> list[np.ndarray]:
    """Row-aligned pairs -> ``[sim, p{prefixes[0]}, ...]`` raw cosines: the
    full dot over the carried norms ``na``/``nb``, then per prefix the
    prefix dot over per-pair prefix norms, each a sequential fold."""
    sims = [_row_dots(A, B) / (na * nb)]
    for p in prefixes:
        npa, npb = np.sqrt(_row_dots(A, A, p)), np.sqrt(_row_dots(B, B, p))
        sims.append(_row_dots(A, B, p) / (npa * npb))
    return sims


def _pair_batch(
    a: np.ndarray,
    b: np.ndarray,
    sims: list[np.ndarray],
    prefixes: tuple[int, ...],
    loose_min: float | None,
) -> pa.RecordBatch:
    """(vec_a, vec_b, sim_raw[, p{n}_raw ...]) batch, keeping the pairs
    whose full-dim sim reaches ``loose_min``."""
    if loose_min is not None:
        keep = sims[0] >= loose_min
        a, b, sims = a[keep], b[keep], [s[keep] for s in sims]
    return pa.RecordBatch.from_arrays(
        [pa.array(v) for v in (a, b, *sims)],
        names=["vec_a", "vec_b", "sim_raw"] + [f"p{p}_raw" for p in prefixes],
    )


def _pair_schema(prefixes: tuple[int, ...]) -> str:
    return "vec_a bigint, vec_b bigint, sim_raw double" + "".join(
        f", p{p}_raw double" for p in prefixes
    )


def pair_score_frame(
    pairs: DataFrame,
    prefixes: tuple[int, ...] = (),
    loose_min: float | None = None,
) -> DataFrame:
    """(vec_a, vec_b, emb_a, nrm_a, emb_b, nrm_b) -> (vec_a, vec_b,
    sim_raw[, p{n}_raw ...]): the band re-rank's per-pair cosines as a
    vectorized Arrow pass over the pair rows instead of one interpreted
    64-term fold per row.  The input is :func:`_lsh_scored_pairs`'s
    bucket-local join output, so this adds NO shuffle — the kernel maps
    over the join's partitions in place.  (A per-bucket applyInArrow was
    measured and rejected: adaptive band width keeps buckets O(1)-sized
    at EVERY corpus size, so that shape is millions of tiny Python group
    calls; scoring across pair rows amortizes the boundary per batch.)

    Bit identity: sim is the sequential per-dim fold over (emb_a, emb_b)
    divided by the carried hoisted norms (same multiply-then-divide);
    each prefix cosine recomputes the per-pair prefix norms with the same
    sequential fold the sliced JVM expression performed.  Rounding /
    fixed-point quantization / distinct stay JVM-side.  ``loose_min``
    is the strictly-conservative raw pre-filter (see cluster_pair_sims)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in _nonempty(batches):
            A = _rows_f64(batch.column("emb_a"), None, "pair_score_frame")
            B = _rows_f64(batch.column("emb_b"), A.shape[1], "pair_score_frame")
            sims = _pair_cosines(
                A,
                B,
                np.asarray(batch.column("nrm_a"), dtype=np.float64),
                np.asarray(batch.column("nrm_b"), dtype=np.float64),
                prefixes,
            )
            a = np.asarray(batch.column("vec_a"), dtype=np.int64)
            b = np.asarray(batch.column("vec_b"), dtype=np.int64)
            yield _pair_batch(a, b, sims, prefixes, loose_min)

    return pairs.select(
        "vec_a", "vec_b", "emb_a", "nrm_a", "emb_b", "nrm_b"
    ).mapInArrow(fn, _pair_schema(prefixes))


def collect_corpus(base: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Driver-side collect of a (vec_id, emb, nrm) frame into the sorted
    (ids, matrix, norms) triple the gather kernels index into.  The
    caller MUST gate on corpus size (similarity gather budget) — this is
    the broadcast-class collect of guide §3.1, only ever legal for a
    corpus that fits one worker."""
    tbl = base.select("vec_id", "emb", "nrm").toArrow()
    ids = np.asarray(tbl.column("vec_id"), dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    M = _rows_f64(tbl.column("emb"), None, "collect_corpus")[order]
    nrm = np.asarray(tbl.column("nrm"), dtype=np.float64)[order]
    return ids[order], M, nrm


def _gather_idx(g_ids: np.ndarray, wanted: np.ndarray, what: str) -> np.ndarray:
    """searchsorted + membership check: an id absent from the corpus must
    raise, never silently gather a neighbouring vector (advice r13 #4)."""
    idx = np.searchsorted(g_ids, wanted)
    safe = np.minimum(idx, len(g_ids) - 1)
    if (idx >= len(g_ids)).any() or not np.array_equal(g_ids[safe], wanted):
        missing = wanted[(idx >= len(g_ids)) | (g_ids[safe] != wanted)]
        raise ValueError(
            f"{what}: {len(missing)} id(s) absent from the corpus matrix "
            f"(first: {missing[:5].tolist()})"
        )
    return idx


def gather_pair_scores(
    candidates: DataFrame,
    bc,
    prefixes: tuple[int, ...] = (),
    loose_min: float | None = None,
) -> DataFrame:
    """(vec_a, vec_b) id pairs -> (vec_a, vec_b, sim_raw[, p{n}_raw ...])
    by GATHERING both vectors from a broadcast corpus matrix — the
    broadcast-side-fits arm of the band re-rank (guide §3.1: broadcast
    the side that fits instead of moving the big side).  Only the 16-byte
    id pair crosses the Python boundary per candidate; the vectors are
    fancy-indexed from one per-worker copy of the corpus.  At sf1 the
    payload-carrying shape ships ~150 GB of pair payload for 139M
    candidates; this ships ~2 GB of ids.  The caller MUST gate on corpus
    size (similarity.gather_max_bytes) — above the gate the bucket-
    local payload shape (:func:`pair_score_frame` over
    ``_lsh_scored_pairs``) remains the scale-safe plan, because a corpus
    that does not fit one worker cannot be broadcast.

    Bit identity: both arms score through the one :func:`_pair_cosines`
    core over the identical doubles (the corpus matrix is collected from
    the same cached kernel frame); both arms are pinned equal by tests,
    so the size gate can never change results.

    ``bc`` is a broadcast of :func:`collect_corpus`'s triple
    (similarity._gather_corpus_bc memoizes one per corpus, so several
    gather consumers never re-collect it)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        g_ids, g_M, g_nrm = bc.value  # one copy per worker process
        for batch in _nonempty(batches):
            a = np.asarray(batch.column("vec_a"), dtype=np.int64)
            b = np.asarray(batch.column("vec_b"), dtype=np.int64)
            ia = _gather_idx(g_ids, a, "gather_pair_scores")
            ib = _gather_idx(g_ids, b, "gather_pair_scores")
            sims = _pair_cosines(g_M[ia], g_M[ib], g_nrm[ia], g_nrm[ib], prefixes)
            yield _pair_batch(a, b, sims, prefixes, loose_min)

    return candidates.select("vec_a", "vec_b").mapInArrow(fn, _pair_schema(prefixes))


_PROBE_CHUNK_COLS = 16384  # (block x chunk) f64 acc panel, cache-resident


def _probe_topk(
    ip: np.ndarray, M: np.ndarray, nrm: np.ndarray, k: int, quantum: float
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Probe rows ``ip`` of the corpus ``M`` -> per probe block, the
    (probe position in ``ip``, corpus row, raw sim) triples that can reach
    the quantized top-``k``; see :func:`probe_topk_candidates`.  Each
    block's (block, n) panel stays under ~_PAIR_BLOCK_BYTES at any n."""
    n = M.shape[0]
    MT = _transposed(M)
    block = max(1, _PAIR_BLOCK_BYTES // (8 * max(n, 1)))
    for lo in range(0, len(ip), block):
        rows = ip[lo : lo + block]
        P = M[rows]
        sims = np.empty((len(rows), n), dtype=np.float64)
        for c0 in range(0, n, _PROBE_CHUNK_COLS):
            c1 = min(c0 + _PROBE_CHUNK_COLS, n)
            sims[:, c0:c1] = _seq_dot_panel(P, MT[:, c0:c1])
        # same multiply-then-divide as the JVM expression
        sims /= nrm[rows, None] * nrm[None, :]
        sims[np.arange(len(rows)), rows] = -np.inf  # probe_id != nb_id
        if n - 1 > k:
            kth = np.partition(sims, n - k, axis=1)[:, n - k]
            keep = sims >= (kth[:, None] - 2.0 * quantum)
        else:
            keep = np.isfinite(sims)
        r, c = np.nonzero(keep)
        yield lo + r, c, sims[r, c]


def probe_topk_candidates(
    probes: DataFrame,
    bc,
    k: int,
    quantum: float = 1e-6,
) -> DataFrame:
    """(probe_id) -> (probe_id, nb_id, sim_raw): for each probe, the
    corpus rows that can possibly reach its quantized top-``k`` — the
    exact leg of the ANN recall audit as one Arrow pass against the
    broadcast corpus matrix instead of a probes x corpus join evaluating
    an interpreted 64-term fold per pair (the last such fold in the
    embedding family; 1.25e10 pairs at sf1).  ``bc`` is a broadcast of
    :func:`collect_corpus`'s triple; the caller MUST gate on corpus size
    (the same similarity gather budget as :func:`gather_pair_scores`).

    Superset contract (what keeps the JVM-side result identical): the
    downstream ranking is ``row_number() OVER (ORDER BY round(sim*1e6)
    DESC, nb_id ASC) <= k`` over raw sims that are bit-identical to the
    fold's (sequential per-dim accumulation + multiply-then-divide, the
    module contract).  The kernel emits every row with
    ``sim_raw >= kth_largest_raw - 2*quantum``.  Any emitted-set
    complement row r has raw < kth - 2e-6, so for each of the >= k rows
    with raw >= kth the scaled gap exceeds 2 - fp_slop > 1 quantum and
    monotone HALF_UP quantization makes their sim_q STRICTLY greater
    than r's — r can never rank <= k.  The JVM then applies the exact
    quantize + window over the superset, so the final top-k rows are
    byte-identical to the full cross-product plan's.

    Probe rows are blocked so the (block, n) score panel stays under
    ~_PAIR_BLOCK_BYTES (down to one probe row per block), and the d-loop
    runs over CORPUS CHUNKS of a transposed copy of the matrix: the naive
    ``acc += P[:,i,None] * M[None,:,i]`` walks a stride-512B column of
    the row-major corpus 64 times per slab (measured: one sf1 partition
    ~10+ min, pure memory stalls), while a (d, n) layout makes every
    per-dim read contiguous and a ~2 MB acc chunk stays cache-resident
    across the 64 dims — same per-element accumulation ORDER, so the bit
    contract is untouched.  Each chunk is evaluated by
    :func:`_seq_dot_panel` (fused ``einsum`` when this NumPy build's
    sequential path is verified, explicit per-dim fold otherwise —
    measured 4.1x on the sf1 shape, identical bits).  Self-pairs (probe
    scoring itself) are excluded exactly like the plan's
    ``probe_id != nb_id`` predicate."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        g_ids, g_M, g_nrm = bc.value  # one copy per worker process
        for batch in _nonempty(batches):
            p = np.asarray(batch.column(0), dtype=np.int64)
            ip = _gather_idx(g_ids, p, "probe_topk_candidates")
            for r, c, sims in _probe_topk(ip, g_M, g_nrm, k, quantum):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(p[r]), pa.array(g_ids[c]), pa.array(sims)],
                    names=["probe_id", "nb_id", "sim_raw"],
                )

    return probes.mapInArrow(fn, "probe_id bigint, nb_id bigint, sim_raw double")


# per-worker (matrix, transpose) entry for probe_topk_candidates: the
# broadcast value is registry-cached across tasks, so one worker process
# transposes each corpus once.  The entry holds the matrix itself, so its
# id cannot be recycled by a new corpus while the entry lives.
_MT_ENTRY: tuple[np.ndarray, np.ndarray] | None = None


def _transposed(M: np.ndarray) -> np.ndarray:
    """Contiguous ``M.T``, reused while ``M`` is the same object."""
    global _MT_ENTRY
    if _MT_ENTRY is None or _MT_ENTRY[0] is not M:
        _MT_ENTRY = (M, np.ascontiguousarray(M.T))
    return _MT_ENTRY[1]


_GRAM_BLOCK = 16384  # shingles per block of Python-level work in _minhash
_MINHASH_BLOCK_BYTES = 4 << 20  # text bytes per _minhash call; a longer doc goes alone


def _minhash(
    data: bytes,
    lo: np.ndarray,
    hi: np.ndarray,
    family: list[tuple[int, int]],
    p: int,
    k: int,
) -> tuple[np.ndarray, list[bytes], np.ndarray]:
    """n >= 1 docs as UTF-8 byte ranges ``data[lo[d]:hi[d]]`` -> (distinct
    shingles per doc, the distinct shingles in doc order, (len(family),
    n) int64 signatures); see :func:`minhash_shingle_frame`.

    A shingle is the byte range from the start of word ``i`` to the end
    of word ``i + min(k, words) - 1``: splitting on ``b" "`` and
    re-joining a window with ``" "`` gives back exactly that range, and a
    space byte never falls inside a multi-byte UTF-8 sequence.  Each doc
    contributes ``max(words - k + 1, 1)`` shingles, so every doc has at
    least one and ``reduceat`` never sees an empty segment.

    Memory budget (:func:`_minhash_budget`), for ``S`` shingles of ``B``
    bytes in all over ``W`` words: ``72*S + B + 24*W + 48*n`` bytes plus
    2 MiB.  The shingles are Python ``bytes`` (41 bytes each plus their
    text) in one list; the word and shingle bounds are int64 arrays; the
    slicing and the md5 digests run over blocks of ``_GRAM_BLOCK``
    shingles, which is the fixed part.  The signature step keeps one
    int64 temp as long as the distinct shingles and folds each family
    member into its output row in turn, never a (shingles x members)
    matrix.  :func:`_minhash_batches` calls this on runs of at most
    ``_MINHASH_BLOCK_BYTES`` text bytes, which bounds ``S``, ``B`` and
    ``W`` by the run rather than by the batch's row count.
    tests/test_kernel_cores.py asserts the traced peak at no more than
    1.5x the budget."""
    n = len(lo)
    buf = np.frombuffer(data, dtype=np.uint8)
    spaces = np.flatnonzero(buf[lo[0] : hi[-1]] == 0x20) + lo[0]
    owner = np.searchsorted(lo, spaces, side="right") - 1
    spaces = spaces[spaces < hi[owner]]  # drop the bytes of null slots
    words = np.searchsorted(spaces, hi) - np.searchsorted(spaces, lo) + 1
    w_start = np.insert(spaces + 1, np.searchsorted(spaces, lo), lo)
    w_end = np.insert(spaces, np.searchsorted(spaces, hi), hi)
    del spaces, owner
    m = np.maximum(words - (k - 1), 1)
    # shingle j of doc d starts at word j + first_word[d] - first_shingle[d]
    first = np.repeat((np.cumsum(words) - words) - (np.cumsum(m) - m), m)
    first += np.arange(len(first))
    starts = w_start[first]
    first += np.repeat(np.minimum(words, k) - 1, m)
    ends = w_end[first]
    del first, w_start, w_end
    grams: list[bytes] = []
    for b in range(0, len(starts), _GRAM_BLOCK):
        blk = zip(starts[b : b + _GRAM_BLOCK].tolist(), ends[b : b + _GRAM_BLOCK].tolist())
        grams += [data[s:e] for s, e in blk]
    del starts, ends, blk
    distinct: list[bytes] = []
    counts = np.empty(n, dtype=np.int64)
    at = 0
    for d, c in enumerate(m.tolist()):
        u = dict.fromkeys(grams[at : at + c])  # first occurrence order
        distinct.extend(u)
        counts[d] = len(u)
        at += c
    del grams
    x = np.empty(len(distinct), dtype=np.int64)
    for b in range(0, len(distinct), _GRAM_BLOCK):
        blk = distinct[b : b + _GRAM_BLOCK]
        digests = b"".join([hashlib.md5(g, usedforsecurity=False).digest() for g in blk])
        # hash60: the top 60 bits of each digest's first 8 bytes
        x[b : b + len(blk)] = np.frombuffer(digests, dtype=">u8")[::2] >> np.uint64(4)
    del blk, digests
    x %= p
    seg = np.cumsum(counts) - counts
    sig = np.empty((len(family), n), dtype=np.int64)
    tmp = np.empty_like(x)
    for j, (a, c) in enumerate(family):
        np.multiply(x, a, out=tmp)  # x, a < 2^31: no int64 overflow
        tmp += c
        np.remainder(tmp, p, out=tmp)
        sig[j] = np.minimum.reduceat(tmp, seg)
    return counts, distinct, sig


def _minhash_budget(n: int, words: int, shingles: int, shingle_bytes: int) -> int:
    """The stated peak of :func:`_minhash`, in bytes."""
    return 72 * shingles + shingle_bytes + 24 * words + 48 * n + (2 << 20)


def _offsets(col: pa.Array) -> np.ndarray:
    """The ``len(col) + 1`` value offsets of a string column, as int64."""
    width = np.int64 if pa.types.is_large_string(col.type) else np.int32
    off = np.frombuffer(col.buffers()[1], dtype=width)
    return off[col.offset : col.offset + len(col) + 1].astype(np.int64)


def _text_ranges(col: pa.Array) -> tuple[bytes, np.ndarray, np.ndarray, np.ndarray]:
    """String column -> (data, lo, hi, valid): each row's UTF-8 byte
    range in ``data``, which holds only the column's own rows; a NULL row
    gets an empty range."""
    off = _offsets(col)
    valid = (
        np.ones(len(col), dtype=bool)
        if col.null_count == 0
        else np.asarray(col.is_valid().to_numpy(zero_copy_only=False))
    )
    chars = col.buffers()[2]
    data = b"" if chars is None else chars[off[0] : off[-1]].to_pybytes()
    off -= off[0]
    lo = off[:-1]
    hi = np.where(valid, off[1:], lo)
    return data, lo, hi, valid


def _minhash_arrays(
    col: pa.Array, family: list[tuple[int, int]], p: int, k: int
) -> list[pa.Array]:
    """A non-empty string column -> [sh, s0, ..., s{m-1}]: decode, the
    :func:`_minhash` core, encode; NULL text gets NULL members.  Both
    offset arrays are built as checked int32, so shingles past 2 GiB
    raise instead of wrapping."""
    data, lo, hi, valid = _text_ranges(col)
    counts, distinct, sig = _minhash(data, lo, hi, family, p, k)
    lens = np.fromiter(map(len, distinct), dtype=np.int64, count=len(distinct))
    sh = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(counts)]), pa.int32()),
        pa.StringArray.from_buffers(
            len(distinct),
            pa.array(np.concatenate([[0], np.cumsum(lens)]), pa.int32()).buffers()[1],
            pa.py_buffer(b"".join(distinct)),
        ),
    )
    mask = None if valid.all() else ~valid
    return [sh, *(pa.array(s, type=pa.int64(), mask=mask) for s in sig)]


def _minhash_batches(
    batch: pa.RecordBatch, id_col: str, family: list[tuple[int, int]], p: int, k: int
) -> Iterator[pa.RecordBatch]:
    """A non-empty (id, text) batch -> (id, sh, s0..s{m-1}) batches, one
    per run of whole docs holding at most ``_MINHASH_BLOCK_BYTES`` text
    bytes (a longer doc is a run by itself).  The core's peak and the
    size of each ``sh`` string buffer then follow the run, not the
    batch's row count."""
    text = batch.column("text")
    off = _offsets(text)
    names = [id_col, "sh", *(f"s{j}" for j in range(len(family)))]
    r0 = 0
    while r0 < len(text):
        r1 = int(np.searchsorted(off, off[r0] + _MINHASH_BLOCK_BYTES, side="right")) - 1
        r1 = max(r1, r0 + 1)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(id_col).slice(r0, r1 - r0),
                *_minhash_arrays(text.slice(r0, r1 - r0), family, p, k),
            ],
            names=names,
        )
        r0 = r1


def minhash_shingle_frame(
    df: DataFrame, family: list[tuple[int, int]], p: int, k: int
) -> DataFrame:
    """(id, text) -> (id, sh array<string>, s0..s{m-1} bigint): each
    doc's distinct word k-gram shingles and its MinHash signature, in one
    Arrow pass instead of interpreted ``transform``/``array_min`` folds.

    ``sh`` equals ``dedup.shingles(text)`` element for element: split on
    ``" "``, windows of ``k`` words, the ``greatest(n - k + 1, 1)`` guard,
    de-duplicated in first-occurrence order like ``array_distinct``.
    ``s{j}`` is ``min((a_j * hash60(sh) % p + b_j) % p)`` over the
    distinct shingles, with ``hash60`` the top 60 bits of the first 8
    md5 bytes (the 15 hex digits ``dedup.hash60`` converts).  A NULL text
    gets ``sh = [""]``, as ``shingles(NULL)`` does, and NULL signature
    members."""
    id_col, id_type = _id_column(df, "text")

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in _nonempty(batches):
            yield from _minhash_batches(batch, id_col, family, p, k)

    return df.mapInArrow(
        kernel,
        f"{id_col} {id_type}, sh array<string>, "
        + ", ".join(f"s{j} bigint" for j in range(len(family))),
    )


def exploded_band_rows(base: DataFrame, *payload: str) -> DataFrame:
    """JVM-side explode of a :func:`band_signature_frame` result into
    (id..., payload..., band_idx, band_val) — the duplication to <=4 band
    rows happens after the Python boundary, codegen'd."""
    id_col = base.columns[0]
    return base.select(
        id_col,
        *payload,
        F.posexplode("bands").alias("band_idx", "band_val"),
    )
