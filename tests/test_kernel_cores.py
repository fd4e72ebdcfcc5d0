"""JVM-free property tests for the NumPy cores under the Arrow kernels
(operators/arrowkernels).  Every core is driven against a scalar Python
reference over the shape classes production reaches, and compared on raw
IEEE bits (``view(np.int64)``), not approx-equality.  The reference is the
fold both engines perform::

    acc = 0.0
    for i in range(d):
        acc += x[i] * y[i]

Shape classes: row blocks of 1, 16 and the width derived from
``_PAIR_BLOCK_BYTES``; probe corpus-chunk tails of 1 and ``chunk - 1``;
d = 64 and the Matryoshka prefixes; the four band families; PQ with the
real codebook and with more than 100 codewords; centroid ties.
``_seq_dot_panel`` is proven on both of its arms.  No test here requests
the ``spark`` fixture, so the module runs without a JVM."""

from __future__ import annotations

import math
import tracemalloc

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from langchain_callback_parquet_logger_spark.operators import arrowkernels as K
from langchain_callback_parquet_logger_spark.operators import similarity as S

D = S.EMB_DIM
CHUNK = K._PROBE_CHUNK_COLS
CORES = settings(derandomize=True, max_examples=12, deadline=None)
seeds = st.integers(0, 2**32 - 1)
blocks = st.sampled_from([1, 16, 257])


def _fold(x: list[float], y: list[float], d: int | None = None) -> float:
    acc = 0.0
    for i in range(len(x) if d is None else d):
        acc += x[i] * y[i]
    return acc


def _bits(a) -> np.ndarray:
    return np.asarray(a, dtype=np.float64).view(np.int64)


def _same(got, want) -> bool:
    return bool((_bits(got) == _bits(want)).all())


def _rows(seed: int, n: int, d: int = D, coarse: bool = False) -> np.ndarray:
    """Random rows; ``coarse`` draws from {-1, -0.5, 0, 0.5, 1} so exact
    zeros and ties occur (sign bits at 0, equal scores)."""
    rng = np.random.default_rng(seed)
    if coarse:
        return rng.integers(-2, 3, size=(n, d)) / 2.0
    return rng.standard_normal((n, d))


@pytest.fixture(params=["einsum", "fold"])
def panel_arm(request, monkeypatch):
    """Both ``_seq_dot_panel`` arms: einsum as this NumPy build picks it
    (its runtime check decides), and the explicit fold."""
    if request.param == "fold":
        monkeypatch.setattr(K, "_EINSUM_SEQ_OK", False)
    return request.param


# ----------------------------------------------------------------- folds


@pytest.mark.parametrize("d", [D, *S.MRL_PREFIXES])
@CORES
@given(seed=seeds, n=blocks)
def test_row_dots_matches_scalar_fold(d, seed, n):
    A, B = _rows(seed, n), _rows(seed + 1, n)
    want = [_fold(a, b, d) for a, b in zip(A.tolist(), B.tolist())]
    got = K._row_dots(A, B, None if d == D else d)
    assert _same(got, want)


@pytest.mark.parametrize("block", [1, 16, "budget"])
def test_seq_dot_panel_bit_identical_to_fold(panel_arm, block):
    """Both arms, over row blocks of 1, 16 and the budget-derived width
    for a two-chunk corpus, on full chunks, the chunk tails of 1 and
    ``chunk - 1`` and an offset strided view."""
    n = 2 * CHUNK - 1
    rng = np.random.default_rng(42)
    MT = np.ascontiguousarray(rng.standard_normal((D, n)))
    b = K._PAIR_BLOCK_BYTES // (8 * n) if block == "budget" else block
    P = rng.standard_normal((b, D))
    Pl, MTl = P.tolist(), MT.T
    for sl in (
        slice(0, CHUNK),
        slice(CHUNK, n),  # tail of chunk - 1
        slice(n - 1, n),  # tail of 1
        slice(137, 1137),
    ):
        got = K._seq_dot_panel(P, MT[:, sl])
        assert _same(got, K._fold_dot_panel(P, MT[:, sl])), (b, sl)
        cols = range(sl.start, sl.stop)
        for r, c in zip(rng.integers(0, b, 64), rng.integers(0, len(cols), 64)):
            assert _same(got[r, c], _fold(Pl[r], MTl[cols[c]].tolist())), (r, c)
    if panel_arm == "einsum":
        assert K._EINSUM_SEQ_OK is not None


# ----------------------------------------------------------- band / PQ


@pytest.mark.parametrize(
    "planes, n_bands",
    [
        (S.PLANES, S.LSH_BANDS),
        (S.DEDUP_PLANES, S.DEDUP_LSH_BANDS),
        (S.DEDUP_PLANES_WIDE, S.DEDUP_LSH_BANDS),
        (S.DEDUP_PLANES_XWIDE, S.DEDUP_LSH_BANDS),
    ],
    ids=["knn16", "narrow32", "wide64", "xwide96"],
)
@CORES
@given(seed=seeds, n=st.sampled_from([1, 16]), coarse=st.booleans())
def test_band_signatures_match_scalar_fold(planes, n_bands, seed, n, coarse):
    X = _rows(seed, n, coarse=coarse)
    P = np.ascontiguousarray(np.array(planes, dtype=np.float64).T)
    nrm, bands = K._band_signatures(X, P, n_bands)
    band_bits = len(planes) // n_bands
    for r, x in enumerate(X.tolist()):
        signs = [int(_fold(x, pl) >= 0) for pl in planes]
        want = [
            sum(s << (band_bits - 1 - j) for j, s in enumerate(signs[k:][:band_bits]))
            for k in range(0, len(planes), band_bits)
        ]
        assert bands[r].tolist() == want, r
        assert _same(nrm[r], math.sqrt(_fold(x, x))), r
    assert bands.dtype == np.int32


def _pq_reference(x: list[float], C: list) -> tuple[float, str]:
    err, codes = None, []
    subdim = len(C[0][0])
    for s, book in enumerate(C):
        sub = x[s * subdim : (s + 1) * subdim]
        dists = []
        for cw in book:
            acc = 0.0
            for i in range(subdim):
                acc += (sub[i] - cw[i]) * (sub[i] - cw[i])
            dists.append(acc)
        best = min(dists)
        codes.append(str(dists.index(best)))  # first index at the min
        err = best if err is None else err + best
    return err, ",".join(codes)


@CORES
@given(seed=seeds, n=st.sampled_from([1, 16]), coarse=st.booleans())
def test_pq_assign_real_codebook_matches_scalar_fold(seed, n, coarse):
    X = _rows(seed, n, coarse=coarse)
    err, code = K._pq_assign(X, np.array(S.PQ_CODEBOOK, dtype=np.float64))
    for r, x in enumerate(X.tolist()):
        we, wc = _pq_reference(x, S.PQ_CODEBOOK)
        assert _same(err[r], we) and code[r] == wc, r


@CORES
@given(seed=seeds)
def test_pq_assign_wide_codebook_keeps_three_digit_codes(seed):
    """More than 100 codewords: codes >= 100 must come out whole (the
    Unicode width is sized from the codebook)."""
    rng = np.random.default_rng(seed)
    C = rng.standard_normal((4, 120, D // 4))
    picks = rng.integers(95, 120, size=(16, 4))
    X = np.stack([np.concatenate([C[s, p[s]] for s in range(4)]) for p in picks])
    err, code = K._pq_assign(X, C)
    for r, x in enumerate(X.tolist()):
        we, wc = _pq_reference(x, C.tolist())
        assert _same(err[r], we) and code[r] == wc, r
        assert wc == ",".join(map(str, picks[r]))


# ------------------------------------------------------------ centroids


@CORES
@given(
    seed=seeds,
    n=st.sampled_from([1, 16]),
    coarse=st.booleans(),
    with_norm=st.booleans(),
)
def test_centroid_assign_matches_scalar_fold_ties_to_lowest_cid(
    seed, n, coarse, with_norm
):
    X = _rows(seed, n, coarse=coarse)
    C = _rows(seed + 1, 4, coarse=coarse)
    C = np.concatenate([C, C[:2]])  # duplicate centroids force exact ties
    cids = np.array([2, 5, 9, 11, 30, 40], dtype=np.int64)  # ascending
    c_sq = K._row_dots(C, C)
    best, nrm = K._centroid_assign(
        X, cids, np.ascontiguousarray(C.T), c_sq, with_norm
    )
    Cl = C.tolist()
    for r, x in enumerate(X.tolist()):
        scores = [_fold(c, c) - 2.0 * _fold(x, c) for c in Cl]
        lo = min(scores)
        assert best[r] == cids[scores.index(lo)], r  # first = lowest cid
        if with_norm:
            assert _same(nrm[r], math.sqrt(_fold(x, x))), r
    assert (nrm is None) == (not with_norm)
    assert not np.isin(best, [30, 40]).any()  # ties never pick a duplicate


# ------------------------------------------------------------- pair sims


@CORES
@given(
    seed=seeds,
    m=st.sampled_from([1, 2, 16, 40]),
    block=st.sampled_from([1, 16, None]),
    loose_min=st.sampled_from([None, 0.0]),
)
def test_cluster_pairs_match_scalar_fold(seed, m, block, loose_min):
    """Every unordered pair once, keyed by the higher id, at any block
    width (None: the default budget), on unsorted input ids."""
    rng = np.random.default_rng(seed)
    X = _rows(seed, m)
    ids = rng.permutation(1000)[:m].astype(np.int64)
    nrm = np.sqrt(K._row_dots(X, X))
    old = K._PAIR_BLOCK_BYTES
    try:
        if block is not None:
            K._PAIR_BLOCK_BYTES = 8 * m * block
        hi, sims = K._cluster_pairs(ids, X, nrm, loose_min)
    finally:
        K._PAIR_BLOCK_BYTES = old
    Xl, nl = X.tolist(), nrm.tolist()
    want = []
    for i in range(m):
        for j in range(m):
            if ids[i] < ids[j]:
                s = _fold(Xl[i], Xl[j]) / (nl[i] * nl[j])
                if loose_min is None or s >= loose_min:
                    want.append((int(ids[j]), int(_bits(s))))
    got = sorted(zip(hi.tolist(), _bits(sims).tolist()))
    assert got == sorted(want)
    assert hi.dtype == np.int64 and sims.dtype == np.float64


def _pair_reference(a: list, b: list, na: float, nb: float, prefixes) -> list:
    out = [_fold(a, b) / (na * nb)]
    for p in prefixes:
        npa, npb = math.sqrt(_fold(a, a, p)), math.sqrt(_fold(b, b, p))
        out.append(_fold(a, b, p) / (npa * npb))
    return out


@pytest.mark.parametrize("prefixes", [(), S.MRL_PREFIXES], ids=["full", "mrl"])
@CORES
@given(seed=seeds, n=blocks, loose_min=st.sampled_from([None, 0.0]))
def test_pair_cosines_gather_and_payload_arms_match_scalar_fold(
    prefixes, seed, n, loose_min
):
    """The one cosine core over both decodes (gathered from a corpus
    matrix by id, and read back from Arrow list columns), then the one
    batch encoder."""
    corpus = _rows(seed, 64)
    nrm = np.sqrt(K._row_dots(corpus, corpus))
    rng = np.random.default_rng(seed)
    ia, ib = rng.integers(0, 64, n), rng.integers(0, 64, n)
    gather = K._pair_cosines(corpus[ia], corpus[ib], nrm[ia], nrm[ib], prefixes)
    emb_a = K._list_array(corpus[ia], pa.float64())
    emb_b = K._list_array(corpus[ib], pa.float64())
    A = K._rows_f64(emb_a, None, "payload")
    payload = K._pair_cosines(
        A, K._rows_f64(emb_b, A.shape[1], "payload"), nrm[ia], nrm[ib], prefixes
    )
    Cl, nl = corpus.tolist(), nrm.tolist()
    want = [
        _pair_reference(Cl[i], Cl[j], nl[i], nl[j], prefixes) for i, j in zip(ia, ib)
    ]
    for k in range(1 + len(prefixes)):
        col = [w[k] for w in want]
        assert _same(gather[k], col) and _same(payload[k], col), k

    batch = K._pair_batch(ia, ib, gather, prefixes, loose_min)
    keep = [w[0] >= loose_min for w in want] if loose_min is not None else [True] * n
    assert batch.schema.names == ["vec_a", "vec_b", "sim_raw"] + [
        f"p{p}_raw" for p in prefixes
    ]
    assert batch.column(0).to_pylist() == ia[keep].tolist()
    assert batch.column(1).to_pylist() == ib[keep].tolist()
    assert _same(batch.column(2).to_numpy(), gather[0][keep])


def test_rows_f64_rejects_ragged_and_null_rows():
    ragged = pa.array([[1.0, 2.0], [3.0]], pa.list_(pa.float64()))
    with pytest.raises(ValueError, match="fixed width"):
        K._rows_f64(ragged, None, "t")
    with pytest.raises(ValueError, match="nulls"):
        K._rows_f64(pa.array([[1.0], None], pa.list_(pa.float64())), 1, "t")


# ------------------------------------------------------------------ probe


_PROBE_REF: dict = {}


def _probe_case(n: int):
    """A corpus of ``n`` rows, 17 probe rows (the last corpus row among
    them) and their raw sims by the scalar fold, built once per ``n``."""
    if n not in _PROBE_REF:
        M = _rows(n, n)
        nrm = np.sqrt(K._row_dots(M, M))
        ip = np.concatenate([np.arange(0, n, max(1, n // 16))[:16], [n - 1]])
        Ml, nl = M.tolist(), nrm.tolist()
        ref = [
            [_fold(Ml[p], Ml[j]) / (nl[p] * nl[j]) for j in range(n)] for p in ip
        ]
        _PROBE_REF[n] = (M, nrm, ip, ref)
    return _PROBE_REF[n]


def _run_probe(ip, M, nrm, k, q=1e-6):
    return sorted(
        (int(ip[r]), int(c), int(b))
        for rows, cols, sims in K._probe_topk(ip, M, nrm, k, q)
        for r, c, b in zip(rows, cols, _bits(sims))
    )


@pytest.mark.parametrize(
    "n", [4, CHUNK + 1, 2 * CHUNK - 1], ids=["small", "tail1", "tailc-1"]
)
@pytest.mark.parametrize("block", [1, 16, None])
def test_probe_topk_matches_scalar_fold(panel_arm, monkeypatch, n, block):
    """Every emitted row carries the scalar fold's raw sim, and the
    emitted set is exactly the rows at or above the k-th best sim minus
    two quanta (all other rows when n - 1 <= k), self-pairs excluded."""
    M, nrm, ip, ref = _probe_case(n)
    k, q = S.ANN_JOIN_K, 1e-6
    if block is not None:
        monkeypatch.setattr(K, "_PAIR_BLOCK_BYTES", 8 * n * block)
    want = []
    for p, sims in zip(ip, ref):
        others = [s for j, s in enumerate(sims) if j != p]
        cut = sorted(others)[-k] - 2.0 * q if n - 1 > k else -math.inf
        want += [
            (int(p), j, int(_bits(s)))
            for j, s in enumerate(sims)
            if j != p and s >= cut
        ]
    assert _run_probe(ip, M, nrm, k, q) == sorted(want)


def test_probe_panel_stays_within_block_budget(monkeypatch):
    """With the budget at one probe row (8 * n bytes), the core emits the
    same rows as under the default budget, and its traced peak stays
    within 4x the budget: the panel, its divisor, the partition copy and
    the keep mask.  A 16-row block floor would peak above 30x."""
    n = 2 * CHUNK - 1
    M, nrm, ip, _ = _probe_case(n)
    k = S.ANN_JOIN_K
    want = _run_probe(ip, M, nrm, k)  # also warms the transpose cache
    budget = 8 * n
    monkeypatch.setattr(K, "_PAIR_BLOCK_BYTES", budget)
    tracemalloc.start()
    try:
        got = _run_probe(ip, M, nrm, k)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert got == want
    assert peak <= 4 * budget, (peak, budget)
