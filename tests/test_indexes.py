"""Materialized dedup index: the stored-table path must give verdicts
IDENTICAL to the in-session recompute (q_incremental_dedup), and index
appends must extend coverage without touching stored rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from langchain_callback_parquet_logger_spark.operators import dedup as D
from langchain_callback_parquet_logger_spark.operators import indexes as I
from langchain_callback_parquet_logger_spark.plans.session import (
    load_table,
    release_caches,
)


def _rows(df):
    return sorted(
        (r.new_doc_id, r.n_corpus_dups, r.best_jaccard) for r in df.collect()
    )


def test_dedup_against_stored_index_equals_recompute(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_new = F.col("doc_id") % D.INCREMENTAL_BATCH_MOD == 0
    index_dir = str(tmp_path / "dedup_index")
    try:
        I.materialize_dedup_index(docs.filter(~is_new), index_dir)
        got = _rows(I.dedup_against_index(spark, index_dir, docs.filter(is_new)))
        want = _rows(D.q_incremental_dedup(spark, sf_dir))
    finally:
        release_caches()
    assert got == want and got  # identical verdicts, non-empty at sf0.001+


def test_index_append_extends_coverage(spark, sf_dir, tmp_path):
    """Split the corpus in two; verdicts against (part1 + appended part2)
    must equal verdicts against an index built from all of it at once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_new = F.col("doc_id") % D.INCREMENTAL_BATCH_MOD == 0
    corpus = docs.filter(~is_new)
    half = F.col("doc_id") % 2 == 0
    inc_dir = str(tmp_path / "inc_index")
    full_dir = str(tmp_path / "full_index")
    try:
        I.materialize_dedup_index(corpus.filter(half), inc_dir)
        I.append_to_dedup_index(corpus.filter(~half), inc_dir)
        I.materialize_dedup_index(corpus, full_dir)
        batch = docs.filter(is_new)
        got = _rows(I.dedup_against_index(spark, inc_dir, batch))
        want = _rows(I.dedup_against_index(spark, full_dir, batch))
    finally:
        release_caches()
    assert got == want


def test_knn_against_stored_ann_index_matches_ann_join(spark, sf_dir, tmp_path):
    """Probing the stored ANN index with corpus vectors reproduces
    q_ann_join's rows for those vec_ids exactly (same band candidates,
    same fixed-point rank contract)."""
    from langchain_callback_parquet_logger_spark.operators import similarity as S

    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    index_dir = str(tmp_path / "ann_index")
    try:
        I.materialize_ann_index(vecs, index_dir)
        probe_ids = [r.vec_id for r in vecs.limit(25).collect()]
        queries = vecs.filter(F.col("vec_id").isin(probe_ids)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = sorted(
            (r.query_id, r.nb_id, r.rank, r.sim)
            for r in I.knn_against_index(
                spark, index_dir, queries, S.ANN_JOIN_K
            ).collect()
        )
        want = sorted(
            (r.vec_id, r.nb_id, r.rank, r.sim)
            for r in S.q_ann_join(spark, sf_dir)
            .filter(F.col("vec_id").isin(probe_ids))
            .collect()
        )
    finally:
        release_caches()
    assert got == want and got


def test_stored_ann_index_pins_wide_family(spark, sf_dir, tmp_path, monkeypatch):
    """With the adaptive cutoff forced low, the index BUILD picks the
    wide 64-plane family, persists it in the meta table, the APPEND and
    SERVE legs read it back, and the serve rows still reproduce
    q_ann_join (whose adaptive front end goes wide on the same count) —
    the family-pinning contract that keeps a stored index coherent when
    batches of different sizes flow through it."""
    from langchain_callback_parquet_logger_spark.operators import similarity as S
    from langchain_callback_parquet_logger_spark.plans import session as sess

    sess.release_caches()  # no narrow-family memo may leak in
    monkeypatch.setattr(S, "EMB_WIDE_CUTOFF", 10)
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    index_dir = str(tmp_path / "wide_ann_index")
    try:
        half = F.col("vec_id") % 2 == 0
        I.materialize_ann_index(
            vecs.filter(half), index_dir, S._dedup_band_family(vecs.count())
        )
        I.append_to_ann_index(vecs.filter(~half), index_dir)
        assert len(I._read_ann_planes(spark, index_dir)) == 64
        probe_ids = [r.vec_id for r in vecs.limit(25).collect()]
        queries = vecs.filter(F.col("vec_id").isin(probe_ids)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = sorted(
            (r.query_id, r.nb_id, r.rank, r.sim)
            for r in I.knn_against_index(
                spark, index_dir, queries, S.ANN_JOIN_K
            ).collect()
        )
        want = sorted(
            (r.vec_id, r.nb_id, r.rank, r.sim)
            for r in S.q_ann_join(spark, sf_dir)
            .filter(F.col("vec_id").isin(probe_ids))
            .collect()
        )
    finally:
        sess.release_caches()  # the wide-family memo must not leak out
    assert got == want


def test_index_compaction_preserves_verdicts(spark, sf_dir, tmp_path):
    """Compacting the stored index tables must be read-identity: the
    serve leg's verdicts equal the in-session recompute, and the file
    census strictly shrinks (asserted inside q_index_compaction)."""
    index_dir = str(tmp_path / "compact_index")
    try:
        got = _rows(I.q_index_compaction(spark, sf_dir, index_dir))
        want = _rows(D.q_incremental_dedup(spark, sf_dir))
    finally:
        release_caches()
    assert got == want and got


@pytest.mark.parametrize("name", ["back\\slash x", "brack[et]", "brace{x}"])
def test_index_lifecycle_under_a_glob_character_name(spark, sf_dir, tmp_path, name):
    """Both stored indexes under a directory name holding a Hadoop glob
    character: the dedup index is built, appended, compacted and served
    with the recompute's verdicts, and the ANN index serves the rows it
    serves from a plain directory."""
    root = tmp_path / name
    try:
        got = _rows(I.q_index_compaction(spark, sf_dir, str(root / "dedup_index")))
        want = _rows(D.q_incremental_dedup(spark, sf_dir))
        knn = sorted(map(tuple, I.q_index_ann(spark, sf_dir, str(root / "ann")).collect()))
        plain = I.q_index_ann(spark, sf_dir, str(tmp_path / "plain_ann")).collect()
    finally:
        release_caches()
    assert got == want and got
    assert knn == sorted(map(tuple, plain)) and knn


def test_read_ann_planes_falls_back_to_narrow_for_pre_meta_index(
    spark, sf_dir, tmp_path
):
    """An ANN index written before the meta table existed (no ann_meta
    subdir) was always built with the narrow family — the only one that
    existed then — so the read must fall back to it and keep the serve
    leg working instead of hard-failing on the missing path (round-11
    advice)."""
    import os
    import shutil

    from langchain_callback_parquet_logger_spark.operators import similarity as S

    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    index_dir = str(tmp_path / "pre_meta_ann_index")
    try:
        I.materialize_ann_index(vecs, index_dir)
        shutil.rmtree(os.path.join(index_dir, I.ANN_META_SUBDIR))
        assert I._read_ann_planes(spark, index_dir) is S.DEDUP_PLANES
        queries = vecs.limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        rows = I.knn_against_index(spark, index_dir, queries, 3).collect()
    finally:
        release_caches()
    assert rows
