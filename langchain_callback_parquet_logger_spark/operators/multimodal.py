"""Multimodal columns: opaque binary payloads + typed metadata, with the
decode / feature-extract stage as Arrow-batched pandas transforms.

Pattern (the one that holds at 100 TB): media lives in a ``binary`` column
(or object-store URIs for large assets) beside a typed metadata struct;
Spark moves the bytes, prunes on the metadata, and only the feature
extractor — a ``mapInPandas`` stage — ever decodes. The decode itself needs
codec libraries (Pillow / torchaudio / pyav) that are NOT in this
container, so the actual decoding is stubbed: ``decode_image`` raises
``NotImplementedError`` unless a library is importable, and the feature
extractor falls back to a **deterministic fake** (byte-level statistics)
so the Spark-side plumbing — schema, batching, partitioning, UDF signature
— is real and tested end-to-end.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.session import load_table

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, mean_byte double, max_byte int, "
    "checksum string"
)


def attach_media_column(docs: DataFrame) -> DataFrame:
    """Build a synthetic media column from the text bytes (stands in for
    real image/audio payloads) plus typed metadata. In production this
    frame comes straight from the ingest source; the shape is identical."""
    media = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        media.alias("media"),
        F.lit("image/fake").alias("media_type"),
        F.lit(64).cast("int").alias("width"),
        F.lit(64).cast("int").alias("height"),
        F.octet_length(media).cast("bigint").alias("n_bytes"),
    )


def decode_image(payload: bytes):  # pragma: no cover - import-gated
    """Real decode, gated on an optional codec library (not in this
    container). Raises NotImplementedError when unavailable."""
    try:
        from PIL import Image  # type: ignore
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as e:
        raise NotImplementedError(
            "image decoding requires Pillow; install it on the cluster "
            "image or rely on the deterministic fallback features"
        ) from e


def extract_features(media_df: DataFrame) -> DataFrame:
    """mapInPandas feature extractor. Arrow-batched: each pandas batch
    holds ~10k rows of bytes; per-row work is vectorized numpy. Falls back
    to deterministic byte statistics when no codec library exists, keeping
    the pipeline runnable (and testable) everywhere."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                buf = bytes(payload)
                arr = np.frombuffer(buf, dtype=np.uint8)
                out.append(
                    (
                        doc_id,
                        len(buf),
                        float(arr.mean()) if len(arr) else 0.0,
                        int(arr.max()) if len(arr) else 0,
                        hashlib.md5(buf).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_bytes", "mean_byte", "max_byte", "checksum"],
            )

    return media_df.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only path: no decode, pure columnar — the query shape that
    must NOT touch the bytes (verify via explain: media column pruned)."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_media_column(docs)
    return media.groupBy("media_type").agg(
        F.count("*").alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("n_bytes"), 6).alias("avg_bytes"),
    )


ORACLE_MULTIMODAL_META = """
SELECT 'image/fake' AS media_type,
       COUNT(*) AS n_assets,
       CAST(SUM(length(text)) AS BIGINT) AS total_bytes,
       round(AVG(length(text)), 6) AS avg_bytes
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-path plumbing end-to-end with the deterministic fallback.
    checksum is md5 of the payload bytes = md5(text) for utf-8 text — so
    even the mapInPandas feature stage gets a value-level oracle."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(attach_media_column(docs))
    return feats.select(
        "doc_id", "n_bytes", F.round("mean_byte", 6).alias("mean_byte"), "checksum"
    )


ORACLE_MULTIMODAL_FEATURES = """
SELECT doc_id,
       length(text) AS n_bytes,
       round(list_sum(list_transform(range(1, length(text) + 1),
                                     i -> ord(text[i])))::DOUBLE / length(text), 6)
           AS mean_byte,
       md5(text) AS checksum
FROM documents
"""


RESIZE_BINS = 8
FRAME_BYTES = 16
FRAME_STRIDE = 4  # sample every 4th frame


def resize_media(media_df: DataFrame, bins: int = RESIZE_BINS) -> DataFrame:
    """'Resize' stage: average-pool the byte stream into a fixed-width
    vector — the deterministic stand-in for image downsampling (a real
    deploy swaps the pooling loop for PIL/torchvision inside the SAME
    mapInPandas; schema, batching and partitioning are unchanged). Block
    b covers byte positions [b*n/bins, (b+1)*n/bins)."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, pooled = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = len(arr)
                bounds = [(b * n) // bins for b in range(bins + 1)]
                pooled.append(
                    [
                        round(float(arr[bounds[b] : bounds[b + 1]].mean()), 6)
                        if bounds[b + 1] > bounds[b]
                        else 0.0
                        for b in range(bins)
                    ]
                )
                ids.append(doc_id)
            yield pd.DataFrame({"doc_id": ids, "pooled": pooled})

    return media_df.mapInPandas(_resize, schema="doc_id bigint, pooled array<double>")


def sample_frames(media_df: DataFrame) -> DataFrame:
    """'Frame-sample' stage: treat the byte stream as FRAME_BYTES-sized
    frames, keep every FRAME_STRIDE-th frame — the video-keyframe pattern
    (a real deploy decodes with pyav inside the same mapInPandas). Returns
    the sampled-frame count and the checksum of the sampled bytes, so the
    sampling arithmetic itself is value-checked."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                buf = bytes(payload)
                n_frames = math.ceil(len(buf) / FRAME_BYTES)
                kept = bytearray()
                n_kept = 0
                for f in range(0, n_frames, FRAME_STRIDE):
                    kept += buf[f * FRAME_BYTES : (f + 1) * FRAME_BYTES]
                    n_kept += 1
                out.append((doc_id, n_frames, n_kept, hashlib.md5(bytes(kept)).hexdigest()))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_frames", "n_sampled", "sample_md5"]
            )

    return media_df.mapInPandas(
        _sample,
        schema="doc_id bigint, n_frames bigint, n_sampled bigint, sample_md5 string",
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded projection of :func:`resize_media`. The pooled vector is
    flattened to scalar columns ``p0..p{bins-1}`` — the grading harness
    canonicalizes results via pandas sort, which cannot order list cells,
    and a fixed-width pooled vector is exactly a fixed set of columns."""
    docs = load_table(spark, sf_dir, "documents")
    resized = resize_media(attach_media_column(docs))
    return resized.select(
        "doc_id",
        *[F.col("pooled")[i].alias(f"p{i}") for i in range(RESIZE_BINS)],
    )


_RESIZE_COLS = ",\n       ".join(
    f"pooled[{i + 1}] AS p{i}" for i in range(RESIZE_BINS)
)

ORACLE_MULTIMODAL_RESIZE = f"""
WITH b AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1), i -> ord(text[i])) AS bytes,
         length(text) AS n
  FROM documents
), pooled_t AS (
  SELECT doc_id,
         list_transform(range(0, {RESIZE_BINS}), bi ->
           CASE WHEN ((bi + 1) * n) // {RESIZE_BINS} > (bi * n) // {RESIZE_BINS}
                THEN round(list_aggregate(
                       bytes[(bi * n) // {RESIZE_BINS} + 1 : ((bi + 1) * n) // {RESIZE_BINS}],
                       'avg')::DOUBLE, 6)
                ELSE 0.0 END) AS pooled
  FROM b
)
SELECT doc_id,
       {_RESIZE_COLS}
FROM pooled_t
"""


def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_media_column(docs))


ORACLE_MULTIMODAL_FRAMESAMPLE = f"""
WITH f AS (
  SELECT doc_id, text,
         CAST(ceil(length(text)::DOUBLE / {FRAME_BYTES}) AS BIGINT) AS n_frames
  FROM documents
)
SELECT doc_id, n_frames,
       len(range(0, n_frames, {FRAME_STRIDE})) AS n_sampled,
       md5(array_to_string(
         list_transform(range(0, n_frames, {FRAME_STRIDE}),
                        fr -> substr(text, fr * {FRAME_BYTES} + 1, {FRAME_BYTES})),
         '')) AS sample_md5
FROM f
"""


QUERIES = {
    "q_multimodal_meta": q_multimodal_meta,
    "q_multimodal_features": q_multimodal_features,
    "q_multimodal_resize": q_multimodal_resize,
    "q_multimodal_framesample": q_multimodal_framesample,
}

ORACLES = {
    "q_multimodal_meta": ORACLE_MULTIMODAL_META,
    "q_multimodal_features": ORACLE_MULTIMODAL_FEATURES,
    "q_multimodal_resize": ORACLE_MULTIMODAL_RESIZE,
    "q_multimodal_framesample": ORACLE_MULTIMODAL_FRAMESAMPLE,
}
