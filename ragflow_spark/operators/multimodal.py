"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — schemas, Arrow batch shapes, UDF
signatures, partition-invariant determinism — while the codec layer is a
deterministic stub: the sandbox ships no image/audio libraries, so
``decode_image`` synthesizes pixels from a seeded hash of the payload
(clearly marked; swap in PIL/libav behind the same seam in production).
The reference's analog is the ``picture``/``audio`` chunk templates,
which push bytes through OCR/ASR models (/root/reference/rag/app/
picture.py, audio.py) — model seams there, codec seams here.

Design for 100 TB: media payloads never leave the executor (all
operators are mapInPandas over the binary column; outputs are small
typed rows), frame sampling explodes *inside* the UDF so no shuffle
carries pixel data, and the Arrow batch row cap (session.py) bounds
per-batch memory for multi-MB payloads.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ragflow_spark.job.extract import map_documents

MEDIA_SCHEMA = ("url string, media_type string, payload binary, "
                "width int, height int, duration_ms int, codec string")

FEATURE_SCHEMA = ("url string, width int, height int, "
                  "mean_luma double, edge_density double")

FRAME_SCHEMA = ("url string, frame_idx int, ts_ms int, frame binary")


def decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB CODEC standing in for PIL.Image.open: a payload-seeded
    horizontal gradient, pixel(y, x, c) = (seed + 17c) % 48 + x (closed
    form, so the DuckDB oracle can recompute the downstream features —
    the pipeline itself treats the output as opaque pixels). Returns
    HxWx3 uint8; the seam is the function signature — production swaps
    the body, nothing else."""
    seed = (payload[0] | (payload[1] << 8)) if len(payload) >= 2 else 0
    base = np.array([(seed + 17 * c) % 48 for c in range(3)],
                    dtype=np.uint8)
    x = np.arange(width, dtype=np.uint8)[None, :, None]
    return (base[None, None, :] + x) * np.ones(
        (height, 1, 1), dtype=np.uint8)


def build_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic media rows derived from documents:
    doc_id%3 selects image/audio/video; payload byte i is
    (doc_id*31 + i*7) % 256 — opaque to the pipeline (as real codec
    output would be) but closed-form for the DuckDB oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars")
    # one parquet file -> one input split, and every consumer here is
    # map-only (no shuffle to fan it out): spread the media rows
    # across executors at the source (build_pages precedent)
    docs = docs.repartition(spark.sparkContext.defaultParallelism,
                            "doc_id")

    def media(doc_id, n_chars):
        doc_id, n = int(doc_id), 64 + int(n_chars) % 64
        kind = ("image", "audio", "video")[doc_id % 3]
        payload = ((doc_id * 31 + np.arange(n, dtype=np.int64) * 7) % 256
                   ).astype(np.uint8).tobytes()
        image = kind == "image"
        return [(f"https://host{doc_id % 50}.example.com/{kind}/{doc_id}",
                 kind, payload,
                 64 + doc_id % 128 if image else 0,
                 48 + doc_id % 96 if image else 0,
                 0 if image else 1000 + doc_id % 9000,
                 {"image": "fake-rgb", "audio": "fake-pcm",
                  "video": "fake-h26x"}[kind])]

    return map_documents(docs, media, MEDIA_SCHEMA)


def image_features(media: DataFrame) -> DataFrame:
    """Per-image features via the stub decoder: mean luma + a simple
    gradient edge density. Only image rows are scanned (filter pushes
    into the parquet/Iceberg scan on media_type)."""
    def features(url, payload, w, h):
        w, h = int(w), int(h)
        img = decode_image(payload, w, h)
        luma = (0.299 * img[..., 0] + 0.587 * img[..., 1]
                + 0.114 * img[..., 2])
        gx = np.abs(np.diff(luma, axis=1)).mean()
        return [(url, w, h, round(float(luma.mean()), 6),
                 round(float(gx), 6))]

    return map_documents(
        media.where(F.col("media_type") == "image")
        .select("url", "payload", "width", "height"),
        features, FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Sample frames from video rows at a fixed cadence. The explode
    happens inside the UDF (one input row -> duration/every_ms output
    rows) so frame bytes never shuffle."""
    def frames(url, payload, dur):
        # STUB: a real decoder seeks; the fake slices the payload
        # deterministically per timestamp
        rows = []
        for idx, ts in enumerate(range(0, int(dur), every_ms)):
            off = (ts * 7) % max(len(payload) - 16, 1)
            rows.append((url, idx, ts, payload[off:off + 16]))
        return rows

    return map_documents(
        media.where(F.col("media_type") == "video")
        .select("url", "payload", "duration_ms"), frames, FRAME_SCHEMA)


def audio_features(media: DataFrame) -> DataFrame:
    """STUB feature extractor for audio rows: interprets the fake-pcm
    payload as int8 samples (deterministic; a real build decodes)."""
    def features(url, payload, dur):
        samples = np.frombuffer(payload, dtype=np.int8).astype(np.float64)
        rms = round(float(np.sqrt((samples ** 2).mean())), 6)
        return [(url, int(dur), rms,
                 int((np.diff(np.sign(samples)) != 0).sum()))]

    return map_documents(
        media.where(F.col("media_type") == "audio")
        .select("url", "payload", "duration_ms"), features,
        "url string, duration_ms int, rms double, zero_crossings int")
