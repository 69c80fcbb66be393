"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / feature-extract / frame-sample as
Arrow-batched operators.

Spark-side plumbing is REAL (schemas, mapInPandas batch handling, zero
shuffles for per-item ops, explode for frame expansion); the codec step is
pluggable: with Pillow/librosa installed the marked hooks decode real media,
in this container they fall back to a DETERMINISTIC fake featurizer
(md5-seeded), so every pipeline stage stays testable end-to-end. The fake is
clearly marked — swap ``_decode_image_impl`` / ``_decode_audio_impl`` for
real codecs in production.

Not in the reference (ee-outliers is text/ES-only); added per the build
brief's training-data-pipeline surface.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # real image codec if present (not in this container)
    from PIL import Image  # type: ignore  # noqa: F401
    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False

FEATURE_DIM = 16

MEDIA_SCHEMA = (
    "media_id long, kind string, blob binary, "
    "meta struct<width int, height int, sample_rate int, n_frames int, "
    "fmt string>"
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic media table derived from the documents ids —
    no external data, no randomness. Blob bytes are a pure function of
    (media_id, kind); metadata is typed so filters/pruning work."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    blob = F.encode(
        F.format_string("media-payload-%s", F.col("doc_id").cast("string")),
        "utf-8",
    )
    meta = F.struct(
        (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
        F.lit(16000).cast("int").alias("sample_rate"),
        (F.col("doc_id") % 30 + 1).cast("int").alias("n_frames"),
        F.lit("fake/v1").alias("fmt"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"), kind.alias("kind"),
        blob.alias("blob"), meta.alias("meta"),
    )


def _fake_features(raw: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """DETERMINISTIC FAKE featurizer: md5(blob) → unit vector. Stands in for
    a real encoder; keeps every downstream stage (ANN, dedup) exercisable."""
    h = hashlib.md5(raw).digest()
    vals = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4],
                         dtype=np.uint32).astype(np.float64)
    v = (vals % 1000) / 1000.0 - 0.5
    n = np.linalg.norm(v)
    return v / n if n else v


def _decode_image_impl(raw: bytes) -> tuple[int, int, np.ndarray]:
    """Codec hook. Real implementation (PIL) decodes pixels; this container
    has no image libs, so the deterministic fake reports a parsed-from-bytes
    size and md5 features."""
    if _HAVE_PIL:  # pragma: no cover - not installed here
        raise NotImplementedError(
            "real PIL decode intentionally left to production wiring"
        )
    w = 16 + (struct.unpack_from("<H", hashlib.md5(raw).digest(), 0)[0] % 640)
    h = 16 + (struct.unpack_from("<H", hashlib.md5(raw).digest(), 2)[0] % 480)
    return w, h, _fake_features(raw)


def image_features(df: DataFrame, id_col: str = "media_id",
                   blob_col: str = "blob") -> DataFrame:
    """(media_id, width, height, feature array<float>) via mapInPandas —
    Arrow batches in, Arrow batches out, no shuffle, partition-parallel."""
    schema = f"{id_col} long, width int, height int, feature array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ws, hs, feats = [], [], []
            for raw in pdf[blob_col]:
                w, h, f = _decode_image_impl(bytes(raw))
                ws.append(w)
                hs.append(h)
                feats.append(f.astype(np.float32).tolist())
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "width": ws, "height": hs, "feature": feats,
            })

    return df.mapInPandas(run, schema=schema)


def sample_frames(df: DataFrame, every_n: int, id_col: str = "media_id",
                  meta_col: str = "meta") -> DataFrame:
    """Video frame sampling: one row per selected frame index (0, n, 2n, …) —
    pure JVM explode over the typed frame count; the per-frame pixel decode
    is the same pluggable codec hook as images."""
    idx = F.sequence(
        F.lit(0), F.col(f"{meta_col}.n_frames") - 1, F.lit(every_n)
    )
    return (
        df.where(F.col("kind") == "video")
        .select(F.col(id_col), F.explode(idx).alias("frame_no"), "blob")
        .withColumn(
            "frame_key",
            F.concat_ws(":", F.col(id_col).cast("string"),
                        F.col("frame_no").cast("string")),
        )
    )

