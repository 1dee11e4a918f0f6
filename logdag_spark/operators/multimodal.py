"""Multimodal (binary-payload) column plumbing.

Images/audio/video travel as opaque ``binary`` columns with typed
metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` operators so each batch moves once over
Arrow and the decode library (absent in this container) is swappable.
The Spark-side contract — schema, batching, partition sizing — is real
and tested with a deterministic fake decoder; the actual codec call is
the single stubbed seam.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes int, sha256 string, "
    "feature array<float>"
)


def _decode(payload: bytes, kind: str) -> np.ndarray:
    """THE stubbed seam: a real deployment plugs Pillow/torchaudio/pyav
    here.  The deterministic fake hashes the payload into a fixed-length
    pseudo-feature so the distributed plumbing is fully testable."""
    digest = hashlib.sha256(payload or b"").digest()
    arr = np.frombuffer(digest, dtype=np.uint8).astype(np.float32)
    return arr / 255.0


def extract_features(df: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Decode + feature-extract via mapInPandas (one Arrow batch per
    iteration — payload bytes never round-trip through Python row
    objects)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode(p, k).tolist()
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "sha256": [
                        hashlib.sha256(p or b"").hexdigest() for p in pdf["payload"]
                    ],
                    "feature": feats,
                }
            )

    return df.mapInPandas(op, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per (media_id, frame_ts_ms) —
    pure column math; the actual frame grab is the decode seam."""
    return (
        df.where(F.col("kind") == "video")
        .withColumn(
            "frame_ts_ms",
            F.explode(
                F.sequence(
                    F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
        .select("media_id", "frame_ts_ms")
    )


RESIZED_SCHEMA = "media_id string, width int, height int, pixels array<float>"


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Decode → resize via mapInPandas (Arrow-batched; payload bytes and
    pixel arrays never become Python row objects).

    The decode is the stubbed seam (`_decode`); the resize itself is a
    real vectorized bilinear 1D resample of the decoded signal to
    width·height cells — deterministic, so the distributed contract
    (schema, batching, output size) is fully testable without codec
    libs.  A real deployment swaps `_decode` for Pillow and this resample
    for `Image.resize`.
    """
    n_out = width * height

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf["payload"]:
                sig = _decode(p, "image")
                src = np.arange(sig.size, dtype=np.float64)
                dst = np.linspace(0, sig.size - 1, n_out)
                out.append(np.interp(dst, src, sig).astype(np.float32).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "pixels": out,
                }
            )

    return df.where(F.col("kind") == "image").mapInPandas(op, RESIZED_SCHEMA)


def repartition_by_bytes(
    df: DataFrame, target_mb: int = 64, size_col: str = "payload"
) -> DataFrame:
    """Byte-bounded repartition for binary-payload tables.

    Row-count partitioning breaks on media: 1k rows of 4K stills ≈ 4 GB
    in one Arrow batch.  This sizes the partition count from the actual
    byte total (one cheap agg) and spreads rows by payload hash, so each
    mapInPandas task sees ~``target_mb`` of payload regardless of row
    width — the knob that keeps executor memory flat at 100 TB.
    """
    total = df.agg(
        F.sum(F.coalesce(F.length(F.col(size_col)), F.lit(0))).alias("b")
    ).first()["b"] or 0
    n_parts = max(1, int(total // (target_mb * 1024 * 1024)) + 1)
    return df.repartition(n_parts, F.xxhash64(F.col("media_id")))


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fixture for plumbing tests."""
    kinds = ["image", "audio", "video"]
    rows = [
        (
            f"m{i:04d}",
            kinds[i % 3],
            bytes([(i * 37 + j) % 256 for j in range(64 + i % 32)]),
            64 + i % 8,
            48 + i % 8,
            1000 * (1 + i % 5),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
