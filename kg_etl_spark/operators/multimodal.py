"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched mapInPandas.

The decode/feature kernels are STUBBED (this container ships no
image/audio libraries): `decode_image_batch` raises NotImplementedError
unless `fake=True`, in which case a deterministic fake decoder produces
stable features so the Spark-side plumbing — schema, batch shape,
partitioning — is real and testable end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def attach_binary_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build a media table from any table (payload = utf8 bytes of a
    column) — used by tests/bench to exercise binary-column plumbing on
    the synthetic corpus."""
    return df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.create_map(F.lit("codec"), F.lit("fake")).alias("meta"),
    )


def _fake_decode(payload: bytes, dim: int = 8) -> tuple[int, int, list[float]]:
    """Deterministic stand-in for a real decoder: 'dimensions' and a
    feature vector derived from a sha256 of the payload."""
    h = hashlib.sha256(payload or b"").digest()
    width = 1 + h[0] % 64
    height = 1 + h[1] % 64
    feat = [((h[i] / 255.0) * 2.0 - 1.0) for i in range(2, 2 + dim)]
    return width, height, feat


def extract_features(df: DataFrame, fake: bool = False, dim: int = 8) -> DataFrame:
    """Decode + featurize media rows via mapInPandas (Arrow batches).

    Real decode requires image/audio libs not present in this
    environment → NotImplementedError unless fake=True. The distributed
    plumbing (batch iteration, schema, partition preservation) is the
    same code path a real decoder would use.
    """
    if not fake:
        raise NotImplementedError(
            "real media decoding needs PIL/av/soundfile — not available; pass fake=True"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, feat = _fake_decode(bytes(payload) if payload is not None else b"", dim)
                rows.append((mid, len(payload or b""), w, h, feat))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_bytes", "width", "height", "feature"]
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)
