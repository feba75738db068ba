"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct; decode /
feature-extract run as an Arrow-batched ``mapInPandas`` kernel. The decode
step itself is STUBBED (no image/audio libraries are installed):
``decode_stub`` produces a deterministic fake feature vector from the payload
bytes where a PIL/ffmpeg decode would go. The Spark-side plumbing — schema,
partition sizing, UDF signature, batch shape — is real and tested.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),           # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("mime", T.StringType()),
    ]), True),
])

FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("features", T.ArrayType(T.FloatType()), False),
    T.StructField("n_bytes", T.LongType(), False),
])


def synth_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic opaque payloads (stand-ins for real image/audio bytes)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                payload = hashlib.sha256(f"42:{i}".encode()).digest() * (4 + i % 8)
                kind = kinds[i % 3]
                rows.append({
                    "media_id": i, "kind": kind, "payload": payload,
                    "meta": {"width": 64 + (i % 8) * 32 if kind == "image" else None,
                             "height": 64 + (i % 5) * 32 if kind == "image" else None,
                             "duration_ms": 1000 * (1 + i % 30) if kind != "image" else None,
                             "mime": f"{kind}/x-synmeans"},
                })
            yield pd.DataFrame(rows)

    return spark.range(0, n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def decode_stub(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic fake decode: feature vector derived from payload bytes
    (same shape contract a real CNN/fbank featurizer would return)."""
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    chunks = np.array_split(arr, 16)
    return np.array([c.mean() / 255.0 if len(c) else 0.0 for c in chunks],
                    dtype=np.float32)


def extract_features(media: DataFrame) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                feats = decode_stub(data, kind)
                rows.append((int(mid), kind, [float(x) for x in feats], len(data)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "features", "n_bytes"])

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)
