"""Multimodal column plumbing: image/audio/video as opaque binary columns,
processed via Arrow-batched mapInPandas.

The Spark-side architecture is real and tested — schemas, partitioning,
UDF signatures, batch shapes. The actual media decoding is STUBBED
(`decoder="fake"` produces deterministic features; `decoder="real"` raises
NotImplementedError) because image/audio libraries are not available in
this environment. Swapping in a real decoder is a one-function change;
nothing about the distributed plan changes.

Scale notes: media blobs are large and skewed — the iterator-of-batches
mapInPandas shape keeps memory bounded to one Arrow batch;
``spark.sql.execution.arrow.maxRecordsPerBatch`` caps batch size.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 16


def _fake_decode_features(blob: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real decode+embed: features derived
    from the blob's sha256 — stable across runs/engines, unit-testable."""
    h = hashlib.sha256(blob).digest()
    arr = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype="<u4")
    return (arr.astype("float64") / 2**32).astype("float32").tolist()


def _real_decode_features(blob: bytes, dim: int = FEATURE_DIM) -> list[float]:
    raise NotImplementedError(
        "media decoding requires image/audio libraries not present in this "
        "environment; plug a real decoder in here (signature: bytes -> "
        f"list[float] of length {dim})"
    )


def extract_features(
    df: DataFrame,
    *,
    id_col: str = "media_id",
    blob_col: str = "content",
    decoder: str = "fake",
) -> DataFrame:
    """mapInPandas feature extraction over binary media columns.

    Input: (id_col long, blob_col binary, ...). Output rows follow
    IMAGE_FEATURE_SCHEMA. Arrow-batched; one batch in memory per task.
    """
    decode = {"fake": _fake_decode_features, "real": _real_decode_features}[
        decoder
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf[blob_col]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "sha256": [
                        hashlib.sha256(b).hexdigest() for b in blobs
                    ],
                    "n_bytes": [len(b) for b in blobs],
                    "feature": [decode(bytes(b)) for b in blobs],
                }
            )

    return df.select(id_col, blob_col).mapInPandas(
        run, schema=IMAGE_FEATURE_SCHEMA
    )
