"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries image/audio/video next to text as
``binary`` columns with a typed metadata struct.  The image/audio decode
libraries (PIL/OpenCV) are not dependencies, so a deterministic fake
featurizer (``fake_image_features``) stands in where a real decoder to
HxWxC uint8 and a CNN/ViT would go; everything Spark-side (schema, Arrow
batch shape, partition behavior) is real and tested.

Batch contract mirrors the engine's text kernel (one Arrow-batched stage,
here ``mapInPandas``; whole batch in/out, no per-row Python at the Spark level).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "fake_image_features",
    "with_media_features",
    "media_from_documents",
]

FEATURE_DIM = 16


def fake_image_features(payloads: pd.Series) -> np.ndarray:
    """Deterministic stand-in featurizer: md5-seeded FEATURE_DIM vector.

    Pure function of the payload bytes → safe under task retry, and the
    Arrow batch shape matches what a real CNN/ViT featurizer would emit.
    """
    out = np.zeros((len(payloads), FEATURE_DIM), dtype=np.float64)
    for i, b in enumerate(payloads):
        if b is None or len(b) == 0:
            continue
        d = hashlib.md5(bytes(b)).digest()
        out[i] = np.frombuffer(d, dtype=np.uint8)[:FEATURE_DIM] / 255.0
    return out


def with_media_features(media: DataFrame) -> DataFrame:
    """media table → (media_id, meta, features array<double>, decode_status).

    Corrupt/empty payloads never fail the batch (the reference's
    gray-placeholder policy, extract_pagewise_features.py:66-69).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = fake_image_features(pdf["payload"])
            status = [
                "empty" if (b is None or len(b) == 0) else "ok"
                for b in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "meta": pdf["meta"],
                    "features": list(feats),
                    "decode_status": status,
                }
            )

    schema = (
        "media_id bigint, "
        "meta struct<mime:string, width:int, height:int, n_bytes:bigint>, "
        "features array<double>, decode_status string"
    )
    return media.select("media_id", "payload", "meta").mapInPandas(run, schema=schema)


def media_from_documents(spark, sf_dir: str) -> DataFrame:
    """Deterministic media table from the documents testdata: the text
    bytes pose as an opaque payload with synthesized metadata."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("image/png").alias("mime"),
            (F.pmod(F.col("doc_id"), F.lit(640)) + 64).cast("int").alias("width"),
            (F.pmod(F.col("doc_id"), F.lit(480)) + 48).cast("int").alias("height"),
            F.length(F.encode(F.col("text"), "utf-8")).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )
