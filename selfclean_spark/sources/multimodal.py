"""Multimodal columns: images/audio/video as opaque binary + typed
metadata, with Arrow-batched decode/feature plumbing.

The reference decodes real images through torchvision transforms
(selfclean/cleaner/selfclean.py:118-125 resize/crop/normalize).  No
decoder ships here: ``fake_decode_features`` derives a deterministic
feature vector from the content bytes, and ``byte_feature_stats``
computes integer features a DuckDB twin re-derives, so the Spark-side
plumbing — schema, partitioning, UDF signature, Arrow batch shape — is
real and tested end-to-end.  A real decoder + encoder replaces only
the kernel body, not the plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from selfclean_spark.functions.worker import worker_task

MEDIA_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("data", BinaryType(), False),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("feature", ArrayType(FloatType(), False), False),
    ]
)


def fake_decode_features(data: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in for decode→embed: features derived from a
    seeded hash of the bytes.  Identical bytes ⇒ identical features, so
    dedup semantics downstream are exercised realistically."""
    h = np.frombuffer(data[: 8 * dim].ljust(8 * dim, b"\0"), dtype=np.uint64)
    rng = np.random.default_rng(int(h.sum() % (2**63)))
    return rng.standard_normal(dim).astype(np.float32)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """media → (id, kind, feature) via one mapInPandas pass.

    The real pipeline would decode + forward through an encoder here;
    the Arrow batching, schema, and partition behavior are identical.
    """

    @worker_task
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [fake_decode_features(d, dim) for d in pdf["data"]]
            yield pd.DataFrame(
                {"id": pdf["id"], "kind": pdf["kind"], "feature": feats}
            )

    return media.select("id", "kind", "data").mapInPandas(
        batches, schema=FEATURE_SCHEMA
    )


def synth_media(spark, n_rows: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for plumbing tests."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n_rows):
        kind = kinds[i % 3]
        payload = rng.integers(0, 256, size=int(rng.integers(256, 2048)), dtype=np.uint8)
        rows.append(
            (
                i,
                kind,
                bytes(payload.tolist()),
                {"image": "png", "audio": "wav", "video": "mp4"}[kind],
                int(rng.integers(16, 512)) if kind == "image" else None,
                int(rng.integers(16, 512)) if kind == "image" else None,
                16000 if kind == "audio" else None,
                int(rng.integers(1000, 10000)) if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


INT_FEATURE_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("feature", ArrayType(LongType(), False), False),
    ]
)


def derive_media_from_docs(docs: DataFrame) -> DataFrame:
    """Deterministic 64-byte media payloads derived from doc_id (4
    concatenated md5 blocks, unhexed) — the derivation is pure SQL
    builtins, so an independent engine can re-derive the SAME bytes
    and cross-check the Python byte-level kernel downstream."""
    hx = F.concat(
        *[
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(j)))
            for j in range(4)
        ]
    )
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    return docs.select(
        F.col("doc_id").alias("id"),
        F.element_at(kinds, (F.col("doc_id") % 3 + 1).cast("int")).alias(
            "kind"
        ),
        F.unhex(hx).alias("data"),
    )


def byte_feature_stats(media: DataFrame, dim: int = 16) -> DataFrame:
    """Binary payloads → integer feature vectors via ONE Arrow
    mapInPandas pass (the real multimodal plumbing: binary column in,
    fixed-dim feature out, batch-shaped), then per-kind exact-integer
    aggregates.  The kernel is strided byte summation — a stand-in
    with the same signature/batching as a decoder+encoder, but exactly
    recomputable from the hex derivation by the DuckDB twin, making
    the Arrow plumbing itself hash-oracled."""
    stride = dim

    @worker_task
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for d in pdf["data"]:
                arr = np.frombuffer(bytes(d), dtype=np.uint8)
                n = (arr.size // stride) * stride
                feats.append(
                    arr[:n]
                    .reshape(-1, stride)
                    .sum(axis=0, dtype=np.int64)
                    .tolist()
                )
            yield pd.DataFrame(
                {"id": pdf["id"], "kind": pdf["kind"], "feature": feats}
            )

    feats = media.select("id", "kind", "data").mapInPandas(
        batches, schema=INT_FEATURE_SCHEMA
    )
    ex = feats.select("id", "kind", F.explode("feature").alias("f"))
    return (
        ex.groupBy("kind")
        .agg(
            F.countDistinct("id").cast("long").alias("n_items"),
            F.count(F.lit(1)).cast("long").alias("n_values"),
            F.sum("f").cast("long").alias("feat_sum"),
            F.min("f").cast("long").alias("feat_min"),
            F.max("f").cast("long").alias("feat_max"),
        )
        .orderBy("kind")
    )
