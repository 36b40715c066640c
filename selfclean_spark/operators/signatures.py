"""Stage 1 — shingle + MinHash(128) + SimHash(64) signatures.

Reference analog: the featurization stage ``embed_dataset`` that turns
every sample into a dense (N, D) embedding row
(selfclean/cleaner/selfclean.py:274-283) — the only input the analytic
core needs (selfclean/cleaner/selfclean_cleaner.py:96-101).  Here the
"embedding" is the (MinHash[128], SimHash) sketch pair, computed by ONE
``mapInPandas`` pass per row batch: shingle → minhash → simhash without
re-shingling (the reference likewise embeds once and reuses).

Executor-side Python is Arrow-batched and fully vectorized
(selfclean_spark.functions.sketches); ``content`` is dropped on output,
so downstream stages never shuffle the raw text (column pruning is
structural, not left to chance — SURVEY.md §7.4).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from selfclean_spark.config import SignatureConfig
from selfclean_spark.functions import sketches
from selfclean_spark.functions.worker import worker_task

SIGNATURE_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("content_sha", StringType(), False),
        StructField("n_shingles", IntegerType(), False),
        StructField("minhash", ArrayType(LongType(), False), False),
        StructField("simhash", LongType(), False),
    ]
)


def compute_signatures(
    ingested: DataFrame, cfg: SignatureConfig, keep_shingles: bool = False
) -> DataFrame:
    """(id, content_sha, content) → signatures table (FIXTURES.md §5).

    The UDF closure captures only the frozen config + permutation seeds
    (small, broadcast with the task); per batch it loops rows for the
    string→shingle step (inherently per-string) but every numeric step
    is a vectorized NumPy kernel.

    ``keep_shingles`` additionally emits the hashed-shingle array so
    verification never re-shingles.  Flip it only when shingle arrays
    are comparable in size to the text (token mode over short docs):
    for char 5-grams over 10 KB files the array is ~8× the content, so
    the durable pipeline keeps the base schema and re-shingles just the
    candidate subset instead (verify.shingle_table).
    """
    perm_seeds = sketches.minhash_seeds(cfg.num_perm, cfg.seed)

    @worker_task
    def sign_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            minhashes: list[np.ndarray] = [None] * n  # type: ignore[list-item]
            shingle_arrays: list[np.ndarray] = [None] * n  # type: ignore[list-item]
            simhashes = np.empty(n, dtype=np.int64)
            n_shingles = np.empty(n, dtype=np.int32)
            contents = pdf["content"].to_numpy()
            for i in range(n):
                sh = sketches.shingle(contents[i], cfg)
                n_shingles[i] = sh.size
                minhashes[i] = sketches.minhash_signature(sh, perm_seeds)
                simhashes[i] = sketches.simhash_signature(sh)
                if keep_shingles:
                    shingle_arrays[i] = sh.view(np.int64)
            out = {
                "id": pdf["id"].to_numpy(),
                "content_sha": pdf["content_sha"].to_numpy(),
                "n_shingles": n_shingles,
                "minhash": minhashes,
                "simhash": simhashes,
            }
            if keep_shingles:
                out["shingles"] = shingle_arrays
            yield pd.DataFrame(out)

    schema = SIGNATURE_SCHEMA
    if keep_shingles:
        schema = StructType(
            SIGNATURE_SCHEMA.fields
            + [StructField("shingles", ArrayType(LongType(), False), False)]
        )
    pruned = ingested.select("id", "content_sha", "content")
    return pruned.mapInPandas(sign_batches, schema=schema)


def band_hashes(signatures: DataFrame, cfg: SignatureConfig) -> DataFrame:
    """signatures → (id, band_hash): the LSH index keys.

    Pure native expressions (JVM-side, codegen'd): ``xxhash64`` over the
    r ``element_at`` scalars of each band plus the band index.  Because
    the band index is folded INTO the hash, the single ``band_hash``
    long is the complete bucket key — hashes from different bands land
    in different buckets by construction, so no separate band_id column
    rides the shuffle (r3: dropping it cut the candidates-stage shuffle
    row from 20 to 16 bytes, the hottest exchange of the pipeline).
    explode of a b-element array per row — output is b× rows but only 2
    narrow columns (SURVEY.md C14).

    Scalar args, not ``xxhash64(slice(minhash, ...))``: slice allocates
    a fresh ArrayData per band per row (b×N short-lived arrays on the
    hashing hot path), while the scalar form streams the r longs + the
    band index through one codegen'd hash call — measured ~2.5× on the
    bands sub-plan.  Bucket equality
    classes are unchanged (two bands collide iff their r values and
    band index agree, either encoding), so candidate sets — and every
    downstream fingerprint — are identical.
    """
    r = cfg.lsh_rows
    # One F.expr over the full SQL text instead of ~5 Column calls per
    # band (r6): the per-Column py4j round-trips made THIS builder ~0.3 s
    # of pure driver latency per query build (cProfile: send_command
    # dominated).  The parsed expression tree is identical — same
    # xxhash64 over the same element_at scalars and int band literal,
    # so every band hash (and every downstream candidate set) is
    # bit-identical.
    bands_sql = "array(%s)" % ", ".join(
        "xxhash64(%s, %d)"
        % (
            ", ".join(
                f"element_at(minhash, {i * r + j + 1})" for j in range(r)
            ),
            i,
        )
        for i in range(cfg.lsh_bands)
    )
    return (
        signatures.select("id", F.expr(bands_sql).alias("bands"))
        .select("id", F.explode("bands").alias("band_hash"))
    )


SIMHASH_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("simhash", LongType(), False),
    ]
)


def compute_simhash(ingested: DataFrame, cfg: SignatureConfig) -> DataFrame:
    """(id, content) → (id, simhash) only — for consumers that need the
    64-bit fingerprint without paying the MinHash-128 kernel (which is
    ~100× the per-shingle work of the single SimHash pass)."""

    @worker_task
    def sim_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = pdf["content"].to_numpy()
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "simhash": sketches.simhash_batch(
                        [sketches.shingle(c, cfg) for c in contents]
                    ),
                }
            )

    return ingested.select("id", "content").mapInPandas(
        sim_batches, schema=SIMHASH_SCHEMA
    )
