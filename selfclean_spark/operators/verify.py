"""Stage 4 — exact verification of LSH candidates.

Reference analog: the reference computes *exact* pairwise distances for
every pair (selfclean/cleaner/selfclean_cleaner.py:137-144); we compute
exact Jaccard only for the LSH candidates (J5 in SURVEY.md §2.4), which
preserves exactness of every reported score while touching ~|edges|
instead of N² pairs.

Physical design (the 100-TB shape): the raw ``content`` column is
**never joined per pair**.  Instead:

1. **MinHash estimate** — fraction of agreeing signature positions,
   native ``zip_with``/``filter``/``size`` over the two arrays.
2. **SimHash Hamming** — native ``bit_count(a ^ b)``.
   A pair skips exact verification only if BOTH the Hamming distance is
   large AND the MinHash estimate is far below threshold — a
   recall-safe conjunction (a true ≥τ pair fails it with probability
   ≈ P[Binomial(128, τ) < 64·τ] ≈ 10⁻⁶ at τ=0.8).
3. **Exact Jaccard from hashed-shingle arrays** — the distinct doc ids
   appearing in any candidate pair are semi-joined to the source, each
   doc is shingled ONCE (Arrow-batched ``mapInPandas``, the same kernel
   the signature stage uses), and the per-pair intersection is computed
   JVM-side with ``array_intersect``/``size`` — no Python in the
   per-pair hot path, and a doc in k pairs is shingled once, not k
   times.  "Exact" means exact w.r.t. the reference shingle config
   (the BASELINE.json recall definition): hashed-shingle Jaccard equals
   string-shingle Jaccard absent 64-bit collisions.
4. **Suffix-array substring rescue** — ONLY pairs that failed the
   Jaccard threshold but show shingle containment ≥ 0.9 join content
   (a small fraction of candidates); the per-partition suffix-array
   kernel confirms verbatim containment and passes the pair's scored
   columns through.  The verified edges are then one union of two
   filters over the scored pairs (above threshold; confirmed rescue):
   the scored pairs are neither persisted nor joined back to the
   rescue output.  Nothing in the verify plan is persisted, so AQE
   reuses every exchange the two branches share (enrich joins,
   shingle table, scoring joins): the rescue branch adds only its two
   content joins.

At 10⁹ candidate edges with 10 KB docs this shuffles hashed-shingle
arrays for the candidate docs instead of k content copies per doc —
and, more importantly, keeps the whole per-pair scoring inside
whole-stage codegen.

An edge is verified iff ``jaccard ≥ τ`` OR verbatim containment.
``dist = 1 − jaccard`` (the reference's similarity→distance flip,
selfclean_cleaner.py:142-144, clipped to [0,1] at :147-149 — Jaccard is
already in [0,1] so the clip is structural here).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from selfclean_spark.config import PipelineConfig, SignatureConfig
from selfclean_spark.functions import sketches
from selfclean_spark.functions.suffix import sa_contains, suffix_array
from selfclean_spark.functions.worker import worker_task

VERIFIED_SCHEMA = StructType(
    [
        StructField("id_a", LongType(), False),
        StructField("id_b", LongType(), False),
        StructField("sha_a", StringType(), False),
        StructField("sha_b", StringType(), False),
        StructField("n_bands_hit", IntegerType(), True),
        StructField("jaccard_est", DoubleType(), True),
        StructField("hamming", IntegerType(), True),
        StructField("jaccard", DoubleType(), False),
        StructField("substring", BooleanType(), False),
        StructField("dist", DoubleType(), False),
    ]
)

_SHINGLE_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("shingles", ArrayType(LongType(), False), False),
    ]
)

def enrich_candidates(pairs: DataFrame, signatures: DataFrame) -> DataFrame:
    """Attach per-side sketches + shas and compute the native tiers
    (estimate + Hamming).  Two hash joins on the long id key; signature
    rows are narrow (no content)."""
    sig_a = signatures.select(
        F.col("id").alias("id_a"),
        F.col("content_sha").alias("sha_a"),
        F.col("minhash").alias("minhash_a"),
        F.col("simhash").alias("simhash_a"),
    )
    sig_b = signatures.select(
        F.col("id").alias("id_b"),
        F.col("content_sha").alias("sha_b"),
        F.col("minhash").alias("minhash_b"),
        F.col("simhash").alias("simhash_b"),
    )
    n_perm = "cast(size(minhash_a) as double)"
    return (
        pairs.join(sig_a, "id_a").join(sig_b, "id_b")
        .withColumn(
            "jaccard_est",
            F.expr(
                "size(filter(zip_with(minhash_a, minhash_b, (x, y) -> x = y), v -> v))"
                f" / {n_perm}"
            ),
        )
        .withColumn(
            "hamming", F.expr("cast(bit_count(simhash_a ^ simhash_b) as int)")
        )
        .drop("minhash_a", "minhash_b", "simhash_a", "simhash_b")
    )


def shingle_table(
    pairs: DataFrame, ingested: DataFrame, sig_cfg: SignatureConfig
) -> DataFrame:
    """Hashed-shingle arrays for every doc appearing in ``pairs`` —
    each candidate doc shingled exactly once (the signature stage's
    kernel, re-run only for the candidate subset; at LSH candidate
    densities that subset is a small fraction of the corpus)."""
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    docs = ingested.select("id", "content").join(ids, "id")

    # OUTPUT rows are ~8× the input text in char mode (one int64 per
    # char k-gram), so emitting one output batch per input batch would
    # build ~200 MB Arrow batches at the default 2000-row input cap ×
    # 32 local threads — the 8 GB-heap OOM observed at the 1M-file
    # capacity run.  Chunked emission bounds each output record batch
    # to ~chunk × avg_shingles × 8 B regardless of input batch size.
    chunk = 256

    @worker_task
    def shingle_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for s in range(0, len(pdf), chunk):
                sub = pdf.iloc[s : s + chunk]
                out = [
                    sketches.shingle(c, sig_cfg).view(np.int64)
                    for c in sub["content"].to_numpy()
                ]
                yield pd.DataFrame(
                    {"id": sub["id"].to_numpy(), "shingles": out}
                )

    return docs.mapInPandas(shingle_batches, schema=_SHINGLE_SCHEMA)


def _substring_rescue(
    rescue_pairs: DataFrame,
    ingested: DataFrame,
    carry: tuple[str, ...] = ("id_a", "id_b"),
) -> DataFrame:
    """Suffix-array verbatim-containment confirm for the (small) set of
    below-threshold pairs with high shingle containment.  The ONLY
    place raw content enters the verification plan.  Returns the
    ``carry`` columns of ``rescue_pairs`` plus ``substring``."""
    content = ingested.select("id", "content")
    with_content = (
        rescue_pairs.select(*carry)
        .join(
            content.select(
                F.col("id").alias("id_a"), F.col("content").alias("content_a")
            ),
            "id_a",
        )
        .join(
            content.select(
                F.col("id").alias("id_b"), F.col("content").alias("content_b")
            ),
            "id_b",
        )
    )

    @worker_task
    def confirm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            sub = np.zeros(n, dtype=bool)
            ca = pdf["content_a"].to_numpy()
            cb = pdf["content_b"].to_numpy()
            sa_cache: dict[str, np.ndarray] = {}
            for i in range(n):
                inner, outer = (
                    (ca[i], cb[i]) if len(ca[i]) <= len(cb[i]) else (cb[i], ca[i])
                )
                hay = outer.encode("utf-8", "surrogatepass")
                sarr = sa_cache.get(outer)
                if sarr is None:
                    sarr = sa_cache[outer] = suffix_array(hay)
                sub[i] = sa_contains(
                    hay, sarr, inner.encode("utf-8", "surrogatepass")
                )
            yield pdf[list(carry)].assign(substring=sub)

    schema = StructType(
        [rescue_pairs.schema[c] for c in carry]
        + [StructField("substring", BooleanType(), False)]
    )
    return with_content.mapInPandas(confirm_batches, schema=schema)


def substring_confirm(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Public SA-containment check: for each (id_a, id_b) pair, is the
    SHORTER document verbatim contained in the longer one?

    Thin wrapper over the suffix-array rescue kernel so callers (the
    ``substring_containment_pairs`` query, decontamination audits) can
    confirm containment for an arbitrary pair set, not just the
    below-threshold rescue slice of the dedup pipeline.  ``docs`` is
    any (id, content) relation; pairs are expected to be a candidate
    subset (each side is a hash join on the long id key — never a
    content cross join).

    Returns (id_a, id_b, substring).
    """
    return _substring_rescue(pairs, docs)


def verify_candidates(
    pairs: DataFrame, ingested: DataFrame, signatures: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Candidate pairs → verified_edges (FIXTURES.md §5 schema)."""
    sig_cfg = cfg.signature
    tau = cfg.jaccard_threshold

    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    na = F.size("sh_a").cast("double")
    nb = F.size("sh_b").cast("double")

    if "shingles" in signatures.columns:
        # FUSED path (r6, guide §2.4): when the signature table already
        # carries the hashed-shingle arrays (token mode), the exact
        # Jaccard rides the SAME two per-side joins as the sketch tiers
        # — one linear plan, no same-sha/diff-sha branch split.  The
        # old split recomputed the whole candidate subtree (band
        # bucket-size groupBy + capped self-join) once per branch —
        # measured 6 ShuffledHashJoins where the algorithm needs 2.
        # Byte-identical pairs have identical shingle arrays, so the
        # array Jaccard is exactly 1.0 — the fast-path literal and the
        # computed value coincide bit-for-bit and the oracle hash is
        # unchanged.
        sig_a = signatures.select(
            F.col("id").alias("id_a"),
            F.col("content_sha").alias("sha_a"),
            F.col("minhash").alias("minhash_a"),
            F.col("simhash").alias("simhash_a"),
            F.col("shingles").alias("sh_a"),
        )
        sig_b = signatures.select(
            F.col("id").alias("id_b"),
            F.col("content_sha").alias("sha_b"),
            F.col("minhash").alias("minhash_b"),
            F.col("simhash").alias("simhash_b"),
            F.col("shingles").alias("sh_b"),
        )
        n_perm = "cast(size(minhash_a) as double)"
        enriched = pairs.join(sig_a, "id_a").join(sig_b, "id_b").select(
            "*",
            F.expr(
                "size(filter(zip_with(minhash_a, minhash_b, (x, y) -> x = y), v -> v))"
                f" / {n_perm}"
            ).alias("jaccard_est"),
            F.expr("cast(bit_count(simhash_a ^ simhash_b) as int)").alias(
                "hamming"
            ),
        )
        # recall-safe cheap reject: drop only if far by BOTH sketches
        survivors = enriched.filter(
            ~(
                (F.col("hamming") > F.lit(cfg.max_hamming))
                & (F.col("jaccard_est") < F.lit(cfg.jaccard_threshold / 2.0))
            )
        )
        scored = survivors.select(
            "*",
            (inter / (na + nb - inter)).alias("jaccard"),
            (inter / F.least(na, nb)).alias("containment"),
        ).drop("minhash_a", "minhash_b", "simhash_a", "simhash_b", "sh_a", "sh_b")
        return _finish_verify(scored, ingested, cfg, tau)

    enriched = enrich_candidates(pairs, signatures)
    # recall-safe cheap reject: drop only if far by BOTH sketches
    survivors = enriched.filter(
        ~(
            (F.col("hamming") > F.lit(cfg.max_hamming))
            & (F.col("jaccard_est") < F.lit(cfg.jaccard_threshold / 2.0))
        )
    )

    # sha fast path: byte-identical content ⇒ identical shingle sets ⇒
    # Jaccard exactly 1 — no shingling needed.  Real corpora are
    # 30%+ verbatim duplicates, so this skips the Python shingle pass
    # for every doc whose pairs are all exact copies.
    same_sha = F.col("sha_a") == F.col("sha_b")

    # shingle arrays: shingle once per candidate doc appearing in a
    # sha-differing pair.  Not persisted: every reference to it (both
    # join sides, in both branches of the rescue union) plans the same
    # exchange, which AQE reuses, so the kernel runs once.  Spark 4.1
    # reuses no exchange above an InMemoryRelation, so a persisted
    # table would be broadcast (or shuffled) once per reference
    shingles = shingle_table(survivors.filter(~same_sha), ingested, sig_cfg)
    sh_a = shingles.select(
        F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = shingles.select(
        F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    # left joins: a sha-equal pair's docs need not be shingled, so both
    # kinds of pair share one plan
    scored = (
        survivors.join(sh_a, "id_a", "left")
        .join(sh_b, "id_b", "left")
        .withColumn(
            "jaccard",
            F.when(same_sha, F.lit(1.0)).otherwise(inter / (na + nb - inter)),
        )
        .withColumn(
            "containment",
            F.when(same_sha, F.lit(1.0)).otherwise(inter / F.least(na, nb)),
        )
        .drop("sh_a", "sh_b")
    )
    return _finish_verify(scored, ingested, cfg, tau)


def _finish_verify(
    scored: DataFrame, ingested: DataFrame, cfg: PipelineConfig, tau: float
) -> DataFrame:

    base_cols = (
        "id_a", "id_b", "sha_a", "sha_b", "n_bands_hit",
        "jaccard_est", "hamming", "jaccard",
    )
    edges = (
        scored.filter(F.col("jaccard") >= F.lit(tau))
        .select(*base_cols, (F.col("sha_a") == F.col("sha_b")).alias("substring"))
    )
    if cfg.check_substring:
        # rescue: a true substring pair has essentially all inner
        # shingles inside the outer doc.  The rescue carries every
        # column the union needs, so the plan is one union of two
        # filters over ``scored``.  Content enters only under the rescue
        # branch, for the rescue pairs.
        rescue_in = scored.filter(
            (F.col("jaccard") < F.lit(tau)) & (F.col("containment") >= 0.9)
        )
        edges = edges.unionByName(
            _substring_rescue(rescue_in, ingested, carry=base_cols).filter(
                F.col("substring")
            )
        )
    return edges.select(
        "id_a",
        "id_b",
        "sha_a",
        "sha_b",
        F.col("n_bands_hit").cast("int").alias("n_bands_hit"),
        F.col("jaccard_est").cast("double").alias("jaccard_est"),
        "hamming",
        F.col("jaccard").cast("double").alias("jaccard"),
        "substring",
        (F.lit(1.0) - F.col("jaccard")).alias("dist"),
    )
