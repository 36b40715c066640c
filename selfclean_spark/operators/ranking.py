"""Stage 6 — the three issue rankings.

Reference analogs (semantics preserved, mechanism distributed):

* **near_duplicates** — the reference fully sorts all N(N−1)/2 pair
  distances ascending (selfclean/cleaner/near_duplicates/
  embedding_distance_mixin.py:41-83).  We sort the *verified edges*
  (every pair whose distance the engine asserts); at test scale with a
  brute-force oracle this is provably the same head of the ranking —
  every pair below threshold is a candidate with ≥0.99 probability.
  Global ``orderBy`` = Spark range-partitioned sort; the explicit
  ``rank`` column uses a deterministic tiebreak (dist, id_a, id_b).
* **isolation** (off-topic analog) — the reference scores each sample
  by how late it merges in the single-linkage dendrogram
  (lad_mixin.py:16-34) or by a per-row distance quantile
  (quantile_off_topic_mixin.py:15).  Scalable analog: distance to a
  deterministic *anchor set* (k-center style sketch): score =
  min over anchors of estimated distance (1 − MinHash-agreement), so an
  isolated row (far from everything) scores high.  Anchors are the A
  smallest xxhash64(id) rows — deterministic, partition-independent.
  The anchor signature matrix is collected once (A·128 longs) and
  broadcast inside a vectorized pandas UDF — no N² term.
* **lang_mismatch** (label-error analog) — the reference scores
  min_extra²/(min_intra² + min_extra²) from the dense matrix
  (label_errors/intra_extra_distance_mixin.py:21-42).  Same formula
  computed from verified-edge distances: per id, min distance to a
  same-lang / different-lang neighbor, missing side defaulting to 1.0
  (the max distance, matching the reference's masked-max fallback
  semantics for singleton labels at :33-40).  Sorted ascending — low
  score = likely mislabel (clone with a different lang scores 0).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from selfclean_spark.functions import sketches
from selfclean_spark.functions.rank import Observer, with_global_rank
from selfclean_spark.functions.worker import worker_task


def _meta(metadata: DataFrame, suffix: str = "") -> DataFrame:
    """The (id, repo, path, lang) result dimension, names suffixed."""
    return metadata.select(
        *(F.col(c).alias(c + suffix) for c in ("id", "repo", "path", "lang"))
    )


def near_duplicate_ranking(
    verified: DataFrame, metadata: DataFrame, observe: Observer | None = None
) -> DataFrame:
    """verified_edges → ranked pair table with metadata for both ends.

    Exact duplicates (dist 0) rank first — the reference's canonical
    planted-duplicate assertion (tests/.../test_embedding_distance.py:22-40).
    ``observe`` rides the rank leaf's checkpoint (``with_global_rank``).
    """
    # metadata is joined BEFORE ranking (inner joins on the full-universe
    # id dimension: same rows), so the checkpointed rank leaf carries
    # every output column and the final write reads the leaf, not the
    # joins
    pairs = (
        verified.select("id_a", "id_b", "dist", "jaccard", "substring")
        .join(_meta(metadata, "_a"), "id_a")
        .join(_meta(metadata, "_b"), "id_b")
    )
    return (
        with_global_rank(
            pairs,
            [F.col("dist").asc(), F.col("id_a").asc(), F.col("id_b").asc()],
            observe=observe,
        )
        .select(
            "rank", "id_a", "id_b", "dist", "jaccard", "substring",
            "repo_a", "path_a", "lang_a", "repo_b", "path_b", "lang_b",
        )
    )


def isolation_ranking(
    signatures: DataFrame,
    metadata: DataFrame,
    n_anchors: int = 256,
    observe: Observer | None = None,
) -> DataFrame:
    """Anchor-distance isolation score, descending (rank 1 = most
    isolated ≙ off-topic rank 1, tests/.../test_lad_scoring.py:9-19).
    ``observe`` rides the rank leaf's checkpoint."""
    anchors = (
        signatures.select("id", "minhash")
        .orderBy(F.xxhash64("id"))
        .limit(n_anchors)
        .collect()
    )
    anchor_ids = np.array([r["id"] for r in anchors], dtype=np.int64)
    anchor_mat = np.array([r["minhash"] for r in anchors], dtype=np.int64)  # (A, P)
    spark = signatures.sparkSession
    b_ids = spark.sparkContext.broadcast(anchor_ids)
    b_mat = spark.sparkContext.broadcast(anchor_mat)

    @F.pandas_udf(DoubleType())
    @worker_task
    def iso_score(ids: pd.Series, minhash: pd.Series) -> pd.Series:
        amat = b_mat.value  # (A, P)
        aids = b_ids.value
        sigs = np.stack(minhash.to_numpy())  # (N, P) int64
        # agreement fraction vs every anchor: (N, A)
        agree = (sigs[:, None, :] == amat[None, :, :]).mean(axis=2)
        # a row must not match itself when it IS an anchor
        self_mask = ids.to_numpy()[:, None] == aids[None, :]
        agree = np.where(self_mask, -1.0, agree)
        return pd.Series(1.0 - agree.max(axis=1))

    scored = signatures.select(
        "id", iso_score("id", "minhash").alias("score")
    ).join(_meta(metadata), "id")
    return (
        with_global_rank(
            scored, [F.col("score").desc(), F.col("id").asc()], observe=observe
        )
        .select("rank", "id", "score", "repo", "path", "lang")
    )


def lad_offtopic_ranking(
    signatures: DataFrame, metadata: DataFrame, n_sample: int = 2000
) -> DataFrame:
    """The reference's actual off-topic scorer — single-linkage + LAD
    sweep (lad_mixin.py:16-34, lad_scoring.py:28-208) — on a
    deterministic driver-side sample (SURVEY.md A8: full dendrograms
    are sequential; run them on ≤10⁴ sampled rows only, the distributed
    path is :func:`isolation_ranking`).

    Pairwise distances are MinHash-estimated (1 − agreement fraction):
    one (S, P) == (S, P) tensor compare on the driver, S = sample size.
    Emission order of the sweep IS the ranking (rank 1 = most isolated).
    """
    from selfclean_spark.functions.linkage import lad_ranking

    sample = (
        signatures.select("id", "minhash")
        .orderBy(F.xxhash64("id"))
        .limit(n_sample)
        .collect()
    )
    ids = np.array([r["id"] for r in sample], dtype=np.int64)
    sigs = np.array([r["minhash"] for r in sample], dtype=np.int64)  # (S, P)
    agree = (sigs[:, None, :] == sigs[None, :, :]).mean(axis=2)
    dist = 1.0 - agree
    np.fill_diagonal(dist, 0.0)
    scores, order = lad_ranking(dist)
    # pandas → Arrow keeps the table on the JVM side (a driver-side
    # list would go through a Python RDD and its own worker pool)
    ranked = signatures.sparkSession.createDataFrame(
        pd.DataFrame({
            "rank": np.arange(1, len(order) + 1, dtype=np.int32),
            "id": ids[np.asarray(order, dtype=np.int64)],
            "score": np.asarray(scores, dtype=np.float64),
        }),
        "rank int, id long, score double",
    )
    return ranked.join(_meta(metadata), "id").select(
        "rank", "id", "score", "repo", "path", "lang"
    ).orderBy("rank")


def quantile_isolation_ranking(
    verified: DataFrame, universe: DataFrame, q: float = 0.01
) -> DataFrame:
    """The reference's alternative off-topic scorer — per-row distance
    quantile (quantile_off_topic_mixin.py:15 ``np.quantile(dist_matrix,
    q, axis=0)``, sorted desc :17-21) — over verified-edge distances.
    Rows with no edges take the max distance 1.0 (they are maximally
    isolated w.r.t. everything the engine asserted)."""
    per_node = verified.select(F.col("id_a").alias("id"), "dist").union(
        verified.select(F.col("id_b").alias("id"), "dist")
    )
    agg = per_node.groupBy("id").agg(
        F.expr(f"percentile(dist, {q})").alias("score")
    )
    scored = (
        universe.select("id")
        .join(agg, "id", "left")
        .select("id", F.coalesce("score", F.lit(1.0)).alias("score"))
    )
    return with_global_rank(
        scored, [F.col("score").desc(), F.col("id").asc()]
    ).select("rank", "id", "score")


def knn_edges(verified: DataFrame, k: int = 10) -> DataFrame:
    """Per-item k nearest neighbors over verified edges — the analog of
    the reference's Annoy per-item top-k (embedding_distance_mixin.py:
    107-115 ``get_nns_by_item``), as a window over the pair table."""
    per_node = verified.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("neighbor_id"), "dist"
    ).union(
        verified.select(
            F.col("id_b").alias("id"), F.col("id_a").alias("neighbor_id"), "dist"
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return (
        per_node.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("id", "knn_rank", "neighbor_id", "dist")
    )


def lang_mismatch_ranking(
    verified: DataFrame, metadata: DataFrame, observe: Observer | None = None
) -> DataFrame:
    """Intra/extra-distance label-error analog over verified edges.

    Returns every id that has at least one verified edge, scored
    min_extra² / (min_intra² + min_extra²), ascending (score 0 ⇒ a
    verbatim clone exists under a different lang).  Ids with no edges
    carry no signal — the reference's "can't detect label errors"
    warning cases (intra_extra_distance_mixin.py:48-53) — and are
    omitted.  ``observe`` rides the rank leaf's checkpoint.
    """
    lang_dim = metadata.select("id", "lang")
    edges = (
        verified.select("id_a", "id_b", "dist")
        .join(lang_dim.select(F.col("id").alias("id_a"), F.col("lang").alias("lang_a")), "id_a")
        .join(lang_dim.select(F.col("id").alias("id_b"), F.col("lang").alias("lang_b")), "id_b")
    )
    # each edge contributes to both endpoints
    per_node = edges.select(
        F.col("id_a").alias("id"), "dist", (F.col("lang_a") == F.col("lang_b")).alias("same")
    ).union(
        edges.select(
            F.col("id_b").alias("id"), "dist", (F.col("lang_a") == F.col("lang_b")).alias("same")
        )
    )
    agg = per_node.groupBy("id").agg(
        F.coalesce(F.min(F.when(F.col("same"), F.col("dist"))), F.lit(1.0)).alias("min_intra"),
        F.coalesce(F.min(F.when(~F.col("same"), F.col("dist"))), F.lit(1.0)).alias("min_extra"),
    )
    # squares via multiplication, not pow(): bit-identical across
    # engines (the DuckDB oracle twin computes the same products)
    sq_extra = F.col("min_extra") * F.col("min_extra")
    sq_intra = F.col("min_intra") * F.col("min_intra")
    scored = agg.withColumn("score", sq_extra / (sq_intra + sq_extra)).join(
        _meta(metadata), "id"
    )
    return (
        with_global_rank(
            scored, [F.col("score").asc(), F.col("id").asc()], observe=observe
        )
        .select("rank", "id", "score", "min_intra", "min_extra", "repo", "path", "lang")
    )
