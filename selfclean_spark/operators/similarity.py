"""Similarity search over an embedding column (array<float>).

The reference's Annoy approximate-kNN join
(selfclean/cleaner/near_duplicates/embedding_distance_mixin.py:92-127)
builds a single-node angular index; the distributed analogs here are:

* ``cosine_topk`` — exact brute-force top-k for a (small, broadcast)
  query set: the baseline & oracle.
* ``lsh_topk`` / ``embedding_cosine_dup_pairs`` — random-hyperplane
  LSH (sign sketch, the vector SimHash): bucket vectors by sign-pattern
  prefixes, search only bucket collisions.  The scale path: candidate
  count per query is ~N/2^bits per table instead of N.  Over-cap
  buckets are dropped; byte-identical vectors pair through the
  sha-equality kernel of the text path instead.
* ``ivf_topk`` — inverted-file cells around hash-sampled centroids.
* ``semdedup_prune`` — SemDeDup cell-local pruning, integer-exact.

Every score is the one native :func:`cosine_similarity` expression
(``aggregate(zip_with(...))``: JVM, whole-stage codegen, no Python in
the pair hot path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.storagelevel import StorageLevel

from selfclean_spark.functions.worker import worker_task
from selfclean_spark.operators import candidates as cand_ops

# max rows per (table_id, bucket) sign-sketch bucket before the bucket
# is dropped from the candidate join — the vector twin of the text
# path's band_bucket_cap / simhash block_cap (count-first, never an
# m² expansion).  Degenerate buckets are dominated by identical/near-
# identical embedding families (zero vectors, default embeddings),
# whose pairs the exact branch of :func:`_sketch_pairs` recovers from
# full-vector equality.
DEFAULT_BUCKET_CAP = 2_000


def cosine_similarity(a: str, b: str) -> Column:
    """Native cosine similarity between two array<float/double> cols."""
    dot = F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    na = F.sqrt(
        F.expr(
            f"aggregate({a}, cast(0.0 as double),"
            " (acc, v) -> acc + cast(v as double) * cast(v as double))"
        )
    )
    nb = F.sqrt(
        F.expr(
            f"aggregate({b}, cast(0.0 as double),"
            " (acc, v) -> acc + cast(v as double) * cast(v as double))"
        )
    )
    return dot / (na * nb)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of every query vector.

    ``queries`` is expected to be small (it is broadcast); the scan
    side streams once — the classic broadcast-nested-loop kNN.  Ties
    break on neighbor id (deterministic).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_similarity("qvec", "nvec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "knn_rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def hyperplane_signatures(
    embeddings: DataFrame,
    dim: int,
    n_bits: int = 16,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table_id, bucket) sign-sketch keys.

    ``n_tables`` independent sets of ``n_bits`` random hyperplanes
    (seeded Gaussian, tiny, captured in the UDF closure).  One Arrow
    batch = one (B, dim) × (dim, T·bits) matmul + sign + bit-pack —
    the whole sketch is a single vectorized pandas UDF call per batch
    (per-hyperplane native lambdas blow up codegen: 60 nested
    aggregate() expressions measured ~100× slower).
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables * n_bits, dim))  # (T*b, dim)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    @worker_task
    def bucket_arr(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (B, dim)
        signs = (mat @ planes.T) >= 0.0  # (B, T*bits)
        packed = (
            signs.reshape(len(mat), n_tables, n_bits) * weights[None, None, :]
        ).sum(axis=2)
        return pd.Series(list(packed.astype(np.int64)))

    return embeddings.select(
        F.col(id_col).alias("id"),
        F.posexplode(bucket_arr(F.col(vec_col))).alias("table_id", "bucket"),
    )


def _sketch_pairs(
    embeddings: DataFrame,
    dim: int | None,
    n_bits: int,
    n_tables: int,
    seed: int,
    id_col: str,
    vec_col: str,
    bucket_cap: int,
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs: vectors sharing a
    sign-sketch bucket in any table, plus byte-identical vectors.

    Bucket pairs come from ``candidates.capped_self_join`` on
    (table_id, bucket): count-first, so a 10^6-copy embedding family
    can never create 10^12 candidate rows.  The families that overflow
    a bucket are mostly identical vectors, so every identical pair is
    added from ``candidates.exact_duplicate_pairs`` over
    (id, xxhash64(vec)) projected from the input: groups ≤
    ``bucket_cap`` emit all pairs, larger groups emit linear star edges
    on the group minimum (same components, bounded output)."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    sigs = hyperplane_signatures(
        embeddings, dim, n_bits, n_tables, seed, id_col, vec_col
    )
    bucket = cand_ops.capped_self_join(sigs, ["table_id", "bucket"], bucket_cap)
    keyed = embeddings.select(
        F.col(id_col).alias("id"),
        F.xxhash64(F.col(vec_col)).alias("content_sha"),
    )
    exact = cand_ops.exact_duplicate_pairs(keyed, pair_cap=bucket_cap)
    return bucket.select("id_a", "id_b").unionByName(exact).distinct()


def lsh_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_bits: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Approximate all-pairs top-k: vectors meet iff they share a
    sign-sketch bucket in any table; exact cosine is computed only for
    collisions.  Returns (query_id, knn_rank, neighbor_id, cosine).

    Buckets larger than ``bucket_cap`` are dropped from the join
    (count-first — no m² expansion on degenerate embedding families);
    byte-identical vectors stay pairable through the exact branch
    (cosine exactly 1.0, star-shaped beyond the cap), so every member
    of an over-cap identical family still reports its exact twin(s).
    Pass ``dim`` to avoid the driver-side schema-probe action."""
    pairs = _sketch_pairs(
        embeddings, dim, n_bits, n_tables, seed, id_col, vec_col, bucket_cap
    )
    # kNN is directed: a pair feeds both endpoints' neighbor lists.  An
    # explode keeps the pair plan (sketch UDF included) a single
    # subtree, where a union would plan it twice.
    cand = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id")),
                F.struct(F.col("id_b").alias("query_id"), F.col("id_a").alias("neighbor_id")),
            )
        ).alias("p")
    ).select("p.query_id", "p.neighbor_id")
    vecs = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    scored = (
        cand.join(vecs.select(F.col("id").alias("query_id"), F.col("vec").alias("qvec")), "query_id")
        .join(vecs.select(F.col("id").alias("neighbor_id"), F.col("vec").alias("nvec")), "neighbor_id")
        .withColumn("cosine", cosine_similarity("qvec", "nvec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "knn_rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic IVF coarse centroids: the ``n_centroids`` vectors
    with the smallest ``xxhash64(id, seed)`` — a seeded uniform sample
    (at 10^9+ vectors, one TakeOrdered job).  L2-normalized rows.  The
    sample is deterministic for any partitioning, which is what lets
    the DuckDB twin check ``ivf_topk`` at full probe."""
    rows = (
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64("id", F.lit(seed)), F.col("id"))
        .limit(n_centroids)
        .collect()
    )
    mat = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine neighbors — the
    cell-partitioned scale path next to ``lsh_topk``'s sign-sketch one.

    Index: every data vector is assigned to its nearest of
    ``n_centroids`` coarse centroids — the hash sample of
    :func:`ivf_centroids`, no k-means refinement — with one vectorized
    matmul per Arrow batch.  Search: each query probes its ``n_probe`` nearest cells
    and reranks EXACTLY (native cosine) inside them.  With
    ``n_probe == n_centroids`` the search is exhaustive and the result
    equals exact :func:`cosine_topk` — that configuration is the
    oracle-checked one; recall at ``n_probe < n_centroids`` is the
    tested approximation knob.

    At 10^9 vectors each query touches ~N·n_probe/n_centroids rows,
    and the cell assignment shuffles ids only (vectors join back by
    id) — the same candidates-only discipline as the text LSH path.
    """
    cents = ivf_centroids(embeddings, n_centroids, seed, id_col, vec_col)

    @F.pandas_udf("int")
    @worker_task
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (mat / norms) @ cents.T  # (B, C)
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    n_probe_eff = min(n_probe, len(cents))

    @F.pandas_udf(ArrayType(LongType()))
    @worker_task
    def probe_cells(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (mat / norms) @ cents.T
        order = np.argsort(-sims, axis=1)[:, :n_probe_eff]
        return pd.Series(list(order.astype(np.int64)))

    cells = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        nearest_cell(F.col(vec_col)).cast("long").alias("cell"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_similarity("qvec", "nvec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            "query_id", "knn_rank", "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
        )
    )


def embedding_cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ τ)
    via the sign-sketch candidate join — the embedding-space analog of
    the MinHash text path.  Pass ``dim`` to avoid the driver-side
    schema-probe action.

    Hot-bucket safety mirrors the text path (band cap / simhash block
    cap): buckets beyond ``bucket_cap`` are count-first dropped, while
    byte-identical vectors — the families that create such buckets —
    are recovered by the exact branch of :func:`_sketch_pairs` (all
    pairs up to the cap, linear star edges beyond it: same connected
    components, and every member still appears in a cosine-1.0 pair)."""
    cand = _sketch_pairs(
        embeddings, dim, n_bits, n_tables, seed, id_col, vec_col, bucket_cap
    )
    vecs = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vb")), "id_b")
        .withColumn("cosine", cosine_similarity("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def _quant_i64(m: np.ndarray, scale: float) -> np.ndarray:
    """Quantize a (B, dim) float matrix to int64 with the documented
    exactness contract ENFORCED: the worst-case |dot| of two quantized
    vectors, max(|iv|)² · dim, must stay < 2^53 so integer dots are
    exact in both NumPy and DuckDB (and never silently wrap at 2^63 —
    NumPy wraps, DuckDB raises, and the two engines would diverge
    without this guard).  Out-of-contract input (embeddings far beyond
    unit scale, or very high dim at this quant_scale) fails loudly."""
    iv = np.floor(m * scale + 0.5).astype(np.int64)
    if iv.size:
        max_abs = int(np.abs(iv).max())
        dim = iv.shape[1]
        if max_abs * max_abs * dim >= (1 << 53):
            raise ValueError(
                "semdedup quantization contract violated: "
                f"max|iv|={max_abs} at dim={dim} gives worst-case "
                f"|dot| ≥ 2^53 — integer dots are no longer exact. "
                "Lower quant_scale or normalize the embeddings."
            )
    return iv


def semdedup_prune(
    embeddings: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.96,
    comparator_cap: int = 4_096,
    quant_scale: float = 1_000_000.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_rows_cap: int = 65_536,
    slice_rows: int = 16_384,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings into coarse cells, then
    within each cell drop every vector that has an earlier (lower-id)
    neighbor with cosine ≥ ``threshold``.  Returns one row per input
    vector: ``(id, cell, keep)`` — the distributed replacement for the
    reference's global O(N²) embedding-distance near-duplicate pruning
    (selfclean/cleaner/near_duplicates/embedding_distance_mixin.py:41-83).

    Scale shape: one TakeOrdered job samples ``n_centroids`` centroids
    (smallest ``xxhash64(id)``), one vectorized matmul per Arrow batch
    assigns cells, and ONE shuffle (by cell) feeds the grouped prune —
    within a cell the pairwise cosines are chunked BLAS matmuls, never
    materialized as rows.  ``n_centroids`` is the SemDeDup knob that
    bounds cell size (C ∝ N / target_cell); ``comparator_cap``
    additionally hard-bounds hot-cell work at O(m·cap): rows beyond the
    cap are compared only against the cell's first ``cap`` rows by id —
    deterministic, drop-side conservative (may keep extra rows, never
    false-drops).

    Hot-cell MEMORY is bounded too (not just compute): cell sizes are
    counted FIRST (one aggregation over the persisted cell assignment,
    ≤ ``n_centroids`` rows collected), and any cell larger than
    ``cell_rows_cap`` takes a split path instead of loading the whole
    cell into one ``applyInPandas`` group — the boilerplate-embedding
    degenerate cell can no longer OOM a single task.  The split
    preserves the cap semantics EXACTLY (bit-identical output, tested):
    rows beyond the first ``comparator_cap`` ids only ever compare
    against that comparator block, so the block (found by an ids-only
    per-cell ``row_number``, vectors never enter the sort) is pruned
    triangularly in one ≤ cap-row group, and the remaining rows are
    salted into ≤ ``slice_rows`` slices, each pruned against a
    replicated copy of the block — max pandas group size is
    ``max(comparator_cap, slice_rows + comparator_cap)`` regardless of
    cell skew, and over-cap cells are logged.

    Bit-deterministic across engines (and the reason this query sits on
    the hard DuckDB-oracle surface): vectors are quantized to int64
    (``floor(x·scale + 0.5)``), cell assignment is the argmax of EXACT
    integer dot products (ties → lowest cell index), and the pruning
    cosine is ``double(dot_int) / (sqrt(n2_a)·sqrt(n2_b))`` — integer
    dots and norms are exact (|dot| < 2^53 for ≤4096-dim unit-scale
    vectors), and the remaining float ops are elementwise IEEE, so
    NumPy and DuckDB agree to the last bit.  Zero-norm vectors are
    never dropped and never drop others.
    """
    from selfclean_spark import caching

    rows = (
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64("id"), F.col("id"))
        .limit(n_centroids)
        .collect()
    )
    fcents = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    icents = _quant_i64(fcents, quant_scale)

    @F.pandas_udf("int")
    @worker_task
    def cell_of(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        iv = _quant_i64(m, quant_scale)
        dots = iv @ icents.T  # exact int64
        return pd.Series(np.argmax(dots, axis=1).astype(np.int32))

    tau = float(threshold)
    cap = int(comparator_cap)
    scale = float(quant_scale)
    group_cap = max(int(cell_rows_cap), cap)
    out_schema = "id long, cell int, keep boolean"

    @worker_task
    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        iv = _quant_i64(m, scale)
        n2 = (iv * iv).sum(axis=1)
        n = len(pdf)
        c = min(cap, n)
        sq = np.sqrt(n2.astype(np.float64))
        comp, sqc, compn2 = iv[:c], sq[:c], n2[:c]
        keep = np.ones(n, dtype=bool)
        jj = np.arange(c)
        chunk = max(256, (1 << 22) // max(c, 1))
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            dots = (iv[s:e] @ comp.T).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (sq[s:e, None] * sqc[None, :])
            hit = cos >= tau  # NaN (zero norm) compares False
            hit &= (compn2 > 0)[None, :] & (n2[s:e] > 0)[:, None]
            hit &= jj[None, :] < np.arange(s, e)[:, None]  # earlier rows only
            keep[s:e] = ~hit.any(axis=1)
        return pd.DataFrame(
            {"id": pdf["id"], "cell": pdf["cell"], "keep": keep}
        )

    @worker_task
    def prune_slice(pdf: pd.DataFrame) -> pd.DataFrame:
        """One salted slice of a hot cell + the replicated comparator
        block: slice rows keep iff no EARLIER comparator is τ-near.
        (Comparator ids are the cell's ``cap`` smallest, so they are
        all earlier than every slice row; the id guard keeps the
        semantics explicit.)  Emits slice rows only."""
        comp_pdf = pdf[pdf["is_comp"]].sort_values("id").reset_index(drop=True)
        sl = pdf[~pdf["is_comp"]].reset_index(drop=True)
        if not len(sl):
            return pd.DataFrame({"id": [], "cell": [], "keep": []}).astype(
                {"id": "int64", "cell": "int32", "keep": "bool"}
            )
        civ = _quant_i64(
            np.stack(comp_pdf["v"].to_numpy()).astype(np.float64), scale
        )
        siv = _quant_i64(np.stack(sl["v"].to_numpy()).astype(np.float64), scale)
        cn2 = (civ * civ).sum(axis=1)
        sn2 = (siv * siv).sum(axis=1)
        csq, ssq = np.sqrt(cn2.astype(np.float64)), np.sqrt(sn2.astype(np.float64))
        cid = comp_pdf["id"].to_numpy()
        sid = sl["id"].to_numpy()
        keep = np.ones(len(sl), dtype=bool)
        chunk = max(256, (1 << 22) // max(len(civ), 1))
        for s in range(0, len(sl), chunk):
            e = min(s + chunk, len(sl))
            dots = (siv[s:e] @ civ.T).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (ssq[s:e, None] * csq[None, :])
            hit = cos >= tau
            hit &= (cn2 > 0)[None, :] & (sn2[s:e] > 0)[:, None]
            hit &= cid[None, :] < sid[s:e, None]
            keep[s:e] = ~hit.any(axis=1)
        return pd.DataFrame({"id": sid, "cell": sl["cell"], "keep": keep})

    cells = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        cell_of(F.col(vec_col)).alias("cell"),
    )
    # count-first: one pass over the persisted assignment decides which
    # cells are safe as single pandas groups.  ≤ n_centroids rows come
    # back to the driver; the persist also guarantees the cell_of UDF
    # runs ONCE even though the relation now has several consumers.
    cells = caching.register_persist(
        cells.persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = {
        int(r["cell"]): int(r["n"])
        for r in cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    hot = sorted(c for c, n in sizes.items() if n > group_cap)
    if hot:
        import logging

        logging.getLogger(__name__).warning(
            "semdedup: %d hot cell(s) over cell_rows_cap=%d split into "
            "bounded slices: %s",
            len(hot), group_cap, {c: sizes[c] for c in hot},
        )
    if not hot:
        return cells.groupBy("cell").applyInPandas(prune, out_schema)

    cold = cells.filter(~F.col("cell").isin(hot))
    cold_out = cold.groupBy("cell").applyInPandas(prune, out_schema)

    hot_rows = cells.filter(F.col("cell").isin(hot))
    # comparator block = first `cap` ids per hot cell, found with an
    # ids-only window — the per-cell sort never touches the vectors
    w = Window.partitionBy("cell").orderBy("id")
    comp_ids = (
        hot_rows.select("cell", "id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .select("cell", "id")
    )
    comp_rows = hot_rows.join(F.broadcast(comp_ids), ["cell", "id"])
    comp_out = comp_rows.groupBy("cell").applyInPandas(prune, out_schema)

    # rows beyond the block: salt into ≤ slice_rows slices, replicate
    # the block into every (cell, salt) group
    n_salts = {
        c: -(-(sizes[c] - cap) // max(int(slice_rows), 1)) for c in hot
    }
    salts_df = F.broadcast(
        cells.sparkSession.createDataFrame(
            [(c, n_salts[c]) for c in hot], "cell int, _n_salts int"
        )
    )
    rest = (
        hot_rows.join(F.broadcast(comp_ids), ["cell", "id"], "left_anti")
        .join(salts_df, "cell")
        .withColumn("salt", F.pmod(F.xxhash64("id"), F.col("_n_salts")))
        .select("cell", "salt", "id", "v", F.lit(False).alias("is_comp"))
    )
    comp_rep = (
        comp_rows.join(salts_df, "cell")
        .withColumn(
            "salt",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.col("_n_salts").cast("long") - 1
                )
            ),
        )
        .select("cell", "salt", "id", "v", F.lit(True).alias("is_comp"))
    )
    slice_out = (
        rest.unionByName(comp_rep)
        .groupBy("cell", "salt")
        .applyInPandas(prune_slice, out_schema)
    )
    return cold_out.unionByName(comp_out).unionByName(slice_out)
