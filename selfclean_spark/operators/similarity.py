"""Similarity search over an embedding column (array<float>).

The reference's Annoy approximate-kNN join
(selfclean/cleaner/near_duplicates/embedding_distance_mixin.py:92-127)
builds a single-node angular index; the distributed analogs here are:

* ``cosine_topk`` — exact brute-force top-k for a (small, broadcast)
  query set: the baseline & oracle.  Dot products are native
  ``aggregate(zip_with(...))`` expressions (JVM, no Python).
* ``lsh_topk`` — random-hyperplane LSH (sign sketch, the vector
  SimHash): bucket vectors by sign-pattern prefixes, search only
  bucket collisions.  The scale path: candidate count per query is
  ~N/2^bits per table instead of N.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.storagelevel import StorageLevel

from selfclean_spark.functions.distances import cosine_similarity, get_distance
from selfclean_spark.functions.worker import worker_task
from selfclean_spark.operators import candidates as cand_ops

# native cosine similarity between two array<float/double> cols
# (canonical home: functions.distances — shared with the kernel registry)
_cosine = cosine_similarity

# max rows per (table_id, bucket) sign-sketch bucket before the bucket
# is dropped from the candidate join — the vector twin of the text
# path's band_bucket_cap / simhash block_cap (count-first, never an
# m² expansion).  Degenerate buckets are dominated by identical/near-
# identical embedding families (zero vectors, default embeddings),
# whose pairs the exact fast path below recovers from full-vector
# equality.
DEFAULT_BUCKET_CAP = 2_000


def _capped_signatures(
    sigs: DataFrame, bucket_cap: int
) -> tuple[DataFrame, DataFrame]:
    """(id, vec_sha, table_id, bucket) → (under-cap rows, the full
    signature stream — the exact-pair rescue reads the latter: it must
    see rows in DROPPED buckets too).

    Same count-first discipline as ``candidates.capped_self_join``:
    over-cap keys are filtered out before the self-join expands, so a
    10^6-copy embedding family can never create 10^12 candidate rows.
    This keeps its own count window instead of calling
    ``capped_self_join`` because the rescue reads the UNFILTERED window
    output: both pair sides and that read are served by AQE exchange
    reuse from the one hash(table_id, bucket) shuffle.  The hyperplane
    matmul UDF therefore runs once, on the exchange's map side, with no
    persist (a cached relation below the exchange would BREAK exchange
    reuse — InMemoryRelation subtrees do not canonicalize equal in
    Spark 4.1 — re-running the UDF per consumer).  The 8-byte
    ``vec_sha`` rides the same rows so the rescue still costs no second
    corpus pass.
    """
    keys = ["table_id", "bucket"]
    plain = sigs.select(
        "id",
        "vec_sha",
        *keys,
        F.count(F.lit(1)).over(Window.partitionBy(*keys)).alias("bs"),
    )
    capped = plain.filter(
        (F.col("bs") >= 2) & (F.col("bs") <= bucket_cap)
    ).drop("bs")
    return capped, plain.drop("bs")


def _exact_vector_pairs(sigs_cached: DataFrame, pair_cap: int) -> DataFrame:
    """(id_a < id_b) pairs of byte-identical embedding vectors — the
    fast path that keeps identical-vector families (the very rows that
    overflow sign-sketch buckets) pairable after the bucket cap.

    Reads the full signature stream off the shared bucket exchange
    (which carries ``vec_sha`` computed in the same scan as the sketch
    — no second corpus pass; one table's rows suffice since vec_sha
    repeats per table) and reuses the sha-equality kernel: groups ≤
    ``pair_cap`` emit all pairs, larger groups emit linear star edges
    (same components, bounded output) — see
    ``candidates.exact_duplicate_pairs``."""
    keyed = sigs_cached.filter(F.col("table_id") == 0).select(
        "id", F.col("vec_sha").alias("content_sha")
    )
    return cand_ops.exact_duplicate_pairs(keyed, pair_cap=pair_cap)


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
        .withColumn("cosine", _cosine("qvec", "nvec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "knn_rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def distance_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest neighbors under a REGISTERED distance kernel
    (``functions.distances.DISTANCE_KERNELS``) — the pluggable-metric
    analog of the reference's custom distance function hook
    (selfclean_cleaner.py:39-40,77-80; e.g. metric="projective" ranks
    antipodal vectors as duplicates).  Same broadcast-query physical
    shape as :func:`cosine_topk`; ties break on neighbor id."""
    kernel = get_distance(metric)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dist", kernel("qvec", "nvec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            "query_id", "knn_rank", "neighbor_id",
            F.round("dist", 6).alias("dist"),
        )
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

    # vec_sha rides the same scan (native xxhash64 over the raw array):
    # the exact-duplicate rescue path then needs no second corpus pass
    return embeddings.select(
        F.col(id_col).alias("id"),
        F.xxhash64(F.col(vec_col)).alias("vec_sha"),
        F.posexplode(bucket_arr(F.col(vec_col))).alias("table_id", "bucket"),
    )


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
    exact_from_scan: bool = False,
) -> DataFrame:
    """Approximate all-pairs top-k: vectors meet iff they share a
    sign-sketch bucket in any table; exact cosine is computed only for
    collisions.  Returns (query_id, knn_rank, neighbor_id, cosine).

    Buckets larger than ``bucket_cap`` are dropped from the join
    (count-first — no m² expansion on degenerate embedding families);
    byte-identical vectors stay pairable through the exact fast path
    (cosine exactly 1.0, star-shaped beyond the cap), so every member
    of an over-cap identical family still reports its exact twin(s).

    ``exact_from_scan`` picks where the exact-duplicate branch reads
    its (id, vec_sha) keys — output is byte-identical either way, only
    the physical plan differs:

    - ``False`` (scale default): ride the persisted sketch table, so
      the corpus is scanned ONCE total (the hyperplane UDF scan also
      carries the native xxhash64) — at 10⁹ vectors a second full
      corpus pass dwarfs everything else.
    - ``True`` (small-corpus): read a fresh native-only scan of the
      source (xxhash64, no Python UDF).  Below ~10⁵ rows the second
      parquet scan is microseconds, while the cache path serializes
      the exact branch behind the sketch-UDF persist barrier — ~8
      small-stage scheduling costs the A/B in BENCH/BASELINE.md
      measures at ~1.5 s on the 2k-row bench corpus.  Callers that
      know the corpus size (e.g. ``queries.lsh_topk_ann`` via its
      memoized parquet count) flip this adaptively."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    sigs = hyperplane_signatures(
        embeddings, dim, n_bits, n_tables, seed, id_col, vec_col
    )
    capped, sx = _capped_signatures(sigs, bucket_cap)
    a = capped.select("table_id", "bucket", F.col("id").alias("query_id"))
    b = capped.select("table_id", "bucket", F.col("id").alias("neighbor_id"))
    if exact_from_scan:
        keyed = embeddings.select(
            F.col(id_col).alias("id"),
            F.xxhash64(F.col(vec_col)).alias("content_sha"),
        )
        exact = cand_ops.exact_duplicate_pairs(keyed, pair_cap=bucket_cap)
    else:
        exact = _exact_vector_pairs(sx, bucket_cap)
    # kNN is directed: an exact pair feeds both endpoints' neighbor lists
    exact_directed = exact.select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id")
    ).unionByName(
        exact.select(
            F.col("id_b").alias("query_id"), F.col("id_a").alias("neighbor_id")
        )
    )
    cand = (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .unionByName(exact_directed)
        .distinct()
    )
    vecs = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    scored = (
        cand.join(vecs.select(F.col("id").alias("query_id"), F.col("vec").alias("qvec")), "query_id")
        .join(vecs.select(F.col("id").alias("neighbor_id"), F.col("vec").alias("nvec")), "neighbor_id")
        .withColumn("cosine", _cosine("qvec", "nvec"))
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
    kmeans_iters: int = 0,
) -> np.ndarray:
    """Deterministic IVF coarse centroids: the ``n_centroids`` vectors
    with the smallest ``xxhash64(id, seed)`` — a seeded uniform sample
    (at 10^9+ vectors, one TakeOrdered job).  L2-normalized rows.

    ``kmeans_iters > 0`` runs that many distributed spherical-k-means
    Lloyd refinements on top of the sample: assign every vector to its
    nearest centroid (one vectorized matmul per Arrow batch), average
    per (cell, dimension) — a narrow native aggregation of exploded
    (cell, dim, value) triples, C·D rows collected — renormalize.
    Refinement tightens cells (better recall at the same n_probe) at
    the cost of ``kmeans_iters`` extra jobs; note the per-cell float
    averages are partition-order dependent at the ulp level, so
    refined centroids are deterministic only for a fixed partitioning
    (the hash-sample default is deterministic unconditionally — why it
    stays the default and the oracle-checked configuration)."""
    rows = (
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64("id", F.lit(seed)), F.col("id"))
        .limit(n_centroids)
        .collect()
    )
    mat = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    cents = mat / norms

    for _ in range(kmeans_iters):
        planes = cents  # closure snapshot for this round

        @F.pandas_udf("int")
        @worker_task
        def assign(vecs: pd.Series) -> pd.Series:
            m = np.stack(vecs.to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(m, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0
            return pd.Series(
                np.argmax((m / nrm) @ planes.T, axis=1).astype(np.int32)
            )

        sums = (
            embeddings.select(
                assign(F.col(vec_col)).alias("cell"),
                F.posexplode(F.col(vec_col)).alias("dim", "val"),
            )
            .groupBy("cell", "dim")
            .agg(F.avg(F.col("val").cast("double")).alias("mean"))
            .collect()
        )
        new = cents.copy()  # empty cells keep their previous centroid
        got = {}
        for r in sums:
            got.setdefault(int(r["cell"]), {})[int(r["dim"])] = float(r["mean"])
        for c, dims in got.items():
            for d, v in dims.items():
                new[c, d] = v
        nrm = np.linalg.norm(new, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        cents = new / nrm
    return cents


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine neighbors — the
    cell-partitioned scale path next to ``lsh_topk``'s sign-sketch one.

    Index: every data vector is assigned to its nearest of
    ``n_centroids`` coarse centroids (one vectorized matmul per Arrow
    batch).  Search: each query probes its ``n_probe`` nearest cells
    and reranks EXACTLY (native cosine) inside them.  With
    ``n_probe == n_centroids`` the search is exhaustive and the result
    equals exact :func:`cosine_topk` — that configuration is the
    oracle-checked one; recall at ``n_probe < n_centroids`` is the
    tested approximation knob.

    At 10^9 vectors each query touches ~N·n_probe/n_centroids rows,
    and the cell assignment shuffles ids only (vectors join back by
    id) — the same candidates-only discipline as the text LSH path.
    """
    cents = ivf_centroids(
        embeddings, n_centroids, seed, id_col, vec_col, kmeans_iters
    )

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
        .withColumn("cosine", _cosine("qvec", "nvec"))
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
    are recovered by the exact fast path (all pairs up to the cap,
    linear star edges beyond it: same connected components, and every
    member still appears in a cosine-1.0 pair)."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    sigs = hyperplane_signatures(embeddings, dim, n_bits, n_tables, seed, id_col, vec_col)
    capped, sx = _capped_signatures(sigs, bucket_cap)
    a = capped.select("table_id", "bucket", F.col("id").alias("id_a"))
    b = capped.select("table_id", "bucket", F.col("id").alias("id_b"))
    exact = _exact_vector_pairs(sx, bucket_cap)
    cand = (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .unionByName(exact)
        .distinct()
    )
    vecs = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vb")), "id_b")
        .withColumn("cosine", _cosine("va", "vb"))
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
