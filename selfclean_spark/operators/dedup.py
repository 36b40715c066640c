"""Generic corpus-deduplication operators over any (id, text) relation.

The pipeline in ``plans.pipeline`` is specialized to the
``code_files`` relation; these operators expose the same primitives —
exact dedup, n-gram Jaccard near-dup, MinHash/LSH, SimHash — as
standalone DataFrame transformations a training-data pipeline would
call on a document corpus (e.g. the ``documents`` testdata table).

Everything except the sketch kernels is native Spark SQL (exact
ANSI-SQL oracle twins exist for the native ones).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from selfclean_spark import caching
from selfclean_spark.config import PipelineConfig, SignatureConfig
from selfclean_spark.operators import candidates as cand_ops
from selfclean_spark.operators import signatures as sig_ops
from selfclean_spark.operators import verify as verify_ops


def _std(df: DataFrame, id_col: str, text_col: str, fanout: bool = False) -> DataFrame:
    """Standardize to (id, content).

    ``fanout=True`` — set ONLY by operators whose next stage is a
    Python sketch pass (MinHash/SimHash ``mapInPandas``): a small
    corpus read from one parquet file arrives as ONE scan partition,
    which would serialize every Arrow batch through a single task, so
    few-file inputs are fanned out to the default parallelism (one
    narrow shuffle of the tiny input).  Native-only operators (exact
    dedup, inverted-index joins) keep ``fanout=False``: whole-stage
    codegen parallelizes via scan splits, and the unconditional
    repartition measurably regressed ``exact_components`` in round 2.

    The few-file probe uses ``df.inputFiles()`` (source metadata, no
    job) instead of ``rdd.getNumPartitions()``, which forced a
    DataFrame→RDD conversion per invocation.  At lake scale the scan
    has thousands of files and the condition never fires; in-memory
    test relations report no files and are left untouched (they are
    already created with default parallelism)."""
    from selfclean_spark.operators.ingest import fanout_few_files

    std = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("content"))
    if fanout:
        std = fanout_few_files(std)
    return std


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated content value.

    Shuffles only (md5, id) — the 128-bit digest is the group key, so
    the raw text never moves (at 100 TB the digest table is ~50 GB).
    """
    std = _std(df, id_col, text_col)
    return (
        std.select(F.md5("content").alias("content_md5"), "id")
        .groupBy("content_md5")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("id").alias("representative"),
        )
        .filter(F.col("dup_count") > 1)
    )


def exact_components(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Connected components of the exact-dup graph — for byte equality
    these are simply min(id) per content group (one window, no
    iteration needed)."""
    std = _std(df, id_col, text_col)
    w = Window.partitionBy(F.md5("content"))
    return std.select(
        "id", F.min("id").over(w).alias("component_id")
    )


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    max_doc_freq: int = 10_000,
) -> DataFrame:
    """Token-SET Jaccard near-dup pairs via the inverted-index join
    (n-gram Jaccard with n=1; see ``minhash_lsh_pairs`` for the
    sketched scale path).

    Plan: distinct (token, id) postings → self-join on token →
    per-pair common-token count → Jaccard from per-doc distinct counts.
    ``max_doc_freq`` drops ubiquitous tokens from the index (classic
    df-cut; a token in f docs contributes f² join rows) — with the cap
    this is the exact Jaccard *of the capped vocabulary*; at default
    settings on test corpora no token hits the cap so it is plain
    exact.  All native, oracle-checkable in SQL.
    """
    std = _std(df, id_col, text_col)
    postings = std.select(
        "id", F.explode(F.array_distinct(F.split(F.trim("content"), r"\s+"))).alias("tok")
    ).filter(F.length("tok") > 0)
    # per-doc sizes over the CAPPED vocabulary — numerator and
    # denominator see the same token universe, so the result is the
    # exact Jaccard of the capped sets (not an underestimate)
    doc_sizes = (
        cand_ops.capped_postings(postings, "tok", max_doc_freq)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    common = (
        cand_ops.capped_self_join(postings, "tok", max_doc_freq)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(doc_sizes.select(F.col("id").alias("id_a"), F.col("n_tok").alias("n_a")), "id_a")
        .join(doc_sizes.select(F.col("id").alias("id_b"), F.col("n_tok").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Persisted signature table for :func:`minhash_lsh_pairs` —
    factored out so callers that dedup INCREMENTALLY (new docs joined
    against an already-signed corpus, e.g.
    ``queries.substring_containment_pairs``) can session-cache one
    corpus signature table and never re-run the sketch UDF for it.

    The sketch mapInPandas is the expensive node and the pair plan
    reads it three times (band hashing + both enrich sides).  r6: it is
    materialized with ``localCheckpoint`` rather than ``persist`` — a
    checkpointed table is a LogicalRDD leaf, and two plan references to
    the same LogicalRDD canonicalize equal, so AQE exchange reuse works
    ABOVE it (one band shuffle serves both self-join sides); an
    InMemoryRelation in the same position defeats that reuse in
    Spark 4.1 and was measured ~0.6 s slower per edge query at sf0.1.
    Fault-tolerance trade (guide §5): lineage is cut, so a lost
    executor cannot recompute the signature blocks — irrelevant in
    local mode (one JVM) and covered at cluster scale by the durable
    pipeline's parquet signature checkpoint (``plans.pipeline``), which
    is the deployment path for long jobs.  ``keep_shingles``:
    verification reads the shingle arrays straight off this
    materialized table — no second Python shingle pass, no content
    join (right trade here: standalone corpora use token mode where
    the array is about the size of the text)."""
    cfg = cfg or PipelineConfig()
    std = _std(df, id_col, text_col, fanout=True).withColumn(
        "content_sha", F.sha2("content", 256)
    )
    return sig_ops.compute_signatures(
        std, cfg.signature, keep_shingles=True
    ).localCheckpoint(eager=True)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: PipelineConfig | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Full sketch path on an arbitrary corpus: shingle → MinHash →
    LSH bands → candidates (``candidates.edge_plan``, the pipeline's
    recipe: band pairs plus sha-equal pairs) → exact verification.
    Returns verified_edges (id_a, id_b, jaccard, hamming, substring,
    dist).

    ``signatures``: optionally pass an already-persisted
    :func:`minhash_signatures` table for ``df`` (same cfg) — callers
    holding a session-cached signature table skip the sketch UDF
    entirely; the default builds (and cache-registers) it here."""
    cfg = cfg or PipelineConfig()
    std = _std(df, id_col, text_col, fanout=True).withColumn(
        "content_sha", F.sha2("content", 256)
    )
    if signatures is None:
        signatures = minhash_signatures(df, id_col, text_col, cfg)
    bands = sig_ops.band_hashes(signatures, cfg.signature)
    pairs = cand_ops.edge_plan(bands, signatures, cfg)
    return verify_ops.verify_candidates(pairs, std, signatures, cfg)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    cfg: SignatureConfig | None = None,
    n_tables: int | None = None,
    block_cap: int = 2_000,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, banded into
    ``n_tables`` bit-blocks for blocking, then exact Hamming check via
    native bit_count.

    Recall guarantee (pigeonhole, Manku et al. WWW'07 multi-table
    scheme): two fingerprints within Hamming distance h agree on at
    least one of the blocks whenever h < n_tables — so ``n_tables``
    defaults to ``max_hamming + 1``, making the blocking exact for the
    requested radius (an explicit smaller ``n_tables`` trades recall
    beyond h = n_tables - 1 for fewer candidates).

    Skew safety: blocks whose key gathers more than ``block_cap`` rows
    are dropped from the join instead of expanding m² pairs — the
    constant-fingerprint families (empty/boilerplate docs) that
    dominate such blocks are exact duplicates, whose home is the
    sha-equality fast path (``candidates.exact_duplicate_pairs``), not
    the near-dup sketch join.
    """
    cfg = cfg or SignatureConfig()
    std = _std(df, id_col, text_col, fanout=True)
    # simhash-only kernel: skips MinHash-128 (and the sha projection —
    # neither is consumed by this operator).  No persist (r6): the only
    # consumer chain is blocks → the one block-key exchange, and AQE
    # exchange reuse serves every downstream reader from that shuffle —
    # with a persist here the cached relation would BREAK exchange
    # reuse (InMemoryRelation subtrees do not canonicalize equal in
    # Spark 4.1) and the sketch pass would feed two block exchanges.
    sigs = sig_ops.compute_simhash(std, cfg)
    return simhash_pairs_from_sigs(sigs, max_hamming, n_tables, block_cap)


def simhash_pairs_from_sigs(
    sigs: DataFrame,
    max_hamming: int = 8,
    n_tables: int | None = None,
    block_cap: int = 2_000,
) -> DataFrame:
    """Manku block-join over an EXISTING (id, simhash) relation — the
    body of :func:`simhash_near_pairs`, factored out so callers that
    already hold a persisted signature table (e.g.
    ``queries.dedup_method_agreement``, whose MinHash signature table
    carries the simhash column from the same sketch pass) never pay a
    second Python sketch scan of the corpus.  The block table feeds the
    size cap (a count window over the block exchange) and both pair
    sides — all served from that one exchange."""
    if n_tables is None:
        n_tables = max_hamming + 1
    width = 64 // n_tables
    blocks = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(n_tables)
                ]
            )
        ).alias("block_id", "block_key"),
    )
    return (
        cand_ops.capped_self_join(
            blocks, ["block_id", "block_key"], block_cap, carry=["simhash"]
        )
        .withColumn(
            "hamming", F.expr("cast(bit_count(simhash_a ^ simhash_b) as int)")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def repo_fork_pairs(
    df: DataFrame,
    repo_col: str = "repo",
    text_col: str = "content",
    min_shared: int = 2,
    file_df_cap: int = 64,
) -> DataFrame:
    """Fork/mirror detection at REPOSITORY granularity (the unit the
    north-rule input table is organized by): for every repo pair, the
    number of shared exact file contents, plus containment
    (shared / smaller repo) and Jaccard over their content-digest sets.
    GitHub-scale corpora are dominated by forks — deduplicating files
    without this report silently keeps one copy of every fork's
    UNMODIFIED files while the modified ones slip through; fork pairs
    with high containment are what a curation pipeline drops wholesale.

    100-TB shape: file contents collapse to sha256 digests at the scan
    (strings never shuffle); the digest→repo inverted index is
    count-first df-capped, so a vendored file present in thousands of
    repos (license texts, generated lockfiles) is dropped, never
    quadratically joined; per-repo size tables broadcast.
    """
    files = df.select(
        F.col(repo_col).alias("repo"), F.sha2(F.col(text_col), 256).alias("sha")
    ).distinct()
    sizes = files.groupBy("repo").agg(
        F.count(F.lit(1)).cast("long").alias("n_files")
    )
    shared = (
        cand_ops.capped_self_join(
            files.withColumnRenamed("repo", "id"), "sha", file_df_cap
        )
        .groupBy(F.col("id_a").alias("repo_a"), F.col("id_b").alias("repo_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sz_a = F.broadcast(
        sizes.select(F.col("repo").alias("repo_a"), F.col("n_files").alias("n_a"))
    )
    sz_b = F.broadcast(
        sizes.select(F.col("repo").alias("repo_b"), F.col("n_files").alias("n_b"))
    )
    return (
        shared.join(sz_a, "repo_a")
        .join(sz_b, "repo_b")
        .select(
            "repo_a",
            "repo_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("containment"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("containment"), "repo_a", "repo_b")
    )
