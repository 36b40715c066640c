"""Stage 2/3 — LSH candidate generation (the cross-join killer), and
the capped inverted-index self-join every pair operator shares.

Reference analog: the blocked N×N pairwise-distance cross join
(selfclean/cleaner/selfclean_cleaner.py:121-146) and its approximate
Annoy-kNN alternative (selfclean/cleaner/near_duplicates/
embedding_distance_mixin.py:92-127).  Both are replaced by LSH band
blocking: two rows meet iff at least one of their b MinHash bands
hashes identically — probability 1-(1-s^r)^b of meeting at Jaccard s
(≈0.99995 at s=0.8 with the default r=5/b=25), which buys the ≥0.99
recall gate sub-quadratically.

:func:`edge_plan` is the one candidate recipe: the pipeline, the
MinHash query surface (``dedup.minhash_lsh_pairs``) and the incremental
path (``streaming.incremental.dedup_batch``, new×all) all build their
candidate pairs with it, so each gives the same pairs on the same rows.

:func:`capped_self_join` is the one plan for every capped inverted
index — LSH bands, n-gram / token / winnowing / block postings, SimHash
blocks, file digests: a count window and the cap filter over one key
shuffle, then a codegen'd shuffled-hash self-join off the same shuffle.
:func:`capped_postings` is its cap alone, for callers that also count
per-document sizes over the capped vocabulary.

The band index is folded into ``band_hash`` by ``signatures.
band_hashes`` (xxhash64 over the band's minhash elements + band_id),
so the single long IS the bucket key.  Buckets larger than
``band_bucket_cap`` never expand (m² pairs from boilerplate/empty-file
buckets); they are counted in the ``observation`` instead — never
silent (SURVEY.md §4.2).  Rows in a dropped bucket still meet through
their b-1 other bands, and verbatim duplicates are guaranteed by the
sha-equality exact pairs :func:`edge_plan` adds.

Skew: the shuffle key is band_hash — uniform by construction (xxhash64
of minhash values); the cap bounds any residual value skew, AQE
skew-join stays on as backstop for the later joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from selfclean_spark.config import PipelineConfig

_PAIR_EXPANSION = (
    "flatten(transform(ids, (x, i) -> "
    "transform(slice(ids, i + 2, size(ids)), y -> "
    "struct(least(x, y) as id_a, greatest(x, y) as id_b))))"
)


def _key_list(keys: str | Sequence[str]) -> list[str]:
    return [keys] if isinstance(keys, str) else list(keys)


def capped_postings(
    postings: DataFrame, keys: str | Sequence[str], cap: int
) -> DataFrame:
    """Rows of ``postings`` whose key group has at most ``cap`` rows
    (the classic df-cut: a key shared by f rows costs f² join rows).

    The group size is a COUNT WINDOW over the one ``hash(keys)``
    exchange, not a size aggregate + semi-join: a window partitioned by
    the join key leaves its output partitioned by that key, so the size
    count, the filter and any self-join on the same key (see
    :func:`capped_self_join`) are all served by AQE exchange reuse from
    ONE materialized shuffle, and whatever produced the postings (a
    tokenizer, a sketch UDF) runs once with no persist.  A persist
    below the window would break that reuse: InMemoryRelation subtrees
    do not canonicalize equal in Spark 4.1.  Singleton keys are kept,
    so per-document sizes counted from this frame see the whole capped
    vocabulary."""
    w = Window.partitionBy(*_key_list(keys))
    return (
        postings.withColumn("_key_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_key_n") <= cap)
        .drop("_key_n")
    )


def capped_self_join(
    postings: DataFrame,
    keys: str | Sequence[str],
    cap: int,
    carry: Sequence[str] = (),
    observation: Observation | None = None,
) -> DataFrame:
    """(id, keys..., carry...) postings → one ``(id_a < id_b)`` row per
    shared key: columns ``keys..., id_a, <c>_a..., id_b, <c>_b...`` for
    each carried column ``c``.  RAW, pre-deduplication — callers
    aggregate per pair, so a pair sharing k keys arrives k times.

    Physical shape (two operations keyed the same way share one
    exchange):

        postings → Exchange(hash(keys))              THE shuffle, once
          ├─ Window count(*) over keys → 2 ≤ n ≤ cap → join side a
          └─ Window count(*) over keys → 2 ≤ n ≤ cap → join side b
                                  └── SHJ self-join → (id_a < id_b)

    * Group sizing is the count window of :func:`capped_postings`, so
      both join sides read the ONE materialized shuffle and the join
      adds no exchange.  Single-row keys cannot pair and are filtered
      with the over-cap ones.
    * Expansion is a codegen'd shuffled-hash self-equi-join, not
      collect_list + nested transform/slice lambdas: higher-order
      Catalyst lambdas evaluate interpreted PER ELEMENT, which at the
      measured ~200× LSH bucket amplification made the expansion the
      stage bottleneck — the join streams the same m(m-1)/2 pairs per
      group through whole-stage codegen at ~2× the throughput.  Side b
      carries the ``shuffle_hash`` hint so neither the planner nor AQE
      broadcasts a multi-hundred-MB build side (the GC-thrash mode
      measured with the default planner); each per-partition build
      side is bounded by the cap and the uniform key hash.
    * Hot-key safety: the window count is evaluated before any pair is
      emitted, so a degenerate key (empty files, license boilerplate at
      10^6 copies) is filtered from BOTH join sides and never
      materializes m² pairs.

    ``observation``: an optional ``pyspark.sql.Observation`` attached to
    join side a before the cap filter (evaluated exactly once) — after
    the caller's first action it yields ``dropped_band_buckets`` (the
    number of over-cap key groups) and ``max_bucket_size``, with zero
    extra jobs.  Each over-cap group is counted on its ``min(id)`` row,
    taken over the same window as the count.
    """
    keys = _key_list(keys)
    cols = ["id", *keys, *carry]
    w = Window.partitionBy(*keys)
    n = F.count(F.lit(1)).over(w).alias("_key_n")
    b = postings.select(*cols, n)
    a = b
    if observation is not None:
        a = postings.select(
            *cols, n, F.min("id").over(w).alias("_key_min")
        ).observe(
            observation,
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("_key_n") > cap)
                        & (F.col("id") == F.col("_key_min")),
                        1,
                    )
                ),
                F.lit(0),
            ).alias("dropped_band_buckets"),
            F.coalesce(F.max("_key_n"), F.lit(0)).alias("max_bucket_size"),
        )
    in_cap = (F.col("_key_n") >= 2) & (F.col("_key_n") <= cap)

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.filter(in_cap).select(
            *keys,
            F.col("id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    return (
        side(a, "a")
        .join(side(b, "b").hint("shuffle_hash"), keys)
        .filter(F.col("id_a") < F.col("id_b"))
    )


def band_pair_stream(
    bands: DataFrame,
    band_bucket_cap: int,
    observation: Observation | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """(id, band_hash, carry...) → raw (id_a, id_b, <c>_a, <c>_b...)
    co-bucket stream, one row per shared band: :func:`capped_self_join`
    on ``band_hash``.  It stays a module-level function (and
    :func:`edge_plan` calls it through the module globals) because the
    benchmark's tracer wraps it by name to time the band self-join."""
    return capped_self_join(
        bands, "band_hash", band_bucket_cap, carry=carry, observation=observation
    ).select("id_a", "id_b", *[f"{c}_{s}" for c in carry for s in "ab"])


def _touched(df: DataFrame, key: str) -> DataFrame:
    """Rows of ``df`` whose ``key`` value some ``_new`` row carries."""
    return df.join(df.filter("_new").select(key).distinct(), key, "leftsemi")


def edge_plan(
    bands: DataFrame,
    id_sha: DataFrame,
    cfg: PipelineConfig,
    new: Column | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """THE candidate recipe: (id, band_hash) bands + (id, content_sha)
    rows → candidate pairs (id_a < id_b, n_bands_hit), shared by the
    pipeline, the query surface and the incremental path.

    The raw band co-bucket stream (:func:`band_pair_stream`) and the
    sha-equality exact pairs (:func:`exact_duplicate_pairs`, so a
    verbatim family above ``band_bucket_cap`` never loses its pairs to
    the cap) flow into ONE pair-level aggregation, so the pair set
    shuffles once.  ``n_bands_hit`` is the band-hit count of an LSH
    pair and ``lsh_bands`` for a sha-equal pair (which trivially hits
    every band); ``min_bands_hit`` never drops an exact pair.  Pass
    ``id_sha`` from a signature table: content is never re-read.

    ``new``: a boolean column over both inputs marking the rows of the
    incremental batch — the new×all asymmetric join of *Distributed
    Stream KNN Join* (SIGMOD 2021).  Both inputs are first pruned to
    the band buckets and sha groups some new row touches; such a bucket
    holds every accumulated member, so bucket sizes and the cap still
    see the accumulated state while untouched buckets are never
    shuffled.  Only pairs with at least one new endpoint are kept
    (old×old pairs were emitted by their own batch).

    ``observation``: the band cap's dropped-bucket accounting (see
    :func:`capped_self_join`)."""
    cap, carry = cfg.band_bucket_cap, ()
    if new is not None:
        bands = _touched(bands.withColumn("_new", new), "band_hash")
        id_sha = _touched(id_sha.withColumn("_new", new), "content_sha")
        carry = ("_new",)
    raw = band_pair_stream(bands, cap, observation, carry)
    exact = exact_duplicate_pairs(id_sha, pair_cap=cap)
    if new is not None:
        flag = id_sha.select("id", "_new")
        exact = exact.join(flag.toDF("id_a", "_new_a"), "id_a").join(
            flag.toDF("id_b", "_new_b"), "id_b"
        )
        has_new = F.col("_new_a") | F.col("_new_b")
        raw, exact = raw.filter(has_new), exact.filter(has_new)
    return (
        raw.select("id_a", "id_b", F.lit(False).alias("is_exact"))
        .unionByName(exact.select("id_a", "id_b", F.lit(True).alias("is_exact")))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.when(~F.col("is_exact"), 1).otherwise(0)).alias("bands_hit"),
            F.max("is_exact").alias("is_exact"),
        )
        .filter(F.col("is_exact") | (F.col("bands_hit") >= cfg.min_bands_hit))
        .select(
            "id_a",
            "id_b",
            F.when(F.col("is_exact"), F.lit(cfg.signature.lsh_bands))
            .otherwise(F.col("bands_hit"))
            .cast("long")
            .alias("n_bands_hit"),
        )
    )


def exact_duplicate_pairs(id_sha: DataFrame, pair_cap: int = 200) -> DataFrame:
    """Verbatim duplicates via sha256 equality — the degenerate fast
    path (reference: planted exact duplicate must rank first with
    distance 0, tests/.../test_embedding_distance.py:22-40).

    ``id_sha``: any relation carrying (id, content_sha).  Pass the
    checkpointed SIGNATURE table, not the raw source — the signature
    stage already computed and invariant-checked content_sha, so this
    stage never re-reads content or re-hashes (at 100 TB that is the
    difference between scanning 100 TB and scanning ~50 GB of digests).

    Groups of ≤ ``pair_cap`` members emit all m(m-1)/2 pairs (the full
    ranking the reference asserts); larger groups — the 10^6-copy
    boilerplate case — emit STAR edges (min-id → member) instead:
    linear in group size, same connected components, and the ranking
    still contains every member at distance 0 via its star edge.
    """
    keyed = id_sha.select("id", "content_sha")
    sizes = keyed.groupBy("content_sha").agg(
        F.count(F.lit(1)).alias("n"), F.min("id").alias("min_id")
    )
    # small groups: collect ≤ pair_cap ids per task and expand all pairs
    small_keys = sizes.filter(
        (F.col("n") >= 2) & (F.col("n") <= pair_cap)
    ).select("content_sha")
    full = (
        keyed.join(small_keys, "content_sha", "inner")
        .groupBy("content_sha")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .select(F.explode(F.expr(_PAIR_EXPANSION)).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    # giant groups: NEVER collected — star edges come from joining each
    # member against the group minimum (a 10^8-copy boilerplate group
    # stays (10^8 rows × 16 bytes) spread across partitions, not one
    # collect_list task)
    star = (
        keyed.join(
            sizes.filter(F.col("n") > pair_cap).select("content_sha", "min_id"),
            "content_sha",
            "inner",
        )
        .filter(F.col("id") != F.col("min_id"))
        .select(F.col("min_id").alias("id_a"), F.col("id").alias("id_b"))
    )
    return full.unionByName(star)
