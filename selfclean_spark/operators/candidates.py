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
their b-1 other bands, and verbatim duplicates are additionally
guaranteed by the sha-equality fast path below.

Skew: the shuffle key is band_hash — uniform by construction (xxhash64
of minhash values); the cap bounds any residual value skew, AQE
skew-join stays on as backstop for the later joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

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
) -> DataFrame:
    """(id, band_hash) → raw (id_a, id_b) co-bucket stream, one row per
    shared band: :func:`capped_self_join` on ``band_hash``.  Callers
    that fuse other edge sources into the same pair-level groupBy (the
    pipeline unions sha-equality exact edges) consume this stream
    instead of :func:`candidate_pairs`, so the pair set shuffles once."""
    return capped_self_join(
        bands, "band_hash", band_bucket_cap, observation=observation
    ).select("id_a", "id_b")


def candidate_pairs(
    bands: DataFrame,
    band_bucket_cap: int,
    observation: Observation | None = None,
) -> DataFrame:
    """(id, band_hash) → candidate pairs (id_a, id_b, n_bands_hit) with
    id_a < id_b, distinct: per-pair band-hit counts over
    :func:`band_pair_stream`.  Pass ``observation`` for the
    dropped-bucket accounting."""
    return (
        band_pair_stream(bands, band_bucket_cap, observation)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands_hit"))
    )


def incremental_candidate_pairs(
    new_bands: DataFrame,
    all_bands: DataFrame,
    band_bucket_cap: int,
    touched_keys: list[int] | None = None,
) -> DataFrame:
    """New×all LSH candidate join — the incremental-index complement
    of :func:`candidate_pairs`: candidates always carry ≥1 endpoint
    from ``new_bands`` (new×old and new×new; old×old pairs are the
    base index's own business).

    ``all_bands`` must be the ACCUMULATED index (base ∪ new): bucket
    sizes — and the hot-bucket cap — are evaluated on the accumulated
    state, the same dropped-bucket semantics the streaming path
    documents (``streaming.incremental.dedup_batch``, which delegates
    here).  ``countDistinct`` not ``count``: a new×new pair appears in
    BOTH orientations of the asymmetric join, a new×old pair in one —
    the distinct band-key count is orientation-proof either way.

    100-TB shape: a bucket with no NEW member can never emit a
    ≥1-new-endpoint candidate, so the accumulated index is pruned to
    the new batch's band keys FIRST (a semi-join AQE broadcasts when
    the batch is micro) — the full index is never shuffled on behalf
    of a small batch; bucket sizes (and the hot-bucket cap, which must
    see ACCUMULATED size) are then computed over the pruned slice
    only, which contains every member of every touched bucket and is
    therefore exactly the accumulated size for those buckets.

    ``touched_keys``: callers whose new side is a BOUNDED micro-batch
    (e.g. the 15 planted wrapper docs of
    ``queries.substring_containment_pairs``) may pre-collect the new
    band keys and pass them here — the prune then becomes a map-side
    literal ``isin`` filter (the dynamic-partition-pruning shape, two
    fewer stage boundaries than the semi-join).  Unbounded callers
    (streaming batches) pass None and get the semi-join.
    """
    keys = ["band_hash"]
    if touched_keys is not None:
        all_touched = all_bands.filter(F.col("band_hash").isin(touched_keys))
    else:
        touched = new_bands.select(*keys).distinct()
        # no broadcast hint: micro-batches broadcast via AQE runtime
        # stats; a large streaming batch falls back to a shuffled
        # semi-join
        all_touched = all_bands.join(touched, keys, "leftsemi")
    sizes = all_touched.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    eligible = sizes.filter(
        (F.col("n") >= 2) & (F.col("n") <= band_bucket_cap)
    ).select(*keys)
    new_side = new_bands.join(eligible, keys).select(
        *keys, F.col("id").alias("id_new")
    )
    all_side = all_touched.join(eligible, keys).select(
        *keys, F.col("id").alias("id_other")
    )
    return (
        new_side.join(all_side, keys)
        .filter(F.col("id_new") != F.col("id_other"))
        .select(
            "band_hash",
            F.least("id_new", "id_other").alias("id_a"),
            F.greatest("id_new", "id_other").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("band_hash").alias("n_bands_hit"))
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
