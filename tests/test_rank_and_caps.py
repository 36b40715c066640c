"""Scalable-rank utility and hot-key cap behaviors."""

from collections import defaultdict
from contextlib import contextmanager

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from selfclean_spark.functions.rank import with_global_rank
from selfclean_spark.operators.candidates import (
    band_pair_stream,
    capped_postings,
    capped_self_join,
    exact_duplicate_pairs,
)


def test_with_global_rank_matches_sort(spark):
    df = spark.range(0, 500).select(
        F.col("id"), (F.xxhash64("id") % 1000).alias("score")
    )
    ranked = with_global_rank(df, [F.col("score").asc(), F.col("id").asc()])
    pdf = ranked.orderBy("rank").toPandas()
    assert list(pdf["rank"]) == list(range(1, 501))
    resorted = pdf.sort_values(["score", "id"]).reset_index(drop=True)
    assert list(resorted["rank"]) == list(range(1, 501))


def test_with_global_rank_single_partition_input(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 1.0), (3, 3.0)], "id long, s double")
    pdf = (
        with_global_rank(df, [F.col("s").asc()]).orderBy("rank").toPandas()
    )
    assert list(pdf["id"]) == [2, 3, 1]


def test_exact_dup_star_edges_for_giant_groups(spark):
    """Groups above pair_cap emit linear star edges, not m² pairs."""
    rows = [(i, "dup") for i in range(50)] + [(100, "uniq"), (200, "dup2"), (201, "dup2")]
    df = spark.createDataFrame(rows, "id long, content string").withColumn(
        "content_sha", F.sha2("content", 256)
    )
    pairs = exact_duplicate_pairs(df, pair_cap=10).collect()
    dup_pairs = [(r.id_a, r.id_b) for r in pairs if r.id_a < 100]
    # star: 49 edges from min id (0) instead of 50*49/2
    assert len(dup_pairs) == 49
    assert all(a == 0 for a, _ in dup_pairs)
    assert (200, 201) in {(r.id_a, r.id_b) for r in pairs}


def test_candidate_hot_bucket_dropped_and_logged(spark):
    rows = [(i, 7777) for i in range(30)] + [(100, 42), (101, 42)]
    bands = spark.createDataFrame(rows, "id long, band_hash long")
    obs = Observation("caps")
    pairs = band_pair_stream(bands, band_bucket_cap=10, observation=obs)
    assert pairs.count() == 1  # only the small bucket pairs up
    assert obs.get == {"dropped_band_buckets": 1, "max_bucket_size": 30}


# (id, key, w) postings for the capped primitives at cap 4: key 1 has
# exactly cap rows, key 2 has cap + 1, keys 3 and 4 are singletons, and
# ids 30/31 share keys 5, 6 and 7
CAP = 4
POSTINGS = (
    [(i, 1, 10 * i) for i in range(4)]
    + [(10 + i, 2, i) for i in range(5)]
    + [(20, 3, 0), (21, 4, 0)]
    + [(i, k, i + k) for i in (30, 31) for k in (5, 6, 7)]
)


def _ref_groups(cap):
    groups = defaultdict(list)
    for row in POSTINGS:
        groups[row[1]].append(row)
    return {k: g for k, g in groups.items() if len(g) <= cap}


def _ref_self_join(cap):
    return sorted(
        (k, a[0], a[2], b[0], b[2])
        for k, g in _ref_groups(cap).items()
        if len(g) >= 2
        for a in g
        for b in g
        if a[0] < b[0]
    )


@pytest.mark.parametrize("keys", ["k", ["g", "k"]])
def test_capped_self_join_matches_reference(spark, keys):
    """One row per shared key with carried columns; a group of exactly
    ``cap`` rows pairs up, one of ``cap + 1`` and singletons do not, and
    the Observation counts the one over-cap group."""
    postings = spark.createDataFrame(
        [(i, 0, k, w) for i, k, w in POSTINGS], "id long, g int, k long, w long"
    )
    obs = Observation("caps")
    out = capped_self_join(postings, keys, CAP, carry=["w"], observation=obs)
    got = sorted(
        (r.k, r.id_a, r.w_a, r.id_b, r.w_b) for r in out.collect()
    )
    assert got == _ref_self_join(CAP)
    assert [g[1:3] for g in got if g[0] in (5, 6, 7)] == [(30, 35), (30, 36), (30, 37)]
    assert obs.get == {"dropped_band_buckets": 1, "max_bucket_size": 5}


def test_capped_postings_keeps_singletons(spark):
    postings = spark.createDataFrame(POSTINGS, "id long, k long, w long")
    got = sorted(tuple(r) for r in capped_postings(postings, "k", CAP).collect())
    want = sorted(r for g in _ref_groups(CAP).values() for r in g)
    assert got == want
    assert (20, 3, 0) in got and (21, 4, 0) in got
    assert not any(r[1] == 2 for r in got)


def test_with_global_rank_registers_no_persist(spark):
    """r6 contract inversion: the two-pass rank materializes its sorted
    frame with ``localCheckpoint`` (AQE-sized orderBy, lineage cut, no
    block-manager registration), so it must register NOTHING with the
    caching registry — checkpointed RDDs are released by Spark's
    ContextCleaner when the DataFrame goes out of scope, not by
    ``caching.clear()``.  Ranks stay correct and dense."""
    from selfclean_spark import caching

    caching.clear(blocking=True)
    df = spark.range(0, 200).select(
        F.col("id"), (F.xxhash64("id") % 13).alias("s")
    )
    ranked = with_global_rank(df, [F.col("s").asc(), F.col("id").asc()])
    rows = ranked.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(1, 201))
    assert caching.unpersist_all() == 0, (
        "with_global_rank must not register operator-level persists "
        "(r6 localCheckpoint shape)"
    )


def test_with_global_cumsum_matches_single_partition_window(spark):
    """Two-pass partition-offset cumsum == the single-partition window
    cumsum it replaces, on a skewed value column."""
    from selfclean_spark.functions.rank import with_global_cumsum

    df = spark.range(0, 500).select(
        F.col("id"), (F.xxhash64("id") % 97 + 100).alias("v")
    )
    got = {
        r.id: r.cumsum
        for r in with_global_cumsum(df, [F.col("id").asc()], "v").collect()
    }
    rows = sorted(df.collect(), key=lambda r: r.id)
    running = 0
    for r in rows:
        running += r.v
        assert got[r.id] == running


def _dense_in_order(ranked, key_cols):
    """The collected rows come out in rank order, ranks are 1..n, and
    that order is the sort order of ``key_cols``."""
    rows = ranked.collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    keys = [tuple(r[c] for c in key_cols) for r in rows]
    assert keys == sorted(keys)
    return rows


@contextmanager
def _conf(spark, settings):
    saved = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_AQE = "spark.sql.adaptive.enabled"
_PARTS = "spark.sql.shuffle.partitions"
# AQE coalescing into several uneven partitions instead of one
_SMALL = {
    _PARTS: "40",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k",
}


@pytest.mark.parametrize(
    "settings, n_parts",
    [
        ({}, 1),  # AQE folds a small sort into one partition
        ({_AQE: "false", _PARTS: "7"}, 7),
        (_SMALL, None),  # AQE-coalesced: between 2 and 39
    ],
    ids=["aqe_one", "seven", "aqe_coalesced"],
)
def test_with_global_rank_projection_layouts(spark, settings, n_parts):
    """Pass 2 is a projection (offset[_pid] + position in partition):
    dense 1..n in collect order whatever the partitioning of the sort."""
    with _conf(spark, settings):
        df = spark.range(0, 3000, numPartitions=4).select(
            F.col("id"), (F.xxhash64("id") % 50).alias("s")
        )
        ranked = with_global_rank(df, [F.col("s").asc(), F.col("id").asc()])
        got = ranked.select(F.spark_partition_id()).distinct().count()
        if n_parts is None:
            assert 1 < got < 40, got
        else:
            assert got == n_parts
        _dense_in_order(ranked, ["s", "id"])
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan and "Join" not in plan, plan


def test_with_global_rank_empty_range_partitions(spark):
    """More range partitions than distinct sort values leaves partitions
    empty; ranks stay dense (ties here are in physical order)."""
    with _conf(spark, {_AQE: "false", _PARTS: "16"}):
        df = spark.range(0, 300).select(F.col("id"), (F.col("id") % 3).alias("s"))
        ranked = with_global_rank(df, [F.col("s").asc()])
        assert ranked.select(F.spark_partition_id()).distinct().count() <= 3
        _dense_in_order(ranked, ["s"])


def test_with_global_rank_ties_broken_by_id(spark):
    """Equal scores are ordered by the id tie-break, across partitions."""
    with _conf(spark, {_AQE: "false", _PARTS: "4"}):
        df = spark.range(0, 200, numPartitions=5).select(
            F.col("id"), F.lit(1.0).alias("score")
        )
        ranked = with_global_rank(df, [F.col("score").desc(), F.col("id").asc()])
        rows = _dense_in_order(ranked, ["id"])
    assert [r["id"] for r in rows] == list(range(200))


def test_with_global_rank_empty_input(spark):
    df = spark.range(0, 10).select(F.col("id"), F.lit(0.5).alias("s")).filter("id < 0")
    ranked = with_global_rank(df, [F.col("s").asc(), F.col("id").asc()])
    assert ranked.collect() == []
    assert ranked.schema["rank"].dataType.typeName() == "long"


def test_offsets_skip_empty_partition_ids(spark):
    """A partition id with no rows still gets an offset entry (the one
    of the next non-empty partition)."""
    from selfclean_spark.functions.rank import _offsets

    tagged = spark.range(0, 9).select(
        F.when(F.col("id") < 5, 0).when(F.col("id") < 7, 3).otherwise(4).alias("_pid")
    )
    assert _offsets(tagged, F.count(F.lit(1))) == [0, 5, 5, 5, 7]
    assert _offsets(tagged.filter("_pid < 0"), F.count(F.lit(1))) == [0]
