"""Scalable global ranking and running sums (no single-partition window).

``row_number() OVER (ORDER BY …)`` with no PARTITION BY collapses the
whole relation into one task — a bottleneck at 10^12 rows.  Two passes
instead:

1. a global ``orderBy`` (AQE sizes its range-shuffle read by data
   bytes), with the partition id ``_pid`` taken in the projection
   directly above the sort, materialized by ``localCheckpoint``: the
   leaf freezes range bounds and partition ids, and AQE exchange reuse
   above a LogicalRDD works (above an InMemoryRelation it does not, in
   Spark 4.1);
2. one small action collects per-partition counts (or sums) into
   cumulative offsets, shipped back as an array literal indexed by
   ``_pid`` — an array, not a ``create_map`` lookup, which scans
   linearly per row once there are thousands of partitions.  The
   rank's pass 2 is then one projection; the running sum's is a
   ``_pid``-keyed window plus a broadcast offset join, all on the JVM.

The pass-1 checkpoint is the one action that sees every row, so an
aggregate a caller needs over the ranked rows rides it as an
Observation (``observe=``): the pipeline's auto-cut fit
(``operators.autoclean``) costs no job of its own.  The leaf is
registered with ``caching``, and ``caching.clear()`` frees its blocks.

No DataFrame here is built from a driver-side Python list: that goes
through a Python RDD and starts a second Python worker pool beside the
SQL UDF workers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from selfclean_spark import caching

# an Observation and its aggregates, computed by a rank leaf's checkpoint
Observer = tuple[Observation, list[Column]]


def _sorted_leaf(
    df: DataFrame,
    order_cols: list[Column],
    *tags: Column,
    observe: Observer | None = None,
) -> DataFrame:
    """Pass 1: ``df`` sorted, plus ``_pid`` and ``tags`` evaluated in the
    projection directly above the sort, checkpointed and registered for
    ``caching.clear``.  ``observe`` (an Observation and its aggregates
    over ``df``'s rows) rides the checkpoint action."""
    leaf = df.orderBy(*order_cols).select(
        "*", F.spark_partition_id().alias("_pid"), *tags
    )
    if observe is not None:
        obs, aggs = observe
        leaf = leaf.observe(obs, *aggs)
    return caching.register_checkpoint(leaf.localCheckpoint(eager=True))


def _offsets(sorted_df: DataFrame, per_partition: Column) -> list[int]:
    """Exclusive running total of ``per_partition`` (an aggregate) in
    ``_pid`` order, one entry per partition id up to the largest
    non-empty one."""
    got = {
        r["_pid"]: r["_n"]
        for r in sorted_df.groupBy("_pid").agg(per_partition.alias("_n")).collect()
    }
    offsets, running = [], 0
    for pid in range(max(got, default=0) + 1):
        offsets.append(running)
        running += got.get(pid) or 0
    return offsets


def _long_array(values: list[int]) -> Column:
    """``values`` as one folded ``array<bigint>`` literal (a single SQL
    expression — not one py4j literal per element)."""
    return F.expr(f"array({', '.join(f'{v}L' for v in values)})")


def with_global_rank(
    df: DataFrame,
    order_cols: list[Column],
    rank_col: str = "rank",
    observe: Observer | None = None,
) -> DataFrame:
    """Add a 1-based dense global ``rank_col`` ordered by ``order_cols``.

    Pass 2 is a projection: ``rank = offset[_pid] + (_row − (_pid << 33))
    + 1``, where ``_row`` is the ``monotonically_increasing_id`` taken
    above the sort, whose low 33 bits count rows within the partition
    (so at most 2^33 ≈ 8.6e9 rows per partition).  No window, no
    ``_pid`` exchange, no join.  Rank grows with (partition index,
    position), so the rows come out in rank order — collecting or
    writing needs no ``orderBy(rank)``, and narrow operators on top keep
    that order.  Ranks are partitioning-independent because every caller
    orders by a TOTAL order (tie-broken by id).

    ``observe``: an Observation and its aggregates over ``df``'s rows,
    computed by the pass-1 checkpoint action (no job of its own) — the
    auto-cut fit uses it (``operators.autoclean.fit_observation``).
    """
    sorted_df = _sorted_leaf(
        df, order_cols, F.monotonically_increasing_id().alias("_row"),
        observe=observe,
    )
    offset = _long_array(_offsets(sorted_df, F.count(F.lit(1))))[F.col("_pid")]
    local = F.col("_row") - F.shiftleft(F.col("_pid").cast("long"), 33)
    return sorted_df.withColumn(rank_col, offset + local + 1).drop("_pid", "_row")


def with_global_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    cumsum_col: str = "cumsum",
) -> DataFrame:
    """Add an INCLUSIVE global running sum of ``value_col`` ordered by
    ``order_cols`` — two-pass like ``with_global_rank`` (range-partition
    + per-partition SUM offsets collected driver-side, #partitions
    rows), never a single-partition window.  This is the kernel behind
    deterministic token-budget sharding: at 10^12 rows a ``sum() OVER
    (ORDER BY …)`` with no PARTITION BY would serialize the whole
    corpus through one task.

    Pass 2 is a per-partition window keyed by ``_pid`` plus a broadcast
    offset join, entirely JVM-side.  The window's required clustering
    makes Spark insert a second full-corpus Exchange (hashpartitioning
    on ``_pid``) after the range shuffle; a ``mapInPandas`` running sum
    over the sorted partitions avoids it but measured slower (local[32]
    best-of-2: 1.57 s vs 2.29 s at 5M rows, 3.76 s vs 7.21 s at 20M — a
    local-mode exchange is a memory copy while the Arrow hop costs real
    CPU).  The A/B lives in BENCH/BASELINE.md ("cumsum pass-2").
    """
    spark = df.sparkSession
    sorted_df = _sorted_leaf(df, order_cols)
    offsets = _offsets(sorted_df, F.sum(value_col).cast("long"))
    # the offsets table is built on the JVM (spark.range over the array
    # literal), never from a driver-side list
    offsets_df = F.broadcast(
        spark.range(len(offsets)).select(
            F.col("id").cast("int").alias("_pid"),
            _long_array(offsets)[F.col("id")].alias("_offset"),
        )
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sorted_df.withColumn("_local", F.sum(value_col).over(w))
        .join(offsets_df, "_pid")
        .withColumn(cumsum_col, (F.col("_offset") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_offset")
    )
