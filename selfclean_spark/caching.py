"""Session-scoped caches for standalone operators/queries.

Two concerns, one small module:

* **Persist bookkeeping** — operators like ``dedup.minhash_lsh_pairs``
  persist an intermediate relation (the sketch table feeds three plan
  branches); long-lived library sessions need a way to release those
  block-manager entries without ``spark.catalog.clearCache()``'s
  nuke-everything semantics.  Every operator-level ``persist`` is
  registered here; ``unpersist_all()`` releases them.  A
  ``localCheckpoint`` whose blocks outlive its operator (the final CC
  round, every rank leaf) is registered too, and ``clear()`` frees it.

* **Per-session query reuse** — the driver/query surface computes the
  documents-corpus verified-edge set (and its connected components) in
  several queries; ``get_or_build`` memoizes the persisted DataFrame
  per (key, sf_dir) for the lifetime of ONE SparkSession, so e.g.
  ``dedup_stats_by_source`` after ``minhash_components`` re-reads the
  cached edge table instead of re-running the sketch pipeline
  (VERDICT r2 §next-round #7).

Entries are invalidated automatically when the owning SparkSession is
replaced (the cached plan would be unusable), and ``clear()`` drops
everything eagerly, ``localCheckpoint`` blocks included — tests and
bench call it between phases.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# persisted relations registered by operators (leak bookkeeping)
_PERSISTED: list[DataFrame] = []

# checkpointed relations whose blocks outlive the operator that built
# them (a CC round's output, a rank leaf), freed by ``clear``
_CHECKPOINTED: list[DataFrame] = []

# (key, scope) -> (owning SparkSession, DataFrame)
_RESULTS: dict[tuple[str, str], tuple[SparkSession, DataFrame]] = {}


def register_persist(df: DataFrame) -> DataFrame:
    """Track a persisted DataFrame for later ``unpersist_all``."""
    _PERSISTED.append(df)
    return df


def unpersist_all(blocking: bool = False) -> int:
    """Unpersist every registered relation; returns how many."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def register_checkpoint(df: DataFrame) -> DataFrame:
    """Track a ``localCheckpoint``ed DataFrame so ``clear`` frees its
    blocks (``unpersist_all`` does not count or touch it)."""
    _CHECKPOINTED.append(df)
    return df


def get_or_build(
    key: str,
    scope: str,
    spark: SparkSession,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Memoized DataFrame per (key, scope) within one SparkSession.

    The builder should return an already-persisted (and, if reuse
    across actions matters, materialized) DataFrame; it runs at most
    once per session — a cache entry from a stopped/replaced session
    is discarded and rebuilt.
    """
    cached = _RESULTS.get((key, scope))
    if cached is not None:
        owner, df = cached
        if owner is spark:
            return df
    df = build()
    _RESULTS[(key, scope)] = (spark, df)
    return df


def peek(key: str, scope: str, spark: SparkSession) -> DataFrame | None:
    """The memoized DataFrame for (key, scope) if THIS session already
    built it, else None — never builds.  Lets adaptive queries pick a
    plan by cache state: e.g. ``substring_containment_pairs`` derives
    edges incrementally from the warm session caches but falls back to
    the (cheaper-when-cold) one-pass batch pipeline when the session
    has built nothing to reuse."""
    cached = _RESULTS.get((key, scope))
    if cached is not None:
        owner, df = cached
        if owner is spark:
            return df
    return None


def release_checkpoints(df: DataFrame, blocking: bool = False) -> None:
    """Free the blocks of every ``localCheckpoint`` leaf under ``df``.
    ``df.unpersist()`` does not reach them: a checkpointed relation is a
    LogicalRDD over a persisted RDD, not a cached plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(blocking)


def clear(blocking: bool = False) -> None:
    """Drop the memo table, unpersist everything registered and free
    the checkpoint blocks the memoized and registered relations read."""
    for _, df in _RESULTS.values():
        try:
            df.unpersist(blocking)
            release_checkpoints(df, blocking)
        except Exception:
            pass
    _RESULTS.clear()
    while _CHECKPOINTED:
        try:
            release_checkpoints(_CHECKPOINTED.pop(), blocking)
        except Exception:  # session already stopped — nothing to free
            pass
    unpersist_all(blocking)
