"""Stage 0 — scan + identity + invariant columns.

Reference analog: the folder/dataset scan that assigns each sample its
integer row index (selfclean/cleaner/selfclean.py:127-173, 175-217);
sample identity there is the positional index 0..N-1.  At 10^12-file
scale a positional index is partition-dependent, so identity is the
content-independent key ``id = xxhash64(repo, path, commit)`` — stable
across runs and parallelism levels (SURVEY.md §7.4: never
``monotonically_increasing_id``).

``content_sha = sha2(content, 256)`` is the per-row invariant
(BASELINE.json input_hint) asserted against the source at every later
materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fanout_few_files(df: DataFrame) -> DataFrame:
    """Conditional scan fan-out for heavy map-side work (guide §2.6/§6).

    A small corpus read from one parquet file (or one row group — the
    splitter cannot split inside a row group) arrives as ONE scan
    partition, serializing every downstream map operator — codegen'd
    higher-order expressions and Arrow batches alike — through a single
    core while the rest of the machine idles.  When the source reports
    fewer files than half the default parallelism, a narrow round-robin
    repartition of the raw rows spreads the map work; at lake scale the
    scan has thousands of files and this is the identity (the probe is
    source metadata via ``inputFiles()`` — no job, no RDD conversion).

    Apply ONLY where the per-row map work dominates the exchange cost
    (sketch kernels, tokenize/explode projections, winnowing): for
    cheap projections the extra narrow shuffle is pure overhead.
    Results are unaffected — every consumer in this repo is
    partitioning-independent (the local[1..32] determinism rule).
    """
    sc = df.sparkSession.sparkContext
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file sources: nothing to probe
        return df
    if 0 < n_files < sc.defaultParallelism // 2:
        return df.repartition(sc.defaultParallelism)
    return df


def with_identity(code_files: DataFrame) -> DataFrame:
    """Add ``id`` and ``content_sha`` to the raw source relation."""
    return code_files.withColumn(
        "id", F.xxhash64(F.col("repo"), F.col("path"), F.col("commit"))
    ).withColumn("content_sha", F.sha2(F.col("content"), 256))


def metadata_of(ingested: DataFrame) -> DataFrame:
    """The (id → repo/path/lang) dimension used by result joins — the
    analog of IssueManager's positional path/label lookup
    (selfclean/cleaner/issue_manager.py:53-61), carried by join."""
    return ingested.select("id", "repo", "path", "commit", "lang", "content_sha")


def assert_sha_invariant(stage_df: DataFrame, source: DataFrame) -> int:
    """North-rule invariant: every materialized stage row's content_sha
    must equal the source's for the same id.  Returns the number of
    violations (0 = pass); callers raise on nonzero.

    Implemented as an inner join + inequality count so it runs
    distributed; at scale this is a cheap sort-merge on the id key.
    """
    src = source.select("id", F.col("content_sha").alias("src_sha"))
    joined = stage_df.select("id", "content_sha").join(src, "id", "inner")
    return joined.filter(F.col("content_sha") != F.col("src_sha")).count()
