"""Incremental signature ingestion via Structured Streaming.

``readStream`` over a parquet directory of ``code_files`` →
``foreachBatch`` running the identical batch signature stage →
signature table laid out as one partition directory per micro-batch.

Delivery semantics: the stream checkpoint makes each source file
processed in exactly one *committed* micro-batch, but ``foreachBatch``
itself is at-least-once — a crash between the sink write and the
checkpoint commit replays the batch.  Writing every batch to its own
``batch=<id>`` partition directory with ``overwrite`` mode makes the
replay idempotent: the re-run replaces the partial directory instead
of appending duplicate rows (the deterministic signature kernel
guarantees the replacement is byte-identical).  Read the table back
through :func:`read_signatures`, which drops the layout column.

Batch/stream parity is structural: ``foreachBatch`` calls the same
``compute_signatures`` used by the batch pipeline — one code path, two
trigger modes (the Spark-idiomatic way to keep incremental and
backfill results identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from selfclean_spark.config import PipelineConfig, SignatureConfig
from selfclean_spark.operators import candidates as cand_ops
from selfclean_spark.operators import verify as verify_ops
from selfclean_spark.operators.ingest import with_identity
from selfclean_spark.operators.signatures import band_hashes, compute_signatures


def read_signatures(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the incrementally-built signature table (drops the
    ``batch`` partition-layout column)."""
    return spark.read.parquet(out_dir).drop("batch")


def write_signature_batch(
    batch_df: DataFrame, batch_id: int, out_dir: str, cfg: SignatureConfig
) -> None:
    """Sign one micro-batch and write it to its ``batch=<id>``
    directory — idempotent sink: a replayed batch REPLACES the
    directory (blind append would duplicate rows on batch retry), and
    the deterministic kernel makes the replacement byte-identical."""
    ingested = with_identity(batch_df)
    sigs = compute_signatures(ingested, cfg)
    sigs.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")


def incremental_signatures(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: SignatureConfig | None = None,
    schema=None,
    available_now: bool = True,
):
    """Start (and by default drain) the incremental signature stream.

    Returns the StreamingQuery; with ``available_now`` the call blocks
    until all currently-visible files are signed, then stops — the
    testable single-drain mode (production uses a continuous trigger).
    """
    cfg = cfg or SignatureConfig()
    if schema is None:
        schema = spark.read.parquet(source_dir).schema

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def sign_batch(batch_df, batch_id: int) -> None:
        write_signature_batch(batch_df, batch_id, out_dir, cfg)

    writer = stream.writeStream.foreachBatch(sign_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.start()


# ------------------------------------------------------- incremental dedup


def read_edges(spark: SparkSession, work_dir: str) -> DataFrame:
    """All verified edges found so far (drops the batch layout column)."""
    return spark.read.parquet(f"{work_dir}/edges").drop("batch")


def dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    source_dir: str,
    work_dir: str,
    cfg: PipelineConfig,
) -> None:
    """One incremental-dedup micro-batch:

    1. sign + band-hash the NEW docs, land them under
       ``signatures/batch=<id>`` and ``bands/batch=<id>`` (overwrite —
       idempotent under foreachBatch replay);
    2. build candidates with ``DedupPipeline``'s own recipe,
       ``candidates.edge_plan``, in its new×all form over the
       ACCUMULATED band index and signature table: band pairs plus
       sha-equal pairs, the ``min_bands_hit`` filter, and only pairs
       with ≥1 new endpoint (old×old pairs were emitted by their own
       batches).  Bucket sizes and the hot-bucket cap see the
       accumulated state, and a family of identical docs larger than
       ``band_bucket_cap`` never loses its verbatim pairs to the cap;
    3. exact verification via the shared batch kernel — old-side
       content is re-read from the source directory semi-joined to
       candidate ids (a content-addressable store on a real lake);
    4. land verified edges under ``edges/batch=<id>``.
    """
    ingested_new = with_identity(batch_df)
    sigs_new = compute_signatures(ingested_new, cfg.signature)
    sigs_new.write.mode("overwrite").parquet(
        f"{work_dir}/signatures/batch={batch_id}"
    )
    sigs_new = spark.read.parquet(f"{work_dir}/signatures/batch={batch_id}")
    band_hashes(sigs_new, cfg.signature).write.mode("overwrite").parquet(
        f"{work_dir}/bands/batch={batch_id}"
    )

    all_sigs = spark.read.parquet(f"{work_dir}/signatures")
    pairs = cand_ops.edge_plan(
        spark.read.parquet(f"{work_dir}/bands"),
        all_sigs,
        cfg,
        new=F.col("batch") == batch_id,
    )
    ingested_all = with_identity(spark.read.parquet(source_dir))
    edges = verify_ops.verify_candidates(pairs, ingested_all, all_sigs, cfg)
    edges.write.mode("overwrite").parquet(f"{work_dir}/edges/batch={batch_id}")


def incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    schema=None,
    available_now: bool = True,
):
    """Streaming near-duplicate detection against a growing corpus:
    every micro-batch of new files is deduplicated against everything
    seen so far (plus itself).

    Parity with ``DedupPipeline`` itself: each batch builds candidates
    with the pipeline's recipe (``candidates.edge_plan``) and verifies
    them with its kernel, so under stable caps (no band bucket or
    verbatim family crossing ``band_bucket_cap`` mid-stream) the union
    of per-batch edge sets equals the pipeline's verified edges on the
    full corpus (parity-tested, including a verbatim family above the
    cap whose smallest id arrives first).  When a bucket DOES cross the
    cap mid-stream, the streaming union is a superset: earlier batches
    already emitted pairs from the then-small bucket that a
    from-scratch run drops entirely — dropped-bucket semantics are
    evaluated on the accumulated state, never retroactively.  Every
    extra pair still passed the same exact verification, and verbatim
    duplicates are cap-proof on both paths via the sha-equal pairs.
    Same one-kernel/two-triggers discipline as
    :func:`incremental_signatures`."""
    cfg = cfg or PipelineConfig()
    if schema is None:
        schema = spark.read.parquet(source_dir).schema

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def run_batch(batch_df, batch_id: int) -> None:
        dedup_batch(spark, batch_df, batch_id, source_dir, work_dir, cfg)

    writer = stream.writeStream.foreachBatch(run_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.start()
