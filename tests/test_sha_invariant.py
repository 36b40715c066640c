"""The pipeline's sha256 invariant fires on a violation.

Two checks guard it: the signature stage's output (id, content_sha)
fingerprint must equal the source's, and every verified edge's
endpoint shas must equal the reference's.  Each test plants exactly one
wrong sha where a buggy kernel would, and ``run()`` must raise."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from selfclean_spark import caching
from selfclean_spark.catalog import ParquetCatalog
from selfclean_spark.config import PipelineConfig
from selfclean_spark.operators import ingest as ingest_ops
from selfclean_spark.operators import signatures as sig_ops
from selfclean_spark.operators import verify as verify_ops
from selfclean_spark.plans.pipeline import DedupPipeline
from selfclean_spark.synth import generate_code_files

BAD_SHA = "0" * 64


@pytest.fixture(scope="module")
def code_files(spark):
    return spark.createDataFrame(generate_code_files(n_rows=60, seed=3).code_files)


def _run(spark, code_files, tmp_path):
    catalog = ParquetCatalog(spark, str(tmp_path / "ckpt"))
    try:
        return DedupPipeline(spark, catalog, PipelineConfig()).run(code_files, force=True)
    finally:
        caching.clear(blocking=True)


def test_wrong_signature_sha_raises(spark, code_files, tmp_path, monkeypatch):
    """The signature kernel emits a wrong ``content_sha`` for one row."""
    target = ingest_ops.with_identity(code_files).agg(F.min("id")).first()[0]
    kernel = sig_ops.compute_signatures

    def one_wrong_sha(ingested, cfg, *args, **kwargs):
        sigs = kernel(ingested, cfg, *args, **kwargs)
        return sigs.withColumn(
            "content_sha",
            F.when(F.col("id") == F.lit(target), F.lit(BAD_SHA)).otherwise(
                F.col("content_sha")
            ),
        )

    monkeypatch.setattr(sig_ops, "compute_signatures", one_wrong_sha)
    with pytest.raises(AssertionError, match="sha256 invariant violation"):
        _run(spark, code_files, tmp_path)


def test_swapped_edge_sha_raises(spark, code_files, tmp_path, monkeypatch):
    """Verification swaps ``sha_a`` for ``sha_b`` on one near-duplicate
    edge: that endpoint's sha no longer matches the source."""
    verify = verify_ops.verify_candidates

    def one_swapped_sha(*args, **kwargs):
        edges = verify(*args, **kwargs)
        differ = F.col("sha_a") != F.col("sha_b")
        first = F.row_number().over(Window.partitionBy(differ).orderBy("id_a", "id_b")) == 1
        return edges.withColumn(
            "sha_a", F.when(differ & first, F.col("sha_b")).otherwise(F.col("sha_a"))
        )

    monkeypatch.setattr(verify_ops, "verify_candidates", one_swapped_sha)
    with pytest.raises(AssertionError, match=r"verified_edges: 1 sha256 invariant violations"):
        _run(spark, code_files, tmp_path)
