"""Source-layer and streaming tests: multimodal plumbing, code_files
reader validation, incremental signature ingest parity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from selfclean_spark.config import SignatureConfig
from selfclean_spark.operators.ingest import with_identity
from selfclean_spark.operators.signatures import compute_signatures
from selfclean_spark.sources import multimodal as MM
from selfclean_spark.sources.code_files import read_code_files
from selfclean_spark.streaming.incremental import (
    incremental_dedup,
    incremental_signatures,
    read_edges,
    read_signatures,
)
from selfclean_spark.synth import generate_code_files


# -- multimodal ---------------------------------------------------------------

def test_media_feature_extraction_plumbing(spark):
    media = MM.synth_media(spark, n_rows=30)
    feats = MM.extract_features(media, dim=16).collect()
    assert len(feats) == 30
    assert all(len(r.feature) == 16 for r in feats)
    # identical bytes ⇒ identical features (dedup-relevant determinism)
    one = media.filter("id = 0").collect()[0]
    f1 = MM.fake_decode_features(bytes(one.data), 16)
    f2 = MM.fake_decode_features(bytes(one.data), 16)
    np.testing.assert_array_equal(f1, f2)


def test_decode_image_stub_raises():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"not-an-image")


# -- code_files reader --------------------------------------------------------

def test_read_code_files_parquet(spark, tmp_path):
    tables = generate_code_files(n_rows=20, seed=3)
    p = str(tmp_path / "cf")
    spark.createDataFrame(tables.code_files).write.parquet(p)
    df = read_code_files(spark, p)
    assert df.columns == ["repo", "path", "commit", "lang", "content"]
    assert df.count() == len(tables.code_files)  # generator may overshoot


def test_read_code_files_missing_column(spark, tmp_path):
    p = str(tmp_path / "bad")
    spark.createDataFrame([(1,)], "x int").write.parquet(p)
    with pytest.raises(ValueError, match="missing columns"):
        read_code_files(spark, p)


# -- streaming ----------------------------------------------------------------

def test_incremental_signatures_match_batch(spark, tmp_path):
    cfg = SignatureConfig()
    tables = generate_code_files(n_rows=40, seed=11)
    pdf = tables.code_files
    src = str(tmp_path / "src")
    out = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")

    # first drop of files
    spark.createDataFrame(pdf.iloc[:25]).write.mode("append").parquet(src)
    incremental_signatures(spark, src, out, ckpt, cfg)
    n1 = read_signatures(spark, out).count()
    assert n1 == 25

    # second drop: only the new files are signed (exactly-once)
    spark.createDataFrame(pdf.iloc[25:]).write.mode("append").parquet(src)
    incremental_signatures(spark, src, out, ckpt, cfg)
    stream_sigs = read_signatures(spark, out)
    assert stream_sigs.count() == len(pdf)  # generator may overshoot n_rows

    # parity with the batch stage on the same rows
    batch_sigs = compute_signatures(
        with_identity(spark.createDataFrame(pdf)), cfg
    )
    a = stream_sigs.select("id", "minhash", "simhash").orderBy("id").collect()
    b = batch_sigs.select("id", "minhash", "simhash").orderBy("id").collect()
    assert a == b

    # replay idempotency: re-running a committed batch (foreachBatch is
    # at-least-once — a crash between sink write and checkpoint commit
    # replays it) must not duplicate rows
    from selfclean_spark.streaming.incremental import write_signature_batch

    write_signature_batch(spark.createDataFrame(pdf.iloc[:25]), 0, out, cfg)
    replayed = read_signatures(spark, out)
    assert replayed.count() == len(pdf)
    assert replayed.select("id", "minhash", "simhash").orderBy("id").collect() == b


def test_incremental_dedup_matches_batch(spark, tmp_path):
    """Streaming near-dup detection drains two file drops; the union of
    per-batch edges must equal the batch pipeline's edge set on the
    full corpus — including the CROSS-batch planted duplicates."""
    from selfclean_spark.config import PipelineConfig

    cfg = PipelineConfig(check_substring=False)
    tables = generate_code_files(n_rows=60, seed=23)
    pdf = tables.code_files
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    ckpt = str(tmp_path / "ckpt")

    # split INSIDE a planted dup family (rows 12-14 in this corpus) so
    # batch 2 must find cross-batch edges against the batch-1 index
    spark.createDataFrame(pdf.iloc[:14]).write.mode("append").parquet(src)
    incremental_dedup(spark, src, work, ckpt, cfg)
    n_first = read_edges(spark, work).count()

    spark.createDataFrame(pdf.iloc[14:]).write.mode("append").parquet(src)
    incremental_dedup(spark, src, work, ckpt, cfg)
    stream_edges = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in read_edges(spark, work).collect()
    }
    assert len(stream_edges) > n_first  # batch 2 found new edges

    batch_edges = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in _batch_edges_for(spark, pdf, cfg).collect()
    }
    assert stream_edges == batch_edges
    # at least one edge crosses the batch boundary (ids are content-
    # derived, so recompute each side's id set)
    ids1 = {
        r.id for r in with_identity(spark.createDataFrame(pdf.iloc[:14])).select("id").collect()
    }
    ids2 = {
        r.id for r in with_identity(spark.createDataFrame(pdf.iloc[14:])).select("id").collect()
    }
    assert ids1.isdisjoint(ids2)
    crossing = [
        (a, b) for a, b, _ in stream_edges if (a in ids1) != (b in ids1)
    ]
    assert crossing, "no cross-batch edge found"


def _batch_edges_for(spark, pdf, cfg):
    """Batch-mode truth: the same candidate→verify kernels over the
    full corpus (mirrors DedupPipeline stages 1-4 without checkpoints)."""
    from selfclean_spark.operators import candidates as cand_ops
    from selfclean_spark.operators import verify as verify_ops
    from selfclean_spark.operators.signatures import band_hashes

    ingested = with_identity(spark.createDataFrame(pdf))
    sigs = compute_signatures(ingested, cfg.signature)
    pairs = cand_ops.candidate_pairs(
        band_hashes(sigs, cfg.signature), cfg.band_bucket_cap
    )
    return verify_ops.verify_candidates(pairs, ingested, sigs, cfg)
