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


def _family_corpus(spark):
    """A verbatim family of 16 copies (above ``band_bucket_cap`` = 10, so
    every band bucket of the family is capped) beside a small planted
    corpus, split into two drops that both hold more than the cap of
    the family: drop 1 carries the family's smallest id, so both batch
    and stream star the family on that id."""
    import pandas as pd

    base = generate_code_files(n_rows=30, seed=5).code_files
    rng = np.random.default_rng(11)
    text = " ".join(f"w{int(x)}" for x in rng.integers(0, 5000, size=600))
    family = pd.DataFrame(
        {
            "repo": "org9/vendored",
            "path": [f"third_party/copy_{i}.py" for i in range(16)],
            "commit": "0123456789ab",
            "lang": "python",
            "content": text,
        }
    )
    ids = with_identity(spark.createDataFrame(family)).select("path", "id").toPandas()
    order = family.merge(ids, on="path").sort_values("id").drop(columns="id")
    pdf = pd.concat([base.iloc[:15], order.iloc[:11], base.iloc[15:], order.iloc[11:]])
    return pdf.reset_index(drop=True), 15 + 11, set(ids["id"])


def test_incremental_dedup_matches_batch(spark, tmp_path):
    """Streaming near-dup detection drains two file drops; the union of
    per-batch edges must equal the verified edges of ``DedupPipeline``
    and of ``dedup.minhash_lsh_pairs`` on the full corpus — including
    the CROSS-batch planted duplicates."""
    from selfclean_spark.config import PipelineConfig

    pdf = generate_code_files(n_rows=60, seed=23).code_files
    # split INSIDE a planted dup family (rows 12-14 in this corpus) so
    # batch 2 must find cross-batch edges against the batch-1 index
    _assert_stream_matches_batch(
        spark, tmp_path, pdf, 14, PipelineConfig(check_substring=False)
    )


def test_incremental_dedup_matches_batch_capped_family(spark, tmp_path):
    """The same three-path parity over a verbatim family larger than
    ``band_bucket_cap``: all three paths build candidates with
    ``candidates.edge_plan``, whose sha-equal pairs keep the family
    that the band cap drops."""
    from selfclean_spark.config import PipelineConfig

    cfg = PipelineConfig(check_substring=False, band_bucket_cap=10)
    pdf, split, family = _family_corpus(spark)
    edges = _assert_stream_matches_batch(spark, tmp_path, pdf, split, cfg)
    # the family is a star on its smallest id: 15 sha-equal edges, each
    # at n_bands_hit = lsh_bands
    star = [e for e in edges if e[0] in family or e[1] in family]
    assert len(star) == 15, star
    assert {e[0] for e in star} == {min(family)}
    assert {e[2:] for e in star} == {(cfg.signature.lsh_bands, 1.0)}


def _assert_stream_matches_batch(spark, tmp_path, pdf, split, cfg):
    """Drain ``pdf[:split]`` then ``pdf[split:]`` through
    ``incremental_dedup``, assert the union of per-batch edges equals
    both batch paths' edges and holds a cross-batch edge; returns it."""
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(pdf.iloc[:split]).write.mode("append").parquet(src)
    incremental_dedup(spark, src, work, ckpt, cfg)
    n_first = read_edges(spark, work).count()

    spark.createDataFrame(pdf.iloc[split:]).write.mode("append").parquet(src)
    incremental_dedup(spark, src, work, ckpt, cfg)
    stream_edges = _edge_set(read_edges(spark, work))
    assert len(stream_edges) > n_first  # batch 2 found new edges

    for path, batch in _batch_edges_for(spark, pdf, cfg, tmp_path).items():
        batch_edges = _edge_set(batch)
        assert stream_edges == batch_edges, path
    # at least one edge crosses the batch boundary (ids are content-
    # derived, so recompute each side's id set)
    ids1 = {
        r.id for r in with_identity(spark.createDataFrame(pdf.iloc[:split])).select("id").collect()
    }
    ids2 = {
        r.id for r in with_identity(spark.createDataFrame(pdf.iloc[split:])).select("id").collect()
    }
    assert ids1.isdisjoint(ids2)
    crossing = [
        (a, b) for a, b, _, _ in stream_edges if (a in ids1) != (b in ids1)
    ]
    assert crossing, "no cross-batch edge found"
    return stream_edges


def _edge_set(edges):
    return {
        (r.id_a, r.id_b, r.n_bands_hit, round(r.jaccard, 9))
        for r in edges.collect()
    }


def _batch_edges_for(spark, pdf, cfg, tmp_path):
    """Batch-mode truth on the full corpus, from both batch paths:
    ``DedupPipeline`` stages 1-4 and ``dedup.minhash_lsh_pairs``."""
    from selfclean_spark.catalog import ParquetCatalog
    from selfclean_spark.operators import dedup as D
    from selfclean_spark.plans.pipeline import DedupPipeline

    full = spark.createDataFrame(pdf)
    pipe = DedupPipeline(spark, ParquetCatalog(spark, str(tmp_path / "pipe")), cfg)
    return {
        "pipeline": pipe.run(full)["verified_edges"],
        "minhash_lsh_pairs": D.minhash_lsh_pairs(
            with_identity(full), "id", "content", cfg
        ),
    }
