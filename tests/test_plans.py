"""Physical-plan hygiene tests — the scale properties are asserted on
the optimizer output, not just claimed:

* ``content`` never reaches a scan after the signature stage (column
  pruning is structural);
* predicate pushdown reaches the parquet scan;
* no CartesianProduct appears anywhere in the pipeline's plans
  (the reference's O(N²) cross join must not sneak back in).
"""

import pytest
from pyspark.sql import functions as F

from selfclean_spark.config import PipelineConfig
from selfclean_spark.operators import candidates as cand_ops
from selfclean_spark.operators import signatures as sig_ops
from selfclean_spark.operators.ingest import metadata_of, with_identity
from selfclean_spark.synth import generate_code_files


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("plans")
    pdf = generate_code_files(n_rows=60, seed=13).code_files
    src = str(root / "cf")
    spark.createDataFrame(pdf).write.parquet(src)
    cf = spark.read.parquet(src)
    ing = with_identity(cf)
    sigs_path = str(root / "sigs")
    sig_ops.compute_signatures(ing, PipelineConfig().signature).write.parquet(sigs_path)
    return cf, spark.read.parquet(sigs_path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_candidates_plan_never_reads_content(tables):
    _cf, sigs = tables
    cfg = PipelineConfig()
    bands = sig_ops.band_hashes(sigs, cfg.signature)
    pairs = cand_ops.band_pair_stream(bands, cfg.band_bucket_cap)
    plan = _plan(pairs)
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas, "expected parquet scans in plan"
    for line in read_schemas:
        assert "content" not in line, line
    assert "CartesianProduct" not in plan
    # r6 shape: bucket capping is a count WINDOW over the band-hash
    # exchange (no repartition+persist+semi-join chain); the window's
    # partition key equals the join key so the self-join consumes the
    # window output partitioning directly — no further band exchange
    assert plan.count("Window [count(1)") >= 1, plan
    band_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning(band_hash" in l
    ]
    assert len(band_exchanges) <= 2, plan  # one per join side, pre-AQE
    assert "rangepartitioning" not in plan
    # expansion is the codegen'd shuffled-hash self-join, never a
    # broadcast of the multi-hundred-MB band table
    assert "BroadcastHashJoin" not in plan
    # the whole candidate recipe adds the sha-equal pairs, which read
    # only the signature table's digests
    edge_plan = _plan(cand_ops.edge_plan(bands, sigs, cfg))
    for line in edge_plan.splitlines():
        if "ReadSchema" in line:
            assert "content:" not in line, line
    assert "CartesianProduct" not in edge_plan


def test_block_clone_self_join_is_shuffled_hash(spark):
    """The df-capped inverted-index sites share the candidates' join:
    block_clone_pairs' self-join plans as ShuffledHashJoin, before and
    after AQE, with no BroadcastExchange anywhere."""
    from selfclean_spark.operators import codeclean as CC

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = CC.block_clone_pairs(docs, "doc_id", "text")
    plan = _plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastExchange" not in plan, plan
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    assert "ShuffledHashJoin" in final, final
    assert "BroadcastExchange" not in final, final


def test_metadata_join_prunes_content(tables):
    cf, _sigs = tables
    meta = metadata_of(with_identity(cf)).select("id", "repo", "path", "lang")
    plan = _plan(meta)
    # content feeds only sha2; selecting metadata columns must prune it
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "content" not in read_schema


def test_filter_pushdown_to_scan(spark, tables):
    cf, _ = tables
    filtered = cf.filter(F.col("lang") == "python").select("repo", "path")
    plan = _plan(filtered)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,python)]" in plan or (
        "PushedFilters" in plan and "EqualTo(lang,python)" in plan
    )


def test_signature_stage_reads_minimal_columns(tables):
    cf, _ = tables
    cfg = PipelineConfig()
    sigs = sig_ops.compute_signatures(with_identity(cf), cfg.signature)
    read_schema = [l for l in _plan(sigs).splitlines() if "ReadSchema" in l][0]
    # exactly the columns identity+shingling need
    for col in ("repo", "path", "commit", "content"):
        assert col in read_schema
    assert "lang" not in read_schema


def test_verify_plan_content_only_in_shingle_and_rescue(tables):
    """Verification never joins raw content per pair: content feeds only
    the once-per-doc shingle kernel (and, when enabled, the substring
    rescue branch) — at 10⁹ candidate edges the per-pair shuffle carries
    hashed-shingle arrays, not k copies of each doc's text."""
    from selfclean_spark.operators import verify as verify_ops

    cf, sigs = tables
    ing = with_identity(cf)
    bands = sig_ops.band_hashes(sigs, PipelineConfig().signature)
    pairs = cand_ops.edge_plan(bands, sigs, PipelineConfig())

    # no substring confirm: exactly ONE content-reading scan (the
    # shingle semi-join) and no per-pair content columns anywhere
    cfg = PipelineConfig(check_substring=False)
    plan = _plan(verify_ops.verify_candidates(pairs, ing, sigs, cfg))
    content_scans = [
        l for l in plan.splitlines() if "ReadSchema" in l and "content:" in l
    ]
    # the cached shingle subtree prints once per join side — the content
    # scan exists only inside it (2 prints of 1 cached scan), and no
    # per-pair content column exists anywhere in the plan
    assert 1 <= len(content_scans) <= 2, content_scans
    assert "content_a" not in plan and "content_b" not in plan

    # with the rescue branch on, per-pair content appears ONLY under the
    # rescue mapInPandas (content_a/content_b feed the suffix kernel,
    # nothing else), and the base jaccard scoring is still content-free
    cfg2 = PipelineConfig(check_substring=True)
    plan2 = _plan(verify_ops.verify_candidates(pairs, ing, sigs, cfg2))
    assert "CartesianProduct" not in plan2


def test_whole_pipeline_no_cartesian(spark, tables, tmp_path):
    from selfclean_spark.catalog import ParquetCatalog
    from selfclean_spark.plans.pipeline import DedupPipeline

    cf, _ = tables
    pipe = DedupPipeline(spark, ParquetCatalog(spark, str(tmp_path / "c")), PipelineConfig())
    manager = pipe.run(cf)
    for key in ("near_duplicates", "off_topic_samples", "label_errors", "components"):
        assert "CartesianProduct" not in _plan(manager[key])


def test_semdedup_plan_single_exchange_no_cartesian(spark):
    """semdedup_prune's physical plan: exactly ONE Exchange (the
    group-by-cell shuffle feeding the grouped prune) and no
    CartesianProduct — the within-cell pairwise work happens inside
    the Arrow batch as matmuls, never as a join."""
    import numpy as np

    from selfclean_spark.operators import similarity as S

    rng = np.random.default_rng(5)
    rows = [(int(i), rng.normal(size=8).astype("float32").tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.semdedup_prune(df, n_centroids=3, threshold=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1


def test_release_check_plans_are_map_side(spark):
    """The r4 release checks claim map-side-only shape (plus the final
    sort/aggregation): assert the Exchange budget on the optimized
    plans — a regression that adds a corpus-wide reshuffle fails here."""
    from selfclean_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    # pure per-row scans: exactly one Exchange (the output orderBy)
    for name in ("pii_scrub", "gopher_quality_flags"):
        plan = _plan(getattr(Q, name)(spark, sf))
        assert plan.count("Exchange") == 1, (name, plan)
        assert "CartesianProduct" not in plan
    # one groupBy(source) + orderBy
    plan = _plan(Q.packing_stats(spark, sf))
    assert plan.count("Exchange") == 2, plan
    # r5 code-payload audits: one rollup + output sort, no UDF;
    # license_scan pays one extra Exchange for the exact
    # countDistinct(source) two-phase aggregation
    for name, budget in (("license_scan", 3), ("generated_code_flags", 2)):
        plan = _plan(getattr(Q, name)(spark, sf))
        assert plan.count("Exchange") == budget, (name, plan)
        assert "CartesianProduct" not in plan
        assert "EvalPython" not in plan, (name, plan)
    # hash-first two-pass span report: gh count, flagged-set recovery
    # join, gram recovery groupBy, output sort — never a string-keyed
    # corpus-wide shuffle beyond the tiny flagged-gram recovery.  The
    # recovery join carries no static broadcast hint (the flagged-set
    # size is data-dependent; ADVICE r4 #2) — execute first so AQE
    # finalizes, then assert the runtime DID pick the one broadcast
    # join for this actually-tiny flagged set.
    df = Q.duplicated_ngram_spans(spark, sf)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, plan
    # AdaptiveSparkPlan.toString prints Final + Initial sections —
    # judge the runtime-chosen (final) plan only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 1, final
    assert "SortMergeJoin" not in final, final
    assert "CartesianProduct" not in plan
    # pass-1 exchange hash-partitions on the 8-byte gh only — the gram
    # string never rides the corpus-wide shuffle
    pass1 = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning(gh" in line
    ]
    assert pass1, plan
    assert all("gram" not in line for line in pass1), pass1


def test_mixture_weights_single_corpus_scan(spark):
    """source_mixture_weights persists the per-source aggregate: the
    totals row and the output must both read the cache, not re-scan
    the corpus."""
    from selfclean_spark import caching
    from selfclean_spark import queries as Q

    plan = _plan(Q.source_mixture_weights(spark, "/root/testdata/sf0.001"))
    assert plan.count("InMemoryTableScan") >= 2, plan
    caching.clear(blocking=True)


def test_ccnet_and_dsir_plan_shape(spark):
    """The r5 data-selection checks: no CartesianProduct anywhere; the
    DSIR per-doc side must join the (structurally ≤4096-row) bucket
    table via broadcast — the exploded gram stream itself is never
    shuffled as strings (its only wide Exchange partitions on the
    8-byte bucket id / the small LM key, and the per-doc aggregation
    keys on doc_id)."""
    from selfclean_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    ccnet = _plan(Q.ccnet_perplexity_flags(spark, sf))
    assert "CartesianProduct" not in ccnet
    dsir = _plan(Q.dsir_importance_weights(spark, sf))
    assert "CartesianProduct" not in dsir
    assert "BroadcastHashJoin" in dsir
    # the gram string must not ride any hash-partitioned Exchange:
    # bucket counts shuffle int64 bucket ids, the doc aggregation
    # shuffles (doc_id, lr_q)
    for line in dsir.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "gram" not in line, line


def test_segment_scrub_pass1_shuffles_hashes_only(spark):
    """boilerplate_segment_scrub's df-count Exchange partitions on the
    8-byte sh — the segment string must never ride the corpus-wide
    shuffle (it travels only in the flagged-subset recount)."""
    from selfclean_spark import queries as Q

    plan = _plan(Q.boilerplate_segment_scrub(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    pass1 = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning(sh" in line
    ]
    assert pass1, plan
    assert all("seg#" not in line for line in pass1), pass1


def test_vocab_topk_is_distributed_topk(spark):
    """vocab_topk_tokens must plan as distributed top-K
    (TakeOrderedAndProject: per-partition limit, K·P driver merge) over
    two map-side-combinable aggregations — never a global Sort of the
    vocabulary, and never more than the two aggregation Exchanges."""
    from selfclean_spark import queries as Q

    plan = _plan(Q.vocab_topk_tokens(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan
    # a global Sort node would mean the limit didn't fold into top-K
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan
    assert plan.count("Exchange") == 2, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_source_overlap_join_shape(spark):
    """source_overlap_pairs: the per-source size tables must broadcast
    (two BroadcastHashJoins), the gram self-join must be a hash join on
    the capped index — never a CartesianProduct."""
    from selfclean_spark import queries as Q

    df = Q.source_overlap_pairs(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") >= 2, final


def test_bpe_pairs_expand_from_vocab_not_corpus(spark):
    """bpe_merge_pairs must collapse to the vocabulary BEFORE the pair
    explode (two aggregation Exchanges + distributed top-K, never a
    third corpus-wide shuffle or a global sort)."""
    from selfclean_spark import queries as Q

    plan = _plan(Q.bpe_merge_pairs(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange") == 2, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


def test_export_shard_plan_exchange_budget(spark):
    """export_shard_plan: never a
    single-partition global cumsum — the Window node must be keyed by
    ``_pid`` and fed by the broadcast offset join, with the range
    Exchange as the only order-establishing corpus shuffle."""
    from selfclean_spark import caching
    from selfclean_spark import queries as Q

    caching.clear(blocking=True)
    df = Q.export_shard_plan(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(_pid" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    # r6: the order-establishing range exchange runs inside pass 1's
    # localCheckpoint (AQE-sized orderBy); pass 2 reads the
    # checkpointed leaf, so the final plan shows an RDD scan, never a
    # fresh corpus-wide range shuffle
    assert "Scan ExistingRDD" in plan, plan
    # (the only range exchange left is the small output sort by
    # shard_id; the corpus-ordering one on (source, doc_id) is gone)
    assert "Exchange rangepartitioning(source" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    caching.clear(blocking=True)


def test_kmeans_plan_big_table_never_shuffled(spark):
    """kmeans_clusters' 100-TB claim, plan-asserted: the embeddings
    table is never hash-repartitioned (assignment is a per-row
    array_min over a broadcast 1-row centroid array — no window, no
    k-fold expansion); the only hash Exchanges are the tiny
    (cell, pos) / (cell) centroid-update aggs."""
    from selfclean_spark import queries as Q

    plan = _plan(Q.kmeans_clusters(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(vec_id" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 2
    # (cell,pos) stats agg + (cell) rebuild agg — nothing else wide
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_triangles_plan_no_cartesian(spark):
    """The triangle enumeration is two equi-joins on edge endpoints —
    never a CartesianProduct."""
    from selfclean_spark import caching, queries as Q

    caching.clear()
    plan = _plan(Q.dedup_graph_triangles(spark, "/root/testdata/sf0.001"))
    caching.clear()
    assert "CartesianProduct" not in plan


def test_secrets_scan_plan_map_side(spark):
    """secrets_scan is a single projection scan + per-source rollup:
    exactly two Exchanges (groupBy(source), output sort) and the
    regex work is codegen, not a Python UDF."""
    from selfclean_spark import queries as Q

    plan = _plan(Q.secrets_scan(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_media_byte_features_arrow_map_only(spark):
    """media_byte_features' Arrow claim: the binary payloads ride ONE
    MapInPandas (Arrow) pass and are never shuffled — the only
    Exchanges are the 3-group rollup and the output sort."""
    from selfclean_spark import queries as Q

    plan = _plan(Q.media_byte_features(spark, "/root/testdata/sf0.001"))
    assert plan.count("MapInPandas") == 1, plan
    assert "hashpartitioning(data" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
