"""What a pipeline run costs in Spark jobs, and what it leaves behind.

One small run plus its three rankings, counted from the scheduler: a
returning per-stage stats job, a double execution of a ranking or a
Python RDD on the ranking path shows up here.  Also: the manifest's
task-metric fields, deterministic release of the run's persists, and
a second ``run()`` on another corpus.
"""

import pytest

from selfclean_spark import caching
from selfclean_spark.catalog import ParquetCatalog
from selfclean_spark.config import PipelineConfig
from selfclean_spark.plans.pipeline import DedupPipeline, _jobs_started
from selfclean_spark.synth import generate_code_files

RANKINGS = ("near_duplicates", "off_topic_samples", "label_errors")

# measured on this module's corpus and the suite's session settings
# (local[4], 8 shuffle partitions): 27 jobs for run() and 26 for the
# three rankings; the slack absorbs AQE re-planning noise, not an
# extra job per stage or a second execution of a ranking
RUN_JOBS, RANKING_JOBS, SLACK = 27, 26, 3


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _persistent_rdds(spark) -> set[int]:
    """Ids of the RDDs the context holds persisted (caches and
    ``localCheckpoint`` blocks alike)."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


@pytest.fixture(scope="module")
def counted(spark, tmp_path_factory):
    spark.catalog.clearCache()
    caching.clear(blocking=True)
    pdf = generate_code_files(n_rows=120, seed=8).code_files
    code_files = spark.createDataFrame(pdf)
    catalog = ParquetCatalog(spark, str(tmp_path_factory.mktemp("budget")))
    pipe = DedupPipeline(spark, catalog, PipelineConfig(auto_cleaning=True))
    rdds_before = _persistent_rdds(spark)
    j0 = _jobs_started(spark.sparkContext)
    manager = pipe.run(code_files)
    j1 = _jobs_started(spark.sparkContext)
    for issue in RANKINGS:
        _materialize(manager[issue])
    j2 = _jobs_started(spark.sparkContext)
    return {
        "pipe": pipe, "catalog": catalog, "manager": manager, "n": len(pdf),
        "run_jobs": j1 - j0, "ranking_jobs": j2 - j1, "rdds_before": rdds_before,
    }


def test_run_and_rankings_job_budget(counted):
    assert counted["run_jobs"] <= RUN_JOBS + SLACK, counted["run_jobs"]
    assert counted["ranking_jobs"] <= RANKING_JOBS + SLACK, counted["ranking_jobs"]


def _python_rdd_leaves(df) -> list[str]:
    """Leaves of the physical plan (cached plans included) whose RDD
    lineage holds a PythonRDD — e.g. a DataFrame built from a
    driver-side list, which starts its own Python worker pool."""
    found, todo = [], [df._jdf.queryExecution().sparkPlan()]
    while todo:
        leaves = todo.pop().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.getClass().getSimpleName()
            if kind == "InMemoryTableScanExec":
                todo.append(leaf.relation().cachedPlan())
            elif kind == "RDDScanExec" and "PythonRDD" in leaf.rdd().toDebugString():
                found.append(leaf.toString())
    return found


def test_ranking_plans_hold_no_python_rdd(spark, counted):
    from pyspark.sql import functions as F

    from selfclean_spark.functions.rank import with_global_cumsum
    from selfclean_spark.operators.ranking import lad_offtopic_ranking

    manager = counted["manager"]
    for issue in RANKINGS:
        assert _python_rdd_leaves(manager[issue]) == [], issue
    lad = lad_offtopic_ranking(manager["signatures"], manager["metadata"])
    assert _python_rdd_leaves(lad) == []
    cumsum = with_global_cumsum(spark.range(0, 50), [F.col("id").asc()], "id")
    assert _python_rdd_leaves(cumsum) == []


def test_python_rdd_probe_detects_list_built_frames(spark):
    """The probe above is not vacuous."""
    df = spark.createDataFrame([(1, 2)], "a int, b int")
    assert _python_rdd_leaves(df)


def test_manifest_metrics_from_task_metrics(counted):
    metrics = {m["stage"]: m for m in counted["catalog"].all_metrics()}
    # the candidates stage shuffles (pair aggregation): real bytes
    assert metrics["candidates"]["shuffle_bytes"] > 0
    for m in metrics.values():
        assert m["skew_ratio"] >= 1.0
        assert m["rows_out"] == counted["catalog"].rows_out(m["stage"])
        assert set(m["extra"]["phase_secs"]) == {"build", "write"}
    assert metrics["signatures"]["rows_in"] == counted["n"]
    assert metrics["signatures"]["rows_out"] == counted["n"]


def test_clear_releases_every_run_persist(spark, counted):
    """Verify's shingle table is registered, so ``caching.clear`` leaves
    nothing cached."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    caching.clear(blocking=True)
    assert cache.isEmpty()


def test_clear_frees_every_run_checkpoint(spark, counted):
    """The final CC round and the three rank leaves are registered, so
    after ``caching.clear`` the context holds no RDD the run and its
    rankings persisted or checkpointed."""
    caching.clear(blocking=True)
    assert _persistent_rdds(spark) - counted["rdds_before"] == set()


def test_second_run_on_another_corpus(spark, tmp_path):
    """The source fingerprint is the current run's, not a cached one
    from an earlier ``run()`` of the same pipeline object."""
    catalog = ParquetCatalog(spark, str(tmp_path / "ckpt"))
    pipe = DedupPipeline(spark, catalog, PipelineConfig())
    for n in (40, 60):
        pdf = generate_code_files(n_rows=n, seed=3).code_files
        manager = pipe.run(spark.createDataFrame(pdf), force=True)
        assert manager["components"].count() == len(pdf)
        assert catalog.rows_out("signatures") == len(pdf)
    caching.clear(blocking=True)


def test_manifest_counts_dropped_band_buckets(spark, tmp_path):
    """A verbatim family of m files above ``band_bucket_cap`` fills one
    bucket per LSH band: the candidates manifest records every one of
    them as dropped with size m, and the sha-equality edges still join
    the family into one component."""
    import pandas as pd

    m, cap = 30, 20
    pdf = generate_code_files(n_rows=60, seed=11).code_files
    body = "\n".join(f"def family_{i}(x):\n    return x * {i} + 7" for i in range(40))
    family = pd.DataFrame(
        {
            "repo": "org9/family",
            "path": [f"vendored/copy_{i}.py" for i in range(m)],
            "commit": "f" * 12,
            "lang": "python",
            "content": body,
        }
    )[pdf.columns]
    cfg = PipelineConfig(band_bucket_cap=cap)
    catalog = ParquetCatalog(spark, str(tmp_path / "ckpt"))
    manager = DedupPipeline(spark, catalog, cfg).run(
        spark.createDataFrame(pd.concat([pdf, family], ignore_index=True))
    )
    extra = {m_["stage"]: m_ for m_ in catalog.all_metrics()}["candidates"]["extra"]
    assert extra["dropped_band_buckets"] == cfg.signature.lsh_bands == 25
    assert extra["max_bucket_size"] == m
    comps = (
        manager["components"]
        .join(manager["metadata"].select("id", "path"), "id")
        .filter("path like 'vendored/%'")
        .select("component_id")
        .distinct()
        .count()
    )
    assert comps == 1
    caching.clear(blocking=True)
