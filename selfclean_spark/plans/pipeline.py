"""End-to-end dedup pipeline: orchestration + checkpoint/resume + metrics.

The stage DAG (SURVEY.md §3.4):

    code_files ──ingest──▶ ingested(id, sha)          (virtual projection)
        └─▶ signatures(minhash, simhash)              [checkpoint]
              └─▶ bands ─▶ candidates(id_a, id_b)     [checkpoint]
                    └─▶ verified_edges                [checkpoint]
                          └─▶ components              [checkpoint]
                          └─▶ rankings / auto-cuts    (results API)

Reference analog of the lifecycle: SelfCleanCleaner.fit → predict
(selfclean/cleaner/selfclean_cleaner.py:88-180, 182-246); its memmap
spill files (:105-114) are our checkpoint tables.  Resume = skip any
stage whose checkpoint exists under the same config hash — re-running a
killed job reproduces byte-identical outputs because every kernel is
seeded and every table is keyed (no positional state).

Per-stage metrics (north rule) cost no Spark job of their own: rows
out come from an Observation riding the checkpoint write; skew ratio
(max/avg records written per task, worst stage) and shuffle-write
bytes come from the app status store's task metrics of the write's
jobs, found by job-id range.

The sha256 invariant costs no job on a fresh run either.  The source
fingerprint (row count + xor of xxhash64(id, content_sha)) is an
Observation on the signature kernel's input, and the signatures write
observes the same fingerprint on the kernel's output; ``_run_stage``
compares the two after the write and raises on a mismatch.  The count
is the run's input row count.  The verified signature table then
stands for the source's (id, sha) dimension in the verified-edge check.
On a signatures-checkpoint hit the kernel does not run, so the source
fingerprint is one aggregation over a persisted (id, sha) projection,
and the edge check joins against that projection.

Rankings (stage 6) join their metadata before the global rank, so each
ranking is one checkpointed leaf that the final read scans (see
``functions.rank``).  With auto-cleaning on the exact-quantile path,
the ``fraction_cut`` fit's one aggregation rides that leaf's checkpoint
as an Observation, so the fit runs no job of its own.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from selfclean_spark import caching
from selfclean_spark.catalog import ParquetCatalog, StageMetrics, now
from selfclean_spark.config import PipelineConfig
from selfclean_spark.operators import candidates as cand_ops
from selfclean_spark.operators import components as comp_ops
from selfclean_spark.operators import ingest as ingest_ops
from selfclean_spark.operators import ranking as rank_ops
from selfclean_spark.operators import signatures as sig_ops
from selfclean_spark.operators import verify as verify_ops
from selfclean_spark.operators.autoclean import (
    EXACT_QUANTILE_MAX_ROWS,
    fit_observation,
    fraction_cut,
)
from selfclean_spark.results import IssueManager, IssueTypes

log = logging.getLogger(__name__)

# Durable checkpoints (north rule: signatures, candidate edges, component
# labels — plus verified edges, our scored edge table).  Ingest is a
# VIRTUAL stage: id = xxhash64(repo,path,commit) and sha256(content) are
# deterministic projections, so persisting a full copy of the source
# (2 GB/150k files) buys no resumability — the first durable artifact is
# the signature table, after which `content` never re-enters the plan.
STAGES = ["signatures", "candidates", "verified_edges", "components"]


def _fingerprint() -> list[Column]:
    """(row count ``n``, xor of xxhash64(id, content_sha) ``fp``): a
    multiset fingerprint of a relation's (id, sha) pairs."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(id, content_sha))"), F.lit(0)).alias("fp"),
    ]


def _jobs_started(sc) -> int:
    """Number of Spark jobs submitted so far = the id of the next one."""
    return sc._jsc.sc().dagScheduler().numTotalJobs()


def _job_stats(sc, first_job: int) -> tuple[float, int]:
    """(skew ratio, shuffle-write bytes) of the Spark jobs from id
    ``first_job`` on, read from the app status store's task metrics —
    no extra job.  Skew is max/avg records written per task (parquet
    rows in a result stage, shuffle records in a map stage), worst
    stage wins; 1.0 when nothing was written."""
    jsc = sc._jsc.sc()
    try:
        # the store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
    except Py4JJavaError:  # busy bus: read what has arrived
        pass
    store = jsc.statusStore()
    top = sc._gateway.new_array(sc._jvm.double, 1)
    top[0] = 1.0
    stages = set()
    for job in range(first_job, _jobs_started(sc)):
        try:
            ids = store.job(job).stageIds()
        except Py4JJavaError:  # evicted from the store
            continue
        stages.update(ids.apply(k) for k in range(ids.size()))
    skew, shuffle_bytes = 1.0, 0
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store
            continue
        n_tasks = sd.numCompleteTasks()
        if n_tasks == 0:  # skipped: its shuffle output was reused
            continue
        shuffle_bytes += sd.shuffleWriteBytes()
        summary = store.taskSummary(sid, sd.attemptId(), top)
        if not summary.isDefined():
            continue
        dist = summary.get()
        for total, most in (
            (sd.outputRecords(), dist.outputMetrics().recordsWritten()),
            (sd.shuffleWriteRecords(), dist.shuffleWriteMetrics().writeRecords()),
        ):
            if total > 0:
                skew = max(skew, most.apply(0) * n_tasks / total)
    return skew, shuffle_bytes


@dataclass
class DedupPipeline:
    spark: SparkSession
    catalog: ParquetCatalog
    config: PipelineConfig = field(default_factory=PipelineConfig)
    assert_invariants: bool = True

    # ------------------------------------------------------------------ utils

    def _source_sha_fingerprint(self) -> tuple[int, int]:
        """(row count, xor of xxhash64(id, content_sha)) over the source
        identity dimension — ONE aggregation that is both the run's
        input row count and the reference every full-universe stage
        fingerprint is compared against (multiset equality w.h.p.).
        Runs only on a signatures-checkpoint hit; a fresh run observes
        the same fingerprint on the signature kernel's input."""
        row = self._id_sha.agg(*_fingerprint()).collect()[0]
        return int(row["n"]), int(row["fp"])

    def _run_stage(
        self,
        name: str,
        build,  # () -> (DataFrame, dict extra)
        rows_in: int,
        force: bool = False,
        source: Observation | None = None,
    ) -> DataFrame:
        """Build and checkpoint stage ``name`` unless a checkpoint under
        this config exists.  ``source``: the source fingerprint, observed
        on the stage's input by ``build``; after the write it becomes
        ``self._src_fp`` and the stage's ``rows_in``."""
        cfg_hash = self.config.config_hash()
        if not force and self.catalog.exists(name, cfg_hash):
            log.info("stage %s: checkpoint hit, skipping", name)
            return self.catalog.read(name)
        started = now()
        df, extra = build()
        # the row count — and, for full-universe stages, the sha256
        # invariant's xor-fingerprint of (id, content_sha) — ride the
        # write action as an Observation: zero extra jobs
        check_sha = self.assert_invariants and "content_sha" in df.columns
        obs = Observation(f"{name}_stats")
        df = df.observe(obs, *(_fingerprint() if check_sha else _fingerprint()[:1]))
        first_job = _jobs_started(self.spark.sparkContext)
        t_build = now()
        out = self.catalog.write(
            name,
            df,
            StageMetrics(
                stage=name,
                rows_in=rows_in,
                rows_out=-1,  # patched below, from the Observation
                skew_ratio=-1.0,
                shuffle_bytes=0,
                config_hash=cfg_hash,
                started_at=started,
                finished_at=now(),
                # Observations resolve only after the action; the final
                # extra dict is patched into the manifest below
                extra={k: v for k, v in extra.items() if not isinstance(v, Observation)},
            ),
        )
        t_write = now()
        if source is not None:
            got_src = source.get
            self._src_fp = (int(got_src["n"]), int(got_src["fp"]))
            rows_in = self._src_fp[0]
        # the write's jobs are found by id range, not by job group (a
        # caller's job group must stay untouched)
        skew, shuffle_bytes = _job_stats(self.spark.sparkContext, first_job)
        # resolve any Observation placed in extra by the stage builder
        # (metrics collected during the write — no separate action)
        for key, val in list(extra.items()):
            if isinstance(val, Observation):
                extra.pop(key)
                extra.update(val.get)
        if extra.get("dropped_band_buckets"):
            log.warning(
                "stage %s: dropped %s hot band-buckets (max size %s)",
                name, extra["dropped_band_buckets"], extra.get("max_bucket_size"),
            )
        got = obs.get
        if check_sha and (got["n"], got["fp"]) != self._src_fp:
            raise AssertionError(
                f"stage {name}: sha256 invariant violation "
                f"(fingerprint {got} != source {self._src_fp})"
            )
        extra["phase_secs"] = {
            "build": round(t_build - started, 2),
            "write": round(t_write - t_build, 2),
        }
        manifest = self.catalog._load_manifest()
        manifest["stages"][name]["rows_out"] = got["n"]
        manifest["metrics"][-1].update(
            rows_in=rows_in,
            rows_out=got["n"],
            skew_ratio=skew,
            shuffle_bytes=shuffle_bytes,
            extra=extra,
            finished_at=now(),
        )
        self.catalog._save_manifest(manifest)
        return out

    # -------------------------------------------------------------------- run

    def run(
        self,
        code_files: DataFrame,
        force: bool = False,
        issue_types: set[str] | None = None,
    ) -> IssueManager:
        """Run the pipeline; ``issue_types`` selects which rankings to
        compute (≙ reference's per-issue dispatch,
        selfclean_cleaner.py:191-213 / P6 in SURVEY.md §2.3).  Stages
        0-5 always run (they feed every issue); None = all."""
        cfg = self.config
        if cfg.shuffle_partitions:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(cfg.shuffle_partitions)
            )

        # stage 0: ingest (virtual — deterministic projection, see STAGES)
        ingested = ingest_ops.with_identity(code_files)
        metadata = ingest_ops.metadata_of(ingested)

        # stage 1: signatures ---------------------------------------------
        # the source fingerprint is computed afresh every run (a second
        # run() on another corpus must not compare against the first
        # corpus's): on a fresh signatures stage it is observed on the
        # kernel's input and resolved by _run_stage after the write
        self._src_fp = None
        source = Observation("source_fingerprint")
        signatures = self._run_stage(
            "signatures",
            lambda: (
                sig_ops.compute_signatures(
                    ingested.observe(source, *_fingerprint()), cfg.signature
                ),
                {},
            ),
            rows_in=-1,  # patched from ``source`` after the write
            force=force,
            source=source,
        )
        if self._src_fp is None:
            # checkpoint hit: the kernel did not run.  Pin the narrow
            # (id, sha) projection so the fingerprint and the edge check
            # hash the source once
            self._id_sha = caching.register_persist(
                ingested.select("id", "content_sha").persist(StorageLevel.DISK_ONLY)
            )
            self._src_fp = self._source_sha_fingerprint()
        else:
            # the signature table's (id, sha) multiset was just checked
            # equal to the source's: it is the reference from here on
            self._id_sha = signatures.select("id", "content_sha")
        n_input = self._src_fp[0]

        # stage 2+3: bands → candidates ------------------------------------
        def build_candidates():
            bands = sig_ops.band_hashes(signatures, cfg.signature)
            # dropped-bucket accounting rides the stage write as an
            # Observation (no second action, no persist of the sizes
            # table); _run_stage resolves it into the metrics sidecar
            # after the write — logged, never silent (SURVEY.md §4.2)
            dropped_obs = Observation("dropped_band_buckets")
            raw = cand_ops.band_pair_stream(
                bands, cfg.band_bucket_cap, observation=dropped_obs
            )
            extra = {"band_buckets": dropped_obs}
            # exact-dup pairs (sha equality) are injected so capped hot
            # buckets can never lose verbatim duplicates; sourced from
            # the checkpointed signature table (narrow — no content
            # re-read, no second sha256 pass over the corpus).  The raw
            # co-bucket stream and the exact edges flow into ONE
            # pair-level aggregation (r3: the previous
            # aggregate→union→aggregate chain shuffled the full pair
            # set twice; fusing drops a stage + an exchange from the
            # candidates critical path) — semantics unchanged:
            # n_bands_hit = band-hit count for LSH pairs, lsh_bands for
            # sha-equal pairs (which trivially hit every band), and the
            # min_bands_hit precision filter never drops an exact pair.
            exact = cand_ops.exact_duplicate_pairs(
                signatures, pair_cap=cfg.band_bucket_cap
            )
            all_pairs = (
                raw.select("id_a", "id_b", F.lit(False).alias("is_exact"))
                .unionByName(
                    exact.select("id_a", "id_b", F.lit(True).alias("is_exact"))
                )
                .groupBy("id_a", "id_b")
                .agg(
                    F.sum(F.when(~F.col("is_exact"), 1).otherwise(0)).alias(
                        "bands_hit"
                    ),
                    F.max("is_exact").alias("is_exact"),
                )
                .filter(
                    F.col("is_exact")
                    | (F.col("bands_hit") >= cfg.min_bands_hit)
                )
                .select(
                    "id_a",
                    "id_b",
                    F.when(
                        F.col("is_exact"), F.lit(cfg.signature.lsh_bands)
                    )
                    .otherwise(F.col("bands_hit"))
                    .cast("long")
                    .alias("n_bands_hit"),
                )
            )
            return all_pairs, extra

        candidates = self._run_stage(
            "candidates", build_candidates, rows_in=n_input, force=force
        )

        # stage 4: verification --------------------------------------------
        # rows_in comes from the candidates stage's manifest (patched by
        # _run_stage from the write's Observation) — no count job
        cand_rows = self.catalog.rows_out("candidates")

        def build_verified():
            edges = verify_ops.verify_candidates(
                candidates, ingested, signatures, cfg
            )
            # verification-mix lineage rides the stage write (no extra
            # job): how many edges came from the sha fast path vs exact
            # shingle Jaccard vs the substring rescue
            mix = Observation("verify_mix")
            edges = edges.observe(
                mix,
                F.sum(
                    F.when(F.col("sha_a") == F.col("sha_b"), 1).otherwise(0)
                ).alias("exact_sha_edges"),
                F.sum(
                    F.when(
                        F.col("substring") & (F.col("sha_a") != F.col("sha_b")), 1
                    ).otherwise(0)
                ).alias("substring_rescued"),
                F.avg("jaccard").alias("mean_jaccard"),
            )
            return edges, {"verify_mix": mix}

        verified = self._run_stage(
            "verified_edges",
            build_verified,
            rows_in=cand_rows if cand_rows is not None else candidates.count(),
            force=force,
        )
        if self.assert_invariants:
            self._assert_edge_shas(verified, ingested)

        # stage 5: connected components -------------------------------------
        def build_components():
            comps, rounds = comp_ops.connected_components(
                verified, cfg.cc_max_iterations,
                n_rows=self.catalog.rows_out("verified_edges"),
            )
            full = comp_ops.with_singletons(comps, ingested)
            return full, {"cc_rounds": rounds}

        components = self._run_stage(
            "components", build_components, rows_in=n_input, force=force
        )

        # stage 6: rankings --------------------------------------------------
        wanted = issue_types or {
            "near_duplicates", "off_topic_samples", "label_errors",
        }
        manager = IssueManager()
        # row counts for every ranking are already known from the stage
        # manifests — pass the exact-vs-approx quantile choice explicitly
        # so each fraction_cut runs its fused single-aggregation path
        # instead of a count-then-quantile pair of jobs
        # an unknown edge count (manifest crash between checkpoint write
        # and the rows_out patch leaves it unset) must NOT force the exact
        # path — None lets fraction_cut's auto mode count first
        edge_rows = self.catalog.rows_out("verified_edges")
        pair_exact = (
            None if edge_rows is None or edge_rows < 0
            else edge_rows <= EXACT_QUANTILE_MAX_ROWS
        )
        doc_exact = n_input <= EXACT_QUANTILE_MAX_ROWS

        # rankings are registered as THUNKS (see IssueManager): global
        # ranking needs an eager partition-count collect, so building a
        # ranking nobody reads would add driver actions to every run —
        # the reference likewise computes each issue at predict() time
        # (selfclean_cleaner.py:182-213).  fraction_cut fits land in
        # manager.meta["fits"] when the ranking is first accessed; on
        # the exact path the fit rides the rank leaf's checkpoint.
        def _ranking(key, build, col, pair):
            """``build(observe)`` → ranking, auto-cut if configured."""
            if not cfg.auto_cleaning:
                return build(None)
            exact = pair_exact if pair else doc_exact
            observe = fit_observation(col, cfg.cleaner_alpha, pair) if exact else None
            ranked, fit = fraction_cut(
                build(observe), col, n_samples=n_input,
                alpha=cfg.cleaner_alpha, q=cfg.cleaner_q, pair_scores=pair,
                exact_quantiles=exact, fitted=observe[0] if observe else None,
            )
            manager.meta.setdefault("fits", {})[key] = fit
            return ranked

        if "near_duplicates" in wanted:
            manager.register(
                IssueTypes.NEAR_DUPLICATES,
                lambda: _ranking(
                    "near_duplicates",
                    lambda o: rank_ops.near_duplicate_ranking(verified, metadata, o),
                    "dist", True,
                ),
            )
            manager.register("knn_edges", lambda: rank_ops.knn_edges(verified))
        if "off_topic_samples" in wanted:
            manager.register(
                IssueTypes.OFF_TOPIC_SAMPLES,
                lambda: _ranking(
                    "off_topic_samples",
                    lambda o: rank_ops.isolation_ranking(
                        signatures, metadata, observe=o
                    ),
                    "score", False,
                ),
            )
            manager.register(
                "quantile_isolation",
                lambda: rank_ops.quantile_isolation_ranking(verified, ingested),
            )
        if "label_errors" in wanted:
            manager.register(
                IssueTypes.LABEL_ERRORS,
                lambda: _ranking(
                    "label_errors",
                    lambda o: rank_ops.lang_mismatch_ranking(verified, metadata, o),
                    "score", False,
                ),
            )
        manager.register(IssueTypes.COMPONENTS, components)
        manager.register("verified_edges", verified)
        manager.register("signatures", signatures)
        manager.register("metadata", metadata)
        return manager

    def _assert_edge_shas(self, verified: DataFrame, ingested: DataFrame) -> None:
        """sha invariant for the pair table — both endpoints checked in
        ONE join job (the two per-side joins were fused; at scale this
        is a single sort-merge on the id key over the unioned sides)
        against ``self._id_sha``, the source's (id, sha) dimension or
        the signature table checked equal to it."""
        sides = verified.select(
            F.col("id_a").alias("id"), F.col("sha_a").alias("content_sha")
        ).union(
            verified.select(
                F.col("id_b").alias("id"), F.col("sha_b").alias("content_sha")
            )
        )
        bad = ingest_ops.assert_sha_invariant(sides, self._id_sha)
        if bad:
            raise AssertionError(
                f"verified_edges: {bad} sha256 invariant violations"
            )
