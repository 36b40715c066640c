"""The benchmark workloads.

Each workload is a closed loop with one client on ``local[4]``.  It
writes its seeded inputs, then repeats its timed operation in a fresh
session; outputs are checked outside the timed region.  ``op`` returns
(items processed, wall seconds).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

from perfbench import gen, tracing as trace

BUCKET_CAP = 200  # PipelineConfig().band_bucket_cap, restated so inputs never depend on the program


def write_parquet(df: pd.DataFrame, path: str, parts: int) -> None:
    """Write ``df`` as ``parts`` parquet files under directory ``path``, so
    the scan splits the way a lake table of several files does."""
    os.makedirs(path, exist_ok=True)
    for k, chunk in enumerate(np.array_split(np.arange(len(df)), parts)):
        df.iloc[chunk].to_parquet(f"{path}/part-{k:03d}.parquet", index=False)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def score_components(label: dict[int, int], truth: list, families: list) -> tuple[float, list[str]]:
    """(recall of truth pairs, problems).  ``label`` maps row → component;
    a component holding rows of two planted families, or a background
    row joined to anything, is a false merge."""
    hit = sum(1 for a, b in truth if a in label and b in label and label[a] == label[b])
    considered = sum(1 for a, b in truth if a in label and b in label)
    recall = hit / considered if considered else 1.0
    family_of = {r: f for f, rows in enumerate(families) for r in rows}
    owner: dict[int, set] = {}
    for row, comp in label.items():
        owner.setdefault(comp, set()).add(family_of.get(row, ("bg", row)))
    merged = sum(1 for fams in owner.values() if len(fams) > 1)
    problems = []
    if recall < 0.99:
        problems.append(f"dup_pair_recall {recall:.4f} < 0.99")
    if merged:
        problems.append(f"{merged} components merge unrelated files")
    return recall, problems


class Workload:
    name = ""
    min_ops = 1
    unit_ops = 1  # timed operations per reported unit of the per-layer metrics

    def __init__(self, seed: int, work: str, pins: dict):
        self.seed = seed
        self.work = work
        self.pins = pins.get(self.name, {}).get(str(seed))
        self.observed_pin: dict = {}
        self.recall = 1.0
        self.sample_texts: list[str] = []

    def prepare(self) -> None: ...
    def warmup_job(self, spark) -> None: ...
    def op(self, spark, i: int) -> tuple[int, float]: ...
    def check(self, spark) -> list[str]: ...
    def failed_ops(self, n_ops: int) -> set[int]:
        """Timed operations whose outputs failed a check."""
        return set()

    def signature_config(self):
        from selfclean_spark.config import SignatureConfig

        return SignatureConfig()

    def layer_counts(self) -> dict[str, float]:
        return {}


# ------------------------------------------------------------------ batch


class BatchMixed(Workload):
    """``DedupPipeline.run`` with auto-cleaning on fresh checkpoints, then
    components and all three rankings materialized.  The timed run is the
    session's first, as in a batch job that starts its own JVM."""

    name = "batch_mixed"
    n_files = 500

    def prepare(self) -> None:
        self.corpus = gen.mixed_code_files(self.seed, self.n_files, BUCKET_CAP)
        self.src = f"{self.work}/code_files"
        write_parquet(self.corpus.frame(), self.src, parts=8)
        self.truth = gen.truth_pairs(self.corpus.texts, self.corpus.families, 0.8, gen.char_grams)
        self.sample_texts = self.corpus.texts[:200]

    def warmup_job(self, spark) -> None:
        spark.read.parquet(self.src).count()

    def op(self, spark, i: int) -> tuple[int, float]:
        from selfclean_spark.catalog import ParquetCatalog
        from selfclean_spark.config import PipelineConfig
        from selfclean_spark.plans.pipeline import DedupPipeline

        if i > 0:
            shutil.rmtree(f"{self.work}/ckpt_{i - 1}", ignore_errors=True)
        root = f"{self.work}/ckpt_{i}"
        self.catalog = ParquetCatalog(spark, root)
        pipe = DedupPipeline(spark, self.catalog, PipelineConfig(auto_cleaning=True))
        t0 = time.perf_counter()
        self.manager = pipe.run(spark.read.parquet(self.src))
        materialize(self.manager["components"])
        for issue in ("near_duplicates", "off_topic_samples", "label_errors"):
            with trace.span(f"ranking.{issue}", group=f"{trace.RUN_ID}:ranking"):
                materialize(self.manager[issue])
        return self.n_files, time.perf_counter() - t0

    def check(self, spark) -> list[str]:
        comps = self.manager["components"]
        fp = comps.selectExpr(
            "count(*) AS n", "bit_xor(xxhash64(id, component_id)) AS h"
        ).collect()[0]
        self.observed_pin = {"components_rows": int(fp["n"]), "components_fingerprint": int(fp["h"])}
        rows = (
            comps.join(self.manager["metadata"].select("id", "path"), "id")
            .select("path", "component_id")
            .toPandas()
        )
        row_of = {r["path"]: i for i, r in enumerate(self.corpus.rows)}
        label = dict(zip(rows["path"].map(row_of), rows["component_id"]))
        self.recall, problems = score_components(label, self.truth, self.corpus.families)
        if len(label) != self.n_files:
            problems.append(f"components cover {len(label)} of {self.n_files} files")
        if self.pins and self.pins != self.observed_pin:
            problems.append(f"components fingerprint {self.observed_pin} != pinned {self.pins}")
        return problems

    def layer_counts(self) -> dict[str, float]:
        m = {x["stage"]: x for x in self.catalog.all_metrics()}
        cand = m["candidates"]["rows_out"]
        return {
            "candidates.pairs": cand,
            "candidates.dropped_buckets": m["candidates"]["extra"].get("dropped_band_buckets", 0),
            "verify.useful_ratio": m["verified_edges"]["rows_out"] / cand if cand else 0.0,
            "verify.substring_rescued": m["verified_edges"]["extra"].get("substring_rescued") or 0,
            "components.cc_rounds": m["components"]["extra"].get("cc_rounds", 0),
        }


# ------------------------------------------------------------ query surface


QUERIES = [
    "minhash_components",
    "exact_components",
    "block_clone_pairs",
    "cosine_topk",
    "events_asof_join",
    "tpch_q1",
    "doc_stats",
]


class QuerySurface(Workload):
    """A fixed cross-module slice of ``bench.HEADLINE``, one pass in a
    fresh session: each query is collected, with both caches cleared in
    between as in ``bench.py``.  The results are checked after the pass."""

    name = "query_surface"
    min_ops = unit_ops = len(QUERIES)

    def prepare(self) -> None:
        tables, self.families = gen.query_tables(self.seed)
        self.sf = f"{self.work}/sf"
        os.makedirs(self.sf, exist_ok=True)
        for name, df in tables.items():
            df.to_parquet(
                f"{self.sf}/{name}.parquet", index=False,
                coerce_timestamps="us", allow_truncated_timestamps=True,
            )
        texts = list(tables["documents"]["text"])
        self.truth = gen.truth_pairs(texts, self.families, 0.5, gen.token_grams)
        self.sample_texts = texts[:200]
        self.bad: set[str] = set()
        self.results: dict[str, object] = {}

    def warmup_job(self, spark) -> None:
        import bench

        materialize(bench.canary(spark, self.sf))

    def _query(self, name: str):
        import bench
        from selfclean_spark import queries as Q

        if name not in bench.HEADLINE:
            raise ValueError(f"{name} is not a bench.HEADLINE query")
        return getattr(Q, name)

    def op(self, spark, i: int) -> tuple[int, float]:
        from selfclean_spark import caching

        name = QUERIES[i % len(QUERIES)]
        fn = self._query(name)
        with trace.span("queries", group=f"{trace.RUN_ID}:queries:{i}", query=name):
            t0 = time.perf_counter()
            with trace.span("plan:query"):
                df = fn(spark, self.sf)
            got = df.toPandas()
            wall = time.perf_counter() - t0
        self.results.setdefault(name, got)
        caching.clear()
        spark.catalog.clearCache()
        return 1, wall

    def check(self, spark) -> list[str]:
        """Each query's first result against its DuckDB twin (rows, sorted
        columns, order-insensitive value hash) and, for the pinned seed,
        against ``pins.json``; document recall from ``minhash_components``."""
        import duckdb
        from selfclean_spark.oracles import ORACLES
        from tools.check_oracles import TABLES, value_hash

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        problems = []
        for name in QUERIES:
            got = self.results.get(name)
            if got is None:
                self.bad.add(name)
                continue
            self.observed_pin[name] = {"rows": len(got), "hash": value_hash(got)}
            why = []
            if name in ORACLES:
                try:
                    want = con.sql(ORACLES[name]).df()
                except duckdb.Error as exc:
                    why.append(f"DuckDB twin failed: {exc}")
                else:
                    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
                        why.append(f"rows/cols {len(got)} {sorted(got.columns)} != {len(want)} {sorted(want.columns)}")
                    elif value_hash(got) != value_hash(want):
                        why.append("value hash differs from the DuckDB twin")
            if self.pins and self.pins.get(name) != self.observed_pin[name]:
                why.append(f"{self.observed_pin[name]} != pinned {self.pins.get(name)}")
            if why:
                self.bad.add(name)
                problems.append(f"{name}: {'; '.join(why)}")
        comps = self.results.get("minhash_components")
        if comps is not None:
            label = dict(zip(comps["id"], comps["component_id"]))
            self.recall, more = score_components(label, self.truth, self.families)
            problems += more
        return problems

    def failed_ops(self, n_ops: int) -> set[int]:
        return {i for i in range(n_ops) if QUERIES[i % len(QUERIES)] in self.bad}

    def signature_config(self):
        from selfclean_spark.queries import DOCS_CFG

        return DOCS_CFG.signature


WORKLOADS = {w.name: w for w in (BatchMixed, QuerySurface)}
