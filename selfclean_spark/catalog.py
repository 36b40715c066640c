"""Stage-checkpoint catalog: Iceberg-shaped API, Parquet fallback.

The north rule requires every stage to checkpoint "to Iceberg with
per-partition lineage and metrics ... so any run is resumable
mid-pipeline".  The sandbox has no Iceberg runtime jar (and no
network), so the catalog abstracts the table layer:

* ``IcebergCatalog`` — emits ``df.writeTo(fqn).createOrReplace()`` /
  ``spark.read.table(fqn)`` against a configured Iceberg catalog name.
  API-shaped and unit-tested for plan construction only; exercised for
  real when a cluster provides ``spark.sql.catalog.<name>`` confs.
* ``ParquetCatalog`` — directory of Parquet tables plus a JSON manifest
  (``_manifest.json``) carrying what Iceberg snapshots would: config
  hash, row counts, stage metrics, timestamps.  This is what tests and
  the sandbox benchmark exercise.

This replaces the reference's ``np.memmap`` spill files
(selfclean/cleaner/selfclean_cleaner.py:105-114 writes the distance
matrix and condensed vector to ``.dat`` files and re-opens them to
resume) — same role (stage persistence + resumability), columnar and
distributed instead of a single-node mmap.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class StageMetrics:
    """Per-stage lineage record (north rule: rows in/out, skew ratio,
    shuffle bytes)."""

    stage: str
    rows_in: int
    rows_out: int
    skew_ratio: float
    shuffle_bytes: int
    config_hash: str
    started_at: float
    finished_at: float
    extra: dict[str, Any] = field(default_factory=dict)


class ParquetCatalog:
    """Parquet-backed stage store with a JSON manifest."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "_manifest.json")

    # -- manifest ------------------------------------------------------------

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"stages": {}, "metrics": []}

    def _save_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, default=str)
        os.replace(tmp, self._manifest_path)

    def _record(self, name: str, path: str, metrics: StageMetrics, **entry) -> None:
        """Mark stage ``name`` complete at ``path`` and append its metrics."""
        manifest = self._load_manifest()
        manifest["stages"][name] = {
            "path": path,
            "config_hash": metrics.config_hash,
            "rows_out": metrics.rows_out,
            "finished_at": metrics.finished_at,
            **entry,
        }
        manifest["metrics"].append(asdict(metrics))
        self._save_manifest(manifest)

    # -- table ops -----------------------------------------------------------

    def path_of(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str, config_hash: str | None = None) -> bool:
        """A stage is complete iff the manifest says so AND (when given)
        it was produced under the same config hash — a changed shingle/
        signature config invalidates downstream checkpoints."""
        manifest = self._load_manifest()
        entry = manifest["stages"].get(name)
        if entry is None or not os.path.exists(self.path_of(name)):
            return False
        if config_hash is not None and entry.get("config_hash") != config_hash:
            return False
        return True

    def write(
        self,
        name: str,
        df: DataFrame,
        metrics: StageMetrics,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Write a completed stage + record lineage; returns the re-read
        DataFrame (so downstream plans scan Parquet, cutting lineage —
        the distributed analog of re-opening the memmap).  The written
        schema goes into the manifest, so reads need no footer-inference
        job."""
        path = self.path_of(name)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        self._record(name, path, metrics, schema=df.schema.json())
        return self.read(name)

    def read(self, name: str) -> DataFrame:
        entry = self._load_manifest()["stages"].get(name) or {}
        reader = self.spark.read
        if "schema" in entry:
            reader = reader.schema(StructType.fromJson(json.loads(entry["schema"])))
        return reader.parquet(self.path_of(name))

    def drop(self, name: str) -> None:
        import shutil

        manifest = self._load_manifest()
        manifest["stages"].pop(name, None)
        self._save_manifest(manifest)
        p = self.path_of(name)
        if os.path.exists(p):
            shutil.rmtree(p)

    def all_metrics(self) -> list[dict]:
        return self._load_manifest()["metrics"]

    def rows_out(self, name: str) -> int | None:
        """Recorded output row count of a completed stage (from the
        manifest — no Spark job).  None if unknown or not yet patched."""
        entry = self._load_manifest()["stages"].get(name)
        if entry is None:
            return None
        n = entry.get("rows_out", -1)
        return int(n) if n is not None and int(n) >= 0 else None


class IcebergCatalog(ParquetCatalog):
    """Iceberg-backed variant: same protocol, ``writeTo``/``read.table``.

    Requires the cluster to configure an Iceberg catalog (e.g.
    ``spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog``).
    The sandbox has no Iceberg jar, so this class is exercised only for
    its SQL/identifier construction; the Parquet manifest still records
    lineage so resume semantics are identical.
    """

    def __init__(self, spark: SparkSession, root: str, catalog: str, namespace: str):
        super().__init__(spark, root)
        self.catalog = catalog
        self.namespace = namespace

    def fqn(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def write(self, name, df, metrics, partition_by=None):  # pragma: no cover
        writer = df.writeTo(self.fqn(name))
        if partition_by:
            for c in partition_by:
                writer = writer.partitionedBy(c)
        writer.createOrReplace()
        self._record(name, self.fqn(name), metrics)
        return self.spark.read.table(self.fqn(name))

    def read(self, name):  # pragma: no cover
        return self.spark.read.table(self.fqn(name))


def now() -> float:
    return time.time()
