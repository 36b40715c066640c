"""SparkSession builder with the settings the pipeline assumes.

Arrow on (every executor-side Python crossing is an Arrow batch, never
per-row), AQE + skew-join on (backstop for hot LSH bands / giant repos),
a shuffle-partition count sized for a small local machine, and Python workers
forked from the warm daemon in :mod:`selfclean_spark.functions.daemon`.

Conf precedence, highest first:

1. ``get_spark(extra_conf=...)``;
2. the conf the driver's JVM was started with outside this process
   (``spark-submit --conf``, a pyspark shell's conf);
3. ``_DEFAULTS``.
"""

from __future__ import annotations

import os
import site

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

from selfclean_spark.functions import daemon

_DEFAULTS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # content strings are big; keep Arrow batches bounded (SURVEY §7.4)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # split small checkpoint files aggressively so scan parallelism
    # matches core count even on modest inputs (clusters override via
    # spark-submit --conf; at petabyte scale the default 128m is right)
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.files.openCostInBytes": "1m",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # cached relations build COLUMNAR batches on-heap before spilling;
    # the default 10,000-row batch is ~1 GB per concurrent task for
    # wide array rows (char-gram shingle tables: ~100 KB/row) — the
    # first OOM site of the 1M-file capacity run.  1,000-row batches
    # cap the builder at ~100 MB/task (fine at cluster heap norms of
    # 1-4 GB/core); for narrow rows the extra per-batch overhead is
    # noise.  NOTE: heap must still scale with local thread count —
    # local[32] at 13 KB/row needs ~1.5 GB/core (SPARK_DRIVER_MEM=48g),
    # exactly what 32 cluster cores would be given.
    "spark.sql.inMemoryColumnarStorage.batchSize": "1000",
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.python.daemon.module": daemon.__name__,
}


def _daemon_importable() -> bool:
    """Whether Spark can start :mod:`~selfclean_spark.functions.daemon`.

    The daemon runs as ``python -m`` in the JVM's working directory (this
    process's, for a local JVM) with the JVM's ``PYTHONPATH``.  Files that
    ``--py-files`` ships reach a worker's path only inside a task, too late
    for the daemon."""
    if not os.path.isfile(daemon.__file__):  # imported from a zip
        return False
    root = os.path.realpath(os.path.join(os.path.dirname(daemon.__file__), "..", ".."))
    path = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
    ]
    return any(p and os.path.realpath(p) == root for p in path)


def _submitted_conf() -> SparkConf | None:
    """The conf spark-submit or a pyspark shell started the driver's JVM
    with; ``None`` when this process launches its own JVM.

    Those start the JVM first and hand this process its gateway port.
    (A JVM this process launched carries its first session's options,
    which must not outrank a later session's defaults.)"""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return SparkConf()


def get_spark(
    app_name: str = "selfclean_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when
    unset) in the sandbox; under spark-submit the submitted master wins.
    A ``_DEFAULTS`` key applies only where the submitted conf does not
    carry it; ``extra_conf`` always applies.
    """
    builder = SparkSession.builder.appName(app_name)
    submitted = _submitted_conf()

    def default(key: str) -> bool:
        return submitted is None or not submitted.contains(key)

    if master is None and "SPARK_GRAFT_CPUS" in os.environ and default("spark.master"):
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = {k: v for k, v in _DEFAULTS.items() if default(k)}
    if not _daemon_importable():
        conf.pop("spark.python.daemon.module", None)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
