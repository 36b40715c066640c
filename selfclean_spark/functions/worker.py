"""The Python-worker side of every Arrow UDF in the package.

Every ``mapInPandas`` / ``applyInPandas`` / ``pandas_udf`` function is
wrapped in :func:`worker_task` (``tests/test_worker_tasks.py`` fails on
one that is not).  The wrapper drops the worker's cached zip importers
before the UDF body runs.

Why: at the start of every task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``.  On CPython 3.11,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory, and a reused worker holds one importer per package directory
it imported from a zip on its path: 12 for ``pyspark.zip``, 2 for the
py4j zip and 2 for the Spark core jar, 26,672 central-directory entries
in all (Spark 4.1.2).  Measured on a 4-core box with Python 3.11: one
``invalidate_caches()`` call inside a task took 0.125 s of CPU, and
wrapping every UDF, with no other change, cut the Python-worker CPU of
one 500-file ``DedupPipeline.run`` plus its rankings from 6.7–7.1 s
(three runs) to 4.5 s.

Dropping an importer from ``sys.path_importer_cache`` is safe: modules
it already loaded keep their loader object, and an import that needs
the path again rebuilds the importer from ``zipimport``'s own directory
cache without re-reading the archive.  The next task's
``invalidate_caches`` then finds no zip importer to refresh.

The package daemon (:mod:`selfclean_spark.functions.daemon`) drops the
importers once before it forks, so a worker's first task inherits none.
The per-task drop stays for the importers that imports during a task
create, and for workers forked from ``pyspark.daemon`` (the daemon of a
``--py-files`` run).
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport
from collections.abc import Callable
from typing import TypeVar

UDF = TypeVar("UDF", bound=Callable)


def drop_zip_importers() -> None:
    """Remove every cached ``zipimporter`` from ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def worker_task(fn: UDF) -> UDF:
    """``fn`` as a UDF body that first calls :func:`drop_zip_importers`.

    The wrapper carries ``fn``'s signature and type hints: ``pandas_udf``
    infers its eval type from them, and ``applyInPandas`` counts the
    positional parameters (through ``getfullargspec``, which reads
    ``__signature__`` but does not follow ``__wrapped__``)."""

    @functools.wraps(fn)
    def task(*args, **kwargs):
        drop_zip_importers()
        return fn(*args, **kwargs)

    task.__signature__ = inspect.signature(fn)
    return task  # type: ignore[return-value]
