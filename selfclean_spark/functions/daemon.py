"""The Python daemon that forks every Python worker of a package session.

Spark starts one daemon per executor, ``python -m <spark.python.daemon.module>
pyspark.worker``, and forks each Python worker from it.  ``get_spark`` sets
this module as that daemon.  It warms the interpreter before the first fork
and then runs ``pyspark.daemon.manager()`` unchanged:

1. It imports pyspark from the installed package's bytecode instead of from
   ``$SPARK_HOME/python/lib/pyspark.zip``.  The zip holds no ``.pyc`` files,
   so every import from it compiles source.  The zip leaves ``sys.path`` only
   when the installed copy is byte-identical (:func:`installed_copy_matches`).
2. It imports numpy, pandas, pyarrow, pyspark's Arrow serializers and the
   package's worker-side kernels, so the workers share those pages instead of
   each importing a private copy.  It runs no Arrow or BLAS work.
3. It drops the cached zip importers (:func:`~selfclean_spark.functions.worker.drop_zip_importers`),
   so a worker's first task does not re-read the archives' central
   directories.
4. It calls ``gc.freeze()``.  A reused worker runs ``gc.collect()`` after
   every task, and a collection that walked the inherited objects would copy
   their pages into the worker.

Measured on a 4-core box (Python 3.11, Spark 4.1.2), one 500-file
``DedupPipeline.run`` plus its rankings, daemon and 4 workers: Python CPU
6.1–6.4 s with ``pyspark.daemon`` and 2.6 s with this daemon; their summed
peak PSS 352–356 MB and 163–165 MB.

Importing this module does nothing; ``session`` imports it for its name.
A worker cannot import it at daemon start when the package reaches the
executors as a ``--py-files`` zip; ``get_spark`` then keeps ``pyspark.daemon``.
"""

from __future__ import annotations

import gc
import importlib
import importlib.machinery
import os
import sys
import zipfile
import zlib

from selfclean_spark.functions.worker import drop_zip_importers

# Imported before the first fork: what a worker's Arrow UDF task loads.
WARM_MODULES = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",
    "pyspark.sql.pandas.serializers",
    "selfclean_spark.functions.sketches",
    "selfclean_spark.functions.suffix",
)


def installed_copy_matches(archive: str, package_dir: str) -> bool:
    """Whether ``package_dir`` holds the same bytes as ``archive``.

    Both must hold ``<package>/version.py``, and every archive member that
    also exists under ``package_dir``'s parent must match it in size and
    CRC-32.  Members the installed copy lacks (pyspark's tests) are skipped:
    nothing imports them."""
    root, name = os.path.split(os.path.normpath(package_dir))
    with zipfile.ZipFile(archive) as zf:
        members = [m for m in zf.infolist() if not m.is_dir()]
    version = f"{name}/version.py"
    if version not in {m.filename for m in members} or not os.path.isfile(os.path.join(root, version)):
        return False
    for m in members:
        path = os.path.join(root, m.filename)
        if not os.path.isfile(path):
            continue
        if os.path.getsize(path) != m.file_size:
            return False
        with open(path, "rb") as f:
            if zlib.crc32(f.read()) != m.CRC:
                return False
    return True


def drop_pyspark_zip() -> None:
    """Remove ``pyspark.zip`` from ``sys.path`` when the pyspark found
    without it is a byte-identical installed copy; keep it otherwise."""
    for entry in [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]:
        rest = [p for p in sys.path if p != entry]
        spec = importlib.machinery.PathFinder.find_spec("pyspark", rest)
        if spec is None or not spec.submodule_search_locations:
            continue
        if installed_copy_matches(entry, spec.submodule_search_locations[0]):
            sys.path[:] = rest


def main() -> None:
    drop_pyspark_zip()
    for name in WARM_MODULES:
        importlib.import_module(name)
    from pyspark import daemon  # imports sys.argv[1], the worker module

    drop_zip_importers()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
