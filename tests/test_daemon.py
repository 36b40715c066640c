"""The Python worker daemon: where pyspark comes from, and what a forked
worker inherits (``selfclean_spark.functions.daemon``)."""

import sys
import zipfile
from pathlib import Path

import pandas as pd
import pytest

from selfclean_spark import session
from selfclean_spark.functions import daemon

FILES = {
    "pyspark/__init__.py": b"from pyspark.version import __version__\n",
    "pyspark/version.py": b'__version__ = "4.1.2"\n',
    "pyspark/sql/functions.py": b"def lower(c):\n    return c\n",
}


def _layout(tmp_path, installed: dict[str, bytes]):
    """``lib/pyspark.zip`` with FILES plus a test module the installed copy
    lacks, and ``site/`` holding ``installed``."""
    archive = tmp_path / "lib" / "pyspark.zip"
    archive.parent.mkdir()
    with zipfile.ZipFile(archive, "w") as zf:
        for name, data in {**FILES, "pyspark/tests/test_x.py": b"x = 1\n"}.items():
            zf.writestr(name, data)
    site = tmp_path / "site"
    for name, data in installed.items():
        (site / name).parent.mkdir(parents=True, exist_ok=True)
        (site / name).write_bytes(data)
    return str(archive), str(site)


@pytest.mark.parametrize(
    "change, dropped",
    [
        ({}, True),
        ({"pyspark/sql/functions.py": FILES["pyspark/sql/functions.py"].replace(b"c\n", b"d\n")}, False),
        ({"pyspark/version.py": b'__version__ = "4.1.1"\n'}, False),
        ({"pyspark/version.py": None}, False),
    ],
    ids=["identical", "one-byte", "other-version", "no-version"],
)
def test_pyspark_zip_dropped_only_for_identical_installed_copy(tmp_path, monkeypatch, change, dropped):
    installed = {k: v for k, v in {**FILES, **change}.items() if v is not None}
    archive, site = _layout(tmp_path, installed)
    monkeypatch.setattr(sys, "path", [archive, site])
    monkeypatch.setattr(sys, "path_importer_cache", {})
    daemon.drop_pyspark_zip()
    assert sys.path == ([site] if dropped else [archive, site])


def test_udf_workers_fork_from_warm_daemon(spark):
    """A UDF defined here, outside ``worker_task``, runs in a worker forked
    from the package daemon after its four warm-up steps."""

    def probe(batches):
        import gc
        import sys
        import zipimport

        for _ in batches:
            yield pd.DataFrame({
                "main": [sys.modules["__main__"].__spec__.name],
                "preloaded": [all(m in sys.modules for m in ("numpy", "pandas", "pyarrow"))],
                "pyspark_from_zip": [".zip" in sys.modules["pyspark"].__file__],
                "zip_importers": [
                    sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
                ],
                "frozen": [gc.get_freeze_count()],
            })

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(
            probe,
            "main string, preloaded boolean, pyspark_from_zip boolean, zip_importers long, frozen long",
        )
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.main == daemon.__name__
        assert r.preloaded
        assert not r.pyspark_from_zip
        assert r.zip_importers == 0
        assert r.frozen > 0


def test_daemon_importable_only_from_the_daemons_path(tmp_path, monkeypatch):
    """Spark starts the daemon as ``python -m`` in the JVM's working
    directory with its ``PYTHONPATH``; from anywhere else the package
    daemon would fail to start, so ``get_spark`` must not select it."""
    root = str(Path(daemon.__file__).resolve().parents[2])
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(root)
    assert session._daemon_importable()
    monkeypatch.chdir(tmp_path)
    assert not session._daemon_importable()
    monkeypatch.setenv("PYTHONPATH", root)
    assert session._daemon_importable()
