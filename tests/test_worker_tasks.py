"""Every Arrow UDF in the package runs through ``functions.worker.worker_task``.

A UDF body that skips the wrapper leaves the worker's zip importers
cached, and every later task on that worker pays about 0.1 s of Python
CPU re-reading the zip archives' central directories (see the
``functions.worker`` docstring).  The check is static: it walks the
package's syntax trees, so a new ``mapInPandas`` / ``applyInPandas`` /
``mapInArrow`` / ``pandas_udf`` site fails here before it runs."""

import ast
import textwrap
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "selfclean_spark"
ARROW_METHODS = {"mapInPandas", "applyInPandas", "mapInArrow", "applyInArrow"}
WRAPPER = "worker_task"


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _is_pandas_udf(node: ast.AST) -> bool:
    """``pandas_udf`` / ``F.pandas_udf``, called or not."""
    if isinstance(node, ast.Call):
        node = node.func
    return _name(node) == "pandas_udf"


def _is_wrapped(node: ast.AST, wrapped: set[str]) -> bool:
    """A ``worker_task(...)`` call, or the name of a wrapped def."""
    if isinstance(node, ast.Call):
        return _name(node.func) == WRAPPER
    return isinstance(node, ast.Name) and node.id in wrapped


def unwrapped_sites(source: str, where: str = "<src>") -> tuple[int, list[str]]:
    """(number of UDF sites, the ones that bypass the wrapper)."""
    tree = ast.parse(source)
    defs = [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    wrapped = {d.name for d in defs if any(_name(x) == WRAPPER for x in d.decorator_list)}
    decorators = {id(x) for d in defs for x in d.decorator_list}
    sites, bad = 0, []
    for d in defs:
        if any(_is_pandas_udf(x) for x in d.decorator_list):
            sites += 1
            if d.name not in wrapped:
                bad.append(f"{where}:{d.lineno} pandas_udf def {d.name}")
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        method = _name(node.func) if isinstance(node.func, ast.Attribute) else None
        if method in ARROW_METHODS:
            fn = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "func"), None
            )
        elif _is_pandas_udf(node) and id(node) not in decorators:
            fn = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "f"), None
            )
        else:
            continue
        sites += 1
        if fn is None or not _is_wrapped(fn, wrapped):
            bad.append(f"{where}:{node.lineno} {method or 'pandas_udf'}")
    return sites, bad


def test_every_package_udf_runs_through_worker_task():
    sites, bad = 0, []
    for path in sorted(PKG.rglob("*.py")):
        n, b = unwrapped_sites(path.read_text(), str(path.relative_to(PKG.parent)))
        sites += n
        bad += b
    assert not bad, f"UDF sites that bypass {WRAPPER}: {bad}"
    # signatures (2), verify (2), ranking, similarity (8), codeclean (2),
    # oracle, multimodal (2), synth: a walk that finds far fewer is broken
    assert sites >= 19, sites


def test_guard_flags_unwrapped_sites():
    src = textwrap.dedent(
        """
        from pyspark.sql import functions as F
        from selfclean_spark.functions.worker import worker_task

        def plain(batches):
            yield from batches

        @worker_task
        def good(batches):
            yield from batches

        df.mapInPandas(plain, "id long")
        df.mapInPandas(good, "id long")
        df.mapInPandas(worker_task(plain), "id long")
        df.groupBy("k").applyInPandas(lambda pdf: pdf, "id long")
        F.pandas_udf(plain, "long")

        @F.pandas_udf("long")
        def scalar(s):
            return s

        @F.pandas_udf("long")
        @worker_task
        def wrapped_scalar(s):
            return s
        """
    )
    sites, bad = unwrapped_sites(src)
    assert sites == 7
    assert [b.split()[-1] for b in bad] == ["scalar", "mapInPandas", "applyInPandas", "pandas_udf"]
