"""Every package module is reached from a declared entry point.

Walks ``import`` / ``from ... import`` statements statically (module
and function level) from the driver entry, the CLI, the facade, the
batch pipeline, the incremental path and the scaling benchmark (whose
corpus comes from ``synth``).  A module only its own tests import fails
here: delete it, or wire it into one of those paths."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# top-level scripts, keyed by the name the walk uses for them
SCRIPTS = {
    "__spark_entry__": ROOT / "__spark_entry__.py",
    "BENCH.run_scaling": ROOT / "BENCH" / "run_scaling.py",
}
ENTRY_POINTS = [
    *SCRIPTS,
    "selfclean_spark.cli",
    "selfclean_spark.facade",
    "selfclean_spark.plans.pipeline",
    "selfclean_spark.streaming.incremental",
]


def _package_modules() -> dict[str, Path]:
    mods = dict(SCRIPTS)
    for path in (ROOT / "selfclean_spark").rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(name: str, path: Path):
    """Dotted names an import in ``path`` may load; ``from a import b``
    yields both ``a`` and ``a.b`` (b may be a submodule)."""
    package = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            yield mod
            yield from (f"{mod}.{alias.name}" for alias in node.names)


def _with_parents(dotted: str, mods: dict[str, Path]) -> list[str]:
    """Importing a.b.c runs a/__init__ and a/b/__init__ too."""
    parts = dotted.split(".")
    prefixes = (".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return [p for p in prefixes if p in mods]


def test_every_package_module_is_reachable():
    mods = _package_modules()
    reached: set[str] = set()
    todo = [p for name in ENTRY_POINTS for p in _with_parents(name, mods)]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for dotted in _imported_names(name, mods[name]):
            todo += _with_parents(dotted, mods)
    unreached = sorted(set(mods) - reached)
    assert not unreached, f"modules no entry point imports: {unreached}"
