"""The package's dependency rule, read from the source without Spark:
`plans -> operators -> sources`, and nothing outside `queries/` imports
from `queries/`. Every import counts, including the ones inside
function bodies (the package defers many imports to call time)."""

from __future__ import annotations

import ast
import os

import pytest

PKG = "data_engineering_pipeline_spark"
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), PKG)

# importer layer -> layers it must not import; every other module,
# top-level ones included, must not import queries
FORBIDDEN = {
    "sources": {"operators", "plans", "queries"},
    "operators": {"plans", "queries"},
    "queries": set(),
}


def _module(path: str, root: str) -> list[str]:
    rel = os.path.relpath(path, root)[: -len(".py")].split(os.sep)
    return [PKG] + (rel[:-1] if rel[-1] == "__init__" else rel)


def _targets(node: ast.AST, mod: list[str], is_pkg: bool) -> list[str]:
    """Dotted names an import statement can load."""
    if isinstance(node, ast.Import):
        return [a.name for a in node.names]
    base = node.module.split(".") if node.module else []
    if node.level:  # relative: resolve against the importing package
        pkg = mod if is_pkg else mod[:-1]
        base = pkg[: len(pkg) - node.level + 1] + base
    dotted = ".".join(base)
    return [dotted] + [f"{dotted}.{a.name}" for a in node.names]


def _layer(dotted: str) -> str | None:
    parts = dotted.split(".")
    return parts[1] if parts[0] == PKG and len(parts) > 1 else None


def violations(root: str = ROOT) -> list[str]:
    found = []
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            mod = _module(path, root)
            own = os.path.relpath(d, root).split(os.sep)[0]
            banned = FORBIDDEN.get(own, {"queries"})
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if not isinstance(node, (ast.Import, ast.ImportFrom)):
                    continue
                bad = [t for t in _targets(node, mod, f == "__init__.py")
                       if _layer(t) in banned]
                if bad:
                    found.append(f"{os.path.relpath(path, root)}:"
                                 f"{node.lineno} imports {bad[0]}")
    return found


def test_package_imports_follow_the_layering():
    assert violations() == []


@pytest.mark.parametrize("where, code", [
    ("sources/tables.py", f"from {PKG}.plans import Pipeline\n"),
    ("sources/tables.py",
     f"def f():\n    from {PKG}.operators.upsert import upsert_parquet\n"),
    ("sources/tables.py", "from ..plans import pipeline\n"),
    ("operators/dedup.py", f"from {PKG} import plans\n"),
    ("plans/pipeline.py", f"import {PKG}.queries.tpch\n"),
    ("session.py", f"from {PKG}.queries import QUERIES\n"),
], ids=["sources-to-plans", "sources-in-function", "sources-relative",
        "operators-package-attr", "plans-to-queries", "top-to-queries"])
def test_planted_import_is_caught(tmp_path, where, code):
    path = tmp_path / where
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(code)
    assert len(violations(str(tmp_path))) == 1
