"""Every ingest-layer module and public def is reached by something
that runs.

A module under `streaming/` or `sources/` that only tests import is a
feature nothing drives: no driver entry, graph node, tool, benchmark or
bench script. This guard keeps those layers down to what the pipeline
uses, by an AST import scan of the non-test code. The same holds one
level down for their top-level public functions and classes: each must
be named by non-test code, or cited by README.md as `layer/file.py::name`
(a documented capability, such as the jar-gated Kafka connector
source)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import dataingestiontohana_spark as pkg

PKG_ROOT = Path(pkg.__file__).parent
REPO = PKG_ROOT.parent
LAYERS = ("streaming", "sources")


def _non_test_files() -> list[Path]:
    files = [
        *PKG_ROOT.rglob("*.py"),
        *REPO.joinpath("tools").rglob("*.py"),
        *REPO.joinpath("perfbench").rglob("*.py"),
        *REPO.glob("bench*.py"),
        REPO / "__spark_entry__.py",
    ]
    return [f for f in files if "tests" not in f.relative_to(REPO).parts]


def _imported_modules(path: Path) -> set[str]:
    """Absolute module names `path` imports; `from a.b import c` counts
    for both `a.b` and `a.b.c`, since `c` may be a submodule."""
    found: set[str] = set()
    for n in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(n, ast.Import):
            found.update(a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom) and n.module and not n.level:
            found.add(n.module)
            found.update(f"{n.module}.{a.name}" for a in n.names)
    return found


def _unreached() -> list[str]:
    importers: dict[str, set[Path]] = {}
    for f in _non_test_files():
        for mod in _imported_modules(f):
            importers.setdefault(mod, set()).add(f)
    unreached = []
    for layer in LAYERS:
        for path in sorted(PKG_ROOT.joinpath(layer).glob("*.py")):
            if path.name == "__init__.py":
                continue
            mod = f"{pkg.__name__}.{layer}.{path.stem}"
            own_init = PKG_ROOT / layer / "__init__.py"
            if not importers.get(mod, set()) - {path, own_init}:
                unreached.append(f"{layer}/{path.name}")
    return unreached


def _names(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Identifiers `tree` uses (names, attributes, imported names),
    outside the subtree `skip`."""
    found: set[str] = set()
    todo = [tree]
    while todo:
        n = todo.pop()
        if n is skip:
            continue
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            found.update(a.name for a in n.names)
        todo.extend(ast.iter_child_nodes(n))
    return found


def _unreached_defs() -> list[str]:
    trees = {
        f: ast.parse(f.read_text(), filename=str(f)) for f in _non_test_files()
    }
    names = {f: _names(t) for f, t in trees.items()}
    cited = set(re.findall(r"\b([\w/]+\.py)::(\w+)",
                           (REPO / "README.md").read_text()))
    unreached = []
    for layer in LAYERS:
        own_init = PKG_ROOT / layer / "__init__.py"
        for path in sorted(PKG_ROOT.joinpath(layer).glob("*.py")):
            if path.name == "__init__.py":
                continue
            tree = trees[path]
            # a re-export in the layer's own __init__ reaches nothing
            others = set().union(
                *(n for f, n in names.items() if f not in (path, own_init)))
            for d in tree.body:
                if not isinstance(
                    d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ) or d.name.startswith("_"):
                    continue
                rel = f"{layer}/{path.name}"
                if (d.name in others or d.name in _names(tree, skip=d)
                        or (rel, d.name) in cited):
                    continue
                unreached.append(f"{rel}::{d.name}")
    return unreached


def test_ingest_modules_are_reached_by_non_test_code():
    unreached = _unreached()
    assert not unreached, (
        f"modules only tests (or their own package __init__) import: "
        f"{unreached}; wire each into a graph node, tool or benchmark, "
        f"or delete it"
    )


def test_ingest_defs_are_reached_by_non_test_code_or_readme():
    unreached = _unreached_defs()
    assert not unreached, (
        f"public defs only tests name: {unreached}; call each from a graph "
        f"node, tool or benchmark, cite a documented capability in "
        f"README.md as path::name, or delete it"
    )
