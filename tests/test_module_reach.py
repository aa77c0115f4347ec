"""Every module and public def of the guarded layers is reached by
something that runs.

A module under `streaming/`, `sources/`, `operators/` or `functions/`
that only tests import is a feature nothing drives: no driver entry,
graph node, tool, benchmark or bench script. This guard keeps those
layers down to what the program uses, by an AST scan of the non-test
code. The same holds one level down for their top-level public functions
and classes: each must be named by code that runs, or cited by README.md
as `layer/file.py::name` (a documented capability, such as the jar-gated
Kafka connector source, or a reference twin that tests compare live code
against). Reach is transitive: a def named only inside other unreached
defs is unreached too. A package `__init__` re-export reaches nothing."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import dataingestiontohana_spark as pkg

PKG_ROOT = Path(pkg.__file__).parent
REPO = PKG_ROOT.parent
LAYERS = ("streaming", "sources", "operators", "functions")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _non_test_files() -> list[Path]:
    files = [
        *PKG_ROOT.rglob("*.py"),
        *REPO.joinpath("tools").rglob("*.py"),
        *REPO.joinpath("perfbench").rglob("*.py"),
        *REPO.glob("bench*.py"),
        REPO / "__spark_entry__.py",
    ]
    return [f for f in files if "tests" not in f.relative_to(REPO).parts]


def _layer_files() -> list[tuple[str, Path]]:
    return [
        (f"{layer}/{p.name}", p)
        for layer in LAYERS
        for p in sorted(PKG_ROOT.joinpath(layer).glob("*.py"))
        if p.name != "__init__.py"
    ]


def _readme_cites() -> set[tuple[str, str]]:
    return set(re.findall(r"\b([\w/]+\.py)::(\w+)",
                          (REPO / "README.md").read_text()))


def _imported_modules(tree: ast.AST) -> set[str]:
    """Absolute module names `tree` imports; `from a.b import c` counts
    for both `a.b` and `a.b.c`, since `c` may be a submodule."""
    found: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            found.update(a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom) and n.module and not n.level:
            found.add(n.module)
            found.update(f"{n.module}.{a.name}" for a in n.names)
    return found


def _names(tree: ast.AST, skip: tuple[ast.AST, ...] = ()) -> set[str]:
    """Identifiers `tree` uses (names, attributes, imported names),
    outside the subtrees in `skip`."""
    found: set[str] = set()
    todo = [tree]
    while todo:
        n = todo.pop()
        if n in skip:
            continue
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            found.update(a.name for a in n.names)
        todo.extend(ast.iter_child_nodes(n))
    return found


def _unreached() -> list[str]:
    cited = {path for path, _ in _readme_cites()}
    importers: dict[str, set[Path]] = {}
    for f in _non_test_files():
        if f.name == "__init__.py":
            continue
        for mod in _imported_modules(ast.parse(f.read_text(), str(f))):
            importers.setdefault(mod, set()).add(f)
    return [
        rel for rel, path in _layer_files()
        if not importers.get(f"{pkg.__name__}.{rel[:-3].replace('/', '.')}",
                             set()) - {path}
        and rel not in cited
    ]


def _unreached_defs() -> list[str]:
    """Top-level public defs of the guarded layers that no running code
    reaches. The roots are every non-test file outside those layers and
    the module-level statements of the layer files; a def is reached
    when a root or an already reached def names it, iterated to a fixed
    point, or when README cites it."""
    layer_files = {p: rel for rel, p in _layer_files()}
    cited = _readme_cites()
    roots: set[str] = set()
    defs: dict[tuple[str, str], set[str]] = {}
    for f in _non_test_files():
        if f.name == "__init__.py":
            continue
        tree = ast.parse(f.read_text(), filename=str(f))
        if f not in layer_files:
            roots |= _names(tree)
            continue
        body_defs = tuple(d for d in tree.body if isinstance(d, _DEFS))
        roots |= _names(tree, skip=body_defs)
        for d in body_defs:
            defs[(layer_files[f], d.name)] = _names(d) - {d.name}
    reached = {key for key in defs if key in cited or key[1] in roots}
    while True:
        named = set().union(*(defs[key] for key in reached))
        grown = reached | {key for key in defs if key[1] in named}
        if grown == reached:
            break
        reached = grown
    return [f"{rel}::{name}" for rel, name in sorted(defs)
            if (rel, name) not in reached and not name.startswith("_")]


def test_ingest_modules_are_reached_by_non_test_code():
    unreached = _unreached()
    assert not unreached, (
        f"modules only tests (or a package __init__) import: "
        f"{unreached}; wire each into a graph node, tool or benchmark, "
        f"or delete it"
    )


def test_ingest_defs_are_reached_by_non_test_code_or_readme():
    unreached = _unreached_defs()
    assert not unreached, (
        f"public defs only tests or unreached defs name: {unreached}; "
        f"call each from a graph node, tool or benchmark, cite a "
        f"documented capability in README.md as path::name, or delete it"
    )
