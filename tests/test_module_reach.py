"""Every ingest-layer module is reached by something that runs.

A module under `streaming/` or `sources/` that only tests import is a
feature nothing drives: no driver entry, graph node, tool, benchmark or
bench script. This guard keeps those layers down to what the pipeline
uses, by an AST import scan of the non-test code."""

from __future__ import annotations

import ast
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


def test_ingest_modules_are_reached_by_non_test_code():
    unreached = _unreached()
    assert not unreached, (
        f"modules only tests (or their own package __init__) import: "
        f"{unreached}; wire each into a graph node, tool or benchmark, "
        f"or delete it"
    )

