"""Start-up hook for the Python processes Spark launches.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source
zip at the head of every Python worker's ``PYTHONPATH`` (daemon, forked
UDF/read/planner workers, the streaming source runner), and the JVM has
no switch to leave them out. Those zips ship no bytecode, so each fresh
process compiles pyspark from source (0.8-1.2 s) where the installed
copy the driver imports loads from ``__pycache__`` (0.2-0.35 s).

``session.get_spark`` puts this directory on the workers' path, so the
interpreter's ``site`` step imports this module as ``sitecustomize``.
It moves each Spark zip behind the rest of ``sys.path`` when another
entry holds the same package at the same version, and leaves
``sys.path`` as Spark built it otherwise. It removes its own directory
either way, and hands over to the interpreter's own ``sitecustomize``
(without touching the zips) if there is one.

Runs in every Spark Python process: standard library only.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _version(source: str) -> str | None:
    """The ``__version__`` literal of a ``version.py``."""
    for line in source.splitlines():
        name, sep, value = line.partition("=")
        if sep and name.split(":")[0].strip() == "__version__":
            return value.strip().strip("'\"")
    return None


def _zip_version(zip_path: str, package: str) -> str | None:
    try:
        data = zipimport.zipimporter(zip_path).get_data(
            f"{package}/version.py"
        )
    except (OSError, zipimport.ZipImportError):
        return None
    return _version(data.decode("utf-8", "replace"))


def _installed_version(path: list[str], package: str) -> str | None:
    """Version of the `package` directory the import system would find
    first on `path`."""
    for entry in path:
        pkg = os.path.join(entry or os.curdir, package)
        if os.path.isdir(pkg):
            try:
                with open(os.path.join(pkg, "version.py"),
                          encoding="utf-8") as fh:
                    return _version(fh.read())
            except OSError:
                return None
    return None


def _spark_zip_package(entry: str) -> str | None:
    """`pyspark` or `py4j` for an entry of Spark's ``python/lib``."""
    head, name = os.path.split(entry)
    if not name.endswith(".zip") or os.path.split(head)[1] != "lib":
        return None
    if os.path.split(os.path.dirname(head))[1] != "python":
        return None
    return name.split("-")[0].removesuffix(".zip")


def reordered(path: list[str]) -> list[str]:
    """`path` with each Spark ``python/lib`` zip moved to the end when
    the rest of `path` holds its package at the same version; entries
    whose versions differ or cannot be read keep their place."""
    zips = [p for p in path if _spark_zip_package(p)]
    rest = [p for p in path if p not in zips]
    moved = []
    for z in zips:
        package = _spark_zip_package(z)
        version = _zip_version(z, package)
        if version is not None and version == _installed_version(
            rest, package
        ):
            moved.append(z)
    return [p for p in path if p not in moved] + moved


def _start() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [
        p for p in sys.path if os.path.abspath(p or os.curdir) != here
    ]
    from importlib.machinery import PathFinder

    spec = PathFinder.find_spec(__name__, sys.path)
    if spec is None:
        sys.path[:] = reordered(sys.path)
        return
    from importlib.util import module_from_spec

    module = module_from_spec(spec)
    sys.modules[__name__] = module
    spec.loader.exec_module(module)


if __name__ == "sitecustomize":
    _start()
