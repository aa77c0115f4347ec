"""Start-up hook for the Python processes Spark launches.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and ``$SPARK_HOME/jars/spark-core_<scala>-<version>.jar`` on every
Python worker's ``PYTHONPATH`` (daemon, forked UDF/read/planner
workers, the streaming source runner), and the JVM has no switch to
leave them out. The zips ship no bytecode, so each fresh process
compiled pyspark from source (0.8-1.2 s) where the installed copy the
driver imports loads from ``__pycache__`` (0.2-0.35 s). The jar holds
no ``.py`` file at all. Each archive also leaves a ``zipimporter`` in
``sys.path_importer_cache`` (the jar two: ``pickle`` and ``copy`` probe
for Jython's ``org.python.core``, which finds the jar's ``org/``), and
``importlib.invalidate_caches()``, which pyspark calls once per task,
per planner call and per source-runner start, re-reads the central
directory of each of them: 90-150 ms per call on 4 cores, most of it
the jar's 5,359 entries, read once per importer over the jar.

``session.get_spark`` puts this directory on the workers' path, so the
interpreter's ``site`` step imports this module as ``sitecustomize``.
It drops each Spark zip whose package another entry holds at the same
version, and the spark-core jar when another entry holds pyspark at the
jar's version (read from its file name; opening the jar costs more than
the call it saves), and evicts the importers cached for what it drops.
Entries whose versions differ or cannot be read keep their place. It
removes its own directory and importer either way, and hands over to
the interpreter's own ``sitecustomize`` (without touching Spark's
entries) if there is one; so with mismatched versions ``sys.path`` and
the importer cache are as Spark built them.

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


def _spark_core_version(entry: str) -> str | None:
    """`<version>` of a ``jars/spark-core_<scala>-<version>.jar`` entry."""
    head, name = os.path.split(entry)
    prefix, suffix = "spark-core_", ".jar"
    if (os.path.split(head)[1] != "jars" or not name.startswith(prefix)
            or not name.endswith(suffix)):
        return None
    return name[len(prefix):-len(suffix)].partition("-")[2] or None


def pruned(path: list[str]) -> list[str]:
    """`path` without the Spark archives the rest of it makes redundant:
    each ``python/lib`` zip whose package the rest holds at the same
    version, and the spark-core jar when the rest holds pyspark at the
    jar's version. Entries whose versions differ or cannot be read keep
    their place."""
    archives = {}
    for entry in path:
        package = _spark_zip_package(entry)
        if package:
            archives[entry] = (package, _zip_version(entry, package))
        elif version := _spark_core_version(entry):
            archives[entry] = ("pyspark", version)
    rest = [p for p in path if p not in archives]
    redundant = {
        entry for entry, (package, version) in archives.items()
        if version is not None and version == _installed_version(rest, package)
    }
    return [p for p in path if p not in redundant]


def _evict(dropped: list[str]) -> None:
    """Forget the importers cached for the `dropped` path entries and
    for paths inside them (a jar's ``<jar>/org`` importer)."""
    roots = [os.path.abspath(p or os.curdir) for p in dropped]
    for key in list(sys.path_importer_cache):
        if any(os.path.abspath(key) == r or key.startswith(r + os.sep)
               for r in roots):
            del sys.path_importer_cache[key]


def _start() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    spark_path = list(sys.path)
    sys.path[:] = [
        p for p in spark_path if os.path.abspath(p or os.curdir) != here
    ]
    from importlib.machinery import PathFinder

    spec = PathFinder.find_spec(__name__, sys.path)
    if spec is None:
        sys.path[:] = pruned(sys.path)
    _evict([p for p in spark_path if p not in sys.path])
    if spec is not None:
        from importlib.util import module_from_spec

        module = module_from_spec(spec)
        sys.modules[__name__] = module
        spec.loader.exec_module(module)


if __name__ == "sitecustomize":
    _start()
