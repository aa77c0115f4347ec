"""Spark's Python processes import the driver's pyspark, not pyspark.zip,
and keep no importer over Spark's archives.

`session.get_spark` puts `dataingestiontohana_spark/_pyworker` on the
workers' PYTHONPATH; its `sitecustomize` drops Spark's bytecode-free
`python/lib/*.zip` entries and the spark-core jar when the installed
pyspark has the same version, and evicts their cached `zipimporter`s,
which every `importlib.invalidate_caches()` would re-read. These tests
pin that both kinds of Spark Python process (a daemon-forked task and
the per-query streaming source runner) import the driver's pyspark and
hold no zipimporter, and the hook's invariants: same version only, a
caller's worker PYTHONPATH kept, no foreign sitecustomize shadowed,
stdlib-only imports.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import zipfile

import pyspark
from pyspark.sql.datasource import DataSource, DataSourceStreamReader

from dataingestiontohana_spark import session
from dataingestiontohana_spark._pyworker import sitecustomize as hook

HOOK_FILE = os.path.join(session._PYWORKER, "sitecustomize.py")


def _assert_drivers_pyspark(path: str) -> None:
    assert "pyspark.zip" not in path
    assert path == pyspark.__file__


def _is_spark_archive(entry: str) -> bool:
    head = os.path.dirname(entry)
    return os.path.basename(head) == "jars" or (
        entry.endswith(".zip") and head.endswith(os.path.join("python", "lib"))
    )


def _assert_no_spark_archives(state: dict) -> None:
    """A Spark Python process's `state`: no importer left for
    `invalidate_caches()` to re-read, no Spark archive on its path."""
    assert state["zipimporters"] == 0, state["path"]
    assert [p for p in state["path"] if _is_spark_archive(p)] == []


def test_daemon_forked_task_imports_drivers_pyspark(spark):
    def files(batches):
        import json
        import sys
        import zipimport

        import pyspark

        state = json.dumps({
            "path": sys.path,
            "zipimporters": sum(
                isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values()
            ),
        })
        for b in batches:
            yield b.assign(f=pyspark.__file__, state=state)

    rows = (
        spark.range(2, numPartitions=1)
        .mapInPandas(files, "id long, f string, state string")
        .collect()
    )
    assert {r.f for r in rows} == {pyspark.__file__}
    _assert_drivers_pyspark(rows[0].f)
    _assert_no_spark_archives(json.loads(rows[0].state))


def test_streaming_source_runner_imports_drivers_pyspark(spark, tmp_path):
    out = tmp_path / "runner_state.json"

    class ProbeReader(DataSourceStreamReader):
        def __init__(self, options):
            self.out = options["out"]

        def initialOffset(self):
            import json
            import sys
            import zipimport

            import pyspark

            with open(self.out, "w") as fh:
                json.dump({
                    "pyspark": pyspark.__file__,
                    "path": sys.path,
                    "zipimporters": sum(
                        isinstance(v, zipimport.zipimporter)
                        for v in sys.path_importer_cache.values()
                    ),
                }, fh)
            return {"n": 0}

        def latestOffset(self):
            return {"n": 0}

        def partitions(self, start, end):
            return []

        def read(self, partition):
            return iter(())

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return "pyworker_probe"

        def schema(self):
            return "v int"

        def streamReader(self, schema):
            return ProbeReader(self.options)

    spark.dataSource.register(Probe)
    q = (
        spark.readStream.format("pyworker_probe")
        .option("out", str(out))
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = json.loads(out.read_text())
    _assert_drivers_pyspark(state["pyspark"])
    _assert_no_spark_archives(state)


# ---- the hook's invariants --------------------------------------------

def _spark_zip(tmp_path, version: str) -> str:
    """A throwaway `<spark>/python/lib/pyspark.zip` of `version`."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    z = str(lib / "pyspark.zip")
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return z


def _spark_jar(tmp_path, version: str) -> str:
    """A throwaway `<spark>/jars/spark-core_2.13-<version>.jar` that,
    like the real one, holds classes and no Python module."""
    jars = tmp_path / "spark" / "jars"
    jars.mkdir(parents=True, exist_ok=True)
    jar = str(jars / f"spark-core_2.13-{version}.jar")
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("org/apache/spark/SparkContext.class", b"")
    return jar


_WORKER_STATE = (
    "import json, sys; print(json.dumps([sys.path, "
    "getattr(sys.modules.get('sitecustomize'), '__file__', None), "
    "{k: type(v).__name__ for k, v in sys.path_importer_cache.items()}]))"
)


def _worker(*pythonpath: str) -> tuple[list[str], str | None, dict]:
    """sys.path of a fresh interpreter started with `pythonpath`, the
    file its `sitecustomize` module came from, and the type of each
    importer it has cached."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(pythonpath))
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_STATE],
        env=env, capture_output=True, text=True, check=True, timeout=60,
    ).stdout
    return tuple(json.loads(out))


def _site_packages() -> str:
    return os.path.dirname(os.path.dirname(pyspark.__file__))


def test_mismatched_zip_version_leaves_path_untouched(tmp_path):
    z = _spark_zip(tmp_path, "0.0.1")
    path = [z, "/elsewhere", _site_packages()]
    assert hook.pruned(path) == path
    # end to end: a worker's sys.path is byte-for-byte the hook-less one
    assert _worker(z, session._PYWORKER)[0] == _worker(z)[0]


def test_unreadable_zip_leaves_path_untouched(tmp_path):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    (lib / "pyspark.zip").write_bytes(b"not a zip")
    path = [str(lib / "pyspark.zip"), _site_packages()]
    assert hook.pruned(path) == path


def test_mismatched_versions_leave_importer_cache_as_spark_built_it(
    tmp_path,
):
    z = _spark_zip(tmp_path, "0.0.1")
    jar = _spark_jar(tmp_path, "0.0.1")
    plain = _worker(z, jar)
    hooked = _worker(z, jar, session._PYWORKER)
    assert hooked[0] == plain[0]
    assert hooked[2] == plain[2]
    assert plain[2][z] == plain[2][jar] == "zipimporter"


def test_same_version_zip_is_dropped(tmp_path):
    z = _spark_zip(tmp_path, pyspark.__version__)
    assert hook.pruned([z, "/elsewhere", _site_packages()]) == [
        "/elsewhere", _site_packages(),
    ]
    plain, _, _ = _worker(z)
    hooked, _, importers = _worker(z, session._PYWORKER)
    assert hooked == [p for p in plain if p != z]
    # the importer the site step made while looking for sitecustomize
    assert z not in importers
    assert "zipimporter" not in importers.values()


def test_same_version_spark_core_jar_is_dropped(tmp_path):
    jar = _spark_jar(tmp_path, pyspark.__version__)
    assert hook.pruned([jar, "/elsewhere", _site_packages()]) == [
        "/elsewhere", _site_packages(),
    ]
    plain, _, _ = _worker(jar)
    hooked, _, importers = _worker(jar, session._PYWORKER)
    assert hooked == [p for p in plain if p != jar]
    assert "zipimporter" not in importers.values()


def test_other_version_spark_core_jar_keeps_its_place(tmp_path):
    jar = _spark_jar(tmp_path, "0.0.1")
    path = [jar, "/elsewhere", _site_packages()]
    assert hook.pruned(path) == path
    # same version, but nothing else on the path holds pyspark
    jar = _spark_jar(tmp_path, pyspark.__version__)
    assert hook.pruned([jar, "/elsewhere"]) == [jar, "/elsewhere"]


def test_user_archives_keep_their_place(tmp_path):
    v = pyspark.__version__
    deps = str(tmp_path / "deps.zip")  # a user's bundle of the same pyspark
    with zipfile.ZipFile(deps, "w") as zf:
        zf.writestr("pyspark/version.py", f'__version__: str = "{v}"\n')
    path = [
        f"/srv/app/jars/mylib-{v}.jar",
        f"/srv/app/jars/spark-core-extras_2.13-{v}.jar",
        f"/srv/app/lib/spark-core_2.13-{v}.jar",
        deps,
        _site_packages(),
    ]
    assert hook.pruned(path) == path


def test_evict_forgets_importers_inside_a_dropped_archive(monkeypatch):
    jar = "/spark/jars/spark-core_2.13-4.1.2.jar"
    cache = {
        jar: "jar", jar + "/org": "jar/org", jar + "x": "sibling",
        "/spark/python/lib/pyspark.zip": "zip", "/usr/lib": "dir",
    }
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    hook._evict([jar, "/spark/python/lib/pyspark.zip"])
    assert cache == {jar + "x": "sibling", "/usr/lib": "dir"}


def test_callers_worker_pythonpath_is_kept():
    key = "spark.executorEnv.PYTHONPATH"
    user = os.pathsep.join(["/srv/mine", "/srv/theirs"])
    conf = session._with_worker_hook({key: user, "spark.x": "1"})
    assert conf[key] == os.pathsep.join([user, session._PYWORKER])
    assert conf["spark.x"] == "1"
    # a second session's options already carry the hook: no duplicate
    assert session._with_worker_hook(conf)[key] == conf[key]


def test_configured_worker_pythonpath_is_kept(spark):
    """spark-defaults.conf and ``spark-submit --conf`` values reach the
    session as JVM system properties; a builder option would replace
    them, so the hook carries them over."""
    key = "spark.executorEnv.PYTHONPATH"
    system = spark.sparkContext._jvm.java.lang.System
    assert system.getProperty(key) is None
    system.setProperty(key, "/srv/site")
    try:
        conf = session._with_worker_hook({"spark.x": "1"})
    finally:
        system.clearProperty(key)
    assert conf[key] == os.pathsep.join(["/srv/site", session._PYWORKER])
    assert session._with_worker_hook({})[key] == session._PYWORKER


def test_session_sets_the_worker_hook(spark):
    conf = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert session._PYWORKER in conf.split(os.pathsep)
    assert os.path.isfile(HOOK_FILE)


def test_existing_sitecustomize_is_not_shadowed(tmp_path):
    z = _spark_zip(tmp_path, pyspark.__version__)
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text("")
    path, site_file, _ = _worker(z, session._PYWORKER, str(other))
    assert site_file == str(other / "sitecustomize.py")
    # the bootstrap was skipped: the zip keeps its place
    assert path.index(z) < path.index(_site_packages())
    assert session._PYWORKER not in path


def test_sitecustomize_imports_only_stdlib():
    tree = ast.parse(open(HOOK_FILE).read())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, "relative import"
            names.add(node.module.split(".")[0])
    assert names, "no imports found"
    assert names <= set(sys.stdlib_module_names), (
        names - set(sys.stdlib_module_names)
    )
