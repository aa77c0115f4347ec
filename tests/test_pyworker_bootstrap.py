"""Spark's Python processes import the driver's pyspark, not pyspark.zip.

`session.get_spark` puts `dataingestiontohana_spark/_pyworker` on the
workers' PYTHONPATH; its `sitecustomize` moves Spark's bytecode-free
`python/lib/*.zip` entries behind the installed pyspark of the same
version. These tests pin that both kinds of Spark Python process (a
daemon-forked task and the per-query streaming source runner) import
the driver's pyspark, and the hook's invariants: same version only,
a caller's worker PYTHONPATH kept, no foreign sitecustomize shadowed,
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


def test_daemon_forked_task_imports_drivers_pyspark(spark):
    def files(batches):
        import pyspark

        for b in batches:
            yield b.assign(f=pyspark.__file__)

    rows = (
        spark.range(2, numPartitions=1)
        .mapInPandas(files, "id long, f string")
        .collect()
    )
    assert {r.f for r in rows} == {pyspark.__file__}
    _assert_drivers_pyspark(rows[0].f)


def test_streaming_source_runner_imports_drivers_pyspark(spark, tmp_path):
    out = tmp_path / "runner_pyspark.txt"

    class ProbeReader(DataSourceStreamReader):
        def __init__(self, options):
            self.out = options["out"]

        def initialOffset(self):
            import pyspark

            with open(self.out, "w") as fh:
                fh.write(pyspark.__file__)
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
    _assert_drivers_pyspark(out.read_text())


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


def _worker_sys_path(*pythonpath: str) -> tuple[list[str], str | None]:
    """sys.path of a fresh interpreter started with `pythonpath`, and
    the file its `sitecustomize` module came from."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(pythonpath))
    out = subprocess.run(
        [sys.executable, "-c",
         "import json, sys; print(json.dumps([sys.path, "
         "getattr(sys.modules.get('sitecustomize'), '__file__', None)]))"],
        env=env, capture_output=True, text=True, check=True, timeout=60,
    ).stdout
    return tuple(json.loads(out))


def _site_packages() -> str:
    return os.path.dirname(os.path.dirname(pyspark.__file__))


def test_mismatched_zip_version_leaves_path_untouched(tmp_path):
    z = _spark_zip(tmp_path, "0.0.1")
    path = [z, "/elsewhere", _site_packages()]
    assert hook.reordered(path) == path
    # end to end: a worker's sys.path is byte-for-byte the hook-less one
    assert _worker_sys_path(z, session._PYWORKER)[0] == _worker_sys_path(z)[0]


def test_unreadable_zip_leaves_path_untouched(tmp_path):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    (lib / "pyspark.zip").write_bytes(b"not a zip")
    path = [str(lib / "pyspark.zip"), _site_packages()]
    assert hook.reordered(path) == path


def test_same_version_zip_moves_behind_site_packages(tmp_path):
    z = _spark_zip(tmp_path, pyspark.__version__)
    assert hook.reordered([z, "/elsewhere", _site_packages()]) == [
        "/elsewhere", _site_packages(), z,
    ]
    plain, _ = _worker_sys_path(z)
    hooked, _ = _worker_sys_path(z, session._PYWORKER)
    assert hooked == [p for p in plain if p != z] + [z]


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
    path, site_file = _worker_sys_path(z, session._PYWORKER, str(other))
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
