"""The driver JVM starts from a class-data-sharing archive of the classes
a session loads (`session._class_data_sharing`).

Most of these drive the launch decision against a fake Spark home and
JDK, with no JVM: when the options and the environment change, the
training run's publish/cleanup rules, and the archive key. One
subprocess test trains a real archive and maps it with `-Xshare:on`,
which makes the JVM refuse to start rather than run without it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext

from dataingestiontohana_spark import session

REPO = Path(__file__).resolve().parent.parent
CALLER = "-Dcaller.flag=1"


@pytest.fixture
def home(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds only templates, a JDK, an empty
    cache, and no running gateway or context (the exit hook these tests
    call stops the active context)."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("#\n")
    for name in ("spark-core.jar", "spark-sql.jar"):
        (spark_home / "jars" / name).write_bytes(b"PK" + name.encode())
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("#!/bin/sh\n")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(spark_home))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    return spark_home


def _archive(options: dict[str, str]) -> Path:
    key = session._archive_key(session._find_spark_home(), options)
    return Path(session._cache_dir()) / f"driver-{key}.jsa"


def _start(options: dict[str, str]) -> tuple[dict[str, str], str | None]:
    """(options the session would start with, SPARK_CONF_DIR during the
    launch), with no JVM launched."""
    with session._class_data_sharing(options) as opts:
        return opts, os.environ.get("SPARK_CONF_DIR")


class _FakeGateway:
    def __init__(self, proc):
        self.proc = proc


def _train(monkeypatch, options, script: str) -> tuple[Path, Path]:
    """Start a training run whose 'JVM' is `script` run with the temp
    path, and finish it as the exit hook would; returns (archive, temp)."""
    hooks = []
    monkeypatch.setattr(session.atexit, "register",
                        lambda fn, *args: hooks.append((fn, args)))
    with session._class_data_sharing(options) as opts:
        flag = opts[session._JAVA_OPTIONS].split()[-1]
        assert flag.startswith("-XX:ArchiveClassesAtExit=")
        tmp = flag.split("=", 1)[1]
        proc = subprocess.Popen([sys.executable, "-c", script, tmp],
                                stdin=subprocess.PIPE)
        SparkContext._gateway = _FakeGateway(proc)
    [(fn, args)] = hooks
    fn(*args)
    SparkContext._gateway = None
    return _archive(options), Path(tmp)


# the fake JVM waits for its stdin to close, as PythonGatewayServer does
_DUMP_AND_EXIT = ("import sys; sys.stdin.read(); "
                  "open(sys.argv[1], 'wb').write(b'CDS'); sys.exit({code})")
_EXIT_ONLY = "import sys; sys.stdin.read(); sys.exit({code})"


def test_real_conf_file_changes_nothing(home):
    (home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    options = {"spark.master": "local[2]", session._JAVA_OPTIONS: CALLER}
    env = dict(os.environ)
    assert _start(options) == (options, None)
    assert dict(os.environ) == env
    assert not Path(session._cache_dir()).exists()


def test_hadoop_conf_dir_changes_nothing(home, monkeypatch, tmp_path):
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    options = {"spark.master": "local[2]"}
    assert _start(options) == (options, None)



def test_cache_path_with_a_blank_changes_nothing(home, monkeypatch, tmp_path):
    # Spark's launcher would split the archive flag at the blank
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "my cache"))
    options = {"spark.master": "local[2]"}
    assert _start(options) == (options, None)

def test_running_gateway_changes_nothing(home, monkeypatch):
    _archive({}).parent.mkdir(parents=True)
    _archive({}).write_bytes(b"CDS")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    options = {"spark.master": "local[2]"}
    assert _start(options) == (options, None)


def test_archive_maps_after_callers_options(home):
    options = {"spark.master": "local[2]", session._JAVA_OPTIONS: CALLER}
    archive = _archive(options)
    archive.parent.mkdir(parents=True)
    archive.write_bytes(b"CDS")
    opts, conf_dir = _start(options)
    assert opts[session._JAVA_OPTIONS] == (
        f"{CALLER} {session._CDS_LOG} -XX:SharedArchiveFile={archive}"
    )
    assert {k: v for k, v in opts.items() if k != session._JAVA_OPTIONS} == {
        "spark.master": "local[2]"}
    # the launch alone sees the empty conf dir
    assert conf_dir == os.path.join(session._cache_dir(), "empty-conf")
    assert os.listdir(conf_dir) == []
    assert "SPARK_CONF_DIR" not in os.environ


def test_callers_conf_dir_is_restored(home, monkeypatch, tmp_path):
    own = tmp_path / "own-conf"
    own.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(own))
    _, conf_dir = _start({})
    assert conf_dir != str(own)
    assert os.environ["SPARK_CONF_DIR"] == str(own)


def test_clean_training_run_publishes(home, monkeypatch):
    archive, tmp = _train(monkeypatch, {}, _DUMP_AND_EXIT.format(code=0))
    assert archive.read_bytes() == b"CDS"
    assert not tmp.exists()
    assert not Path(f"{archive}.lock").exists()


@pytest.mark.parametrize("script", [
    _DUMP_AND_EXIT.format(code=1), _EXIT_ONLY.format(code=0),
], ids=["nonzero-exit", "no-file"])
def test_failed_training_run_publishes_nothing(home, monkeypatch, script):
    archive, tmp = _train(monkeypatch, {}, script)
    assert not archive.exists()
    assert not tmp.exists()
    assert not Path(f"{archive}.lock").exists()
    # the next start trains again
    opts, _ = _start({})
    assert "-XX:ArchiveClassesAtExit=" in opts[session._JAVA_OPTIONS]


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


def test_dead_trainers_lock_and_temp_are_cleared(home):
    archive = _archive({})
    archive.parent.mkdir(parents=True)
    dead = _dead_pid()
    Path(f"{archive}.lock").write_text(str(dead))
    stale = Path(f"{archive}.{dead}.tmp")
    stale.write_bytes(b"partial")
    opts, _ = _start({})
    assert not stale.exists()
    assert opts[session._JAVA_OPTIONS].endswith(
        f"-XX:ArchiveClassesAtExit={archive}.{os.getpid()}.tmp")
    # no JVM was launched: the start released its claim
    assert not Path(f"{archive}.lock").exists()


def test_live_trainer_is_left_alone(home):
    archive = _archive({})
    archive.parent.mkdir(parents=True)
    with subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"],
                          stdin=subprocess.PIPE) as other:
        Path(f"{archive}.lock").write_text(str(other.pid))
        live = Path(f"{archive}.{other.pid}.tmp")
        live.write_bytes(b"dumping")
        options = {session._JAVA_OPTIONS: CALLER}
        opts, conf_dir = _start(options)
        other.stdin.close()
    assert (opts, conf_dir) == (options, None)
    assert live.exists()
    assert Path(f"{archive}.lock").read_text() == str(other.pid)


def test_key_follows_jar_size_and_mtime(home):
    key = session._archive_key(str(home), {})
    jar = home / "jars" / "spark-core.jar"
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = session._archive_key(str(home), {})
    assert touched != key
    jar.write_bytes(jar.read_bytes() + b"x")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert session._archive_key(str(home), {}) not in (key, touched)


def test_key_follows_driver_extra_class_path(home, tmp_path):
    extra = tmp_path / "extra.jar"
    extra.write_bytes(b"PK")
    key = session._archive_key(str(home), {})
    assert session._archive_key(
        str(home), {"spark.driver.extraClassPath": str(extra)}) != key


_SESSION = r"""
import json, sys
from dataingestiontohana_spark.session import get_spark
spark = get_spark("cds-check", master="local[1]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "512m",
                              "spark.driver.extraJavaOptions": sys.argv[1]})
rows = (spark.range(2000).selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k").agg({"v": "sum"}).orderBy("k").collect())
# a Python accumulator holds a connection from the JVM until it exits
acc = spark.sparkContext.accumulator(0)
spark.sparkContext.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({"rows": [list(r) for r in rows] + [acc.value],
                  "args": list(bean.getInputArguments())}))
"""


def _session_run(cache: Path, java_options: str) -> tuple[dict, str]:
    env = {**os.environ, "XDG_CACHE_HOME": str(cache)}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, java_options], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    # the JVM's CDS messages never trail the program's own stdout
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stderr


def test_archived_start_returns_the_same_rows(tmp_path):
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        session._find_spark_home(), "conf")
    if not session._conf_dir_is_idle(session._find_spark_home()):
        pytest.skip(f"{conf} holds Spark configuration: no archive is used")
    trained, err = _session_run(tmp_path, CALLER)
    # the exit hook stops the context before the JVM exits and dumps
    assert "Traceback" not in err, err[-3000:]
    assert any(a.startswith("-XX:ArchiveClassesAtExit=")
               for a in trained["args"])
    cache = tmp_path / "dataingestiontohana_spark"
    [archive] = cache.glob("driver-*.jsa")
    assert sorted(p.name for p in cache.iterdir()) == [archive.name, "empty-conf"]
    # -Xshare:on: the JVM exits if it cannot map the archive
    mapped, _ = _session_run(tmp_path, "-Xshare:on")
    args = mapped["args"]
    assert f"-XX:SharedArchiveFile={archive}" in args
    assert args.index("-Xshare:on") < args.index(
        f"-XX:SharedArchiveFile={archive}")
    assert mapped["rows"] == trained["rows"]
