"""SparkSession bootstrap tuned for both local testing and cluster scale.

Local mode is a single JVM with N threads; on a real cluster the same
configs hold (AQE handles runtime re-planning, skew joins, partition
coalescing). Shuffle partitions default to the local core count but are
meant to be overridden (`spark.sql.shuffle.partitions`) at cluster scale
to ~2-3x total executor cores.

Where Spark's Python processes import pyspark from: Spark puts
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar on every Python worker's path — the daemon and its
forked UDF/read/planner workers, and the streaming source runner
started at every query start and restart. That zip holds no bytecode,
so each fresh process compiled pyspark from source (0.8-1.2 s), and the
``zipimporter`` each archive leaves in ``sys.path_importer_cache`` made
every task's ``importlib.invalidate_caches()`` re-read the archives
(about 90 ms, most of it the jar). `get_spark` adds the package's
``_pyworker`` directory to ``spark.executorEnv.PYTHONPATH``; its
``sitecustomize`` drops those archives and their cached importers when
the installed pyspark the driver imports, which ships compiled
bytecode, has the same version.

How streaming queries write their checkpoint logs: every micro-batch
writes log entries (``offsets/N`` and ``commits/N``, plus
``sources/0/N`` for a file source). Spark's default
``FileContextBasedCheckpointFileManager`` runs 10 shell commands from
the JVM for each entry on local disk when Hadoop has no native IO: 2
``chmod`` (the file and its ``.crc``) and 8 ``readlink`` (Hadoop's
``FileUtil.readLink`` in FileContext's rename status checks), about
27-47 ms a write on 4 cores. A session `get_spark` builds on a local master
uses Spark's ``FileSystemBasedCheckpointFileManager`` instead (the class
Spark falls back to for filesystems without a FileContext): the same
check-then-rename no-overwrite guard on ``file://``, ``.crc`` files
still written and now verified on read, checkpoints interchangeable
with the default's, and only the 2 ``chmod`` (8-14 ms a write). A
cluster master keeps Spark's default; a caller's ``extra_conf`` wins.

How the driver JVM starts: a cold start is the JVM loading and
verifying some 20,000 classes one at a time, not JIT compiling (C1
alone halved its CPU time but cut 8.8 s of wall time only to 7.9 s on
4 cores). When `get_spark` launches the JVM itself, it starts it from
a dynamic AppCDS archive (JEP 350) of the classes a session loads,
kept in ``$XDG_CACHE_HOME/dataingestiontohana_spark`` (default
``~/.cache``) under a key over the ``java`` binary and its JDK release,
each jar in ``$SPARK_HOME/jars`` by name, size and mtime, and the rest
of the class path (``spark.driver.extraClassPath``,
``SPARK_DIST_CLASSPATH``). The first start without an archive trains
it: the JVM runs with ``-XX:ArchiveClassesAtExit=<temp>``, and an
``atexit`` hook stops the SparkContext, closes the gateway's stdin
(Spark's ``PythonGatewayServer`` then calls ``System.exit``), waits
while the JVM dumps, and renames the temp file to the archive's name
only after a clean exit, so no incomplete archive is ever visible. A lock file
lets one process train at a time; lock and temp files of dead
processes are cleared by the next start. Later starts add
``-XX:SharedArchiveFile=<archive>`` after the caller's
``spark.driver.extraJavaOptions``: ``get_spark`` 8.0 s -> 4.1 s and
the first job 3.9 s -> 2.0 s on 4 cores. Training costs 4-6 s of
start-up and a 10-18 s dump at exit; the archive takes 140-200 MB,
more the more classes the training session loaded.
The JVM checks the archive's header and class path itself and runs
without it on a mismatch; class bytes and results do not change. CDS
refuses a class path holding a non-empty directory, and Spark's
launcher puts its conf dir first: the archive is used only when that
dir holds no file but ``*.template`` (nothing Spark reads) and no
``HADOOP_CONF_DIR``/``YARN_CONF_DIR`` is set, and then
``SPARK_CONF_DIR`` points at an empty directory in the cache for the
launch alone. Otherwise, or with a JVM already running, the start is
Spark's own. The JVM's CDS messages are kept off stdout.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
from typing import Iterator

from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# start-up hook for Spark's Python processes (see the module docstring)
_PYWORKER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pyworker")
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# checkpoint log writer of local sessions (see the module docstring)
_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


# driver JVM class-data-sharing archive (see the module docstring)
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
_TRAIN_WAIT_S = 300.0
# the JVM prints CDS messages on stdout, after a program's own output;
# keep only the archive-level ones (a refused archive), on stderr
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds+dynamic=warning:stderr"


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "dataingestiontohana_spark")


def _conf_dir_is_idle(spark_home: str) -> bool:
    """True when the class path's only directory, Spark's effective conf
    dir, holds nothing Spark reads (no file but ``*.template``) and no
    Hadoop or YARN conf dir joins the class path."""
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return False
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(name.endswith(".template") for name in names)


def _archive_key(spark_home: str, options: dict[str, str]) -> str | None:
    """Key of what the archive depends on: the java binary the launcher
    runs and its JDK release, and every class path entry but the conf
    dir (the jars by name, size and mtime). None without a java."""
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    digest = hashlib.sha256()

    def add(name: str, path: str) -> None:
        try:
            st = os.stat(path)
            digest.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        except OSError:
            digest.update(f"{name}\0missing\n".encode())

    add(java, java)
    with contextlib.suppress(OSError), open(
        os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb"
    ) as fh:
        digest.update(fh.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)) if os.path.isdir(jars) else ():
        add(name, os.path.join(jars, name))
    extra = (options.get("spark.driver.extraClassPath", ""),
             os.environ.get("SPARK_DIST_CLASSPATH", ""))
    for entry in os.pathsep.join(extra).split(os.pathsep):
        if entry:
            add(entry, entry)
    return digest.hexdigest()[:20]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _owner(path: str) -> int | None:
    """The pid a lock file holds; None when it is missing or unreadable."""
    try:
        with open(path) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def _claim_training(archive: str) -> str | None:
    """The temp path this process trains ``archive`` into, after taking
    its lock and clearing the lock and temp files of dead processes;
    None while a live process trains it."""
    lock = archive + ".lock"
    pid = _owner(lock)
    if pid is not None and not _alive(pid):
        with contextlib.suppress(OSError):
            os.unlink(lock)
    for tmp in glob.glob(glob.escape(archive) + ".*.tmp"):
        stem = tmp[len(archive) + 1:-len(".tmp")]
        if stem.isdigit() and not _alive(int(stem)):
            with contextlib.suppress(OSError):
                os.unlink(tmp)
    # the lock appears complete or not at all: link a written pid file
    mine = f"{lock}.{os.getpid()}"
    with open(mine, "w") as fh:
        fh.write(str(os.getpid()))
    try:
        os.link(mine, lock)
    except FileExistsError:
        return None
    finally:
        os.unlink(mine)
    return f"{archive}.{os.getpid()}.tmp"


def _release_training(archive: str, tmp: str) -> None:
    with contextlib.suppress(OSError):
        os.unlink(tmp)
    if _owner(archive + ".lock") == os.getpid():
        with contextlib.suppress(OSError):
            os.unlink(archive + ".lock")


def _finish_training(proc: subprocess.Popen, archive: str, tmp: str) -> None:
    """At exit of the training process: end the JVM (Spark's
    ``PythonGatewayServer`` calls ``System.exit`` when its stdin
    closes), wait while it dumps the archive, and publish the archive
    under its final name only if the JVM exited cleanly."""
    try:
        # stop the context first: its accumulator server would report the
        # exiting JVM's closed connection as an error while this waits
        active = SparkContext._active_spark_context
        if active is not None:
            active.stop()
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            code = proc.wait(timeout=_TRAIN_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            code = proc.wait()
        if code == 0 and os.path.getsize(tmp) > 0:
            os.replace(tmp, archive)
    except OSError:
        pass
    finally:
        _release_training(archive, tmp)


def _archive_plan(options: dict[str, str]) -> tuple[str, str, str | None] | None:
    """(JVM flags, archive, training temp path or None when the archive
    exists) for a start that launches the driver JVM on a class path CDS
    can archive; None for a start Spark makes on its own."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    spark_home = _find_spark_home()
    cache = _cache_dir()
    # Spark's launcher splits the JVM options on blanks and quotes
    if (not _conf_dir_is_idle(spark_home)
            or any(c.isspace() or c in "\"'\\" for c in cache)):
        return None
    key = _archive_key(spark_home, options)
    if key is None:
        return None
    archive = os.path.join(cache, f"driver-{key}.jsa")
    os.makedirs(cache, exist_ok=True)
    if os.path.isfile(archive):
        return f"{_CDS_LOG} -XX:SharedArchiveFile={archive}", archive, None
    tmp = _claim_training(archive)
    if tmp is None:
        return None
    return f"{_CDS_LOG} -XX:ArchiveClassesAtExit={tmp}", archive, tmp


@contextlib.contextmanager
def _class_data_sharing(options: dict[str, str]) -> Iterator[dict[str, str]]:
    """Yield the options to start the session with: `options`, plus the
    archive flags after the caller's JVM options when `_archive_plan`
    has a plan; then ``SPARK_CONF_DIR`` points at an empty directory
    while the JVM launches, and a training start finishes at exit."""
    plan = _archive_plan(options)
    if plan is None:
        yield options
        return
    flags, archive, tmp = plan
    user = options.get(_JAVA_OPTIONS)
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    empty_conf = os.path.join(_cache_dir(), "empty-conf")
    os.makedirs(empty_conf, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = empty_conf
    try:
        yield {**options, _JAVA_OPTIONS: f"{user} {flags}" if user else flags}
    finally:
        if conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir
        if tmp is not None:
            gateway = SparkContext._gateway
            if gateway is not None and gateway.proc is not None:
                atexit.register(_finish_training, gateway.proc, archive, tmp)
            else:
                _release_training(archive, tmp)


def _with_local_checkpoint_manager(options: dict[str, str]) -> dict[str, str]:
    """`options` with the FileSystem-based checkpoint manager when their
    master is local (``local``, ``local[...]``) and they name no manager
    of their own; any other master keeps Spark's default."""
    master = options.get("spark.master", "")
    if master != "local" and not master.startswith("local["):
        return dict(options)
    return {_CHECKPOINT_MANAGER: _FS_CHECKPOINT_MANAGER, **options}


def _with_worker_hook(options: dict[str, str]) -> dict[str, str]:
    """`options` with the hook directory appended to the workers'
    PYTHONPATH. The caller's value stays and comes first, so a
    sitecustomize of theirs is never shadowed: the one in `options`,
    else the one Spark's own configuration sets (spark-defaults.conf,
    ``spark-submit --conf``), which a builder option would replace."""
    conf = dict(options)
    user = conf.get(_WORKER_PYTHONPATH)
    if user is None:
        # those files reach Python only as the JVM's system properties:
        # start the JVM with the session's options, as getOrCreate
        # would, and read them back
        SparkContext._ensure_initialized(
            conf=SparkConf(loadDefaults=False).setAll(conf.items())
        )
        user = SparkConf().get(_WORKER_PYTHONPATH)
    entries = [p for p in (user or "").split(os.pathsep) if p]
    conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        entries + [_PYWORKER] * (_PYWORKER not in entries)
    )
    return conf


def get_spark(
    app_name: str = "dataingestiontohana_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching survive a 100x scale-up where a
      static plan would not.
    - UTC session timezone: required for oracle (DuckDB) comparability.
    - Arrow on: fast pandas interchange for the Pandas-UDF slow path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    options = {
        "spark.master": master,
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # files.maxPartitionBytes default 128MB is right for the 100TB
        # target; local parquet is far smaller than one partition anyway.
        "spark.ui.enabled": "false",
        # PySpark's DataFrame-debugging hook (default on) walks the
        # Python stack and makes two extra py4j calls on EVERY
        # DataFrame operation, purely to enrich error messages with
        # the user call site. This package issues tens of thousands of
        # DataFrame ops per suite pass — measured 68 s -> 42 s of
        # driver-side plan-construction time at sf0.1 with it off
        # (guide §5: keep the driver out of the hot path). Purely
        # diagnostic metadata; no plan or result changes.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        **(extra_conf or {}),
    }
    options = _with_local_checkpoint_manager(options)
    with _class_data_sharing(options) as options:
        builder = SparkSession.builder
        for k, v in _with_worker_hook(options).items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
