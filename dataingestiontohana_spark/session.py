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
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
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
    builder = SparkSession.builder
    for k, v in _with_worker_hook(options).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
