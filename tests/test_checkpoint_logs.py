"""Streaming checkpoint logs under the checkpoint manager local sessions use.

`session.get_spark` gives a session on a local master Spark's
`FileSystemBasedCheckpointFileManager`: the default FileContext-based
one runs 10 shell commands (2 `chmod`, 8 `readlink`) from the JVM per
log entry on a host without Hadoop native IO. These tests pin that the
suite's session writes its logs through that class (and so the name of
Spark's internal conf), that it keeps the default's guarantees on
`file://` (no-overwrite guard, checkpoints interchangeable both ways),
that it verifies the `.crc` files on read, and that a cluster master
keeps Spark's default.
"""

from __future__ import annotations

import os
import shutil

import pytest
from py4j.protocol import Py4JJavaError

from dataingestiontohana_spark import session
from dataingestiontohana_spark.sources.generator import write_sensor_csv_files
from dataingestiontohana_spark.streaming.fault import FaultInjector
from dataingestiontohana_spark.streaming.pipeline import DeliveryMode
from tests.test_streaming_delivery import make_pipeline, run_audit

N_ROWS = 60
N_FILES = 6


def _manager(spark, path: str):
    """The checkpoint manager `spark`'s streaming queries use for `path`."""
    jvm = spark._jvm
    module = getattr(
        jvm.org.apache.spark.sql.execution.streaming.checkpointing,
        "CheckpointFileManager$",
    )
    return getattr(module, "MODULE$").create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def _default_session(spark):
    """A session on the suite's SparkContext with Spark's default
    checkpoint manager."""
    s = spark.newSession()
    s.conf.unset(session._CHECKPOINT_MANAGER)
    return s


def _pipeline(spark, tmp_path, fault=None):
    return make_pipeline(
        spark, str(tmp_path / "source"), tmp_path, DeliveryMode.EXACTLY_ONCE,
        fault,
    )


def test_local_session_writes_logs_through_filesystem_manager(spark, tmp_path):
    fm = _manager(spark, tmp_path.as_uri())
    assert fm.getClass().getName() == session._FS_CHECKPOINT_MANAGER
    default = _manager(_default_session(spark), tmp_path.as_uri())
    assert default.getClass().getSimpleName() == (
        "FileContextBasedCheckpointFileManager"
    )


@pytest.mark.parametrize("manager", ["local", "default"])
def test_second_no_overwrite_create_is_refused(spark, tmp_path, manager):
    s = spark if manager == "local" else _default_session(spark)
    fm = _manager(s, tmp_path.as_uri())
    entry = spark._jvm.org.apache.hadoop.fs.Path((tmp_path / "0").as_uri())
    out = fm.createAtomic(entry, False)
    out.write(bytearray(b"first"))
    out.close()
    out = fm.createAtomic(entry, False)
    out.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
        out.close()
    assert (tmp_path / "0").read_bytes() == b"first"


def test_corrupt_offsets_entry_fails_restart(spark, tmp_path):
    """A same-length edit of `offsets/0` is caught by its `.crc` on
    restart; the default manager reads log entries without the check."""
    write_sensor_csv_files(spark, str(tmp_path / "source"), N_ROWS, 1)
    assert _pipeline(spark, tmp_path).run_to_completion() is None
    ck = tmp_path / "checkpoint"
    assert os.path.exists(ck / "offsets" / ".0.crc")
    entry = (ck / "offsets" / "0").read_text()
    assert '"batchWatermarkMs":0' in entry
    (ck / "offsets" / "0").write_text(
        entry.replace('"batchWatermarkMs":0', '"batchWatermarkMs":7')
    )
    shutil.rmtree(ck / "commits")
    err = _pipeline(spark, tmp_path).run_to_completion()
    assert err is not None and "Checksum error" in str(err)


@pytest.mark.parametrize("writer", ["default", "local"])
def test_checkpoint_restarts_under_the_other_manager(spark, tmp_path, writer):
    """A checkpoint one manager wrote through a crash restarts under the
    other, exactly once."""
    sessions = {"local": spark, "default": _default_session(spark)}
    reader = "local" if writer == "default" else "default"
    write_sensor_csv_files(spark, str(tmp_path / "source"), N_ROWS, N_FILES)
    fault = FaultInjector(
        str(tmp_path / "flag"), FaultInjector.AFTER_WRITE, at_batch=2
    )
    fault.arm()
    crashed = _pipeline(sessions[writer], tmp_path, fault).run_to_completion()
    assert crashed is not None
    assert 0 < run_audit(tmp_path).n_rows < N_ROWS
    assert _pipeline(sessions[reader], tmp_path).run_to_completion() is None
    a = run_audit(tmp_path)
    assert a.exactly_once and a.n_rows == N_ROWS


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_local_master_gets_filesystem_manager(master):
    opts = session._with_local_checkpoint_manager({"spark.master": master})
    assert opts[session._CHECKPOINT_MANAGER] == session._FS_CHECKPOINT_MANAGER


@pytest.mark.parametrize(
    "master",
    ["spark://host:7077", "yarn", "k8s://https://host:6443",
     "local-cluster[2,1,1024]"],
)
def test_cluster_master_keeps_sparks_default(master):
    opts = session._with_local_checkpoint_manager({"spark.master": master})
    assert opts == {"spark.master": master}


def test_callers_manager_wins():
    mine = {"spark.master": "local[2]", session._CHECKPOINT_MANAGER: "my.Manager"}
    assert session._with_local_checkpoint_manager(mine) == mine
