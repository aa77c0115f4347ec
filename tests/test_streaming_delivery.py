"""Delivery-semantics harness: automates the reference's manual
chaos experiment (SURVEY §5.1) — ingest a replayable CSV stream, kill
mid-run via the fault injector, restart from the checkpoint, audit the
sink on counter continuity:

- exactly-once (keyed upsert):  rows = uniq = span   (README.md:158-164)
- at-least-once (append):       no gaps, dups allowed (README.md:121-126)
- at-most-once (lab mode):      gaps / loss           (README.md:94-99)
"""

from __future__ import annotations

import functools
import sqlite3

import pytest

from dataingestiontohana_spark.operators.upsert_sink import (
    SQLiteDialect,
    UpsertSink,
)
from dataingestiontohana_spark.sources.generator import write_sensor_csv_files
from dataingestiontohana_spark.streaming.audit import audit_sink
from dataingestiontohana_spark.streaming.fault import FaultInjector, InjectedFault
from dataingestiontohana_spark.streaming.pipeline import (
    DeliveryMode,
    IngestionPipeline,
)

N_ROWS = 100
N_FILES = 10


@pytest.fixture()
def source_dir(spark, tmp_path):
    d = tmp_path / "source"
    write_sensor_csv_files(spark, str(d), N_ROWS, N_FILES)
    return str(d)


def make_sink(db_path: str) -> UpsertSink:
    return UpsertSink(
        table="sensor_sink",
        key_cols=["counter"],
        dialect=SQLiteDialect(),
        connection_factory=functools.partial(sqlite3.connect, db_path),
        write_mode="driver",  # single-writer SQLite file
    )


def make_pipeline(spark, source_dir, tmp_path, mode, fault=None) -> IngestionPipeline:
    return IngestionPipeline(
        spark=spark,
        source_dir=source_dir,
        checkpoint_dir=str(tmp_path / "checkpoint"),
        sink=make_sink(str(tmp_path / "sink.db")),
        mode=mode,
        fault=fault,
    )


def run_audit(tmp_path):
    con = sqlite3.connect(str(tmp_path / "sink.db"))
    try:
        return audit_sink(con, "sensor_sink")
    finally:
        con.close()


def test_exactly_once_clean_run(spark, source_dir, tmp_path):
    p = make_pipeline(spark, source_dir, tmp_path, DeliveryMode.EXACTLY_ONCE)
    assert p.run_to_completion() is None
    a = run_audit(tmp_path)
    assert a.exactly_once and a.n_rows == N_ROWS


def test_exactly_once_survives_crash(spark, source_dir, tmp_path):
    fault = FaultInjector(str(tmp_path / "flag"), FaultInjector.AFTER_WRITE, at_batch=2)
    fault.arm()
    p = make_pipeline(spark, source_dir, tmp_path, DeliveryMode.EXACTLY_ONCE, fault)
    err = p.run_to_completion()
    assert err is not None  # the injected fault killed the query

    mid = run_audit(tmp_path)
    assert 0 < mid.n_rows < N_ROWS  # crashed mid-stream

    # operator restarts the graph (README.md:90); checkpoint resumes
    p2 = make_pipeline(spark, source_dir, tmp_path, DeliveryMode.EXACTLY_ONCE)
    assert p2.run_to_completion() is None
    a = run_audit(tmp_path)
    assert a.exactly_once and a.n_rows == N_ROWS  # no loss, no dups


def test_at_least_once_crash_duplicates_no_loss(spark, source_dir, tmp_path):
    # crash lands AFTER the DB write, BEFORE the offset commit: the
    # classic at-least-once window (the reference hits it by hand-
    # rolling the ack loop; Structured Streaming hits it on replay)
    fault = FaultInjector(str(tmp_path / "flag"), FaultInjector.AFTER_WRITE, at_batch=2)
    fault.arm()
    p = make_pipeline(spark, source_dir, tmp_path, DeliveryMode.AT_LEAST_ONCE, fault)
    assert p.run_to_completion() is not None

    p2 = make_pipeline(spark, source_dir, tmp_path, DeliveryMode.AT_LEAST_ONCE)
    assert p2.run_to_completion() is None
    a = run_audit(tmp_path)
    assert not a.has_loss  # every counter landed
    assert a.has_duplicates  # the replayed batch landed twice
    assert a.uniq == a.span == N_ROWS


def test_at_most_once_loses_data(spark, source_dir, tmp_path):
    # lab mode: the DB write fails but offsets commit anyway -> loss
    fault = FaultInjector(str(tmp_path / "flag"), FaultInjector.FAIL_WRITE, at_batch=1)
    fault.arm()
    p = make_pipeline(spark, source_dir, tmp_path, DeliveryMode.AT_MOST_ONCE, fault)
    assert p.run_to_completion() is None  # stream survives; data doesn't
    a = run_audit(tmp_path)
    assert a.has_loss and not a.has_duplicates
    assert a.n_rows == N_ROWS - N_ROWS // N_FILES  # exactly one batch lost


def test_upsert_is_idempotent(spark, tmp_path):
    from dataingestiontohana_spark.sources.generator import sensor_rows
    from dataingestiontohana_spark.streaming.pipeline import SENSOR_SQL_COLUMNS

    sink = make_sink(str(tmp_path / "sink.db"))
    sink.ensure_table(SENSOR_SQL_COLUMNS)
    rows = sensor_rows(spark, 20)
    sink.write(rows, upsert=True)
    sink.write(rows, upsert=True)  # replay converges
    a = run_audit(tmp_path)
    assert a.exactly_once and a.n_rows == 20


def test_fault_injector_fires_once(tmp_path):
    f = FaultInjector(str(tmp_path / "flag"), FaultInjector.BEFORE_WRITE, at_batch=1)
    f.arm()
    f.check(FaultInjector.BEFORE_WRITE)  # batch 0: passes
    with pytest.raises(InjectedFault):
        f.check(FaultInjector.BEFORE_WRITE)  # batch 1: fires
    f.check(FaultInjector.BEFORE_WRITE)  # disarmed: passes


def test_progress_recorder_captures_batches(spark, tmp_path):
    """The listener-based wiretap: per-batch input rows recorded for
    the whole run, start/termination observed — registered DIRECTLY
    (ProgressRecorder is a real StreamingQueryListener subclass; the
    first cut duck-typed and crashed in addListener)."""
    from dataingestiontohana_spark.streaming.audit import ProgressRecorder

    src = str(tmp_path / "src")
    write_sensor_csv_files(spark, src, 100, files=4)  # 25 lines a file
    rec = ProgressRecorder()
    bridge = rec
    spark.streams.addListener(bridge)
    try:
        q = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", "1")
            .load(src)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        # listener callbacks are ASYNC (driver-side event bus): wait
        # for the trailing progress events to drain before asserting
        import time

        deadline = time.time() + 30
        while (
            sum(p["numInputRows"] for p in rec.progress) < 100
            and time.time() < deadline
        ):
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(bridge)
    assert rec.started  # the run was observed
    rows = sum(p["numInputRows"] for p in rec.progress)
    assert rows == 100  # every generated row accounted for
    assert {p["batchId"] for p in rec.progress if p["numInputRows"]} >= {0, 1, 2, 3}


def _impatient_sink(db_path: str) -> UpsertSink:
    """A sink whose writer gives up waiting for a lock after 0.1 s."""
    return UpsertSink(
        table="sensor_sink",
        key_cols=["counter"],
        dialect=SQLiteDialect(),
        connection_factory=functools.partial(
            sqlite3.connect, db_path, timeout=0.1
        ),
        write_mode="driver",
    )


def _hold_read_lock(db_path: str) -> sqlite3.Connection:
    """Open a read transaction: until it ends, no writer can commit."""
    con = sqlite3.connect(db_path, isolation_level=None)
    con.execute("BEGIN")
    con.execute('SELECT COUNT(*) FROM "sensor_sink"').fetchone()
    return con


def test_upsert_sink_raises_when_commit_fails(spark, tmp_path):
    from dataingestiontohana_spark.sources.generator import sensor_rows
    from dataingestiontohana_spark.streaming.pipeline import SENSOR_SQL_COLUMNS

    db = str(tmp_path / "sink.db")
    sink = _impatient_sink(db)
    sink.ensure_table(SENSOR_SQL_COLUMNS)
    reader = _hold_read_lock(db)
    try:
        with pytest.raises(sqlite3.OperationalError, match="locked"):
            sink.write(sensor_rows(spark, 20), upsert=True)
    finally:
        reader.close()
    assert run_audit(tmp_path).n_rows == 0  # nothing landed


def test_exactly_once_commit_failure_fails_the_query(spark, source_dir, tmp_path):
    """A batch whose sink commit fails must fail the query, so its
    offsets stay uncommitted and the restart re-delivers it; a swallowed
    commit error would commit the offsets of rows that never landed."""
    from dataingestiontohana_spark.streaming.pipeline import SENSOR_SQL_COLUMNS

    db = str(tmp_path / "sink.db")

    def pipeline() -> IngestionPipeline:
        return IngestionPipeline(
            spark=spark,
            source_dir=source_dir,
            checkpoint_dir=str(tmp_path / "checkpoint"),
            sink=_impatient_sink(db),
            mode=DeliveryMode.EXACTLY_ONCE,
        )

    _impatient_sink(db).ensure_table(SENSOR_SQL_COLUMNS)
    reader = _hold_read_lock(db)
    try:
        assert pipeline().run_to_completion() is not None
    finally:
        reader.close()
    assert run_audit(tmp_path).n_rows == 0

    assert pipeline().run_to_completion() is None  # lock released
    a = run_audit(tmp_path)
    assert a.exactly_once and a.n_rows == N_ROWS  # rows = uniq = span
