"""Outside-in probes: each one times or counts calls into a layer's
public surface, or reads Spark's own status stores, without editing
the program.

- ``start_session``: the ``session`` layer (``session.get_spark``).
- ``SparkCounters``: jobs, stages, tasks, executor time, shuffle and
  spill from ``SparkContext.statusStore()``, and the Python-boundary
  SQL metrics from the SQL status store, counted between watermarks.
- ``ProgressProbe``: a ``ProgressRecorder`` (``streaming.audit``) that
  also stamps arrival times, for the streaming layer's split.
- ``SinkProbe``: wraps one ``UpsertSink`` instance's ``write`` and the
  DBAPI connections its ``connection_factory`` returns.
"""

from __future__ import annotations

import gc
import re
import time
from datetime import datetime, timezone

from .common import Tracer, percentile


def start_session(app: str, tracer: Tracer):
    """Import the package and start its SparkSession; returns
    (spark, seconds spent in ``get_spark``)."""
    from dataingestiontohana_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(
            app, extra_conf={"spark.ui.showConsoleProgress": "false"}
        )
    return spark, time.perf_counter() - t0


def settle(spark) -> None:
    """Collect garbage in the JVM and in this process before a measured
    phase, so that it starts from the same heap state in every run and
    does not collect the garbage of input generation or warmup."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _seq(seq) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


def _metric_total(text: str) -> float:
    """The total of a formatted SQL metric: '1,234', '2.5 KiB', '12 ms'
    or the multi-task form 'total (min, med, max ...)\\n2.5 KiB (...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return val * _SIZE_UNITS.get(unit, 1) * _TIME_UNITS.get(unit, 1)


class SparkCounters:
    """Spark's own job/stage/SQL counters between two watermarks.

    ``mark()`` returns the current watermark; ``since(mark)`` sums
    everything that finished after it. Jobs, stages and SQL executions
    carry increasing ids and these runs execute one operation at a
    time, so an id watermark scopes the counts exactly, including jobs
    launched from driver-side thread pools (which a thread-local job
    tag does not reach)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _jobs(self) -> list:
        return _seq(self._store.jobsList(None))

    def _stages(self) -> list:
        return _seq(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )

    def mark(self) -> tuple[int, int, int]:
        self._drain()
        jobs, stages = self._jobs(), self._stages()
        return (
            max((j.jobId() for j in jobs), default=-1),
            max((s.stageId() for s in stages), default=-1),
            int(self._sql.executionsCount()),
        )

    def since(self, mark: tuple[int, int, int]) -> dict[str, float]:
        self._drain()
        job0, stage0, sql0 = mark
        jobs = [j for j in self._jobs() if j.jobId() > job0]
        stages = [
            s for s in self._stages()
            if s.stageId() > stage0 and s.status().toString() == "COMPLETE"
        ]
        mb = 1024.0 * 1024.0
        out = {
            "jobs": float(len(jobs)),
            "stages": float(sum(j.numCompletedStages() for j in jobs)),
            "tasks": float(sum(j.numCompletedTasks() for j in jobs)),
            "executor_run_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / mb,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / mb,
            "spill_mb": sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages
            ) / mb,
        }
        out.update(self._python_boundary(sql0))
        return out

    def _python_boundary(self, sql0: int) -> dict[str, float]:
        """Rows and bytes across the JVM/Python-worker boundary, from
        the SQL metrics of every plan node that reports them
        (MapInPandas, ArrowEvalPython, BatchEvalPython, grouped pandas
        operators, Python data source scans)."""
        n = int(self._sql.executionsCount())
        rows = nbytes = run_s = 0.0
        new = _seq(self._sql.executionsList(sql0, n - sql0)) if n > sql0 else []
        for ex in new:
            eid = ex.executionId()
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
                if _PY_SENT not in metrics:
                    continue

                def total(name: str) -> float:
                    if name not in metrics:
                        return 0.0
                    opt = values.get(metrics[name])
                    return _metric_total(opt.get()) if opt.isDefined() else 0.0

                nbytes += total(_PY_SENT) + total(_PY_RECV)
                run_s += total(_PY_RUN)
                rows += total("number of output rows")
        return {"pyudf_rows": rows, "pyudf_bytes": nbytes, "pyudf_run_s": run_s}


def exec_layers(counts: dict[str, float]) -> dict[str, float]:
    """SparkCounters output under the per-layer metric names."""
    return {
        "exec.jobs": counts["jobs"],
        "exec.stages": counts["stages"],
        "exec.tasks": counts["tasks"],
        "exec.executor_run_s": counts["executor_run_s"],
        "exec.shuffle_read_mb": counts["shuffle_read_mb"],
        "exec.shuffle_write_mb": counts["shuffle_write_mb"],
        "exec.spill_mb": counts["spill_mb"],
        "pyudf.rows": counts["pyudf_rows"],
        "pyudf.bytes": counts["pyudf_bytes"],
        "pyudf.run_s": counts["pyudf_run_s"],
    }


def _iso_epoch(ts: str) -> float:
    return (
        datetime.strptime(ts.replace("Z", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


# order of the trigger phases inside one micro-batch
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
           "addBatch", "commitOffsets")


def make_progress_probe():
    """A ``ProgressRecorder`` subclass instance that also keeps each
    event's trigger start (epoch seconds). Built in a function so that
    importing this module does not import pyspark's listener class."""
    from dataingestiontohana_spark.streaming.audit import ProgressRecorder

    class ProgressProbe(ProgressRecorder):
        def onQueryProgress(self, event) -> None:
            super().onQueryProgress(event)
            self.progress[-1]["start"] = _iso_epoch(event.progress.timestamp)

    return ProgressProbe()


def stream_layers(events: list[dict], starts: list[float],
                  tracer: Tracer) -> dict[str, float]:
    """Median per-phase micro-batch split from progress events of
    batches that read rows; ``starts`` are the wall times the harness
    started each query (every restart included), for the median
    ``stream.start_s``. In a traced run, also rebuilds one span per
    micro-batch (with its phases as children) and one per start."""
    busy = [e for e in events if e["numInputRows"] > 0]

    def med(key: str) -> float:
        vals = [e["durationMs"].get(key, 0) for e in busy]
        return percentile(vals, 50) if vals else 0.0

    for e in busy:
        d = e["durationMs"]
        t = e["start"]
        sid = tracer.add("stream.batch", t, t + d.get("triggerExecution", 0) / 1e3)
        for ph in _PHASES:
            dur = d.get(ph, 0) / 1e3
            tracer.add(f"stream.{ph}", t, t + dur, sid)
            t += dur
    # each start: from the harness's start call to the end of the first
    # trigger that began after it (a restart from the same checkpoint
    # keeps the query id, so triggers are matched by time, not by id)
    ordered = sorted(events, key=lambda e: e["start"])
    gaps = []
    for s in starts:
        first = next((e for e in ordered if e["start"] >= s), None)
        if first is not None:
            end = first["start"] + first["durationMs"].get("triggerExecution", 0) / 1e3
            gaps.append(end - s)
            tracer.add("stream.start", s, end)
    return {
        "stream.batches": float(len(busy)),
        "stream.trigger_ms": med("triggerExecution"),
        "stream.latest_offset_ms": med("latestOffset"),
        "stream.get_batch_ms": med("getBatch"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.commit_ms": percentile(
            [e["durationMs"].get("walCommit", 0)
             + e["durationMs"].get("commitOffsets", 0) for e in busy], 50
        ) if busy else 0.0,
        "stream.start_s": percentile(gaps, 50) if gaps else 0.0,
    }


class _TimedConnection:
    """DBAPI connection proxy: times executemany/commit and reads the
    key range of every row chunk the sink sends."""

    def __init__(self, con, probe: "SinkProbe") -> None:
        self._con = con
        self._probe = probe

    def execute(self, *a, **kw):
        return self._con.execute(*a, **kw)

    def executemany(self, sql, rows):
        p = self._probe
        with p.tracer.span("sink.db"):
            t0 = time.perf_counter()
            out = self._con.executemany(sql, rows)
            p.cur_db_s += time.perf_counter() - t0
        if rows:
            keys = [r[p.key_idx] for r in rows]
            p.cur_rows += len(keys)
            lo, hi = min(keys), max(keys)
            p.cur_lo = lo if p.cur_lo is None else min(p.cur_lo, lo)
            p.cur_hi = hi if p.cur_hi is None else max(p.cur_hi, hi)
        return out

    def commit(self):
        p = self._probe
        with p.tracer.span("sink.db"):
            t0 = time.perf_counter()
            self._con.commit()
            p.cur_db_s += time.perf_counter() - t0

    def close(self):
        self._con.close()


class SinkProbe:
    """Instruments ONE ``UpsertSink`` instance the harness constructed.

    ``writes`` gets one record per ``write`` call: wall start/end, DB
    seconds, rows, and the min/max key written."""

    def __init__(self, sink, tracer: Tracer, key: str = "counter") -> None:
        self.tracer = tracer
        self.key = key
        self.writes: list[dict] = []
        self.key_idx = 0
        self.cur_db_s = 0.0
        self.cur_rows = 0
        self.cur_lo = self.cur_hi = None
        factory = sink.connection_factory
        sink.connection_factory = lambda: _TimedConnection(factory(), self)
        inner = sink.write

        def write(df, upsert: bool = True) -> None:
            self.key_idx = df.columns.index(self.key)
            self.cur_db_s, self.cur_rows = 0.0, 0
            self.cur_lo = self.cur_hi = None
            t0 = time.time()
            with tracer.span("sink.write"):
                inner(df, upsert=upsert)
            self.writes.append({
                "start": t0, "end": time.time(), "db_s": self.cur_db_s,
                "rows": self.cur_rows, "lo": self.cur_lo, "hi": self.cur_hi,
            })

        sink.write = write

    def layers(self, distinct_keys: int) -> dict[str, float]:
        write_s = sum(w["end"] - w["start"] for w in self.writes)
        db_s = sum(w["db_s"] for w in self.writes)
        rows = sum(w["rows"] for w in self.writes)
        return {
            "sink.write_s": write_s,
            "sink.db_s": db_s,
            "sink.fetch_s": write_s - db_s,
            "sink.rows_written": float(rows),
            "sink.rows_replayed": float(rows - distinct_keys),
        }

    def landed_at(self, key: int) -> float | None:
        """Wall time the first write holding ``key`` returned."""
        for w in self.writes:
            if w["lo"] is not None and w["lo"] <= key <= w["hi"]:
                return w["end"]
        return None
