"""File phase of the ``ingest`` workload: the paper's pipeline, running,
under an open-loop feed.

``IngestionPipeline`` in EXACTLY_ONCE mode: CSV text files ->
``parse_sensor_csv`` -> ``UpsertSink`` (SQLite, ``write_mode="driver"``),
one file per trigger. Its warmup drains 2 backlog-sized files through a
pipeline of its own, so that the catch-up's first triggers do not run
on a cold JVM. Then one query runs through two steps:

- catch-up: it drains a backlog of 10 files x 5,000 rows that exists
  before it starts. ``catch_up_s`` is the time from ``start()`` until
  the sink write holding the last backlog row returns (rows/s =
  backlog rows / catch_up_s).
- live: a separate generator process (``perfbench/loadgen.py``) moves
  one 2,000-row file into the source every 0.8 s for ``--seconds``
  seconds, whatever the pipeline does: an open loop at 2,500 rows/s and
  1.25 triggers/s, about a third of the ~0.3 s-per-trigger capacity
  measured on 4 cores, so that the host's own speed swings do not
  push it into a growing backlog. A live file's latency is the time
  from when it was due until the sink write holding its rows returned.

Operations: every source file, plus the audit. A live file that has not
landed by the end of the phase is a failure. The generator process is
load, not program: the memory sampler leaves it out.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

from . import sensor
from .common import Context, Outcome, percentile
from .probes import SinkProbe

# warmup files, backlog files, rows per backlog file, rows per live
# file, live period; the smoke size serves the benchmark's self-test
FULL = {"warm_files": 2, "backlog_files": 10, "backlog_rows": 5_000,
        "live_rows": 2_000, "period_s": 0.8}
SMOKE = {"warm_files": 2, "backlog_files": 2, "backlog_rows": 1_000,
         "live_rows": 500, "period_s": 0.8}
DRAIN_GRACE_S = 10.0
LOADGEN = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "loadgen.py")


def _pipeline(spark, source: str, checkpoint: str, db: str):
    from dataingestiontohana_spark.operators.upsert_sink import (
        SQLiteDialect,
        UpsertSink,
    )
    from dataingestiontohana_spark.streaming.pipeline import (
        DeliveryMode,
        IngestionPipeline,
    )

    sink = UpsertSink(
        table=sensor.SINK_TABLE,
        key_cols=["counter"],
        dialect=SQLiteDialect(),
        connection_factory=sensor.sqlite_factory(db),
        write_mode="driver",
        driver_fetch="collect",
    )
    pipe = IngestionPipeline(
        spark=spark, source_dir=source, checkpoint_dir=checkpoint,
        sink=sink, mode=DeliveryMode.EXACTLY_ONCE, max_files_per_trigger=1,
    )
    return pipe, sink


class FileFeed:
    """The file phase: ``warmup`` and ``prepare`` before the measured
    stretch, ``run`` inside it, ``check`` after it."""

    def __init__(self, ctx: Context, spark) -> None:
        self.ctx = ctx
        self.spark = spark
        self.size = SMOKE if ctx.options.get("smoke") else FULL
        self.dir = ctx.dir("files")

    def warmup(self) -> None:
        """One drained run of backlog-sized files on its own source,
        checkpoint and sink."""
        files, rows = self.size["warm_files"], self.size["backlog_rows"]
        src = os.path.join(self.dir, "warm", "source")
        os.makedirs(src)
        lines = sensor.csv_lines(self.spark, 0, files * rows)
        for k in range(files):
            sensor.write_file(os.path.join(src, f"part-{k}.txt"),
                              lines[k * rows:(k + 1) * rows])
        pipe, _ = _pipeline(self.spark, src,
                            os.path.join(self.dir, "warm", "ck"),
                            os.path.join(self.dir, "warm", "sink.db"))
        err = pipe.run_to_completion()
        if err is not None:
            raise RuntimeError(f"file warmup run failed: {err}")

    def prepare(self) -> int:
        """Inputs, the pipeline and its sink probe; returns the number
        of operations."""
        size, ctx = self.size, self.ctx
        backlog_files, backlog_rows = size["backlog_files"], size["backlog_rows"]
        live_rows = size["live_rows"]
        self.n_live = max(1, int(ctx.seconds / size["period_s"]))
        self.n_backlog = backlog_files * backlog_rows
        self.total = self.n_backlog + self.n_live * live_rows
        self.base = sensor.counter_base(ctx.seed, self.total)
        order = list(range(self.n_live))
        random.Random(ctx.seed).shuffle(order)

        # the backlog lands in the source now, live files wait in staging
        # for the generator; live file k carries block order[k]
        lines = sensor.csv_lines(self.spark, self.base, self.total)
        self.checksum = sensor.checksum(self.spark, self.base, self.total)
        self.source = os.path.join(self.dir, "source")
        self.staging = os.path.join(self.dir, "staging")
        os.makedirs(self.source)
        os.makedirs(self.staging)
        for k in range(backlog_files):
            sensor.write_file(
                os.path.join(self.source, f"backlog-{k:04d}.txt"),
                lines[k * backlog_rows:(k + 1) * backlog_rows])
        for k, b in enumerate(order):
            lo = self.n_backlog + b * live_rows
            sensor.write_file(os.path.join(self.staging, f"live-{k:04d}.txt"),
                              lines[lo:lo + live_rows])
        self.live_last_key = [self.base + self.n_backlog + (b + 1) * live_rows - 1
                              for b in order]
        self.db = os.path.join(self.dir, "sink.db")
        self.pipe, sink = _pipeline(self.spark, self.source,
                                    os.path.join(self.dir, "ck"), self.db)
        self.probe = SinkProbe(sink, ctx.tracer)
        return backlog_files + self.n_live + 1

    def run(self, out: Outcome) -> None:
        """Catch-up, then the live feed; stops the query."""
        tr, probe = self.ctx.tracer, self.probe
        period_s = self.size["period_s"]
        gen = query = None
        self.t_caught_up = None
        try:
            with tr.span("catch_up"):
                self.t_start = time.time()
                query = self.pipe.start()
                deadline = self.t_start + 60.0
                while (sum(w["rows"] for w in probe.writes) < self.n_backlog
                       and time.time() < deadline
                       and query.exception() is None):
                    time.sleep(0.01)
            landed_rows = 0
            for w in probe.writes:
                landed_rows += w["rows"]
                if landed_rows >= self.n_backlog:
                    self.t_caught_up = w["end"]
                    break
            if self.t_caught_up is None:
                out.fail(f"backlog not drained: {landed_rows}/{self.n_backlog} rows")

            with tr.span("live"):
                t0 = time.time() + 0.2
                self.gen_out = os.path.join(self.dir, "loadgen.json")
                gen = subprocess.Popen([
                    sys.executable, LOADGEN, self.staging, self.source,
                    repr(t0), repr(period_s), self.gen_out,
                ])
                gen.wait(timeout=self.n_live * period_s + 30)
                deadline = t0 + self.n_live * period_s + DRAIN_GRACE_S
                while any(probe.landed_at(k) is None for k in self.live_last_key):
                    if time.time() > deadline or query.exception() is not None:
                        break
                    time.sleep(0.02)
        finally:
            if gen is not None and gen.poll() is None:
                gen.kill()
                gen.wait()
            if query is not None:
                query.stop()
                query.awaitTermination(30)
        if query.exception() is not None:
            out.fail(f"file query failed: {query.exception()}")

    def check(self, out: Outcome) -> dict:
        """Live latencies and the audit, untimed; returns the phase's
        results (``catch_up_s`` and ``latency_ms`` only if it ran)."""
        with open(self.gen_out) as fh:
            self.sched = json.load(fh)
        latencies = []
        for k, key in enumerate(self.live_last_key):
            landed = self.probe.landed_at(key)
            if landed is None:
                out.fail(f"live file {k} not landed")
            else:
                latencies.append((landed - self.sched["due"][k]) * 1e3)

        with self.ctx.tracer.span("audit"):
            aud = sensor.audit(self.db, self.base, self.total, self.checksum)
        if self.ctx.options.get("corrupt_sink"):
            sensor.duplicate_one_row(self.db)
            aud = sensor.audit(self.db, self.base, self.total, self.checksum)
        if not (aud["exactly_once"] and aud["checksum_ok"]):
            out.fail(f"file sink audit failed: {aud}")
        self.audit = aud
        res = {"audit": aud}
        if self.t_caught_up is not None and latencies:
            res["catch_up_s"] = self.t_caught_up - self.t_start
            res["rows_per_s"] = self.n_backlog / res["catch_up_s"]
            res["latency_ms"] = percentile(latencies, 50)
            res["live_files"] = len(latencies)
        return res

    def loadgen_layers(self) -> dict[str, float]:
        """How late the generator ran, and the largest backlog of live
        files that were due but had not landed."""
        due = self.sched["due"]
        landed = [self.probe.landed_at(k) or float("inf")
                  for k in self.live_last_key]
        return {
            "loadgen.late_ms_max": max(
                (d - u) * 1e3 for d, u in zip(self.sched["done"], due)),
            "loadgen.backlog_files_max": float(max(
                sum(1 for j in range(k + 1) if landed[j] > due[k])
                for k in range(len(due)))),
        }
