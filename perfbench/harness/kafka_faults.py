"""Kafka phase of the ``ingest`` workload: the reference's two operator
graphs over the fake Kafka topic, with consumer crashes and checkpoint
restarts.

1. The producer graph (data_generator -> multiplexer -> {kafka_producer,
   wiretap -> terminal}) writes 16,000 sensor rows to the topic.
2. The consumer graph (kafka_consumer -> ``parse_sensor_kafka`` ->
   hana_client upsert into SQLite) drains it 2,000 records per
   trigger. An AFTER_WRITE ``FaultInjector`` crashes the consumer
   3 times, each at a seed-chosen batch (1 or 2) of its attempt; after
   each crash the graph is recompiled and restarted from its
   checkpoint, so the crashed batch is replayed into existing keys.

Its warmup runs both graphs once, small, on their own topic,
checkpoints and sink. The session's first Python data source query and
first Python workers cost about 10 s on 4 cores, which a long-running
consumer pays once per process, not per batch or per restart; timed,
that one cold start would outweigh the rest of the phase and swing with
it. ``kafka_s`` is produce plus consume wall time. A consumer batch's
turnaround is the time from the previous batch's sink write return to
its own, within one attempt; an attempt's first batch pays the query
restart instead, which the traced run reports as
``recovery.restart_to_first_batch_s``.

Operations: the produce run, each consumer attempt, the audit.
"""

from __future__ import annotations

import glob
import os
import random
import time

from . import sensor
from .common import Context, Outcome, percentile
from .probes import SinkProbe

# rows, source files, records per consumer trigger, injected crashes,
# warmup rows; the smoke size serves the benchmark's self-test. A crash
# at 0-based batch 2 commits two batches and replays the third, so 3
# crashes need at least 7 triggers of data.
FULL = {"rows": 16_000, "files": 4, "max_offsets": 2_000, "faults": 3,
        "warm_rows": 1_000}
SMOKE = {"rows": 2_000, "files": 2, "max_offsets": 500, "faults": 1,
         "warm_rows": 1_000}
TOPIC = "sensor"


def _producer(source: str, broker: str, files: int):
    from dataingestiontohana_spark.streaming.graph_pipeline import PipelineGraph

    g = PipelineGraph()
    g.node("gen", "data_generator", source_dir=source,
           max_files_per_trigger=max(1, files // 2))
    g.node("mux", "multiplexer")
    g.node("producer", "kafka_producer", path=broker, topic=TOPIC)
    g.node("tap", "wiretap")
    g.node("console", "terminal", limit=5)
    g.connect("gen", "mux")
    g.connect("mux", "producer")
    g.connect("mux", "tap")
    g.connect("tap", "console")
    return g


def _consumer(broker: str, sink, fault, max_offsets: int):
    from dataingestiontohana_spark.streaming.graph_pipeline import PipelineGraph
    from dataingestiontohana_spark.streaming.kafka import parse_sensor_kafka

    g = PipelineGraph()
    g.node("consumer", "kafka_consumer", path=broker, topic=TOPIC,
           max_offsets_per_trigger=max_offsets)
    g.node("typed", "process", fn=parse_sensor_kafka)
    g.node("hana", "hana_client", sink=sink, fault=fault)
    g.connect("consumer", "typed")
    g.connect("typed", "hana")
    return g


def _sink(db: str):
    from dataingestiontohana_spark.operators.upsert_sink import (
        SQLiteDialect,
        UpsertSink,
    )

    return UpsertSink(
        table=sensor.SINK_TABLE, key_cols=["counter"], dialect=SQLiteDialect(),
        connection_factory=sensor.sqlite_factory(db), write_mode="driver",
        driver_fetch="collect",
    )


def _write_source(spark, source: str, base: int, rows: int,
                  files: int) -> None:
    os.makedirs(source)
    lines = sensor.csv_lines(spark, base, rows)
    per = rows // files
    for k in range(files):
        sensor.write_file(os.path.join(source, f"part-{k:04d}.txt"),
                          lines[k * per:(k + 1) * per])


class KafkaFaults:
    """The Kafka phase: ``warmup`` and ``prepare`` before the measured
    stretch, ``run`` inside it, ``check`` after it."""

    def __init__(self, ctx: Context, spark) -> None:
        self.ctx = ctx
        self.spark = spark
        self.size = SMOKE if ctx.options.get("smoke") else FULL
        self.dir = ctx.dir("kafka")

    def warmup(self) -> None:
        """Both graphs, drained once, on their own source, topic,
        checkpoints and sink, with counters from 0."""
        warm = os.path.join(self.dir, "warm")
        _write_source(self.spark, os.path.join(warm, "source"), 0,
                      self.size["warm_rows"], 2)
        broker = os.path.join(warm, "broker")
        err = _producer(os.path.join(warm, "source"), broker, 2).compile(
            self.spark, os.path.join(warm, "ck_p")).run_to_completion()
        if err is None:
            sink = _sink(os.path.join(warm, "sink.db"))
            err = _consumer(broker, sink, None, self.size["max_offsets"]) \
                .compile(self.spark, os.path.join(warm, "ck_c")) \
                .run_to_completion()
        if err is not None:
            raise RuntimeError(f"kafka warmup run failed: {err}")

    def prepare(self) -> int:
        """Inputs, the sink and its probe; returns the number of
        operations."""
        size = self.size
        self.rows, self.files = size["rows"], size["files"]
        self.base = sensor.counter_base(self.ctx.seed, self.rows)
        rng = random.Random(self.ctx.seed)
        self.fault_at = [rng.randint(1, 2) for _ in range(size["faults"])]
        self.source = os.path.join(self.dir, "source")
        self.broker = os.path.join(self.dir, "broker")
        _write_source(self.spark, self.source, self.base, self.rows, self.files)
        self.checksum = sensor.checksum(self.spark, self.base, self.rows)
        self.db = os.path.join(self.dir, "sink.db")
        self.sink = _sink(self.db)
        self.probe = SinkProbe(self.sink, self.ctx.tracer)
        return 1 + size["faults"] + 1 + 1

    def run(self, out: Outcome) -> None:
        """Produce, then consume through every injected crash."""
        from dataingestiontohana_spark.streaming.fault import FaultInjector

        tr, probe, faults = self.ctx.tracer, self.probe, self.size["faults"]
        with tr.span("kafka.produce"):
            t0 = time.time()
            err = _producer(self.source, self.broker, self.files).compile(
                self.spark, os.path.join(self.dir, "ck_p")).run_to_completion()
            self.produce_s = time.time() - t0
        if err is not None:
            out.fail(f"producer failed: {err}")

        flag = os.path.join(self.dir, "fault.flag")
        self.starts: list[float] = []
        self.batch_ms: list[float] = []
        self.restarts = 0
        self.consume_s = 0.0
        for attempt in range(faults + 1):
            fault = None
            if attempt < faults:
                fault = FaultInjector(flag, FaultInjector.AFTER_WRITE,
                                      at_batch=self.fault_at[attempt])
                fault.arm()
            n_writes = len(probe.writes)
            with tr.span("kafka.consume_attempt"):
                t0 = time.time()
                self.starts.append(t0)
                err = _consumer(self.broker, self.sink, fault,
                                self.size["max_offsets"]).compile(
                    self.spark, os.path.join(self.dir, "ck_c")
                ).run_to_completion()
                self.consume_s += time.time() - t0
            ends = [w["end"] for w in probe.writes[n_writes:]]
            self.batch_ms += [(b - a) * 1e3 for a, b in zip(ends, ends[1:])]
            if attempt < faults:
                # the query surfaces the foreachBatch error wrapped in a
                # StreamingQueryException; the injector's message survives
                if err is not None and "injected at" in str(err):
                    self.restarts += 1
                else:
                    out.fail(f"attempt {attempt}: expected a crash, got {err!r}")
            elif err is not None:
                out.fail(f"final consumer attempt failed: {err}")

    def check(self, out: Outcome) -> dict:
        """Topic record count and the audit, untimed; returns the
        phase's results."""
        self.records = 0
        for log in glob.glob(os.path.join(self.broker, TOPIC, "p-*.jsonl")):
            with open(log) as fh:
                self.records += sum(1 for _ in fh)
        if self.records != self.rows:
            out.fail(f"topic holds {self.records} records, expected {self.rows}")
        with self.ctx.tracer.span("audit"):
            aud = sensor.audit(self.db, self.base, self.rows, self.checksum)
        if self.ctx.options.get("corrupt_sink"):
            sensor.duplicate_one_row(self.db)
            aud = sensor.audit(self.db, self.base, self.rows, self.checksum)
        if not (aud["exactly_once"] and aud["checksum_ok"]):
            out.fail(f"kafka sink audit failed: {aud}")
        self.audit = aud
        kafka_s = self.produce_s + self.consume_s
        return {
            "audit": aud,
            "kafka_s": kafka_s,
            "rows_per_s": self.rows / kafka_s,
            "batch_ms": percentile(self.batch_ms, 50) if self.batch_ms else 0.0,
            "steady_batches": len(self.batch_ms),
            "fault_at_batches": self.fault_at,
        }

    def layers(self) -> dict[str, float]:
        """The Kafka source and recovery layers."""
        first_write = []
        for s in self.starts[1:]:
            ends = [w["end"] for w in self.probe.writes if w["start"] >= s]
            if ends:
                first_write.append(min(ends) - s)
        return {
            "kafka.produce_s": self.produce_s,
            "kafka.consume_s": self.consume_s,
            "kafka.records": float(self.records),
            "kafka.batch_ms": percentile(self.batch_ms, 50) if self.batch_ms else 0.0,
            "recovery.restarts": float(self.restarts),
            "recovery.restart_to_first_batch_s":
                percentile(first_write, 50) if first_write else 0.0,
        }
