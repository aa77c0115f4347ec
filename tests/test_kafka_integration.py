"""Kafka wire-path integration (reference operators R3/R4).

Two layers:

1. The REAL-broker round trip stays skip-guarded (needs the
   spark-sql-kafka jar from Maven + a live broker; the sandbox has
   neither, and without the jar no socket-level fake can help —
   `format("kafka")` fails at data-source lookup).
2. Everything the engine builds ON TOP of the connector runs for real
   against `sources/kafkafake.py` — a Python Data Source with the
   connector's exact schema and per-partition offset semantics:
   envelope projection, CSV body parse, commit tokens, key
   partitioning, checkpointed replay, and the full R3 -> R4 -> R6
   producer/consumer/upsert graph, all in-process.
"""

from __future__ import annotations

import os
import socket
import uuid

import pytest

KAFKA_PKG = "org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2"
BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP", "localhost:9092")
MAVEN = ("repo1.maven.org", 443)


def _reachable(host: str, port: int, timeout: float = 2.0) -> bool:
    try:
        with socket.create_connection((host, port), timeout=timeout):
            return True
    except OSError:
        return False


def _broker_addr() -> tuple[str, int]:
    host, _, port = BOOTSTRAP.partition(":")
    return host, int(port or 9092)


needs_kafka = pytest.mark.skipif(
    not (_reachable(*_broker_addr()) and _reachable(*MAVEN)),
    reason=f"needs a Kafka broker at {BOOTSTRAP} and Maven access "
    "for the connector jar (absent in the build sandbox)",
)


@needs_kafka
def test_kafka_produce_consume_upsert_roundtrip(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dataingestiontohana_spark.streaming.kafka import (
        kafka_sink_options,
        kafka_source,
    )

    topic = f"sensor-{uuid.uuid4().hex[:8]}"
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("kafka-it")
        .config("spark.jars.packages", KAFKA_PKG)
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    try:
        # produce: 100 generated sensor rows -> topic (R3)
        src = spark.range(100).select(
            F.col("id").cast("string").alias("key"),
            F.to_json(F.struct(F.col("id").alias("counter"))).alias("value"),
        )
        writer = src.write.format("kafka")
        for k, v in kafka_sink_options(BOOTSTRAP, topic).items():
            writer = writer.option(k, v)
        writer.save()

        # consume (R4) with earliest offsets, drain one micro-batch
        stream = kafka_source(spark, brokers=BOOTSTRAP, topic=topic)
        rows: list = []
        q = (
            stream.selectExpr("CAST(key AS STRING) k", "CAST(value AS STRING) v")
            .writeStream.foreachBatch(
                lambda bdf, _bid: rows.extend(bdf.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(rows) == 100
        assert len({r.k for r in rows}) == 100  # upsert key uniqueness
    finally:
        spark.stop()


# --------------------------------------------------------------------------
# In-process stand-in layer (runs everywhere; see module docstring)
# --------------------------------------------------------------------------


def _sensor_lines(spark, n):
    from dataingestiontohana_spark.sources.generator import sensor_csv_lines

    return [
        (r["counter"], r["value"])
        for r in sensor_csv_lines(spark, n).orderBy("counter").collect()
    ]


def test_fake_kafka_envelope_and_typed_parse(spark, tmp_path):
    """Producer -> topic log -> kafka-shaped stream -> envelope_columns
    + parse_sensor_kafka: the downstream layer runs UNCHANGED on the
    stand-in (identical schema), offsets are dense per partition, and
    commit tokens carry topic/partition/offset."""
    from dataingestiontohana_spark.sources.kafkafake import (
        FakeKafkaBroker,
        fake_kafka_source,
    )
    from dataingestiontohana_spark.streaming.kafka import (
        envelope_columns,
        parse_sensor_kafka,
    )

    broker = FakeKafkaBroker(str(tmp_path / "broker"))
    broker.create_topic("sensor", partitions=3)
    lines = _sensor_lines(spark, 42)
    for counter, value in lines:
        broker.produce("sensor", value, key=str(counter),
                       timestamp_ms=1_700_000_000_000 + counter)

    stream = fake_kafka_source(spark, str(tmp_path / "broker"), "sensor")
    assert stream.schema.simpleString() == (
        "struct<key:binary,value:binary,topic:string,partition:int,"
        "offset:bigint,timestamp:timestamp,timestampType:int>"
    )
    env_rows, typed_rows = [], []

    def sink(bdf, _eid):
        env_rows.extend(envelope_columns(bdf).collect())
        typed_rows.extend(parse_sensor_kafka(bdf).collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert len(env_rows) == 42
    # offsets dense from 0 per partition; token = topic/partition/offset
    by_part = {}
    for r in env_rows:
        assert r["topic"] == "sensor"
        assert r["commit_token"] == f"sensor/{r['partition']}/{r['offset']}"
        by_part.setdefault(r["partition"], []).append(r["offset"])
    assert len(by_part) == 3  # 42 keys spread over all 3 partitions
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))
    # typed parse recovers every counter exactly once
    assert sorted(r["counter"] for r in typed_rows) == [
        c for c, _ in lines
    ]


def test_fake_kafka_same_key_same_partition(tmp_path):
    """The Kafka ordering contract the downstream pipeline relies on:
    records with one key land in one partition, in produce order."""
    from dataingestiontohana_spark.sources.kafkafake import FakeKafkaBroker

    b = FakeKafkaBroker(str(tmp_path / "broker"))
    b.create_topic("t", partitions=4)
    parts = {b.produce("t", f"v{i}", key="device-7")[0] for i in range(9)}
    assert len(parts) == 1


def test_produce_to_missing_partition_raises(tmp_path):
    """An explicit partition the topic lacks is refused: appending
    would create its log, and every later key hash would map over
    one more partition."""
    from dataingestiontohana_spark.sources.kafkafake import FakeKafkaBroker

    b = FakeKafkaBroker(str(tmp_path / "broker"))
    b.create_topic("t", partitions=2)
    with pytest.raises(ValueError, match="no partition 5"):
        b.produce("t", "v", partition=5)
    assert b.partitions("t") == [0, 1]


def test_fake_kafka_checkpoint_replay_no_loss_no_dup(spark, tmp_path):
    """Offsets committed to the checkpoint: a restarted consumer reads
    ONLY records produced after the committed offsets — none lost,
    none re-read (the connector's replay contract, exercised through
    readBetweenOffsets on recovery)."""
    from dataingestiontohana_spark.sources.kafkafake import (
        FakeKafkaBroker,
        fake_kafka_source,
    )

    broker_dir = str(tmp_path / "broker")
    broker = FakeKafkaBroker(broker_dir)
    broker.create_topic("t", partitions=2)
    for i in range(10):
        broker.produce("t", f"early-{i}", key=str(i))

    seen: list[str] = []

    def run_once():
        q = (
            fake_kafka_source(spark, broker_dir, "t")
            .writeStream.foreachBatch(
                lambda bdf, _e: seen.extend(
                    bytes(r["value"]).decode()
                    for r in bdf.select("value").collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    assert sorted(seen) == sorted(f"early-{i}" for i in range(10))
    for i in range(7):
        broker.produce("t", f"late-{i}", key=str(100 + i))
    run_once()
    assert len(seen) == 17 and len(set(seen)) == 17  # no dup, no loss


def test_fake_kafka_producer_consumer_upsert_pipeline(spark, tmp_path):
    """The reference's full consumer graph in-process: R3 producer
    stream -> topic log -> R4 kafka-shaped source -> typed parse -> R6
    keyed upsert, with the exactly-once audit rows = uniq = span."""
    import functools
    import sqlite3

    from pyspark.sql import functions as F

    from dataingestiontohana_spark.operators.upsert_sink import (
        SQLiteDialect,
        UpsertSink,
    )
    from dataingestiontohana_spark.sources.generator import sensor_csv_lines
    from dataingestiontohana_spark.sources.kafkafake import (
        FakeKafkaBroker,
        fake_kafka_source,
    )
    from dataingestiontohana_spark.streaming.graph_pipeline import (
        SENSOR_SQL_COLUMNS,
        PipelineGraph,
    )
    from dataingestiontohana_spark.streaming.kafka import parse_sensor_kafka

    broker_dir = str(tmp_path / "broker")
    FakeKafkaBroker(broker_dir).create_topic("sensor", partitions=2)

    # R3: producer graph (file source of CSV lines -> keyed records)
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    lines = sensor_csv_lines(spark, 60).orderBy("counter").collect()
    (src_dir / "batch.txt").write_text(
        "\n".join(r["value"] for r in lines) + "\n"
    )
    prod = PipelineGraph()
    prod.node("gen", "data_generator", source_dir=str(src_dir))
    prod.node("keyed", "process", fn=lambda df: df.select(
        F.split("value", ",").getItem(0).alias("key"),
        F.col("value"),
    ))
    prod.node("producer", "kafka_producer", path=broker_dir, topic="sensor",
              key_col="key")
    prod.connect("gen", "keyed")
    prod.connect("keyed", "producer")
    assert prod.compile(
        spark, str(tmp_path / "ck_prod")
    ).run_to_completion() is None

    # R4 + R6: consume, parse, keyed-upsert into SQLite
    db = str(tmp_path / "sink.db")
    sink = UpsertSink(
        table="sensor_sink",
        key_cols=["counter"],
        dialect=SQLiteDialect(),
        connection_factory=functools.partial(sqlite3.connect, db),
        write_mode="driver",  # single-writer SQLite file
    )
    sink.ensure_table(SENSOR_SQL_COLUMNS, with_pk=True)

    def consume(bdf, _eid):
        sink.write(parse_sensor_kafka(bdf), upsert=True)

    cq = (
        fake_kafka_source(spark, broker_dir, "sensor")
        .writeStream.foreachBatch(consume)
        .option("checkpointLocation", str(tmp_path / "ck_cons"))
        .start()
    )
    cq.processAllAvailable()
    cq.stop()

    con = sqlite3.connect(db)
    rows, uniq, lo, hi = con.execute(
        'SELECT COUNT(*), COUNT(DISTINCT "counter"), MIN("counter"), '
        'MAX("counter") FROM "sensor_sink"'
    ).fetchone()
    con.close()
    assert rows == uniq == (hi - lo + 1) == 60


def test_fake_kafka_batch_read_one_task_per_partition(spark, tmp_path):
    """Batch mode (spark.read.format('kafka') parity): the whole log
    reads back with one input partition per topic partition and the
    same envelope schema as the stream."""
    from dataingestiontohana_spark.sources.kafkafake import (
        FakeKafkaBroker,
        read_fake_topic,
    )

    b = FakeKafkaBroker(str(tmp_path / "broker"))
    b.create_topic("t", partitions=3)
    for i in range(30):
        b.produce("t", f"v-{i}", key=str(i), timestamp_ms=1_700_000_000_000)
    df = read_fake_topic(spark, str(tmp_path / "broker"), "t")
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == 30
    assert sorted(bytes(r["value"]).decode() for r in rows) == sorted(
        f"v-{i}" for i in range(30)
    )
    # per-partition offsets dense from 0
    by_p = {}
    for r in rows:
        by_p.setdefault(r["partition"], []).append(r["offset"])
    assert all(sorted(v) == list(range(len(v))) for v in by_p.values())


def test_concurrent_appends_never_interleave_mid_line(tmp_path):
    """The executor-side produce contract: many writers appending to
    the SAME partition log concurrently (O_APPEND single-write) must
    yield only whole, parseable lines — no torn or interleaved
    records. Hammers one partition from 8 threads."""
    import json as _json
    import threading

    from dataingestiontohana_spark.sources.kafkafake import FakeKafkaBroker

    b = FakeKafkaBroker(str(tmp_path / "broker"))
    b.create_topic("hot", partitions=1)
    n_threads, per_thread = 8, 200

    def writer(t: int) -> None:
        bb = FakeKafkaBroker(str(tmp_path / "broker"))
        # long values make torn writes likely if appends ever split
        vals = [f"t{t}-i{i}-" + "x" * 500 for i in range(per_thread)]
        bb.produce_many("hot", vals, keys=["k"] * per_thread)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    f = tmp_path / "broker" / "hot" / "p-0.jsonl"
    lines = f.read_text().splitlines()
    assert len(lines) == n_threads * per_thread
    import base64
    seen = set()
    for ln in lines:
        rec = _json.loads(ln)  # raises on any torn/interleaved line
        v = base64.b64decode(rec["v"]).decode()
        assert v.endswith("x" * 500)
        seen.add(v.split("-x")[0])
    assert len(seen) == n_threads * per_thread


# ---- trigger-cap planning (pure reader-object tests, no session) ----

def _mk_backlog(tmp_path, counts):
    """Topic with len(counts) partitions holding counts[k] records."""
    from dataingestiontohana_spark.sources.kafkafake import FakeKafkaBroker

    b = FakeKafkaBroker(str(tmp_path / "broker"))
    b.create_topic("t", partitions=len(counts))
    for k, n in enumerate(counts):
        for i in range(n):
            b.produce("t", f"v{k}-{i}", partition=k)
    return b


def _reader(tmp_path, **extra):
    from dataingestiontohana_spark.sources.kafkafake import (
        FakeKafkaStreamReader,
    )

    opts = {"path": str(tmp_path / "broker"), "topic": "t"}
    opts.update({k.lower(): str(v) for k, v in extra.items()})
    return FakeKafkaStreamReader(opts)


def test_trigger_cap_apportioned_no_partition_starved(tmp_path):
    """r7 ADVICE: a sustained backlog on partition 0 must not starve
    the others — the per-trigger budget splits proportionally to
    unread counts, not drain-lowest-partition-first."""
    _mk_backlog(tmp_path, [1000, 10, 10])
    r = _reader(tmp_path, maxOffsetsPerTrigger=102)
    start = r.initialOffset()
    end = r.latestOffset()
    planned = {p: end[p] - start[p] for p in end}
    assert sum(planned.values()) == 102
    # every partition with backlog advances in the SAME trigger
    assert planned["1"] >= 1 and planned["2"] >= 1
    # and the big partition gets the lion's share
    assert planned["0"] > planned["1"] + planned["2"]


def test_trigger_cap_drains_all_partitions_over_triggers(tmp_path):
    _mk_backlog(tmp_path, [500, 7, 3])
    r = _reader(tmp_path, maxOffsetsPerTrigger=50)
    cur = r.initialOffset()
    for _ in range(15):
        end = r.latestOffset()
        r.partitions(cur, end)  # advances the cap base like Spark does
        cur = end
    assert cur == {"0": 500, "1": 7, "2": 3}


def test_backward_batch_plan_raises(tmp_path):
    """A plan ending before its start on any partition would commit a
    backward offset and re-deliver processed records on the next
    batch: partitions() refuses it instead of planning no slice."""
    _mk_backlog(tmp_path, [30, 30])
    r = _reader(tmp_path, maxOffsetsPerTrigger=10)
    with pytest.raises(ValueError, match=r"ends before its start.*\['0'\]"):
        r.partitions({"0": 20, "1": 5}, {"0": 10, "1": 15})


def test_latest_start_read_once_per_reader(tmp_path):
    """Fresh query order is latestOffset -> initialOffset: under
    startingOffsets=latest an append between the two calls must not
    move the start past batch 0's planned end."""
    b = _mk_backlog(tmp_path, [5, 5])
    r = _reader(tmp_path, maxOffsetsPerTrigger=10, startingOffsets="latest")
    end = r.latestOffset()
    for i in range(20):
        b.produce("t", f"late{i}", partition=i % 2)
    start = r.initialOffset()
    assert start == end == {"0": 5, "1": 5}
    assert r.partitions(start, end) == []
    # the appended records form the next, capped batch
    nxt = r.latestOffset()
    assert sum(nxt.values()) - sum(end.values()) == 10


# ---- trigger cap on real Spark: fresh query, restarts, two queries ----

def _produce_ints(broker: str, values) -> None:
    """Keyed records whose values are the given ints, on topic "t"
    (2 partitions)."""
    from dataingestiontohana_spark.sources.kafkafake import FakeKafkaBroker

    b = FakeKafkaBroker(broker)
    b.create_topic("t", partitions=2)
    vals = [str(v) for v in values]
    b.produce_many("t", vals, keys=vals)


def _consume(spark, broker, ck, cap, batches, crash_at=None,
             starting="earliest"):
    """Run a capped query over topic "t" until it has consumed every
    available record, appending each batch's values to `batches`. The
    run's `crash_at`-th batch raises instead of recording, failing the
    query: a foreachBatch crash before its offsets commit."""
    from dataingestiontohana_spark.sources.kafkafake import fake_kafka_source

    ran: list[list[int]] = []

    def sink(bdf, _epoch):
        vals = sorted(
            int(bytes(r["value"]).decode())
            for r in bdf.select("value").collect()
        )
        if len(ran) == crash_at:
            raise RuntimeError(f"crash in batch {vals}")
        ran.append(vals)
        batches.append(vals)

    q = (
        fake_kafka_source(spark, broker, "t", starting, cap)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _only_partition_logs(broker: str) -> None:
    names = os.listdir(os.path.join(broker, "t"))
    assert names and all(
        n.startswith("p-") and n.endswith(".jsonl") for n in names
    ), names


def test_fresh_capped_query_caps_its_first_batch(spark, tmp_path):
    """A fresh query over a 100-record backlog at cap 20 plans every
    batch, the first included, at 20 records or fewer."""
    broker = str(tmp_path / "broker")
    _produce_ints(broker, range(100))
    batches: list[list[int]] = []
    _consume(spark, broker, str(tmp_path / "ck"), 20, batches)
    assert max(map(len, batches)) <= 20, list(map(len, batches))
    assert sorted(v for b in batches for v in b) == list(range(100))
    _only_partition_logs(broker)


def test_restarts_stay_capped_and_exactly_once(spark, tmp_path):
    """A restart after a committed batch and a restart after a
    foreachBatch crash are both capped from their first batch; the
    crashed batch is replayed and every record lands exactly once. No
    consumer state appears beside the topic."""
    from pyspark.errors import StreamingQueryException

    broker, ck = str(tmp_path / "broker"), str(tmp_path / "ck")
    _produce_ints(broker, range(40))
    batches: list[list[int]] = []
    _consume(spark, broker, ck, 20, batches)
    assert sorted(v for b in batches for v in b) == list(range(40))

    _produce_ints(broker, range(40, 100))
    committed = len(batches)
    with pytest.raises(StreamingQueryException, match="crash in batch"):
        _consume(spark, broker, ck, 20, batches, crash_at=1)
    assert len(batches) == committed + 1  # restart after a commit

    _consume(spark, broker, ck, 20, batches)  # restart after a crash
    assert max(map(len, batches)) <= 20, list(map(len, batches))
    assert sorted(v for b in batches for v in b) == list(range(100))
    _only_partition_logs(broker)


def test_two_capped_queries_on_one_topic(spark, tmp_path):
    """Two queries with caps 20 and 30 consume one topic concurrently,
    each from its own checkpoint: each delivers every record exactly
    once within its cap, and a restart of one resumes capped from its
    own position."""
    from dataingestiontohana_spark.sources.kafkafake import fake_kafka_source

    broker = str(tmp_path / "broker")
    _produce_ints(broker, range(80))
    batches = {20: [], 30: []}

    def sink(cap):
        def f(bdf, _epoch):
            batches[cap].append(sorted(
                int(bytes(r["value"]).decode())
                for r in bdf.select("value").collect()
            ))
        return f

    queries = [
        fake_kafka_source(spark, broker, "t", "earliest", cap)
        .writeStream.foreachBatch(sink(cap))
        .option("checkpointLocation", str(tmp_path / f"ck{cap}"))
        .start()
        for cap in batches
    ]
    for q in queries:
        q.processAllAvailable()
    for q in queries:
        q.stop()
    for cap, got in batches.items():
        assert max(map(len, got)) <= cap, (cap, list(map(len, got)))
        assert sorted(v for b in got for v in b) == list(range(80))

    _produce_ints(broker, range(80, 160))
    again: list[list[int]] = []
    _consume(spark, broker, str(tmp_path / "ck20"), 20, again)
    assert max(map(len, again)) <= 20, list(map(len, again))
    assert sorted(v for b in again for v in b) == list(range(80, 160))
    _only_partition_logs(broker)


def test_latest_query_restarts_after_batch_zero_crash(spark, tmp_path):
    """Replaying batch 0 after a crash, Spark asks initialOffset()
    again. Under startingOffsets=latest the log's current end now lies
    past batch 0's end; the start answered must not, or the replay is
    a backward plan. The records produced while the query was down
    are delivered, capped."""
    from pyspark.errors import StreamingQueryException

    broker, ck = str(tmp_path / "broker"), str(tmp_path / "ck")
    _produce_ints(broker, range(30))
    batches: list[list[int]] = []
    with pytest.raises(StreamingQueryException, match="crash in batch"):
        _consume(spark, broker, ck, 20, batches, crash_at=0,
                 starting="latest")
    _produce_ints(broker, range(30, 60))
    _consume(spark, broker, ck, 20, batches, starting="latest")
    assert max(map(len, batches)) <= 20, list(map(len, batches))
    assert sorted(v for b in batches for v in b) == list(range(30, 60))


def test_trigger_budget_apportioning_invariants_hypothesis(tmp_path):
    """Property test over the proportional cap apportioning: for any
    backlog shape and budget, the plan takes exactly
    min(budget, total_unread) records, never over-reads a partition,
    never goes backward, and every partition with backlog advances
    within ceil(total/budget) triggers (no starvation)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dataingestiontohana_spark.sources.kafkafake import (
        FakeKafkaStreamReader,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        unread=st.lists(st.integers(0, 500), min_size=1, max_size=6),
        budget=st.integers(1, 200),
    )
    def check(unread, budget):
        r = FakeKafkaStreamReader.__new__(FakeKafkaStreamReader)
        r.max_per_trigger = budget
        r._pos = {str(k): 0 for k in range(len(unread))}
        end_offsets = {str(k): n for k, n in enumerate(unread)}
        # drive latestOffset's capping logic directly against a fake
        # end-offset map by monkeypatching the broker stat call
        r._broker = lambda: type(
            "B", (), {"end_offsets": lambda self, t: dict(end_offsets)}
        )()
        r.topic = "t"
        cur = dict(r._pos)
        total = sum(unread)
        triggers = 0
        while sum(cur.values()) < total:
            planned = r.latestOffset()
            take = {p: planned[p] - cur[p] for p in planned}
            assert all(t >= 0 for t in take.values()), "backward plan"
            assert sum(take.values()) == min(
                budget, total - sum(cur.values())
            ), "budget not filled"
            for p, t in take.items():
                assert cur[p] + t <= end_offsets[p], "over-read"
            # simulate Spark running the batch
            r.partitions(cur, planned)
            cur = {p: planned[p] for p in planned}
            triggers += 1
            assert triggers <= (total // budget) + len(unread) + 2, (
                "did not converge"
            )

    check()


def test_end_offsets_count_complete_lines(tmp_path):
    """latestOffset's end offsets equal a recount of every log's lines;
    an unterminated tail is not a record until its newline lands."""
    from dataingestiontohana_spark.sources.kafkafake import (
        FakeKafkaBroker,
        FakeKafkaStreamReader,
    )

    broker_dir = str(tmp_path / "broker")
    producer = FakeKafkaBroker(broker_dir)
    producer.create_topic("t", partitions=2)
    reader = FakeKafkaStreamReader({"path": broker_dir, "topic": "t"})
    logs = {p: tmp_path / "broker" / "t" / f"p-{p}.jsonl" for p in (0, 1)}

    def recount() -> dict:
        return {
            str(p): sum(1 for _ in open(f)) for p, f in logs.items()
        }

    producer.produce_many(
        "t", [f"v{i}" for i in range(30)], keys=[f"k{i % 7}" for i in range(30)]
    )
    producer.produce("t", "single", partition=1)
    full = recount()
    assert sum(full.values()) == 31
    assert reader.latestOffset() == full

    with open(logs[0], "a") as fh:
        fh.write('{"k": null, "v": "eQ==", "ts": 0}\n{"k": null, "v": "dGFpbA==", ')
    assert reader.latestOffset()["0"] == full["0"] + 1
    with open(logs[0], "a") as fh:
        fh.write('"ts": 0}\n')
    assert reader.latestOffset() == recount()
