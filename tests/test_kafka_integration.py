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


def test_groupid_hint_keeps_restart_capped(tmp_path):
    """r7 ADVICE: without the hint, a restart with
    startingoffsets=latest lazily seeds the cap base from the CURRENT
    end — one uncapped flood batch. With groupid, the persisted cap
    base bounds the first post-restart batch to <= budget."""
    b = _mk_backlog(tmp_path, [0, 0])
    r1 = _reader(tmp_path, maxOffsetsPerTrigger=10, groupid="g1")
    committed = r1.initialOffset()  # latest == {0,0}
    # backlog arrives, one capped batch runs and commits
    for i in range(100):
        b.produce("t", f"x{i}", partition=i % 2)
    end1 = r1.latestOffset()
    r1.partitions(committed, end1)
    assert sum(end1.values()) - sum(committed.values()) == 10

    # process dies; more backlog lands while down
    for i in range(100):
        b.produce("t", f"y{i}", partition=i % 2)
    r2 = _reader(tmp_path, maxOffsetsPerTrigger=10, groupid="g1")
    end2 = r2.latestOffset()  # no initialOffset: the restart path
    # first post-restart batch spans (committed end1 -> end2): bounded
    # by budget, not the 190-record backlog
    assert sum(end2.values()) - sum(end1.values()) <= 10
    # and never behind the committed start (no backward offsets)
    assert all(end2[p] >= end1[p] for p in end1)


def test_blind_restart_seed_never_behind_committed_start(tmp_path):
    """Without groupid the blind restart seed is the CURRENT end for
    BOTH startingoffsets modes: one uncapped catch-up batch, but never
    an end below the committed start (a backward commit would re-plan
    processed records — duplicates). Seeding `earliest` from 0 — the
    pre-r8 behavior — violated this: 0 + budget < committed start."""
    b = _mk_backlog(tmp_path, [300])
    r1 = _reader(tmp_path, maxOffsetsPerTrigger=50, startingOffsets="earliest")
    cur = r1.initialOffset()
    for _ in range(4):  # query processes 200 records, then dies
        end = r1.latestOffset()
        r1.partitions(cur, end)
        cur = end
    assert cur == {"0": 200}

    r2 = _reader(tmp_path, maxOffsetsPerTrigger=50, startingOffsets="earliest")
    end2 = r2.latestOffset()
    assert end2["0"] >= 200  # >= committed start: no duplicate re-plan
    slices = r2.partitions(cur, end2)
    assert all(s.lo >= 200 for s in slices)
    # cap resumes on the very next trigger
    b.produce("t", "tail", partition=0)
    end3 = r2.latestOffset()
    assert end3["0"] - end2["0"] <= 50


def test_corrupt_group_hint_seeds_from_end_not_start(tmp_path):
    """r8 ADVICE: a PRESENT but unparseable hint file means this
    identity HAS planned batches before (crash mid-write, disk
    corruption) — falling back to startingOffsets=earliest would seed
    the cap base at 0, BEHIND the committed start, and re-plan
    processed records. The corrupt-hint fallback is the no-groupid
    seed instead: current end offsets — one uncapped batch, never
    duplicates. (FileNotFoundError still means a genuinely fresh
    identity and keeps the startingOffsets seed.)"""
    import os

    b = _mk_backlog(tmp_path, [300])
    r1 = _reader(
        tmp_path, maxOffsetsPerTrigger=50,
        startingOffsets="earliest", groupid="gc",
    )
    cur = r1.initialOffset()
    for _ in range(4):  # 200 records processed + committed, then dies
        end = r1.latestOffset()
        r1.partitions(cur, end)
        cur = end
    assert cur == {"0": 200}

    # corrupt the hint file (e.g. a pre-atomic-write torn write)
    hint_path = os.path.join(str(tmp_path / "broker"), "t", "_group-gc.json")
    with open(hint_path, "w") as fh:
        fh.write('{"0": 2')  # truncated JSON
    r2 = _reader(
        tmp_path, maxOffsetsPerTrigger=50,
        startingOffsets="earliest", groupid="gc",
    )
    end2 = r2.latestOffset()
    # seeded from the CURRENT end (>= committed start 200), NOT from
    # startingOffsets (0 + 50 = 50 < 200 would be a backward commit)
    assert end2["0"] >= 200
    slices = r2.partitions(cur, end2)
    assert all(s.lo >= 200 for s in slices)
    # the cap resumes on the next trigger and the hint file heals
    b.produce("t", "tail", partition=0)
    end3 = r2.latestOffset()
    assert end3["0"] - end2["0"] <= 50


def test_groupid_adoption_bootstraps_from_checkpoint(tmp_path, spark):
    """Enabling a groupid on a query with EXISTING committed offsets
    (e.g. a pre-groupid checkpoint restarting under a newer build)
    must seed the cap base from the checkpoint's offset log, never
    from startingOffsets — with `earliest`, the blind fallback would
    plan an end behind the committed start and re-deliver processed
    records. Pinned end-to-end: phase 1 consumes capped WITHOUT a
    groupid, phase 2 restarts the same checkpoint WITH one; the sink
    sees every record exactly once."""
    import os

    from dataingestiontohana_spark.sources.kafkafake import (
        FakeKafkaBroker,
        bootstrap_group_hint,
        fake_kafka_source,
    )

    broker = str(tmp_path / "broker")
    b = FakeKafkaBroker(broker)
    b.create_topic("t", partitions=2)
    for i in range(40):
        b.produce("t", f"{i}", key=str(i))

    ck = str(tmp_path / "ck")
    seen: list[int] = []

    def sink(bdf, _e):
        seen.extend(
            int(bytes(r["value"]).decode()) for r in bdf.collect()
        )

    # phase 1: no groupid (the pre-r8 shape); drain the 40-record
    # prefix completely, committed start = 40
    df1 = fake_kafka_source(spark, broker, "t", "earliest", 20)
    q1 = (df1.writeStream.foreachBatch(sink)
          .option("checkpointLocation", ck).start())
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination(30)
    assert len(seen) == 40

    # 60 more records land while the query is down — the blind
    # earliest seed (0 + budget 20) would now sit far BEHIND the
    # committed start of 40
    for i in range(40, 100):
        b.produce("t", f"{i}", key=str(i))

    # phase 2: SAME checkpoint, NOW with a groupid (adoption) —
    # bootstrap from the offset log, like the graph compiler does
    assert bootstrap_group_hint(broker, "t", "g-adopt", ck)
    df2 = fake_kafka_source(spark, broker, "t", "earliest", 20,
                            group_id="g-adopt")
    q2 = (df2.writeStream.foreachBatch(sink)
          .option("checkpointLocation", ck).start())
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30)

    # exactly-once at the source level: every record once, no replays
    # (duplicates would appear WITHOUT the bootstrap: the blind
    # earliest seed plans end=budget < committed start)
    assert sorted(seen) == list(range(100)), (
        f"n={len(seen)} uniq={len(set(seen))}"
    )
    # and the hint file reflects the consumed position
    import json

    hint = json.load(open(os.path.join(broker, "t", "_group-g-adopt.json")))
    assert sum(hint.values()) == 100


def test_two_consumer_groups_isolated_on_one_topic(tmp_path, spark):
    """Two independent queries (own checkpoints, own groupids) consume
    the SAME topic: each keeps its own trigger cap, each lands every
    record exactly once, and neither's hint file mis-seeds the other
    (the one-query-per-group contract, exercised rather than assumed)."""
    from dataingestiontohana_spark.sources.kafkafake import (
        FakeKafkaBroker,
        fake_kafka_source,
    )

    broker = str(tmp_path / "broker")
    b = FakeKafkaBroker(broker)
    b.create_topic("t", partitions=2)
    for i in range(80):
        b.produce("t", f"{i}", key=str(i))

    seen = {"a": [], "b": []}

    def sink(tag):
        def f(bdf, _e):
            seen[tag].extend(
                int(bytes(r["value"]).decode()) for r in bdf.collect()
            )
        return f

    qa = (fake_kafka_source(spark, broker, "t", "earliest", 20, group_id="ga")
          .writeStream.foreachBatch(sink("a"))
          .option("checkpointLocation", str(tmp_path / "ck_a")).start())
    qb = (fake_kafka_source(spark, broker, "t", "earliest", 30, group_id="gb")
          .writeStream.foreachBatch(sink("b"))
          .option("checkpointLocation", str(tmp_path / "ck_b")).start())
    qa.processAllAvailable(); qb.processAllAvailable()
    qa.stop(); qb.stop()
    qa.awaitTermination(30); qb.awaitTermination(30)

    assert sorted(seen["a"]) == list(range(80))
    assert sorted(seen["b"]) == list(range(80))

    # fresh backlog: each group resumes capped from ITS OWN position
    for i in range(80, 160):
        b.produce("t", f"{i}", key=str(i))
    import json
    import os

    ha = json.load(open(os.path.join(broker, "t", "_group-ga.json")))
    hb = json.load(open(os.path.join(broker, "t", "_group-gb.json")))
    assert sum(ha.values()) == sum(hb.values()) == 80

    seen2: list[int] = []
    q2 = (fake_kafka_source(spark, broker, "t", "earliest", 20, group_id="ga")
          .writeStream.foreachBatch(
              lambda bdf, _e: seen2.extend(
                  int(bytes(r["value"]).decode()) for r in bdf.collect()))
          .option("checkpointLocation", str(tmp_path / "ck_a")).start())
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination(30)
    assert sorted(seen2) == list(range(80, 160))  # no replays, no loss


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
        r.group_id = None
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
