"""In-process Kafka stand-in: a topic log on disk exposed through a
Spark 4 Python Data Source with the EXACT schema and offset semantics
of the real ``format("kafka")`` connector.

Why this exists: the build sandbox has neither the
spark-sql-kafka-0-10 connector jar nor network access to fetch it, so
no socket-level fake broker can help — Spark has no Kafka client to
speak to one (`readStream.format("kafka")` fails at data-source
lookup). What CAN be verified without the jar is everything the
engine builds ON TOP of the connector: the CSV body parse
(`parse_sensor_kafka`), per-partition offset ordering and
checkpointed replay. This module provides a
wire-shaped substitute for exactly that layer:

- **Broker** = a directory; **topic** = a subdirectory; **partition**
  = an append-only jsonl file ``p-<k>.jsonl`` whose line number IS the
  Kafka offset. Appends are atomic (single ``write`` of one line), so
  a concurrent reader sees a prefix — the same prefix-visibility
  contract a broker gives a consumer.
- **Producer** (`FakeKafkaBroker.produce`) assigns partitions by key
  hash (murmur-free stand-in: md5 mod partitions — deterministic
  across processes), like the default Kafka partitioner.
- **Consumer** = ``format("kafkafake")`` streaming source emitting
  ``key binary, value binary, topic string, partition int, offset
  long, timestamp timestamp, timestampType int`` — byte-for-byte the
  connector's schema — with offsets ``{partition: next}``,
  ``startingOffsets earliest|latest``, a ``maxOffsetsPerTrigger`` cap,
  and exact ``readBetweenOffsets`` replay (the checkpoint-recovery
  path). Like the connector, the consumer's only identity is Spark's
  checkpoint: the cap plans from the positions Spark's own calls hand
  the reader, so nothing but the ``p-<k>.jsonl`` logs lives on disk.

The real-broker integration test stays skip-guarded for environments
that have the jar; downstream code cannot tell the two sources apart,
which is the point.
"""

from __future__ import annotations

import base64
import hashlib
import itertools
import json
import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

KAFKA_ENVELOPE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def _append_atomic(fpath: str, payload: str) -> None:
    """Append `payload` with ONE O_APPEND os.write. POSIX guarantees an
    O_APPEND write lands contiguously at the (atomically advanced) end
    of file, so CONCURRENT producers — multiple Spark tasks appending
    to the same partition log — can never interleave mid-line. Python's
    buffered ``open(..., 'a').write()`` cannot promise that (the buffer
    may flush in pieces), which is why executor-side produce routes
    through here."""
    fd = os.open(fpath, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        data = payload.encode()
        written = os.write(fd, data)
        # a single write() of this size never splits on a local fs, but
        # a short write would corrupt the log — fail loudly instead
        if written != len(data):
            raise OSError(
                f"short append to {fpath}: {written}/{len(data)} bytes"
            )
    finally:
        os.close(fd)


class FakeKafkaBroker:
    """Producer/admin half of the stand-in: append-only topic logs."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def create_topic(self, topic: str, partitions: int = 2) -> None:
        d = os.path.join(self.path, topic)
        os.makedirs(d, exist_ok=True)
        for k in range(partitions):
            open(os.path.join(d, f"p-{k}.jsonl"), "a").close()

    def partitions(self, topic: str) -> list[int]:
        d = os.path.join(self.path, topic)
        return sorted(
            int(f[2:-6])
            for f in os.listdir(d)
            if f.startswith("p-") and f.endswith(".jsonl")
        )

    def produce(
        self,
        topic: str,
        value: bytes | str,
        key: bytes | str | None = None,
        partition: int | None = None,
        timestamp_ms: int | None = None,
    ) -> tuple[int, int]:
        """Append one record; returns (partition, offset). Routed by
        key hash, else to the smallest log (`_route`), unless
        ``partition`` pins it."""
        [(p, [line])] = self._route(
            topic, [value], [key], timestamp_ms, partition
        ).items()
        offset = self._log_len(topic, p)
        _append_atomic(os.path.join(self.path, topic, f"p-{p}.jsonl"), line)
        return p, offset

    def produce_many(
        self,
        topic: str,
        values: list[bytes | str],
        keys: list[bytes | str | None] | None = None,
        timestamp_ms: int | None = None,
    ) -> int:
        """Batch append: each partition file takes ONE append per call —
        the path the executor-side producer takes (per-record open()
        turns a micro-batch write into len(batch) fsyncs)."""
        buckets = self._route(
            topic, values, keys or [None] * len(values), timestamp_ms
        )
        for p, lines in buckets.items():
            f = os.path.join(self.path, topic, f"p-{p}.jsonl")
            _append_atomic(f, "".join(lines))
        return len(values)

    def _route(
        self,
        topic: str,
        values: list[bytes | str],
        keys: list[bytes | str | None],
        timestamp_ms: int | None,
        partition: int | None = None,
    ) -> dict[int, list[str]]:
        """Encode records as log lines and bucket them by partition.
        Keyed records partition by deterministic key hash (same key ->
        same partition, the Kafka ordering guarantee); unkeyed records
        go to the smallest log. Balance uses O(1) byte sizes, not line
        counts: `_log_len` re-reads the whole log, which would make the
        Nth append cost O(sum of all prior batches) over a long-running
        stream."""
        parts = self.partitions(topic)
        if not parts:
            raise ValueError(f"unknown topic {topic!r}: create_topic first")
        if partition is not None and partition not in parts:
            # appending would create the log: a new partition that
            # re-maps every key hash after it
            raise ValueError(f"topic {topic!r} has no partition {partition}")
        sizes = {k: self._log_size_bytes(topic, k) for k in parts}
        ts = timestamp_ms if timestamp_ms is not None else int(
            time.time() * 1000
        )
        buckets: dict[int, list[str]] = {}
        for value, key in zip(values, keys, strict=True):
            kb = key.encode() if isinstance(key, str) else key
            vb = value.encode() if isinstance(value, str) else value
            line = json.dumps({
                "k": base64.b64encode(kb).decode() if kb is not None else None,
                "v": base64.b64encode(vb).decode(),
                "ts": ts,
            }) + "\n"
            p = partition
            if p is None and kb is not None:
                p = parts[
                    int.from_bytes(hashlib.md5(kb).digest()[:4], "big")
                    % len(parts)
                ]
            elif p is None:
                p = min(parts, key=lambda k: (sizes[k], k))
            sizes[p] += len(line)
            buckets.setdefault(p, []).append(line)
        return buckets

    def _log_size_bytes(self, topic: str, partition: int) -> int:
        """O(1) balance proxy for unkeyed spreading (stat, not read)."""
        f = os.path.join(self.path, topic, f"p-{partition}.jsonl")
        try:
            return os.path.getsize(f)
        except OSError:
            return 0

    def _log_len(self, topic: str, partition: int) -> int:
        """Complete lines (= records) in the log: a record is a
        newline-terminated line, so an unterminated tail counts once
        its newline lands."""
        f = os.path.join(self.path, topic, f"p-{partition}.jsonl")
        if not os.path.exists(f):
            return 0
        with open(f, "rb") as fh:
            chunks = iter(lambda: fh.read(1 << 20), b"")
            return sum(chunk.count(b"\n") for chunk in chunks)

    def end_offsets(self, topic: str) -> dict[str, int]:
        return {
            str(k): self._log_len(topic, k) for k in self.partitions(topic)
        }


def _read_slice(
    path: str, topic: str, partition: int, lo: int, hi: int
) -> list[tuple]:
    f = os.path.join(path, topic, f"p-{partition}.jsonl")
    rows = []
    if not os.path.exists(f):
        return rows
    with open(f) as fh:
        for off, line in enumerate(itertools.islice(fh, lo, hi), lo):
            rec = json.loads(line)
            rows.append(
                (
                    base64.b64decode(rec["k"]) if rec["k"] is not None else None,
                    base64.b64decode(rec["v"]),
                    topic,
                    partition,
                    off,
                    datetime.fromtimestamp(
                        rec["ts"] / 1000.0, tz=timezone.utc
                    ).replace(tzinfo=None),
                    0,  # CreateTime, like the connector's default
                )
            )
    return rows


class FakeKafkaSlice(InputPartition):
    """One (topic-partition, offset-range) task split — Kafka's
    parallelism unit, exactly what the real connector hands a task."""

    def __init__(self, partition: int, lo: int, hi: int):
        self.partition = partition
        self.lo = lo
        self.hi = hi


class FakeKafkaStreamReader(DataSourceStreamReader):
    """PARTITIONED stream reader — the real connector's task model:
    the driver only computes the per-partition offset map
    ({str(partition): next_unread}); each micro-batch plans ONE input
    partition per topic partition with unread data, and the slice is
    read EXECUTOR-SIDE by the task that owns it. Deterministic replay
    via line numbers; `maxOffsetsPerTrigger` caps the total records a
    micro-batch plans, like the connector.

    The cap plans from ``_pos``, the last planned batch end, held in
    memory: Spark 4.1 sends every call of one query to one reader
    instance. A fresh query calls latestOffset -> initialOffset ->
    partitions(start, end), so the first latestOffset seeds ``_pos``
    from startingOffsets. A restarted query first calls
    partitions(last_end, last_end) and, after a crash, the replay's
    partitions(start, end) (asking initialOffset for the start when
    it replays batch 0) before any latestOffset, which puts ``_pos``
    on the checkpoint's position — the same order PySpark's own
    ``_SimpleStreamReaderWrapper`` relies on."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.topic = options["topic"]
        self.starting = options.get("startingoffsets", "earliest")
        self.max_per_trigger = int(options.get("maxoffsetspertrigger", 0))
        # the trigger cap is ADMISSION CONTROL in latestOffset() —
        # capping in partitions() instead would silently skip the
        # records between the capped slice and the batch's committed
        # end (data loss)
        self._pos: dict | None = None

    def _broker(self) -> FakeKafkaBroker:
        return FakeKafkaBroker(self.path)

    def _start_offsets(self) -> dict:
        b = self._broker()
        if self.starting == "latest":
            return b.end_offsets(self.topic)
        return {str(k): 0 for k in b.partitions(self.topic)}

    def initialOffset(self) -> dict:
        # Spark asks once the reader holds a position: a fresh query's
        # first latestOffset seeded it from startingOffsets, a restart
        # replaying batch 0 handed back that batch's end. Under
        # ``latest`` the log's end may since lie past it; a start past
        # batch 0's end would make that batch a backward plan.
        start = self._start_offsets()
        pos = self._pos or {}
        return {p: min(v, int(pos.get(p, v))) for p, v in start.items()}

    def latestOffset(self) -> dict:
        # driver-side planning only: stat the logs (O(#partitions), no
        # record materializes) and bound the batch by the trigger cap,
        # split across partitions PROPORTIONALLY to their unread
        # counts (the real connector's apportioning) — a sustained
        # backlog on one partition must not starve the others.
        if self._pos is None:  # fresh query: read the start before the end
            self._pos = self._start_offsets()
        end = self._broker().end_offsets(self.topic)
        if self.max_per_trigger:
            lo = {p: int(self._pos.get(p, 0)) for p in end}
            unread = {p: max(int(end[p]) - lo[p], 0) for p in end}
            total = sum(unread.values())
            budget = self.max_per_trigger
            if total > budget:
                take = {p: budget * unread[p] // total for p in unread}
                rem = budget - sum(take.values())
                # leftover goes by largest fractional share, partition
                # id as the deterministic tie-break — over successive
                # triggers every partition with backlog makes progress
                order = sorted(
                    unread,
                    key=lambda p: (-(budget * unread[p] % total), int(p)),
                )
                for p in order:
                    if rem <= 0:
                        break
                    if take[p] < unread[p]:
                        take[p] += 1
                        rem -= 1
                end = {p: lo[p] + min(take[p], unread[p]) for p in end}
        return end

    def partitions(self, start: dict, end: dict) -> list[FakeKafkaSlice]:
        behind = sorted(
            (p for p in end if int(end[p]) < int(start.get(p, 0))), key=int
        )
        if behind:
            # committing this end would move the offsets backward and
            # re-deliver processed records on the next batch
            raise ValueError(
                f"kafkafake topic {self.topic!r}: batch plan ends before "
                f"its start on partition(s) {behind} (start {start}, "
                f"end {end})"
            )
        self._pos = {
            p: max(int(end.get(p, 0)), int(start.get(p, 0)))
            for p in set(end) | set(start)
        }
        return [
            FakeKafkaSlice(int(p), int(start.get(p, 0)), int(end[p]))
            for p in sorted(end, key=int)
            if int(end[p]) > int(start.get(p, 0))
        ]

    def read(self, partition: FakeKafkaSlice):
        # EXECUTOR-side: the task reads exactly its partition's slice
        return iter(
            _read_slice(
                self.path,
                self.topic,
                partition.partition,
                partition.lo,
                partition.hi,
            )
        )

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint (the consumer identity),
        # exactly like the connector with auto-commit off
        return None


class FakeKafkaBatchReader(DataSourceReader):
    """Batch read of the whole topic log (the connector's
    ``spark.read.format("kafka")`` mode): one input partition per
    topic partition, preserving Kafka's parallelism unit — a task
    reads exactly one partition's offset range."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.topic = options["topic"]

    def partitions(self):
        return [
            InputPartition(k)
            for k in FakeKafkaBroker(self.path).partitions(self.topic)
        ]

    def read(self, partition: InputPartition):
        hi = FakeKafkaBroker(self.path)._log_len(self.topic, partition.value)
        yield from _read_slice(self.path, self.topic, partition.value, 0, hi)


class FakeKafkaSource(DataSource):
    """``format("kafkafake")``: options path, topic, startingOffsets.
    Batch + streaming, like the real connector."""

    @classmethod
    def name(cls) -> str:
        return "kafkafake"

    def schema(self) -> str:
        return KAFKA_ENVELOPE_SCHEMA

    def reader(self, schema) -> FakeKafkaBatchReader:
        return FakeKafkaBatchReader(self.options)

    def streamReader(self, schema) -> FakeKafkaStreamReader:
        return FakeKafkaStreamReader(self.options)


def register_fake_kafka(spark: SparkSession) -> None:
    spark.dataSource.register(FakeKafkaSource)


def fake_kafka_source(
    spark: SparkSession,
    path: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int = 0,
) -> DataFrame:
    """readStream over a fake topic — drop-in for
    `streaming.kafka.kafka_source` (identical output schema), for
    environments without the connector jar. ``max_offsets_per_trigger``
    mirrors the connector's micro-batch size cap (0 = drain all). The
    checkpoint location is the consumer identity, as with the
    connector: a fresh query is capped from startingOffsets, a
    restarted one from its checkpoint's position (see
    `FakeKafkaStreamReader`)."""
    register_fake_kafka(spark)
    return (
        spark.readStream.format("kafkafake")
        .option("path", path)
        .option("topic", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .load()
    )


def read_fake_topic(spark: SparkSession, path: str, topic: str) -> DataFrame:
    """Batch read of the whole topic — the connector's
    ``spark.read.format("kafka")`` mode (one task per partition)."""
    register_fake_kafka(spark)
    return (
        spark.read.format("kafkafake")
        .option("path", path)
        .option("topic", topic)
        .load()
    )


def executor_producer(path: str, topic: str):
    """Partition-function factory for EXECUTOR-SIDE produce: the
    returned closure captures only two strings (no SparkSession, no
    broker handle), so ``df.foreachPartition(executor_producer(...))``
    ships it to every task and each task appends ITS OWN slice of the
    batch directly to the topic logs — no driver ``collect()`` hop, the
    same shape as the real connector's per-task KafkaProducer.

    Rows must carry a ``value`` column and optionally ``key`` (project/
    alias upstream). Delivery is AT-LEAST-ONCE, exactly like Spark's
    real Kafka sink: a retried task appends its slice again; dedup
    lands downstream on the keyed upsert. Concurrent tasks appending to
    the same partition log are safe — every append is one O_APPEND
    write (`_append_atomic`); inter-task order is unspecified, matching
    multi-producer Kafka."""

    def _produce(rows) -> None:
        b = FakeKafkaBroker(path)
        vals: list[str] = []
        keys: list[str | None] = []
        keyed = False
        for r in rows:
            vals.append(str(r["value"]))
            k = r["key"] if "key" in r.__fields__ else None
            keys.append(None if k is None else str(k))
            keyed = keyed or k is not None
        if vals:
            b.produce_many(topic, vals, keys=keys if keyed else None)

    return _produce
