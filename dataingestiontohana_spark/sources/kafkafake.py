"""In-process Kafka stand-in: a topic log on disk exposed through a
Spark 4 Python Data Source with the EXACT schema and offset semantics
of the real ``format("kafka")`` connector.

Why this exists: the build sandbox has neither the
spark-sql-kafka-0-10 connector jar nor network access to fetch it, so
no socket-level fake broker can help — Spark has no Kafka client to
speak to one (`readStream.format("kafka")` fails at data-source
lookup). What CAN be verified without the jar is everything the
engine builds ON TOP of the connector: the envelope projection
(`streaming/kafka.py::envelope_columns`), the CSV body parse
(`parse_sensor_kafka`), per-partition offset ordering, commit-token
construction, and checkpointed replay. This module provides a
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
  ``startingOffsets earliest|latest``, and exact
  ``readBetweenOffsets`` replay (the checkpoint-recovery path).

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
        """Append one record; returns (partition, offset). Keyed
        records partition by deterministic key hash (same key -> same
        partition, the Kafka ordering guarantee); unkeyed records
        round-robin by current log sizes."""
        parts = self.partitions(topic)
        if not parts:
            raise ValueError(f"unknown topic {topic!r}: create_topic first")
        vb = value.encode() if isinstance(value, str) else bytes(value)
        kb = (
            key.encode()
            if isinstance(key, str)
            else (bytes(key) if key is not None else None)
        )
        if partition is None:
            if kb is not None:
                partition = parts[
                    int.from_bytes(hashlib.md5(kb).digest()[:4], "big")
                    % len(parts)
                ]
            else:
                sizes = {k: self._log_size_bytes(topic, k) for k in parts}
                partition = min(parts, key=lambda k: (sizes[k], k))
        ts = timestamp_ms if timestamp_ms is not None else int(
            time.time() * 1000
        )
        rec = {
            "k": base64.b64encode(kb).decode() if kb is not None else None,
            "v": base64.b64encode(vb).decode(),
            "ts": ts,
        }
        f = os.path.join(self.path, topic, f"p-{partition}.jsonl")
        offset = self._log_len(topic, partition)
        _append_atomic(f, json.dumps(rec) + "\n")
        return partition, offset

    def produce_many(
        self,
        topic: str,
        values: list[bytes | str],
        keys: list[bytes | str | None] | None = None,
        timestamp_ms: int | None = None,
    ) -> int:
        """Batch append: same per-record semantics as `produce` (keyed
        records hash-partition, unkeyed balance across partitions), but
        each partition file opens ONCE per call — the path the
        executor-side producer takes (per-record open() turns a
        micro-batch write into len(batch) fsyncs). Unkeyed balance uses
        O(1) byte sizes, not line counts: `_log_len` re-reads the whole
        log, which would make the Nth append cost O(sum of all prior
        batches) over a long-running stream."""
        parts = self.partitions(topic)
        if not parts:
            raise ValueError(f"unknown topic {topic!r}: create_topic first")
        sizes = {k: self._log_size_bytes(topic, k) for k in parts}
        ts = timestamp_ms if timestamp_ms is not None else int(
            time.time() * 1000
        )
        buckets: dict[int, list[str]] = {}
        for i, value in enumerate(values):
            key = keys[i] if keys else None
            vb = value.encode() if isinstance(value, str) else bytes(value)
            kb = (
                key.encode()
                if isinstance(key, str)
                else (bytes(key) if key is not None else None)
            )
            rec = json.dumps({
                "k": base64.b64encode(kb).decode() if kb is not None else None,
                "v": base64.b64encode(vb).decode(),
                "ts": ts,
            })
            if kb is not None:
                p = parts[
                    int.from_bytes(hashlib.md5(kb).digest()[:4], "big")
                    % len(parts)
                ]
            else:
                p = min(parts, key=lambda k: (sizes[k], k))
            sizes[p] += len(rec) + 1
            buckets.setdefault(p, []).append(rec)
        for p, lines in buckets.items():
            f = os.path.join(self.path, topic, f"p-{p}.jsonl")
            _append_atomic(f, "\n".join(lines) + "\n")
        return len(values)

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
    read EXECUTOR-SIDE by the task that owns it (the earlier
    SimpleDataSourceStreamReader funneled every record through a
    driver prefetch — fine for a sandbox, structurally wrong for the
    scale story this stand-in exists to verify). Deterministic replay
    via line numbers; `maxOffsetsPerTrigger` caps the total records a
    micro-batch plans, like the connector."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.topic = options["topic"]
        self.starting = options.get("startingoffsets", "earliest")
        self.max_per_trigger = int(options.get("maxoffsetspertrigger", 0))
        # like Kafka's group.id: an OPTIONAL consumer identity that
        # persists the cap base across process restarts (a throttle
        # HINT only — correctness always comes from Spark's checkpoint)
        self.group_id = options.get("groupid")
        # last planned batch end, tracked so the trigger cap can be
        # applied as ADMISSION CONTROL in latestOffset() — capping in
        # partitions() instead would silently skip the records between
        # the capped slice and the batch's committed end (data loss)
        self._pos: dict | None = None

    def _broker(self) -> FakeKafkaBroker:
        return FakeKafkaBroker(self.path)

    def _start_offsets(self) -> dict:
        b = self._broker()
        if self.starting == "latest":
            return b.end_offsets(self.topic)
        return {str(k): 0 for k in b.partitions(self.topic)}

    # -- groupid cap-base hint (survives a query restart) ------------
    def _group_path(self) -> str:
        return os.path.join(
            self.path, self.topic, f"_group-{self.group_id}.json"
        )

    def _save_cap_base(self) -> None:
        if not self.group_id or self._pos is None:
            return
        tmp = self._group_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._pos, fh)
        os.replace(tmp, self._group_path())

    def _seed_cap_base(self, end: dict) -> dict:
        """Seed the trigger-cap base on the FIRST latestOffset() of an
        instance. Spark's call order (measured in this runner) is
        latestOffset -> initialOffset -> partitions, so the first
        planning decision always happens before the source learns the
        batch start — fresh query or restart alike. The seed must
        never sit BEHIND the start Spark will use: a planned end below
        the committed start would be committed as a BACKWARD offset
        and the next batch would re-plan already-processed records
        (duplicates). Safe sources, in order:

        1. the groupid hint file: written at initialOffset and at
           every partitions() call as that batch's planned end, so it
           is >= the committed start (at most one in-flight batch
           ahead on crash-replay) — restarts resume capped,
           overshooting by <= one batch;
        2. with a groupid but NO hint file yet: this is a fresh query
           (nothing has ever planned under this identity), so
           startingOffsets IS the true start — capping applies from
           batch 0. (Deleting the hint file of a live checkpoint
           re-introduces one backward-seed window; one identity, one
           checkpoint, like a Kafka group.id.)
        3. no groupid: the CURRENT end offsets for BOTH modes — the
           log is append-only, so current end >= anything Spark ever
           committed. Cost: the first batch of every process plans
           the whole backlog uncapped; a one-time throttle bypass,
           never loss, never duplicates. (Seeding `earliest` from 0 —
           the pre-r8 behavior — was the unsafe variant: 0 + budget
           can trail the committed start.)
        """
        if self.group_id:
            try:
                with open(self._group_path()) as fh:
                    hint = json.load(fh)
                # never beyond the log end (paranoia: recreated topic)
                return {
                    p: min(int(hint.get(p, 0)), int(end[p])) for p in end
                }
            except FileNotFoundError:
                # genuinely fresh identity: nothing ever planned under
                # this group, so startingOffsets IS the true start
                return dict(self._start_offsets())
            except (json.JSONDecodeError, ValueError, TypeError, OSError):
                # a PRESENT but unreadable hint means this identity HAS
                # planned batches before (e.g. a crash mid-write before
                # the r8 atomic os.replace, or disk corruption) — with
                # startingOffsets=earliest the fresh-query seed would
                # sit BEHIND the committed start and re-plan processed
                # records. Fall through to the no-groupid seed below:
                # current end offsets — one uncapped batch, never
                # duplicates.
                pass
        return {p: int(v) for p, v in end.items()}

    def initialOffset(self) -> dict:
        off = self._start_offsets()
        self._pos = dict(off)
        self._save_cap_base()  # fresh query: cap from the true start
        return off

    def latestOffset(self) -> dict:
        # driver-side planning only: stat the logs (O(#partitions), no
        # record materializes) and bound the batch by the trigger cap,
        # split across partitions PROPORTIONALLY to their unread
        # counts (the real connector's apportioning) — a sustained
        # backlog on one partition must not starve the others, which
        # the earlier drain-in-ascending-partition-order loop did.
        end = self._broker().end_offsets(self.topic)
        if self.max_per_trigger:
            if self._pos is None:
                self._pos = self._seed_cap_base(end)
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
        # track the cap base as the max of the planned end and the TRUE
        # batch start Spark restored from its checkpoint
        self._pos = {
            p: max(int(end.get(p, 0)), int(start.get(p, 0)))
            for p in set(end) | set(start)
        }
        self._save_cap_base()
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


def bootstrap_group_hint(
    broker_path: str, topic: str, group_id: str, checkpoint_dir: str
) -> bool:
    """Seed a groupid's cap-base hint file from a Spark checkpoint's
    offset log — the ADOPTION path: enabling a group id on a query
    that already has committed offsets. Without this, the first
    latestOffset under the new identity falls back to startingOffsets
    (`_seed_cap_base` case 2) which, with `earliest`, sits BEHIND the
    committed start and re-plans processed records (duplicates — see
    the docstring's backward-offset analysis). The newest offsets/<n>
    file holds that batch's planned END — exactly the hint invariant
    (>= committed start, at most one in-flight batch ahead).

    No-op (False) when the hint already exists or no usable offset log
    is found; never raises on a malformed checkpoint."""
    hint = os.path.join(broker_path, topic, f"_group-{group_id}.json")
    if os.path.exists(hint):
        return False
    odir = os.path.join(checkpoint_dir, "offsets")
    try:
        batches = sorted(int(f) for f in os.listdir(odir) if f.isdigit())
    except (FileNotFoundError, NotADirectoryError):
        return False
    for b in reversed(batches):
        try:
            with open(os.path.join(odir, str(b))) as fh:
                lines = [ln for ln in fh.read().splitlines() if ln.strip()]
            off = json.loads(lines[-1])  # line 3: the source offset dict
            pos = {str(k): int(v) for k, v in off.items()}
            int_keys = all(k.lstrip("-").isdigit() for k in pos)
            if not (pos and int_keys):
                continue
        except (OSError, ValueError, AttributeError):
            continue
        os.makedirs(os.path.dirname(hint), exist_ok=True)
        tmp = hint + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(pos, fh)
        os.replace(tmp, hint)
        return True
    return False


def fake_kafka_source(
    spark: SparkSession,
    path: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int = 0,
    group_id: str | None = None,
) -> DataFrame:
    """readStream over a fake topic — drop-in for
    `streaming.kafka.kafka_source` (identical output schema), for
    environments without the connector jar. ``max_offsets_per_trigger``
    mirrors the connector's micro-batch size cap (0 = drain all).

    ``group_id`` (like Kafka's group.id) persists the trigger-cap base
    across processes: Spark's Python streaming sources run initialOffset
    and latestOffset on DIFFERENT runner instances, so without it the
    cap base blind-seeds from the current end offsets and the first
    batch of a query (fresh or restarted) plans the whole backlog
    uncapped. With it, initialOffset/partitions persist the position
    and every instance plans capped from the true start. One query per
    group_id — sharing one across checkpoints mis-seeds the cap (same
    contract as Kafka consumer groups). Enable the group id when the
    query is FIRST created; adopting one on a query with existing
    committed offsets needs `bootstrap_group_hint(broker, topic, gid,
    checkpoint_dir)` first (the graph compiler does this
    automatically), or the blind seed can sit behind the committed
    start with startingOffsets=earliest and re-plan processed
    records."""
    register_fake_kafka(spark)
    reader = (
        spark.readStream.format("kafkafake")
        .option("path", path)
        .option("topic", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    )
    if group_id:
        reader = reader.option("groupId", group_id)
    return reader.load()


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


def write_stream_to_fake_kafka(
    df: DataFrame, path: str, topic: str, checkpoint_dir: str
):
    """writeStream into a fake topic — the producer half (R3). Each
    micro-batch produces EXECUTOR-SIDE via foreachPartition (see
    `executor_producer`); the driver never materializes the batch.
    Like the real Kafka sink this is AT-LEAST-ONCE: a batch replayed
    after a crash appends again (Kafka's sink has no idempotent-producer
    mode in Spark either); exactly-once lands downstream on the keyed
    upsert, not in the broker."""
    cols = df.columns
    FakeKafkaBroker(path).create_topic(topic)  # driver-side, once

    def append(batch_df: DataFrame, _epoch: int) -> None:
        proj = ["value"] + (["key"] if "key" in cols else [])
        batch_df.select(*proj).foreachPartition(
            executor_producer(path, topic)
        )

    return (
        df.writeStream.foreachBatch(append)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
