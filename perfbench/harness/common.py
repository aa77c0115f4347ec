"""Run context, span tracer and the small statistics the workloads share."""

from __future__ import annotations

import contextlib
import json
import math
import os
import time
from dataclasses import dataclass, field

# The end-to-end metrics every workload reports, with their units. Each
# workload maps its own notion of "work" and "operation" onto them (see
# the workload modules' docstrings): ``latency_ms`` is the median over
# live files on ``ingest`` and the geometric mean over the unalike entries
# of ``query_suite``. Peak memory is a per-layer metric: the JVM's heap
# grows to ~1 GB or ~1.9 GB from one run to the next, as its collector's
# timing falls, which no regression bound can hold.
END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
    "latency_ms": "ms",
}

# Per-layer metrics, reported by every workload in a traced run; a layer
# a workload does not exercise reads 0.
PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "pyudf.rows": "count",
    "pyudf.bytes": "bytes",
    "pyudf.run_s": "s",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.start_s": "s",
    "sink.write_s": "s",
    "sink.db_s": "s",
    "sink.fetch_s": "s",
    "sink.rows_written": "count",
    "sink.rows_replayed": "count",
    "kafka.produce_s": "s",
    "kafka.consume_s": "s",
    "kafka.records": "count",
    "kafka.batch_ms": "ms",
    "recovery.restarts": "count",
    "recovery.restart_to_first_batch_s": "s",
    "loadgen.late_ms_max": "ms",
    "loadgen.backlog_files_max": "count",
    "trace.spans": "count",
    "trace.work_s": "s",
}


# how long a workload waits for the parent to take a measure mark
MEASURE_ACK_S = 10.0


def geomean(values: list[float]) -> float:
    """Geometric mean of a non-empty list of positive numbers."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled (untraced runs), ``span`` yields without recording and
    ``add`` is a no-op, so end-to-end timings carry no tracing cost.
    Spans are written out once, by ``dump``, when the run ends."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.time(), 0.0, parent)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None) -> int | None:
        """Record a span whose times were measured elsewhere (e.g. a
        micro-batch rebuilt from its progress event)."""
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent))
        return sid

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = 0.0
            cursor = sp.start
            for ch in sorted(children.get(sp.id, []), key=lambda c: c.start):
                lo, hi = max(ch.start, cursor), min(ch.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered
        return out

    def dump(self, path: str) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": [
                {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "run_id": self.run_id}
                for s in self.spans
            ],
            "self_time_s": self.self_times(),
        }
        with open(path, "w") as fh:
            json.dump(doc, fh)


@dataclass
class Context:
    """What a workload receives from the worker entry point."""

    seed: int
    seconds: int
    trace: bool
    work: str  # scratch directory of this run, removed afterwards
    spawn_t: float  # wall time the parent spawned this process
    tracer: Tracer
    options: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        """A file path under the run's scratch directory; its parent
        directories exist."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under the run's scratch directory, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def measure(self, phase: str) -> None:
        """Mark the ``"start"`` or ``"end"`` of the measured phase for
        the parent's memory sampler, and wait until it has taken the
        mark: the parent resets the JVM's peak at the start and takes
        its last sample at the end, while this process waits."""
        mark = os.path.join(self.work, f"measure.{phase}")
        with open(mark, "w"):
            pass
        deadline = time.time() + MEASURE_ACK_S
        while not os.path.exists(mark + ".ack"):
            if time.time() > deadline:
                raise RuntimeError(f"memory sampler did not take the {phase} mark")
            time.sleep(0.005)


@dataclass
class Outcome:
    """A workload's result. ``failures`` lists every failed operation;
    a run with any failure reports no timings."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    end_to_end: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    report: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failures.append(what)
