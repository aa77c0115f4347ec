"""Sink audit: the reference's offset-continuity oracle (SURVEY §5.1,
`/root/reference/README.md:84-99,121-126,158-164`) as a query —
exactly-once <=> rows = distinct keys = key span; gaps mean loss,
rows > distinct means duplicates.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class SinkAudit:
    n_rows: int
    uniq: int
    span: int

    @property
    def has_loss(self) -> bool:
        return self.uniq < self.span

    @property
    def has_duplicates(self) -> bool:
        return self.n_rows > self.uniq

    @property
    def exactly_once(self) -> bool:
        return self.n_rows == self.uniq == self.span


def audit_sink(connection, table: str, key: str = "counter") -> SinkAudit:
    """Run the Q24 audit on a DBAPI connection's sink table; an empty
    table spans 0 keys."""
    q = (
        f'SELECT COUNT(*), COUNT(DISTINCT "{key}"), '
        f'COALESCE(MAX("{key}") - MIN("{key}") + 1, 0) FROM "{table}"'
    )
    row = connection.execute(q).fetchone()
    return SinkAudit(n_rows=row[0], uniq=row[1], span=row[2])


from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402


class ProgressRecorder(StreamingQueryListener):
    """StreamingQueryListener capturing per-micro-batch progress — the
    engine-side counterpart of the reference's Wiretap traces
    (`README.md:64` wiretap screenshots): batch id, input rows,
    processed rates, and per-operator state metrics, recorded as plain
    dicts for the monitoring sink of the operator's choice.

    A real ``StreamingQueryListener`` subclass — pyspark's
    ``addListener`` dereferences the ``_jlistener`` JVM bridge the ABC
    provides as a lazy property, so duck-typing is NOT sufficient
    (a plain object raises AttributeError at addListener). Listener
    callbacks run on the driver off the query thread (and are ASYNC:
    drain before asserting on them); the captured dicts are tiny (one
    per micro-batch), so this adds no executor-side work at any
    scale. Use::

        rec = ProgressRecorder()
        spark.streams.addListener(rec)
        ... run query ...
        spark.streams.removeListener(rec)
        rec.progress  # [{'batchId': 0, 'numInputRows': 20, ...}, ...]
    """

    def __init__(self) -> None:
        super().__init__()
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {
                "id": str(p.id),
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs or {}),
                "sink_description": p.sink.description if p.sink else None,
                # per-operator state-store size: the boundedness signal
                # for stateful queries (sessionization, dedup, joins) —
                # numRowsTotal NOT growing with input is the eviction
                # proof a capacity plan needs
                "stateOperators": [
                    {
                        "numRowsTotal": s.numRowsTotal,
                        "numRowsUpdated": s.numRowsUpdated,
                        "numRowsRemoved": s.numRowsRemoved,
                    }
                    for s in (p.stateOperators or [])
                ],
            }
        )

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))

    def onQueryIdle(self, event) -> None:  # Spark 3.4+ callback
        pass
