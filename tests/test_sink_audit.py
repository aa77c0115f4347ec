"""streaming/audit.py::audit_sink on an in-memory SQLite sink table."""

from __future__ import annotations

import sqlite3

import pytest

from dataingestiontohana_spark.streaming.audit import audit_sink


@pytest.mark.parametrize(
    "counters, want, exactly_once, loss, dups",
    [
        ([], (0, 0, 0), True, False, False),
        ([3, 4, 5], (3, 3, 3), True, False, False),
        ([3, 5], (2, 2, 3), False, True, False),
        ([3, 4, 4], (3, 2, 2), False, False, True),
    ],
    ids=["empty", "exact", "gap", "duplicate"],
)
def test_audit_sink(counters, want, exactly_once, loss, dups):
    con = sqlite3.connect(":memory:")
    con.execute('CREATE TABLE "sensor_sink" ("counter" INTEGER)')
    con.executemany(
        'INSERT INTO "sensor_sink" VALUES (?)', [(c,) for c in counters]
    )
    a = audit_sink(con, "sensor_sink")
    assert (a.n_rows, a.uniq, a.span) == want
    assert a.exactly_once is exactly_once
    assert a.has_loss is loss
    assert a.has_duplicates is dups
