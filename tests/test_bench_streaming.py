"""The streaming-ingestion bench harness: runs end-to-end at tiny
scale, audits exactly-once delivery, and reports sane rates — so the
committed BASELINE.md numbers stay re-runnable."""

from __future__ import annotations

import sqlite3

import pytest

from bench_streaming import _audit, run_streaming_bench


def test_streaming_bench_runs_and_audits(spark):
    r = run_streaming_bench(spark, n_rows=2_000, n_files=4)
    assert r["mode"] == "exactly_once"
    assert r["rows"] == 2_000 and r["micro_batches"] == 4
    for leg in ("cold", "warm"):
        audit = r[leg]["audit"]
        assert audit["rows"] == audit["uniq"] == audit["span"] == 2_000
        assert r[leg]["rows_per_sec"] > 0
    g = r["graph_pipeline"]
    for leg in ("cold", "warm"):
        audit = g[leg]["audit"]
        assert audit["rows"] == audit["uniq"] == audit["span"] == g["rows"]
        assert g[leg]["rows_per_sec"] > 0
    # r12: no flat duplicate of the warm cell — the duplication pushed
    # the one-line artifact past the driver's 2000-char stdout window
    assert "rows_per_sec" not in g
    # r9: warm legs are MEDIAN-of-N cells with the spread recorded
    for warm in (r["warm"], g["warm"]):
        assert warm["runs"] >= 2
        assert (
            warm["min_rows_per_sec"]
            <= warm["rows_per_sec"]
            <= warm["max_rows_per_sec"]
        )


@pytest.mark.parametrize(
    "counters", [[], [0, 1], [0, 2, 3], [0, 1, 1, 2]],
    ids=["empty", "short", "gap", "duplicate"],
)
def test_bench_audit_raises_on_mismatch(tmp_path, counters):
    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute('CREATE TABLE "sensor_sink" ("counter" INTEGER)')
    con.executemany(
        'INSERT INTO "sensor_sink" VALUES (?)', [(c,) for c in counters]
    )
    con.commit()
    con.close()
    with pytest.raises(RuntimeError, match="audit failed"):
        _audit(db, 3, "exactly-once")
