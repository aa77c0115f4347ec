"""Seeded sensor inputs and the exactly-once audit shared by the two
ingest workloads. Inputs come from the package's own generator
(``sources.generator``) before the measured phase, so the program
receives only the generated files; the seed picks the counter range."""

from __future__ import annotations

import os
import random
import sqlite3

SINK_TABLE = "sensor_sink"


def counter_base(seed: int, total: int) -> int:
    """Seed-chosen first counter; the whole run stays inside INT."""
    return random.Random(seed).randrange(0, 2**31 - 1 - total)


def csv_lines(spark, base: int, n: int) -> list[str]:
    """Sensor CSV message bodies for counters [base, base+n), in order."""
    from dataingestiontohana_spark.sources.generator import sensor_csv_lines

    # sorted here, not by Spark: a range's partitions arrive in order
    # already, and a sort job costs seconds in a cold session
    rows = sorted(sensor_csv_lines(spark, n, base).collect())
    return [r[1] for r in rows]


def checksum(spark, base: int, n: int) -> tuple[int, int]:
    """``(SUM(ROUND(temperature * 1e4)), SUM(deviceid))`` over the
    generator's rows for counters [base, base+n): what the landed rows
    must reproduce."""
    from pyspark.sql import functions as F

    from dataingestiontohana_spark.sources.generator import sensor_rows

    temp, dev = sensor_rows(spark, n, base).agg(
        F.sum(F.round(F.col("temperature") * 10_000)).cast("bigint"),
        F.sum("deviceid"),
    ).first()
    return temp, dev


def write_file(path: str, lines: list[str]) -> None:
    """Create ``path`` atomically: the file source lists whole files only."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, path)


def sqlite_factory(db_path: str):
    """A zero-argument connection factory for ``UpsertSink``."""
    return lambda: sqlite3.connect(db_path)


def audit(db_path: str, base: int, n: int, checksum: tuple[int, int]) -> dict:
    """Exactly-once audit of the sink against counters [base, base+n):
    rows = distinct keys = key span = n starting at ``base``, and the
    value checksum of the generated rows."""
    con = sqlite3.connect(db_path)
    try:
        rows, uniq, lo, hi, temp_sum, dev_sum = con.execute(
            f'SELECT COUNT(*), COUNT(DISTINCT "counter"), MIN("counter"), '
            f'MAX("counter"), CAST(SUM(ROUND("temperature" * 10000)) AS INTEGER), '
            f'SUM("deviceid") FROM "{SINK_TABLE}"'
        ).fetchone()
    finally:
        con.close()
    span = (hi - lo + 1) if rows else 0
    return {
        "rows": rows, "uniq": uniq, "span": span, "lo": lo,
        "exactly_once": rows == uniq == span == n and lo == base,
        "checksum_ok": (temp_sum, dev_sum) == tuple(checksum),
    }


def duplicate_one_row(db_path: str) -> None:
    """Copy one landed row under a new key: the deliberate corruption
    the benchmark self-test uses to prove the audit catches it."""
    con = sqlite3.connect(db_path)
    try:
        cols = [r[1] for r in con.execute(f'PRAGMA table_info("{SINK_TABLE}")')]
        rest = ", ".join(f'"{c}"' for c in cols if c != "counter")
        con.execute(
            f'INSERT INTO "{SINK_TABLE}" ("counter", {rest}) '
            f'SELECT "counter" + 1 + (SELECT MAX("counter") - MIN("counter") '
            f'FROM "{SINK_TABLE}"), {rest} FROM "{SINK_TABLE}" LIMIT 1'
        )
        con.commit()
    finally:
        con.close()
