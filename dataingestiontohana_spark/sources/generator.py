"""Sensor-data generator: the Spark-native Data Generator (reference
operator R1, `/root/reference/README.md:4,88` — "produces sensor data as
a CSV string message", prepending a monotonically increasing COUNTER).

Batch form: `spark.range` + deterministic column synthesis (every field
is a pure function of `counter`, so any two runs — and any partitioning
— produce identical rows). Streaming form: the same rows written as
CSV text files, which the file source replays like a Kafka topic.

Schema mirrors the reference DDL (`README.md:144-146`):
counter, deviceid INT; temperature/humidity/co2/co/lpg/smoke/light/sound
DOUBLE; presence INT. Value ranges follow the screenshots
(`images/HanaOutputAtMostOnceFirst.png`: temperature ~25, humidity ~55).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SENSOR_FIELDS: list[tuple[str, str]] = [
    ("counter", "int"),
    ("deviceid", "int"),
    ("temperature", "double"),
    ("humidity", "double"),
    ("co2", "double"),
    ("co", "double"),
    ("lpg", "double"),
    ("smoke", "double"),
    ("presence", "int"),
    ("light", "double"),
    ("sound", "double"),
]

SENSOR_SCHEMA = T.StructType(
    [
        T.StructField(name, T.IntegerType() if t == "int" else T.DoubleType(), True)
        for name, t in SENSOR_FIELDS
    ]
)

SENSOR_DDL = ", ".join(f"{n} {t}" for n, t in SENSOR_FIELDS)


def _hash60(counter, salt: int):
    """Deterministic 60-bit integer from md5("{salt}|{counter}") — the
    portable hash idiom (see operators/dedup.py): both Spark and DuckDB
    produce byte-identical md5 hex, and the leading 15 hex chars parse
    into an exact 64-bit-safe integer on both engines, which is what
    lets the generator's every value be recomputed in the q39 oracle.
    (xxhash64 was the original source; it kept the generator rows-only
    because DuckDB cannot evaluate it.)"""
    hx = F.md5(F.concat_ws("|", F.lit(str(salt)), counter.cast("string")))
    return F.conv(F.substring(hx, 1, 15), 16, 10).cast("bigint")


def _unit(counter, salt: int):
    """Deterministic uniform-ish [0,1) derived from (counter, salt) —
    reproducible on any partitioning, JVM-side, and in ANSI SQL.

    Granularity is deliberately 1e-4: every sensor field multiplies a
    unit by 1/2/5/9/10/60/600/1000 and none of those products gains
    decimals, so each emitted value is an EXACT 4-decimal rational and
    ROUND(., 4) has no midpoint to disagree on between Spark's
    BigDecimal HALF_UP and DuckDB's scaled-binary rounding (with 1e-6
    units the two engines split real midpoint cases: 1.1955 vs
    1.1954)."""
    return (F.pmod(_hash60(counter, salt), F.lit(10_000)).cast("double")) / 10_000.0


def _sensor_columns(counter) -> list:
    c = counter.cast("int")
    return [
        c.alias("counter"),
        (F.pmod(_hash60(counter, 0), F.lit(5)) + 2)
        .cast("int")
        .alias("deviceid"),
        F.round(25.0 + _unit(counter, 1) * 1.0, 4).alias("temperature"),
        F.round(47.0 + _unit(counter, 2) * 9.0, 4).alias("humidity"),
        F.round(400.0 + _unit(counter, 3) * 600.0, 4).alias("co2"),
        F.round(_unit(counter, 4) * 10.0, 4).alias("co"),
        F.round(_unit(counter, 5) * 5.0, 4).alias("lpg"),
        F.round(_unit(counter, 6) * 2.0, 4).alias("smoke"),
        (F.pmod(_hash60(counter, 7), F.lit(2))).cast("int").alias("presence"),
        F.round(_unit(counter, 8) * 1000.0, 4).alias("light"),
        F.round(30.0 + _unit(counter, 9) * 60.0, 4).alias("sound"),
    ]


def sensor_rows(spark: SparkSession, n: int, start: int = 0) -> DataFrame:
    """Batch: n deterministic sensor rows with counter in [start, start+n)."""
    return spark.range(start, start + n).select(*_sensor_columns(F.col("id")))


def csv_line(df: DataFrame) -> DataFrame:
    """Encode sensor rows as the reference's CSV message body (column
    order of the DDL, `README.md:145`)."""
    return df.select(
        F.col("counter"),
        F.concat_ws(",", *[F.col(n).cast("string") for n, _ in SENSOR_FIELDS]).alias(
            "value"
        ),
    )


def sensor_csv_lines(spark: SparkSession, n: int, start: int = 0) -> DataFrame:
    """(counter, value: csv-string) message bodies."""
    return csv_line(sensor_rows(spark, n, start))


def write_sensor_csv_files(
    spark: SparkSession, out_dir: str, n: int, files: int = 10
) -> None:
    """Materialize n sensor rows as `files` CSV text files — a durable,
    replayable stream source for the delivery-semantics harness (the
    file source + checkpoint replays exactly like a Kafka topic with
    committed offsets). File k holds the k-th contiguous counter range
    so micro-batch order follows counter order.
    """
    per = (n + files - 1) // files
    os.makedirs(out_dir, exist_ok=True)
    for k in range(files):
        start, stop = k * per, min((k + 1) * per, n)
        if start >= stop:
            break
        lines = (
            sensor_csv_lines(spark, stop - start, start)
            .orderBy("counter")
            .select("value")
            .collect()
        )
        # atomic create: the file source lists complete files only
        tmp = os.path.join(out_dir, f".part-{k:04d}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(r["value"] for r in lines) + "\n")
        os.rename(tmp, os.path.join(out_dir, f"part-{k:04d}.txt"))
