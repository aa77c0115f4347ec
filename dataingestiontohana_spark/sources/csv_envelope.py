"""CSV message-body parsing: the projection the reference performs
implicitly at the HANA boundary (CSV string -> 11 typed columns,
`/root/reference/README.md:4` + DDL at `README.md:145`).

`from_csv` is a built-in JVM expression — the parse happens inside
whole-stage codegen, one pass, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataingestiontohana_spark.sources.generator import SENSOR_DDL


def parse_sensor_csv(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse a CSV message-body column into typed sensor rows.

    Accepts string or binary (Kafka `value`) columns; malformed rows
    yield nulls in the struct (PERMISSIVE), mirroring the reference's
    pass-through-then-fail-at-DB behavior without killing the stream.
    """
    body: Column = F.col(value_col).cast("string")
    parsed = F.from_csv(body, F.lit(SENSOR_DDL))
    return df.withColumn("_row", parsed).select("_row.*")
