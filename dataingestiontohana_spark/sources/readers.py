"""Batch source connectors (SURVEY §2.2 scans/sources row).

Parquet is the first-class path (columnar, predicate pushdown, column
pruning). CSV/JSON take explicit schemas — schema inference is a full
extra pass over the data and is disabled here by contract. Databases
come in through a DBAPI bridge for embedded/driverless databases,
which pulls through Arrow on the driver and is explicitly a
small-table path (dimension loads, test stand-ins — never the 100 TB
fact table); a distributed scan is Spark's own
`spark.read.format("jdbc")` with a driver jar.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """merge_schema unions the footers of every file — the
    schema-evolution read (a column added mid-stream appears as null in
    the old files). Off by default: the footer union is a full file
    listing + footer read per file, which at 100 TB is a real cost to
    pay only when the layout actually evolved."""
    return (
        spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(path)
    )


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | str, header: bool = True
) -> DataFrame:
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning class as parquet
    (both ship in Spark core; Avro needs the external spark-avro
    package and is deliberately absent here)."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """XML scan via the built-in ``xml`` data source (in Spark core
    since 4.0 — no external spark-xml package needed). ``row_tag``
    names the repeated element that becomes one row. As with CSV/JSON,
    pass an explicit schema to skip the inference pass; XML files split
    per-file (not intra-file), so at scale many medium files beat one
    giant document."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_text(
    spark: SparkSession, path: str, whole_file: bool = False
) -> DataFrame:
    """Raw text scan: one string column ``value`` per line — the
    ingestion format of unprocessed document dumps. whole_file=True
    yields one row per FILE instead (document-per-file corpora);
    that mode cannot split a file across tasks, so it relies on
    many-files parallelism just like binaryFile. NOTE: passed as the
    ``text()`` keyword, not ``.option("wholetext", ...)`` — the option
    spelling is silently ignored by this Spark build (verified)."""
    return spark.read.text(path, wholetext=whole_file)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file scan (``binaryFile`` source): (path, modificationTime,
    length, content binary) — the ingestion edge of the multimodal
    pipeline (operators/multimodal.py consumes the ``content`` column).
    One row per file, parallelism = file count; small-file explosion is
    the scale hazard, so production corpora should be compacted into
    parquet with the same (path, content) shape after first read.
    ``glob`` filters by pathGlobFilter (e.g. "*.png") at listing time —
    files that don't match are never opened."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_dbapi(
    spark: SparkSession,
    connection_factory: Callable[[], object],
    query: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Driver-side DBAPI -> Arrow -> DataFrame bridge for databases
    without a JDBC jar (DuckDB/SQLite test stand-ins, small dims).

    The result set materializes on the driver — callers own keeping it
    small; Spark's own ``jdbc`` format is the distributed-scan
    alternative.
    """
    import pandas as pd

    con = connection_factory()
    try:
        cur = con.execute(query)
        fetch_arrow = getattr(cur, "fetch_arrow_table", None)
        if fetch_arrow is not None:  # duckdb fast path
            pdf = fetch_arrow().to_pandas()
        else:
            cols = [d[0] for d in cur.description]
            pdf = pd.DataFrame(cur.fetchall(), columns=cols)
    finally:
        con.close()
    if schema is not None:
        return spark.createDataFrame(pdf, schema=schema)
    return spark.createDataFrame(pdf)
