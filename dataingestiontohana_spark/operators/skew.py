"""Explicit shuffle/skew control: salted joins and bucketed layouts.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
default in `session.py`) handles most skew at runtime; these operators
are for the cases you control statically:

- `salted_join`: a hot key (the classic power-law join killer) is
  sharded across `n_salts` reducers by replicating the small side per
  salt. Shuffle width grows n_salts-fold on the small side only.
- `write_bucketed` / bucketed tables: pre-shuffle both join sides into
  the same bucket layout once at write time; every later equi-join on
  the bucket key runs with NO exchange (verified by plan inspection in
  the tests). At 100 TB this converts the dominant per-query shuffle
  into a one-time layout cost.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join sharding hot keys across n_salts partitions.

    The big side gets a deterministic per-row salt (hash of the whole
    row, so rows of one hot key spread evenly); the small side is
    replicated once per salt value. Result equals `big.join(small,
    key, how)` for inner/left joins.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    big_s = big.withColumn("_salt", salt.cast("int"))
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_s.join(small_s, [key, "_salt"], how).drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    buckets: int = 16,
    manifest: dict | None = None,
) -> None:
    """Persist hash-bucketed + sorted by the join key. Joins between
    tables bucketed identically on the key skip the exchange (and with
    sortBy, the sort) entirely.

    With the default in-memory catalog a previous process's table
    survives only as a warehouse directory (not a catalog entry), and
    saveAsTable then fails with LOCATION_ALREADY_EXISTS — so clear
    both. With a persistent metastore the DROP TABLE alone suffices.

    Deletion safety: a table the catalog knows is dropped through the
    catalog (DROP TABLE purges a managed table's directory itself).
    The filesystem fallback only fires for the stale-directory case —
    table NOT in the catalog — and only for an unqualified name in the
    default database whose directory actually looks like a Spark table
    dir (part-*/_SUCCESS/_committed artifacts, nothing else), so an
    unrelated directory sharing the name is never removed.
    """
    import os
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    known = spark.catalog.tableExists(table_name)
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    if not known and "." not in table_name:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        stale = os.path.join(wh, table_name.lower())
        if os.path.isdir(stale) and _is_spark_table_dir(stale):
            shutil.rmtree(stale, ignore_errors=True)
    (
        df.write.bucketBy(buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )
    if manifest is not None:
        import json

        loc = table_location(spark, table_name)
        with open(os.path.join(loc, _MANIFEST_NAME), "w") as f:
            json.dump(manifest, f)


_MANIFEST_NAME = "_graft_manifest.json"


def table_location(spark, table_name: str) -> str:
    """Local filesystem path of a catalog table's data directory."""
    from urllib.parse import urlparse

    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect():
        if r.col_name == "Location":
            return urlparse(r.data_type).path
    raise ValueError(f"no location for table {table_name}")


def read_manifest(spark, table_name: str) -> dict | None:
    """The manifest written alongside a bucketed layout, or None.
    Underscore-prefixed files are invisible to parquet readers, so the
    manifest rides inside the table directory itself and disappears
    with the table."""
    import json
    import os

    try:
        path = os.path.join(table_location(spark, table_name), _MANIFEST_NAME)
        with open(path) as f:
            return json.load(f)
    except (ValueError, OSError, json.JSONDecodeError):
        return None


def _is_spark_table_dir(path: str) -> bool:
    """Every entry is a Spark write artifact (part files, _SUCCESS,
    committer metadata, checksums) — the shape saveAsTable leaves
    behind. Anything else means the directory isn't ours to delete."""
    import os

    entries = os.listdir(path)
    return all(
        e.startswith(
            ("part-", "_SUCCESS", "_committed", "_started", _MANIFEST_NAME, ".")
        )
        for e in entries
    )


def warehouse_table_dir(spark, table_name: str) -> str:
    """The directory saveAsTable would use for an unqualified managed
    table — where a previous process's layout survives when the
    in-memory catalog forgot it."""
    import os
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return os.path.join(wh, table_name.lower())


def read_manifest_dir(path: str) -> dict | None:
    """Path-based manifest read for directories the catalog does not
    (yet) know about."""
    import json
    import os

    try:
        with open(os.path.join(path, _MANIFEST_NAME)) as f:
            return json.load(f)
    except (ValueError, OSError, json.JSONDecodeError):
        return None


def register_bucketed_dir(
    spark,
    table_name: str,
    schema,
    key: str,
    path: str,
    buckets: int = 16,
) -> None:
    """Adopt an existing bucketed layout directory as an EXTERNAL
    table — the cross-process reuse path. The files were produced by
    this engine's own write_bucketed (same Spark bucket hashing and
    file naming), so re-declaring the identical CLUSTERED BY spec is
    sound and the adopted table joins exchange-free exactly like the
    original; only the catalog entry is recreated, zero data moves.
    At 100 TB this is the difference between re-shuffling the fact
    table per process and a metadata-only CREATE TABLE."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table_name):
        raise ValueError(f"invalid table identifier: {table_name!r}")
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    # LOCATION is a SQL string literal: escape embedded quotes so a
    # path containing ' cannot break (or inject into) the statement.
    # NOTE: the manifest read above assumes a driver-visible filesystem
    # path (local fs or a mounted store); on object stores pass a path
    # the driver can open.
    loc = path.replace("'", "''")
    spark.sql(
        f"""
        CREATE TABLE `{table_name}` ({cols})
        USING parquet
        CLUSTERED BY (`{key}`) SORTED BY (`{key}`) INTO {buckets} BUCKETS
        LOCATION '{loc}'
        """
    )


def key_skew_audit(df: DataFrame, key: str, label: str) -> DataFrame:
    """One-row skew audit of a prospective join/shuffle key: distinct
    keys, total rows, top-1/top-10 key row counts, and the Gini
    coefficient of the key frequency distribution — the pre-flight
    check that says whether an equi-join on ``key`` needs
    `salted_join`/AQE skew splitting before it ships.

    Exactness: frequencies and rank sums are exact integers (the rank
    product accumulates in DECIMAL(38,0) — at 1e9 keys x 1e12 rows the
    Gini numerator exceeds int64); gini is ONE division of those exact
    integers (both < 2^53 at test scale) rounded for display. Rank
    ties break on the key value, so the statistic is deterministic.

    Scale shape: ONE map-side-combined groupBy on the audited key —
    the same shuffle the audited join would pay, paid once — then two
    row_number passes over the REDUCED |keys| frequency frame (an
    unpartitioned window below an Aggregate: the sanctioned shape) and
    a 1-row global aggregate.
    """
    from pyspark.sql import Window

    freq = df.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("x"))
    rn = F.row_number().over(Window.orderBy(F.col("x").asc(), F.col(key).asc()))
    rd = F.row_number().over(Window.orderBy(F.col("x").desc(), F.col(key).asc()))
    r = freq.select("x", rn.alias("rn"), rd.alias("rd"))
    a = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("x").cast("long").alias("total_rows"),
        F.max("x").cast("long").alias("top1_rows"),
        F.sum(F.when(F.col("rd") <= 10, F.col("x")).otherwise(F.lit(0)))
        .cast("long").alias("top10_rows"),
        F.sum((F.col("rn") * F.col("x")).cast("decimal(38,0)")).alias("s1"),
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("s1")
        - ((F.col("n_keys") + F.lit(1)) * F.col("total_rows")).cast(
            "decimal(38,0)"
        )
    )
    den = (F.col("n_keys") * F.col("total_rows")).cast("decimal(38,0)")
    return a.select(
        F.lit(label).alias("key_name"),
        "n_keys", "total_rows", "top1_rows", "top10_rows",
        F.round(num.cast("double") / den.cast("double"), 6).alias("gini"),
    )
