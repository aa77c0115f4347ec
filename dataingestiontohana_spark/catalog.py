"""Catalog: register the driver's parquet tables as temp views.

The reference declares its one schema explicitly (DDL at
``/root/reference/README.md:144-146``); here the schemas live in the
parquet footers — Spark reads them without inference cost, and Catalyst
gets column pruning + predicate pushdown into the scan for free.
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JError
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins. At 100TB
# the fact tables (lineitem/orders/events) grow; these stay tiny.
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def local_rows(
    spark: SparkSession, rows: list, schema: str, slices: int = 1
) -> DataFrame:
    """Small driver-built row list -> DataFrame with ``slices``
    partitions.

    NOT a bare ``spark.createDataFrame(rows, schema)``: that slices
    the pickled rows into defaultParallelism partitions, so every
    materialization runs a defaultParallelism-task Python stage for a
    handful of rows (~1.3 s cold at local[32]) — and a downstream
    ``coalesce(k)`` makes it far worse, because the coalesced task
    then pays one Python-runner round trip per parent partition
    SERIALLY (measured 7.6 s to materialize a 4-row frame).
    ``parallelize(rows, slices)`` feeds the identical row-conversion
    path with one round trip per slice. Driver-small fixtures and
    collected aggregates only — real tables come from parquet."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, max(1, slices)), schema
    )


# Shared frames: (applicationId, name, *key) -> whatever the build
# returned (a lazy DataFrame, a tuple of them, a broadcast). Builds run
# once per key per application; see shared_frame.
_FRAMES: dict[tuple, object] = {}
_LOCKS: dict[tuple, threading.RLock] = {}
_GUARD = threading.Lock()  # held for dict access only, never for a build


def shared_frame(spark: SparkSession, name: str, key: tuple, build):
    """Return the value ``build()`` made for ``(name, key)`` in this
    Spark application, calling ``build`` on the first request only.

    Every frame that several queries share (a lazily
    localCheckpointed edge set, a synthetic media corpus, a parquet
    relation) goes through here, so there is one get-or-build rule,
    one lock rule and one eviction rule:

    - Each ``(application, name, key)`` has its own re-entrant lock,
      held while building. Bundle parts run on a driver thread pool
      (plans/bundles.py::_bundle_fn); callers racing on a cold key
      wait for the one build instead of planning — and at action time
      materializing — their own copy. Independent keys never share a
      lock, so their builds overlap, and a build may request other
      shared frames (``_dhash_frame -> _synthetic_media``): nesting
      runs one way, so it cannot cycle.
    - Keys carry the applicationId. A process has at most one live
      SparkContext, so on any miss every entry of another application
      belongs to a stopped session and is dropped: its frames are
      unusable.
    - ``clear_shared_frames`` empties the registry."""
    app = spark.sparkContext.applicationId
    full = (app, name, *key)
    with _GUARD:
        value = _FRAMES.get(full)
        if value is not None:
            return value
        for stale in [k for k in _FRAMES if k[0] != app]:
            del _FRAMES[stale]
        for stale in [k for k in _LOCKS if k[0] != app]:
            del _LOCKS[stale]
        lock = _LOCKS.setdefault(full, threading.RLock())
    with lock:
        value = _FRAMES.get(full)
        if value is None:
            value = build()
            with _GUARD:
                _FRAMES[full] = value
        return value


def clear_shared_frames(name: str | None = None) -> None:
    """Drop every shared frame (or only those registered under
    ``name``), so the next request builds afresh. A dropped broadcast
    is unpersisted: its executor copies go, while lazy frames that
    still reference it re-fetch the value from the driver."""
    with _GUARD:
        dropped = [
            _FRAMES.pop(k) for k in list(_FRAMES) if name in (None, k[1])
        ]
    for value in dropped:
        if isinstance(value, Broadcast):
            try:
                value.unpersist(blocking=False)
            except Py4JError:  # its application is already stopped
                pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table, normalizing nanosecond timestamps.

    The driver's `events` table stores TIMESTAMP(NANOS) which Spark 4
    rejects outright; we read nanos as epoch-long and rebuild a
    microsecond TimestampType column (integer `div`, not float division
    — ns epoch values exceed 2^53). Sub-microsecond precision is
    dropped, which is below the granularity any declared query observes.

    The lazily-planned DataFrame is a shared frame per (sf_dir, name).
    Opening a parquet relation costs ~110 ms of driver work (file
    listing + footer schema + relation construction) per call, and the
    declared surface opens the same ten tables ~350 times per bench
    pass. Reusing the IMMUTABLE DataFrame object repeats none of that
    and changes nothing downstream: the plan is lazy and every action
    still scans the parquet.
    """

    def build() -> DataFrame:
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # pragma: no cover — conf absent on future Spark
            pass
        df = spark.read.parquet(table_path(sf_dir, name))
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df

    return shared_frame(
        spark, "table", (os.path.abspath(sf_dir), name), build
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load parquet tables and register each as a temp view.

    Returns {name: DataFrame}. Views let the SQL surface and the
    DataFrame surface share one catalog (same Catalyst plans).
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
