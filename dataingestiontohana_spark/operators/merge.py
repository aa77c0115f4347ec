"""Lake-side MERGE emulation without a transactional table format.

The relational sink (`upsert_sink.py`) covers MERGE into a database;
these operators cover the lake: Delta/Iceberg jars are absent (v1
image), so MERGE INTO over parquet is emulated with the classic
anti-join + union rewrite, and SCD2 (slowly-changing dimension,
Kimball type 2) with a close-and-append pass. Both are pure
DataFrame->DataFrame transforms: the caller owns the atomic swap
(write to a new path, flip a pointer), which is what a table format
would otherwise provide.

Scale: one shuffle each on the merge key; updates are usually tiny vs
the dimension -> broadcast them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE: rows of `updates` win on key collision, unmatched target
    rows survive — the WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT
    pair. Column sets must match."""
    survivors = target.join(F.broadcast(updates.select(key)), key, "left_anti")
    return survivors.unionByName(updates)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    effective_ts,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """SCD type 2: close changed current rows, append new versions.

    `dim` carries (business cols..., valid_from, valid_to, is_current);
    `updates` carries the business columns only. Rows of `dim` whose key
    appears in `updates` get valid_to = effective_ts and is_current =
    false; each update row is appended with valid_from = effective_ts,
    open-ended. History rows pass through untouched.
    """
    ts = F.lit(effective_ts).cast("timestamp")
    upd_keys = F.broadcast(updates.select(key))
    closing = (
        dim.join(upd_keys, key, "left_semi")
        .where(F.col(is_current))
        .withColumn(valid_to, ts)
        .withColumn(is_current, F.lit(False))
    )
    untouched = dim.join(upd_keys, key, "left_anti").unionByName(
        dim.join(upd_keys, key, "left_semi").where(~F.col(is_current))
    )
    fresh = (
        updates.withColumn(valid_from, ts)
        .withColumn(valid_to, F.lit(None).cast("timestamp"))
        .withColumn(is_current, F.lit(True))
    )
    return untouched.unionByName(closing).unionByName(fresh)
