"""Data-expectation suites: declarative quality rules compiled into
ONE aggregate pass per table.

The dbt-tests / Great-Expectations primitive, engine-side: a rule is
data (`Expectation(rule_id, table, column, kind, params)`), and the
compiler groups rules by table so N rules on a table cost one scan
with N conditional aggregates — at 100 TB the difference between "the
quality suite is one pass over each table" and "every rule re-reads
the lake" IS the feature. The `fk` kind is the exception (it needs the
other table): it compiles to a broadcast anti-join count per rule.

Supported kinds (n_failed semantics):
- ``not_null``         rows where the column IS NULL
- ``unique``           duplicate surplus: n_rows - n_distinct(column);
                       pass a composite as "colA|colB"
- ``accepted_values``  rows outside params["values"]
- ``between``          rows outside [params["lo"], params["hi"]]
                       (NULL counts as a failure: an unknown value is
                       not known to be in range)

Every count is exact int64, so a suite is oracle-checkable verbatim
(q167). The reference's analogue is its ingest-acceptance gate — the
wiretap inspection before data reaches HANA (README.md:56-65) — made
mechanical.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    rule_id: str
    table: str
    column: str
    kind: str  # not_null | unique | accepted_values | between | fk
    params: dict[str, Any] = field(default_factory=dict)


def _fail_condition(rule: Expectation) -> F.Column:
    col = F.col(rule.column)
    if rule.kind == "not_null":
        return col.isNull()
    if rule.kind == "accepted_values":
        return ~col.isin(*rule.params["values"]) | col.isNull()
    if rule.kind == "between":
        lo, hi = rule.params["lo"], rule.params["hi"]
        return ~col.between(lo, hi) | col.isNull()
    raise ValueError(f"unsupported row-wise kind {rule.kind!r}")


def _composite(column: str) -> F.Column:
    parts = column.split("|")
    if len(parts) == 1:
        return F.col(column)
    return F.concat_ws("\x1f", *[F.col(p).cast("string") for p in parts])


def run_expectations(
    loader,
    rules: list[Expectation],
) -> DataFrame:
    """Evaluate `rules`; returns one row per rule:
    (rule_id, table_name, column_name, kind, n_checked, n_failed,
    passed). `loader(table_name) -> DataFrame` supplies the tables.

    Row-wise kinds on the same table share ONE aggregate; `unique`
    joins that same pass (count distinct is just another aggregate
    cell); `fk` rules each run a broadcast anti-join count.
    """
    by_table: dict[str, list[Expectation]] = {}
    for r in rules:
        by_table.setdefault(r.table, []).append(r)

    out: DataFrame | None = None
    for table, table_rules in by_table.items():
        df = loader(table)
        aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
        fk_rules = []
        for r in table_rules:
            if r.kind == "fk":
                fk_rules.append(r)
            elif r.kind == "unique":
                aggs.append(
                    F.count_distinct(_composite(r.column))
                    .cast("long")
                    .alias(f"__d_{r.rule_id}")
                )
            else:
                aggs.append(
                    F.sum(_fail_condition(r).cast("long"))
                    .cast("long")
                    .alias(f"__f_{r.rule_id}")
                )
        agg = df.agg(*aggs)
        for r in table_rules:
            if r.kind == "fk":
                continue
            failed = (
                (F.col("__n") - F.col(f"__d_{r.rule_id}"))
                if r.kind == "unique"
                else F.col(f"__f_{r.rule_id}")
            )
            row = agg.select(
                F.lit(r.rule_id).alias("rule_id"),
                F.lit(r.table).alias("table_name"),
                F.lit(r.column).alias("column_name"),
                F.lit(r.kind).alias("kind"),
                F.col("__n").alias("n_checked"),
                failed.cast("long").alias("n_failed"),
                (failed == 0).cast("long").alias("passed"),
            )
            out = row if out is None else out.unionByName(row)
        for r in fk_rules:
            ref_table, ref_col = r.params["ref_table"], r.params["ref_column"]
            ref = loader(ref_table).select(
                F.col(ref_col).alias(r.column)
            ).distinct()
            fails = df.join(F.broadcast(ref), r.column, "left_anti")
            row = (
                df.agg(F.count(F.lit(1)).cast("long").alias("n_checked"))
                .crossJoin(
                    fails.agg(
                        F.count(F.lit(1)).cast("long").alias("n_failed")
                    )
                )
                .select(
                    F.lit(r.rule_id).alias("rule_id"),
                    F.lit(r.table).alias("table_name"),
                    F.lit(r.column).alias("column_name"),
                    F.lit(r.kind).alias("kind"),
                    "n_checked",
                    "n_failed",
                    (F.col("n_failed") == 0).cast("long").alias("passed"),
                )
            )
            out = row if out is None else out.unionByName(row)
    assert out is not None, "no rules given"
    return out
