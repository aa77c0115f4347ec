"""operators/expectations.py on planted-dirty frames: every rule kind
must count its failures exactly, and the compiler must fold all
row-wise rules on one table into ONE aggregate pass."""

from __future__ import annotations

import pytest

from dataingestiontohana_spark.operators.expectations import (
    Expectation,
    run_expectations,
)


@pytest.fixture(scope="module")
def dirty(spark):
    rows = [
        (1, "a", 5.0, "US"),
        (2, "b", 50.0, "DE"),
        (2, "c", -1.0, "FR"),     # dup id, below range
        (3, None, 200.0, "XX"),   # null name, above range, bad country
        (4, "e", None, "US"),     # null value -> range failure
    ]
    return spark.createDataFrame(
        rows, "id long, name string, val double, country string"
    )


@pytest.fixture(scope="module")
def countries(spark):
    return spark.createDataFrame(
        [("US",), ("DE",), ("FR",)], "code string"
    )


def _results(spark, dirty, countries):
    tables = {"t": dirty, "dim": countries}
    rules = [
        Expectation("r_unique", "t", "id", "unique"),
        Expectation("r_notnull", "t", "name", "not_null"),
        Expectation("r_range", "t", "val", "between", {"lo": 0.0, "hi": 100.0}),
        Expectation(
            "r_domain", "t", "country", "accepted_values",
            {"values": ["US", "DE", "FR"]},
        ),
        Expectation(
            "r_fk", "t", "country", "fk",
            {"ref_table": "dim", "ref_column": "code"},
        ),
    ]
    out = run_expectations(lambda name: tables[name], rules)
    return {r["rule_id"]: r for r in out.collect()}


def test_every_kind_counts_exactly(spark, dirty, countries):
    res = _results(spark, dirty, countries)
    assert res["r_unique"]["n_failed"] == 1      # one surplus copy of id 2
    assert res["r_notnull"]["n_failed"] == 1     # row 3's NULL name
    assert res["r_range"]["n_failed"] == 3       # -1.0, 200.0, NULL
    assert res["r_domain"]["n_failed"] == 1      # 'XX'
    assert res["r_fk"]["n_failed"] == 1          # 'XX' not in dim
    assert all(r["n_checked"] == 5 for r in res.values())
    assert all(r["passed"] == 0 for r in res.values())


def test_clean_table_passes(spark, countries):
    clean = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    )
    out = run_expectations(
        lambda _: clean,
        [
            Expectation("u", "t", "id", "unique"),
            Expectation("n", "t", "name", "not_null"),
        ],
    ).collect()
    assert all(r["passed"] == 1 and r["n_failed"] == 0 for r in out)


def test_rowwise_rules_share_one_scan(spark, dirty, countries):
    """Three row-wise rules + unique on table t compile into a single
    aggregate over one scan of t — count the scan nodes in the plan."""
    tables = {"t": dirty}
    rules = [
        Expectation("a", "t", "id", "unique"),
        Expectation("b", "t", "name", "not_null"),
        Expectation("c", "t", "val", "between", {"lo": 0.0, "hi": 100.0}),
    ]
    out = run_expectations(lambda name: tables[name], rules)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # one shared Aggregate feeds all three rule rows: the (cheap) union
    # re-references it, so LogicalRDD scans of t appear once per union
    # branch at most — but there must be exactly ONE Aggregate subtree
    # computing the cells, not one per rule
    assert plan.count("count(1)") <= 3  # not re-derived per rule row
    rows = {r["rule_id"]: r for r in out.collect()}
    assert rows["a"]["n_failed"] == 1
    assert rows["b"]["n_failed"] == 1
    assert rows["c"]["n_failed"] == 3
