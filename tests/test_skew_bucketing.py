"""Scale-control operator tests: salted join equivalence, bucketed
join shuffle elimination."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataingestiontohana_spark.operators.skew import (
    read_manifest,
    salted_join,
    table_location,
    write_bucketed,
)
from tests.conftest import plan_has_exchange


@pytest.fixture(scope="module")
def skewed(spark):
    # 10k rows, 90% on one hot key
    big = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100)
        .cast("long").alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    return big, small


def test_salted_join_matches_plain_join(skewed):
    big, small = skewed
    plain = big.join(small, "k").groupBy("k").agg(
        F.count("*").alias("c"), F.sum("w").alias("sw")
    )
    salted = salted_join(big, small, "k").groupBy("k").agg(
        F.count("*").alias("c"), F.sum("w").alias("sw")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join(skewed):
    big, small = skewed
    plain = big.join(small.where(F.col("k") < 50), "k", "left")
    salted = salted_join(big, small.where(F.col("k") < 50), "k", how="left")
    assert plain.count() == salted.count()
    assert (
        plain.where(F.col("w").isNull()).count()
        == salted.where(F.col("w").isNull()).count()
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # (warehouse dir is a static conf; tables land in ./spark-warehouse,
    # dropped in the finally block and gitignored)
    a = spark.range(1_000).select(F.col("id").alias("k"), F.lit(1).alias("a"))
    b = spark.range(1_000).select(F.col("id").alias("k"), F.lit(2).alias("b"))
    write_bucketed(a, "bt_a", "k", buckets=8)
    write_bucketed(b, "bt_b", "k", buckets=8)
    ta, tb = spark.table("bt_a"), spark.table("bt_b")

    # broadcast would hide the point; force sort-merge
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ta.join(tb, "k")
        assert not plan_has_exchange(joined), joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 1_000
        # the same join on non-bucketed frames DOES shuffle
        shuffled = a.join(b, "k")
        assert plan_has_exchange(shuffled)
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_write_bucketed_manifest_roundtrip(spark):
    a = spark.range(100).select(F.col("id").alias("k"))
    try:
        write_bucketed(a, "bt_m", "k", buckets=4, manifest={"fingerprint": "f1"})
        assert read_manifest(spark, "bt_m") == {"fingerprint": "f1"}
        # the manifest file must not leak into the table's data
        assert spark.table("bt_m").count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_m")


def test_write_bucketed_never_deletes_foreign_directory(spark):
    """The stale-dir fallback must refuse to rmtree a directory that
    doesn't look like a Spark table dir (ADVICE r2: data-loss hazard
    when an unrelated directory shares the dropped table's name)."""
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    foreign = os.path.join(wh, "bt_foreign")
    os.makedirs(foreign, exist_ok=True)
    marker = os.path.join(foreign, "precious.txt")
    with open(marker, "w") as f:
        f.write("not a spark artifact")
    a = spark.range(10).select(F.col("id").alias("k"))
    try:
        # catalog doesn't know bt_foreign; the blind fallback used to
        # rmtree the dir -> now it must refuse (and saveAsTable then
        # fails LOCATION_ALREADY_EXISTS, which is the correct outcome:
        # the engine won't overwrite data it can't identify as its own)
        with pytest.raises(Exception):
            write_bucketed(a, "bt_foreign", "k", buckets=4)
        assert os.path.exists(marker), "foreign file was deleted"
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_foreign")
        import shutil

        shutil.rmtree(foreign, ignore_errors=True)


def test_bucketed_fact_tables_reuses_manifest(spark):
    """Warm path = manifest compare only (no source re-count); a
    touched source file invalidates the fingerprint."""
    from dataingestiontohana_spark.plans.relational_ext import (
        _source_fingerprint,
        bucketed_fact_tables,
    )

    sf = "/root/testdata/sf0.001"
    bucketed_fact_tables(spark, sf)  # cold write
    tag = "root_testdata_sf0_001"
    m1 = read_manifest(spark, f"b_orders_{tag}")
    assert m1 is not None
    assert m1["fingerprint"] == _source_fingerprint(
        os.path.join(sf, "orders.parquet")
    )
    loc = table_location(spark, f"b_orders_{tag}")
    mtime = os.path.getmtime(loc)
    bucketed_fact_tables(spark, sf)  # warm: must NOT rewrite
    assert os.path.getmtime(loc) == mtime
    assert read_manifest(spark, f"b_orders_{tag}") == m1


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    """Runtime row-group filtering: a selective (non-broadcastable)
    dim side injects a bloom filter into the fact scan —
    might_contain(bloom_filter_agg(dim keys)) — so fact rows that
    cannot join die at the scan instead of riding the shuffle. At
    100 TB this is the difference between shuffling the full fact
    table and shuffling the ~join-selectivity fraction; default
    thresholds (creation side <= 10 MB, application side >= 10 GB)
    only engage it at real scale, so the test lowers them to make the
    optimizer show its hand at test size."""
    import pyspark.sql.functions as F

    fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
    spark.range(100_000).selectExpr(
        "id", "id % 1000 AS k", "id * 2 AS v"
    ).write.parquet(fact_p)
    spark.range(2_000).selectExpr("id AS k", "id * 3 AS w").where(
        "k % 50 = 0"
    ).write.parquet(dim_p)

    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).where("w % 2 = 0")
        j = fact.join(dim, "k").select("id", "k", "v", "w")
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        with_bloom = sorted(map(tuple, j.collect()))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    # semantics unchanged: same rows as the uninstrumented join
    fact = spark.read.parquet(fact_p)
    dim = spark.read.parquet(dim_p).where("w % 2 = 0")
    plain = sorted(
        map(tuple, fact.join(dim, "k").select("id", "k", "v", "w").collect())
    )
    assert with_bloom == plain and len(plain) > 0


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join: a 90%-hot key must be split at runtime — the
    final adaptive plan carries SortMergeJoin(skew=true) with an
    AQEShuffleRead marked skewed. Thresholds are lowered to test
    scale (defaults: 256 MB partition, factor 5 — exactly the knobs a
    100 TB deployment leaves alone); results must equal the join
    without the split."""
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        left = spark.range(400_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN CAST(0 AS LONG) ELSE id END AS k",
            "id AS v",
        )
        right = spark.range(400_000).selectExpr("id AS k", "id * 2 AS w")
        j = left.join(right, "k").selectExpr(
            "count(*) AS n", "sum(v) AS sv", "sum(w) AS sw"
        )
        row = j.collect()[0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "skewed" in plan  # the AQEShuffleRead split marker
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    # semantics: every left row joins exactly once (right keys unique)
    assert row["n"] == 400_000
    expect = spark.range(400_000).selectExpr(
        "sum(id) AS sv",
        "sum(2 * (CASE WHEN id % 10 < 9 THEN CAST(0 AS LONG) ELSE id END)) AS sw",
    ).collect()[0]
    assert (row["sv"], row["sw"]) == (expect["sv"], expect["sw"])


def test_adopted_bucketed_dir_joins_exchange_free(spark, tmp_path):
    """Cross-process layout reuse: a bucketed directory adopted via
    metadata-only CREATE TABLE (register_bucketed_dir) must behave
    exactly like the original managed table — bucket spec honored, the
    equi-join plans with zero exchange, identical rows."""
    import shutil

    from dataingestiontohana_spark.operators.skew import (
        read_manifest_dir,
        register_bucketed_dir,
        table_location,
        write_bucketed,
    )

    df = spark.range(10_000).selectExpr("id AS k", "id * 2 AS v")
    write_bucketed(df, "t_reuse_src", "k", manifest={"fingerprint": "fp1"})
    src_dir = table_location(spark, "t_reuse_src")

    # survive-the-catalog simulation: copy the directory aside (DROP
    # of a managed table would purge it), then adopt the copy
    adopted_dir = str(tmp_path / "adopted_layout")
    shutil.copytree(src_dir.removeprefix("file:"), adopted_dir)
    assert read_manifest_dir(adopted_dir) == {"fingerprint": "fp1"}

    spark.sql("DROP TABLE IF EXISTS t_reuse_adopted")
    register_bucketed_dir(
        spark, "t_reuse_adopted", df.schema, "k", adopted_dir
    )

    # broadcast would hide the point; force sort-merge
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = spark.table("t_reuse_adopted"), spark.table("t_reuse_src")
        j = a.join(b, "k").select(
            a["k"], a["v"].alias("va"), b["v"].alias("vb")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and plan.count("Exchange") == 0
        assert j.count() == 10_000
        assert j.where("va != vb").count() == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_reuse_adopted")
        spark.sql("DROP TABLE IF EXISTS t_reuse_src")


def test_register_bucketed_dir_quotes_identifiers_and_paths(spark, tmp_path):
    """DDL safety: a quote-bearing LOCATION must not break the CREATE
    TABLE statement, and a non-identifier table name is rejected
    rather than interpolated (round-4 advice)."""
    import pytest

    from dataingestiontohana_spark.operators.skew import (
        register_bucketed_dir,
        write_bucketed,
    )

    df = spark.range(50).selectExpr("id AS k", "id * 2 AS v")
    quoted_dir = str(tmp_path / "o'brien")
    write_bucketed(df, "adopt_quoted_src", "k", buckets=4)
    # adopt from a path containing a single quote: copy the layout dir
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.copytree(f"{warehouse}/adopt_quoted_src", quoted_dir)
    register_bucketed_dir(
        spark, "adopt_quoted", df.schema, "k", quoted_dir, buckets=4
    )
    assert spark.table("adopt_quoted").count() == 50
    with pytest.raises(ValueError, match="invalid table identifier"):
        register_bucketed_dir(
            spark, "x; DROP TABLE y", df.schema, "k", quoted_dir, buckets=4
        )
    spark.sql("DROP TABLE IF EXISTS adopt_quoted")
    spark.sql("DROP TABLE IF EXISTS adopt_quoted_src")


def test_key_skew_audit_hand_computed_gini(spark):
    from dataingestiontohana_spark.operators.skew import key_skew_audit

    # frequencies [1, 1, 1, 6]: n=4, S=9, asc-rank sum S1 = 1+2+3+24 = 30
    # gini = (2*30 - 5*9) / (4*9) = 15/36 = 0.416667 (round 6)
    rows = [(10,)] + [(20,)] + [(30,)] + [(40,)] * 6
    df = spark.createDataFrame(rows, "k long")
    out = key_skew_audit(df, "k", "t.k").collect()[0]
    assert out.key_name == "t.k"
    assert out.n_keys == 4
    assert out.total_rows == 9
    assert out.top1_rows == 6
    assert out.top10_rows == 9
    assert out.gini == 0.416667


def test_key_skew_audit_uniform_is_zero(spark):
    from dataingestiontohana_spark.operators.skew import key_skew_audit

    df = spark.range(100).select((F.col("id") % 10).alias("k"))
    out = key_skew_audit(df, "k", "u").collect()[0]
    assert out.gini == 0.0
    assert out.top1_rows == 10
