"""Extended relational surface: operator categories beyond the §2.3
core — ALL-variant set ops, pivot/unpivot, as-of join, range join,
exact percentiles, batch sessionization, correlated subqueries,
GROUPING SETS, and general window frames. All oracle-checked.

Scale notes are per-query; the recurring themes: broadcast the small
side of every non-equi join, express as-of joins as a union-tag +
last-ignorenulls window (sort-merge shape, one shuffle) instead of a
per-row subquery, and keep sessionization as two window passes over one
partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataingestiontohana_spark.catalog import (
    load_table,
    local_rows,
    shared_frame,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def q41_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL / INTERSECT ALL / EXCEPT ALL multiplicity semantics.
    INTERSECT binds tighter (SQL standard), so the oracle's chain
    parses as (c UNION ALL (s INTERSECT ALL c)) EXCEPT ALL n."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    u = c.unionAll(s.intersectAll(c)).exceptAll(n)
    return u.groupBy("k").agg(F.count("*").alias("cnt")).orderBy("k")


def q42_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority x status (fixed column set so
    the plan is a single hash agg — no second pass to discover values)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("o_orderpriority")
    )


def q43_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-part numeric columns to long form."""
    p = _t(spark, sf_dir, "part")
    return (
        p.unpivot(
            ["p_partkey"],
            ["p_size", "p_retailprice"],
            "measure",
            "val",
        )
        .select("p_partkey", "measure", F.round(F.col("val"), 2).alias("val"))
        .orderBy("p_partkey", "measure")
    )


def q44_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the customer's most recent order at
    event time (user_id+1 = custkey mapping on the synthetic data).

    Spark has no native ASOF JOIN; the scalable formulation is the
    union-tag + last(ignorenulls) window: interleave orders and events
    on (custkey, time), carry the latest order date forward. One
    shuffle on custkey; contrast with the per-event correlated scalar
    subquery the oracle runs (fine for DuckDB, quadratic on a cluster).
    """
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") + 1).alias("ck"),
        F.col("ts").alias("t"),
        F.lit(None).cast("timestamp").alias("odate"),
    )
    o = _t(spark, sf_dir, "orders").select(
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").alias("t"),
        F.col("o_orderdate").alias("odate"),
    )
    # orders sort before events at identical t (is_event=0 first) so an
    # order exactly at event time counts as "already placed" (<= in the
    # oracle)
    merged = o.unionByName(e).withColumn(
        "is_event", F.col("event_id").isNotNull().cast("int")
    )
    w = (
        Window.partitionBy("ck")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("last_odate", F.last("odate", ignorenulls=True).over(w))
        .where(F.col("is_event") == 1)
        .select("event_id", F.col("last_odate").alias("last_order_date"))
        .orderBy("event_id")
    )


def q45_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: events bucketed into value bands via a
    broadcast banding table — the non-equi condition never shuffles the
    fact side because the band table broadcasts."""
    e = _t(spark, sf_dir, "events")
    bands = local_rows(
        spark,
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        e.join(
            F.broadcast(bands),
            (e.value >= bands.lo) & (e.value < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 2).alias("sv"))
        .orderBy("band")
    )


def q46_percentiles(
    spark: SparkSession, sf_dir: str, mode: str = "exact"
) -> DataFrame:
    """Percentiles (median/p90) per order status, two declared modes.

    mode="exact" (the oracle-checked default): Spark `percentile` and
    DuckDB `quantile_cont` share the linear-interpolation definition.
    Exact percentile buffers every group value in one aggregation
    buffer — with 3 statuses that's 3 tasks holding n/3 values each,
    fine at survey scale, wrong at 100 TB.

    mode="approx" (the scale path): percentile_approx — a mergeable
    KLL-style sketch with map-side partial aggregation, constant
    memory per task, rank error <= n/accuracy. Same schema; its error
    envelope against the exact answer is pinned in pytest
    (tests/test_sampling.py), not by the SQL oracle.
    """
    fn = "percentile" if mode == "exact" else "percentile_approx"
    acc = "" if mode == "exact" else ", 10000"
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr(f"{fn}(o_totalprice, 0.5{acc})"), 2).alias("p50"),
            F.round(F.expr(f"{fn}(o_totalprice, 0.9{acc})"), 2).alias("p90"),
        )
        .orderBy("o_orderstatus")
    )


def q47_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a new session starts after a >30min gap
    (lag + cumulative-sum-of-boundaries, both windows share one
    partitioning on user_id — exactly one shuffle)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Interval comparison, not epoch casts: parquet timestamp[us] with
    # no tz annotation loads as TIMESTAMP_NTZ, which cannot cast to
    # BIGINT; ts > lag(ts) + 30min is type-agnostic (NTZ and LTZ both
    # support interval arithmetic) and timezone-free.
    prev = F.lag("ts").over(w)
    boundary = F.col("ts") > prev + F.expr("INTERVAL 30 MINUTE")
    new_sess = F.when(prev.isNull() | boundary, 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = e.select(
        "user_id", "event_id", F.sum(new_sess).over(run).alias("session_id")
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q48_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above their nation's average balance (decorrelated to
    an agg + broadcast join, which is what Catalyst does to the SQL
    form as well)."""
    c = _t(spark, sf_dir, "customer")
    nat_avg = c.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("nav"))
    return (
        c.join(F.broadcast(nat_avg), "c_nationkey")
        .where(F.col("c_acctbal") > F.col("nav"))
        .select("c_custkey")
        .orderBy("c_custkey")
    )


def q49_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond ROLLUP/CUBE): by-status,
    by-priority, and grand total in one pass."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


def q50_first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST/LAST_VALUE over a full-partition frame, expressed as
    min_by/max_by over an UNORDERED window: equivalent to the oracle's
    ordered unbounded-frame form (verified), but the window only sorts
    on the partition key instead of fully sorting every partition by
    the composite key — measurably faster and cheaper at scale."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.expr("min_by(l_partkey, struct(l_linenumber, l_partkey))")
            .over(w)
            .alias("first_part"),
            F.expr("max_by(l_partkey, struct(l_linenumber, l_partkey))")
            .over(w)
            .alias("last_part"),
        )
        .orderBy("l_orderkey", "l_linenumber", "l_partkey")
    )


def q68_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar-function breadth: extraction, end-of-month,
    date arithmetic, day-difference — one codegen'd projection over the
    scan (map-only; the only shuffle is the presentation sort)."""
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        o.select(
            "o_orderkey",
            F.year(d).alias("y"),
            F.month(d).alias("m"),
            F.quarter(d).alias("q"),
            F.last_day(d).alias("eom"),
            F.date_add(d, 30).alias("plus30"),
            F.datediff(d, F.lit("1995-01-01").cast("date")).alias("since"),
        )
        .where(F.col("y") >= 1996)
        .orderBy("o_orderkey")
    )


def q69_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching: supplier ids within levenshtein
    distance 1 of a customer id (the name's numeric suffix) in the same
    nation — the fuzzy-key record-linkage shape.

    The equi part (nationkey) drives the join; levenshtein runs only on
    within-nation pairs. At 100 TB the equi prefix is what keeps this
    from being a cartesian product — always factor a blocking key out
    of a fuzzy predicate (same idea as LSH: block first, verify after).
    """
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", F.substring("c_name", 10, 99).alias("cn")
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", F.substring("s_name", 10, 99).alias("sn")
    )
    dist = F.levenshtein("cn", "sn")
    return (
        c.join(s, c.c_nationkey == s.s_nationkey)
        .where(dist <= 1)
        .select("c_custkey", "s_suppkey", dist.alias("dist"))
        .orderBy("c_custkey", "s_suppkey")
    )


def q71_decimal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal(38,x) aggregation + interval arithmetic breadth.

    Money math runs in DECIMAL end-to-end: the per-row product is
    recovered as decimal(18,4) (exact — the inputs are 2-decimal
    values), summed as decimal(38,4) with NO floating error regardless
    of aggregation order, and the average STAYS decimal — the sum is
    widened to scale 8 before dividing and the quotient is pinned to
    an explicit DECIMAL(38,6), so both engines round the same exact
    rational at the same scale (a double-typed average diverges in the
    last ulp because Spark converts BigDecimal->double while DuckDB
    converts scaled-int->double). Interval arithmetic: +45 days,
    quarter truncation +3 months, day spans — all date-typed on both
    engines.

    The decimal and date columns are SERIALIZED as fixed-scale strings
    on both engines: the comparison harness fetches DuckDB results
    through pandas, which coerces DECIMAL->float64 (dropping a
    trailing zero in the scale-4 text form — exactly what flipped
    round-3's 1003322369.8990) and DATE->datetime64, while Spark keeps
    python Decimal/date objects. A decimal(38,4) rendered to text at
    its declared scale is identical on both engines, so the hash then
    pins the EXACT scaled value rather than a lossy float round-trip.
    """
    li = _t(spark, sf_dir, "lineitem")
    dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).cast("decimal(38,4)").cast("string").alias("sum_net"),
            F.expr(
                "CAST(CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,4))) AS DECIMAL(38,8))"
                " / COUNT(1) AS DECIMAL(38,6)) AS STRING)"
            ).alias("avg_net"),
            F.expr(
                "CAST(CAST(CAST(MAX(l_shipdate) AS DATE)"
                " + INTERVAL 45 DAY AS DATE) AS STRING)"
            ).alias("max_ship_plus45"),
            F.expr(
                "CAST(CAST(trunc(CAST(MAX(l_shipdate) AS DATE), 'QUARTER')"
                " + INTERVAL 3 MONTH AS DATE) AS STRING)"
            ).alias("next_quarter"),
            F.expr(
                "CAST(datediff(CAST(MAX(l_shipdate) AS DATE),"
                " CAST(MIN(l_shipdate) AS DATE)) AS BIGINT)"
            ).alias("ship_span_days"),
        )
        .orderBy("l_returnflag")
    )


def bucketed_fact_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """orders/lineitem persisted hash-bucketed on the join key (16
    buckets, sorted) — the one-time layout cost that turns every later
    orderkey equi-join into a zero-exchange sort-merge join. Table
    names are sf-scoped so concurrent scales don't collide.

    Freshness: a manifest (source-file fingerprint + row count) is
    written next to the layout at write time; reuse compares the
    fingerprint, which is pure filesystem metadata. The previous probe
    re-counted BOTH the layout and the source per invocation — two
    full scans per query, which at 100 TB would cost more than the
    join savings."""
    import re as _re

    from dataingestiontohana_spark.operators.skew import (
        read_manifest,
        write_bucketed,
    )

    tag = _re.sub(r"\W+", "_", sf_dir).strip("_")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )

    def ensure(df, name, source):
        from dataingestiontohana_spark.operators.skew import (
            read_manifest_dir,
            register_bucketed_dir,
            warehouse_table_dir,
        )

        fp = _source_fingerprint(os.path.join(sf_dir, f"{source}.parquet"))
        if spark.catalog.tableExists(name):
            m = read_manifest(spark, name)
            if m is not None and m.get("fingerprint") == fp:
                return
        else:
            # cross-process reuse: a previous process's layout survives
            # as a warehouse directory the in-memory catalog forgot —
            # adopt it (metadata-only CREATE TABLE) instead of paying
            # the bucketed rewrite again
            d = warehouse_table_dir(spark, name)
            m = read_manifest_dir(d)
            # bucket count must match the declared spec — a manifest
            # without the key predates it and was written with 16
            if (
                m is not None
                and m.get("fingerprint") == fp
                and m.get("buckets", 16) == 16
            ):
                register_bucketed_dir(
                    spark, name, df.schema, "o_orderkey", d, buckets=16
                )
                return
        write_bucketed(
            df, name, "o_orderkey", manifest={"fingerprint": fp, "buckets": 16}
        )

    ensure(o, f"b_orders_{tag}", "orders")
    ensure(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        f"b_lineitem_{tag}",
        "lineitem",
    )
    return spark.table(f"b_orders_{tag}"), spark.table(f"b_lineitem_{tag}")


def _source_fingerprint(path: str) -> str:
    """Identity of a source dataset from filesystem metadata only
    (relative name, size, mtime of every data file) — no scan. The
    distributed-filesystem analogue is the FileStatus listing the
    driver already fetches to plan a read."""
    import hashlib

    h = hashlib.md5()
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(path)
            for f in fs
            if not f.startswith((".", "_"))
        )
    for p in files:
        st = os.stat(p)
        h.update(
            f"{os.path.relpath(p, path)}:{st.st_size}:{st.st_mtime_ns};".encode()
        )
    return h.hexdigest()


def q72_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed layout: both sides pre-bucketed on
    o_orderkey, so the join plans as SortMergeJoin with NO exchange
    under it (asserted in tests/test_skew_bucketing.py) — at 100 TB
    this converts the dominant per-query fact-fact shuffle into a
    one-time write-side layout. Result is identical to the plain join
    (the oracle joins the raw parquet), revenue in exact decimal."""
    bo, bl = bucketed_fact_tables(spark, sf_dir)
    dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        bl.join(bo, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # string at the declared scale: the harness's pandas fetch
            # coerces DuckDB DECIMAL->float64, whose text form drops
            # trailing zeros (see q71's docstring); the math stays in
            # exact decimal, only the serialization is pinned.
            F.sum(dec).cast("decimal(38,4)").cast("string").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def q76_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): nested JSON is parsed
    once into the binary VARIANT encoding and fields come out through
    typed `variant_get` path extraction — the open-schema ingestion
    shape (no fixed struct schema; each row may carry different keys).

    The JSON text is constructed from string/int columns only (no
    doubles — float-to-text formatting differs across engines, which
    would poison the oracle); the DuckDB oracle runs the identical
    construction through its JSON path functions. One scan, one
    aggregation; the parse + both extractions live in the projection.
    """
    e = _t(spark, sf_dir, "events")
    j = F.concat(
        F.lit('{"meta":{"type":"'),
        F.col("event_type"),
        F.lit('"},"k":'),
        F.coalesce(F.get_json_object("props", "$.k"), F.lit("null")),
        F.lit("}"),
    )
    v = F.parse_json(j)
    return (
        e.select(
            F.variant_get(v, "$.meta.type", "string").alias("vtype"),
            F.variant_get(v, "$.k", "int").alias("k"),
        )
        .groupBy("vtype")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("vtype")
    )


QUERIES = {
    "q41_set_ops_all": q41_set_ops_all,
    "q42_pivot": q42_pivot,
    "q43_unpivot": q43_unpivot,
    "q44_asof_join": q44_asof_join,
    "q45_range_join": q45_range_join,
    "q46_percentiles": q46_percentiles,
    "q47_sessionize": q47_sessionize,
    "q48_correlated_subquery": q48_correlated_subquery,
    "q49_grouping_sets": q49_grouping_sets,
    "q50_first_last_window": q50_first_last_window,
    "q68_datetime_functions": q68_datetime_functions,
    "q69_fuzzy_name_join": q69_fuzzy_name_join,
    "q71_decimal_interval": q71_decimal_interval,
    "q72_bucketed_join": q72_bucketed_join,
    "q76_variant_extract": q76_variant_extract,
}

ORACLES = {
    "q76_variant_extract": """
        WITH v AS (
          SELECT '{"meta":{"type":"' || event_type || '"},"k":' ||
                 COALESCE(json_extract_string(props, '$.k'), 'null') || '}'
                 AS j
          FROM events)
        SELECT json_extract_string(j, '$.meta.type') AS vtype,
               COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(j, '$.k') AS INTEGER))
                    AS BIGINT) AS sum_k,
               MAX(CAST(json_extract_string(j, '$.k') AS INTEGER)) AS max_k
        FROM v GROUP BY vtype ORDER BY vtype
    """,
    "q71_decimal_interval": """
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DECIMAL(38,4))
                    AS VARCHAR) AS sum_net,
               CAST(CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DECIMAL(38,8))
                    / COUNT(*) AS DECIMAL(38,6)) AS VARCHAR) AS avg_net,
               CAST(CAST(CAST(MAX(l_shipdate) AS DATE) + INTERVAL 45 DAY
                    AS DATE) AS VARCHAR) AS max_ship_plus45,
               CAST(CAST(date_trunc('quarter', CAST(MAX(l_shipdate) AS DATE))
                    + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS next_quarter,
               CAST(CAST(MAX(l_shipdate) AS DATE)
                    - CAST(MIN(l_shipdate) AS DATE) AS BIGINT) AS ship_span_days
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "q72_bucketed_join": """
        SELECT o_orderpriority, COUNT(*) AS n_items,
               CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DECIMAL(38,4))
                    AS VARCHAR) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q68_datetime_functions": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS y,
               CAST(month(o_orderdate) AS INTEGER) AS m,
               CAST(quarter(o_orderdate) AS INTEGER) AS q,
               last_day(CAST(o_orderdate AS DATE)) AS eom,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)
                 AS plus30,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS INTEGER) AS since
        FROM orders
        WHERE year(o_orderdate) >= 1996
        ORDER BY o_orderkey
    """,
    "q69_fuzzy_name_join": """
        SELECT c_custkey, s_suppkey,
               CAST(levenshtein(substring(c_name, 10), substring(s_name, 10))
                    AS INTEGER) AS dist
        FROM customer JOIN supplier ON c_nationkey = s_nationkey
        WHERE levenshtein(substring(c_name, 10), substring(s_name, 10)) <= 1
        ORDER BY c_custkey, s_suppkey
    """,
    "q41_set_ops_all": """
        WITH u AS (
          SELECT c_nationkey AS k FROM customer
          UNION ALL SELECT s_nationkey FROM supplier
          INTERSECT ALL SELECT c_nationkey FROM customer
          EXCEPT ALL SELECT n_nationkey FROM nation)
        SELECT k, COUNT(*) AS cnt FROM u GROUP BY k ORDER BY k
    """,
    "q42_pivot": """
        SELECT o_orderpriority,
               COUNT(*) FILTER (o_orderstatus = 'F') AS "F",
               COUNT(*) FILTER (o_orderstatus = 'O') AS "O",
               COUNT(*) FILTER (o_orderstatus = 'P') AS "P"
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q43_unpivot": """
        SELECT p_partkey, 'p_size' AS measure,
               ROUND(CAST(p_size AS DOUBLE), 2) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice', ROUND(p_retailprice, 2) FROM part
        ORDER BY p_partkey, measure
    """,
    "q44_asof_join": """
        SELECT e.event_id,
               (SELECT MAX(o.o_orderdate) FROM orders o
                WHERE o.o_custkey = e.user_id + 1
                  AND o.o_orderdate <= e.ts) AS last_order_date
        FROM events e ORDER BY e.event_id
    """,
    "q45_range_join": """
        WITH bands(band, lo, hi) AS (
          VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
                 ('high', 150.0, 1e9))
        SELECT band, COUNT(*) AS c, ROUND(SUM(value), 2) AS sv
        FROM events JOIN bands ON value >= lo AND value < hi
        GROUP BY band ORDER BY band
    """,
    "q46_percentiles": """
        SELECT o_orderstatus,
               ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q47_sessionize": """
        WITH g AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                      OR LAG(ts) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM events),
        s AS (
          SELECT user_id, event_id,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM g)
        SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id ORDER BY user_id
    """,
    "q48_correlated_subquery": """
        SELECT c_custkey FROM customer c
        WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey
    """,
    "q49_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    "q50_first_last_window": """
        SELECT l_orderkey, l_linenumber, l_partkey,
               FIRST_VALUE(l_partkey) OVER w AS first_part,
               LAST_VALUE(l_partkey) OVER w AS last_part
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
        ORDER BY l_orderkey, l_linenumber, l_partkey
    """,
}


# q125 (pairs), q165 (item-CF) and q189 (triples) all mine the same
# distinct (order, part) basket frame; each consumes it 2-4x through
# self-joins and support counts. One lazily-localCheckpointed shared
# frame per sf_dir, so the distinct's scan+shuffle runs once per
# process, not ~9x.
def _basket_items_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_frame(spark, "basket_items", (sf_dir,), lambda: (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    ))


# The basket PAIR COUNTS (pa < pb, c_ab) and the per-item supports are
# recomputed identically by q125 (pair mining), q165 (item-item CF)
# and q189 (the apriori item prune) — the pair self-join + aggregation
# is the most expensive stage of both pair consumers. Shared like the
# basket items, materialized by whichever part acts first.
def _basket_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa, pb, c_ab) with pa < pb over the distinct basket items."""

    def build() -> DataFrame:
        items = _basket_items_cached(spark, sf_dir)
        a = items.select(
            F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa")
        )
        b = items.select(
            F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb")
        )
        return (
            a.join(b, "k")
            .where(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
            .localCheckpoint(eager=False)
        )

    return shared_frame(spark, "basket_pairs", (sf_dir,), build)


def _item_support_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, c) — distinct-basket support per item."""
    return shared_frame(spark, "item_support", (sf_dir,), lambda: (
        _basket_items_cached(spark, sf_dir)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    ))


def q125_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the 30 most co-purchased part pairs
    across orders, with per-item supports and lift — the co-occurrence
    primitive behind recommenders and the relational twin of q105's
    token-bigram PMI.

    Exactness: supports are int64; lift = n_baskets * c_ab /
    (c_a * c_b) is ONE division of exact int64 products, rounded for
    display; ties break on (pa, pb) so the top-30 is deterministic.

    Scale shape: the pair generator is a SELF-JOIN ON THE BASKET KEY —
    fan-out bounded by basket size (<= 13 items in TPC-H, so <= 78
    pairs per order), never a cross-table product; pair supports
    reduce with map-side combine; top-30 is a TakeOrderedAndProject;
    item supports and the 1-row basket count attach AFTER the
    shortlist, as broadcast joins onto 30 rows (re-rank-after-shortlist
    — the q96 PQ pattern).
    """
    items = _basket_items_cached(spark, sf_dir)
    pairs = (
        _basket_pairs_cached(spark, sf_dir)
        .orderBy(F.col("c_ab").desc(), "pa", "pb")
        .limit(30)
    )
    item_support = _item_support_cached(spark, sf_dir).select(
        F.col("l_partkey").alias("p"), "c"
    )
    nb = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_baskets")
    )
    out = (
        pairs.join(
            F.broadcast(item_support.select(F.col("p").alias("pa"),
                                            F.col("c").alias("c_a"))),
            "pa",
        )
        .join(
            F.broadcast(item_support.select(F.col("p").alias("pb"),
                                            F.col("c").alias("c_b"))),
            "pb",
        )
        .crossJoin(F.broadcast(nb))
    )
    lift = F.round(
        (F.col("n_baskets") * F.col("c_ab")).cast("double")
        / (F.col("c_a") * F.col("c_b")).cast("double"),
        6,
    )
    return out.select(
        "pa", "pb", "c_ab", "c_a", "c_b", lift.alias("lift")
    ).orderBy(F.col("c_ab").desc(), "pa", "pb")


QUERIES["q125_basket_pairs"] = q125_basket_pairs

ORACLES["q125_basket_pairs"] = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
    pairs AS (
      SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM items a JOIN items b ON a.k = b.k AND a.p < b.p
      GROUP BY a.p, b.p
      ORDER BY c_ab DESC, pa, pb LIMIT 30),
    sup AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY p),
    nb AS (
      SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_baskets FROM items)
    SELECT pa, pb, c_ab, sa.c AS c_a, sb.c AS c_b,
           ROUND(CAST(n_baskets * c_ab AS DOUBLE)
                 / CAST(sa.c * sb.c AS DOUBLE), 6) AS lift
    FROM pairs
    JOIN sup sa ON sa.p = pa
    JOIN sup sb ON sb.p = pb
    CROSS JOIN nb
    ORDER BY c_ab DESC, pa, pb
"""


def q131_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): customers
    whose segment was nulled out (a deterministic NULLIF) still match
    the dimension's NULL row instead of silently dropping — the
    dimension-conform step every warehouse needs once a key column is
    nullable. A plain equi-join loses the NULL group; the null-safe
    comparison keeps it AND still plans as a hash/sort-merge equi-join
    (EqualNullSafe is a valid equi-join key in Catalyst — no
    nested-loop fallback; the dim side broadcasts).

    Exactness: int64 counts and an exact-int share division.
    """
    c = _t(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY"))
    facts = c.select(seg.alias("seg"), "c_acctbal")
    dim = (
        facts.select("seg")
        .distinct()
        .select(
            "seg", F.coalesce(F.col("seg"), F.lit("UNKNOWN")).alias("label")
        )
    )
    j = facts.join(
        F.broadcast(dim), facts["seg"].eqNullSafe(dim["seg"]), "inner"
    )
    g = j.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long"))
        .cast("long")
        .alias("bal_cents"),
    )
    tot = g.agg(F.sum("n").cast("long").alias("total"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "label", "n", "bal_cents",
            F.round(
                (F.lit(100) * F.col("n")).cast("double")
                / F.col("total").cast("double"),
                4,
            ).alias("share_pct"),
        )
        .orderBy("label")
    )


QUERIES["q131_nullsafe_join"] = q131_nullsafe_join

ORACLES["q131_nullsafe_join"] = """
    WITH facts AS (
      SELECT NULLIF(c_mktsegment, 'MACHINERY') AS seg, c_acctbal
      FROM customer),
    dim AS (
      SELECT seg, COALESCE(seg, 'UNKNOWN') AS label
      FROM (SELECT DISTINCT seg FROM facts)),
    g AS (
      SELECT label,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS bal_cents
      FROM facts f JOIN dim d ON f.seg IS NOT DISTINCT FROM d.seg
      GROUP BY label),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
    SELECT label, n, bal_cents,
           ROUND(CAST(100 * n AS DOUBLE) / CAST(total AS DOUBLE), 4)
             AS share_pct
    FROM g, t ORDER BY label
"""


def q132_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's activity days split into maximal
    runs of consecutive days (island id = day_number - row_number, the
    canonical trick), reduced to the distribution of longest streaks —
    the engagement metric behind retention dashboards.

    Exactness: pure int64 day arithmetic and counts end to end.

    Scale shape: dedupe to (user, day) FIRST (map-side combine), ONE
    row_number window partitioned by user over the reduced frame
    (millions of small frames), two more map-side-combined reductions
    onto |streak-length| histogram rows.
    """
    from pyspark.sql.window import Window as W

    e = _t(spark, sf_dir, "events")
    d = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    days = e.select("user_id", d.alias("d")).distinct()
    isl = F.col("d") - F.row_number().over(
        W.partitionBy("user_id").orderBy("d")
    )
    streaks = (
        days.select("user_id", "d", isl.alias("isl"))
        .groupBy("user_id", "isl")
        .agg(F.count(F.lit(1)).cast("long").alias("len"))
    )
    longest = streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest")
    )
    return (
        longest.groupBy("longest")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("longest")
    )


QUERIES["q132_activity_islands"] = q132_activity_islands

ORACLES["q132_activity_islands"] = """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS d
      FROM events),
    isl AS (
      SELECT user_id, d,
             d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
               AS isl
      FROM days),
    streaks AS (
      SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, isl),
    longest AS (
      SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest
      FROM streaks GROUP BY user_id)
    SELECT longest, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM longest GROUP BY longest ORDER BY longest
"""


def q135_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    quantile aggregate (lower weighted median: the smallest value
    whose cumulative weight reaches half the total).

    The key scale move: the median is a property of the VALUE
    DISTRIBUTION, so lineitem first reduces map-side to (flag, cents,
    weight) — one row per distinct price per flag — and every window
    runs on that reduced frame. The cumulative weight through each
    value is tie-order invariant, so no row-level tiebreak is needed
    at all. The per-flag cumsum is two-pass bucketed (the q130 shape:
    price-range bucket subtotals + offsets + within-bucket windows),
    never a 3-partition funnel of the raw table.

    Exactness: prices quantize to int64 cents, weights are integral
    l_quantity cast to int64, all cumulative sums int64; the median
    price is cents / 100.0 (exact hundredths).
    """
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    v = (
        li.select(
            "l_returnflag",
            cents.alias("cents"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .groupBy("l_returnflag", "cents")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    pb = F.floor(F.col("cents") / 500000).cast("long")  # 5000-unit bands
    vb = v.withColumn("pb", pb).localCheckpoint(eager=False)
    sub = vb.groupBy("l_returnflag", "pb").agg(
        F.sum("w").cast("long").alias("sw")
    )
    woff = (
        Window.partitionBy("l_returnflag")
        .orderBy("pb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = sub.select(
        "l_returnflag", "pb",
        F.coalesce(F.sum("sw").over(woff), F.lit(0)).cast("long").alias("off"),
    )
    tot = vb.groupBy("l_returnflag").agg(
        F.sum("w").cast("long").alias("tw")
    )
    wloc = (
        Window.partitionBy("l_returnflag", "pb")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_through = F.col("off") + F.sum("w").over(wloc).cast("long")
    med = (
        vb.join(F.broadcast(offs), ["l_returnflag", "pb"])
        .join(F.broadcast(tot), "l_returnflag")
        .withColumn("ct", cum_through)
        .where(F.lit(2) * F.col("ct") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("cents").cast("long").alias("med_cents"))
    )
    return (
        med.join(F.broadcast(tot), "l_returnflag")
        .select(
            "l_returnflag",
            F.col("tw").alias("total_weight"),
            "med_cents",
            (F.col("med_cents").cast("double") / F.lit(100.0)).alias(
                "weighted_median_price"
            ),
        )
        .orderBy("l_returnflag")
    )


QUERIES["q135_weighted_median"] = q135_weighted_median

ORACLES["q135_weighted_median"] = """
    WITH v AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2),
    c AS (
      SELECT l_returnflag, cents, w,
             CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ct,
             CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
      FROM v),
    m AS (
      SELECT l_returnflag,
             CAST(MIN(cents) AS BIGINT) AS med_cents,
             CAST(MIN(tw) AS BIGINT) AS total_weight
      FROM c WHERE 2 * ct >= tw GROUP BY l_returnflag)
    SELECT l_returnflag, total_weight, med_cents,
           med_cents / 100.0 AS weighted_median_price
    FROM m ORDER BY l_returnflag
"""


def q137_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (tree) rollup: subtree user and event totals per
    ancestor node of the decimal-prefix hierarchy parent(u) = u // 10
    — the org-chart / BOM-explosion aggregate. The DuckDB oracle walks
    the tree with a genuine WITH RECURSIVE ancestor expansion, pinning
    recursive-CTE semantics; Spark (which has no recursive CTE)
    unrolls the BOUNDED depth in closed form — ancestors of u are
    floor(u / 10^k), k = 0..9, one explode — with the driver-side
    fixed-point loop (the q108 PageRank precedent) as the documented
    path for unbounded hierarchies.

    Exactness: pure int64 arithmetic (10^k quotients of values < 2^53
    are exact before floor); counts are int64.

    Scale shape: events reduce map-side to per-user counts FIRST, so
    the depth-bounded ancestor explosion multiplies |users| rows (not
    events) by <= 10, then one map-side-combined rollup per node.
    """
    e = _t(spark, sf_dir, "events")
    peru = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    node = F.floor(
        F.col("user_id") / F.pow(F.lit(10.0), F.col("k"))
    ).cast("long")
    anc = (
        peru.select(
            "user_id", "c",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k"),
        )
        .select("user_id", "c", node.alias("node"))
        .dropDuplicates(["user_id", "node"])
    )
    return (
        anc.where(F.col("node") < 100)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("subtree_users"),
            F.sum("c").cast("long").alias("subtree_events"),
        )
        .orderBy("node")
    )


QUERIES["q137_hierarchy_rollup"] = q137_hierarchy_rollup

ORACLES["q137_hierarchy_rollup"] = """
    WITH RECURSIVE peru AS (
      SELECT user_id AS u, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id),
    anc AS (
      SELECT u, u AS node FROM peru
      UNION
      SELECT u, node // 10 FROM anc WHERE node > 0)
    SELECT node,
           CAST(COUNT(*) AS BIGINT) AS subtree_users,
           CAST(SUM(c) AS BIGINT) AS subtree_events
    FROM anc JOIN peru USING (u)
    WHERE node < 100
    GROUP BY node ORDER BY node
"""


def q138_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order totals per status — the robust
    location estimate between the plain mean and q135's weighted
    median: drop floor(n/20) rows from EACH tail by exact global rank,
    average the rest.

    Exactness: the trim thresholds are pure integer arithmetic on
    exact ranks; kept prices sum as int64 cents; the trimmed mean is
    ONE exact-int division rounded for display.

    Scale shape: ranks come from operators/ranks.py::bucketed_ranks
    (value-range bucket subtotals + bounded windows) — a literal
    ROW_NUMBER() PARTITION BY status funnels the whole table through
    |statuses| tasks; group sizes ride along as g_n so no second
    aggregation pass is needed to locate the tails.
    """
    from dataingestiontohana_spark.operators.ranks import bucketed_ranks

    o = _t(spark, sf_dir, "orders")
    ranked = bucketed_ranks(
        o, "o_totalprice", part_cols=("o_orderstatus",),
        tie_cols=("o_orderkey",),
    )
    k = F.floor(F.col("g_n") / 20).cast("long")
    kept = ranked.where(
        (F.col("g_rn") > k) & (F.col("g_rn") <= F.col("g_n") - k)
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    g = kept.groupBy("o_orderstatus").agg(
        F.max("g_n").cast("long").alias("n"),
        F.max(k).cast("long").alias("k_trimmed"),
        F.count(F.lit(1)).cast("long").alias("kept"),
        F.sum(cents).cast("long").alias("sum_cents"),
    )
    mean = F.round(
        F.col("sum_cents").cast("double")
        / (F.lit(100) * F.col("kept")).cast("double"),
        4,
    )
    return g.select(
        "o_orderstatus", "n", "k_trimmed", "kept", "sum_cents",
        mean.alias("trimmed_mean"),
    ).orderBy("o_orderstatus")


QUERIES["q138_trimmed_mean"] = q138_trimmed_mean

ORACLES["q138_trimmed_mean"] = """
    WITH r AS (
      SELECT o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM orders),
    kept AS (
      SELECT * FROM r
      WHERE rn > n // 20 AND rn <= n - n // 20),
    g AS (
      SELECT o_orderstatus,
             CAST(MAX(n) AS BIGINT) AS n,
             CAST(MAX(n // 20) AS BIGINT) AS k_trimmed,
             CAST(COUNT(*) AS BIGINT) AS kept,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS sum_cents
      FROM kept GROUP BY o_orderstatus)
    SELECT o_orderstatus, n, k_trimmed, kept, sum_cents,
           ROUND(CAST(sum_cents AS DOUBLE)
                 / CAST(100 * kept AS DOUBLE), 4) AS trimmed_mean
    FROM g ORDER BY o_orderstatus
"""


def _hex12_sql(col_expr: str, start: int) -> str:
    """DuckDB expression: big-endian integer of 12 hex chars of
    ``col_expr`` starting at 1-based position ``start`` — exactly
    Spark's conv(substr(md5, start, 12), 16, 10), the q30 nibble
    maneuver (48 bits, comfortably inside int64/double-exact range)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col_expr}, {start + p}, 1)) - 1)"
        f" * CAST({16 ** (11 - p)} AS BIGINT)"
        for p in range(12)
    )


def q158_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial nearest-neighbor join via grid-cell blocking: every
    customer is matched to its nearest supplier within a 50,000-unit
    radius on a synthetic million-unit plane, by joining on grid
    cells instead of crossing the tables — the geo primitive
    (store-to-warehouse, rider-to-driver, user-to-POI assignment)
    expressed so the pair count is bounded by cell density, never
    |customers| x |suppliers|.

    Blocking is LOSSLESS by construction: the cell edge equals the
    radius, so any pair within R sits in the same or an adjacent
    cell; the SMALL side (suppliers) replicates to its 3x3
    neighborhood (x9 rows) and broadcasts, so customers never
    shuffle — a map-only plan. The real-world variant swaps the
    synthetic coordinates for geohashed lat/lon and this dist2 for
    haversine; every other line survives contact with 100 TB.

    Exactness: coordinates are md5-derived integers on a
    1,000,000-unit grid (the q30 conv/strpos identity), dist2 is
    exact int64 arithmetic, the nearest pick minimizes the
    (dist2, s_suppkey) tuple so ties are deterministic, and dist
    rounds an IEEE-754 sqrt (correctly rounded by spec in BOTH
    engines) onto the 1e-4 grid.
    """
    CELL = 50_000
    R2 = CELL * CELL

    def coords(df, key, prefix, kx, ky):
        h = F.md5(F.concat(F.lit(prefix), F.col(key).cast("string")))
        x = (F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")
             % 1_000_000)
        y = (F.conv(F.substring(h, 13, 12), 16, 10).cast("bigint")
             % 1_000_000)
        return df.select(
            F.col(key), x.alias(kx), y.alias(ky)
        )

    cust = coords(
        _t(spark, sf_dir, "customer"), "c_custkey", "c", "cx", "cy"
    ).withColumn("cellx", (F.col("cx") / CELL).cast("bigint")) \
     .withColumn("celly", (F.col("cy") / CELL).cast("bigint"))
    supp = coords(
        _t(spark, sf_dir, "supplier"), "s_suppkey", "s", "sx", "sy"
    )
    off = F.explode(
        F.array(*[F.lit(i) for i in (-1, 0, 1)])
    )
    supp9 = (
        supp.withColumn("dx", off)
        .withColumn("dy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .select(
            "s_suppkey", "sx", "sy",
            ((F.col("sx") / CELL).cast("bigint") + F.col("dx")).alias("cellx"),
            ((F.col("sy") / CELL).cast("bigint") + F.col("dy")).alias("celly"),
        )
    )
    d2 = (
        (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx"))
        + (F.col("cy") - F.col("sy")) * (F.col("cy") - F.col("sy"))
    )
    pairs = (
        cust.join(F.broadcast(supp9), ["cellx", "celly"])
        .select("c_custkey", "s_suppkey", d2.alias("dist2"))
        .where(F.col("dist2") <= R2)
    )
    best = pairs.groupBy("c_custkey").agg(
        F.min(F.struct("dist2", "s_suppkey")).alias("b")
    )
    return best.select(
        "c_custkey",
        F.col("b.s_suppkey").alias("s_suppkey"),
        F.col("b.dist2").alias("dist2"),
        F.round(F.sqrt(F.col("b.dist2").cast("double")), 4).alias("dist"),
    ).orderBy("c_custkey")


QUERIES["q158_spatial_grid_join"] = q158_spatial_grid_join

ORACLES["q158_spatial_grid_join"] = f"""
    WITH cust AS (
      SELECT c_custkey,
             ({_hex12_sql("md5('c' || CAST(c_custkey AS VARCHAR))", 1)})
               % 1000000 AS cx,
             ({_hex12_sql("md5('c' || CAST(c_custkey AS VARCHAR))", 13)})
               % 1000000 AS cy
      FROM customer),
    supp AS (
      SELECT s_suppkey,
             ({_hex12_sql("md5('s' || CAST(s_suppkey AS VARCHAR))", 1)})
               % 1000000 AS sx,
             ({_hex12_sql("md5('s' || CAST(s_suppkey AS VARCHAR))", 13)})
               % 1000000 AS sy
      FROM supplier),
    pairs AS (
      SELECT c.c_custkey, s.s_suppkey,
             (c.cx - s.sx) * (c.cx - s.sx)
               + (c.cy - s.sy) * (c.cy - s.sy) AS dist2
      FROM cust c JOIN supp s
        ON abs(CAST(FLOOR(c.cx / 50000.0) AS BIGINT)
             - CAST(FLOOR(s.sx / 50000.0) AS BIGINT)) <= 1
       AND abs(CAST(FLOOR(c.cy / 50000.0) AS BIGINT)
             - CAST(FLOOR(s.sy / 50000.0) AS BIGINT)) <= 1
      WHERE (c.cx - s.sx) * (c.cx - s.sx)
              + (c.cy - s.sy) * (c.cy - s.sy) <= 2500000000),
    best AS (
      SELECT c_custkey, s_suppkey, dist2,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY dist2, s_suppkey) AS rn
      FROM pairs)
    SELECT c_custkey, s_suppkey, dist2,
           ROUND(SQRT(CAST(dist2 AS DOUBLE)), 4) AS dist
    FROM best WHERE rn = 1
    ORDER BY c_custkey
"""


def _hex15_sql(col_expr: str) -> str:
    """DuckDB: leading 15 hex chars of ``col_expr`` as a big-endian
    int (60 bits) — Spark's conv(substr(md5, 1, 15), 16, 10)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col_expr}, {1 + p}, 1)) - 1)"
        f" * CAST({16 ** (14 - p)} AS BIGINT)"
        for p in range(15)
    )


def q161_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant table fingerprints: per table, the row count,
    key span, and a commutative checksum (SUM of a 60-bit md5 integer
    over a canonical row rendering) — the replication-verification
    primitive behind "is the HANA target byte-equivalent to the lake
    source?" (reference README.md:132-155 upserts into HANA; this is
    how a 100 TB copy is verified WITHOUT sorting either side: both
    engines stream their rows in any order, the checksums must meet).

    Exactness: the canonical rendering uses only exact lexical forms
    (ints, ISO dates, cents — never raw doubles); the checksum
    accumulates in DECIMAL(38,0)/HUGEINT and is emitted AS A STRING,
    because its magnitude (~1e18) exceeds exact double range and the
    decimal->text rendering is digit-identical in both engines while
    the >2^53 double cast is not (the q156 finding).

    Scale shape: three independent map-only scans, each reduced by a
    single combiner-friendly aggregate to ONE row. No shuffle wider
    than a row.
    """

    def fp(df, cols, label):
        canon = F.concat_ws("|", *cols)
        h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")
        agg = df.select(h.alias("h")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias(
                "checksum"
            ),
            F.min("h").cast("long").alias("min_h"),
            F.max("h").cast("long").alias("max_h"),
        )
        return agg.select(
            F.lit(label).alias("table_name"),
            "n_rows", "checksum", "min_h", "max_h",
        )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    d = _t(spark, sf_dir, "documents")
    f_o = fp(
        o,
        [
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
            F.col("o_orderdate").cast("string"),
            F.col("o_orderpriority"),
        ],
        "orders",
    )
    f_li = fp(
        li,
        [
            F.col("l_orderkey").cast("string"),
            F.col("l_partkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_quantity").cast("long").cast("string"),
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .cast("string"),
            F.col("l_returnflag"),
        ],
        "lineitem",
    )
    f_d = fp(
        d,
        [
            F.col("doc_id").cast("string"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars").cast("string"),
            F.md5(F.col("text")),
        ],
        "documents",
    )
    return f_o.unionByName(f_li).unionByName(f_d).orderBy("table_name")


QUERIES["q161_table_fingerprint"] = q161_table_fingerprint

ORACLES["q161_table_fingerprint"] = f"""
    WITH o_rows AS (
      SELECT {_hex15_sql(
        "md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
        " || '|' || o_orderstatus || '|' ||"
        " CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)"
        " || '|' || CAST(o_orderdate AS VARCHAR) || '|' || o_orderpriority)"
      )} AS h FROM orders),
    li_rows AS (
      SELECT {_hex15_sql(
        "md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)"
        " || '|' || CAST(l_linenumber AS VARCHAR) || '|' ||"
        " CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || '|' ||"
        " CAST(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR)"
        " || '|' || l_returnflag)"
      )} AS h FROM lineitem),
    d_rows AS (
      SELECT {_hex15_sql(
        "md5(CAST(doc_id AS VARCHAR) || '|' || lang || '|' || source"
        " || '|' || CAST(n_chars AS VARCHAR) || '|' || md5(text))"
      )} AS h FROM documents)
    SELECT 'documents' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(h AS HUGEINT)) AS VARCHAR) AS checksum,
           CAST(MIN(h) AS BIGINT) AS min_h, CAST(MAX(h) AS BIGINT) AS max_h
    FROM d_rows
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(h AS HUGEINT)) AS VARCHAR),
           CAST(MIN(h) AS BIGINT), CAST(MAX(h) AS BIGINT)
    FROM li_rows
    UNION ALL
    SELECT 'orders', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(h AS HUGEINT)) AS VARCHAR),
           CAST(MIN(h) AS BIGINT), CAST(MAX(h) AS BIGINT)
    FROM o_rows
    ORDER BY table_name
"""


def q162_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting IN-ENGINE: score the naive (yesterday) and
    seasonal-naive (same weekday last week) forecasters against the
    daily order-revenue series and report MAE/MAPE per horizon — the
    model-evaluation loop a demand-forecasting pipeline runs over
    every series it owns (here one global series; per-key is the same
    plan with a partition column).

    Exactness: daily revenue is exact cents; absolute errors are
    exact int64; MAPE accumulates floor(1e9 * |a-f| / a) FIXED-POINT
    per day (the q155 maneuver — a SUM of doubles would differ by
    fold order across engines) and divides ONCE at the end; MAE is
    one division of exact ints. Only days with BOTH actual and
    forecast score (the first 1/7 days have no lag — excluded by the
    lag window's natural NULL).

    Scale shape: orders reduce map-side to the |distinct days| frame;
    both lag features come from one ordered window over that reduced
    frame (below the Aggregate — sanctioned); the scorecard is a
    2-row arithmetic frame.
    """
    from pyspark.sql.window import Window as W

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("rev")
    )
    w = W.orderBy("day")
    feat = daily.select(
        "day",
        "rev",
        F.lag("rev", 1).over(w).alias("f1"),
        F.lag("rev", 7).over(w).alias("f7"),
    )

    def score(fcol, label):
        ae = F.abs(F.col("rev") - F.col(fcol))
        ape_q9 = F.floor(
            ae.cast("double") * F.lit(1000000000.0)
            / F.col("rev").cast("double")
        ).cast("long")
        g = feat.where(F.col(fcol).isNotNull() & (F.col("rev") > 0)).agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(ae).cast("long").alias("sum_ae_cents"),
            F.sum(ape_q9).cast("long").alias("sum_ape_q9"),
        )
        return g.select(
            F.lit(label).alias("forecaster"),
            "n_days",
            (
                F.col("sum_ae_cents").cast("double")
                / F.col("n_days").cast("double")
            ).alias("mae_cents"),
            (
                F.col("sum_ape_q9").cast("double")
                / (F.col("n_days") * F.lit(1000000000)).cast("double")
            ).alias("mape"),
        )

    return (
        score("f1", "naive_lag1")
        .unionByName(score("f7", "seasonal_lag7"))
        .orderBy("forecaster")
    )


QUERIES["q162_backtest_mape"] = q162_backtest_mape

ORACLES["q162_backtest_mape"] = """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    feat AS (
      SELECT day, rev,
             LAG(rev, 1) OVER (ORDER BY day) AS f1,
             LAG(rev, 7) OVER (ORDER BY day) AS f7
      FROM daily),
    s1 AS (
      SELECT 'naive_lag1' AS forecaster,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(ABS(rev - f1)) AS BIGINT) AS sum_ae,
             CAST(SUM(CAST(FLOOR(CAST(ABS(rev - f1) AS DOUBLE)
               * 1000000000.0 / CAST(rev AS DOUBLE)) AS BIGINT))
               AS BIGINT) AS sum_ape_q9
      FROM feat WHERE f1 IS NOT NULL AND rev > 0),
    s7 AS (
      SELECT 'seasonal_lag7' AS forecaster,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(ABS(rev - f7)) AS BIGINT) AS sum_ae,
             CAST(SUM(CAST(FLOOR(CAST(ABS(rev - f7) AS DOUBLE)
               * 1000000000.0 / CAST(rev AS DOUBLE)) AS BIGINT))
               AS BIGINT) AS sum_ape_q9
      FROM feat WHERE f7 IS NOT NULL AND rev > 0)
    SELECT forecaster, n_days,
           CAST(sum_ae AS DOUBLE) / CAST(n_days AS DOUBLE) AS mae_cents,
           CAST(sum_ape_q9 AS DOUBLE)
             / CAST(n_days * 1000000000 AS DOUBLE) AS mape
    FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s7)
    ORDER BY forecaster
"""


def q165_item_cf_recommendations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Item-item collaborative filtering, end to end in-engine: build
    the co-purchase similarity matrix from order baskets, then serve
    every customer their top-3 unowned parts by summed similarity to
    what they already bought — q125 mines the pair statistics; this
    closes the loop into the actual recommender read path.

    Exactness: the similarity is squared cosine over basket sets,
    sim = c_ab^2 / (c_a * c_b), held in 1e-9 FIXED POINT via integer
    division (DIV / // floor semantics agree for the all-positive
    counts), so per-candidate scores are exact int64 SUMS — no double
    ever crosses an aggregation — and the top-3 cut (score desc,
    part asc) is deterministic in both engines.

    Scale shape: pair counts explode only WITHIN baskets (<= 7 lines
    per order -> <= 21 pairs, the q125 bound — never item x item);
    a min-support-2 gate bounds the similarity matrix; candidate
    generation is an equi-join of the customer's item set against
    that matrix on the item key; the ownership exclusion is a
    left-anti on (customer, part); the per-customer top-3 window
    partitions on custkey (maximum parallelism, no funnel).
    """
    from pyspark.sql.window import Window as W

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c_item = _item_support_cached(spark, sf_dir)
    pairs = _basket_pairs_cached(spark, sf_dir).where(F.col("c_ab") >= 2)
    ca = c_item.select(F.col("l_partkey").alias("pa"), F.col("c").alias("c_a"))
    cb = c_item.select(F.col("l_partkey").alias("pb"), F.col("c").alias("c_b"))
    sims = (
        pairs.join(F.broadcast(ca), "pa")
        .join(F.broadcast(cb), "pb")
        .select(
            "pa", "pb",
            F.expr(
                "CAST((1000000000 * c_ab * c_ab) DIV (c_a * c_b) AS BIGINT)"
            ).alias("sim_q9"),
        )
        # consumed by BOTH orientations of the union below: checkpoint
        # or the basket self-join runs twice (the band-frame maneuver)
        .localCheckpoint(eager=False)
    )
    both = sims.unionByName(
        sims.select(
            F.col("pb").alias("pa"), F.col("pa").alias("pb"), "sim_q9"
        )
    )
    owned = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_partkey")
        .distinct()
        # consumed twice (candidate join + ownership anti-join)
        .localCheckpoint(eager=False)
    )
    cand = (
        owned.join(both, owned["l_partkey"] == both["pa"])
        .select("o_custkey", F.col("pb").alias("rec"), "sim_q9")
        .join(
            owned.select(
                F.col("o_custkey").alias("oc"), F.col("l_partkey").alias("op")
            ),
            (F.col("o_custkey") == F.col("oc")) & (F.col("rec") == F.col("op")),
            "left_anti",
        )
        .groupBy("o_custkey", "rec")
        .agg(F.sum("sim_q9").cast("long").alias("score_q9"))
    )
    w = W.partitionBy("o_custkey").orderBy(F.desc("score_q9"), F.asc("rec"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "o_custkey",
            F.col("rank").cast("int").alias("rank"),
            "rec",
            "score_q9",
        )
        .orderBy("o_custkey", "rank")
    )


QUERIES["q165_item_cf_recommendations"] = q165_item_cf_recommendations

ORACLES["q165_item_cf_recommendations"] = """
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    c_item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM basket GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2),
    sims AS (
      SELECT pa, pb,
             (1000000000 * c_ab * c_ab) // (ca.c * cb.c) AS sim_q9
      FROM pairs
      JOIN c_item ca ON pairs.pa = ca.l_partkey
      JOIN c_item cb ON pairs.pb = cb.l_partkey),
    bidi AS (
      SELECT pa, pb, sim_q9 FROM sims
      UNION ALL
      SELECT pb, pa, sim_q9 FROM sims),
    owned AS (
      SELECT DISTINCT o.o_custkey, li.l_partkey
      FROM orders o JOIN lineitem li ON o.o_orderkey = li.l_orderkey),
    cand AS (
      SELECT w.o_custkey, b.pb AS rec,
             CAST(SUM(b.sim_q9) AS BIGINT) AS score_q9
      FROM owned w JOIN bidi b ON w.l_partkey = b.pa
      WHERE NOT EXISTS (
        SELECT 1 FROM owned w2
        WHERE w2.o_custkey = w.o_custkey AND w2.l_partkey = b.pb)
      GROUP BY 1, 2),
    ranked AS (
      SELECT o_custkey, rec, score_q9,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY score_q9 DESC, rec) AS rank
      FROM cand)
    SELECT o_custkey, CAST(rank AS INT) AS rank, rec, score_q9
    FROM ranked WHERE rank <= 3
    ORDER BY o_custkey, rank
"""


def q166_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END TO END: blocking -> pairwise match ->
    transitive clustering -> per-cluster golden record, composed from
    the engine's own primitives (q69's blocked fuzzy match proposes
    the edges, the q66 connected-components operator clusters them,
    the survivorship rule picks the cluster's best attributes) — the
    full master-data-management dataflow, not just its pieces.

    Identity model: customers and suppliers live in one node space
    (customer -> 2k, supplier -> 2k+1 — collision-free int encoding);
    an edge means "same nation AND name suffixes within edit distance
    1" (the blocking keeps the fuzzy predicate off the cross
    product); a CLUSTER is the transitive closure of matches, so
    A~B~C links A to C even when A and C never matched directly —
    the behavior that separates entity resolution from a fuzzy join.

    Spark runs the scalable iterative min-label propagation
    (operators/connected_components.py); the oracle runs an
    INDEPENDENT recursive-CTE transitive closure (the q66
    convention). Exactness: counts are int64, balances exact cents,
    the golden balance is a MAX.

    Scale shape: the edge proposal is an equi-join on the blocking
    key with the edit distance evaluated only within blocks; the
    component loop touches edges only (never entity payloads); the
    golden-record join attaches attributes AFTER clustering, once per
    matched entity.
    """
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        F.substring("c_name", 10, 99).alias("cn"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("c_bal"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey",
        F.substring("s_name", 10, 99).alias("sn"),
        F.round(F.col("s_acctbal") * 100, 0).cast("long").alias("s_bal"),
    )
    edges = (
        c.join(s, c["c_nationkey"] == s["s_nationkey"])
        .where(F.levenshtein("cn", "sn") <= 1)
        .select(
            (F.col("c_custkey") * 2).alias("id_a"),
            (F.col("s_suppkey") * 2 + 1).alias("id_b"),
        )
    )
    from dataingestiontohana_spark.operators.connected_components import (
        connected_components,
    )

    comp = connected_components(edges)
    entities = c.select(
        (F.col("c_custkey") * 2).alias("node"),
        F.lit(1).alias("is_cust"),
        F.col("c_bal").alias("bal"),
    ).unionByName(
        s.select(
            (F.col("s_suppkey") * 2 + 1).alias("node"),
            F.lit(0).alias("is_cust"),
            F.col("s_bal").alias("bal"),
        )
    )
    clustered = comp.join(entities, "node")
    return (
        clustered.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("is_cust").cast("long").alias("n_customers"),
            (F.count(F.lit(1)) - F.sum("is_cust")).cast("long").alias(
                "n_suppliers"
            ),
            F.max("bal").cast("long").alias("golden_bal_cents"),
        )
        .orderBy("component")
    )


QUERIES["q166_entity_resolution"] = q166_entity_resolution

ORACLES["q166_entity_resolution"] = """
    WITH RECURSIVE
    match_pairs AS (
      SELECT c_custkey * 2 AS a, s_suppkey * 2 + 1 AS b
      FROM customer JOIN supplier ON c_nationkey = s_nationkey
      WHERE levenshtein(substring(c_name, 10), substring(s_name, 10)) <= 1),
    edges AS (
      SELECT a, b FROM match_pairs
      UNION SELECT b, a FROM match_pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    lbl AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a),
    entities AS (
      SELECT c_custkey * 2 AS node, 1 AS is_cust,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal
      FROM customer
      UNION ALL
      SELECT s_suppkey * 2 + 1, 0,
             CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)
      FROM supplier)
    SELECT l.component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(e.is_cust) AS BIGINT) AS n_customers,
           CAST(COUNT(*) - SUM(e.is_cust) AS BIGINT) AS n_suppliers,
           CAST(MAX(e.bal) AS BIGINT) AS golden_bal_cents
    FROM lbl l JOIN entities e ON l.node = e.node
    GROUP BY l.component
    ORDER BY l.component
"""


def q167_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite over four tables —
    eleven rules COMPILED into one aggregate pass per table plus one
    broadcast anti-join per referential rule
    (operators/expectations.py). The reference's manual wiretap
    inspection before data reaches HANA (README.md:56-65), made
    mechanical: uniqueness, null, domain, range, and FK expectations
    as DATA, with exact int64 pass/fail accounting the oracle replays
    rule for rule.
    """
    from dataingestiontohana_spark.operators.expectations import (
        Expectation,
        run_expectations,
    )

    rules = [
        Expectation("orders_pk_unique", "orders", "o_orderkey", "unique"),
        Expectation("orders_cust_not_null", "orders", "o_custkey", "not_null"),
        Expectation(
            "orders_price_range", "orders", "o_totalprice", "between",
            {"lo": 0.0, "hi": 1_000_000.0},
        ),
        Expectation(
            "orders_status_domain", "orders", "o_orderstatus",
            "accepted_values", {"values": ["O", "F", "P"]},
        ),
        Expectation(
            "orders_cust_fk", "orders", "o_custkey", "fk",
            {"ref_table": "customer", "ref_column": "c_custkey"},
        ),
        Expectation(
            "lineitem_line_unique", "lineitem",
            "l_orderkey|l_linenumber", "unique",
        ),
        Expectation(
            "lineitem_qty_range", "lineitem", "l_quantity", "between",
            {"lo": 1.0, "hi": 50.0},
        ),
        Expectation(
            "lineitem_disc_range", "lineitem", "l_discount", "between",
            {"lo": 0.0, "hi": 0.1},
        ),
        Expectation("docs_text_not_null", "documents", "text", "not_null"),
        Expectation(
            "docs_lang_domain", "documents", "lang", "accepted_values",
            {"values": ["de", "en", "es", "fr", "zh"]},
        ),
        Expectation(
            "events_type_domain", "events", "event_type",
            "accepted_values",
            {"values": ["view", "click", "purchase", "signup", "error"]},
        ),
    ]
    return run_expectations(
        lambda t: _t(spark, sf_dir, t), rules
    ).orderBy("rule_id")


QUERIES["q167_expectation_suite"] = q167_expectation_suite

ORACLES["q167_expectation_suite"] = """
    WITH o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_pk,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS f_cust,
             CAST(SUM(CASE WHEN o_totalprice IS NULL
                        OR o_totalprice < 0.0
                        OR o_totalprice > 1000000.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS f_price,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL
                        OR o_orderstatus NOT IN ('O','F','P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS f_status
      FROM orders),
    ofk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS f_fk
      FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
    li AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT CAST(l_orderkey AS VARCHAR) || chr(31)
               || CAST(l_linenumber AS VARCHAR)) AS BIGINT) AS d_line,
             CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
                        OR l_quantity > 50.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS f_qty,
             CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                        OR l_discount > 0.1 THEN 1 ELSE 0 END)
               AS BIGINT) AS f_disc
      FROM lineitem),
    d AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS f_text,
             CAST(SUM(CASE WHEN lang IS NULL
                        OR lang NOT IN ('de','en','es','fr','zh')
                       THEN 1 ELSE 0 END) AS BIGINT) AS f_lang
      FROM documents),
    e AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type IS NULL OR event_type NOT IN
                 ('view','click','purchase','signup','error')
                 THEN 1 ELSE 0 END) AS BIGINT) AS f_type
      FROM events),
    rows_out AS (
      SELECT 'orders_pk_unique' AS rule_id, 'orders' AS table_name,
             'o_orderkey' AS column_name, 'unique' AS kind,
             n AS n_checked, n - d_pk AS n_failed FROM o
      UNION ALL SELECT 'orders_cust_not_null', 'orders', 'o_custkey',
             'not_null', n, f_cust FROM o
      UNION ALL SELECT 'orders_price_range', 'orders', 'o_totalprice',
             'between', n, f_price FROM o
      UNION ALL SELECT 'orders_status_domain', 'orders', 'o_orderstatus',
             'accepted_values', n, f_status FROM o
      UNION ALL SELECT 'orders_cust_fk', 'orders', 'o_custkey', 'fk',
             o.n, ofk.f_fk FROM o CROSS JOIN ofk
      UNION ALL SELECT 'lineitem_line_unique', 'lineitem',
             'l_orderkey|l_linenumber', 'unique', n, n - d_line FROM li
      UNION ALL SELECT 'lineitem_qty_range', 'lineitem', 'l_quantity',
             'between', n, f_qty FROM li
      UNION ALL SELECT 'lineitem_disc_range', 'lineitem', 'l_discount',
             'between', n, f_disc FROM li
      UNION ALL SELECT 'docs_text_not_null', 'documents', 'text',
             'not_null', n, f_text FROM d
      UNION ALL SELECT 'docs_lang_domain', 'documents', 'lang',
             'accepted_values', n, f_lang FROM d
      UNION ALL SELECT 'events_type_domain', 'events', 'event_type',
             'accepted_values', n, f_type FROM e)
    SELECT rule_id, table_name, column_name, kind,
           CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_failed AS BIGINT) AS n_failed,
           CAST(CASE WHEN n_failed = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS passed
    FROM rows_out
    ORDER BY rule_id
"""


def q169_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation: order-header totals vs the sum of
    their line amounts (extendedprice * (1-discount) * (1+tax)),
    classified into exact-match / rounding-band / mismatch — the
    closing-the-books audit every billing pipeline runs, and the
    canonical header-vs-detail consistency check for an ingest gate.

    Exactness: the line amount is computed ENTIRELY in scaled
    integers — cents * (100 - disc_pts) * (100 + tax_pts) is an exact
    int64 on the q4 grid (peak ~1e11 per line) — and the header total
    scales onto the same grid, so the per-order difference is an
    exact integer, immune to the float-rounding disputes this audit
    exists to settle. Tolerance bands are integer comparisons
    (<= 1 cent on the q4 grid = 10000).

    Scale shape: lineitem reduces map-side per order (shuffle on
    orderkey), one join against the header (both sides keyed by
    orderkey — co-partitioned, or bucketed via the q72 layout), one
    final 3-row classification aggregate.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc = F.round(F.col("l_discount") * 100, 0).cast("long")
    tax = F.round(F.col("l_tax") * 100, 0).cast("long")
    line_q4 = cents * (F.lit(100) - disc) * (F.lit(100) + tax)
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(line_q4).cast("long").alias("lines_q4"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    hdr = o.select(
        "o_orderkey",
        (F.round(F.col("o_totalprice") * 100, 0).cast("long") * F.lit(10000))
        .alias("hdr_q4"),
    )
    j = hdr.join(per_order, hdr["o_orderkey"] == per_order["l_orderkey"])
    diff = F.abs(F.col("hdr_q4") - F.col("lines_q4"))
    band = (
        F.when(diff == 0, "exact")
        .when(diff <= 10000, "rounding_band")  # within one cent
        .otherwise("mismatch")
    )
    return (
        j.select(band.alias("band"), diff.alias("d"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("d").cast("decimal(38,0)").cast("string").alias(
                "total_abs_diff_q4"
            ),
            F.max("d").cast("long").alias("max_abs_diff_q4"),
        )
        .orderBy("band")
    )


QUERIES["q169_order_reconciliation"] = q169_order_reconciliation

ORACLES["q169_order_reconciliation"] = """
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))
                 * (100 + CAST(ROUND(l_tax * 100, 0) AS BIGINT)))
               AS BIGINT) AS lines_q4,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT ABS(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) * 10000
                 - p.lines_q4) AS d
      FROM orders o JOIN per_order p ON o.o_orderkey = p.l_orderkey)
    SELECT CASE WHEN d = 0 THEN 'exact'
                WHEN d <= 10000 THEN 'rounding_band'
                ELSE 'mismatch' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(d AS HUGEINT)) AS VARCHAR) AS total_abs_diff_q4,
           CAST(MAX(d) AS BIGINT) AS max_abs_diff_q4
    FROM j
    GROUP BY 1
    ORDER BY 1
"""


def q172_salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED join under a planted power-law key, adjudicated for
    result-equality: a third of all orders collapse onto ONE customer
    key (the classic hot-key shuffle killer — one reducer receives a
    third of the fact table), the engine runs the join through
    `operators/skew.salted_join` (hot rows spread across 16 salted
    reducers, the small side replicated x16), and the oracle runs the
    PLAIN join — the hash match is the proof that salting is
    result-invariant, on real data, under real skew.

    Exactness: revenue in exact cents; one rounded division per
    group.

    Scale shape: the big side never shuffles wider than (key, salt);
    the small (dimension) side pays the x16 replication — the right
    trade at any scale where the dimension broadcasts or nearly does.
    AQE's runtime skew splitting handles the same case adaptively
    (session.py enables it); the static salt is for the planner-
    visible version of the problem and for sort-merge paths AQE
    cannot split.
    """
    from dataingestiontohana_spark.operators.skew import salted_join

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    hot = o.select(
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    joined = salted_join(hot, c, "c_custkey", n_salts=16)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("decimal(38,0)").cast("string").alias(
                "rev_cents"
            ),
        )
        .orderBy("c_mktsegment")
    )


QUERIES["q172_salted_hot_key_join"] = q172_salted_hot_key_join

ORACLES["q172_salted_hot_key_join"] = """
    WITH hot AS (
      SELECT CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE o_custkey END
               AS c_custkey,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders)
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(h.cents AS HUGEINT)) AS VARCHAR) AS rev_cents
    FROM hot h JOIN customer c ON h.c_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY 1
"""

def q188_incremental_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL sessionization — the merge law that lets a daily
    job sessionize only the new partition and fold it into yesterday's
    per-user state instead of re-scanning history: sessionize each
    half of the corpus independently (split at the integer midpoint
    timestamp), then merge per user with the gap rule's boundary
    algebra — the ONLY session that can fuse across the split is
    (last H1 session, first H2 session), and it fuses exactly when
    min(H2 ts) <= max(H1 ts) + 30min. So the incremental state per
    user is three values (session count, event count, last event
    timestamp — kept at FULL microsecond precision so the fuse test
    is the identical interval comparison the gap rule uses), not a
    session list.

    The DuckDB oracle replays BATCH sessionization over the unsplit
    corpus — the hash match IS the incremental == recompute proof
    (the q164 maintenance pattern, applied to a stateful windowed
    operator instead of a join view).

    Exactness: the split point is integer epoch-second midpoint
    arithmetic (non-negative floor); session counting is the q47
    lag/cumsum form; all outputs are int64.

    Scale shape: each half sessionizes with one user-partitioned
    window over ITS OWN rows only (the incremental claim); the merge
    is a full outer join of two per-user frames on the same key plus
    pure arithmetic — no window over the union ever runs.
    """
    e = _t(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    bounds = e.agg(
        F.min(sec).alias("t0"), F.max(sec).alias("t1")
    )
    mid = (F.col("t0") + F.floor((F.col("t1") - F.col("t0")) / 2)).cast(
        "long"
    )
    tagged = e.join(F.broadcast(bounds)).select(
        "user_id", "ts", "event_id", sec.alias("s"), mid.alias("mid")
    )

    def _half_stats(df, label):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        prev = F.lag("ts").over(w)
        new_sess = F.when(
            prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTE")),
            1,
        ).otherwise(0)
        # keep boundary times as FULL-PRECISION timestamps: the fuse
        # test below must use the same microsecond-exact interval
        # comparison as the in-half gap rule (and the batch oracle) —
        # truncated epoch seconds would fuse a cross-boundary gap in
        # (1800s, 1801s) that batch sessionization keeps split
        return (
            df.select("user_id", "ts", "event_id", new_sess.alias("b"))
            .groupBy("user_id")
            .agg(
                F.sum("b").cast("long").alias(f"n_sess_{label}"),
                F.count(F.lit(1)).cast("long").alias(f"n_ev_{label}"),
                F.min("ts").alias(f"first_{label}"),
                F.max("ts").alias(f"last_{label}"),
            )
        )

    h1 = _half_stats(tagged.where(F.col("s") <= F.col("mid")), "h1")
    h2 = _half_stats(tagged.where(F.col("s") > F.col("mid")), "h2")
    z = F.lit(0).cast("long")
    merged = h1.join(h2, "user_id", "full_outer").select(
        "user_id",
        (
            F.coalesce("n_sess_h1", z)
            + F.coalesce("n_sess_h2", z)
            - F.when(
                F.col("n_sess_h1").isNotNull()
                & F.col("n_sess_h2").isNotNull()
                & (
                    F.col("first_h2")
                    <= F.col("last_h1") + F.expr("INTERVAL 30 MINUTE")
                ),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("long")
        ).alias("n_sessions"),
        (F.coalesce("n_ev_h1", z) + F.coalesce("n_ev_h2", z)).alias(
            "n_events"
        ),
    )
    return merged.orderBy("user_id")


QUERIES["q188_incremental_sessionize"] = q188_incremental_sessionize

ORACLES["q188_incremental_sessionize"] = """
    WITH marked AS (
      SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS b
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           CAST(SUM(b) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM marked
    GROUP BY user_id
    ORDER BY user_id
"""

def q189_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori 3-itemset mining — the step after q125's pairs that
    most "frequent itemset" workloads actually stop at: the top-20
    most co-purchased part TRIPLES, enumerated only from items that
    individually clear a minimum support (the apriori downward-closure
    prune: an infrequent item can't appear in a frequent triple).

    Exactness: supports are int64 counts; the min-support cut is an
    integer comparison; the top-20 ties break on (pa, pb, pc).

    Scale shape: the apriori prune shrinks the per-basket item list
    BEFORE enumeration (the scale lever — raising min_support bounds
    the fan-out regardless of catalog size); triples come from two
    chained self-joins ON THE BASKET KEY with pa < pb < pc (fan-out
    <= C(basket,3), never cross-basket); supports reduce with
    map-side combine and the top-20 is a TakeOrderedAndProject.
    """
    items = _basket_items_cached(spark, sf_dir)
    min_support = 2
    freq = (
        _item_support_cached(spark, sf_dir)
        .where(F.col("c") >= min_support)
        .select("l_partkey")
    )
    fitems = items.join(F.broadcast(freq), "l_partkey").select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p")
    )
    a = fitems.select("k", F.col("p").alias("pa"))
    b = fitems.select("k", F.col("p").alias("pb"))
    c = fitems.select("k", F.col("p").alias("pc"))
    triples = (
        a.join(b, "k")
        .where(F.col("pa") < F.col("pb"))
        .join(c, "k")
        .where(F.col("pb") < F.col("pc"))
        .groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .orderBy(F.col("support").desc(), "pa", "pb", "pc")
        .limit(20)
    )
    return triples


QUERIES["q189_basket_triples"] = q189_basket_triples

ORACLES["q189_basket_triples"] = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
    freq AS (
      SELECT p FROM items GROUP BY p HAVING COUNT(*) >= 2),
    fitems AS (
      SELECT i.k, i.p FROM items i JOIN freq f USING (p))
    SELECT a.p AS pa, b.p AS pb, c.p AS pc,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM fitems a
    JOIN fitems b ON a.k = b.k AND a.p < b.p
    JOIN fitems c ON b.k = c.k AND b.p < c.p
    GROUP BY 1, 2, 3
    ORDER BY support DESC, pa, pb, pc
    LIMIT 20
"""

def q190_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume revenue-bridge decomposition — the variance
    analysis every finance review runs on a period-over-period
    revenue move: per brand, how much of the change from the first
    half of the ship history to the second is VOLUME (units moved at
    the old price) vs PRICE (new units at the new vs old unit
    price). Brands present in only one half are pure volume
    (launches and discontinuations).

    Exactness: quantities and cents are int64 sums of
    grid-quantized scans; the period split is integer midpoint day
    arithmetic; both effects are single expressions over exact
    integers with IDENTICAL structure on both engines, ROUND 4;
    delta_cents is an exact integer (and equals volume + price
    effects up to the display rounding, by algebra).

    Scale shape: ONE lineitem scan reduces map-side to (brand, half)
    cells after a broadcast join to the part dim; the halves then
    collapse to one row per brand via conditional sums in the same
    aggregate — no self-join, no window; output is |brands| rows.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    sd = F.col("l_shipdate").cast("date")
    bounds = li.agg(F.min(sd).alias("d0"), F.max(sd).alias("d1"))
    is_h1 = F.datediff(sd, F.col("d0")) <= F.floor(
        F.datediff(F.col("d1"), F.col("d0")) / 2
    ).cast("int")
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    cells = (
        li.join(F.broadcast(bounds))
        .join(F.broadcast(p.select("p_partkey", "p_brand")),
              li["l_partkey"] == p["p_partkey"])
        .select(
            "p_brand",
            is_h1.alias("h1"),
            qty.alias("q"),
            cents.alias("c"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(F.col("h1"), F.col("q")).otherwise(0))
            .cast("long").alias("q0"),
            F.sum(F.when(~F.col("h1"), F.col("q")).otherwise(0))
            .cast("long").alias("q1"),
            F.sum(F.when(F.col("h1"), F.col("c")).otherwise(0))
            .cast("long").alias("c0"),
            F.sum(F.when(~F.col("h1"), F.col("c")).otherwise(0))
            .cast("long").alias("c1"),
        )
    )
    vol = F.when(F.col("q0") == 0, F.col("c1").cast("double")).when(
        F.col("q1") == 0, -F.col("c0").cast("double")
    ).otherwise(
        (F.col("q1") - F.col("q0")).cast("double")
        * F.col("c0").cast("double")
        / F.col("q0").cast("double")
    )
    price = F.when(
        (F.col("q0") == 0) | (F.col("q1") == 0), F.lit(0.0)
    ).otherwise(
        F.col("c1").cast("double")
        - F.col("q1").cast("double")
        * F.col("c0").cast("double")
        / F.col("q0").cast("double")
    )
    return cells.select(
        "p_brand", "q0", "q1", "c0", "c1",
        (F.col("c1") - F.col("c0")).cast("long").alias("delta_cents"),
        F.round(vol, 4).alias("volume_effect"),
        F.round(price, 4).alias("price_effect"),
    ).orderBy("p_brand")


QUERIES["q190_revenue_bridge"] = q190_revenue_bridge

ORACLES["q190_revenue_bridge"] = """
    WITH bounds AS (
      SELECT MIN(CAST(l_shipdate AS DATE)) AS d0,
             MAX(CAST(l_shipdate AS DATE)) AS d1
      FROM lineitem),
    cells AS (
      SELECT p.p_brand,
             CAST(SUM(CASE WHEN date_diff('day', b.d0,
                    CAST(l.l_shipdate AS DATE))
                  <= CAST(floor(date_diff('day', b.d0, b.d1) / 2.0)
                          AS INTEGER)
                  THEN CAST(ROUND(l.l_quantity, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS q0,
             CAST(SUM(CASE WHEN date_diff('day', b.d0,
                    CAST(l.l_shipdate AS DATE))
                  > CAST(floor(date_diff('day', b.d0, b.d1) / 2.0)
                         AS INTEGER)
                  THEN CAST(ROUND(l.l_quantity, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS q1,
             CAST(SUM(CASE WHEN date_diff('day', b.d0,
                    CAST(l.l_shipdate AS DATE))
                  <= CAST(floor(date_diff('day', b.d0, b.d1) / 2.0)
                          AS INTEGER)
                  THEN CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN date_diff('day', b.d0,
                    CAST(l.l_shipdate AS DATE))
                  > CAST(floor(date_diff('day', b.d0, b.d1) / 2.0)
                         AS INTEGER)
                  THEN CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS c1
      FROM lineitem l
      CROSS JOIN bounds b
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1)
    SELECT p_brand, q0, q1, c0, c1,
           CAST(c1 - c0 AS BIGINT) AS delta_cents,
           ROUND(CASE WHEN q0 = 0 THEN CAST(c1 AS DOUBLE)
                      WHEN q1 = 0 THEN -CAST(c0 AS DOUBLE)
                      ELSE CAST(q1 - q0 AS DOUBLE) * CAST(c0 AS DOUBLE)
                           / CAST(q0 AS DOUBLE) END, 4) AS volume_effect,
           ROUND(CASE WHEN q0 = 0 OR q1 = 0 THEN 0.0
                      ELSE CAST(c1 AS DOUBLE)
                           - CAST(q1 AS DOUBLE) * CAST(c0 AS DOUBLE)
                             / CAST(q0 AS DOUBLE) END, 4) AS price_effect
    FROM cells
    ORDER BY p_brand
"""

def q192_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record-linkage blocking (Hernandez-Stolfo):
    pool customer and supplier records, sort ONCE by the match key
    (the numeric name suffix), and propose only cross-source pairs
    within a rank window of w=3 — the third blocking discipline in
    the linkage family (q69 equi-blocks on a shared attribute, q166
    clusters transitively; sorted-neighborhood needs NO shared
    categorical block, just an ordering, and its candidate count is
    linear: <= (w-1) * n instead of any block's quadratic product).
    Survivors verify with levenshtein <= 1, exactly q69's verify
    step.

    Exactness: the sort key is an int64; ranks come from the
    two-pass bucketed-rank operator with full tie-breaks (key, src,
    rid) so the neighborhood is a total order both engines agree on;
    the edit distance is an integer.

    Scale shape: one union scan, one bucketed-rank pass (bounded
    windows), then an equi-join on the rank key itself (left side
    exploded to 2 offset rows) — co-partitioned, linear fan-out,
    never a block product.
    """
    from dataingestiontohana_spark.operators.ranks import bucketed_ranks

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"),
        F.lit("C").alias("src"),
        F.substring("c_name", 10, 99).alias("nm"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"),
        F.lit("S").alias("src"),
        F.substring("s_name", 10, 99).alias("nm"),
    )
    pool = c.unionByName(s).withColumn("k", F.col("nm").cast("long"))
    ranked = bucketed_ranks(
        pool, "k", tie_cols=("src", "rid")
    ).select("rid", "src", "nm", "g_rn")
    left = ranked.select(
        F.col("rid").alias("rid_a"), F.col("src").alias("src_a"),
        F.col("nm").alias("nm_a"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("off"),
        F.col("g_rn").alias("rn_a"),
    ).withColumn("rn_b", F.col("rn_a") + F.col("off"))
    right = ranked.select(
        F.col("rid").alias("rid_b"), F.col("src").alias("src_b"),
        F.col("nm").alias("nm_b"), F.col("g_rn").alias("rn_b"),
    )
    dist = F.levenshtein("nm_a", "nm_b")
    pairs = (
        left.join(right, "rn_b")
        .where(F.col("src_a") != F.col("src_b"))
        .where(dist <= 1)
        .select(
            F.when(F.col("src_a") == "C", F.col("rid_a"))
            .otherwise(F.col("rid_b")).alias("c_custkey"),
            F.when(F.col("src_a") == "C", F.col("rid_b"))
            .otherwise(F.col("rid_a")).alias("s_suppkey"),
            dist.cast("int").alias("dist"),
            F.col("off").cast("int").alias("rank_gap"),
        )
    )
    return pairs.orderBy("c_custkey", "s_suppkey", "rank_gap")


QUERIES["q192_sorted_neighborhood"] = q192_sorted_neighborhood

ORACLES["q192_sorted_neighborhood"] = """
    WITH pool AS (
      SELECT c_custkey AS rid, 'C' AS src, substring(c_name, 10) AS nm
      FROM customer
      UNION ALL
      SELECT s_suppkey, 'S', substring(s_name, 10) FROM supplier),
    ranked AS (
      SELECT rid, src, nm,
             ROW_NUMBER() OVER (ORDER BY CAST(nm AS BIGINT), src, rid)
               AS rn
      FROM pool),
    pairs AS (
      SELECT a.rid AS rid_a, a.src AS src_a, a.nm AS nm_a,
             b.rid AS rid_b, b.src AS src_b, b.nm AS nm_b,
             (b.rn - a.rn) AS rank_gap
      FROM ranked a JOIN ranked b
        ON b.rn - a.rn IN (1, 2)
      WHERE a.src <> b.src
        AND levenshtein(a.nm, b.nm) <= 1)
    SELECT CASE WHEN src_a = 'C' THEN rid_a ELSE rid_b END AS c_custkey,
           CASE WHEN src_a = 'C' THEN rid_b ELSE rid_a END AS s_suppkey,
           CAST(levenshtein(nm_a, nm_b) AS INTEGER) AS dist,
           CAST(rank_gap AS INTEGER) AS rank_gap
    FROM pairs
    ORDER BY c_custkey, s_suppkey, rank_gap
"""

def q194_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1, the canonical pricing-summary report, in EXACT
    decimal arithmetic: per (returnflag, linestatus) over lineitems
    shipped on or before the 90-days-before-max cutoff — sum qty,
    base price, discounted price, charge, the three averages, and
    the row count. The marquee scan-heavy aggregate every engine
    demos; here every money cell is DECIMAL end-to-end (the q71
    discipline), so the result is bit-identical across engines and
    aggregation orders, not a last-ulp double.

    Exactness: inputs are 2-decimal values on the cents grid;
    disc_price is exact at scale 4, charge at scale 6; sums widen to
    DECIMAL(38,6); decimals serialize as fixed-scale strings (the q71
    round-trip rule). The three averages are HALF_UP at scale 6
    computed in PURE integer arithmetic — A = (2*S + n) div (2*n)
    with S the sum in 1e-6 units — because DuckDB's DECIMAL/DECIMAL
    division returns DOUBLE (r6 advisor finding): routing the oracle's
    quotient through binary floating point is a latent last-ulp flake
    at an exact halfway sixth decimal. Integer div/mod + lpad builds
    the identical fixed-scale string in both engines (sums are
    positive, so trunc == floor and the +n tie-break is HALF_UP).
    The date cutoff is integer day arithmetic against the corpus max
    ship date.

    Scale shape: ONE lineitem scan with the ship-date filter pushed
    to parquet, one 4-row hash aggregate with map-side combine —
    TPC-H Q1's textbook plan.
    """
    li = _t(spark, sf_dir, "lineitem")
    cutoff = li.agg(
        F.date_sub(F.max(F.col("l_shipdate").cast("date")), 90).alias("cut")
    )
    d = lambda p, s: f"decimal({p},{s})"  # noqa: E731
    qty = F.col("l_quantity").cast(d(18, 2))
    price = F.col("l_extendedprice").cast(d(18, 2))
    disc = F.col("l_discount").cast(d(18, 2))
    tax = F.col("l_tax").cast(d(18, 2))
    disc_price = (price * (F.lit(1).cast(d(18, 2)) - disc)).cast(d(18, 4))
    charge = (
        price
        * (F.lit(1).cast(d(18, 2)) - disc)
        * (F.lit(1).cast(d(18, 2)) + tax)
    ).cast(d(18, 6))
    base = li.join(F.broadcast(cutoff)).where(
        F.col("l_shipdate").cast("date") <= F.col("cut")
    )
    agg = base.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast(d(38, 2)).alias("sum_qty"),
        F.sum(price).cast(d(38, 2)).alias("sum_base_price"),
        F.sum(disc_price).cast(d(38, 4)).alias("sum_disc_price"),
        F.sum(charge).cast(d(38, 6)).alias("sum_charge"),
        F.sum(disc).cast(d(38, 2)).alias("sum_disc"),
        F.count(F.lit(1)).cast("long").alias("count_order"),
    )
    def avg6(col):
        # S = sum scaled to 1e-6 units (exact — the sums are scale 2);
        # A = round_half_up(S / n) = (2S + n) div (2n); string via
        # div/mod so no decimal division runs in either engine
        a = (
            f"((2 * CAST({col} * 10000 AS DECIMAL(38,0)) + count_order)"
            f" div (2 * count_order))"
        )
        return F.expr(
            f"concat({a} div 1000000, '.', "
            f"lpad(CAST({a} % 1000000 AS STRING), 6, '0'))"
        )

    return agg.select(
        "l_returnflag", "l_linestatus",
        F.col("sum_qty").cast("string").alias("sum_qty"),
        F.col("sum_base_price").cast("string").alias("sum_base_price"),
        F.col("sum_disc_price").cast("string").alias("sum_disc_price"),
        F.col("sum_charge").cast("string").alias("sum_charge"),
        avg6("sum_qty").alias("avg_qty"),
        avg6("sum_base_price").alias("avg_price"),
        avg6("sum_disc").alias("avg_disc"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


QUERIES["q194_tpch_pricing_summary"] = q194_tpch_pricing_summary

ORACLES["q194_tpch_pricing_summary"] = """
    WITH cutoff AS (
      SELECT MAX(CAST(l_shipdate AS DATE)) - 90 AS cut FROM lineitem),
    agg AS (
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS sum_base_price,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2)))
                  AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_disc_price,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2)))
                  * (CAST(1 AS DECIMAL(18,2))
                     + CAST(l_tax AS DECIMAL(18,2)))
                  AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sum_charge,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS sum_disc,
             CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem CROSS JOIN cutoff
      WHERE CAST(l_shipdate AS DATE) <= cut
      GROUP BY 1, 2)
    SELECT l_returnflag, l_linestatus,
           CAST(sum_qty AS VARCHAR) AS sum_qty,
           CAST(sum_base_price AS VARCHAR) AS sum_base_price,
           CAST(sum_disc_price AS VARCHAR) AS sum_disc_price,
           CAST(sum_charge AS VARCHAR) AS sum_charge,
           concat(((2 * CAST(sum_qty * 10000 AS HUGEINT) + count_order)
                   // (2 * count_order)) // 1000000, '.',
                  lpad(CAST(((2 * CAST(sum_qty * 10000 AS HUGEINT)
                              + count_order) // (2 * count_order))
                            % 1000000 AS VARCHAR), 6, '0')) AS avg_qty,
           concat(((2 * CAST(sum_base_price * 10000 AS HUGEINT)
                    + count_order) // (2 * count_order)) // 1000000, '.',
                  lpad(CAST(((2 * CAST(sum_base_price * 10000 AS HUGEINT)
                              + count_order) // (2 * count_order))
                            % 1000000 AS VARCHAR), 6, '0')) AS avg_price,
           concat(((2 * CAST(sum_disc * 10000 AS HUGEINT) + count_order)
                   // (2 * count_order)) // 1000000, '.',
                  lpad(CAST(((2 * CAST(sum_disc * 10000 AS HUGEINT)
                              + count_order) // (2 * count_order))
                            % 1000000 AS VARCHAR), 6, '0')) AS avg_disc,
           count_order
    FROM agg
    ORDER BY l_returnflag, l_linestatus
"""

def q198_childless_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse-direction completeness audit — q123 catches orphan
    CHILDREN (fact rows pointing at missing dimensions); this catches
    childless PARENTS (orders that never shipped a line item,
    customers that never ordered): the reconciliation direction that
    signals dropped feeds or half-loaded partitions rather than bad
    keys. Reported per relationship with the coverage rate.

    Exactness: counts are int64 from distinct-reduced key frames;
    the coverage rate is one division ROUND 6.

    Scale shape: each side reduces to its DISTINCT key set map-side
    BEFORE the left-anti join (so the join input is |keys|, not
    |rows|); two relationships = two independent anti-joins unioned
    into a 2-row report.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")

    def audit(rel, parents, children):
        p = parents.distinct()
        ch = children.distinct()
        n_par = p.agg(F.count(F.lit(1)).cast("long").alias("n_parents"))
        childless = p.join(ch, p["pk"] == ch["ck"], "left_anti")
        n_cl = childless.agg(
            F.count(F.lit(1)).cast("long").alias("childless")
        )
        return (
            n_par.join(F.broadcast(n_cl))
            .select(
                F.lit(rel).alias("relationship"),
                "n_parents", "childless",
                F.when(F.col("n_parents") == 0, F.lit(0.0))
                .otherwise(
                    F.round(
                        (F.col("n_parents") - F.col("childless"))
                        .cast("double")
                        / F.col("n_parents").cast("double"),
                        6,
                    )
                )
                .alias("coverage"),
            )
        )

    a = audit(
        "orders->lineitem",
        o.select(F.col("o_orderkey").alias("pk")),
        li.select(F.col("l_orderkey").alias("ck")),
    )
    b = audit(
        "customer->orders",
        c.select(F.col("c_custkey").alias("pk")),
        o.select(F.col("o_custkey").alias("ck")),
    )
    return a.unionByName(b).orderBy("relationship")


QUERIES["q198_childless_parents"] = q198_childless_parents

ORACLES["q198_childless_parents"] = """
    WITH a AS (
      SELECT 'orders->lineitem' AS relationship,
             (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
              FROM orders) AS n_parents,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT DISTINCT o_orderkey FROM orders) p
              WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                WHERE l.l_orderkey = p.o_orderkey))
               AS childless),
    b AS (
      SELECT 'customer->orders' AS relationship,
             (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
              FROM customer) AS n_parents,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT DISTINCT c_custkey FROM customer) p
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = p.c_custkey))
               AS childless)
    SELECT relationship, n_parents, childless,
           CASE WHEN n_parents = 0 THEN 0.0
                ELSE ROUND(CAST(n_parents - childless AS DOUBLE)
                         / CAST(n_parents AS DOUBLE), 6) END AS coverage
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    ORDER BY relationship
"""
