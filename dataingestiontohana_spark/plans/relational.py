"""Batch relational surface: the 24 declared queries of SURVEY.md §2.3.

The reference exhibits no relational query engine (it is a streaming-ETL
tutorial, `/root/reference/README.md:1`); this module supplies the batch
query surface the new engine declares on top of the same data model.
Each query is built with the DataFrame API (Catalyst plans it: predicate
pushdown, column pruning, broadcast-vs-shuffle join choice, partial
aggregation are all automatic) and carries the identical ANSI-SQL oracle
string run by DuckDB.

Scale notes (100 TB design intent, verified on the local plans):
- Filters/projections sit directly on the parquet scan (PushedFilters).
- nation/region are always broadcast (25 / 5 rows at every SF).
- Aggregations are hash-agg with map-side partial aggregation.
- Window queries shuffle once on the partition key only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataingestiontohana_spark.catalog import load_table, local_rows


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- Q1-Q4


def q01_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + filter + project. Filter pushes into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


def q02_compound_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN + BETWEEN compound predicate; both push down."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(
            F.col("o_orderstatus").isin("F", "O")
            & F.col("o_totalprice").between(1000, 5000)
        )
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


def q03_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("b"),
        F.substring("p_name", 1, 5).alias("pfx"),
        F.length("p_type").alias("tl"),
    ).orderBy("p_partkey")


def q04_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date cast + net-price math.

    The product of two 2-decimal doubles is a true 4-decimal value that
    often sits exactly on a .xx5 rounding boundary; rounding the raw
    double diverges between engines (decimal-string HALF_UP vs binary).
    Recovering the exact value as DECIMAL(18,4) first makes ROUND(.,2)
    deterministic — the oracle does the identical cast.
    """
    li = _t(spark, sf_dir, "lineitem")
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.where(F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("d"),
            F.round(net, 2).cast("double").alias("net"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ------------------------------------------------------------- joins Q5-Q9


def q05_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-way equi-join; nation (25 rows) is explicitly broadcast."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .select("c_custkey", "c_name", "n_name")
        .orderBy("c_custkey")
    )


def q06_multiway_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join + grouped revenue.

    Join order: filter region first (1 row), broadcast region+nation so
    the only shuffles are the two fact-table joins and the final agg.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def q07_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + COUNT(col) null semantics (unmatched -> 0)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("cnt"))
        .orderBy("o_orderkey")
    )


def q08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS -> left-semi join; the subquery filter applies pre-join."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 49)
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


def q09_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS -> left-anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


# ------------------------------------------------------- aggregation Q10-Q13


def q10_hash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: hash agg with partial (map-side) aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sq"),
            F.round(F.avg("l_extendedprice"), 2).alias("ap"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q11_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("uc"))
        .orderBy("o_orderstatus")
    )


def q12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    return (
        n.rollup("n_regionkey", "n_nationkey")
        .agg(F.count("*").alias("c"))
        .orderBy(
            F.col("n_regionkey").asc_nulls_first(),
            F.col("n_nationkey").asc_nulls_first(),
        )
    )


def q13_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("c"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# ------------------------------------------------------------ windows Q14-Q16


def q14_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window + top-k per group: one shuffle on o_custkey."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


def q15_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
    ).orderBy("user_id", "event_id")


def q16_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame running sum. The test data has duplicate l_linenumber
    values within an order, so the frame order adds l_quantity as a
    tiebreak — that makes the *multiset* of running sums deterministic
    (tied rows contribute identical quantities in either order)."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 2).alias("run"),
    ).orderBy("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------- set ops Q17


def q17_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT binds tighter than UNION/EXCEPT (SQL standard):
    ((customer ∩ supplier) ∪ nation[r=0]) \\ {999}, all DISTINCT forms.
    """
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    n = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_regionkey") == 0)
        .select(F.col("n_nationkey").alias("k"))
    )
    nine = local_rows(spark, [(999,)], "k int")
    return c.intersect(s).union(n).distinct().subtract(nine).orderBy("k")


# ------------------------------------------------- dedup / json / time Q18-Q20


def q18_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the reference's exactly-once kernel: duplicate
    suppression by key (`/root/reference/README.md:130-139`)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("c"))
        .orderBy("event_type")
    )


def q19_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .orderBy("event_id")
    )


def q20_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch analogue of a tumbling event-time window (SURVEY §2.2)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("h"),
            "event_type",
        )
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 2).alias("sv"))
        .orderBy("h", "event_type")
    )


# ------------------------------------------------------------ audit Q24
# Q21-Q23 (text/embeddings) live in llm_text.py / llm_similarity.py.


def q84_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain time rollup (hour-within-day, day, grand total) in
    ONE aggregation — see operators/rollup.py::hypertable_rollup for
    the scale contract (one scan for all grains, grouping sets with
    map-side partial combine)."""
    from dataingestiontohana_spark.operators.rollup import hypertable_rollup

    e = _t(spark, sf_dir, "events")
    return hypertable_rollup(
        e,
        "ts",
        [F.count(F.lit(1)).alias("c"), F.round(F.sum("value"), 2).alias("sv")],
    ).orderBy("grain", "d", "h")


def q24_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own oracle (SURVEY §5.1): exactly-once <=>
    rows = distinct keys = key span (loss check `README.md:94-99`,
    dup check `README.md:121-126`). Run here on the events table's
    monotonically increasing event_id as the counter proxy; the
    streaming harness runs the same audit on its sensor sink.
    """
    e = _t(spark, sf_dir, "events")
    return e.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("uniq"),
        (F.max("event_id") - F.min("event_id") + F.lit(1)).alias("span"),
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q86_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling: per-column stats (count / nulls / distinct /
    min / max) for lineitem's numeric measures in ONE scan — the
    ingest-acceptance check every landed table gets before it enters a
    pipeline. Unpivot to (column, value) rows then a 4-key aggregation
    with map-side partial combine: at 100 TB this is one pass with a
    4-row shuffle payload per map task, not one scan per column.
    All-exact outputs (counts are integers; min/max return an input
    double verbatim), so the oracle comparison needs no rounding."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        [], _PROFILE_COLS, "col_name", "val"
    )
    return (
        long.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").isNull().cast("bigint")).alias("n_null"),
            F.countDistinct("val").alias("n_distinct"),
            F.min("val").alias("min_v"),
            F.max("val").alias("max_v"),
        )
        .orderBy("col_name")
    )


QUERIES = {
    "q01_filter_project": q01_filter_project,
    "q02_compound_predicates": q02_compound_predicates,
    "q03_string_functions": q03_string_functions,
    "q04_date_math": q04_date_math,
    "q05_inner_join": q05_inner_join,
    "q06_multiway_join_agg": q06_multiway_join_agg,
    "q07_left_outer_join": q07_left_outer_join,
    "q08_semi_join": q08_semi_join,
    "q09_anti_join": q09_anti_join,
    "q10_hash_agg": q10_hash_agg,
    "q11_distinct_agg": q11_distinct_agg,
    "q12_rollup": q12_rollup,
    "q13_cube": q13_cube,
    "q14_topk_per_group": q14_topk_per_group,
    "q15_lag": q15_lag,
    "q16_running_sum": q16_running_sum,
    "q17_set_ops": q17_set_ops,
    "q18_dedup": q18_dedup,
    "q19_json_extract": q19_json_extract,
    "q20_time_bucket": q20_time_bucket,
    "q84_hypertable_rollup": q84_hypertable_rollup,
    "q24_ingest_audit": q24_ingest_audit,
    "q86_profile": q86_profile,
}

ORACLES = {
    "q01_filter_project": """
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber
    """,
    "q02_compound_predicates": """
        SELECT o_orderkey, o_orderstatus FROM orders
        WHERE o_orderstatus IN ('F','O') AND o_totalprice BETWEEN 1000 AND 5000
        ORDER BY o_orderkey
    """,
    "q03_string_functions": """
        SELECT p_partkey, UPPER(p_brand) AS b, SUBSTRING(p_name, 1, 5) AS pfx,
               LENGTH(p_type) AS tl
        FROM part ORDER BY p_partkey
    """,
    "q04_date_math": """
        SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS d,
               CAST(ROUND(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4)), 2) AS DOUBLE) AS net
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        ORDER BY l_orderkey, l_linenumber
    """,
    "q05_inner_join": """
        SELECT c_custkey, c_name, n_name FROM customer
        JOIN nation ON c_nationkey = n_nationkey ORDER BY c_custkey
    """,
    "q06_multiway_join_agg": """
        SELECT n_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
    "q07_left_outer_join": """
        SELECT o_orderkey, COUNT(l_orderkey) AS cnt FROM orders
        LEFT JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey ORDER BY o_orderkey
    """,
    "q08_semi_join": """
        SELECT p_partkey, p_name FROM part
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity > 49)
        ORDER BY p_partkey
    """,
    "q09_anti_join": """
        SELECT c_custkey FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
    """,
    "q10_hash_agg": """
        SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sq,
               ROUND(AVG(l_extendedprice), 2) AS ap, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q11_distinct_agg": """
        SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS uc FROM orders
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q12_rollup": """
        SELECT n_regionkey, n_nationkey, COUNT(*) AS c FROM nation
        GROUP BY ROLLUP (n_regionkey, n_nationkey)
        ORDER BY n_regionkey NULLS FIRST, n_nationkey NULLS FIRST
    """,
    "q13_cube": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS c FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "q14_topk_per_group": """
        SELECT * FROM (
          SELECT o_custkey, o_orderkey,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
        WHERE rn <= 3 ORDER BY o_custkey, rn
    """,
    "q15_lag": """
        SELECT user_id, event_id, value,
               ROUND(value - LAG(value) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id), 2) AS delta
        FROM events ORDER BY user_id, event_id
    """,
    "q16_running_sum": """
        SELECT l_orderkey, l_linenumber,
               ROUND(SUM(l_quantity) OVER (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_quantity
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run
        FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    "q17_set_ops": """
        SELECT c_nationkey AS k FROM customer
        INTERSECT SELECT s_nationkey FROM supplier
        UNION SELECT n_nationkey FROM nation WHERE n_regionkey = 0
        EXCEPT SELECT 999
        ORDER BY k
    """,
    "q18_dedup": """
        SELECT event_type, COUNT(*) AS c FROM
          (SELECT DISTINCT user_id, event_type FROM events) t
        GROUP BY event_type ORDER BY event_type
    """,
    "q19_json_extract": """
        SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
        FROM events WHERE event_type = 'purchase' ORDER BY event_id
    """,
    "q20_time_bucket": """
        SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS c,
               ROUND(SUM(value), 2) AS sv
        FROM events GROUP BY 1, 2 ORDER BY h, event_type
    """,
    "q84_hypertable_rollup": """
        SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
                    WHEN GROUPING(d) = 0 THEN 'day'
                    ELSE 'total' END AS grain,
               d, h, COUNT(*) AS c, ROUND(SUM(value), 2) AS sv
        FROM (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                     date_trunc('hour', ts) AS h, value
              FROM events) t
        GROUP BY ROLLUP(d, h)
        ORDER BY grain, d, h
    """,
    "q24_ingest_audit": """
        SELECT COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS uniq,
               MAX(event_id) - MIN(event_id) + 1 AS span
        FROM events
    """,
    "q86_profile": """
        WITH long AS (
          SELECT col_name, val FROM (
            SELECT 'l_quantity' AS col_name, l_quantity AS val FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT 'l_discount', l_discount FROM lineitem
            UNION ALL
            SELECT 'l_tax', l_tax FROM lineitem))
        SELECT col_name, COUNT(*) AS n,
               CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               COUNT(DISTINCT val) AS n_distinct,
               MIN(val) AS min_v, MAX(val) AS max_v
        FROM long GROUP BY col_name ORDER BY col_name
    """,
}


def q97_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: view ->
    click -> purchase, strictly time-ordered PER USER (a click only
    counts after that user's first view; a purchase only after that
    click) — the product-analytics primitive every event warehouse
    ships, and a shape windows alone cannot express without a
    whole-user sort.

    Formulation: three stage aggregations, each one shuffle of
    REDUCED rows keyed on user_id, chained by joins of the per-user
    stage-timestamp frames (|users| rows — Catalyst broadcasts them
    when they fit under autoBroadcastJoinThreshold and falls back to
    a shuffle join at extreme user counts; no forced hint, so the
    plan degrades safely instead of OOMing). Counts and the exact
    integer->double conversion ratios are bit-reproducible.
    """
    e = _t(spark, sf_dir, "events")
    s1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    # no broadcast hint on the per-user stage frames: they are |users|
    # rows, which fits under autoBroadcastJoinThreshold at any sane
    # scale but NOT at extreme user counts — let Catalyst/AQE pick
    # broadcast when it fits and fall back to a shuffle join safely
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    # one lazy single-row plan (the q65 crossJoin-of-aggs pattern) —
    # no driver-side counting, one action end to end
    row = (
        e.agg(F.countDistinct("user_id").alias("users"))
        .crossJoin(s1.agg(F.count(F.lit(1)).alias("viewed")))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("clicked")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("purchased")))
    )
    rate = lambda num, den: F.when(F.col(den) == 0, F.lit(0.0)).otherwise(  # noqa: E731
        F.col(num).cast("double") / F.col(den).cast("double")
    )
    return row.select(
        F.col("users").cast("bigint").alias("users"),
        F.col("viewed").cast("bigint").alias("viewed"),
        F.col("clicked").cast("bigint").alias("clicked"),
        F.col("purchased").cast("bigint").alias("purchased"),
        rate("clicked", "viewed").alias("click_rate"),
        rate("purchased", "clicked").alias("purchase_rate"),
    )


def q98_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week,
    counted as retained in each of the next 3 weeks if they emitted
    ANY event then — the other half of the product-analytics pair
    (q97 funnels within a journey; this tracks the journey across
    calendar time).

    Shape: one aggregation to (user, first_week), one distinct
    (user, week) reduction, a join of the cohort frame (|users| rows
    — broadcast when it fits, no forced hint), then conditional
    counts per cohort — every
    exchange carries user-keyed scalars, never raw events. Week
    arithmetic is FLOOR division of day counts (both sides: Spark
    F.floor, SQL floor(x/7.0) — NOT DuckDB's `//`, which truncates
    toward zero and would diverge for pre-epoch-date events), so
    counts are engine-exact for any event date.
    """
    e = _t(spark, sf_dir, "events")
    wk = F.floor(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7
    ).cast("int")
    uw = e.select("user_id", wk.alias("week")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    j = uw.join(cohort, "user_id").withColumn(
        "offset", F.col("week") - F.col("cohort_week")
    )
    agg = [F.countDistinct("user_id").alias("users")] + [
        F.countDistinct(
            F.when(F.col("offset") == k, F.col("user_id"))
        ).alias(f"w{k}")
        for k in range(4)
    ]
    return j.groupBy("cohort_week").agg(*agg).orderBy("cohort_week")


QUERIES["q97_funnel"] = q97_funnel
QUERIES["q98_retention"] = q98_retention

ORACLES["q97_funnel"] = """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id),
    c AS (
      SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS users,
             (SELECT COUNT(*) FROM s1) AS viewed,
             (SELECT COUNT(*) FROM s2) AS clicked,
             (SELECT COUNT(*) FROM s3) AS purchased)
    SELECT CAST(users AS BIGINT) AS users,
           CAST(viewed AS BIGINT) AS viewed,
           CAST(clicked AS BIGINT) AS clicked,
           CAST(purchased AS BIGINT) AS purchased,
           CASE WHEN viewed = 0 THEN 0.0
                ELSE CAST(clicked AS DOUBLE) / CAST(viewed AS DOUBLE) END
             AS click_rate,
           CASE WHEN clicked = 0 THEN 0.0
                ELSE CAST(purchased AS DOUBLE) / CAST(clicked AS DOUBLE) END
             AS purchase_rate
    FROM c
"""

ORACLES["q98_retention"] = """
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        / 7.0) AS INT) AS week
      FROM events),
    cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id),
    j AS (
      SELECT uw.user_id, cohort.cohort_week,
             uw.week - cohort.cohort_week AS off
      FROM uw JOIN cohort USING (user_id))
    SELECT cohort_week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
           CAST(COUNT(DISTINCT CASE WHEN off = 0 THEN user_id END)
                AS BIGINT) AS w0,
           CAST(COUNT(DISTINCT CASE WHEN off = 1 THEN user_id END)
                AS BIGINT) AS w1,
           CAST(COUNT(DISTINCT CASE WHEN off = 2 THEN user_id END)
                AS BIGINT) AS w2,
           CAST(COUNT(DISTINCT CASE WHEN off = 3 THEN user_id END)
                AS BIGINT) AS w3
    FROM j GROUP BY cohort_week ORDER BY cohort_week
"""


def q99_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward —
    the hypertable `time_bucket_gapfill`/`locf` pair (TimescaleDB's
    names for it): densify the hourly per-type spectrum so every
    (event_type, hour) slot exists, then impute empty slots from the
    most recent observed bucket.

    LOCF is expressed as gaps-and-islands — ``grp`` = running count
    of NON-NULL observations per type (rows-unbounded window), then
    MAX within (type, grp) — instead of IGNORE NULLS window syntax,
    so the identical formulation runs in ANSI SQL. Windows partition
    on event_type: never single-partition. The spectrum comes from a
    1-row bounds frame cross-joined onto the type list (the sanctioned
    literal-attach shape) and THEN exploded, so the only wide data
    pass is the one bucket aggregation; imputed values copy already-
    rounded numbers, so every cell is engine-exact.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.round(F.sum("value"), 2).alias("sv"),
    )
    bounds = e.agg(
        F.min(F.date_trunc("hour", "ts")).alias("mn"),
        F.max(F.date_trunc("hour", "ts")).alias("mx"),
    )
    spec = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    j = spec.join(b, ["event_type", "h"], "left_outer")
    run = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = j.withColumn("grp", F.count("c").over(run))
    isl = Window.partitionBy("event_type", "grp")
    return (
        g.select(
            "event_type",
            "h",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("obs"),
            F.coalesce(F.max("c").over(isl), F.lit(0))
            .cast("bigint")
            .alias("filled_c"),
            F.coalesce(F.max("sv").over(isl), F.lit(0.0)).alias("filled_sv"),
            (F.col("c").isNull()).cast("bigint").alias("imputed"),
        )
        .orderBy("event_type", "h")
    )


QUERIES["q99_gapfill_locf"] = q99_gapfill_locf

ORACLES["q99_gapfill_locf"] = """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c,
             ROUND(SUM(value), 2) AS sv
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT MIN(date_trunc('hour', ts)) AS mn,
             MAX(date_trunc('hour', ts)) AS mx
      FROM events),
    hours AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM bounds),
    spec AS (
      SELECT t.event_type, hours.h
      FROM (SELECT DISTINCT event_type FROM events) t, hours),
    j AS (
      SELECT s.event_type, s.h, b.c, b.sv
      FROM spec s LEFT JOIN b USING (event_type, h)),
    g AS (
      SELECT *, COUNT(c) OVER (PARTITION BY event_type ORDER BY h
                               ROWS UNBOUNDED PRECEDING) AS grp
      FROM j)
    SELECT event_type, h,
           CAST(COALESCE(c, 0) AS BIGINT) AS obs,
           CAST(COALESCE(MAX(c) OVER (PARTITION BY event_type, grp), 0)
                AS BIGINT) AS filled_c,
           COALESCE(MAX(sv) OVER (PARTITION BY event_type, grp), 0.0)
             AS filled_sv,
           CAST(CASE WHEN c IS NULL THEN 1 ELSE 0 END AS BIGINT) AS imputed
    FROM g ORDER BY event_type, h
"""


def q100_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of event value over time (OLS slope +
    intercept) — the regression/trend member of the analytics family,
    computed from EXACT INTEGER sufficient statistics so the result
    is bit-reproducible: x = whole hours since 2024-01-01 (int), y =
    value on the 1e-4 ROUND grid (int), and n/Sx/Sy/Sxx/Sxy are exact
    DECIMAL(38,0) sums (HUGEINT in the oracle — int64 would overflow
    the n*Sxy products at ~11x sf0.1, and under Spark 4 ANSI mode
    that THROWS while DuckDB's HUGEINT sails on). slope =
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) is then ONE division of two
    exact integers — both engines produce the nearest double
    identically — and the intercept derives from slope with a fixed
    expression shape; a one-hour (den = 0) group emits slope 0.0
    instead of tripping ANSI divide-by-zero. (regr_slope/regr_intercept exist in both
    engines but sum doubles in engine-specific order; the
    sufficient-statistics form sidesteps that entirely — the same
    maneuver as q91's integer rarity stats.)

    Scale shape: one scan, one hash aggregation with map-side partial
    combine carrying five DECIMAL(38,0) cells per group. Nothing else.
    """
    e = _t(spark, sf_dir, "events")
    x = F.floor(
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
        )
        / 3600
    ).cast("bigint")
    y = F.round(F.col("value") * 10000, 0).cast("bigint")
    # sums and cross-products in DECIMAL(38,0): SUM(x*y) alone clears
    # int64 at ~1e12 rows and the n*Sxy products at ~11x sf0.1 (under
    # Spark 4 ANSI mode an int64 overflow THROWS; DuckDB's HUGEINT
    # would sail on — the worst kind of divergence). 38 digits give
    # ~1e12x headroom and both engines stay exact-integer.
    dec = "decimal(38,0)"
    g = (
        e.select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(F.col("x").cast(dec)).alias("sx"),
            F.sum(F.col("y").cast(dec)).alias("sy"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
            F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        )
    )
    num = g["n"] * g["sxy"] - g["sx"] * g["sy"]
    den = g["n"] * g["sxx"] - g["sx"] * g["sx"]
    # den = 0 when a type has all events in ONE hour (or n = 1): the
    # slope is undefined — emit 0.0 rather than tripping ANSI
    # divide-by-zero (the q97 ratio-guard convention)
    slope = F.when(den == 0, F.lit(0.0)).otherwise(
        num.cast("double") / den.cast("double")
    )
    intercept = (
        g["sy"].cast("double") - slope * g["sx"].cast("double")
    ) / g["n"].cast("double")
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope_q4_per_hour"),
        intercept.alias("intercept_q4"),
    ).orderBy("event_type")


def q101_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median absolute
    deviation (the estimator that, unlike stddev, a burst of
    anomalies cannot inflate) with the standard |x - med| > 3*MAD
    flag — the data-quality gate an ingest pipeline runs before
    accepting a batch.

    Exact interpolated percentiles on both sides (Spark `percentile`
    == DuckDB `quantile_cont`, the q65 identity), two reduced passes:
    medians per type (|types| rows, broadcast back), then MAD over
    the deviation column, then one conditional count. Displayed
    med/mad round to 4; the outlier comparison uses the unrounded
    doubles, which are identical in both engines because the
    interpolation arithmetic is.
    """
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                (F.col("adev") > 3 * F.col("mad")).cast("int")
            )
            .cast("bigint")
            .alias("outliers"),
        )
        .orderBy("event_type")
    )


QUERIES["q100_linear_trend"] = q100_linear_trend
QUERIES["q101_mad_outliers"] = q101_mad_outliers

ORACLES["q100_linear_trend"] = """
    WITH p AS (
      SELECT event_type,
             CAST(floor(date_diff('second',
                        TIMESTAMP '2024-01-01 00:00:00', ts) / 3600.0)
                  AS HUGEINT) AS x,
             CAST(round(value * 10000, 0) AS HUGEINT) AS y
      FROM events),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(x*y) AS sxy
      FROM p GROUP BY event_type),
    d AS (
      SELECT event_type, n, sx, sy,
             n*sxy - sx*sy AS num, n*sxx - sx*sx AS den
      FROM g),
    sl AS (
      SELECT event_type, n, sx, sy,
             CASE WHEN den = 0 THEN 0.0
                  ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END
               AS slope
      FROM d)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           slope AS slope_q4_per_hour,
           (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept_q4
    FROM sl ORDER BY event_type
"""

ORACLES["q101_mad_outliers"] = """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(d.med), 4) AS med,
           ROUND(MIN(m.mad), 4) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
"""


def q106_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (src, dst) event-type pair, how many times a
    user's next event was dst given src, and the conditional
    probability — the sequence model behind next-action prediction
    and bot detection (uniform rows flag scripted traffic).

    Exactness: counts are exact integers; prob is ONE division of two
    exact integers per row (nearest double, identical in both
    engines), displayed at full precision.

    Scale shape: the ONLY full-data operation is the lead() window
    PARTITIONED BY user_id — millions of small per-user frames, the
    shape Spark's window exec is built for (nothing funnels through
    one task; contrast the banned unpartitioned rank). Order within a
    user is (ts, event_id) so simultaneous events sequence
    deterministically. The pair aggregation reduces to at most
    |types|^2 rows with map-side combine, and src totals come from
    re-aggregating THAT tiny frame — no second scan, no broadcast of
    anything user-sized.
    """
    e = _t(spark, sf_dir, "events")
    return _transition_frame(e)


def _transition_frame(e: DataFrame) -> DataFrame:
    """The q106 dataflow over any events-shaped frame (user_id, ts,
    event_id, event_type) — split out so the per-user sequencing
    contract (transitions never cross a user boundary; simultaneous
    events order by event_id) is directly testable on planted frames
    (tests/test_sequences.py)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("dst", F.lead("event_type").over(w))
        .where(F.col("dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # feeds totals AND output join
    )
    tot = pairs.groupBy("src").agg(F.sum("cnt").alias("src_total"))
    return (
        pairs.join(F.broadcast(tot), "src")
        .select(
            "src",
            "dst",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("src_total").cast("bigint").alias("src_total"),
            (F.col("cnt").cast("double") / F.col("src_total").cast("double")
             ).alias("prob"),
        )
        .orderBy("src", "dst")
    )


def q107_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's hourly arrival-count
    series — the periodicity/burstiness detector (high positive r =
    sustained load waves, near 0 = Poisson-like arrivals) a pipeline
    runs before choosing partition layouts for time-keyed data.

    Exactness (the q100 sufficient-statistics maneuver end-to-end):
    the series is EXACT INTEGER hourly counts; consecutive present
    hours pair via lead() over the reduced per-type hourly frame
    (~720 rows per type — the sanctioned below-Aggregate window
    shape); n/Sx/Sy/Sxx/Syy/Sxy accumulate in DECIMAL(38,0); and
    r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))
    is exact-integer operands through one double multiply, one
    IEEE-correctly-rounded sqrt, one division — bit-identical across
    engines, no rounding needed. Gap hours pair across the gap (the
    series is the OBSERVED hours, documented; q99 covers gap-fill).
    Zero/degenerate variance emits r = 0.0 (the q100 den-guard).

    Scale shape: one scan -> groupBy(event_type, hour) with map-side
    combine (|types| * |hours| rows), windows and the final per-type
    aggregation all on that reduced frame. Nothing else touches the
    full table.
    """
    e = _t(spark, sf_dir, "events")
    return _autocorr_frame(e)


def _autocorr_frame(e: DataFrame) -> DataFrame:
    """The q107 dataflow over any events-shaped frame (event_type, ts)
    — split out so the pairing semantics (observed hours only; gap
    hours pair across the gap) and the exact-statistics r are directly
    testable on planted frames (tests/test_sequences.py)."""
    from pyspark.sql import Window

    hour = F.floor(
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(
                F.lit("2024-01-01 00:00:00").cast("timestamp")
            )
        )
        / 3600
    ).cast("bigint")
    hourly = (
        e.select("event_type", hour.alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    dec = "decimal(38,0)"
    pairs = (
        hourly.withColumn("y", F.lead("x").over(w))
        .where(F.col("y").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(F.col("x").cast(dec)).alias("sx"),
            F.sum(F.col("y").cast(dec)).alias("sy"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
            F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        )
    )
    num = (pairs["n"] * pairs["sxy"] - pairs["sx"] * pairs["sy"]).cast(
        "double"
    )
    dx = (pairs["n"] * pairs["sxx"] - pairs["sx"] * pairs["sx"]).cast(
        "double"
    )
    dy = (pairs["n"] * pairs["syy"] - pairs["sy"] * pairs["sy"]).cast(
        "double"
    )
    r = F.when((dx <= 0) | (dy <= 0), F.lit(0.0)).otherwise(
        num / F.sqrt(dx * dy)
    )
    return pairs.select(
        "event_type",
        F.col("n").cast("bigint").alias("pairs"),
        F.col("sx").cast("bigint").alias("sum_x"),
        r.alias("r1"),
    ).orderBy("event_type")


QUERIES["q106_markov_transitions"] = q106_markov_transitions
QUERIES["q107_hourly_autocorr"] = q107_hourly_autocorr

ORACLES["q106_markov_transitions"] = """
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events),
    pairs AS (
      SELECT src, dst, COUNT(*) AS cnt
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst),
    tot AS (SELECT src, SUM(cnt) AS src_total FROM pairs GROUP BY src)
    SELECT p.src, p.dst,
           CAST(p.cnt AS BIGINT) AS cnt,
           CAST(t.src_total AS BIGINT) AS src_total,
           CAST(p.cnt AS DOUBLE) / CAST(t.src_total AS DOUBLE) AS prob
    FROM pairs p JOIN tot t USING (src)
    ORDER BY src, dst
"""

ORACLES["q107_hourly_autocorr"] = """
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(date_diff('second',
                        TIMESTAMP '2024-01-01 00:00:00', ts) / 3600.0)
                  AS BIGINT) AS h,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, x,
             LEAD(x) OVER (PARTITION BY event_type ORDER BY h) AS y
      FROM hourly),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM lagged WHERE y IS NOT NULL GROUP BY event_type)
    SELECT event_type,
           CAST(n AS BIGINT) AS pairs,
           CAST(sx AS BIGINT) AS sum_x,
           CASE WHEN (n*sxx - sx*sx) <= 0 OR (n*syy - sy*sy) <= 0
                THEN 0.0
                ELSE CAST(n*sxy - sx*sy AS DOUBLE)
                     / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
                            * CAST(n*syy - sy*sy AS DOUBLE))
           END AS r1
    FROM g ORDER BY event_type
"""


def q114_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection per event type (Page 1954): over
    the hourly arrival-count series, S_k = sum_{i<=k} (n*x_i - N) —
    the mean-centered cumulative sum SCALED BY n so every value stays
    an exact integer (x_i's deviation from the mean N/n times n). The
    changepoint estimate is the hour maximizing |S_k|; s_max scaled
    back by 1/(n*N) gives a dimensionless shift score in [0, 1).

    Exactness: the whole statistic is integer arithmetic in
    DECIMAL(38,0) until the final score division (one IEEE division
    of exact operands). Argmax ties break on the EARLIEST hour.

    Scale shape: one scan reduced to |types| x |hours| integer counts
    (map-side combine), then windows and aggregations on that frame
    only — the same discipline as q107. The argmax avoids max_by
    (engine-specific tie rules): max(|S|) per type re-joins the tiny
    cusum frame and takes min(hour) at the max, deterministic in both
    engines.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    hour = F.floor(
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(
                F.lit("2024-01-01 00:00:00").cast("timestamp")
            )
        )
        / 3600
    ).cast("bigint")
    dec = "decimal(38,0)"
    hourly = (
        e.select("event_type", hour.alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast(dec).alias("x"))
    )
    tot = hourly.groupBy("event_type").agg(
        F.sum("x").alias("n_events"), F.count(F.lit(1)).cast(dec).alias("n_hours")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = (
        hourly.join(F.broadcast(tot), "event_type")
        .withColumn(
            "s",
            F.sum(F.col("x") * F.col("n_hours")).over(w)
            - F.col("n_events")
            * F.sum(F.lit(1).cast(dec)).over(w),
        )
        .select("event_type", "h", F.abs(F.col("s")).alias("abs_s"),
                "n_events", "n_hours")
        .localCheckpoint(eager=False)  # feeds the max agg AND the argmax
    )
    mx = cus.groupBy("event_type").agg(F.max("abs_s").alias("s_max"))
    return (
        cus.join(F.broadcast(mx), "event_type")
        .where(F.col("abs_s") == F.col("s_max"))
        .groupBy("event_type")
        .agg(
            F.first("n_hours").cast("bigint").alias("n_hours"),
            F.first("n_events").cast("bigint").alias("n_events"),
            F.min("h").cast("bigint").alias("cp_hour"),
            F.first("s_max").cast("bigint").alias("s_max"),
            (
                F.first("s_max").cast("double")
                / (F.first("n_hours") * F.first("n_events")).cast("double")
            ).alias("shift_score"),
        )
        .orderBy("event_type")
    )


QUERIES["q114_cusum_changepoint"] = q114_cusum_changepoint

ORACLES["q114_cusum_changepoint"] = """
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(date_diff('second',
                        TIMESTAMP '2024-01-01 00:00:00', ts) / 3600.0)
                  AS BIGINT) AS h,
             CAST(COUNT(*) AS HUGEINT) AS x
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, SUM(x) AS n_events,
             CAST(COUNT(*) AS HUGEINT) AS n_hours
      FROM hourly GROUP BY event_type),
    cus AS (
      SELECT h.event_type, h.h,
             abs(SUM(h.x * t.n_hours) OVER (
                   PARTITION BY h.event_type ORDER BY h.h
                   ROWS UNBOUNDED PRECEDING)
                 - t.n_events
                   * (ROW_NUMBER() OVER (
                        PARTITION BY h.event_type ORDER BY h.h)))
               AS abs_s,
             t.n_events, t.n_hours
      FROM hourly h JOIN tot t USING (event_type)),
    mx AS (SELECT event_type, MAX(abs_s) AS s_max
           FROM cus GROUP BY event_type)
    SELECT c.event_type,
           CAST(ANY_VALUE(c.n_hours) AS BIGINT) AS n_hours,
           CAST(ANY_VALUE(c.n_events) AS BIGINT) AS n_events,
           CAST(MIN(c.h) AS BIGINT) AS cp_hour,
           CAST(ANY_VALUE(m.s_max) AS BIGINT) AS s_max,
           CAST(ANY_VALUE(m.s_max) AS DOUBLE)
             / CAST(ANY_VALUE(c.n_hours) * ANY_VALUE(c.n_events) AS DOUBLE)
             AS shift_score
    FROM cus c JOIN mx m USING (event_type)
    WHERE c.abs_s = m.s_max
    GROUP BY c.event_type ORDER BY c.event_type
"""


def q115_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all
    pairwise slopes (x_j - x_i)/(h_j - h_i) over the hourly
    arrival-count series — the estimator that shrugs off the outlier
    bursts that drag q100's OLS slope around (29% breakdown point;
    Sen 1968).

    Exactness: every slope is ONE IEEE division of exact integers
    (deterministic doubles); the median is the exact interpolated
    percentile (Spark `percentile` == DuckDB `quantile_cont`, the
    q101 identity — a midpoint of two deterministic doubles).
    Displayed at 1e-6 rounding only to guard double formatting.

    Scale shape: events reduce to the |types| x |hours| integer frame
    FIRST (one map-side-combined shuffle); the pairwise self-join
    runs entirely on that reduced frame — pair count grows with the
    OBSERVED TIME SPAN squared, not data volume, so 100 TB of events
    over the same month yields the same ~260k pairs per type. The
    join is an equi-join on event_type with the h_j > h_i filter
    applied in the join condition.
    """
    e = _t(spark, sf_dir, "events")
    hour = F.floor(
        (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(
                F.lit("2024-01-01 00:00:00").cast("timestamp")
            )
        )
        / 3600
    ).cast("bigint")
    hourly = (
        e.select("event_type", hour.alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=False)  # both sides of the self-join
    )
    a = hourly.select(
        "event_type", F.col("h").alias("h1"), F.col("x").alias("x1")
    )
    b = hourly.select(
        "event_type", F.col("h").alias("h2"), F.col("x").alias("x2")
    )
    pairs = a.join(b, "event_type").where(F.col("h2") > F.col("h1"))
    slope = (F.col("x2") - F.col("x1")).cast("double") / (
        F.col("h2") - F.col("h1")
    ).cast("double")
    return (
        pairs.select("event_type", slope.alias("s"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.expr("percentile(s, 0.5)"), 6).alias(
                "ts_slope_per_hour"
            ),
        )
        .orderBy("event_type")
    )


QUERIES["q115_theil_sen"] = q115_theil_sen

ORACLES["q115_theil_sen"] = """
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(date_diff('second',
                        TIMESTAMP '2024-01-01 00:00:00', ts) / 3600.0)
                  AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT a.event_type,
             CAST(b.x - a.x AS DOUBLE) / CAST(b.h - a.h AS DOUBLE) AS s
      FROM hourly a JOIN hourly b
        ON a.event_type = b.event_type AND b.h > a.h)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(quantile_cont(s, 0.5), 6) AS ts_slope_per_hour
    FROM pairs GROUP BY event_type ORDER BY event_type
"""


def q117_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase attributes to the SAME
    user's most recent earlier 'view' within a 24 h window — the
    as-of-join pattern expressed as one conditional running MAX, the
    marketing/conversion primitive every event warehouse ships.

    Exactness: the attribution predicate compares exact epoch-second
    integers; lag sums are exact integers; avg_lag_min is ONE IEEE
    division (sum_sec / (60*n)) rounded to 2 for display.

    Scale shape: ONE window pass partitioned by user_id (millions of
    small frames, rows-preceding bound — no whole-table funnel, no
    self-join: the naive purchase x view as-of join shuffles the view
    side once per purchase row), then the purchases filter and a
    per-day aggregation with map-side combine.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    pur = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("lv", last_view)
        .where(F.col("event_type") == "purchase")
    )
    lag_sec = F.unix_timestamp(F.col("ts").cast("timestamp")) - F.unix_timestamp(
        F.col("lv").cast("timestamp")
    )
    att = F.col("lv").isNotNull() & (lag_sec <= 86400)
    g = (
        pur.select(
            F.col("ts").cast("date").cast("string").alias("d"),
            att.cast("int").alias("att"),
            F.when(att, lag_sec).otherwise(F.lit(0)).alias("lag_sec"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("purchases"),
            F.sum("att").cast("bigint").alias("attributed"),
            F.sum("lag_sec").cast("bigint").alias("lag_sum_sec"),
        )
    )
    avg_lag = F.when(F.col("attributed") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.col("lag_sum_sec").cast("double")
            / (F.lit(60) * F.col("attributed")).cast("double"),
            2,
        )
    )
    return g.select(
        "d", "purchases", "attributed", "lag_sum_sec",
        avg_lag.alias("avg_lag_min"),
    ).orderBy("d")


QUERIES["q117_last_touch_attribution"] = q117_last_touch_attribution


def q119_debounce_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce deduplication: per (user_id, event_type) stream, drop
    any event arriving < 600 s after its predecessor — the telemetry
    rate-limit / double-click suppressor every event pipeline ships.
    This is the window-expressible (lag-to-previous-ROW) variant; the
    drop-relative-to-last-KEPT variant is sequentially dependent per
    key and belongs to a stateful streaming operator
    (applyInPandasWithState), not a batch plan.

    Exactness: gaps are exact epoch-second integers; counts are int64;
    drop_pct is ONE exact-int division rounded for display.

    Scale shape: ONE window pass partitioned by (user_id, event_type)
    — millions of small frames, lag(1) only, no unbounded frame — then
    a map-side-combined aggregation onto ~5 event-type rows. No
    self-join: the naive formulation (t1 x t2 on key AND t2.ts in
    [t1.ts-600s, t1.ts)) re-shuffles the table once per side and
    explodes on hot keys.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_timestamp(F.col("ts").cast("timestamp")) - F.unix_timestamp(
        F.lag(F.col("ts").cast("timestamp")).over(w)
    )
    dropped = gap.isNotNull() & (gap < 600)
    g = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("dropped", dropped.cast("int"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total"),
            F.sum("dropped").cast("long").alias("dropped"),
        )
    )
    pct = F.round(
        (F.lit(100) * F.col("dropped")).cast("double")
        / F.col("total").cast("double"),
        2,
    )
    return g.select(
        "event_type", "total", "dropped",
        (F.col("total") - F.col("dropped")).cast("long").alias("kept"),
        pct.alias("drop_pct"),
    ).orderBy("event_type")


QUERIES["q119_debounce_dedup"] = q119_debounce_dedup

ORACLES["q119_debounce_dedup"] = """
    WITH g AS (
      SELECT event_type,
             CASE WHEN date_diff('second',
                    LAG(ts) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id),
                    ts) < 600 THEN 1 ELSE 0 END AS dropped
      FROM events),
    a AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(dropped) AS BIGINT) AS dropped
      FROM g GROUP BY event_type)
    SELECT event_type, total, dropped,
           CAST(total - dropped AS BIGINT) AS kept,
           ROUND(CAST(100 * dropped AS DOUBLE)
                 / CAST(total AS DOUBLE), 2) AS drop_pct
    FROM a ORDER BY event_type
"""

ORACLES["q117_last_touch_attribution"] = """
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv
      FROM events),
    pur AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
             CASE WHEN lv IS NOT NULL
                       AND date_diff('second', lv, ts) <= 86400
                  THEN 1 ELSE 0 END AS att,
             CASE WHEN lv IS NOT NULL
                       AND date_diff('second', lv, ts) <= 86400
                  THEN date_diff('second', lv, ts) ELSE 0 END AS lag_sec
      FROM marked WHERE event_type = 'purchase'),
    g AS (
      SELECT d,
             CAST(COUNT(*) AS BIGINT) AS purchases,
             CAST(SUM(att) AS BIGINT) AS attributed,
             CAST(SUM(lag_sec) AS BIGINT) AS lag_sum_sec
      FROM pur GROUP BY d)
    SELECT d, purchases, attributed, lag_sum_sec,
           CASE WHEN attributed = 0 THEN 0.0
                ELSE ROUND(CAST(lag_sum_sec AS DOUBLE)
                           / CAST(60 * attributed AS DOUBLE), 2)
           END AS avg_lag_min
    FROM g ORDER BY d
"""


def q122_range_frame_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour per-user activity via a RANGE window frame —
    count and value-sum of each user's events in (t-3599 s, t]: the
    time-interval frame (RANGE BETWEEN n PRECEDING) the rest of the
    window surface (ROWS frames, lag, first/last) doesn't exercise.
    RANGE semantics make ties deterministic: every row with an equal
    ordering value joins the frame, so no tie-break column is needed.

    Exactness: the frame bound compares exact epoch-second integers;
    value quantizes to an exact int64 cents grid BEFORE the windowed
    sum (a rolling sum of doubles would be summation-order-dependent
    across engines).

    Scale shape: ONE window pass partitioned by user_id — millions of
    small frames, bounded 1-hour lookback state per frame — no
    self-join (the naive t1 x t2 ON same user AND ts in window
    re-shuffles the table per side and squares hot users).
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-3599, Window.currentRow)
    )
    return (
        e.select("event_id", "user_id", sec.alias("s"), cents.alias("cents"))
        .select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).cast("long").alias("roll_n"),
            F.sum("cents").over(w).cast("long").alias("roll_cents"),
        )
        .orderBy("event_id")
    )


QUERIES["q122_range_frame_rolling"] = q122_range_frame_rolling

ORACLES["q122_range_frame_rolling"] = """
    WITH e AS (
      SELECT event_id, user_id,
             date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS s,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events)
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
           CAST(SUM(cents) OVER w AS BIGINT) AS roll_cents
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY s
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
"""


def q123_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key closure audit across the warehouse's three load-
    bearing relationships (lineitem→orders, lineitem→part,
    orders→customer): child rows, distinct child keys, orphan keys and
    orphan rows per FK — the ingest-acceptance gate that catches a
    partial dimension load before a join silently drops fact rows.

    Exactness: pure int64 counts.

    Scale shape: each FK audit REDUCES the child to its distinct-key
    frame first (map-side-combined groupBy), then anti-joins that
    |keys|-sized frame against the parent key column — the anti-join
    never carries fact rows, and for dimension-sized parents it
    broadcasts. No full-fact-vs-fact exchange anywhere.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")

    def audit(child, ckey, parent, pkey, name):
        keys = child.groupBy(F.col(ckey).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("rows")
        )
        orphans = keys.join(
            parent.select(F.col(pkey).alias("k")), "k", "left_anti"
        )
        tot = keys.agg(
            F.lit(name).alias("fk_name"),
            F.sum("rows").cast("long").alias("child_rows"),
            F.count(F.lit(1)).cast("long").alias("child_keys"),
        )
        orph = orphans.agg(
            F.coalesce(F.sum("rows"), F.lit(0)).cast("long").alias(
                "orphan_rows"
            ),
            F.count(F.lit(1)).cast("long").alias("orphan_keys"),
        )
        return tot.crossJoin(orph).select(
            "fk_name", "child_rows", "child_keys", "orphan_keys",
            "orphan_rows",
        )

    return (
        audit(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey")
        .unionByName(audit(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey"))
        .unionByName(audit(o, "o_custkey", c, "c_custkey", "orders.o_custkey"))
        .orderBy("fk_name")
    )


QUERIES["q123_referential_integrity"] = q123_referential_integrity

ORACLES["q123_referential_integrity"] = """
    WITH a1k AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS rows_
      FROM lineitem GROUP BY l_orderkey),
    a1 AS (
      SELECT 'lineitem.l_orderkey' AS fk_name,
             CAST(SUM(rows_) AS BIGINT) AS child_rows,
             CAST(COUNT(*) AS BIGINT) AS child_keys,
             CAST(COUNT(*) FILTER (WHERE k NOT IN
               (SELECT o_orderkey FROM orders)) AS BIGINT) AS orphan_keys,
             CAST(COALESCE(SUM(rows_) FILTER (WHERE k NOT IN
               (SELECT o_orderkey FROM orders)), 0) AS BIGINT) AS orphan_rows
      FROM a1k),
    a2k AS (
      SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS rows_
      FROM lineitem GROUP BY l_partkey),
    a2 AS (
      SELECT 'lineitem.l_partkey',
             CAST(SUM(rows_) AS BIGINT),
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE k NOT IN
               (SELECT p_partkey FROM part)) AS BIGINT),
             CAST(COALESCE(SUM(rows_) FILTER (WHERE k NOT IN
               (SELECT p_partkey FROM part)), 0) AS BIGINT)
      FROM a2k),
    a3k AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS rows_
      FROM orders GROUP BY o_custkey),
    a3 AS (
      SELECT 'orders.o_custkey',
             CAST(SUM(rows_) AS BIGINT),
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE k NOT IN
               (SELECT c_custkey FROM customer)) AS BIGINT),
             CAST(COALESCE(SUM(rows_) FILTER (WHERE k NOT IN
               (SELECT c_custkey FROM customer)), 0) AS BIGINT)
      FROM a3k)
    SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3
    ORDER BY fk_name
"""


def q126_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (TWAP): each
    observation holds until the next one of the same type, so its
    weight is the interval length — the monitoring/finance aggregate
    a plain AVG gets wrong whenever sampling is irregular.

    Exactness: weights are exact epoch-second int64 deltas (lead over
    a deterministic (ts, event_id) order); values quantize to int64
    cents BEFORE weighting; the weighted sum accumulates in
    DECIMAL(38,0) (cents x seconds products overflow int64 near
    1e12 rows); twap is ONE division of exact operands, rounded for
    display. The last observation of each type has no successor and
    drops out (open interval) on both engines.

    Scale shape: ONE lead() window pass partitioned by event_type —
    at higher cardinality partition keys this shape is per-entity; the
    weighted sums then reduce map-side onto |types| rows.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    cents = F.round(F.col("value") * 100, 0).cast("long")
    iv = (
        e.select("event_type", "ts", "event_id", cents.alias("cents"))
        .withColumn("dt", F.lead(sec).over(w) - sec)
        .where(F.col("dt").isNotNull())
    )
    g = iv.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dt").cast("long").alias("w_sum_sec"),
        F.sum((F.col("cents") * F.col("dt")).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("vw_sum"),
    )
    twap = F.round(
        F.col("vw_sum").cast("double")
        / (F.lit(100) * F.col("w_sum_sec")).cast("double"),
        4,
    )
    return g.select(
        "event_type", "n_intervals", "w_sum_sec", "vw_sum",
        twap.alias("twap"),
    ).orderBy("event_type")


QUERIES["q126_time_weighted_avg"] = q126_time_weighted_avg

ORACLES["q126_time_weighted_avg"] = """
    WITH iv AS (
      SELECT event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             date_diff('second', ts,
               LEAD(ts) OVER (PARTITION BY event_type
                              ORDER BY ts, event_id)) AS dt
      FROM events),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_intervals,
             CAST(SUM(dt) AS BIGINT) AS w_sum_sec,
             CAST(SUM(cents * dt) AS BIGINT) AS vw_sum
      FROM iv WHERE dt IS NOT NULL GROUP BY event_type)
    SELECT event_type, n_intervals, w_sum_sec, vw_sum,
           ROUND(CAST(vw_sum AS DOUBLE)
                 / CAST(100 * w_sum_sec AS DOUBLE), 4) AS twap
    FROM g ORDER BY event_type
"""


def q129_feed_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed freshness / liveness audit per event type: inter-arrival
    gap statistics (max, average, count of gaps over one hour) plus
    the stream's last-seen timestamp — the monitoring row a 100 TB
    ingest fleet publishes per feed to catch a stalled producer
    before a consumer reads stale data.

    Exactness: gaps are exact epoch-second int64 deltas over a
    deterministic (ts, event_id) order; avg_gap is ONE exact-int
    division rounded for display; last_seen formats via
    date_format/strftime second-precision (the bundle timestamp
    convention).

    Scale shape: ONE lag() window pass partitioned by event_type
    (per-feed frames), then a map-side-combined aggregation onto
    |types| rows.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gaps = (
        e.select("event_type", "ts", "event_id")
        .withColumn("gap", sec - F.lag(sec).over(w))
        .groupBy("event_type")
        .agg(
            F.count("gap").cast("long").alias("n_gaps"),
            F.max("gap").cast("long").alias("max_gap_sec"),
            F.sum("gap").cast("long").alias("gap_sum_sec"),
            F.sum(F.when(F.col("gap") > 3600, 1).otherwise(0))
            .cast("long")
            .alias("gaps_over_1h"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_seen"
            ),
        )
    )
    avg_gap = F.round(
        F.col("gap_sum_sec").cast("double") / F.col("n_gaps").cast("double"),
        2,
    )
    return gaps.select(
        "event_type", "n_gaps", "max_gap_sec", "gaps_over_1h",
        avg_gap.alias("avg_gap_sec"), "last_seen",
    ).orderBy("event_type")


QUERIES["q129_feed_freshness"] = q129_feed_freshness

ORACLES["q129_feed_freshness"] = """
    WITH g AS (
      SELECT event_type, ts,
             date_diff('second',
               LAG(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id),
               ts) AS gap
      FROM events),
    a AS (
      SELECT event_type,
             CAST(COUNT(gap) AS BIGINT) AS n_gaps,
             CAST(MAX(gap) AS BIGINT) AS max_gap_sec,
             CAST(SUM(gap) AS BIGINT) AS gap_sum_sec,
             CAST(COALESCE(SUM(CASE WHEN gap > 3600 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS gaps_over_1h,
             strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
      FROM g GROUP BY event_type)
    SELECT event_type, n_gaps, max_gap_sec, gaps_over_1h,
           ROUND(CAST(gap_sum_sec AS DOUBLE) / CAST(n_gaps AS DOUBLE), 2)
             AS avg_gap_sec,
           last_seen
    FROM a ORDER BY event_type
"""


def q133_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-baseline anomaly days: a day is anomalous for an event
    type when its count deviates from the TRAILING 7-day baseline by
    more than 2 baseline standard deviations — the alerting rule
    behind ops dashboards, joining the family of q101 (MAD, global)
    and q114 (CUSUM, level shift) with a moving local baseline.

    Exactness: the 2-sigma test never takes a square root — it is the
    cross-multiplied integer inequality
    n^2 * (n*x - s)^2 > 4 * n * (n*q - s^2), with s = trailing sum,
    q = trailing sum of squares, n = trailing days, all int64 from a
    RANGE window over the per-day counts (products accumulate in
    DECIMAL(38,0)); displayed mean is one exact division.

    Scale shape: events reduce map-side to |types| x |days| integer
    counts; every window and test runs on that reduced frame.
    """
    from pyspark.sql.window import Window as W

    e = _t(spark, sf_dir, "events")
    d = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    daily = (
        e.select("event_type", d.alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rangeBetween(-7, -1)
    )
    base = daily.select(
        "event_type", "d", "x",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("s"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .over(w)
        .alias("q"),
    ).where(F.col("n") >= 3)
    nd = F.col("n").cast("decimal(38,0)")
    xd = F.col("x").cast("decimal(38,0)")
    sd = F.col("s").cast("decimal(38,0)")
    dev = nd * xd - sd
    var_n2 = nd * F.col("q") - sd * sd  # n^2 * variance (biased)
    anomalous = (dev * dev) * nd > F.lit(4).cast("decimal(38,0)") * (
        var_n2 * nd
    )
    flagged = base.where(anomalous)
    return flagged.select(
        "event_type", "d", "x",
        F.round(
            F.col("s").cast("double") / F.col("n").cast("double"), 4
        ).alias("base_mean"),
        "n",
    ).orderBy("event_type", "d")


QUERIES["q133_rolling_anomaly"] = q133_rolling_anomaly

ORACLES["q133_rolling_anomaly"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    base AS (
      SELECT event_type, d, x,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS s,
             SUM(CAST(x AS HUGEINT) * x) OVER w AS q
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
    t AS (SELECT * FROM base WHERE n >= 3)
    SELECT event_type, d, x,
           ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS base_mean,
           n
    FROM t
    WHERE CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * x - s)
          * (CAST(n AS HUGEINT) * x - s)
          > 4 * CAST(n AS HUGEINT)
            * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
    ORDER BY event_type, d
"""


def q134_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the period-over-period
    reporting primitive: weekly event counts and value sums with the
    prior week attached by lag() and growth as an exact-int ratio.

    Exactness: week index and counts are int64; value quantizes to
    cents before summing; growth_pct is ONE division of exact int64
    operands rounded for display; weeks with no prior week emit NULL
    growth on both engines.

    Scale shape: events reduce map-side to |types| x |weeks| rows;
    the lag window runs on that reduced frame.
    """
    from pyspark.sql.window import Window as W

    e = _t(spark, sf_dir, "events")
    wk = F.floor(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        / 7
    ).cast("long")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    weekly = (
        e.select("event_type", wk.alias("wk"), cents.alias("cents"))
        .groupBy("event_type", "wk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("v_cents"),
        )
    )
    w = W.partitionBy("event_type").orderBy("wk")
    out = weekly.select(
        "event_type", "wk", "n", "v_cents",
        F.lag("n").over(w).cast("long").alias("prev_n"),
    )
    growth = F.when(
        F.col("prev_n").isNotNull(),
        F.round(
            (F.lit(100) * (F.col("n") - F.col("prev_n"))).cast("double")
            / F.col("prev_n").cast("double"),
            4,
        ),
    )
    return out.select(
        "event_type", "wk", "n", "v_cents", "prev_n",
        growth.alias("growth_pct"),
    ).orderBy("event_type", "wk")


QUERIES["q134_wow_growth"] = q134_wow_growth

ORACLES["q134_wow_growth"] = """
    WITH weekly AS (
      SELECT event_type,
             CAST(FLOOR(date_diff('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS v_cents
      FROM events GROUP BY 1, 2),
    l AS (
      SELECT event_type, wk, n, v_cents,
             CAST(LAG(n) OVER (PARTITION BY event_type ORDER BY wk)
               AS BIGINT) AS prev_n
      FROM weekly)
    SELECT event_type, wk, n, v_cents, prev_n,
           CASE WHEN prev_n IS NOT NULL
                THEN ROUND(CAST(100 * (n - prev_n) AS DOUBLE)
                           / CAST(prev_n AS DOUBLE), 4)
           END AS growth_pct
    FROM l ORDER BY event_type, wk
"""


def q139_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New vs returning users per day — the growth-accounting split:
    a user is NEW on their first active day (min over their history),
    returning on every later active day; cum_known is the running
    count of users ever seen.

    Exactness: pure int64 day arithmetic and counts.

    Scale shape: dedupe to (user, day) map-side, per-user min-day is
    ONE map-side-combined aggregation, and both daily rollups plus the
    cumulative window run on |days|-sized frames (the window sits
    below an Aggregate — the sanctioned reduced-input shape).
    """
    from pyspark.sql.window import Window as W

    e = _t(spark, sf_dir, "events")
    d = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    days = e.select("user_id", d.alias("d")).distinct()
    first = days.groupBy("user_id").agg(F.min("d").alias("fd"))
    active = days.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("active_users")
    )
    new = first.groupBy(F.col("fd").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    j = active.join(new, "d", "left_outer").select(
        "d", "active_users",
        F.coalesce(F.col("new_users"), F.lit(0)).cast("long").alias(
            "new_users"
        ),
    )
    cum = (
        F.sum("new_users")
        .over(W.orderBy("d").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
    )
    return j.select(
        "d", "active_users", "new_users",
        (F.col("active_users") - F.col("new_users")).cast("long").alias(
            "returning_users"
        ),
        cum.alias("cum_known_users"),
    ).orderBy("d")


QUERIES["q139_new_vs_returning"] = q139_new_vs_returning

ORACLES["q139_new_vs_returning"] = """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS d
      FROM events),
    first AS (
      SELECT user_id, MIN(d) AS fd FROM days GROUP BY user_id),
    active AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS active_users
      FROM days GROUP BY d),
    neww AS (
      SELECT fd AS d, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM first GROUP BY fd),
    j AS (
      SELECT a.d, a.active_users,
             CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users
      FROM active a LEFT JOIN neww n ON a.d = n.d)
    SELECT d, active_users, new_users,
           CAST(active_users - new_users AS BIGINT) AS returning_users,
           CAST(SUM(new_users) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_known_users
    FROM j ORDER BY d
"""


def q140_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline-lite): per order status, the days that
    set a new all-time-high daily-max order price — the 2-D
    non-dominated set (earlier day, higher price) at day granularity,
    the "record days" series behind price-discovery dashboards.

    Exactness: prices compare as exact int64 cents; a day is on the
    frontier iff its daily max STRICTLY exceeds every earlier day's
    (running max over exact ints).

    Scale shape: orders reduce map-side to |statuses| x |days| daily
    maxima; the running-max window and the strict-dominance filter
    run on that reduced frame.
    """
    from pyspark.sql.window import Window as W

    o = _t(spark, sf_dir, "orders")
    d = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("long")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    daily = (
        o.select("o_orderstatus", d.alias("d"), cents.alias("cents"))
        .groupBy("o_orderstatus", "d")
        .agg(F.max("cents").cast("long").alias("day_max"))
    )
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_max = F.max("day_max").over(w)
    return (
        daily.withColumn("prev_max", prev_max)
        .where(F.col("prev_max").isNull() | (F.col("day_max") > F.col("prev_max")))
        .select(
            "o_orderstatus", "d", "day_max",
            F.coalesce(F.col("prev_max"), F.lit(0)).cast("long").alias(
                "prev_record"
            ),
        )
        .orderBy("o_orderstatus", "d")
    )


QUERIES["q140_pareto_frontier"] = q140_pareto_frontier

ORACLES["q140_pareto_frontier"] = """
    WITH daily AS (
      SELECT o_orderstatus,
             CAST(date_diff('day', DATE '1992-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
             CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS day_max
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT o_orderstatus, d, day_max,
             MAX(day_max) OVER (PARTITION BY o_orderstatus ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM daily)
    SELECT o_orderstatus, d, day_max,
           CAST(COALESCE(prev_max, 0) AS BIGINT) AS prev_record
    FROM m
    WHERE prev_max IS NULL OR day_max > prev_max
    ORDER BY o_orderstatus, d
"""


def q144_journey_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the 20 most common CONSECUTIVE 3-step
    event-type paths across user timelines, with path support in
    events and in distinct users (q106's Markov matrix is the
    order-1 view; 3-step paths expose the flows a transition matrix
    cannot — e.g. view->click->purchase vs view->click->error).

    Determinism: per-user order is (ts, event_id) — event_id breaks
    timestamp ties; the top-20 orders by (n DESC, path) so equal
    counts rank identically in both engines.

    Scale shape: two lead() windows partitioned per user (bounded
    frames, no global window), then a (t1,t2,t3) aggregate with
    map-side combine over at most |types|^3 = 125 groups, distinct
    users via a two-level aggregate, and a TakeOrderedAndProject
    top-20 — no full sort.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        e.select(
            "user_id",
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3", "user_id")
        .agg(F.count(F.lit(1)).alias("c_u"))
        .groupBy("t1", "t2", "t3")
        .agg(
            F.sum("c_u").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("users"),
        )
    )
    return tri.orderBy(
        F.col("n").desc(), F.col("t1"), F.col("t2"), F.col("t3")
    ).limit(20)


QUERIES["q144_journey_trigrams"] = q144_journey_trigrams

ORACLES["q144_journey_trigrams"] = """
    WITH seq AS (
      SELECT user_id, event_type AS t1,
             LEAD(event_type, 1) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
             LEAD(event_type, 2) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS t3
      FROM events),
    per_user AS (
      SELECT t1, t2, t3, user_id, COUNT(*) AS c_u
      FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY 1, 2, 3, 4)
    SELECT t1, t2, t3,
           CAST(SUM(c_u) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS users
    FROM per_user
    GROUP BY 1, 2, 3
    ORDER BY n DESC, t1, t2, t3
    LIMIT 20
"""


def q145_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly profile: per (event type,
    hour-of-day), the Poisson 2-sigma outlier census of (day, hour)
    cells against the SAME-HOUR historical baseline — the diurnal
    complement to q133's trailing-window baseline (a 9am spike is
    anomalous vs other 9am's, not vs 3am's).

    Baseline: mean over the hour-of-day's OBSERVED cells (tot/n_d).
    A cell is anomalous when x - mu > 2*sqrt(mu) with mu the Poisson
    mean — cross-multiplied to the sqrt-free int inequality
    (n_d*x - tot)^2 > 4*n_d*tot on DECIMAL(38,0) products
    (the q133 maneuver), plus the sign guard n_d*x > tot.

    Scale shape: events reduce map-side to |types| x |days| x 24
    cells; the baseline is a second aggregate to |types| x 24 rows,
    broadcast back; the census re-aggregates to |types| x 24. No
    window at all.
    """
    e = _t(spark, sf_dir, "events")
    d = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    cells = (
        e.select("event_type", d.alias("d"), F.hour("ts").alias("hod"))
        .groupBy("event_type", "d", "hod")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    base = cells.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("x").cast("long").alias("tot"),
    )
    j = cells.join(F.broadcast(base), ["event_type", "hod"])
    nd = F.col("n_d").cast("decimal(38,0)")
    xd = F.col("x").cast("decimal(38,0)")
    td = F.col("tot").cast("decimal(38,0)")
    dev = nd * xd - td
    hot = (nd * xd > td) & (
        dev * dev > F.lit(4).cast("decimal(38,0)") * nd * td
    )
    return (
        j.groupBy("event_type", "hod")
        .agg(
            F.max("n_d").cast("long").alias("n_d"),
            F.max("tot").cast("long").alias("tot"),
            F.sum(F.when(hot, 1).otherwise(0)).cast("long").alias("n_anom"),
            F.max(F.when(hot, F.col("x"))).cast("long").alias("max_anom_x"),
        )
        .select(
            "event_type", "hod", "n_d", "tot",
            F.round(
                F.col("tot").cast("double") / F.col("n_d").cast("double"), 4
            ).alias("mu"),
            "n_anom", "max_anom_x",
        )
        .orderBy("event_type", "hod")
    )


QUERIES["q145_seasonal_anomaly"] = q145_seasonal_anomaly

ORACLES["q145_seasonal_anomaly"] = """
    WITH cells AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS d,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2, 3),
    base AS (
      SELECT event_type, hod,
             CAST(COUNT(*) AS BIGINT) AS n_d,
             CAST(SUM(x) AS BIGINT) AS tot
      FROM cells GROUP BY 1, 2),
    j AS (
      SELECT c.event_type, c.hod, c.x, b.n_d, b.tot,
             (CAST(b.n_d AS HUGEINT) * c.x > b.tot
              AND (CAST(b.n_d AS HUGEINT) * c.x - b.tot)
                  * (CAST(b.n_d AS HUGEINT) * c.x - b.tot)
                  > 4 * CAST(b.n_d AS HUGEINT) * b.tot) AS hot
      FROM cells c JOIN base b
        ON c.event_type = b.event_type AND c.hod = b.hod)
    SELECT event_type, hod,
           CAST(MAX(n_d) AS BIGINT) AS n_d,
           CAST(MAX(tot) AS BIGINT) AS tot,
           ROUND(CAST(MAX(tot) AS DOUBLE) / CAST(MAX(n_d) AS DOUBLE), 4)
             AS mu,
           CAST(SUM(CASE WHEN hot THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
           CAST(MAX(CASE WHEN hot THEN x END) AS BIGINT) AS max_anom_x
    FROM j
    GROUP BY 1, 2
    ORDER BY event_type, hod
"""


def q146_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment latency distribution: per order priority, the
    EXACT p50/p90/p99 of days from order date to FIRST shipment, plus
    the exact mean — the SLA percentile report.

    Exactness: percentiles come from the reduced (priority, lag_days)
    value distribution — p_q = the smallest lag whose cumulative count
    reaches ceil(q * N) (the inverse-ECDF / PERCENTILE_DISC
    definition, pure int64); the mean is one exact-int division.

    Scale shape: lineitem reduces to per-order first-ship (map-side
    combinable min on the orderkey shuffle), joins orders on the same
    key, then reduces map-side to |priorities| x |lags| counts —
    every window below runs on that tiny frame (q135's maneuver).
    A naive PERCENTILE_CONT window over raw orders would funnel each
    priority into one task.
    """
    from pyspark.sql.window import Window as W

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship0")
    )
    lag = F.datediff(
        F.col("ship0"), F.col("o_orderdate").cast("date")
    ).cast("long")
    dist = (
        o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
        .select(F.col("o_orderpriority").alias("prio"), lag.alias("lag"))
        .groupBy("prio", "lag")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_cum = (
        W.partitionBy("prio").orderBy("lag")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_all = W.partitionBy("prio")
    cum = dist.select(
        "prio", "lag", "c",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
        F.sum(F.col("lag") * F.col("c")).over(w_all).cast("long").alias(
            "lag_sum"
        ),
    )

    def pct(q_num, q_den):
        # smallest lag with cum >= ceil(n * q) — exact int ceiling
        need = F.floor((F.col("n") * q_num + q_den - 1) / q_den)
        return F.min(F.when(F.col("cum") >= need, F.col("lag")))

    return (
        cum.groupBy("prio")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            pct(50, 100).cast("long").alias("p50_days"),
            pct(90, 100).cast("long").alias("p90_days"),
            pct(99, 100).cast("long").alias("p99_days"),
            F.round(
                (F.max("lag_sum").cast("double"))
                / F.max("n").cast("double"),
                4,
            ).alias("avg_days"),
        )
        .orderBy("prio")
    )


QUERIES["q146_fulfillment_latency"] = q146_fulfillment_latency

ORACLES["q146_fulfillment_latency"] = """
    WITH fs AS (
      SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ship0
      FROM lineitem GROUP BY 1),
    dist AS (
      SELECT o.o_orderpriority AS prio,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE), f.ship0)
               AS BIGINT) AS lag,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders o JOIN fs f ON o.o_orderkey = f.l_orderkey
      GROUP BY 1, 2),
    cum AS (
      SELECT prio, lag, c,
             CAST(SUM(c) OVER (PARTITION BY prio ORDER BY lag
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(SUM(c) OVER (PARTITION BY prio) AS BIGINT) AS n,
             CAST(SUM(lag * c) OVER (PARTITION BY prio) AS BIGINT)
               AS lag_sum
      FROM dist)
    SELECT prio,
           CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(MIN(CASE WHEN cum >= CAST(FLOOR((n * 50 + 99) / 100.0)
             AS BIGINT) THEN lag END) AS BIGINT) AS p50_days,
           CAST(MIN(CASE WHEN cum >= CAST(FLOOR((n * 90 + 99) / 100.0)
             AS BIGINT) THEN lag END) AS BIGINT) AS p90_days,
           CAST(MIN(CASE WHEN cum >= CAST(FLOOR((n * 99 + 99) / 100.0)
             AS BIGINT) THEN lag END) AS BIGINT) AS p99_days,
           ROUND(CAST(MAX(lag_sum) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 4)
             AS avg_days
    FROM cum
    GROUP BY prio
    ORDER BY prio
"""


def q150_business_day_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day SLA compliance: per order priority, fulfillment
    latency in WEEKDAYS (Mon-Fri) between order date and first
    shipment, with the breach census at a 30-business-day SLA —
    calendar-aware latency, where q146 counts raw days.

    Exactness: weekday counting is the closed form
    g(i) = 5*floor(i/7) + min(pmod(i,7), 5) over day indexes anchored
    at a known Monday (1992-01-06); bdays = g(ship_idx)-g(order_idx).
    Pure int64 in both engines — no calendar functions whose week
    conventions differ (Spark dayofweek starts Sunday, DuckDB's
    varies by setting; an epoch-anchored pmod sidesteps all of it).

    Scale shape: identical to q146 — lineitem reduces per-order on
    the orderkey shuffle, one join, one |priorities|-row aggregate
    with map-side combine.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship0")
    )
    monday0 = F.lit("1992-01-06").cast("date")

    def g(idx):
        # weekdays in [monday0, monday0 + idx): floor/pmod semantics
        # (NOT div/% — both engines' int ops truncate toward zero and
        # would disagree with this closed form below the anchor)
        return (
            F.lit(5) * F.floor(idx / F.lit(7.0)).cast("long")
            + F.least(F.pmod(idx, F.lit(7)), F.lit(5))
        )

    oi = F.datediff(F.col("o_orderdate").cast("date"), monday0).cast("long")
    si = F.datediff(F.col("ship0"), monday0).cast("long")
    j = (
        o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
        .select(
            F.col("o_orderpriority").alias("prio"),
            (g(si) - g(oi)).alias("bdays"),
        )
    )
    return (
        j.groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("bdays").cast("long").alias("bday_sum"),
            F.sum(F.when(F.col("bdays") > 30, 1).otherwise(0))
            .cast("long")
            .alias("breaches"),
        )
        .select(
            "prio", "n_orders",
            F.round(
                F.col("bday_sum").cast("double")
                / F.col("n_orders").cast("double"),
                4,
            ).alias("avg_bdays"),
            "breaches",
            F.round(
                F.lit(100.0) * F.col("breaches") / F.col("n_orders"), 4
            ).alias("breach_pct"),
        )
        .orderBy("prio")
    )


QUERIES["q150_business_day_sla"] = q150_business_day_sla

ORACLES["q150_business_day_sla"] = """
    WITH fs AS (
      SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ship0
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderpriority AS prio,
             (5 * CAST(FLOOR(CAST(date_diff('day', DATE '1992-01-06',
                    f.ship0) AS BIGINT) / 7.0) AS BIGINT)
              + LEAST(((date_diff('day', DATE '1992-01-06', f.ship0) % 7)
                       + 7) % 7, 5))
             -
             (5 * CAST(FLOOR(CAST(date_diff('day', DATE '1992-01-06',
                    CAST(o.o_orderdate AS DATE)) AS BIGINT) / 7.0) AS BIGINT)
              + LEAST(((date_diff('day', DATE '1992-01-06',
                    CAST(o.o_orderdate AS DATE)) % 7) + 7) % 7, 5))
             AS bdays
      FROM orders o JOIN fs f ON o.o_orderkey = f.l_orderkey)
    SELECT prio,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(bdays) AS DOUBLE) / COUNT(*), 4) AS avg_bdays,
           CAST(SUM(CASE WHEN bdays > 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS breaches,
           ROUND(100.0 * SUM(CASE WHEN bdays > 30 THEN 1 ELSE 0 END)
                 / COUNT(*), 4) AS breach_pct
    FROM j
    GROUP BY prio
    ORDER BY prio
"""


def q152_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: among users whose first purchase
    follows their first view, the EXACT p50/p90 and mean of the
    view->purchase lag in whole hours — the activation-latency metric
    behind growth dashboards (q97 counts the funnel stages; this
    measures how LONG conversion takes).

    Exactness: per-user firsts are min() aggregates; the lag
    distribution reduces to (lag_hours, count) rows and percentiles
    are inverse-ECDF picks (cum >= ceil(q*N), pure int64 — the q146
    maneuver); the mean is one exact-int division.

    Scale shape: events reduce map-side to one row per user
    (conditional mins on the user shuffle); the lag histogram is a
    second map-side-combinable aggregate; every window runs on the
    |distinct-lag-hours| frame.
    """
    from pyspark.sql.window import Window as W

    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "p0"
        ),
    )
    conv = per_user.where(
        F.col("v0").isNotNull() & F.col("p0").isNotNull()
        & (F.col("p0") > F.col("v0"))
    )
    lag_h = F.floor(
        (F.unix_timestamp("p0") - F.unix_timestamp("v0")) / F.lit(3600.0)
    ).cast("long")
    dist = conv.select(lag_h.alias("lag_h")).groupBy("lag_h").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_cum = W.orderBy("lag_h").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = dist.select(
        "lag_h", "c",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
        F.sum(F.col("lag_h") * F.col("c")).over(w_all).cast("long").alias(
            "lag_sum"
        ),
    )

    def pct(q_num, q_den):
        need = F.floor((F.col("n") * q_num + q_den - 1) / q_den)
        return F.min(F.when(F.col("cum") >= need, F.col("lag_h")))

    return cum.agg(
        F.max("n").cast("long").alias("converted_users"),
        pct(50, 100).cast("long").alias("p50_hours"),
        pct(90, 100).cast("long").alias("p90_hours"),
        F.round(
            F.max("lag_sum").cast("double") / F.max("n").cast("double"), 4
        ).alias("avg_hours"),
    )


QUERIES["q152_time_to_convert"] = q152_time_to_convert

ORACLES["q152_time_to_convert"] = """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS v0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p0
      FROM events GROUP BY 1),
    conv AS (
      SELECT CAST(FLOOR(date_diff('second', v0, p0) / 3600.0) AS BIGINT)
               AS lag_h
      FROM per_user
      WHERE v0 IS NOT NULL AND p0 IS NOT NULL AND p0 > v0),
    dist AS (
      SELECT lag_h, CAST(COUNT(*) AS BIGINT) AS c FROM conv GROUP BY 1),
    cum AS (
      SELECT lag_h, c,
             CAST(SUM(c) OVER (ORDER BY lag_h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(SUM(c) OVER () AS BIGINT) AS n,
             CAST(SUM(lag_h * c) OVER () AS BIGINT) AS lag_sum
      FROM dist)
    SELECT CAST(MAX(n) AS BIGINT) AS converted_users,
           CAST(MIN(CASE WHEN cum >= CAST(FLOOR((n * 50 + 99) / 100.0)
             AS BIGINT) THEN lag_h END) AS BIGINT) AS p50_hours,
           CAST(MIN(CASE WHEN cum >= CAST(FLOOR((n * 90 + 99) / 100.0)
             AS BIGINT) THEN lag_h END) AS BIGINT) AS p90_hours,
           ROUND(CAST(MAX(lag_sum) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 4)
             AS avg_hours
    FROM cum
"""


def q153_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch (linear) attribution: every purchase splits one
    unit of credit EQUALLY across the user's touch events (non-
    purchase) in the trailing 7 days — the position-agnostic
    complement to q117's last-touch rule.

    Exactness: credit is the q6 integer floor(p * 1e6 * c_type /
    n_touches) per (user, purchase-day, touch-type) — exact int64
    products under 2^53 through one identical double floor; the final
    per-type totals are integer sums. Purchases with NO trailing
    touch are counted as orphans (credit stays unassigned — both
    engines agree because the left join's NULL survives).

    Scale shape: touches reduce map-side to (user, day, type, c) and
    purchases to (user, day, p); the window join fans each purchase
    day to <= 7 trailing days of an already-reduced frame, keyed on
    user — no raw-event self-join. Final aggregate is |types| rows.
    """
    e = _t(spark, sf_dir, "events")
    d = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    touches = (
        e.where(F.col("event_type") != "purchase")
        .select("user_id", d.alias("td"), "event_type")
        .groupBy("user_id", "td", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", d.alias("pd"))
        .groupBy("user_id", "pd")
        .agg(F.count(F.lit(1)).cast("long").alias("p"))
    )
    j = purchases.join(
        touches,
        (purchases.user_id == touches.user_id)
        & (F.col("td") <= F.col("pd"))
        & (F.col("td") >= F.col("pd") - 6),
        "left",
    )
    per_purchase = j.groupBy(purchases.user_id, "pd", "p").agg(
        F.sum("c").cast("long").alias("n_tot")
    )
    # re-join the reduced touch rows to split credit (both frames are
    # the reduced shapes; the second fan is the same bounded <= 7 days)
    pp = per_purchase.where(F.col("n_tot").isNotNull())
    credit = (
        pp.join(
            touches,
            (pp.user_id == touches.user_id)
            & (F.col("td") <= F.col("pd"))
            & (F.col("td") >= F.col("pd") - 6),
        )
        .select(
            "event_type",
            F.floor(
                (F.col("p") * F.lit(1000000) * F.col("c")).cast("double")
                / F.col("n_tot")
            )
            .cast("long")
            .alias("credit_q6"),
        )
        .groupBy("event_type")
        .agg(F.sum("credit_q6").cast("long").alias("credit_q6"))
    )
    orphans = per_purchase.where(F.col("n_tot").isNull()).agg(
        F.coalesce(F.sum("p"), F.lit(0)).cast("long").alias("orphan_purchases")
    )
    total = purchases.agg(
        F.sum("p").cast("long").alias("total_purchases")
    )
    return (
        credit.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(orphans))
        .select(
            "event_type", "credit_q6",
            F.round(F.col("credit_q6").cast("double") / 1e6, 4).alias(
                "credit"
            ),
            "total_purchases", "orphan_purchases",
        )
        .orderBy("event_type")
    )


QUERIES["q153_multitouch_attribution"] = q153_multitouch_attribution

ORACLES["q153_multitouch_attribution"] = """
    WITH t AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS td,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type <> 'purchase'
      GROUP BY 1, 2, 3),
    pch AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS pd,
             CAST(COUNT(*) AS BIGINT) AS p
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2),
    pp AS (
      SELECT pch.user_id, pch.pd, pch.p,
             CAST(SUM(t.c) AS BIGINT) AS n_tot
      FROM pch LEFT JOIN t
        ON pch.user_id = t.user_id
        AND t.td <= pch.pd AND t.td >= pch.pd - 6
      GROUP BY 1, 2, 3),
    credit AS (
      SELECT t.event_type,
             CAST(SUM(CAST(FLOOR(
               CAST(pp.p * 1000000 * t.c AS DOUBLE) / pp.n_tot)
               AS BIGINT)) AS BIGINT) AS credit_q6
      FROM pp JOIN t
        ON pp.user_id = t.user_id
        AND t.td <= pp.pd AND t.td >= pp.pd - 6
      WHERE pp.n_tot IS NOT NULL
      GROUP BY 1),
    orph AS (
      SELECT CAST(COALESCE(SUM(p), 0) AS BIGINT) AS orphan_purchases
      FROM pp WHERE n_tot IS NULL),
    tot AS (
      SELECT CAST(SUM(p) AS BIGINT) AS total_purchases FROM pch)
    SELECT c.event_type, c.credit_q6,
           ROUND(CAST(c.credit_q6 AS DOUBLE) / 1e6, 4) AS credit,
           tot.total_purchases, orph.orphan_purchases
    FROM credit c CROSS JOIN tot CROSS JOIN orph
    ORDER BY c.event_type
"""


def q155_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier style survival analysis with right-censoring:
    the per-day risk table of signup->first-purchase conversion.
    Users enter at their first ``signup`` event; the "death" is the
    first later ``purchase``; users who never purchase are censored
    at the end of observation (the global max event timestamp) —
    the piece q152 deliberately drops (it conditions on converters;
    here non-converters shape the at-risk denominator, which is what
    makes the estimate unbiased under censoring).

    Emits one row per EVENT day: events d, censored c, the at-risk
    count n_risk (everyone whose duration >= t, the standard KM
    convention that same-day censorings still count as at risk), the
    discrete hazard d/n_risk, and the Nelson-Aalen cumulative hazard.

    Exactness: durations are whole-day floors of int64 epoch
    differences; d/c/n_risk are exact int64; hazard is ONE division
    of two exact ints (nearest-double identical in both engines);
    the cumulative hazard would be a SUM of doubles (engine-specific
    ordering), so it accumulates in FIXED POINT instead —
    floor(1e9*d/n_risk) int64 per day (d*1e9 stays exact in the
    double division up to d ~ 9e6 events/day), cumsum of ints, one
    final division by the 1e9 literal. The survival product
    S(t) = prod(1 - h_s) is deliberately NOT emitted: a running
    product has no exact cross-engine form (exp/sum/ln differs in
    the last ulp per libm); the hazard table is the adjudicated
    surface and S(t) is display-layer arithmetic on it.

    Scale shape: events reduce map-side to one row per user
    (conditional mins on the user-key shuffle), the censor horizon is
    a 1-row literal-attach broadcast, the day table is a second
    map-side-combinable aggregate, and every window runs on the
    |distinct-days| frame below that Aggregate (the sanctioned
    reduced shape).
    """
    from pyspark.sql.window import Window as W

    e = _t(spark, sf_dir, "events")
    horizon = e.agg(F.max(F.col("ts").cast("timestamp")).alias("t_end"))
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    F.col("event_type") == "signup",
                    F.col("ts").cast("timestamp"),
                )
            ).alias("s0"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("ts").cast("timestamp"),
                )
            ).alias("p0"),
        )
        .where(F.col("s0").isNotNull())
        .join(F.broadcast(horizon))
    )
    converted = F.col("p0").isNotNull() & (F.col("p0") > F.col("s0"))
    end_ts = F.when(converted, F.col("p0")).otherwise(F.col("t_end"))
    dur = F.floor(
        (F.unix_timestamp(end_ts) - F.unix_timestamp("s0"))
        / F.lit(86400.0)
    ).cast("long")
    days = (
        per_user.select(
            dur.alias("day"),
            F.when(converted, F.lit(1)).otherwise(F.lit(0)).alias("ev"),
        )
        .groupBy("day")
        .agg(
            F.sum("ev").cast("long").alias("d"),
            F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
        )
    )
    w_prev = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    risk = days.select(
        "day",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        ).cast("long").alias("n_risk"),
    )
    hz_fp = F.floor(
        F.col("d").cast("double") * F.lit(1000000000.0)
        / F.col("n_risk").cast("double")
    ).cast("long")
    out = risk.select(
        "day",
        "d",
        "c",
        "n_risk",
        (F.col("d").cast("double") / F.col("n_risk").cast("double")).alias(
            "hazard"
        ),
        (
            F.sum(hz_fp).over(w_cum).cast("double") / F.lit(1e9)
        ).alias("cum_hazard_q9"),
    )
    return out.where(F.col("d") >= 1).orderBy("day")


QUERIES["q155_survival_km"] = q155_survival_km

ORACLES["q155_survival_km"] = """
    WITH horizon AS (
      SELECT MAX(CAST(ts AS TIMESTAMP)) AS t_end FROM events),
    per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'
                 THEN CAST(ts AS TIMESTAMP) END) AS s0,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN CAST(ts AS TIMESTAMP) END) AS p0
      FROM events GROUP BY 1),
    subj AS (
      SELECT u.s0,
             (u.p0 IS NOT NULL AND u.p0 > u.s0) AS conv,
             CASE WHEN u.p0 IS NOT NULL AND u.p0 > u.s0
                  THEN u.p0 ELSE h.t_end END AS end_ts
      FROM per_user u CROSS JOIN horizon h
      WHERE u.s0 IS NOT NULL),
    days AS (
      SELECT CAST(FLOOR(date_diff('second', s0, end_ts) / 86400.0)
               AS BIGINT) AS day,
             CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN conv THEN 0 ELSE 1 END) AS BIGINT) AS c
      FROM subj GROUP BY 1),
    risk AS (
      SELECT day, d, c,
             CAST(SUM(d + c) OVER ()
               - COALESCE(SUM(d + c) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM days),
    curve AS (
      SELECT day, d, c, n_risk,
             CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hazard,
             CAST(SUM(CAST(FLOOR(CAST(d AS DOUBLE) * 1000000000.0
                     / CAST(n_risk AS DOUBLE)) AS BIGINT))
                   OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 1e9 AS cum_hazard_q9
      FROM risk)
    SELECT day, d, c, n_risk, hazard, cum_hazard_q9
    FROM curve
    WHERE d >= 1
    ORDER BY day
"""


def q156_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression fitted IN-ENGINE, per group:
    extendedprice ~ quantity + discount for each l_returnflag, solved
    in closed form from the 3x3 normal equations via Cramer's rule —
    the q100 single-predictor maneuver generalized to the multivariate
    case (the shape a feature-attribution or pricing-elasticity job
    runs at 100 TB: ONE scan, ONE aggregation, coefficients fall out
    of nine sufficient statistics per group).

    Exactness: y = price cents, x1 = whole quantity units, x2 =
    discount in points (x100) — all int64 on the data's own grid —
    and the nine sufficient statistics (n, Sx1, Sx2, Sx11, Sx12,
    Sx22, Sy, Sx1y, Sx2y) accumulate as DECIMAL(38,0) (HUGEINT in
    the oracle). Every Cramer determinant is a polynomial of degree
    3 in those exact integers (largest term ~ Sy*Sx11*Sx22 ~ 1e30 at
    sf0.1, ~1e34 at 100x — inside 38 digits), and each coefficient
    is ONE division of two exact integers. Unlike q100's int64-range
    statistics, these determinants exceed 64 bits, where DuckDB's
    HUGEINT->DOUBLE cast is no longer correctly rounded (it composes
    the two 64-bit halves in double arithmetic) while Spark's
    Decimal->double is — so the coefficients are ROUNDed to the 1e-4
    cents grid, twelve orders of magnitude above the cast's ulp
    divergence. A singular system (det = 0, e.g. a group with
    constant discount) emits 0.0 coefficients rather than tripping
    ANSI divide-by-zero (the q100 convention).

    Scale shape: one scan, one hash aggregation with map-side partial
    combine carrying nine decimal cells per group; the solve is
    column arithmetic on a |groups|-row frame. No second pass, no
    window, no join.
    """
    li = _t(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    g = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x1").cast(dec)).alias("sx1"),
        F.sum(F.col("x2").cast(dec)).alias("sx2"),
        F.sum((F.col("x1") * F.col("x1")).cast(dec)).alias("sx11"),
        F.sum((F.col("x1") * F.col("x2")).cast(dec)).alias("sx12"),
        F.sum((F.col("x2") * F.col("x2")).cast(dec)).alias("sx22"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x1") * F.col("y")).cast(dec)).alias("sx1y"),
        F.sum((F.col("x2") * F.col("y")).cast(dec)).alias("sx2y"),
    )
    n, sx1, sx2 = g["n"], g["sx1"], g["sx2"]
    sx11, sx12, sx22 = g["sx11"], g["sx12"], g["sx22"]
    sy, sx1y, sx2y = g["sy"], g["sx1y"], g["sx2y"]

    def det3(a1, a2, a3, b1, b2, b3, c1, c2, c3):
        return (
            a1 * (b2 * c3 - b3 * c2)
            - a2 * (b1 * c3 - b3 * c1)
            + a3 * (b1 * c2 - b2 * c1)
        )

    det = det3(n, sx1, sx2, sx1, sx11, sx12, sx2, sx12, sx22)
    det_b0 = det3(sy, sx1, sx2, sx1y, sx11, sx12, sx2y, sx12, sx22)
    det_b1 = det3(n, sy, sx2, sx1, sx1y, sx12, sx2, sx2y, sx22)
    det_b2 = det3(n, sx1, sy, sx1, sx11, sx1y, sx2, sx12, sx2y)

    def coef(num):
        return F.when(det == 0, F.lit(0.0)).otherwise(
            F.round(num.cast("double") / det.cast("double"), 4)
        )

    return g.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        coef(det_b0).alias("b0_cents"),
        coef(det_b1).alias("b1_cents_per_unit"),
        coef(det_b2).alias("b2_cents_per_point"),
    ).orderBy("l_returnflag")


QUERIES["q156_multiple_regression"] = q156_multiple_regression

ORACLES["q156_multiple_regression"] = """
    WITH base AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS x2,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
      FROM lineitem),
    g AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(x1 AS HUGEINT)) AS sx1,
             SUM(CAST(x2 AS HUGEINT)) AS sx2,
             SUM(CAST(x1 AS HUGEINT) * x1) AS sx11,
             SUM(CAST(x1 AS HUGEINT) * x2) AS sx12,
             SUM(CAST(x2 AS HUGEINT) * x2) AS sx22,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x1 AS HUGEINT) * y) AS sx1y,
             SUM(CAST(x2 AS HUGEINT) * y) AS sx2y
      FROM base GROUP BY 1),
    solved AS (
      SELECT l_returnflag, n,
             (n   * (sx11 * sx22 - sx12 * sx12)
            - sx1 * (sx1  * sx22 - sx12 * sx2)
            + sx2 * (sx1  * sx12 - sx11 * sx2)) AS det,
             (sy   * (sx11 * sx22 - sx12 * sx12)
            - sx1  * (sx1y * sx22 - sx12 * sx2y)
            + sx2  * (sx1y * sx12 - sx11 * sx2y)) AS det_b0,
             (n   * (sx1y * sx22 - sx12 * sx2y)
            - sy  * (sx1  * sx22 - sx12 * sx2)
            + sx2 * (sx1  * sx2y - sx1y * sx2)) AS det_b1,
             (n   * (sx11 * sx2y - sx1y * sx12)
            - sx1 * (sx1  * sx2y - sx1y * sx2)
            + sy  * (sx1  * sx12 - sx11 * sx2)) AS det_b2
      FROM g)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CASE WHEN det = 0 THEN 0.0
                ELSE ROUND(CAST(det_b0 AS DOUBLE) / CAST(det AS DOUBLE), 4)
           END AS b0_cents,
           CASE WHEN det = 0 THEN 0.0
                ELSE ROUND(CAST(det_b1 AS DOUBLE) / CAST(det AS DOUBLE), 4)
           END AS b1_cents_per_unit,
           CASE WHEN det = 0 THEN 0.0
                ELSE ROUND(CAST(det_b2 AS DOUBLE) / CAST(det AS DOUBLE), 4)
           END AS b2_cents_per_point
    FROM solved
    ORDER BY l_returnflag
"""


def q157_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit per market segment: the exact Gini
    coefficient and top-decile revenue share of per-customer order
    revenue — the inequality lens a marketplace or ad platform runs
    over 100 TB of transactions ("do 10% of accounts carry 80% of
    revenue, and is segment X more concentrated than Y?").

    Exactness (the q152/q146 grouped-inverse-ECDF maneuver, extended
    to rank-weighted sums): revenue is exact cents; customers
    collapse to (segment, rev_cents, cnt) VALUE GROUPS, so the
    rank-weighted sum T = sum(i * x_i) over the ascending sort needs
    no per-row ranks — a value group of cnt c starting after p
    predecessors contributes rev * (c*p + c*(c+1)/2), exact integers
    (DECIMAL(38,0) / HUGEINT; ties contribute identically under any
    tie order, so the statistic is well-defined). Gini =
    (2T - (n+1)*S) / (n*S) and the top-decile share are each ONE
    division of two exact integers -> nearest-double identical in
    both engines. The decile boundary splits its straddling value
    group exactly: take = clamp(cum - (n - k), 0, c) items.

    Scale shape: orders aggregate map-side per customer (shuffle on
    custkey), one broadcast-able dimension join for the segment, a
    value-group aggregation, then windows over the |distinct revenue
    values| frame below that Aggregate (sanctioned reduced shape);
    the finale is a |segments|-row arithmetic frame.
    """
    from pyspark.sql.window import Window as W

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("rev")
    )
    dim = c.select("c_custkey", "c_mktsegment")
    seg = rev.join(
        F.broadcast(dim), rev["o_custkey"] == dim["c_custkey"]
    ).select("c_mktsegment", "rev")
    vg = seg.groupBy("c_mktsegment", "rev").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_cum = (
        W.partitionBy("c_mktsegment")
        .orderBy("rev")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_all = W.partitionBy("c_mktsegment").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = vg.select(
        "c_mktsegment",
        "rev",
        "cnt",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
    )
    p = (F.col("cum") - F.col("cnt")).cast(dec)
    cnt_d = F.col("cnt").cast(dec)
    rev_d = F.col("rev").cast(dec)
    # DOUBLED rank-weighted contribution of this value group: working
    # with 2T keeps every cell integral (c*(c+1) is even, but /2 would
    # force a scaled decimal in Spark and a double in DuckDB)
    t2_part = rev_d * (
        F.lit(2).cast(dec) * cnt_d * p + cnt_d * (cnt_d + F.lit(1))
    )
    k = F.floor(F.col("n") / 10).cast("long")
    take = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cnt"), F.col("cum") - (F.col("n") - k)),
    )
    per_seg = cum.groupBy("c_mktsegment").agg(
        F.max("n").alias("n_customers"),
        F.sum(rev_d * cnt_d).alias("s"),
        F.sum(t2_part).alias("t2"),
        F.sum(rev_d * take.cast(dec)).alias("s_top"),
    )
    n_d = per_seg["n_customers"].cast(dec)
    s, t2, s_top = per_seg["s"], per_seg["t2"], per_seg["s_top"]
    gini = F.when(s == 0, F.lit(0.0)).otherwise(
        (t2 - (n_d + F.lit(1).cast(dec)) * s).cast("double")
        / (n_d * s).cast("double")
    )
    top_share = F.when(s == 0, F.lit(0.0)).otherwise(
        s_top.cast("double") / s.cast("double")
    )
    return per_seg.select(
        "c_mktsegment",
        F.col("n_customers").cast("bigint").alias("n_customers"),
        s.cast("decimal(38,0)").cast("double").alias("rev_cents"),
        gini.alias("gini"),
        top_share.alias("top_decile_share"),
    ).orderBy("c_mktsegment")


QUERIES["q157_gini_concentration"] = q157_gini_concentration

ORACLES["q157_gini_concentration"] = """
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    seg AS (
      SELECT c.c_mktsegment, r.rev
      FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey),
    vg AS (
      SELECT c_mktsegment, rev, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seg GROUP BY 1, 2),
    cum AS (
      SELECT c_mktsegment, rev, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY rev
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY c_mktsegment)
               AS BIGINT) AS n
      FROM vg),
    per_seg AS (
      SELECT c_mktsegment,
             MAX(n) AS n_customers,
             SUM(CAST(rev AS HUGEINT) * cnt) AS s,
             SUM(CAST(rev AS HUGEINT) * (2 * CAST(cnt AS HUGEINT) * (cum - cnt)
                 + CAST(cnt AS HUGEINT) * (cnt + 1))) AS t2,
             SUM(CAST(rev AS HUGEINT) * GREATEST(CAST(0 AS BIGINT),
                 LEAST(cnt, cum - (n - CAST(FLOOR(n / 10.0) AS BIGINT)))))
               AS s_top
      FROM cum GROUP BY 1)
    SELECT c_mktsegment,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(s AS DOUBLE) AS rev_cents,
           CASE WHEN s = 0 THEN 0.0
                ELSE CAST(t2 - (CAST(n_customers AS HUGEINT) + 1) * s
                       AS DOUBLE)
                   / CAST(CAST(n_customers AS HUGEINT) * s AS DOUBLE)
           END AS gini,
           CASE WHEN s = 0 THEN 0.0
                ELSE CAST(s_top AS DOUBLE) / CAST(s AS DOUBLE)
           END AS top_decile_share
    FROM per_seg
    ORDER BY c_mktsegment
"""


def q171_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-CONSTRAINED conversion funnel: view -> click within 24h of
    the first view -> purchase within 24h of that click. q97 requires
    only ordering; real funnel products also bound the step gaps
    (a click a month later is a new journey, not a conversion) — the
    constraint changes both the counts and the dataflow, because each
    stage's deadline depends on the PREVIOUS stage's achieved time.

    Exactness: stage times are min() aggregates over exact
    timestamps; deadlines are +24h INTERVAL comparisons at FULL
    microsecond precision on both engines (epoch-seconds arithmetic
    would truncate on the Spark side while DuckDB's epoch() keeps
    fractions — a boundary row in the (86400s, 86400s+1s) gap would
    diverge); counts are int64; rates are single divisions rounded
    at 6.

    Scale shape: three per-user reduced frames chained by user-key
    joins (each join input is |users| rows, NOT events — the q97
    maneuver with a deadline column riding along); one final 1-row
    summary aggregate. The raw event table is scanned once per stage
    but filtered to that stage's event type at the scan.
    """
    e = _t(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(ts).alias("v0"))
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", ts.alias("ct")
    )
    c1 = (
        clicks.join(views, "user_id")
        .where(
            (F.col("ct") > F.col("v0"))
            & (F.col("ct") <= F.col("v0") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ct").alias("c0"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", ts.alias("pt")
    )
    p1 = (
        purchases.join(c1, "user_id")
        .where(
            (F.col("pt") > F.col("c0"))
            & (F.col("pt") <= F.col("c0") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("pt").alias("p0"))
    )
    nv = views.agg(F.count(F.lit(1)).cast("long").alias("n_viewed"))
    nc = c1.agg(F.count(F.lit(1)).cast("long").alias("n_clicked_24h"))
    np_ = p1.agg(F.count(F.lit(1)).cast("long").alias("n_purchased_24h"))
    j = nv.join(F.broadcast(nc)).join(F.broadcast(np_))

    def rate(a, b):
        return F.when(F.col(b) == 0, F.lit(0.0)).otherwise(
            F.round(F.col(a).cast("double") / F.col(b).cast("double"), 6)
        )

    return j.select(
        "n_viewed",
        "n_clicked_24h",
        "n_purchased_24h",
        rate("n_clicked_24h", "n_viewed").alias("click_rate"),
        rate("n_purchased_24h", "n_clicked_24h").alias("purchase_rate"),
        rate("n_purchased_24h", "n_viewed").alias("full_funnel_rate"),
    )


QUERIES["q171_windowed_funnel"] = q171_windowed_funnel

ORACLES["q171_windowed_funnel"] = """
    WITH views AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v0
      FROM events WHERE event_type = 'view' GROUP BY 1),
    c1 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS c0
      FROM events e JOIN views v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND CAST(e.ts AS TIMESTAMP) > v.v0
        AND CAST(e.ts AS TIMESTAMP) <= v.v0 + INTERVAL 24 HOUR
      GROUP BY 1),
    p1 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p0
      FROM events e JOIN c1 c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(e.ts AS TIMESTAMP) > c.c0
        AND CAST(e.ts AS TIMESTAMP) <= c.c0 + INTERVAL 24 HOUR
      GROUP BY 1),
    stats AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM views) AS n_viewed,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS n_clicked_24h,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM p1) AS n_purchased_24h)
    SELECT n_viewed, n_clicked_24h, n_purchased_24h,
           CASE WHEN n_viewed = 0 THEN 0.0
                ELSE ROUND(CAST(n_clicked_24h AS DOUBLE)
                         / CAST(n_viewed AS DOUBLE), 6) END AS click_rate,
           CASE WHEN n_clicked_24h = 0 THEN 0.0
                ELSE ROUND(CAST(n_purchased_24h AS DOUBLE)
                         / CAST(n_clicked_24h AS DOUBLE), 6)
           END AS purchase_rate,
           CASE WHEN n_viewed = 0 THEN 0.0
                ELSE ROUND(CAST(n_purchased_24h AS DOUBLE)
                         / CAST(n_viewed AS DOUBLE), 6)
           END AS full_funnel_rate
    FROM stats
"""

def q174_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — the revenue companion to q98's
    retention triangle: customers cohort by their FIRST order month,
    every later order lands in an integer cohort-age bucket (months
    since the cohort month), and each (cohort, age) cell reports the
    period revenue plus the running cumulative LTV per cohort member.

    Exactness: revenue quantizes to the int64 cents grid at the scan;
    cohort month and age are integer year*12+month arithmetic (no
    months_between float law); cumulative sums are int64 windows over
    the reduced cell frame; the per-customer LTV is the one division,
    rounded at 4.

    Scale shape: one shuffle to reduce orders to per-customer first
    months, one broadcast join back (cohort frame is |customers| but
    joins on the same custkey partitioning), one aggregate to
    |cohorts| x |ages| cells; the cumulative window and the cohort
    size attach run over that bounded cell frame (months^2 rows
    regardless of corpus size).
    """
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    ym = lambda c: (F.year(c) * 12 + F.month(c) - 1).cast("int")  # noqa: E731
    od = F.col("o_orderdate").cast("date")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    first = o.groupBy("o_custkey").agg(F.min(ym(od)).alias("cohort_ym"))
    sized = first.groupBy("cohort_ym").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    cells = (
        o.select("o_custkey", ym(od).alias("oym"), cents.alias("cents"))
        .join(first, "o_custkey")
        .groupBy("cohort_ym", (F.col("oym") - F.col("cohort_ym")).alias("age_m"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_ym")
        .orderBy("age_m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        cells.withColumn(
            "cum_rev_cents", F.sum("rev_cents").over(w).cast("long")
        )
        .join(F.broadcast(sized), "cohort_ym")
        .select(
            F.concat_ws(
                "-",
                F.floor(F.col("cohort_ym") / 12).cast("string"),
                F.lpad((F.col("cohort_ym") % 12 + 1).cast("string"), 2, "0"),
            ).alias("cohort"),
            F.col("age_m").cast("int").alias("age_m"),
            "cohort_size", "n_orders", "rev_cents", "cum_rev_cents",
            F.round(
                F.col("cum_rev_cents").cast("double")
                / F.col("cohort_size").cast("double"),
                4,
            ).alias("ltv_cents_per_cust"),
        )
        .orderBy("cohort", "age_m")
    )
    return out


QUERIES["q174_cohort_ltv"] = q174_cohort_ltv

ORACLES["q174_cohort_ltv"] = """
    WITH first AS (
      SELECT o_custkey,
             MIN(year(CAST(o_orderdate AS DATE)) * 12
                 + month(CAST(o_orderdate AS DATE)) - 1) AS cohort_ym
      FROM orders GROUP BY 1),
    sized AS (
      SELECT cohort_ym, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM first GROUP BY 1),
    cells AS (
      SELECT f.cohort_ym,
             (year(CAST(o.o_orderdate AS DATE)) * 12
              + month(CAST(o.o_orderdate AS DATE)) - 1 - f.cohort_ym)
               AS age_m,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort_ym, age_m, n_orders, rev_cents,
             CAST(SUM(rev_cents) OVER (PARTITION BY cohort_ym
               ORDER BY age_m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_rev_cents
      FROM cells)
    SELECT CAST(cohort_ym // 12 AS VARCHAR) || '-'
             || lpad(CAST(cohort_ym % 12 + 1 AS VARCHAR), 2, '0')
             AS cohort,
           CAST(age_m AS INTEGER) AS age_m,
           s.cohort_size, n_orders, rev_cents, cum_rev_cents,
           ROUND(CAST(cum_rev_cents AS DOUBLE)
                 / CAST(s.cohort_size AS DOUBLE), 4)
             AS ltv_cents_per_cust
    FROM cum JOIN sized s USING (cohort_ym)
    ORDER BY cohort, age_m
"""


def q176_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-28-day rolling OLS revenue trend — the windowed
    version of q100's global linear fit and the day-to-day signal a
    growth dashboard actually plots: for each order day, the
    least-squares slope (cents/day) of daily revenue over that day
    and the 27 calendar days before it, computed from closed-form
    sufficient statistics.

    Exactness: x is the integer epoch-day index, y the int64 daily
    cents; the RANGE frame accumulates n, Sx, Sy, Sxy, Sxx as exact
    int64 (xy products stay < 2^63 until ~10^14 cents/day); the
    slope numerator/denominator n*Sxy - Sx*Sy and n*Sxx - Sx^2 are
    computed in DECIMAL(38,0) so the cross terms never round, with
    one final double division ROUND 6. Windows shorter than 2
    distinct days have no slope (NULL), not a 0/0.

    Scale shape: orders reduce map-side to one row per calendar day
    FIRST; the range-frame window then runs over that reduced
    |days| frame (the sanctioned below-an-Aggregate shape — a
    century of days is ~36k rows), ordered by the integer day key so
    the frame bound is calendar-correct across gaps.
    """
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    daily = o.groupBy(day.alias("x")).agg(
        F.sum(cents).cast("long").alias("y")
    )
    w = Window.orderBy("x").rangeBetween(-27, 0)
    s = daily.select(
        "x", "y",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = d38("n") * d38("sxy") - d38("sx") * d38("sy")
    den = d38("n") * d38("sxx") - d38("sx") * d38("sx")
    return s.select(
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("x").cast("int"))
        .alias("d"),
        F.col("y").alias("rev_cents"),
        F.col("n").alias("n_days_in_window"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(num.cast("double") / den.cast("double"), 6))
        .alias("slope_cents_per_day"),
    ).orderBy("d")


QUERIES["q176_rolling_ols_slope"] = q176_rolling_ols_slope

ORACLES["q176_rolling_ols_slope"] = """
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    s AS (
      SELECT x, y,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
      FROM daily
      WINDOW w AS (ORDER BY x RANGE BETWEEN 27 PRECEDING AND CURRENT ROW))
    SELECT DATE '1970-01-01' + CAST(x AS INTEGER) AS d,
           y AS rev_cents,
           n AS n_days_in_window,
           CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx
                     - CAST(sx AS DECIMAL(38,0)) * sx = 0 THEN NULL
                ELSE ROUND(
                  CAST(CAST(n AS DECIMAL(38,0)) * sxy
                       - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                  / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                         - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 6)
           END AS slope_cents_per_day
    FROM s
    ORDER BY d
"""

def q179_journey_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex pattern matching over per-user event JOURNEYS — the
    batch analog of MATCH_RECOGNIZE / Flink CEP: each user's event
    history compresses to an ordered character string (one char per
    event type: c/e/p/s/v), and named behavioral patterns are counted
    as regular-expression matches over those strings. Sequence REGEX
    is strictly more expressive than the fixed funnels (q97/q171) and
    trigram censuses (q144): 'two errors anywhere', 'purchase with NO
    prior click' and 'single-event bounce' are one-liners here.

    Exactness: the journey string is a total order — events sort by
    (ts, event_id) and event_id is unique, so both engines build the
    IDENTICAL string; the five patterns use only portable regex
    (anchors, classes, '.', '*'), and counts/shares are int64 with
    one ROUND 6 division.

    Scale shape: one events scan reduces map-side to one row per
    user (collect_list + array_sort — per-user arrays are
    events-per-user sized, the same bound every sessionization
    carries); the five pattern flags are ONE projection over that
    reduced frame (conditional sums, no fan-out join); output is 5
    rows via a literal explode.
    """
    e = load_table(spark, sf_dir, "events")
    ch = F.substring(F.col("event_type"), 1, 1)
    per_user = (
        e.select("user_id", F.col("ts"), F.col("event_id"), ch.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "ch"))
                    ),
                    lambda x: x["ch"],
                ),
                "",
            ).alias("journey")
        )
    )
    pats = [
        ("bounce_single_event", "^.$"),
        ("click_path_to_purchase", "v.*c.*p"),
        ("direct_purchase_no_click", "^[^c]*p"),
        ("error_retry", "e.*e"),
        ("signup_then_purchase", "s.*p"),
    ]
    agg = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        *[
            F.sum(F.col("journey").rlike(rx).cast("long"))
            .cast("long")
            .alias(f"m{i}")
            for i, (_, rx) in enumerate(pats)
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("pattern"),
                F.col(f"m{i}").alias("n_matched"),
            )
            for i, (name, _) in enumerate(pats)
        ]
    )
    out = agg.select("n_users", F.explode(rows).alias("r")).select(
        F.col("r.pattern").alias("pattern"),
        F.coalesce(F.col("r.n_matched"), F.lit(0)).alias("n_matched"),
        "n_users",
        F.when(F.col("n_users") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("r.n_matched").cast("double")
                / F.col("n_users").cast("double"),
                6,
            )
        )
        .alias("share"),
    )
    return out.orderBy("pattern")


QUERIES["q179_journey_patterns"] = q179_journey_patterns

ORACLES["q179_journey_patterns"] = """
    WITH j AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS journey
      FROM events GROUP BY 1),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(COALESCE(SUM(CASE WHEN regexp_matches(journey, '^.$')
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS m0,
             CAST(COALESCE(SUM(CASE WHEN regexp_matches(journey, 'v.*c.*p')
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS m1,
             CAST(COALESCE(SUM(CASE WHEN regexp_matches(journey, '^[^c]*p')
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS m2,
             CAST(COALESCE(SUM(CASE WHEN regexp_matches(journey, 'e.*e')
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS m3,
             CAST(COALESCE(SUM(CASE WHEN regexp_matches(journey, 's.*p')
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS m4
      FROM j),
    u AS (
      SELECT 'bounce_single_event' AS pattern, m0 AS n_matched, n_users
        FROM agg
      UNION ALL SELECT 'click_path_to_purchase', m1, n_users FROM agg
      UNION ALL SELECT 'direct_purchase_no_click', m2, n_users FROM agg
      UNION ALL SELECT 'error_retry', m3, n_users FROM agg
      UNION ALL SELECT 'signup_then_purchase', m4, n_users FROM agg)
    SELECT pattern, n_matched, n_users,
           CASE WHEN n_users = 0 THEN 0.0
                ELSE ROUND(CAST(n_matched AS DOUBLE)
                         / CAST(n_users AS DOUBLE), 6) END AS share
    FROM u
    ORDER BY pattern
"""

def q180_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand — the log-log regression
    every pricing team runs: slope of ln(quantity) on ln(unit price)
    across a brand's line items, estimated in closed form from
    sufficient statistics. Elasticity < -1 reads "elastic", -1..0
    "inelastic"; the emitted band column makes the report directly
    actionable.

    Exactness: ln(unit price) and ln(quantity) are libm calls on
    IDENTICAL doubles (one division, identical expression structure
    both engines — the q75 ln precedent), quantized to q6 INTEGERS
    per row before any aggregation (the q149 fold-order-immune
    convention); sums and cross-products accumulate in DECIMAL(38,0)
    (xq*yq ~ 2.6e14 per row passes int64 in aggregate near 1e5
    rows/brand); the slope is one double division ROUND 6 — the 1e6
    quantization scale cancels between numerator and denominator.
    Brands with a degenerate price spread (den = 0) emit NULL.

    Scale shape: lineitem joins the part dim on partkey (broadcast
    at dim scale), reduces in ONE aggregation to nine cells per
    brand (map-side combine), then a |brands|-row projection. No
    windows, no fan-out.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rows = li.where(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    ).join(F.broadcast(p.select("p_partkey", "p_brand")),
           li["l_partkey"] == p["p_partkey"])
    xq = F.round(
        F.log(F.col("l_extendedprice") / F.col("l_quantity")) * 1e6, 0
    ).cast("long")
    yq = F.round(F.log(F.col("l_quantity")) * 1e6, 0).cast("long")
    cells = (
        rows.select("p_brand", xq.alias("xq"), yq.alias("yq"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("xq").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("yq").cast("decimal(38,0)")).alias("sy"),
            F.sum((F.col("xq") * F.col("yq")).cast("decimal(38,0)"))
            .alias("sxy"),
            F.sum((F.col("xq") * F.col("xq")).cast("decimal(38,0)"))
            .alias("sxx"),
        )
    )
    n = F.col("n_lines").cast("decimal(38,0)")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        F.round(num.cast("double") / den.cast("double"), 6)
    )
    return cells.select(
        "p_brand", "n_lines", slope.alias("elasticity"),
        F.when(slope.isNull(), F.lit("undefined"))
        .when(slope < -1, F.lit("elastic"))
        .when(slope < 0, F.lit("inelastic"))
        .otherwise(F.lit("non_negative"))
        .alias("band"),
    ).orderBy("p_brand")


QUERIES["q180_price_elasticity"] = q180_price_elasticity

ORACLES["q180_price_elasticity"] = """
    WITH cells AS (
      SELECT p.p_brand,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(ROUND(ln(l.l_extendedprice / l.l_quantity)
                                 * 1e6, 0) AS BIGINT)) AS DECIMAL(38,0))
               AS sx,
             CAST(SUM(CAST(ROUND(ln(l.l_quantity) * 1e6, 0) AS BIGINT))
               AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(ROUND(ln(l.l_extendedprice / l.l_quantity)
                                 * 1e6, 0) AS BIGINT)
                      * CAST(ROUND(ln(l.l_quantity) * 1e6, 0) AS BIGINT))
               AS DECIMAL(38,0)) AS sxy,
             CAST(SUM(CAST(ROUND(ln(l.l_extendedprice / l.l_quantity)
                                 * 1e6, 0) AS BIGINT)
                      * CAST(ROUND(ln(l.l_extendedprice / l.l_quantity)
                                   * 1e6, 0) AS BIGINT))
               AS DECIMAL(38,0)) AS sxx
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
      GROUP BY 1),
    s AS (
      SELECT p_brand, n_lines,
             CASE WHEN CAST(n_lines AS DECIMAL(38,0)) * sxx - sx * sx = 0
                  THEN NULL
                  ELSE ROUND(
                    CAST(CAST(n_lines AS DECIMAL(38,0)) * sxy - sx * sy
                         AS DOUBLE)
                    / CAST(CAST(n_lines AS DECIMAL(38,0)) * sxx - sx * sx
                           AS DOUBLE), 6)
             END AS elasticity
      FROM cells)
    SELECT p_brand, n_lines, elasticity,
           CASE WHEN elasticity IS NULL THEN 'undefined'
                WHEN elasticity < -1 THEN 'elastic'
                WHEN elasticity < 0 THEN 'inelastic'
                ELSE 'non_negative' END AS band
    FROM s
    ORDER BY p_brand
"""

def _q181_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user clamped-wallet frame shared by q181 and the
    kernel-equivalence test: (user_id, n_events, n_clamps,
    final_cents), where the wallet earns +cents on view/click/signup,
    spends -cents on purchase/error, and CLAMPS AT ZERO (a free-tier
    credit balance can't go negative).

    The sequential recursion stock_t = max(0, stock_{t-1} + delta_t)
    looks applyInPandas-only, but has the classic reflection closed
    form over prefix sums P_t:

        stock_t  = P_t - min(0, min_{k<=t} P_k)
        clamp@t <=> P_t < min(0, min_{k<t} P_k)

    so the whole thing is two PARTITIONED windows + one lag — codegen
    arithmetic, no Python in the hot path. operators/ledger.py holds
    the literal applyInPandas loop; tests/test_ledger.py proves the
    two row-identical.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    delta = F.when(
        F.col("event_type").isin("purchase", "error"), -cents
    ).otherwise(cents)
    rows = e.select(
        "user_id", "ts", "event_id", delta.alias("delta")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = rows.withColumn("p", F.sum("delta").over(w).cast("long"))
    p = p.withColumn(
        "m_prev",
        F.least(
            F.lit(0).cast("long"),
            F.coalesce(F.min("p").over(w_prev), F.lit(0).cast("long")),
        ),
    ).withColumn("clamped", (F.col("p") < F.col("m_prev")).cast("long"))
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("clamped").cast("long").alias("n_clamps"),
        (
            F.sum("delta")
            - F.least(F.lit(0).cast("long"), F.min("p"))
        ).cast("long").alias("final_cents"),
    )


def q181_clamped_wallet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-floor credit-wallet simulation over every user's event
    history (see _q181_per_user for the reflection closed form that
    keeps the sequential clamp recursion in codegen), reported as a
    clamp-count histogram: how many users hit the floor 0, 1, 2...
    times, and what they ended up holding.

    Exactness: deltas quantize to the int64 cents grid; prefix sums,
    running mins and the clamp flags are integer window arithmetic;
    the one division (avg final balance) rounds at 4.

    Scale shape: the event-table windows are PARTITIONED by user_id
    (bounded by events-per-user, the sessionization bound), then two
    aggregations: per-user (map-side combinable after the window
    shuffle) and the tiny histogram group.
    """
    per_user = _q181_per_user(spark, sf_dir)
    return (
        per_user.groupBy("n_clamps")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("final_cents").cast("long").alias("final_cents"),
            F.round(
                F.sum("final_cents").cast("double")
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("avg_final_cents"),
        )
        .orderBy("n_clamps")
    )


QUERIES["q181_clamped_wallet"] = q181_clamped_wallet

ORACLES["q181_clamped_wallet"] = """
    WITH rows_ AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('purchase', 'error')
                  THEN -CAST(ROUND(value * 100, 0) AS BIGINT)
                  ELSE  CAST(ROUND(value * 100, 0) AS BIGINT)
             END AS delta
      FROM events),
    pre AS (
      SELECT user_id, ts, event_id, delta,
             CAST(SUM(delta) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS p
      FROM rows_),
    p AS (
      SELECT user_id, delta, p,
             least(CAST(0 AS BIGINT),
                   COALESCE(MIN(p) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0)) AS m_prev
      FROM pre),
    per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN p < m_prev THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clamps,
             CAST(SUM(delta) - least(CAST(0 AS BIGINT), MIN(p))
               AS BIGINT) AS final_cents
      FROM p GROUP BY 1)
    SELECT n_clamps,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(final_cents) AS BIGINT) AS final_cents,
           ROUND(CAST(SUM(final_cents) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS avg_final_cents
    FROM per_user
    GROUP BY 1
    ORDER BY 1
"""

def q182_position_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) AND time-decay attribution in one
    dataflow — completing the attribution family (q117 last-touch,
    q153 linear): every purchase splits credit across the trailing
    7 days of touch activity, (a) 40% to the first day / 40% to the
    last day / 20% across the middle (1-day journeys take 100%,
    2-day 50/50), split within a day by touch counts; (b) weighted
    by a 3.5-day-half-life exponential decay.

    Exactness: the decay factor pow(2, -lag/3.5) quantizes to a q6
    INTEGER per (purchase, day) BEFORE the per-purchase normalizer
    sums it against int64 counts — the normalizer is exact, so the
    decay credit is floor(exact_int_double / exact_int_double), safe
    from fold-order ulps; the U-shape weight is an identical literal
    double expression on both engines feeding one floor; per-type
    totals are int64 sums of the floored q6 credits.

    Scale shape: identical to q153 — purchases and touches both
    reduce map-side to per-(user, day) counts, the trailing-window
    join fans each purchase to <= 7 rows of reduced frames keyed on
    user, and per-purchase stats come from a bounded re-aggregation,
    never a raw-event self-join. Output is |types| rows.
    """
    e = _t(spark, sf_dir, "events")
    d = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    touches = (
        e.where(F.col("event_type") != "purchase")
        .select("user_id", d.alias("td"), "event_type")
        .groupBy("user_id", "td", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", d.alias("pd"))
        .groupBy("user_id", "pd")
        .agg(F.count(F.lit(1)).cast("long").alias("p"))
    )
    win = lambda pp, tt: (  # noqa: E731
        (pp.user_id == tt.user_id)
        & (F.col("td") <= F.col("pd"))
        & (F.col("td") >= F.col("pd") - 6)
    )
    # per-(purchase, day) totals with the q6-quantized decay factor
    dq = F.round(
        F.pow(F.lit(2.0), -(F.col("pd") - F.col("td")).cast("double") / 3.5)
        * 1e6,
        0,
    ).cast("long")
    days = (
        purchases.join(touches, win(purchases, touches))
        .groupBy(purchases.user_id, "pd", "p", "td")
        .agg(F.sum("c").cast("long").alias("cd"))
        .withColumn("dq", dq)
    )
    stats = days.groupBy("user_id", "pd", "p").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.min("td").alias("d_first"),
        F.max("td").alias("d_last"),
        F.sum(F.col("cd") * F.col("dq")).cast("long").alias("norm_q"),
    )
    t2 = touches.select(
        F.col("user_id").alias("t_uid"),
        F.col("td").alias("t_td"),
        "event_type",
        "c",
    )
    base = days.join(stats, ["user_id", "pd", "p"]).join(
        t2,
        (F.col("user_id") == F.col("t_uid"))
        & (F.col("td") == F.col("t_td")),
    )
    w_day = (
        F.when(F.col("n_days") == 1, F.lit(1.0))
        .when(F.col("n_days") == 2, F.lit(0.5))
        .when(
            (F.col("td") == F.col("d_first"))
            | (F.col("td") == F.col("d_last")),
            F.lit(0.4),
        )
        .otherwise(F.lit(0.2) / (F.col("n_days") - 2).cast("double"))
    )
    x = (F.col("p") * 1000000 * F.col("c")).cast("double")
    ushape_q6 = F.floor(x * w_day / F.col("cd").cast("double")).cast("long")
    decay_q6 = F.floor(
        (F.col("p") * 1000000 * F.col("c") * F.col("dq")).cast("double")
        / F.col("norm_q").cast("double")
    ).cast("long")
    credit = (
        base.select(
            "event_type",
            ushape_q6.alias("u_q6"),
            decay_q6.alias("dcy_q6"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("u_q6").cast("long").alias("ushape_q6"),
            F.sum("dcy_q6").cast("long").alias("decay_q6"),
        )
    )
    total = purchases.agg(F.sum("p").cast("long").alias("total_purchases"))
    return (
        credit.crossJoin(F.broadcast(total))
        .select(
            "event_type", "ushape_q6", "decay_q6",
            F.round(F.col("ushape_q6").cast("double") / 1e6, 4)
            .alias("ushape_credit"),
            F.round(F.col("decay_q6").cast("double") / 1e6, 4)
            .alias("decay_credit"),
            "total_purchases",
        )
        .orderBy("event_type")
    )


QUERIES["q182_position_decay_attribution"] = q182_position_decay_attribution

ORACLES["q182_position_decay_attribution"] = """
    WITH t AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS td,
             event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE event_type <> 'purchase'
      GROUP BY 1, 2, 3),
    pu AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS BIGINT) AS pd,
             CAST(COUNT(*) AS BIGINT) AS p
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2),
    days AS (
      SELECT pu.user_id, pu.pd, pu.p, t.td,
             CAST(SUM(t.c) AS BIGINT) AS cd,
             CAST(ROUND(pow(2.0, -CAST(pu.pd - t.td AS DOUBLE) / 3.5)
                        * 1e6, 0) AS BIGINT) AS dq
      FROM pu JOIN t ON pu.user_id = t.user_id
        AND t.td <= pu.pd AND t.td >= pu.pd - 6
      GROUP BY 1, 2, 3, 4),
    stats AS (
      SELECT user_id, pd, p,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             MIN(td) AS d_first, MAX(td) AS d_last,
             CAST(SUM(cd * dq) AS BIGINT) AS norm_q
      FROM days GROUP BY 1, 2, 3),
    base AS (
      SELECT t.event_type,
             CAST(FLOOR(CAST(d.p * 1000000 * t.c AS DOUBLE)
               * (CASE WHEN s.n_days = 1 THEN 1.0
                       WHEN s.n_days = 2 THEN 0.5
                       WHEN d.td = s.d_first OR d.td = s.d_last THEN 0.4
                       ELSE 0.2 / CAST(s.n_days - 2 AS DOUBLE) END)
               / CAST(d.cd AS DOUBLE)) AS BIGINT) AS u_q6,
             CAST(FLOOR(CAST(d.p * 1000000 * t.c * d.dq AS DOUBLE)
               / CAST(s.norm_q AS DOUBLE)) AS BIGINT) AS dcy_q6
      FROM days d
      JOIN stats s ON d.user_id = s.user_id AND d.pd = s.pd
      JOIN t ON t.user_id = d.user_id AND t.td = d.td),
    credit AS (
      SELECT event_type,
             CAST(SUM(u_q6) AS BIGINT) AS ushape_q6,
             CAST(SUM(dcy_q6) AS BIGINT) AS decay_q6
      FROM base GROUP BY 1)
    SELECT event_type, ushape_q6, decay_q6,
           ROUND(CAST(ushape_q6 AS DOUBLE) / 1e6, 4) AS ushape_credit,
           ROUND(CAST(decay_q6 AS DOUBLE) / 1e6, 4) AS decay_credit,
           (SELECT CAST(SUM(p) AS BIGINT) FROM pu) AS total_purchases
    FROM credit
    ORDER BY event_type
"""

def q184_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative weekday seasonality index of daily revenue —
    the classical-decomposition seasonal component every forecast
    (q162's seasonal-naive baseline) implicitly assumes: index(wd) =
    mean daily revenue on weekday wd / overall mean daily revenue,
    1.0 = no effect.

    Exactness: weekday comes from the epoch-anchored pmod closed
    form (1970-01-01 + 3 = Monday 0 — no engine week-start
    conventions, the q150 precedent); daily revenue is int64 cents;
    the index is a ratio of two exact-integer averages computed with
    IDENTICAL expression structure on both engines, ROUND 6.

    Scale shape: orders reduce map-side to per-day cents, the
    weekday aggregate is 7 rows, and the overall mean attaches via
    the sanctioned 1-row broadcast literal. Nothing downstream of
    the first aggregate exceeds 7 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    daily = o.groupBy(day.alias("x")).agg(
        F.sum(cents).cast("long").alias("y")
    )
    wd = daily.groupBy(
        F.pmod(F.col("x") + 3, F.lit(7)).cast("int").alias("weekday")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("y").cast("long").alias("rev_cents"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("y").cast("long").alias("rev_all"),
    )
    idx = (
        F.col("rev_cents").cast("double") / F.col("n_days").cast("double")
    ) / (F.col("rev_all").cast("double") / F.col("n_all").cast("double"))
    return (
        wd.join(F.broadcast(tot))
        .select(
            "weekday", "n_days", "rev_cents",
            F.round(idx, 6).alias("seasonal_index"),
        )
        .orderBy("weekday")
    )


QUERIES["q184_weekday_seasonality"] = q184_weekday_seasonality

ORACLES["q184_weekday_seasonality"] = """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) AS y
      FROM orders GROUP BY 1),
    wd AS (
      SELECT CAST((x + 3) % 7 AS INTEGER) AS weekday,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(y) AS BIGINT) AS rev_cents
      FROM daily GROUP BY 1),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(y) AS BIGINT) AS rev_all
      FROM daily)
    SELECT weekday, n_days, rev_cents,
           ROUND((CAST(rev_cents AS DOUBLE) / CAST(n_days AS DOUBLE))
                 / (CAST(rev_all AS DOUBLE) / CAST(n_all AS DOUBLE)), 6)
             AS seasonal_index
    FROM wd CROSS JOIN tot
    ORDER BY weekday
"""

def q186_funnel_window_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window sensitivity sweep — the robustness check
    behind every funnel definition (q97/q171 pick ONE window; this
    answers "how much does the answer depend on that choice"):
    view -> click conversion measured simultaneously at 1h / 6h /
    24h / 168h deadlines from each user's first view, in ONE scan.

    Exactness: per-user minimum click lag is integer epoch-MICROsecond
    arithmetic (exact int64 on both engines — second-granularity
    unix_timestamp truncates in Spark while DuckDB epoch() keeps
    fractions); the four deadline tests are integer comparisons on
    that ONE reduced column; rates are single divisions ROUND 6.

    Scale shape: views and clicks each reduce map-side per user; one
    key-partitioned join; the sweep itself costs nothing extra — all
    four windows are conditional sums in a single 1-row aggregate
    (adding a fifth window is one more column, not another scan),
    then a 4-row literal explode.
    """
    e = _t(spark, sf_dir, "events")
    # integer MICROSECONDS, not unix_timestamp: the data carries
    # sub-second timestamps, and Spark's unix_timestamp truncates
    # while DuckDB's epoch() keeps fractions — second-granularity
    # arithmetic would diverge on any boundary row. epoch_us is an
    # exact int64 on both engines.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("v0"))
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", us.alias("ct")
    )
    minlag = (
        clicks.join(views, "user_id")
        .where(F.col("ct") > F.col("v0"))
        .groupBy("user_id")
        .agg(F.min(F.col("ct") - F.col("v0")).alias("lag_us"))
    )
    hours = [1, 6, 24, 168]
    lag_counts = minlag.agg(
        *[
            F.sum((F.col("lag_us") <= h * 3600 * 1_000_000).cast("long"))
            .cast("long")
            .alias(f"m{h}")
            for h in hours
        ]
    )
    nv = views.agg(F.count(F.lit(1)).cast("long").alias("n_viewed"))
    agg = nv.join(F.broadcast(lag_counts))
    rows = F.array(
        *[
            F.struct(
                F.lit(h).cast("int").alias("window_hours"),
                F.coalesce(F.col(f"m{h}"), F.lit(0)).alias("n_converted"),
            )
            for h in hours
        ]
    )
    return (
        agg.select("n_viewed", F.explode(rows).alias("r"))
        .select(
            F.col("r.window_hours").alias("window_hours"),
            "n_viewed",
            F.col("r.n_converted").alias("n_converted"),
            F.when(F.col("n_viewed") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("r.n_converted").cast("double")
                    / F.col("n_viewed").cast("double"),
                    6,
                )
            )
            .alias("conversion_rate"),
        )
        .orderBy("window_hours")
    )


QUERIES["q186_funnel_window_sensitivity"] = q186_funnel_window_sensitivity

ORACLES["q186_funnel_window_sensitivity"] = """
    WITH views AS (
      SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS v0
      FROM events WHERE event_type = 'view' GROUP BY 1),
    minlag AS (
      SELECT e.user_id,
             MIN(epoch_us(CAST(e.ts AS TIMESTAMP)) - v.v0) AS lag_us
      FROM events e JOIN views v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.v0
      GROUP BY 1),
    c AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN lag_us <= 1::BIGINT * 3600 * 1000000
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS m1,
             CAST(COALESCE(SUM(CASE WHEN lag_us <= 6::BIGINT * 3600 * 1000000
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS m6,
             CAST(COALESCE(SUM(CASE WHEN lag_us <= 24::BIGINT * 3600 * 1000000
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS m24,
             CAST(COALESCE(SUM(CASE WHEN lag_us <= 168::BIGINT * 3600 * 1000000
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS m168
      FROM minlag),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_viewed FROM views),
    u AS (
      SELECT 1 AS window_hours, n_viewed, m1 AS n_converted
        FROM nv CROSS JOIN c
      UNION ALL SELECT 6, n_viewed, m6 FROM nv CROSS JOIN c
      UNION ALL SELECT 24, n_viewed, m24 FROM nv CROSS JOIN c
      UNION ALL SELECT 168, n_viewed, m168 FROM nv CROSS JOIN c)
    SELECT CAST(window_hours AS INTEGER) AS window_hours,
           n_viewed, n_converted,
           CASE WHEN n_viewed = 0 THEN 0.0
                ELSE ROUND(CAST(n_converted AS DOUBLE)
                         / CAST(n_viewed AS DOUBLE), 6) END
             AS conversion_rate
    FROM u
    ORDER BY window_hours
"""

def q193_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling by LINEAR INTERPOLATION — the
    hypertable `interpolate()` companion to q99's locf(): densify the
    hourly per-type arrival spectrum, then fill each empty slot on
    the line between its nearest observed neighbors, time-weighted;
    slots before the first / after the last observation degrade to
    nearest-observation fill. Each row reports its fill method, so
    downstream consumers can weight imputed points.

    Exactness: neighbors come from the same gaps-and-islands
    formulation as q99 run FORWARD AND BACKWARD (no IGNORE NULLS
    syntax, identical in ANSI SQL); the interpolation weight is a
    ratio of integer epoch-second gaps over int64 counts with
    identical expression structure on both engines, ROUND 4.

    Scale shape: one bucket aggregation is the only wide pass; the
    spectrum is the sanctioned 1-row bounds attach + sequence
    explode; all four windows partition on event_type over the
    |types| x |hours| reduced frame.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = e.agg(
        F.min(F.date_trunc("hour", "ts")).alias("mn"),
        F.max(F.date_trunc("hour", "ts")).alias("mx"),
    )
    spec = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    j = spec.join(b, ["event_type", "h"], "left_outer")
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bwd = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    g = j.withColumn("g1", F.count("c").over(fwd)).withColumn(
        "g2", F.count("c").over(bwd)
    )
    isl1 = Window.partitionBy("event_type", "g1")
    isl2 = Window.partitionBy("event_type", "g2")
    sec = F.unix_timestamp(F.col("h"))
    g = g.select(
        "event_type", "h", "c", sec.alias("s"),
        F.max("c").over(isl1).alias("pc"),
        F.min(F.when(F.col("c").isNotNull(), sec)).over(isl1).alias("ps"),
        F.max("c").over(isl2).alias("nc"),
        F.max(F.when(F.col("c").isNotNull(), sec)).over(isl2).alias("ns"),
    )
    interp = F.col("pc").cast("double") + (
        F.col("nc") - F.col("pc")
    ).cast("double") * (F.col("s") - F.col("ps")).cast("double") / (
        F.col("ns") - F.col("ps")
    ).cast("double")
    filled = (
        F.when(F.col("c").isNotNull(), F.col("c").cast("double"))
        .when(
            F.col("pc").isNotNull() & F.col("nc").isNotNull(),
            F.round(interp, 4),
        )
        .when(F.col("pc").isNotNull(), F.col("pc").cast("double"))
        .when(F.col("nc").isNotNull(), F.col("nc").cast("double"))
        .otherwise(F.lit(0.0))
    )
    method = (
        F.when(F.col("c").isNotNull(), F.lit("obs"))
        .when(
            F.col("pc").isNotNull() & F.col("nc").isNotNull(),
            F.lit("interp"),
        )
        .when(F.col("pc").isNotNull(), F.lit("locf"))
        .when(F.col("nc").isNotNull(), F.lit("nocb"))
        .otherwise(F.lit("empty"))
    )
    return g.select(
        "event_type", "h",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("obs"),
        filled.alias("filled"),
        method.alias("method"),
    ).orderBy("event_type", "h")


QUERIES["q193_gapfill_interpolate"] = q193_gapfill_interpolate

ORACLES["q193_gapfill_interpolate"] = """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT MIN(date_trunc('hour', ts)) AS mn,
             MAX(date_trunc('hour', ts)) AS mx
      FROM events),
    spec AS (
      SELECT t.event_type, unnest(generate_series(b.mn, b.mx,
                                  INTERVAL 1 HOUR)) AS h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN bounds b),
    j AS (
      SELECT s.event_type, s.h, b.c
      FROM spec s LEFT JOIN b ON s.event_type = b.event_type
                             AND s.h = b.h),
    g AS (
      SELECT event_type, h, c,
             epoch(h) AS s,
             COUNT(c) OVER (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g1,
             COUNT(c) OVER (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS g2
      FROM j),
    n AS (
      SELECT event_type, h, c, s,
             MAX(c) OVER w1 AS pc,
             MIN(CASE WHEN c IS NOT NULL THEN s END) OVER w1 AS ps,
             MAX(c) OVER w2 AS nc,
             MAX(CASE WHEN c IS NOT NULL THEN s END) OVER w2 AS ns
      FROM g
      WINDOW w1 AS (PARTITION BY event_type, g1),
             w2 AS (PARTITION BY event_type, g2))
    SELECT event_type, h,
           CAST(COALESCE(c, 0) AS BIGINT) AS obs,
           CASE WHEN c IS NOT NULL THEN CAST(c AS DOUBLE)
                WHEN pc IS NOT NULL AND nc IS NOT NULL THEN
                  ROUND(CAST(pc AS DOUBLE)
                        + CAST(nc - pc AS DOUBLE)
                          * CAST(s - ps AS DOUBLE)
                          / CAST(ns - ps AS DOUBLE), 4)
                WHEN pc IS NOT NULL THEN CAST(pc AS DOUBLE)
                WHEN nc IS NOT NULL THEN CAST(nc AS DOUBLE)
                ELSE 0.0 END AS filled,
           CASE WHEN c IS NOT NULL THEN 'obs'
                WHEN pc IS NOT NULL AND nc IS NOT NULL THEN 'interp'
                WHEN pc IS NOT NULL THEN 'locf'
                WHEN nc IS NOT NULL THEN 'nocb'
                ELSE 'empty' END AS method
    FROM n
    ORDER BY event_type, h
"""
