"""Plan-quality regression tests: the physical plans the engine
promises at scale — filter/column pushdown into the parquet scan,
broadcast joins for small dims, single-shuffle windows. A passing
result (correct rows) with a regressed plan is still a failure at
100 TB, so the plans themselves are pinned here.
"""

from __future__ import annotations

import pytest

from dataingestiontohana_spark.plans import QUERIES

from tests.conftest import SF001, plan_has_exchange


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _full(df) -> str:
    return df._jdf.queryExecution().toString()


def test_q01_filter_and_columns_pushed_to_scan(spark):
    df = QUERIES["q01_filter_project"](spark, SF001)
    full = _full(df)
    assert "GreaterThan(l_quantity,45.0)" in full  # predicate at the scan
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"
        in full
    )  # 3 of 11 columns read


def test_q05_small_dim_broadcasts(spark):
    df = QUERIES["q05_inner_join"](spark, SF001)
    assert "BroadcastHashJoin" in _executed(df)


def test_q06_all_joins_broadcast_no_sortmerge_at_small_sf(spark):
    df = QUERIES["q06_multiway_join_agg"](spark, SF001)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan
    # region filter reached the region scan, not a post-join filter
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in _full(df)


def test_q08_semi_join_stays_semi(spark):
    df = QUERIES["q08_semi_join"](spark, SF001)
    assert "LeftSemi" in _optimized(df)


def test_q09_anti_join_stays_anti(spark):
    df = QUERIES["q09_anti_join"](spark, SF001)
    assert "LeftAnti" in _optimized(df)


def test_q10_partial_aggregation_present(spark):
    # map-side partial agg: two HashAggregate nodes around the exchange
    df = QUERIES["q10_hash_agg"](spark, SF001)
    assert _executed(df).count("HashAggregate") >= 2


def test_q14_window_single_shuffle(spark):
    df = QUERIES["q14_topk_per_group"](spark, SF001)
    plan = _executed(df)
    # one hash exchange for the window partition key; the final global
    # sort adds a range exchange — nothing else
    assert plan.count("hashpartitioning") <= 1


def test_q20_aggregation_pushes_column_pruning(spark):
    df = QUERIES["q20_time_bucket"](spark, SF001)
    full = _full(df)
    # events has 6 columns; the scan must read only ts/event_type/value
    assert "props" not in full.split("ReadSchema")[-1]


def test_q64_centroid_joins_broadcast_no_vector_shuffle(spark):
    df = QUERIES["q64_centroid_outliers"](spark, SF001)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan  # centroids + norms broadcast
    assert "SortMergeJoin" not in plan
    # no exchange carries the embedding array column: explode happens
    # map-side, aggregates reduce to scalars before every shuffle
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "embedding" not in line


def test_q75_tfidf_partial_agg_and_no_window(spark):
    df = QUERIES["q75_tfidf_doc_scores"](spark, SF001)
    plan = _executed(df)
    # tf/df/doc-score aggregations all get map-side partial combine
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "Window" not in plan  # no window anywhere in TF-IDF
    # the global top-20 is per-partition heaps, not a sort
    assert "TakeOrderedAndProject" in plan


def test_q74_repetition_filter_is_map_only_plus_topk(spark):
    df = QUERIES["q74_repetition_filter"](spark, SF001)
    plan = _executed(df)
    # single scan, no join/agg/window — fractions computed in the
    # projection; the only cross-row step is TakeOrderedAndProject
    assert "Join" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 0


def test_q77_chunking_is_map_only(spark):
    """Chunk-window generation must stay map-side: one scan, the
    explode in the projection path, no join/window/aggregate — the only
    exchange allowed is the final presentation sort."""
    df = QUERIES["q77_chunk_windows"](spark, SF001)
    plan = _executed(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert "HashAggregate" not in plan
    assert "Generate explode" in plan
    # exactly the rangepartitioning exchange of the output orderBy
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan


# ---------------------------------------------------------------------------
# No declared query may contain an unbounded single-partition window:
# a Window with an empty PARTITION BY funnels its whole input through
# ONE task, which is the shape that dies at 100 TB. The only sanctioned
# uses are windows over already-reduced inputs (below an Aggregate or a
# Limit, e.g. the 256-row bucket-offset window in operators/ranks.py).


def _nodes(plan):
    stack = [plan]
    while stack:
        n = stack.pop()
        yield n
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


def _subtree_is_reduced(window_node):
    for n in _nodes(window_node):
        if n is window_node:
            continue
        name = n.nodeName()
        if "Aggregate" in name or "Limit" in name:
            return True
    return False


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unbounded_single_partition_window(spark, name):
    df = QUERIES[name](spark, SF001)
    plan = df._jdf.queryExecution().optimizedPlan()
    for node in _nodes(plan):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            assert _subtree_is_reduced(node), (
                f"{name}: unpartitioned Window over unreduced input "
                "(single-partition at scale)"
            )


def test_q72_bucketed_join_is_exchange_free(spark):
    from dataingestiontohana_spark.plans.relational_ext import (
        bucketed_fact_tables,
    )

    bo, bl = bucketed_fact_tables(spark, SF001)
    # at tiny SF the planner prefers broadcast (also exchange-free but
    # not the point); force sort-merge to expose the bucketed layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert not plan_has_exchange(bl.join(bo, "o_orderkey")), (
            "bucketed orderkey join must plan with no shuffle exchange"
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_scd2_and_merge_plans_windowless_and_broadcast(spark):
    """SCD2/MERGE (q53/q54) must stay window-free — the classic SCD2
    formulations (ROW_NUMBER over the full dimension, LAST_VALUE per
    key) funnel the dimension through windows; ours is anti/semi join +
    union only. The tiny update side must reach the join as a
    broadcast, never a shuffle of the 100 TB dimension. The lake-side
    MERGE-at-scale story (file-group rewrite, broadcast pruning) is in
    SCALING.md."""
    from dataingestiontohana_spark.plans.cdc import QUERIES as CDC

    for name in ("q53_merge_upsert", "q54_scd2"):
        df = CDC[name](spark, SF001)
        optimized = df._jdf.queryExecution().optimizedPlan()
        assert not any(
            n.nodeName() == "Window" for n in _nodes(optimized)
        ), f"{name}: merge path grew a Window"
        physical = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in physical, name
        assert "SortMergeJoin" not in physical, (
            f"{name}: update-side join degraded to a dimension shuffle"
        )


def test_q80_bm25_broadcasts_and_takeordered(spark):
    """BM25: df and corpus stats ride broadcasts, top-k is
    TakeOrderedAndProject, and the tf filter reaches below its
    aggregation (only query-term hits cross the shuffle)."""
    df = QUERIES["q80_bm25_topk"](spark, SF001)
    plan = _executed(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats crossJoin
    assert "CartesianProduct" not in plan


def test_q82_dhash_pairing_no_cartesian(spark):
    """Image near-dup pairs via band equi-join: never a cartesian or
    nested-loop product."""
    df = QUERIES["q82_image_neardup"](spark, SF001)
    plan = _executed(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q84_rollup_single_scan_single_aggregate(spark):
    """Hypertable rollup: all grains from ONE scan through ONE Expand +
    aggregation pair — not one scan per grain."""
    df = QUERIES["q84_hypertable_rollup"](spark, SF001)
    plan = _executed(df)
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Expand") == 1
    assert "HashAggregate" in plan  # partial+final pair over the expand


def test_kmeans_update_shuffles_scalars_not_arrays(spark):
    """The k-means update exchange carries (cluster_id, dim, val)
    scalar partials — embedding arrays must not enter an exchange."""
    from pyspark.sql import functions as F

    from dataingestiontohana_spark.catalog import load_table
    from dataingestiontohana_spark.operators.ivf import (
        assign_clusters,
        sample_centroids,
    )

    e = load_table(spark, SF001, "embeddings")
    cents = sample_centroids(e, k=8)
    upd = (
        assign_clusters(e, cents)
        .select("cluster_id", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("cluster_id", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("c"))
    )
    plan = _executed(upd)
    ex_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert ex_lines and all("embedding" not in ln for ln in ex_lines), plan
    assert "partial_avg" in plan or "partial" in plan  # map-side combine


def test_q89_substring_dup_no_cartesian_and_partial_agg(spark):
    """The Lee et al. window pipeline: hash-equi joins only (never
    doc-x-doc), the df aggregation gets map-side combine, and no
    window function anywhere."""
    df = QUERIES["q89_substring_dup"](spark, SF001)
    plan = _executed(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_q90_semantic_dedup_one_grouped_matmul_no_pair_join(spark):
    """SemDeDup scores each cluster with ONE dense matmul
    (applyInPandas): each embedding crosses the wire once to its
    cluster's task — there is NO pair-row join (which would shuffle
    O(sum c_i^2) rows) and no sort-merge join anywhere."""
    df = QUERIES["q90_semantic_dedup"](spark, SF001)
    plan = _executed(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan


def test_q91_token_rarity_partial_agg_no_window(spark):
    """Vocabulary aggregation collapses map-side before the exchange;
    the frequency join is equi (1:N), no window, no product."""
    df = QUERIES["q91_token_rarity"](spark, SF001)
    plan = _executed(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_q88_png_color_is_map_only_decode(spark):
    """The color-PNG decode is one mapInPandas over the corpus frame —
    no join, no aggregation, only the presentation sort."""
    df = QUERIES["q88_png_color"](spark, SF001)
    plan = _executed(df)
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_q92_segment_dedup_one_hash_shuffle_no_window(spark):
    """The C4 segment strip: hash-equi joins only, map-side combine on
    the frequency aggregation, no window, no product."""
    df = QUERIES["q92_segment_dedup"](spark, SF001)
    plan = _executed(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_q93_gopher_rules_is_map_only_plus_tiny_agg(spark):
    """Rule gates are per-row codegen expressions; the only exchange
    is the per-source aggregation of int flags — no join at all."""
    df = QUERIES["q93_gopher_rules"](spark, SF001)
    plan = _executed(df)
    assert "Join" not in plan
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan  # no row-wise python


def test_q94_cms_probe_broadcasts_the_sketch(spark):
    """The <=128-row CMS table must broadcast into the probe join —
    a shuffle join here would defeat the sketch's entire purpose."""
    df = QUERIES["q94_cms_heavy_hitters"](spark, SF001)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_q95_bloom_probe_is_broadcast_not_shuffle(spark):
    """The position set (<= m_bits rows) broadcasts; the train side
    must NOT sort-merge on the position (that is the exabyte exchange
    the Bloom path exists to avoid). The exact-join audit half is an
    equi join and may shuffle — but only on the reduced distinct
    (doc, shingle) frame, never as a product."""
    df = QUERIES["q95_bloom_decontaminate"](spark, SF001)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # no single-partition window funnel anywhere
    assert "Window" not in plan
