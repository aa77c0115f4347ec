"""Graph analytics over relational co-occurrence: triangle counting
and local clustering coefficients.

The reference (`/root/reference/README.md`) exhibits a streaming ETL
surface only; graph primitives enter this engine through the
LLM-pipeline mandate (duplicate-edge connected components already live
in operators/connected_components.py, fixed-point PageRank in the
TextRank kernel). The triangle census / clustering coefficients are
the classic third graph primitive — the standard health metrics for
co-occurrence graphs (community structure, spam-ring detection) that
neither CC nor PageRank provides.

Scale design (the whole point of this operator): the naive triangle
join over an undirected edge list explodes on hubs — a node of degree
d contributes C(d,2) wedges, so one celebrity node of degree 10^6
yields 5*10^11 candidates. The standard fix (node-iterator++ /
degree ordering, as in Suri & Vassilvitskii's MapReduce formulation
and GraphFrames' triangle count) orients every undirected edge from
the endpoint of lower (degree, id) to the higher one; wedges are then
built ONLY from each node's OUT-edges, bounding out-degree by
O(sqrt(m)) — total wedge work O(m^{3/2}) independent of hub size.
The orientation key packs (degree, node) into one comparable int64
(degree * 2^32 + node), so ranking needs no global window at all —
no sort, no single-partition funnel; degrees attach via two broadcast
joins of the |nodes|-sized degree frame.

Correctness cross-check: the DuckDB oracles count triangles through a
DIFFERENT formulation — the id-ordered triple join (a<b<c with all
three id-ordered edges present). Both count every triangle exactly
once, so the hash match validates the degree-ordered algorithm against
an independent derivation, not against a replay of itself. Planted
clique/star/path structures are additionally pinned in
tests/test_graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataingestiontohana_spark.catalog import load_table, shared_frame

# suppliers co-appearing in fewer orders than this are not connected:
# the weight threshold keeps the graph sparse as the corpus grows
# (at sf0.01 nearly every pair qualifies — a dense graph whose exact
# triangle count exercises the counting math; at sf0.1+ the threshold
# bites and the graph is genuinely sparse).
MIN_COOCCUR = 5

# rank key = degree * 2^32 + node: a single int64 that orders by
# (degree, node). Safe while degree < 2^31 and node < 2^32; a corpus
# with a single node of degree >= 2^31 needs the DECIMAL(38,0) form.
_RANK_BASE = 1 << 32


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edge list (s1 < s2 by id) of suppliers that co-occur
    in >= MIN_COOCCUR distinct orders.

    Scale shape: ONE shuffle to the per-order supplier set
    (collect_set combines map-side; TPC-H orders hold <= 7 suppliers),
    then pair generation stays codegen — posexplode picks s1, a
    Column-start slice explodes every later element as s2, and
    id-sorted arrays make s1 < s2 by construction. This beats the
    obvious distinct + self-join-on-order formulation (3 shuffles and
    a double scan for the same rows) ~4x at sf0.1. The fan-out is per
    ORDER, not per supplier, so no hub can blow it up.
    """
    li = load_table(spark, sf_dir, "lineitem")
    arr = (
        li.groupBy(F.col("l_orderkey"))
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("a"))
        .select("a")
    )
    t1 = arr.select("a", F.posexplode("a").alias("i", "s1"))
    return (
        t1.select(
            "s1",
            F.explode(
                F.slice(F.col("a"), F.col("i") + 2, F.size("a"))
            ).alias("s2"),
        )
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= MIN_COOCCUR)
        .select("s1", "s2", "cnt")
    )


def _graph_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(edges, degrees, oriented) for the supplier co-occurrence
    graph: q141 and q148 share the edge build + orientation (the
    expensive stages) as one shared frame per sf_dir.

    ``edges``:    (s1, s2, cnt) — undirected weighted edge list.
    ``degrees``:  (node, deg) — undirected degree.
    ``oriented``: (src, dst, kdst) — every edge directed low-rank ->
    high-rank under the packed (deg, id) key; ``kdst`` is the rank key
    of the head, kept so wedge pairs can order by rank without
    re-joining degrees.
    """
    return shared_frame(
        spark, "graph_frames", (sf_dir,), lambda: _build_graph(spark, sf_dir)
    )


def _build_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    e = _supplier_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("s1").alias("node"))
        .unionAll(e.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    d1 = F.broadcast(
        deg.select(F.col("node").alias("s1"), F.col("deg").alias("dg1"))
    )
    d2 = F.broadcast(
        deg.select(F.col("node").alias("s2"), F.col("deg").alias("dg2"))
    )
    k1 = F.col("dg1") * F.lit(_RANK_BASE) + F.col("s1")
    k2 = F.col("dg2") * F.lit(_RANK_BASE) + F.col("s2")
    oriented = (
        e.join(d1, "s1")
        .join(d2, "s2")
        .select(
            F.when(k1 < k2, F.col("s1")).otherwise(F.col("s2")).alias("src"),
            F.when(k1 < k2, F.col("s2")).otherwise(F.col("s1")).alias("dst"),
            F.greatest(k1, k2).alias("kdst"),
        )
        .localCheckpoint(eager=False)
    )
    return e, deg, oriented


def _triangles(oriented: DataFrame) -> DataFrame:
    """All triangles as (u, v, w) rows, each triangle exactly once —
    u is its lowest-rank corner. Wedges come from each node's
    out-edges (rank-ordered pair), the close is one equi-join: the
    closing undirected edge {v, w} is stored oriented low-rank ->
    high-rank, and the wedge pair was ordered by rank."""
    w1 = oriented.alias("w1")
    w2 = oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (F.col("w1.kdst") < F.col("w2.kdst")),
    ).select(
        F.col("w1.src").alias("u"),
        F.col("w1.dst").alias("v"),
        F.col("w2.dst").alias("w"),
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return wedges.join(closing, ["v", "w"]).select("u", "v", "w")


def q141_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-occurrence graph: node/edge
    counts, exact triangle and wedge totals, and the global clustering
    coefficient 3T/W (see module docstring for the algorithm)."""
    _e, deg, oriented = _graph_frames(spark, sf_dir)
    tri = _triangles(oriented).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    summary = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    n_edges = oriented.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))

    # three single-row frames -> literal attach (sanctioned 1-row
    # cross joins), then the clustering coefficient on exact ints
    out = summary.crossJoin(n_edges).crossJoin(tri)
    gcc = F.when(
        F.col("n_wedges") > 0,
        F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6),
    ).otherwise(F.lit(0.0))
    return out.select(
        "n_nodes", "n_edges", "n_triangles", "n_wedges",
        gcc.cast("double").alias("gcc"),
    )


def q148_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by triangle participation, with the local
    clustering coefficient 2t / (d(d-1)) — the per-node community
    metric (is this hub a tight clique or a broadcast star?).

    Each (u,v,w) triangle from the shared degree-ordered enumeration
    is exploded to its three corners; per-node counts aggregate with
    map-side combine; degrees attach via a broadcast join; top-20 by
    (t DESC, node) plans as TakeOrderedAndProject. lcc is one exact
    division of int64 operands, rounded to 6.
    """
    _e, deg, oriented = _graph_frames(spark, sf_dir)
    corners = _triangles(oriented).select(
        F.explode(F.array("u", "v", "w")).alias("node")
    )
    per_node = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    j = per_node.join(F.broadcast(deg), "node")
    lcc = F.round(
        F.lit(2.0) * F.col("t") / (F.col("deg") * (F.col("deg") - 1)), 6
    )
    return (
        j.select(
            "node",
            F.col("deg").cast("long").alias("deg"),
            "t",
            lcc.cast("double").alias("lcc"),
        )
        .orderBy(F.col("t").desc(), F.col("node"))
        .limit(20)
    )




def q151_hub_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by WEIGHTED degree (strength = total
    co-occurrence count over incident edges) — the weighted-graph hub
    ranking that q148's unweighted lcc cannot see (a node with few but
    heavy partnerships outranks a broad shallow one).

    Scale shape: the cached edge list explodes to its two endpoints
    (2m rows), aggregates per node with map-side combine, attaches the
    unweighted degree by one broadcast join, and takes the top-20 as
    TakeOrderedAndProject. avg_w is one exact-int division.
    """
    e, deg, _oriented = _graph_frames(spark, sf_dir)
    ends = e.select(
        F.explode(
            F.array(
                F.struct(F.col("s1").alias("node"), F.col("cnt")),
                F.struct(F.col("s2").alias("node"), F.col("cnt")),
            )
        ).alias("x")
    ).select("x.node", "x.cnt")
    strength = ends.groupBy("node").agg(
        F.sum("cnt").cast("long").alias("strength")
    )
    j = strength.join(F.broadcast(deg), "node")
    return (
        j.select(
            "node",
            F.col("deg").cast("long").alias("deg"),
            "strength",
            F.round(
                F.col("strength").cast("double") / F.col("deg").cast("double"),
                4,
            ).alias("avg_w"),
        )
        .orderBy(F.col("strength").desc(), F.col("node"))
        .limit(20)
    )


QUERIES = {
    "q141_triangle_count": q141_triangle_count,
    "q148_local_clustering": q148_local_clustering,
    "q151_hub_strength": q151_hub_strength,
}

# The id-ordered triple join (a<b<c, edges (a,b),(b,c),(a,c)) is the
# independent oracle formulation shared by both queries.
_ORACLE_EDGES = f"""
    ps AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
    e AS (
      SELECT a.s AS s1, b.s AS s2
      FROM ps a JOIN ps b ON a.o = b.o AND a.s < b.s
      GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_COOCCUR}),
    d AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT s1 AS node FROM e UNION ALL SELECT s2 AS node FROM e) u
      GROUP BY 1),
    tris AS (
      SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      FROM e e1
      JOIN e e2 ON e2.s1 = e1.s2
      JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2)
"""

ORACLES = {
    "q141_triangle_count": f"""
    WITH {_ORACLE_EDGES},
    s AS (
      SELECT (SELECT COUNT(*) FROM d) AS n_nodes,
             (SELECT COUNT(*) FROM e) AS n_edges,
             (SELECT COUNT(*) FROM tris) AS n_triangles,
             (SELECT CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) FROM d)
               AS n_wedges)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           n_wedges,
           CASE WHEN n_wedges > 0
                THEN ROUND(3.0 * n_triangles / n_wedges, 6)
                ELSE 0.0 END AS gcc
    FROM s
    """,
    "q148_local_clustering": f"""
    WITH {_ORACLE_EDGES},
    corners AS (
      SELECT a AS node FROM tris
      UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris),
    per_node AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t
      FROM corners GROUP BY 1)
    SELECT p.node,
           CAST(d.deg AS BIGINT) AS deg,
           p.t,
           ROUND(2.0 * p.t / (d.deg * (d.deg - 1)), 6) AS lcc
    FROM per_node p JOIN d ON p.node = d.node
    ORDER BY p.t DESC, p.node
    LIMIT 20
    """,
    "q151_hub_strength": f"""
    WITH ps AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
    e AS (
      SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ps a JOIN ps b ON a.o = b.o AND a.s < b.s
      GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_COOCCUR}),
    ends AS (
      SELECT s1 AS node, cnt FROM e
      UNION ALL SELECT s2, cnt FROM e),
    d AS (
      SELECT node, COUNT(*) AS deg FROM ends GROUP BY 1),
    st AS (
      SELECT node, CAST(SUM(cnt) AS BIGINT) AS strength
      FROM ends GROUP BY 1)
    SELECT s.node,
           CAST(d.deg AS BIGINT) AS deg,
           s.strength,
           ROUND(CAST(s.strength AS DOUBLE) / CAST(d.deg AS DOUBLE), 4)
             AS avg_w
    FROM st s JOIN d ON s.node = d.node
    ORDER BY s.strength DESC, s.node
    LIMIT 20
    """,
}
