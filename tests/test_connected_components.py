"""Connected components: cross-checked against a pure-Python
union-find on the same edges."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataingestiontohana_spark.catalog import load_table
from dataingestiontohana_spark.operators.connected_components import (
    connected_components,
)
from dataingestiontohana_spark.operators.dedup import minhash_candidates

from tests.conftest import SF001


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical component = min node id, matching the operator contract
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    return comp


def test_components_match_union_find(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 20), (30, 31), (31, 32), (32, 30)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.component for r in connected_components(df).collect()
    }
    assert got == _union_find(edges)


def test_components_on_real_lsh_pairs(spark):
    d = load_table(spark, SF001, "documents")
    pairs = minhash_candidates(d).where(F.col("jaccard_sig") >= 0.5)
    edge_rows = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert edge_rows  # fixture plants near-dups
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == _union_find(edge_rows)


def test_chain_needs_multiple_rounds(spark):
    # a path graph: min label must walk the full chain
    n = 12
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_distributed_path_matches_driver_path(spark):
    """driver_cap gates a driver union-find fast path; forcing the cap
    to 0 exercises the distributed min-label-propagation loop (with
    pointer jumping) on the same edges — both must emit the identical
    (node, min-id component) map with the identical schema."""
    edges = (
        # two long chains (pointer jumping must converge), a triangle
        # with a chord, singleton self-loop, and a star
        [(i, i + 1) for i in range(15)]
        + [(100 + i, 101 + i) for i in range(7)]
        + [(200, 201), (201, 202), (202, 200), (200, 202)]
        + [(300, 300)]
        + [(400, 401), (400, 402), (400, 403)]
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = connected_components(df)
    dist = connected_components(df, driver_cap=0)
    assert fast.schema == dist.schema
    got_fast = {r.node: r.component for r in fast.collect()}
    got_dist = {r.node: r.component for r in dist.collect()}
    assert got_fast == got_dist == _union_find(edges)


def test_null_edges_dropped_on_both_paths(spark):
    """Edges with a NULL endpoint are dropped before the size gate, so
    the driver union-find (which sorts node ids — TypeError on None)
    and the distributed loop (whose joins ignore NULLs) agree: NULL is
    not a node id on either path."""
    edges = [(1, 2), (None, 3), (4, None), (None, None), (5, 6)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {1: 1, 2: 1, 5: 5, 6: 5}
    got_fast = {r.node: r.component for r in connected_components(df).collect()}
    got_dist = {
        r.node: r.component
        for r in connected_components(df, driver_cap=0).collect()
    }
    assert got_fast == got_dist == want


def test_distributed_path_int_types_preserved(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a int, id_b int")
    fast = connected_components(df)
    dist = connected_components(df, driver_cap=0)
    assert fast.schema == dist.schema
    assert {r.node: r.component for r in fast.collect()} == {
        1: 1, 2: 1, 3: 1
    }
