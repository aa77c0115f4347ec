"""Planted-fixture and invariant tests for the portable sketches
(operators/sketches.py) and the segment-dedup removal operator —
tighter properties than the oracle sweep can express (the sweep proves
engine agreement; these prove the operators mean what they claim).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from dataingestiontohana_spark.operators.dedup import segment_dedup_clean
from dataingestiontohana_spark.operators.sketches import (
    bloom_positions,
    bloom_probe,
    cms_estimate,
    cms_table,
)


def _items(spark, values):
    return spark.createDataFrame([(v,) for v in values], "w string")


class TestCountMin:
    def test_never_underestimates_and_exact_without_collision(self, spark):
        # 200 values over width 32 guarantees collisions somewhere;
        # the one-sided error theorem must hold for EVERY value.
        vals = [f"tok{i}" for i in range(50) for _ in range(i % 7 + 1)]
        items = _items(spark, vals)
        cms = cms_table(items, "w", depth=4, width=32)
        est = cms_estimate(items, cms, "w", depth=4, width=32)
        exact = {v: vals.count(v) for v in set(vals)}
        rows = {r["w"]: r["cms_est"] for r in est.collect()}
        assert set(rows) == set(exact)
        assert all(rows[v] >= exact[v] for v in exact)

    def test_counter_mass_per_depth_equals_stream_length(self, spark):
        vals = [f"v{i % 13}" for i in range(100)]
        cms = cms_table(_items(spark, vals), "w", depth=4, width=8)
        per_depth = {
            r["depth"]: r["s"]
            for r in cms.groupBy("depth").agg(F.sum("cnt").alias("s")).collect()
        }
        assert per_depth == {d: len(vals) for d in range(4)}

    def test_absent_probe_reports_collision_mass_only(self, spark):
        build = _items(spark, ["a"] * 10)
        cms = cms_table(build, "w", depth=4, width=1024)
        est = cms_estimate(
            _items(spark, ["zz-absent"]), cms, "w", depth=4, width=1024
        )
        # with 1 distinct built value and width 1024, all four salted
        # hashes colliding is (1/1024)^4 — the min must be 0 here
        assert est.collect()[0]["cms_est"] == 0


class TestBloom:
    def test_no_false_negatives(self, spark):
        inserted = [f"sh{i}" for i in range(300)]
        bloom = bloom_positions(_items(spark, inserted), "w", k=3, m_bits=4096)
        probed = bloom_probe(_items(spark, inserted), bloom, "w", 3, 4096)
        assert all(r["bloom_hit"] == 1 for r in probed.collect())

    def test_definite_absence_on_sparse_filter(self, spark):
        bloom = bloom_positions(_items(spark, ["only"]), "w", k=3, m_bits=65536)
        probed = bloom_probe(
            _items(spark, [f"absent{i}" for i in range(50)]),
            bloom, "w", 3, 65536,
        )
        hits = sum(r["bloom_hit"] for r in probed.collect())
        # 3 set bits in 65536: P[all 3 probe positions hit] ~ 1e-13
        assert hits == 0

    def test_position_frame_is_bounded_by_m_bits(self, spark):
        bloom = bloom_positions(
            _items(spark, [f"x{i}" for i in range(500)]), "w", k=3, m_bits=64
        )
        n = bloom.count()
        assert n <= 64
        assert bloom.distinct().count() == n


class TestSegmentDedup:
    def test_planted_boilerplate_removed_and_text_proven(self, spark):
        boiler = " ".join(f"b{i}" for i in range(8))  # one full segment
        u1 = " ".join(f"u{i}" for i in range(8))
        u2 = " ".join(f"w{i}" for i in range(8))
        docs = spark.createDataFrame(
            [
                (1, f"{boiler} {u1}"),   # boiler + unique
                (2, f"{boiler} {u2}"),   # boiler + different unique
                (3, boiler),             # entirely boilerplate
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in segment_dedup_clean(docs, 8).collect()}
        assert out[1]["removed_segments"] == 1
        assert out[1]["removed_tokens"] == 8
        assert out[1]["kept_fp"] == hashlib.md5(u1.encode()).hexdigest()
        assert out[2]["kept_fp"] == hashlib.md5(u2.encode()).hexdigest()
        # fully-boilerplate doc cleans to the empty string
        assert out[3]["removed_segments"] == 1
        assert out[3]["kept_fp"] == hashlib.md5(b"").hexdigest()

    def test_unique_docs_untouched(self, spark):
        docs = spark.createDataFrame(
            [(i, " ".join(f"t{i}_{j}" for j in range(20))) for i in range(5)],
            "doc_id long, text string",
        )
        out = segment_dedup_clean(docs, 8).collect()
        assert all(r["removed_segments"] == 0 for r in out)
        # 20 tokens -> ceil(20/8) = 3 segments each
        assert all(r["n_segments"] == 3 for r in out)

    def test_partial_tail_segment_counts_tokens_exactly(self, spark):
        shared_tail = "s0 s1 s2"  # 3-token partial segment, shared
        docs = spark.createDataFrame(
            [
                (1, " ".join(f"a{j}" for j in range(8)) + " " + shared_tail),
                (2, " ".join(f"c{j}" for j in range(8)) + " " + shared_tail),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in segment_dedup_clean(docs, 8).collect()}
        assert out[1]["removed_segments"] == 1
        assert out[1]["removed_tokens"] == 3


class TestHyperLogLog:
    def test_registers_bounded_and_rank_range(self, spark):
        from dataingestiontohana_spark.operators.sketches import (
            hll_registers,
        )

        items = _items(spark, [f"tok{i}" for i in range(500)])
        regs = hll_registers(items, "w", p=8).collect()
        assert len(regs) <= 256
        assert all(0 <= r["bucket"] < 256 for r in regs)
        # rank range: 1 .. (32-8)+1
        assert all(1 <= r["reg"] <= 25 for r in regs)

    def test_duplicates_do_not_move_registers(self, spark):
        # HLL needs no pre-distinct: max-rank is idempotent under
        # repetition, the property that lets it skip the vocabulary
        # shuffle at 100 TB.
        from dataingestiontohana_spark.operators.sketches import (
            hll_registers,
        )

        once = _items(spark, [f"t{i}" for i in range(100)])
        thrice = _items(spark, [f"t{i}" for i in range(100)] * 3)
        a = sorted(map(tuple, hll_registers(once, "w").collect()))
        b = sorted(map(tuple, hll_registers(thrice, "w").collect()))
        assert a == b

    def test_estimate_within_three_sigma(self, spark):
        # theoretical standard error at m=256 is 1.04/sqrt(256) = 6.5%;
        # assert a 3-sigma envelope on a planted 2000-value stream
        from dataingestiontohana_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
        )

        n = 2000
        items = _items(spark, [f"item-{i}" for i in range(n)])
        est = hll_estimate(hll_registers(items, "w")).collect()[0]["est"]
        assert abs(est - n) / n < 3 * 1.04 / 16.0

    def test_sql_twin_matches_dataframe_path(self, spark):
        # the DuckDB CTE block must reproduce registers AND estimate
        # byte-exactly (the oracle-portability contract)
        import duckdb

        from dataingestiontohana_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
            hll_sql_ctes,
        )

        vals = [f"w{i}" for i in range(64)]
        items = _items(spark, vals)
        regs = sorted(map(tuple, hll_registers(items, "w").collect()))
        e = hll_estimate(hll_registers(items, "w")).collect()[0]
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE items(w VARCHAR); INSERT INTO items "
            + "SELECT 'w' || CAST(range AS VARCHAR) FROM range(64)"
        )
        sql = f"WITH i AS (SELECT w FROM items), {hll_sql_ctes('i', 'w')}"
        dregs = con.execute(
            sql + " SELECT bucket, reg FROM hll_regs ORDER BY bucket"
        ).fetchall()
        dest = con.execute(sql + " SELECT * FROM hll_est").fetchall()[0]
        assert [tuple(map(int, r)) for r in dregs] == regs
        assert (int(dest[0]), int(dest[1]), dest[2]) == (
            e["v_empty"],
            e["s_scaled"],
            e["est"],
        )


def test_grouped_registers_max_merge_equals_global(spark):
    """hll_registers(by=...) builds one independent sketch per group;
    element-wise MAX across the groups must equal the whole-stream
    sketch (the q127 rolling-window merge relies on this)."""
    from pyspark.sql import functions as F

    from dataingestiontohana_spark.operators.sketches import hll_registers

    rows = [(d, f"u{(d * 13 + i) % 37}") for d in range(3) for i in range(50)]
    df = spark.createDataFrame(rows, "d int, w string")
    grouped = hll_registers(df, "w", by=("d",))
    folded = sorted(
        map(
            tuple,
            grouped.groupBy("bucket")
            .agg(F.max("reg").alias("reg"))
            .collect(),
        )
    )
    whole = sorted(map(tuple, hll_registers(df, "w").collect()))
    assert folded == whole
