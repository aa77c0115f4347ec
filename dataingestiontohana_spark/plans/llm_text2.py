"""Additional text-pipeline queries: BPE-ish regex tokenization and an
observe-metrics audit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataingestiontohana_spark.catalog import load_table
from dataingestiontohana_spark.functions.text import (
    normalize_sql as _nsql,
)

_NORM_COAL = _nsql("coalesce(text, '')")

# GPT-2-style coarse approximation: letter runs, digit runs, single
# punctuation — a pattern whose semantics agree between Java regex
# (Spark) and RE2 (DuckDB), so the count is oracle-checkable.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def q51_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish token counting per source: regexp_count is a single
    codegen'd pass over the scan (the whitespace variant is q25)."""
    d = load_table(spark, sf_dir, "documents")
    n = F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
    return (
        d.select("doc_id", "source", n.alias("n_bpe"))
        .groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_bpe").cast("bigint").alias("total_bpe"),
            F.round(F.avg("n_bpe"), 2).alias("avg_bpe"),
        )
        .orderBy("source")
    )


def q52_observe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.observe-instrumented scan: named accumulator metrics ride the
    job (the engine's wiretap-for-batch, SURVEY §4.2 delivery-audit
    row) while the query result itself is the per-lang doc count.
    Metrics surface via QueryExecutionListener / StreamingQueryProgress
    at scale; here the observed plan must produce identical results to
    the unobserved one — which is what the oracle checks."""
    d = load_table(spark, sf_dir, "documents")
    observed = d.observe(
        "docs_audit",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("text")).alias("total_chars"),
    )
    return (
        observed.groupBy("lang")
        .agg(F.count("*").alias("docs"))
        .orderBy("lang")
    )


def q65_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch vs exact in one pass: HLL++ cardinality and quantile
    sketch against their exact counterparts, with relative errors.

    This is the scale path for corpus profiling — at 100 TB
    COUNT(DISTINCT text) is a full shuffle of every distinct string,
    while approx_count_distinct ships one small HLL buffer per
    partition; approx_percentile likewise replaces a global sort with
    mergeable sketches.

    Oracle strategy: the exact half (count / distinct / percentiles)
    is DuckDB-checked verbatim; the sketch half is engine-specific, so
    it is exported as *bounds flags* — bigint 0/1 columns asserting the
    sketch landed inside its published error envelope (HLL rsd 0.02
    with 5x headroom; percentile sketch bracketed by the exact ±5-rank
    neighborhood). Spark computes the flags genuinely; the oracle
    asserts they are 1. Tighter sketch-error properties stay in pytest.
    """
    d = load_table(spark, sf_dir, "documents")
    # two single-row aggregations cross-joined: mixing COUNT(DISTINCT)
    # (Expand-based) with ObjectHashAggregate sketches in ONE agg forces
    # a sort-based fallback over the expanded rows (measured 3.1s vs
    # 1.1s split at sf0.1)
    exact = d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("text").alias("exact_distinct"),
        F.expr("percentile(n_chars, 0.5)").alias("exact_p50"),
        F.expr("percentile(n_chars, 0.99)").alias("exact_p99"),
        F.expr("percentile(n_chars, 0.45)").alias("lo50"),
        F.expr("percentile(n_chars, 0.55)").alias("hi50"),
        F.expr("percentile(n_chars, 0.98)").alias("lo99"),
    )
    approx = d.agg(
        F.approx_count_distinct("text", 0.02).alias("approx_distinct"),
        F.expr("approx_percentile(n_chars, 0.5, 10000)").alias("approx_p50"),
        F.expr("approx_percentile(n_chars, 0.99, 10000)").alias("approx_p99"),
    )
    row = exact.crossJoin(approx)
    rel = F.abs(
        (F.col("approx_distinct") - F.col("exact_distinct"))
        / F.col("exact_distinct")
    )
    # empty corpus: 0/0 would throw under ANSI; the sketch is
    # vacuously inside its envelope when both counts are zero
    distinct_ok = F.when(
        F.col("exact_distinct") == 0, F.col("approx_distinct") == 0
    ).otherwise(rel <= 0.1)
    return row.select(
        "n_rows",
        "exact_distinct",
        F.round("exact_p50", 2).alias("exact_p50"),
        F.round("exact_p99", 2).alias("exact_p99"),
        distinct_ok.cast("bigint").alias("distinct_ok"),
        F.col("approx_p50").between(F.col("lo50"), F.col("hi50"))
        .cast("bigint")
        .alias("p50_ok"),
        (F.col("approx_p99") >= F.col("lo99")).cast("bigint").alias("p99_ok"),
    )


def q77_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (128-token windows, 16-token overlap):
    the corpus-to-training-windows step. Map-only explode of an
    arithmetic chunk-index sequence + token-array slices — see
    operators/chunking.py for the layout contract and the row-identical
    Python UDTF variant."""
    from dataingestiontohana_spark.operators.chunking import chunk_windows

    d = load_table(spark, sf_dir, "documents")
    return chunk_windows(d, chunk_tokens=128, overlap=16).orderBy(
        "doc_id", "chunk_id"
    )


def q78_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token packing: the chunk rows from q77 packed into 2048-token
    training sequences across 8 deterministic buckets (one partitioned
    cumulative-sum window + a per-pack reduce — see
    operators/chunking.py::pack_chunks for the layout contract)."""
    from dataingestiontohana_spark.operators.chunking import (
        chunk_windows,
        pack_chunks,
    )

    d = load_table(spark, sf_dir, "documents")
    return pack_chunks(
        chunk_windows(d, chunk_tokens=128, overlap=16),
        budget_tokens=2048,
        n_buckets=8,
    ).orderBy("bucket", "pack_id")


def q94_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy hitters vs exact token counts — the
    frequency-oracle path for a Zipf token stream, with the sketch's
    one-sided-error theorem carried as value-checked columns.

    Unlike q65's engine-opaque HLL/percentile buffers (auditable only
    as error-envelope flags), this sketch is the PORTABLE construction
    of operators/sketches.py: the CMS table is itself a DataFrame of
    (depth, bucket, count) rows built from md5-salted bucket hashes,
    so DuckDB recomputes the identical sketch and every estimate is
    value-compared, including the collision overestimates. width=32 is
    deliberately smaller than the vocabulary to force real collisions;
    ``no_underest`` (cms_est >= exact, Cormode-Muthukrishnan Thm 1)
    must still hold on every row — a genuine invariant, not a fixture.

    Scale shape: the build is one map-only pass (4 codegen'd md5s per
    token row) + ONE shuffle reduced map-side to <= 4*32 counters per
    partition; the estimate probe broadcasts the <=128-row sketch. At
    100 TB this replaces a full-vocabulary shuffle with a fixed-size
    state — the same motivation as q65, now with an exact audit.
    """
    from dataingestiontohana_spark.functions.text import tokens
    from dataingestiontohana_spark.operators.sketches import (
        cms_estimate,
        cms_table,
    )

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens("text")).alias("w")).localCheckpoint(
        eager=False
    )  # consumed by the sketch build AND the exact-count audit
    cms = cms_table(tok, "w", depth=4, width=32)
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = cms_estimate(freq, cms, "w", depth=4, width=32)
    return (
        freq.join(est, "w")
        .select(
            "w",
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("over_cnt"),
            (F.col("cms_est") >= F.col("exact_cnt"))
            .cast("bigint")
            .alias("no_underest"),
        )
        .orderBy(F.desc("exact_cnt"), "w")
        .limit(20)
    )




def q104_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog vocabulary-cardinality audit — the
    third mergeable sketch of operators/sketches.py (CMS = frequency,
    Bloom = membership, HLL = cardinality), with the register table
    itself a DataFrame so DuckDB recomputes every register and the
    estimate is VALUE-exact, not envelope-checked.

    Emits one row per OCCUPIED register (bucket, reg) with the
    one-row summary attached via the q65 1xN crossJoin shape:
    v_empty / s_scaled (the exact integer harmonic-sum sufficient
    statistic), the HLL estimate, the exact distinct-token count, and
    ``err_pct`` — the signed relative error in percent, rounded to 4.
    The theoretical standard error at p=8 (m=256 registers) is
    1.04/sqrt(m) ~= 6.5%%; tests/test_sketches.py asserts a 3-sigma
    envelope and the merge-associativity law on top of this exact
    oracle gate.

    Scale shape (WHY this exists at 100 TB): the exact side's
    distinct-count shuffles the full vocabulary; the HLL side reduces
    every partition to <= 256 (bucket, max-rank) partials before ONE
    tiny exchange — fixed state, any corpus size, and per-shard
    register tables fold incrementally (element-wise MAX per bucket)
    without re-scanning history. The exact count is carried here as the audit column, the
    same role as q94's exact_cnt.
    """
    from dataingestiontohana_spark.functions.text import tokens
    from dataingestiontohana_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens("text")).alias("w")).localCheckpoint(
        eager=False
    )  # consumed by the register build AND the exact-distinct audit
    regs = hll_registers(tok, "w").localCheckpoint(eager=False)
    est = hll_estimate(regs)
    exact = tok.agg(F.count_distinct(F.col("w")).alias("exact_distinct"))
    summary = est.crossJoin(F.broadcast(exact))
    return (
        regs.crossJoin(F.broadcast(summary))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("reg").cast("int").alias("reg"),
            F.col("v_empty").cast("bigint").alias("v_empty"),
            F.col("s_scaled").cast("bigint").alias("s_scaled"),
            F.col("est").alias("est"),
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
            F.round(
                (F.col("est") - F.col("exact_distinct"))
                * F.lit(100.0)
                / F.col("exact_distinct").cast("double"),
                4,
            ).alias("err_pct"),
        )
        .orderBy("bucket")
    )


QUERIES = {
    "q51_bpe_token_stats": q51_bpe_token_stats,
    "q52_observe_audit": q52_observe_audit,
    "q65_sketch_audit": q65_sketch_audit,
    "q77_chunk_windows": q77_chunk_windows,
    "q78_pack_chunks": q78_pack_chunks,
    "q94_cms_heavy_hitters": q94_cms_heavy_hitters,
    "q104_hll_cardinality": q104_hll_cardinality,
}

# Shared chunk-layout CTEs for q77/q78 (stride 112 = 128 - 16):
# tokenize exactly like functions/text.py tokens(), chunk count =
# ceil(max(n_tokens - overlap, 1) / stride), one row per chunk index.
# ONE constant on purpose — q78 packs exactly q77's chunks, and a
# layout edit must not be able to desynchronize them.
_CHUNK_CTES = f"""
        tok AS (
          SELECT doc_id,
                 string_split({_NORM_COAL},
                              ' ') AS toks
          FROM documents),
        meta AS (
          SELECT doc_id, toks,
                 CAST(ceil(greatest(len(toks) - 16, 1) / 112.0) AS INT) AS nc
          FROM tok),
        chunks AS (
          SELECT doc_id, toks,
                 CAST(unnest(range(0, nc)) AS INT) AS chunk_id
          FROM meta)
"""

ORACLES = {
    "q51_bpe_token_stats": """
        WITH t AS (
          SELECT doc_id, source,
                 len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                 AS n_bpe
          FROM documents)
        SELECT source, COUNT(*) AS docs,
               CAST(SUM(n_bpe) AS BIGINT) AS total_bpe,
               ROUND(AVG(n_bpe), 2) AS avg_bpe
        FROM t GROUP BY source ORDER BY source
    """,
    "q52_observe_audit": """
        SELECT lang, COUNT(*) AS docs FROM documents GROUP BY lang ORDER BY lang
    """,
    # Exact half computed for real; sketch half asserted as bounds
    # flags (see q65 docstring). quantile_cont matches Spark's
    # percentile interpolation (index = (n-1)*q, linear).
    "q65_sketch_audit": """
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT text) AS exact_distinct,
               ROUND(quantile_cont(n_chars, 0.5), 2) AS exact_p50,
               ROUND(quantile_cont(n_chars, 0.99), 2) AS exact_p99,
               CAST(1 AS BIGINT) AS distinct_ok,
               CAST(1 AS BIGINT) AS p50_ok,
               CAST(1 AS BIGINT) AS p99_ok
        FROM documents
    """,
    # list_slice is 1-based inclusive like Spark's slice; both
    # truncate at the array end.
    "q77_chunk_windows": f"""
        WITH {_CHUNK_CTES},
        out AS (
          SELECT doc_id, chunk_id,
                 CAST(len(list_slice(toks, chunk_id * 112 + 1,
                                     chunk_id * 112 + 128)) AS INT) AS n_tokens,
                 md5(array_to_string(list_slice(toks, chunk_id * 112 + 1,
                                                chunk_id * 112 + 128), ' '))
                 AS chunk_fp
          FROM chunks)
        SELECT * FROM out ORDER BY doc_id, chunk_id
    """,
    # Same chunk CTEs as q77 (shared constant), then the bucketed
    # concat-stream packing: bucket = high 3 bits of the 32-bit Knuth
    # product (16-bit limb decomposition keeps every intermediate
    # int64-safe — the exact expression of operators/chunking.py::
    # knuth_bucket); a chunk joins the pack where its cumulative start
    # falls (floor(before/2048)). 2048 = 2^11 keeps the fill division
    # exact.
    "q78_pack_chunks": f"""
        WITH {_CHUNK_CTES},
        chunk_rows AS (
          SELECT doc_id, chunk_id,
                 CAST(len(list_slice(toks, chunk_id * 112 + 1,
                                     chunk_id * 112 + 128)) AS INT) AS n_tokens
          FROM chunks),
        hashed AS (
          SELECT doc_id, chunk_id, n_tokens,
                 ((((doc_id % 4294967296) // 65536) * 2654435761 % 4294967296)
                    * 65536 % 4294967296
                  + (doc_id % 65536) * 2654435761 % 4294967296)
                 % 4294967296 AS h32
          FROM chunk_rows),
        staged AS (
          SELECT (h32 * 8) // 4294967296 AS bucket, n_tokens,
                 SUM(n_tokens) OVER (
                   PARTITION BY (h32 * 8) // 4294967296
                   ORDER BY doc_id, chunk_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS before
          FROM hashed),
        packs AS (
          SELECT CAST(bucket AS INT) AS bucket,
                 CAST(floor(before / 2048.0) AS INT) AS pack_id, n_tokens
          FROM staged)
        SELECT bucket, pack_id,
               CAST(COUNT(*) AS INT) AS n_chunks,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               ROUND(SUM(n_tokens) / 2048.0, 4) AS fill
        FROM packs GROUP BY bucket, pack_id ORDER BY bucket, pack_id
    """,
}


def _q94_oracle_sql() -> str:
    """Identical CMS recomputed in ANSI SQL: the sketch table and every
    estimate are value-compared, not just envelope-checked (see the
    q94 docstring; hash portability per operators/sketches.py)."""
    from dataingestiontohana_spark.operators.sketches import cms_sql_ctes

    ctes = cms_sql_ctes("t", "w", depth=4, width=32,
                        probe_cte="(SELECT w FROM freq)")
    from dataingestiontohana_spark.functions.text import TOKENS_SQL_CTE

    return f"""
        WITH {TOKENS_SQL_CTE},
        t AS (SELECT unnest(toks) AS w FROM tok),
        freq AS (SELECT w, COUNT(*) AS exact_cnt FROM t GROUP BY w),
        {ctes}
        SELECT f.w,
               CAST(f.exact_cnt AS BIGINT) AS exact_cnt,
               CAST(e.cms_est AS BIGINT) AS cms_est,
               CAST(e.cms_est - f.exact_cnt AS BIGINT) AS over_cnt,
               CAST(CASE WHEN e.cms_est >= f.exact_cnt THEN 1 ELSE 0 END
                    AS BIGINT) AS no_underest
        FROM freq f JOIN cms_est e USING (w)
        ORDER BY exact_cnt DESC, w LIMIT 20
    """


ORACLES["q94_cms_heavy_hitters"] = _q94_oracle_sql()


def _q104_oracle_sql() -> str:
    """Identical HLL recomputed in ANSI SQL — register table, exact
    harmonic-sum integer, estimate, audit columns (see the q104
    docstring; CTE twin in operators/sketches.py::hll_sql_ctes)."""
    from dataingestiontohana_spark.functions.text import TOKENS_SQL_CTE
    from dataingestiontohana_spark.operators.sketches import hll_sql_ctes

    return f"""
        WITH {TOKENS_SQL_CTE},
        t AS (SELECT unnest(toks) AS w FROM tok),
        {hll_sql_ctes('t', 'w')},
        ex AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT)
                      AS exact_distinct FROM t)
        SELECT CAST(r.bucket AS INT) AS bucket,
               CAST(r.reg AS INT) AS reg,
               e.v_empty, e.s_scaled, e.est, ex.exact_distinct,
               round((e.est - ex.exact_distinct) * 100.0
                     / CAST(ex.exact_distinct AS DOUBLE), 4) AS err_pct
        FROM hll_regs r, hll_est e, ex
        ORDER BY bucket
    """


ORACLES["q104_hll_cardinality"] = _q104_oracle_sql()


def q124_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid histogram quantiles over events.value —
    the bounded-state scale path to p50/p90/p99: per-partition bin
    counts combine map-side into <= |grid| rows no matter the corpus
    size, where q65's exact percentile needs a global sort. The
    estimate is the lower edge of the first bin whose cumulative count
    reaches ceil(q*n) — deterministic, engine-portable, error bounded
    by the grid step (0.25 here).

    Exactness: bin = floor(value * 4) — scaling by a power of two is
    exact on any double, floor matches across engines; counts,
    cumulative sums and rank thresholds are int64 (ceil(q*n) computed
    from one exact double product); est_lo = bin / 4.0 is an exact
    quarter.

    Scale shape: ONE map-side-combined groupBy onto <= ~2000 bins; the
    cumulative window and the three threshold probes run on that
    reduced frame (unpartitioned window below an Aggregate — the
    sanctioned shape); n attaches as a 1-row broadcast crossJoin.
    """
    e = load_table(spark, sf_dir, "events")
    hist = (
        e.select(F.floor(F.col("value") * 4).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    from pyspark.sql.window import Window as W

    cum = (
        hist.select(
            "bin",
            F.sum("c")
            .over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
            .cast("long")
            .alias("cum"),
        )
    ).localCheckpoint(eager=False)
    nrow = hist.agg(F.sum("c").cast("long").alias("n"))
    parts = []
    for q, label in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        t = F.ceil(F.lit(q) * F.col("n")).cast("long")
        probe = (
            cum.crossJoin(F.broadcast(nrow))
            .where(F.col("cum") >= t)
            .agg(
                F.lit(label).alias("q_label"),
                F.min("bin").cast("long").alias("bin"),
            )
            .crossJoin(
                F.broadcast(nrow.select("n", t.alias("rank_t")))
            )
        )
        parts.append(probe)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "q_label", "n", "rank_t", "bin",
        (F.col("bin") / F.lit(4.0)).alias("est_lo"),
    ).orderBy("q_label")


QUERIES["q124_histogram_quantiles"] = q124_histogram_quantiles

ORACLES["q124_histogram_quantiles"] = """
    WITH h AS (
      SELECT CAST(FLOOR(value * 4) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1),
    hc AS (
      SELECT bin, CAST(SUM(c) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum
      FROM h),
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
    probes AS (
      SELECT 'p50' AS q_label, n,
             CAST(CEIL(0.5 * n) AS BIGINT) AS rank_t,
             CAST(MIN(bin) AS BIGINT) AS bin
      FROM hc, nn WHERE cum >= CEIL(0.5 * n) GROUP BY n
      UNION ALL
      SELECT 'p90', n, CAST(CEIL(0.9 * n) AS BIGINT),
             CAST(MIN(bin) AS BIGINT)
      FROM hc, nn WHERE cum >= CEIL(0.9 * n) GROUP BY n
      UNION ALL
      SELECT 'p99', n, CAST(CEIL(0.99 * n) AS BIGINT),
             CAST(MIN(bin) AS BIGINT)
      FROM hc, nn WHERE cum >= CEIL(0.99 * n) GROUP BY n)
    SELECT q_label, n, rank_t, bin, bin / 4.0 AS est_lo
    FROM probes ORDER BY q_label
"""


def q127_rolling_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day via merged HyperLogLog
    register tables — the sketch x time-window composition: per-day
    sketches (hll_registers grouped by day) MERGE by element-wise MAX
    into each day's trailing-week sketch, so the rolling distinct
    never re-touches raw history. The exact trailing-week
    COUNT(DISTINCT) rides along as the audit column (err_pct), the
    q104 pattern.

    Exactness: registers replay in DuckDB bit-for-bit (md5 nibble
    hash, bin()-rank); the harmonic sum is the exact integer
    sufficient statistic; the estimate is one IEEE division (+ the
    deterministic linear-counting branch, ln rounded to 6).

    Scale shape: raw events reduce map-side to <= 256 registers PER
    DAY; the 7-day expansion explodes those <= 256 x days register
    rows (never events) 7x, then re-reduces by (day, bucket). The
    exact audit side dedupes (day, user) FIRST, so its 7x expansion
    carries distinct users only. At 100 TB the register path's state
    is days x 256 rows — a dashboard query, not a scan.
    """
    from dataingestiontohana_spark.operators.sketches import (
        _HLL_HASH_BITS,
        _HLL_P,
        hll_registers,
    )

    m = 1 << _HLL_P
    rmax = _HLL_HASH_BITS - _HLL_P + 1
    e = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("int")
    items = e.select(day.alias("d"), F.col("user_id").cast("string").alias("w"))
    regs = hll_registers(items, "w", by=("d",))
    bounds = regs.agg(F.max("d").alias("maxd"))
    span = (
        regs.select(
            "bucket", "reg",
            F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("t"),
        )
        .crossJoin(F.broadcast(bounds))
        .where(F.col("t") <= F.col("maxd"))
    )
    merged = (
        span.groupBy("t", "bucket")
        .agg(F.max("reg").alias("reg"))
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("occupied"),
            F.sum(
                F.expr(f"shiftleft(1, {rmax} - reg)").cast("decimal(38,0)")
            ).alias("s_occ"),
        )
    )
    v = F.lit(m) - F.col("occupied")
    s = (
        F.col("s_occ") + v.cast("decimal(38,0)") * F.lit(1 << rmax)
    ).cast("decimal(38,0)")
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    raw = (
        alpha * F.lit(float(m)) * F.lit(float(m)) * F.lit(float(1 << rmax))
        / s.cast("double")
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.round(
            F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")), 6
        ),
    ).otherwise(F.round(raw, 6))
    sketch_side = merged.select(
        F.col("t").cast("long").alias("d"),
        v.cast("bigint").alias("v_empty"),
        s.cast("bigint").alias("s_scaled"),
        est.alias("est"),
    )
    du = e.select(day.alias("d"), "user_id").distinct()
    exact = (
        du.select(
            "user_id",
            F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("t"),
        )
        .crossJoin(F.broadcast(bounds))
        .where(F.col("t") <= F.col("maxd"))
        .groupBy("t")
        .agg(F.count_distinct("user_id").cast("long").alias("exact_u"))
        .select(F.col("t").cast("long").alias("d"), "exact_u")
    )
    return (
        sketch_side.join(exact, "d")
        .select(
            "d", "v_empty", "s_scaled", "est", "exact_u",
            F.round(
                (F.col("est") - F.col("exact_u"))
                * F.lit(100.0)
                / F.col("exact_u").cast("double"),
                4,
            ).alias("err_pct"),
        )
        .orderBy("d")
    )


QUERIES["q127_rolling_hll_users"] = q127_rolling_hll_users

from dataingestiontohana_spark.operators.sketches import (  # noqa: E402
    hex_uint_sql as _hex_uint_sql,
)

_Q127_HV = _hex_uint_sql("CAST(user_id AS VARCHAR)", 0)
_Q127_ALPHA = "(0.7213 / (1.0 + 1.079 / 256.0))"

# same register/estimate formulas as operators/sketches.py::hll_sql_ctes
# (p=8: m=256, vbits=24, rmax=25), grouped by day and re-merged per
# trailing-week window by element-wise MAX
ORACLES["q127_rolling_hll_users"] = f"""
    WITH ev AS (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             {_Q127_HV} AS hv, user_id
      FROM events),
    regs AS (
      SELECT d, CAST(hv // 16777216 AS INT) AS bucket,
             MAX(CASE WHEN hv % 16777216 = 0 THEN 25
                      ELSE 25 - length(bin(hv % 16777216)) END) AS reg
      FROM ev GROUP BY 1, 2),
    bounds AS (SELECT MAX(d) AS maxd FROM regs),
    span AS (
      SELECT unnest(generate_series(d, d + 6)) AS t, bucket, reg
      FROM regs),
    mrg AS (
      SELECT t, bucket, MAX(reg) AS reg
      FROM span, bounds WHERE t <= maxd GROUP BY t, bucket),
    sk AS (
      SELECT t AS d,
             CAST(256 - COUNT(*) AS BIGINT) AS v_empty,
             CAST(SUM(CAST(1 AS HUGEINT) << (25 - reg))
                  + CAST(256 - COUNT(*) AS HUGEINT) * 33554432
               AS BIGINT) AS s_scaled
      FROM mrg GROUP BY t),
    est AS (
      SELECT d, v_empty, s_scaled,
             CASE WHEN ({_Q127_ALPHA} * 256.0 * 256.0 * 33554432.0
                        / CAST(s_scaled AS DOUBLE)) <= 640.0
                       AND v_empty > 0
                  THEN round(256.0 * ln(256.0 / CAST(v_empty AS DOUBLE)), 6)
                  ELSE round({_Q127_ALPHA} * 256.0 * 256.0 * 33554432.0
                             / CAST(s_scaled AS DOUBLE), 6)
             END AS est
      FROM sk),
    du AS (SELECT DISTINCT d, user_id FROM ev),
    exsp AS (
      SELECT unnest(generate_series(d, d + 6)) AS t, user_id FROM du),
    ex AS (
      SELECT t AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_u
      FROM exsp, bounds WHERE t <= maxd GROUP BY t)
    SELECT CAST(e2.d AS BIGINT) AS d, v_empty, s_scaled, est, exact_u,
           ROUND((est - exact_u) * 100.0 / CAST(exact_u AS DOUBLE), 4)
             AS err_pct
    FROM est e2 JOIN ex ON e2.d = ex.d
    ORDER BY d
"""


def _html_escape(c: F.Column) -> F.Column:
    """&/</> -> entities, in the spec's order (& first) — text embeds
    into HTML losslessly, so the round trip is provable on ANY corpus
    (an unescaped '<x y>' span would be eaten by the tag stripper)."""
    c = F.replace(c, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    return F.replace(c, F.lit(">"), F.lit("&gt;"))


def _html_unescape(c: F.Column) -> F.Column:
    """The inverse, reverse order (& last)."""
    c = F.replace(c, F.lit("&lt;"), F.lit("<"))
    c = F.replace(c, F.lit("&gt;"), F.lit(">"))
    return F.replace(c, F.lit("&amp;"), F.lit("&"))


def q214_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-text extraction from HTML (round 8; the crawl->extract
    step every web-corpus pipeline starts with): each document is
    wrapped in deterministic doc-varying HTML — title, a <script>
    carrying an md5 payload, a <style> block, nav/footer boilerplate —
    (text HTML-escaped on the way in, the lossless embedding), then
    `functions/text.py::strip_html` + unescape recover the visible
    text.
    The adjudicated contract per doc: the normalized ORIGINAL text
    survives verbatim inside the extraction (recovered=1), not one
    byte of script/style payload leaks (junk_leaks=0), and the
    boilerplate overhead ratio is reported. Wrapping inside the query
    makes the whole round trip oracle-recomputable; on a real crawl
    the same three regexp stages run against fetched bytes.

    Scale shape: pure map-only codegen (concat + 4 regexp_replace +
    position) — scan speed, no shuffle, no Python."""
    from dataingestiontohana_spark.functions.text import (
        normalize_text,
        strip_html,
    )

    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title><script>var k="'),
        F.md5(F.col("doc_id").cast("string")),
        F.lit('";</script><style>.c{color:#ab'),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("}</style></head><body><nav>home about contact</nav><p>"),
        _html_escape(F.col("text")),
        F.lit("</p><footer>copyright "),
        F.col("source"),
        F.lit("</footer></body></html>"),
    )
    extracted = _html_unescape(strip_html(html))
    norm = normalize_text(F.col("text"))
    return (
        d.select(
            "doc_id",
            F.length(html).cast("bigint").alias("n_html_chars"),
            F.length(extracted).cast("bigint").alias("n_extracted_chars"),
            # compare NORMALIZED extraction against the normalized
            # original: strip_html preserves case, normalize_text
            # lowers — a raw instr would misreport any uppercase doc
            (F.instr(normalize_text(extracted), norm) > 0)
            .cast("int")
            .alias("recovered"),
            (
                F.instr(extracted, F.md5(F.col("doc_id").cast("string"))) > 0
            ).cast("int").alias("junk_leaks"),
            F.round(
                (F.length(html) - F.length(extracted)).cast("double")
                / F.length(html).cast("double"),
                4,
            ).alias("boilerplate_ratio"),
        )
        .orderBy("doc_id")
    )


QUERIES["q214_html_extract"] = q214_html_extract

from dataingestiontohana_spark.functions.text import (  # noqa: E402
    normalize_sql as _norm_sql214,
    strip_html_sql as _strip_sql214,
)

_ESC_TEXT = (
    "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), "
    "'>', '&gt;')"
)

_HTML_EXPR = (
    "'<html><head><title>doc ' || CAST(doc_id AS VARCHAR) || "
    "'</title><script>var k=\"' || md5(CAST(doc_id AS VARCHAR)) || "
    "'\";</script><style>.c{color:#ab' || CAST(doc_id % 10 AS VARCHAR) || "
    "'}</style></head><body><nav>home about contact</nav><p>' || "
    + _ESC_TEXT +
    " || '</p><footer>copyright ' || source || '</footer></body></html>'"
)

ORACLES["q214_html_extract"] = f"""
    WITH h AS (
      SELECT doc_id, text, source, {_HTML_EXPR} AS html
      FROM documents),
    e AS (
      SELECT doc_id, html,
             replace(replace(replace({_strip_sql214('html')},
                 '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS extracted,
             {_norm_sql214('text')} AS norm
      FROM h)
    SELECT doc_id,
           CAST(length(html) AS BIGINT) AS n_html_chars,
           CAST(length(extracted) AS BIGINT) AS n_extracted_chars,
           CAST(CASE WHEN strpos({_norm_sql214('extracted')}, norm) > 0
                THEN 1 ELSE 0 END AS INTEGER) AS recovered,
           CAST(CASE WHEN strpos(extracted,
                     md5(CAST(doc_id AS VARCHAR))) > 0
                THEN 1 ELSE 0 END AS INTEGER) AS junk_leaks,
           ROUND(CAST(length(html) - length(extracted) AS DOUBLE)
                 / CAST(length(html) AS DOUBLE), 4) AS boilerplate_ratio
    FROM e ORDER BY doc_id
"""
