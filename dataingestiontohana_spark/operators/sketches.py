"""Portable frequency/membership sketches: Count-Min and Bloom,
built from plain DataFrame aggregations over md5-derived hashes.

Why hand-rolled rather than Spark's built-in sketch aggregates
(``count_min_sketch`` exists as a SQL function, bloom filters exist
inside the engine as a join optimization): the built-ins return opaque
engine-specific binary buffers that no second engine can recompute, so
their numbers can only ever be audited as "within the error envelope"
(the q65 pattern). These constructions instead make the sketch's
*table itself* a DataFrame — rows of (depth, bucket, count) for CMS,
rows of bit positions for Bloom — derived from md5, the one strong
hash Spark and DuckDB both expose byte-identically. Every estimate is
then exactly reproducible in ANSI SQL, so the classic sketch theorems
(CMS never underestimates; Bloom has no false negatives) are checked
VALUE-exactly by the oracle gate, not just asserted in pytest.

Scale shape (the reason these exist at 100 TB):

- CMS build: one map-only pass computing ``depth`` codegen'd md5
  buckets per token row, then ONE shuffle on (depth, bucket) with
  map-side combine — the reduced state is depth*width counters TOTAL,
  regardless of corpus size. That replaces a full vocabulary shuffle
  (billions of distinct keys) with a fixed few-KB table: the
  frequency-oracle path for Zipf-heavy token streams.
- Bloom build: the *test/blocklist* side reduces to at most ``m_bits``
  distinct integer positions — small enough to broadcast — so the
  100-TB *train* side is probed map-only with a BroadcastHashJoin,
  where an exact semi-join (q70) must shuffle every train shingle.

References: Cormode & Muthukrishnan (2005), "An improved data stream
summary: the count-min sketch and its applications"; Bloom (1970),
"Space/time trade-offs in hash coding with allowable errors"; cf. the
reference's idempotent-ingest thesis (README.md:133) — same
determinism discipline applied to approximate structures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# first 8 md5 hex chars -> uniform 32-bit int. Small enough that every
# intermediate (and the SQL oracle's nibble reconstruction) stays far
# below 2^62.
_HEX_WIDTH = 8


def _md5_int(col: Column, salt: int) -> Column:
    """Portable uniform hash: int(md5(salt ':' value)[:8], 16).

    Byte-identical in DuckDB via the nibble reconstruction emitted by
    :func:`hex_uint_sql` — see plans/llm_dedup.py's q30/q31 oracles for
    the precedent.
    """
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), col)), 1, _HEX_WIDTH),
        16,
        10,
    ).cast("bigint")


def hex_uint_sql(hex_expr: str, salt: int) -> str:
    """The DuckDB-side twin of :func:`_md5_int`: big-endian nibble
    reconstruction of the first 8 hex chars of md5('salt:' || value).

    ``hex_expr`` is a SQL expression producing the *raw value* string.
    """
    hx = f"md5('{salt}:' || {hex_expr})"
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({hx}, {p + 1}, 1)) - 1)"
        f" * CAST({16 ** (_HEX_WIDTH - 1 - p)} AS BIGINT)"
        for p in range(_HEX_WIDTH)
    ) + ")"


# ---------------------------------------------------------------- CMS


def cms_table(
    items: DataFrame, col: str = "w", depth: int = 4, width: int = 32
) -> DataFrame:
    """Count-Min sketch as a DataFrame: (depth, bucket, cnt), one row
    per non-empty counter (at most depth*width rows).

    Each input row lands in one bucket per depth via independent
    md5-salted hashes; the single groupBy is on (depth, bucket) —
    map-side combine collapses each partition to <= depth*width
    partial counters before the shuffle, so shuffle volume is O(
    partitions * depth * width), independent of row count.
    """
    buckets = F.array(
        *[(_md5_int(F.col(col), i) % width) for i in range(depth)]
    )
    return (
        items.select(F.posexplode(buckets).alias("depth", "bucket"))
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    probes: DataFrame,
    cms: DataFrame,
    col: str = "w",
    depth: int = 4,
    width: int = 32,
) -> DataFrame:
    """Point-query the sketch for each distinct probe value:
    (col, cms_est) where cms_est = min over depths of the bucket count.

    The sketch table is tiny (<= depth*width rows) and is broadcast;
    the probe side never shuffles on the value. A probe value absent
    from the build stream still returns its (collision-only) counter
    value — callers compare against exact counts to read off the
    overestimate, which theorem 1 of Cormode & Muthukrishnan bounds by
    eps*N with eps = e/width at probability 1 - e^-depth.
    """
    pb = probes.select(F.col(col)).distinct()
    pos = pb.select(
        col,
        F.posexplode(
            F.array(*[(_md5_int(F.col(col), i) % width) for i in range(depth)])
        ).alias("depth", "bucket"),
    )
    return (
        pos.join(F.broadcast(cms), ["depth", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def cms_sql_ctes(
    item_cte: str,
    col: str = "w",
    depth: int = 4,
    width: int = 32,
    probe_cte: str | None = None,
) -> str:
    """ANSI-SQL CTE block recomputing the identical sketch: emits
    ``cms`` (depth, bucket, cnt) and ``cms_est`` (col, cms_est) over
    an existing CTE ``item_cte`` holding the item rows.

    ``probe_cte`` defaults to the distinct values of ``item_cte``.
    """
    probe = probe_cte or f"(SELECT DISTINCT {col} FROM {item_cte})"
    bucket_rows = "\n      UNION ALL\n      ".join(
        f"SELECT {i} AS depth, ({hex_uint_sql(col, i)}) % {width} AS bucket"
        f" FROM {item_cte}"
        for i in range(depth)
    )
    probe_rows = "\n      UNION ALL\n      ".join(
        f"SELECT {col}, {i} AS depth,"
        f" ({hex_uint_sql(col, i)}) % {width} AS bucket FROM pbv"
        for i in range(depth)
    )
    return f"""
    cms AS (
      SELECT depth, bucket, COUNT(*) AS cnt FROM (
      {bucket_rows}) GROUP BY depth, bucket),
    pbv AS (SELECT {col} FROM {probe} pb),
    cms_est AS (
      SELECT {col}, MIN(COALESCE(cms.cnt, 0)) AS cms_est FROM (
      {probe_rows}) p
      LEFT JOIN cms USING (depth, bucket)
      GROUP BY {col})"""


# -------------------------------------------------------------- Bloom


def bloom_positions(
    items: DataFrame, col: str = "sh", k: int = 3, m_bits: int = 4096
) -> DataFrame:
    """The Bloom filter's set bits as a DataFrame: distinct integer
    ``pos`` rows (at most m_bits of them). k md5-salted hashes per
    item; the distinct-reduce caps the frame at m_bits rows no matter
    how many items went in — always broadcastable.
    """
    return (
        items.select(
            F.explode(
                F.array(
                    *[(_md5_int(F.col(col), j) % m_bits) for j in range(k)]
                )
            ).alias("pos")
        )
        .distinct()
    )


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    col: str = "sh",
    k: int = 3,
    m_bits: int = 4096,
) -> DataFrame:
    """Membership-test each probe row against the filter: adds a
    ``bloom_hit`` int column (1 = all k positions set — a *maybe*;
    0 = definitely absent). Map-only over the probe side: the k
    position lookups are a BroadcastHashJoin against the <= m_bits
    position rows, then an all-k conjunction folded per input row.

    No-false-negative guarantee: any probe value that was inserted
    hits all k of its own positions by construction, so bloom_hit = 1
    whenever exact membership holds.

    Formulation: one chained BroadcastHashJoin per salt (k small
    joins against the same broadcast position set) rather than
    explode-k-rows + groupBy — the probe side keeps ITS OWN row
    count and partitioning through the whole test, with ZERO
    exchange. (The first cut re-grouped exploded position rows on
    the probe key; at 100 TB that groupBy is a full shuffle of the
    probe side — measured 0.4 s slower even at sf0.1.)
    """
    out = probes
    hits = []
    for j in range(k):
        pj, hj = f"__p{j}", f"__h{j}"
        out = out.withColumn(pj, _md5_int(F.col(col), j) % m_bits)
        out = out.join(
            F.broadcast(
                bloom.select(
                    F.col("pos").alias(pj), F.lit(1).alias(hj)
                )
            ),
            pj,
            "left",
        ).drop(pj)
        hits.append(F.coalesce(F.col(hj), F.lit(0)))
    hit_all = hits[0]
    for h in hits[1:]:
        hit_all = hit_all * h
    return out.withColumn("bloom_hit", hit_all.cast("int")).drop(
        *[f"__h{j}" for j in range(k)]
    )


def bloom_sql_ctes(
    build_cte: str, col: str = "sh", k: int = 3, m_bits: int = 4096
) -> str:
    """ANSI-SQL CTE ``bloom`` (pos) recomputing the identical filter
    over an existing CTE ``build_cte`` of item rows."""
    rows = "\n      UNION ALL\n      ".join(
        f"SELECT ({hex_uint_sql(col, j)}) % {m_bits} AS pos FROM {build_cte}"
        for j in range(k)
    )
    return f"""
    bloom AS (
      SELECT DISTINCT pos FROM (
      {rows}))"""


def bloom_probe_sql(
    probe_cte: str, col: str = "sh", k: int = 3, m_bits: int = 4096
) -> str:
    """UNION ALL of the k salted probe-position rows over an existing
    CTE of probe rows — the SQL twin of :func:`bloom_probe`'s position
    derivation (the q95 oracle composes its probe from this, so the
    two formulations cannot drift)."""
    return "\n      UNION ALL\n      ".join(
        f"SELECT *, ({hex_uint_sql(col, j)}) % {m_bits} AS pos"
        f" FROM {probe_cte}"
        for j in range(k)
    )


# ---------------------------------------------------------------- HLL

# p: register-index bits (m = 2^p registers); the remaining value
# bits of the 32-bit md5-derived hash feed the leading-zero rank.
_HLL_P = 8
_HLL_HASH_BITS = 32


def hll_registers(
    items: DataFrame,
    col: str = "w",
    p: int = _HLL_P,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """HyperLogLog register table as a DataFrame: (*by, bucket, reg) —
    at most 2^p rows per ``by`` group, one per OCCUPIED register.
    ``by`` columns produce one independent sketch per group (e.g. one
    per day/shard); an element-wise MAX of ``reg`` per bucket across
    groups merges them into the sketch of their union.

    Flajolet et al. (2007), "HyperLogLog: the analysis of a
    near-optimal cardinality estimation algorithm": each value's
    32-bit md5 hash splits into a p-bit register index (top bits) and
    a (32-p)-bit suffix w; the register keeps the max over its stream
    of rho(w) = position of the leftmost 1-bit of w (1-based; w = 0
    contributes the sentinel rank 32-p+1). The rank derives from
    ``bin()`` — minimal binary text, identical in Spark and DuckDB —
    so the whole register table is recomputable in ANSI SQL and the
    estimate is VALUE-exact under the oracle gate, unlike the opaque
    buffer behind ``approx_count_distinct`` (auditable only as an
    error envelope, the q65 pattern).

    Scale shape: one map-only pass (one codegen'd md5 per row), then
    ONE shuffle on bucket with map-side combine — every partition
    reduces to <= 2^p (bucket, max-rank) partials before the
    exchange, so shuffle volume is O(partitions * 2^p) no matter how
    many input rows. Duplicates collapse into the max for free, which
    is exactly why HLL needs no pre-distinct at 100 TB.
    """
    vbits = _HLL_HASH_BITS - p
    h = _md5_int(F.col(col), 0)
    w = h % (1 << vbits)
    # exact-multiple division: h < 2^32 so the double quotient is
    # exact before floor (the q78 Knuth-bucket precedent)
    bucket = F.floor(h / F.lit(1 << vbits)).cast("int")
    rho = (
        F.when(w == 0, F.lit(vbits + 1))
        .otherwise(F.lit(vbits + 1) - F.length(F.bin(w)))
        .cast("int")
    )
    return (
        items.select(*by, bucket.alias("bucket"), rho.alias("reg"))
        .groupBy(*by, "bucket")
        .agg(F.max("reg").alias("reg"))
    )


def hll_estimate(registers: DataFrame, p: int = _HLL_P) -> DataFrame:
    """One-row frame (v_empty, s_scaled, est) from a register table.

    Exactness strategy (the q102 sufficient-statistics maneuver): the
    harmonic-mean denominator sum(2^-M_j) is carried as the exact
    integer S = sum(2^(rmax - M_j)) with rmax = 32-p+1 (empty
    registers contribute 2^rmax each; S <= 2^p * 2^rmax fits easily
    in DECIMAL(38,0)), so the raw estimate alpha*m^2*2^rmax / S is
    ONE IEEE division of exact operands — bit-identical across
    engines. The small-range correction (raw <= 2.5m with empty
    registers -> linear counting m*ln(m/V), Flajolet §4) branches on
    that deterministic double, and its ln() rounds to 6 places (the
    q75 libm precedent). alpha_m uses the standard 0.7213/(1+1.079/m)
    closed form for m >= 128, spelled as the same literal arithmetic
    in both engines.
    """
    m = 1 << p
    rmax = _HLL_HASH_BITS - p + 1
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    agg = registers.agg(
        F.count(F.lit(1)).alias("occupied"),
        F.sum(
            F.expr(f"shiftleft(1, {rmax} - reg)").cast("decimal(38,0)")
        ).alias("s_occ"),
    )
    v = F.lit(m) - F.col("occupied")
    s = (F.col("s_occ") + v.cast("decimal(38,0)") * F.lit(1 << rmax)).cast(
        "decimal(38,0)"
    )
    raw = (
        alpha
        * F.lit(float(m))
        * F.lit(float(m))
        * F.lit(float(1 << rmax))
        / s.cast("double")
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")), 6),
    ).otherwise(F.round(raw, 6))
    return agg.select(
        v.cast("bigint").alias("v_empty"),
        s.cast("bigint").alias("s_scaled"),
        est.alias("est"),
    )


def hll_sql_ctes(item_cte: str, col: str = "w", p: int = _HLL_P) -> str:
    """ANSI-SQL CTE block recomputing the identical sketch: emits
    ``hll_regs`` (bucket, reg) and ``hll_est`` (v_empty, s_scaled,
    est) over an existing CTE of item rows — the DuckDB twin of
    :func:`hll_registers` + :func:`hll_estimate`, kept in ONE place so
    the two formulations cannot drift."""
    vbits = _HLL_HASH_BITS - p
    m = 1 << p
    rmax = vbits + 1
    alpha = f"(0.7213 / (1.0 + 1.079 / {float(m)}))"
    return f"""
    hll_h AS (SELECT ({hex_uint_sql(col, 0)}) AS hv FROM {item_cte}),
    hll_regs AS (
      SELECT CAST(hv // {1 << vbits} AS INT) AS bucket,
             MAX(CASE WHEN hv % {1 << vbits} = 0 THEN {rmax}
                      ELSE {rmax} - length(bin(hv % {1 << vbits}))
                 END) AS reg
      FROM hll_h GROUP BY 1),
    hll_s AS (
      SELECT CAST({m} - COUNT(*) AS HUGEINT) AS v_empty,
             SUM(CAST(1 AS HUGEINT) << ({rmax} - reg))
               + CAST({m} - COUNT(*) AS HUGEINT) * {1 << rmax} AS s_scaled
      FROM hll_regs),
    hll_est AS (
      SELECT CAST(v_empty AS BIGINT) AS v_empty,
             CAST(s_scaled AS BIGINT) AS s_scaled,
             CASE WHEN ({alpha} * {float(m)} * {float(m)}
                        * {float(1 << rmax)} / CAST(s_scaled AS DOUBLE))
                       <= {2.5 * m} AND v_empty > 0
                  THEN round({float(m)}
                             * ln({float(m)} / CAST(v_empty AS DOUBLE)), 6)
                  ELSE round({alpha} * {float(m)} * {float(m)}
                             * {float(1 << rmax)}
                             / CAST(s_scaled AS DOUBLE), 6)
             END AS est
      FROM hll_s)"""
