"""Deduplication surface over `documents` (SURVEY §2.2 LLM-data ops):
exact, MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection.

Scale design (the whole point of these operators at 100 TB):
- Exact dedup = hash-groupBy: one shuffle on a 16-byte digest, never on
  the full text. Map-side partial agg collapses within-partition dups.
- MinHash+LSH / SimHash: see operators/dedup.py — explode + codegen'd
  hash columns + partially-aggregated min/sum, one shuffle on doc_id,
  then an LSH bucket equi-join (never O(n^2) pairing).
- n-gram Jaccard verification runs only on LSH candidate pairs: LSH
  proposes, exact Jaccard disposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataingestiontohana_spark.catalog import load_table, shared_frame
from dataingestiontohana_spark.functions.text import normalize_text
from dataingestiontohana_spark.operators.connected_components import (
    connected_components,
)
from dataingestiontohana_spark.operators.dedup import (
    exact_jaccard_pairs,
    minhash_candidates,
    shingle_sets,
    shingle_string_rows,
    simhash_candidates,
)


# q32 and q66 both consume the exact Jaccard >= 0.5 edge set; building
# it twice doubles the most expensive dedup stage (~10 s combined cold
# at sf0.1). One lazily-localCheckpointed shared frame per
# (sf_dir, threshold) instead: the first action (whichever of q32/q66
# runs first) materializes the edges on the executors, the second
# reuses the checkpointed RDD.
def _exact_pairs_cached(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    return shared_frame(spark, "exact_pairs", (sf_dir, threshold), lambda: (
        exact_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold)
        .localCheckpoint(eager=False)
    ))


# q30 (the near-dup pairs themselves) and q191 (the LSH-vs-truth
# quality audit) both consume the banded-MinHash candidate frame —
# the expensive shingle->signature->band->bucket-join stage. Shared
# like the exact-pair edges above, materialized by whichever query
# acts first, reused by the other.
def _lsh_candidates_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_frame(spark, "lsh_candidates", (sf_dir,), lambda: (
        minhash_candidates(load_table(spark, sf_dir, "documents"))
        .where(F.col("jaccard_sig") >= 0.5)
        .localCheckpoint(eager=False)
    ))


def q29_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on normalized text: the surviving
    (canonical) set, one row per distinct normalized text."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(normalize_text(F.col("text"))).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    )


def q30_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with estimated Jaccard >= 0.5 via MinHash LSH.
    Shares the banded-candidate frame with q191 (one LSH pipeline per
    process, not one per consumer)."""
    return _lsh_candidates_cached(spark, sf_dir).orderBy("id_a", "id_b")


def q31_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: docs sharing any band of the
    64-bit fingerprint, band width AUTO-DERIVED from a corpus-count
    prepass (r12 — `operators/dedup.py::auto_band_bits`: 16-bit bands
    / hamming<=3 up to 4096 docs, 32-bit / hamming<=1 past that, so
    the accidental-collision shuffle term stays O(n) by construction
    at any corpus size). The oracle replays the same integer CASE on
    count(*), so the derivation itself is under the value gate."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_candidates(d).orderBy("id_a", "id_b")


def q32_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram-shingle Jaccard >= 0.5 pairs over the whole corpus
    via a prefix-filtered set-similarity self-join (AllPairs/PPJoin) —
    no LSH, no recall loss, and therefore DuckDB-oracle-checkable.
    See operators/dedup.py:exact_jaccard_pairs for the scale analysis.
    (The probabilistic MinHash road to the same pairs is q30; its
    verify stage is pinned against this exact result in pytest.)
    """
    return (
        _exact_pairs_cached(spark, sf_dir, 0.5)
        .select("id_a", "id_b", "inter", "uni", "jaccard")
        .orderBy("id_a", "id_b")
    )


def q66_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster rollup: exact Jaccard >= 0.5 pairs ->
    connected components (iterative min-label propagation) ->
    cluster-size distribution. The end-to-end shape of corpus dedup:
    the set-similarity join proposes edges, components turn edges into
    clusters, one canonical doc per cluster survives. Because the edge
    set is exact (prefix-filtered join, not LSH), the whole pipeline
    is deterministic and oracle-checked via a DuckDB recursive-CTE
    transitive closure; the Spark side stays the iterative
    min-label-propagation operator that scales (a recursive CTE over
    100 TB of edges is not a thing).
    """
    pairs = _exact_pairs_cached(spark, sf_dir, 0.5).select("id_a", "id_b")
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def q70_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: test-split documents sharing any
    3-gram shingle with a train-split document, with the overlap size.

    The canonical eval-leakage check for a training corpus. Shape at
    100 TB: shingle rows shuffle once on the 8-byte shingle hash; the
    train side is distinct-reduced per shingle BEFORE the join (so a
    shingle that appears in millions of train docs contributes one
    row); the result aggregates back to one row per contaminated test
    doc. String shingles (codegen lead-window, identical shape to the
    hashed variant) keep the check DuckDB-oracle-able; semantics are
    additionally pinned by a planted-contamination pytest.
    """
    d = load_table(spark, sf_dir, "documents")
    from dataingestiontohana_spark.plans.sampling import _bucket

    b = _bucket(F.col("doc_id"), 100)
    train = d.where(b < 80)
    test = d.where(b >= 90)
    train_sh = shingle_string_rows(train).select("sh").distinct()
    test_sh = shingle_string_rows(test).distinct()
    return (
        test_sh.join(train_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .orderBy("doc_id")
    )


def q89_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication scoring (Lee et al. ACL'22, the
    windowed 50-gram form): per-doc fraction of 48-char windows
    (stride 16) whose content appears verbatim in another document —
    the memorization signal that set-overlap dedup (q30/q32) cannot
    see when surrounding text differs. See
    operators/dedup.py::substring_dup_stats for the one-shuffle
    map-reduce shape."""
    from dataingestiontohana_spark.operators.dedup import (
        substring_dup_stats,
    )

    d = load_table(spark, sf_dir, "documents")
    return substring_dup_stats(d, window=48, stride=16).orderBy("doc_id")


QUERIES = {
    "q29_exact_dedup": q29_exact_dedup,
    "q30_minhash_near_dup": q30_minhash_near_dup,
    "q31_simhash_clusters": q31_simhash_clusters,
    "q32_ngram_jaccard": q32_ngram_jaccard,
    "q66_dedup_clusters": q66_dedup_clusters,
    "q70_split_contamination": q70_split_contamination,
    "q89_substring_dup": q89_substring_dup,
}

# ALL six dedup queries are SQL-expressible and oracle-checked —
# including the probabilistic LSH pipelines: since round 3 every hash
# decision in q30 (MinHash) and q31 (SimHash) derives from md5, which
# both engines produce byte-identically. MinHash uses the standard
# (a_i*x + b_i) mod p universal-hash permutation family over one
# md5-derived base per shingle (one strong hash, three integer ops per
# slot); SimHash bit j is plain arithmetic on hex nibble j/4 (conv in
# Spark, strpos-1 in DuckDB).
# The pytest suite additionally pins their semantics on
# planted-duplicate fixtures and against the exact q32 result.

# Shared CTE: identical normalization/tokenization/3-gram shingling to
# functions/text.py tokens() + operators/dedup.py shingle_string_rows.
from dataingestiontohana_spark.functions.text import (  # noqa: E402
    TOKENS_SQL_CTE as _TOK_SQL,
    normalize_sql as _nsql,
)

_SHINGLES_CTE = f"""{_TOK_SQL},
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 AS sh
          FROM tok)
"""

# Exact Jaccard >= 0.5 pairs: DuckDB verifies by brute blocked join
# (any qualifying pair shares a shingle); the Spark side's prefix
# filter is lossless, so the two agree exactly.
_EXACT_PAIRS_SQL = f"""
        WITH {_SHINGLES_CTE},
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, inter,
               CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni,
               inter * 1.0 / (sa.sz + sb.sz - inter) AS jaccard
        FROM inter
        JOIN sizes sa ON inter.id_a = sa.doc_id
        JOIN sizes sb ON inter.id_b = sb.doc_id
        WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
"""

ORACLES = {
    "q29_exact_dedup": f"""
        WITH f AS (
          SELECT md5({_nsql("text")}) AS fp,
                 doc_id
          FROM documents)
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM f GROUP BY fp ORDER BY doc_id
    """,
    "q32_ngram_jaccard": f"""
        SELECT * FROM ({_EXACT_PAIRS_SQL}) ORDER BY id_a, id_b
    """,
    # Connected components via recursive-CTE transitive closure over the
    # exact near-dup edges (tiny graph at oracle scale; Spark does the
    # scalable iterative min-label propagation instead).
    "q66_dedup_clusters": f"""
        WITH RECURSIVE
        pairs AS ({_EXACT_PAIRS_SQL}),
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        lbl AS (
          SELECT a AS node, LEAST(a, MIN(b)) AS component
          FROM reach GROUP BY a),
        clusters AS (
          SELECT component, COUNT(*) AS cluster_size
          FROM lbl GROUP BY component)
        SELECT cluster_size, COUNT(*) AS n_clusters
        FROM clusters GROUP BY cluster_size ORDER BY cluster_size
    """,
    "q70_split_contamination": f"""
        WITH {_SHINGLES_CTE},
        train_sh AS (
          SELECT DISTINCT sh FROM sh WHERE (doc_id * 2654435761) % 100 < 80),
        test_sh AS (
          SELECT doc_id, sh FROM sh WHERE (doc_id * 2654435761) % 100 >= 90)
        SELECT doc_id, COUNT(*) AS n_shared_shingles
        FROM test_sh JOIN train_sh USING (sh)
        GROUP BY doc_id ORDER BY doc_id
    """,
    # Window positions via a fixed range + WHERE (DuckDB 1.0's range
    # table function rejects lateral column args); bound 64 covers
    # texts up to 1+63*16+47 = 1056 chars (corpus max is 577).
    "q89_substring_dup": """
        WITH wins AS (
          SELECT doc_id,
                 md5(substr(text, 1 + CAST(k.j AS INT)*16, 48)) AS h
          FROM documents, range(64) k(j)
          WHERE length(text) >= 48
            AND k.j <= (length(text) - 48) // 16),
        duph AS (
          SELECT h FROM (SELECT DISTINCT h, doc_id FROM wins)
          GROUP BY h HAVING COUNT(*) >= 2),
        per AS (
          SELECT w.doc_id,
                 COUNT(*) AS n_windows,
                 SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)
                   AS dup_windows
          FROM wins w LEFT JOIN duph d ON w.h = d.h
          GROUP BY w.doc_id)
        SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
               CAST(dup_windows AS BIGINT) AS dup_windows,
               CAST(dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE)
                 AS dup_frac
        FROM per ORDER BY doc_id
    """,
}


def _q30_oracle_sql(num_hashes: int = 16, bands: int = 4, cap: int = 256) -> str:
    """The MinHash+LSH pipeline stage-by-stage in ANSI SQL: the
    universal-hash permutation family g_i = (a_i*x + b_i) mod p over
    the md5-derived base x (leading 15 hex chars of md5(shingle),
    rebuilt nibble-by-nibble with strpos — big-endian, exactly Spark's
    conv(substr(md5,..),16,10) — then reduced mod p = 2^31-1), with
    the identical seeded (a_i, b_i) literals as operators/dedup.py;
    16 MIN(g_i) signature slots, 4-slot band buckets (md5 of the
    '|'-joined decimal-rendered mins — identical to the Spark bucket),
    the 256 cap on bucket membership, the bucket self-join, and
    signature-agreement scoring. All-integer hashing end to end, every
    intermediate < 2^62; agree/16 is a dyadic rational (k/2^4),
    exactly representable in a double, so ROUND(.,4) and the >= 0.5
    cut are engine-exact."""
    from dataingestiontohana_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_coeffs,
    )

    rpb = num_hashes // bands

    def hex_uint(start: int, width: int) -> str:  # 1-based hex char positions
        return " + ".join(
            f"(strpos('0123456789abcdef', substr(hx, {start + p}, 1)) - 1)"
            f" * CAST({16 ** (width - 1 - p)} AS BIGINT)"
            for p in range(width)
        )

    mins = ",\n                 ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    band_rows = "\n            UNION ALL\n            ".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"CAST(h{b * rpb + j} AS VARCHAR)" for j in range(rpb)
            ),
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
        WITH {_SHINGLES_CTE},
        hv AS (
          SELECT doc_id,
                 ({hex_uint(1, 15)}) % {MINHASH_PRIME} AS x
          FROM (SELECT doc_id, md5(sh) AS hx FROM sh)),
        sig AS (
          SELECT doc_id,
                 {mins}
          FROM hv GROUP BY doc_id),
        banded AS (
          SELECT * FROM (
            {band_rows})
          QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {cap}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id),
        scored AS (
          SELECT id_a, id_b,
                 ROUND(({agree}) / {num_hashes}.0, 4) AS jaccard_sig
          FROM pairs JOIN sig sa ON pairs.id_a = sa.doc_id
                     JOIN sig sb ON pairs.id_b = sb.doc_id)
        SELECT id_a, id_b, jaccard_sig FROM scored
        WHERE jaccard_sig >= 0.5 ORDER BY id_a, id_b
    """


def _q31_oracle_sql(bits: int = 64) -> str:
    """The SimHash pipeline in ANSI SQL: per-token md5, bit j of the
    hash = bit (j mod 4) of hex nibble (j div 4) (exactly the Spark
    lane-packed arithmetic), majority vote per (doc, bit), bands as
    ','-joined bit strings at the AUTO-DERIVED width (r12: the same
    integer ladder as `auto_band_bits` — 2^b >= n*2^4 over divisors
    of 64, i.e. CASE on count(*) — so the width derivation is itself
    adjudicated), bucket self-join to distinct pairs. Pure integer
    arithmetic throughout — no float decision anywhere."""
    return f"""
        WITH params AS (
          SELECT CASE WHEN COUNT(*) <= 4096 THEN 16
                      WHEN COUNT(*) <= 268435456 THEN 32
                      ELSE 64 END AS bpb
          FROM documents),
        tok AS (
          SELECT doc_id,
                 unnest(string_split(
                   {_nsql('text')}, ' '))
                 AS tok
          FROM documents),
        bitsrc AS (SELECT doc_id, md5(tok) AS hx FROM tok),
        votes AS (
          SELECT doc_id, j,
                 SUM(((strpos('0123456789abcdef',
                              substr(hx, CAST(1 + j // 4 AS INTEGER), 1)) - 1
                       >> CAST(j % 4 AS INTEGER)) & 1)) AS cnt,
                 COUNT(*) AS n
          FROM bitsrc CROSS JOIN range(0, {bits}) r(j)
          GROUP BY doc_id, j),
        fp AS (
          SELECT doc_id, j,
                 CASE WHEN 2 * cnt > n THEN 1 ELSE 0 END AS b
          FROM votes),
        banded AS (
          SELECT doc_id, j // p.bpb AS band,
                 string_agg(CAST(b AS VARCHAR), ',' ORDER BY j) AS bucket
          FROM fp, params p GROUP BY doc_id, j // p.bpb)
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
        ORDER BY id_a, id_b
    """


ORACLES["q30_minhash_near_dup"] = _q30_oracle_sql()
ORACLES["q31_simhash_clusters"] = _q31_oracle_sql()


def q92_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style line-dedup WITH removal, per source: strip
    every 8-token segment whose content recurs across >= 2 distinct
    documents (cross-document boilerplate) and fingerprint the cleaned
    corpus. The adjudicated ``corpus_fp`` is the md5 over each doc's
    cleaned-text md5 (sorted), so the oracle value-checks the actual
    reconstructed post-removal TEXT of every document — the removal is
    proven, not just counted. See operators/dedup.py::
    segment_dedup_clean for the one-shuffle map-reduce shape."""
    from dataingestiontohana_spark.operators.dedup import (
        segment_dedup_clean,
    )

    d = load_table(spark, sf_dir, "documents")
    per = segment_dedup_clean(d, seg_tokens=8)
    return (
        per.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("n_segments").cast("bigint").alias("segments"),
            F.sum("removed_segments").cast("bigint").alias("removed_segments"),
            F.sum("removed_tokens").cast("bigint").alias("removed_tokens"),
            F.md5(
                F.array_join(F.array_sort(F.collect_list("kept_fp")), "")
            ).alias("corpus_fp"),
        )
        .orderBy("source")
    )


QUERIES["q92_segment_dedup"] = q92_segment_dedup

ORACLES["q92_segment_dedup"] = f"""
    WITH {_TOK_SQL},
    meta AS (
      SELECT doc_id, toks,
             CAST(ceil(len(toks) / 8.0) AS INT) AS nseg
      FROM tok),
    segrows AS (
      SELECT doc_id, CAST(unnest(range(0, nseg)) AS INT) AS i, toks
      FROM meta),
    segs AS (
      SELECT doc_id, i,
             array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ') AS seg
      FROM segrows),
    withh AS (
      SELECT doc_id, i, seg, md5(seg) AS h,
             len(string_split(seg, ' ')) AS seg_toks
      FROM segs),
    shared AS (
      SELECT h FROM (SELECT DISTINCT h, doc_id FROM withh)
      GROUP BY h HAVING COUNT(*) >= 2),
    marked AS (
      SELECT w.doc_id, w.i, w.seg, w.seg_toks,
             CASE WHEN s.h IS NULL THEN 0 ELSE 1 END AS shr
      FROM withh w LEFT JOIN shared s USING (h)),
    perdoc AS (
      SELECT doc_id,
             COUNT(*) AS n_segments,
             SUM(shr) AS removed_segments,
             SUM(shr * seg_toks) AS removed_tokens,
             md5(coalesce(string_agg(CASE WHEN shr = 0 THEN seg END,
                                     ' ' ORDER BY i), '')) AS kept_fp
      FROM marked GROUP BY doc_id)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(p.n_segments) AS BIGINT) AS segments,
           CAST(SUM(p.removed_segments) AS BIGINT) AS removed_segments,
           CAST(SUM(p.removed_tokens) AS BIGINT) AS removed_tokens,
           md5(string_agg(p.kept_fp, '' ORDER BY p.kept_fp)) AS corpus_fp
    FROM perdoc p JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
"""  # noqa: E501


_BLOOM_K, _BLOOM_M = 3, 131072  # ~33% fill at sf0.1's test shingles


def q95_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter train/test decontamination — the broadcast scale
    path for q70's exact shuffle join: the test split's distinct
    shingles reduce to <= m_bits integer positions (operators/
    sketches.py), which broadcast to every executor, so the 100-TB
    train side is probed MAP-ONLY (BroadcastHashJoin on the position)
    instead of shuffling every train shingle on its string key.

    Per train doc: shingle count, bloom-maybe count, exact overlap
    count (the audit side — recomputed via the exact join purely to
    adjudicate the filter's quality), false positives, and the
    ``no_false_neg`` theorem flag (Bloom 1970: an inserted element
    always hits all its own positions), which must be 1 on every row.
    The identical filter is recomputed by the oracle from the same
    md5-salted positions, so even the false-positive counts are
    value-checked.
    """
    from dataingestiontohana_spark.operators.sketches import (
        bloom_positions,
        bloom_probe,
    )
    from dataingestiontohana_spark.plans.sampling import _bucket

    d = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"), 100)
    train = d.where(b < 80)
    test = d.where(b >= 90)
    test_sh = shingle_string_rows(test).select("sh").distinct()
    bloom = bloom_positions(test_sh, "sh", k=_BLOOM_K, m_bits=_BLOOM_M)
    train_sh = shingle_string_rows(train).distinct()
    probed = bloom_probe(
        train_sh, bloom, "sh", k=_BLOOM_K, m_bits=_BLOOM_M
    )
    exact = probed.join(
        test_sh.withColumn("_in", F.lit(1)), "sh", "left_outer"
    ).withColumn("_in", F.coalesce(F.col("_in"), F.lit(0)))
    return (
        exact.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("bloom_hit").cast("bigint").alias("bloom_hits"),
            F.sum("_in").cast("bigint").alias("exact_hits"),
            (F.sum("bloom_hit") - F.sum("_in"))
            .cast("bigint")
            .alias("false_pos"),
            F.min(
                (F.col("bloom_hit") >= F.col("_in")).cast("bigint")
            ).alias("no_false_neg"),
        )
        .orderBy("doc_id")
    )


QUERIES["q95_bloom_decontaminate"] = q95_bloom_decontaminate


def _q95_oracle_sql() -> str:
    """The identical Bloom filter in ANSI SQL: positions from the same
    md5-salted hashes (operators/sketches.py portability contract)."""
    from dataingestiontohana_spark.operators.sketches import (
        bloom_probe_sql,
        bloom_sql_ctes,
    )

    bloom = bloom_sql_ctes("te", "sh", k=_BLOOM_K, m_bits=_BLOOM_M)
    probe_rows = bloom_probe_sql("tr", "sh", k=_BLOOM_K, m_bits=_BLOOM_M)
    return f"""
        WITH {_SHINGLES_CTE},
        te AS (
          SELECT DISTINCT sh FROM sh
          WHERE (doc_id * 2654435761) % 100 >= 90),
        tr AS (
          SELECT DISTINCT doc_id, sh FROM sh
          WHERE (doc_id * 2654435761) % 100 < 80),
        {bloom},
        ppos AS (
          {probe_rows}),
        phits AS (
          SELECT doc_id, sh,
                 SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hits
          FROM ppos LEFT JOIN bloom b USING (pos)
          GROUP BY doc_id, sh),
        marked AS (
          SELECT p.doc_id, p.sh,
                 CASE WHEN p.hits = {_BLOOM_K} THEN 1 ELSE 0 END AS bloom_hit,
                 CASE WHEN t.sh IS NULL THEN 0 ELSE 1 END AS ex
          FROM phits p LEFT JOIN te t USING (sh))
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(bloom_hit) AS BIGINT) AS bloom_hits,
               CAST(SUM(ex) AS BIGINT) AS exact_hits,
               CAST(SUM(bloom_hit) - SUM(ex) AS BIGINT) AS false_pos,
               CAST(MIN(CASE WHEN bloom_hit >= ex THEN 1 ELSE 0 END)
                    AS BIGINT) AS no_false_neg
        FROM marked GROUP BY doc_id ORDER BY doc_id
    """


ORACLES["q95_bloom_decontaminate"] = _q95_oracle_sql()


def q113_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty — the fraction of a document's
    DISTINCT 3-shingles that appear in no other document. Low novelty
    = heavily shared text (boilerplate/near-dup/memorization risk);
    the 20 LEAST-novel documents with >= 5 shingles are reported, the
    same contamination-triage view as q32's pairwise Jaccard but as a
    per-document scalar a pipeline can threshold on.

    Exactness: counts are exact integers; novelty is one IEEE
    division. Shingles come from codegen word_trigrams (arrays_zip of
    three slices — no interpreted lambda); equality keys on the
    concat_ws string so the DuckDB twin groups identically.

    Scale shape: explode -> dropDuplicates(doc_id, sh) (shuffle 1,
    map-side combined) feeds BOTH the df aggregation (shuffle 2 on
    the shingle — partial agg caps each map task at |distinct
    shingles|) and the join back on sh (sort-merge on the same
    partitioning); final groupBy(doc_id) re-reduces. The top-20 is
    TakeOrderedAndProject. No window, no broadcast of anything
    corpus-sized.
    """
    from dataingestiontohana_spark.functions.text import word_trigrams

    d = load_table(spark, sf_dir, "documents")
    pairs = (
        d.select(
            "doc_id", F.explode(word_trigrams(F.col("text"))).alias("t")
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.col("t.0"), F.col("t.1"), F.col("t.2")
            ).alias("sh"),
        )
        .dropDuplicates(["doc_id", "sh"])
        .localCheckpoint(eager=False)  # feeds df agg AND the join back
    )
    df_ = pairs.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        pairs.join(df_, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("int"))
            .cast("bigint")
            .alias("uniq_shingles"),
        )
        .where(F.col("n_shingles") >= 5)
        .select(
            "doc_id",
            "n_shingles",
            "uniq_shingles",
            (
                F.col("uniq_shingles").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
        .orderBy("novelty", "doc_id")
        .limit(20)
    )


QUERIES["q113_shingle_novelty"] = q113_shingle_novelty


def _q113_oracle_sql() -> str:
    from dataingestiontohana_spark.functions.text import TOKENS_SQL_CTE

    return f"""
        WITH {TOKENS_SQL_CTE},
        pairs AS (
          SELECT DISTINCT doc_id,
                 toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS sh
          FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
                FROM tok)),
        dfc AS (SELECT sh, COUNT(*) AS df FROM pairs GROUP BY sh),
        g AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_shingles,
                 CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS uniq_shingles
          FROM pairs JOIN dfc USING (sh)
          GROUP BY doc_id)
        SELECT doc_id, n_shingles, uniq_shingles,
               CAST(uniq_shingles AS DOUBLE)
                 / CAST(n_shingles AS DOUBLE) AS novelty
        FROM g WHERE n_shingles >= 5
        ORDER BY novelty, doc_id LIMIT 20
    """


ORACLES["q113_shingle_novelty"] = _q113_oracle_sql()


def q185_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings report — the capacity-planning number a corpus
    owner actually asks for: if every near-dup cluster (exact Jaccard
    >= 0.5 edges -> connected components) keeps ONE canonical doc
    (min doc_id, the deterministic survivor rule), how many documents
    and how many characters does the corpus shed? Builds on the q66
    pipeline but adjudicates the SELECTION, not just the size
    histogram: redundant = cluster members minus canonicals,
    chars_saved = their total n_chars.

    Exactness: counts and char totals are int64; the savings fraction
    is one division ROUND 6.

    Scale shape: the prefix-filtered pair join and label-propagation
    components are the q32/q66 scale paths; the savings accounting
    joins the |clustered docs| component frame to documents on doc_id
    (key-partitioned) and ends in a 1-row aggregate against the
    1-row corpus totals (broadcast literal attach).
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = _exact_pairs_cached(spark, sf_dir, 0.5).select("id_a", "id_b")
    comp = connected_components(pairs)
    member = comp.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    clustered = member.agg(
        F.count(F.lit(1)).cast("long").alias("n_clustered_docs"),
        F.countDistinct("component").cast("long").alias("n_clusters"),
        F.sum(
            F.when(F.col("node") != F.col("component"), 1).otherwise(0)
        ).cast("long").alias("n_redundant"),
        F.sum(
            F.when(
                F.col("node") != F.col("component"), F.col("n_chars")
            ).otherwise(F.lit(0))
        ).cast("long").alias("chars_saved"),
    )
    totals = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )
    j = totals.join(F.broadcast(clustered))
    z = F.lit(0).cast("long")
    return j.select(
        "n_docs",
        F.coalesce("n_clustered_docs", z).alias("n_clustered_docs"),
        F.coalesce("n_clusters", z).alias("n_clusters"),
        F.coalesce("n_redundant", z).alias("n_redundant"),
        "chars_total",
        F.coalesce("chars_saved", z).alias("chars_saved"),
        F.when(F.col("chars_total") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.coalesce("chars_saved", z).cast("double")
                / F.col("chars_total").cast("double"),
                6,
            )
        )
        .alias("savings_frac"),
    )


QUERIES["q185_dedup_savings"] = q185_dedup_savings

ORACLES["q185_dedup_savings"] = f"""
    WITH RECURSIVE
    pairs AS ({_EXACT_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    lbl AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a),
    member AS (
      SELECT l.node, l.component, d.n_chars
      FROM lbl l JOIN documents d ON l.node = d.doc_id),
    clustered AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_clustered_docs,
             CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters,
             CAST(SUM(CASE WHEN node <> component THEN 1 ELSE 0 END)
               AS BIGINT) AS n_redundant,
             CAST(SUM(CASE WHEN node <> component THEN n_chars ELSE 0 END)
               AS BIGINT) AS chars_saved
      FROM member),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS chars_total
      FROM documents)
    SELECT n_docs,
           COALESCE(n_clustered_docs, 0) AS n_clustered_docs,
           COALESCE(n_clusters, 0) AS n_clusters,
           COALESCE(n_redundant, 0) AS n_redundant,
           chars_total,
           COALESCE(chars_saved, 0) AS chars_saved,
           CASE WHEN chars_total = 0 THEN 0.0
                ELSE ROUND(CAST(COALESCE(chars_saved, 0) AS DOUBLE)
                         / CAST(chars_total AS DOUBLE), 6) END
             AS savings_frac
    FROM totals CROSS JOIN clustered
"""

def q187_effective_corpus_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective corpus size after dedup down-weighting — the LLM-data
    metric behind "N tokens of deduplicated text": every document in a
    near-dup cluster (q66's exact-Jaccard components) counts at weight
    1/cluster_size, singletons at weight 1, so the corpus's effective
    token count is SUM(tokens/cluster_size). Repeats stop inflating
    the dataset size exactly in proportion to their multiplicity —
    the quantity scaling-law bookkeeping needs, and the continuous
    counterpart of q185's keep-one accounting.

    Exactness: token counts are the q25 whitespace-split convention
    (int64); tokens/cluster_size quantizes to a q6 INTEGER per doc
    (SQL-semantics ROUND on an exact rational — both engines divide
    the same two int64s) before the corpus sum, so the fold order
    never matters; the discount ratio is one final division ROUND 6.

    Scale shape: the pair join and components are the q32/q66 scale
    paths; cluster sizes are a |components| aggregate joined back to
    the component frame (key-partitioned), left-joined to documents
    on doc_id; everything after is map-only arithmetic into a 1-row
    aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = _exact_pairs_cached(spark, sf_dir, 0.5).select("id_a", "id_b")
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    member = comp.join(sizes, "component").select(
        F.col("node").alias("doc_id"), "csize"
    )
    n_tokens = F.size(
        F.split(F.trim(F.col("text")), r"[ \t\n\x0b\f\r]+")
    ).cast("long")
    per_doc = (
        d.select("doc_id", n_tokens.alias("n_tokens"))
        .join(member, "doc_id", "left")
        .select(
            "n_tokens",
            F.coalesce("csize", F.lit(1)).alias("csize"),
        )
    )
    eff_q6 = F.round(
        F.col("n_tokens").cast("double") * 1e6
        / F.col("csize").cast("double"),
        0,
    ).cast("long")
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("n_tokens").cast("long"), F.lit(0).cast("long"))
        .alias("total_tokens"),
        F.coalesce(F.sum(eff_q6).cast("long"), F.lit(0).cast("long"))
        .alias("effective_tokens_q6"),
    ).select(
        "n_docs", "total_tokens", "effective_tokens_q6",
        F.when(F.col("total_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("effective_tokens_q6").cast("double")
                / (F.col("total_tokens").cast("double") * 1e6),
                6,
            )
        )
        .alias("effective_frac"),
    )


QUERIES["q187_effective_corpus_size"] = q187_effective_corpus_size

ORACLES["q187_effective_corpus_size"] = f"""
    WITH RECURSIVE
    pairs AS ({_EXACT_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    lbl AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a),
    sizes AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
      FROM lbl GROUP BY 1),
    member AS (
      SELECT l.node AS doc_id, s.csize
      FROM lbl l JOIN sizes s USING (component)),
    per_doc AS (
      SELECT CAST(len(regexp_split_to_array(trim(d.text),
                      '[ \\t\\n\\x0b\\f\\r]+')) AS BIGINT) AS n_tokens,
             COALESCE(m.csize, 1) AS csize
      FROM documents d LEFT JOIN member m ON d.doc_id = m.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS total_tokens,
           CAST(COALESCE(SUM(CAST(ROUND(CAST(n_tokens AS DOUBLE) * 1e6
                 / CAST(csize AS DOUBLE), 0) AS BIGINT)), 0) AS BIGINT)
             AS effective_tokens_q6,
           CASE WHEN COALESCE(SUM(n_tokens), 0) = 0 THEN 0.0
                ELSE ROUND(
                  CAST(SUM(CAST(ROUND(CAST(n_tokens AS DOUBLE) * 1e6
                       / CAST(csize AS DOUBLE), 0) AS BIGINT)) AS DOUBLE)
                  / (CAST(SUM(n_tokens) AS DOUBLE) * 1e6), 6) END
             AS effective_frac
    FROM per_doc
"""

def q191_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH near-dup pipeline against
    EXACT ground truth, measured in-engine — the quality audit that
    turns "we use LSH" into a number: predicted pairs are q30's
    signature-estimated Jaccard >= 0.5 candidates, truth is q32's
    prefix-filtered exact Jaccard >= 0.5 join, and the report is the
    confusion counts with precision / recall / F1. Complements
    tests/test_ann_recall.py (which pins retrieval recall in pytest)
    by making dedup quality a FIRST-CLASS, oracle-adjudicated query a
    pipeline can gate on.

    Exactness: set intersections are equi-joins on the (id_a, id_b)
    key (both sides emit a < b ordered pairs); counts are int64;
    precision/recall/F1 are single divisions of exact ints ROUND 6
    (0.0 when the denominator is empty).

    Scale shape: both pair generators are the existing banded-LSH and
    PPJoin scale paths; the intersection joins key-partitioned pair
    frames; the readout is three 1-row aggregates broadcast-attached.
    """
    # the shared checkpointed candidate frame serves BOTH q30 and this
    # audit, and inside this plan both the intersection join and the
    # n_pred count — the LSH signature+band pipeline (the expensive
    # part) executes once per process, period
    pred = _lsh_candidates_cached(spark, sf_dir).select("id_a", "id_b")
    truth = _exact_pairs_cached(spark, sf_dir, 0.5).select("id_a", "id_b")
    tp_f = pred.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("tp")
    )
    np_f = pred.agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
    nt_f = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    j = np_f.join(F.broadcast(nt_f)).join(F.broadcast(tp_f))

    def ratio(num, den):
        return F.when(den == 0, F.lit(0.0)).otherwise(
            F.round(num.cast("double") / den.cast("double"), 6)
        )

    tp = F.col("tp")
    return j.select(
        "n_pred", "n_true", tp.alias("tp"),
        (F.col("n_pred") - tp).cast("long").alias("fp"),
        (F.col("n_true") - tp).cast("long").alias("fn"),
        ratio(tp, F.col("n_pred")).alias("precision"),
        ratio(tp, F.col("n_true")).alias("recall"),
        ratio(
            F.lit(2) * tp,
            F.col("n_pred") + F.col("n_true"),
        ).alias("f1"),
    )


QUERIES["q191_lsh_quality"] = q191_lsh_quality

ORACLES["q191_lsh_quality"] = f"""
    WITH p AS (
      SELECT id_a, id_b FROM ({_q30_oracle_sql()})),
    t AS (
      SELECT id_a, id_b FROM ({_EXACT_PAIRS_SQL})),
    tp_ AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS tp
      FROM p JOIN t USING (id_a, id_b)),
    np_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pred FROM p),
    nt_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM t)
    SELECT n_pred, n_true, tp,
           CAST(n_pred - tp AS BIGINT) AS fp,
           CAST(n_true - tp AS BIGINT) AS fn,
           CASE WHEN n_pred = 0 THEN 0.0
                ELSE ROUND(CAST(tp AS DOUBLE)
                         / CAST(n_pred AS DOUBLE), 6) END AS precision,
           CASE WHEN n_true = 0 THEN 0.0
                ELSE ROUND(CAST(tp AS DOUBLE)
                         / CAST(n_true AS DOUBLE), 6) END AS recall,
           CASE WHEN n_pred + n_true = 0 THEN 0.0
                ELSE ROUND(CAST(2 * tp AS DOUBLE)
                         / CAST(n_pred + n_true AS DOUBLE), 6) END AS f1
    FROM np_ CROSS JOIN nt_ CROSS JOIN tp_
"""

def q197_dup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate PROVENANCE breakdown: are the corpus's exact
    Jaccard >= 0.5 pairs intra-source (the same crawl re-emitting a
    page — fix the ingest) or cross-source (genuine syndication —
    fix the dedup policy)? The answer routes the remediation, which
    is why dedup reports in practice split on it. Pairs come from
    the q32 prefix-filtered exact join; each side attaches its
    source and the report is per (source_a, source_b) ordered pair
    class with a same_source flag and the mean estimated Jaccard.

    Exactness: counts int64; jaccard is the q32 exact ROUND 4 value,
    averaged via a q6-quantized sum (fold-order-immune) and ONE
    final division ROUND 4.

    Scale shape: the pair generator is the PPJoin scale path; the
    two source attaches are key-partitioned joins of the pair frame
    against the slim (doc_id, source) projection; the report
    aggregate is |sources|^2 rows.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _exact_pairs_cached(spark, sf_dir, 0.5)
    j = (
        pairs.join(
            d.select(F.col("doc_id").alias("id_a"),
                     F.col("source").alias("src_a")), "id_a"
        )
        .join(
            d.select(F.col("doc_id").alias("id_b"),
                     F.col("source").alias("src_b")), "id_b"
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            (F.col("src_a") == F.col("src_b")).alias("same_source"),
            F.round(F.col("jaccard") * 1e6, 0).cast("long").alias("j_q6"),
        )
    )
    return (
        j.groupBy("source_a", "source_b", "same_source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.sum("j_q6").cast("double")
                / (F.count(F.lit(1)).cast("double") * 1e6),
                4,
            ).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


QUERIES["q197_dup_provenance"] = q197_dup_provenance

ORACLES["q197_dup_provenance"] = f"""
    WITH pairs AS ({_EXACT_PAIRS_SQL}),
    j AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             da.source = db.source AS same_source,
             CAST(ROUND(p.jaccard * 1e6, 0) AS BIGINT) AS j_q6
      FROM pairs p
      JOIN documents da ON p.id_a = da.doc_id
      JOIN documents db ON p.id_b = db.doc_id)
    SELECT source_a, source_b, same_source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(j_q6) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1e6), 4) AS avg_jaccard
    FROM j
    GROUP BY 1, 2, 3
    ORDER BY source_a, source_b
"""


# -- Winnowing fingerprints (round 8) --------------------------------

_WINNOW_W = 4  # window width over consecutive shingle hashes
_WINNOW_SALT = 211
_POS_BASE = 2_147_483_648  # 2^31: composite = hash * base + position

def _fp_of_c() -> F.Column:
    """Fingerprint = composite DIV 2^31 — exact long division (Spark's
    `/` on longs routes through double, whose 53-bit mantissa rounds
    across the integer boundary for pos within ~1024 of _POS_BASE at
    ~2^31-shingle docs; the DuckDB oracle uses exact `//`). DIV keeps
    both sides on integer arithmetic; c >= 0 always, so DIV == floor.
    (A function, not a module constant: F.expr needs an active
    session, and this module imports session-free.)"""
    return F.expr(f"c DIV {_POS_BASE}L")

# Fingerprints appearing in more than this many documents are treated
# as boilerplate and dropped before the q212 pair join (the LSH
# bucket-cap discipline: one hot fingerprint fans out quadratically).
# Parameterized so a corpus-scale caller can raise it; the HOT side
# stays provably tiny (<= n_fp_rows/cap distinct fingerprints).
WINNOW_HOT_DOC_CAP = 50


# q211 (per-doc summary) and q212 (overlap pairs) both consume the
# selected-fingerprint frame; one lazily-localCheckpointed shared frame
# per sf_dir, like _exact_pairs_cached.
def _winnow_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_frame(
        spark, "winnow_selected", (sf_dir,),
        lambda: _build_winnow(spark, sf_dir),
    )


def _build_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, c) — the winnowing fingerprint selection
    (Schleimer, Wilkerson & Aiken, SIGMOD 2003; the MOSS algorithm):
    hash every 3-gram word shingle, slide a width-W window over the
    hash sequence, keep each window's minimum — guaranteeing any match
    of length >= W+2 tokens shares a fingerprint, while storing only
    ~2/(W+1) of the shingles. Ties break toward the LOWEST position
    via the composite key hash*2^31 + pos (hash < 2^32 from the
    portable md5 nibble hash, so the composite fits int64 and the same
    integer comparison runs in DuckDB).

    Scale shape: shingles come from the ONE shared definition
    (`shingle_string_rows(with_pos=True)` — codegen arrays_zip of
    slices); the window min is frame-bounded (ROWS 0..W-1) and
    PARTITIONED by doc_id — never a global sort; dedup of selected
    fingerprints is a distinct on (doc_id, composite). Docs with fewer
    than W shingles emit nothing (no full window — the paper's
    guarantee threshold)."""
    from pyspark.sql import Window

    from dataingestiontohana_spark.operators.sketches import _md5_int

    d = load_table(spark, sf_dir, "documents")
    rows = shingle_string_rows(d, with_pos=True).select(
        "doc_id",
        "n_shingles",
        "pos",
        (
            _md5_int(F.col("sh"), _WINNOW_SALT) * F.lit(_POS_BASE)
            + F.col("pos")
        ).alias("c"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    return (
        rows.withColumn("wmin", F.min("c").over(win))
        .where(F.col("pos") <= F.col("n_shingles") - _WINNOW_W)
        .select("doc_id", "n_shingles", F.col("wmin").alias("c"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def q211_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint summary: shingle count,
    selected-fingerprint count (the ~2/(W+1) density the paper
    proves), and the exact integer checksum of the selected hash set
    — the stored artifact a plagiarism/near-dup index persists."""
    sel = _winnow_selected(spark, sf_dir)
    return (
        sel.groupBy("doc_id", "n_shingles")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fps"),
            F.sum(_fp_of_c()).cast("bigint").alias("fp_hash_sum"),
        )
        .orderBy("doc_id")
    )


def q212_winnow_overlap(
    spark: SparkSession,
    sf_dir: str,
    hot_doc_cap: int = WINNOW_HOT_DOC_CAP,
) -> DataFrame:
    """MOSS-style overlap detection: document pairs sharing >= 3
    selected fingerprint HASHES (positions stripped — matches survive
    relocation, the paper's point). Hot fingerprints appearing in
    > `hot_doc_cap` documents are dropped before the pair join (the
    LSH bucket-cap discipline: one boilerplate shingle with a small
    hash would otherwise fan out quadratically). The cap bounds the
    per-fingerprint pair fan-out at C(cap, 2) regardless of how hot a
    planted boilerplate fingerprint is — tested by the planted-hot
    guard pytest alongside the exact-Jaccard hot-shingle discipline."""
    sel = _winnow_selected(spark, sf_dir).select(
        "doc_id", _fp_of_c().alias("fp")
    ).distinct()
    freq = sel.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
    # broadcast the HOT side: fingerprints in > cap docs are the
    # boilerplate tail — provably tiny (<= n_fp_rows/cap of them),
    # while the keep set is ~all distinct fingerprints and GROWS with
    # the corpus (broadcasting it would blow the broadcast budget at
    # scale)
    hot = freq.where(F.col("n_docs") > hot_doc_cap).select("fp")
    keep = sel.join(F.broadcast(hot), "fp", "left_anti")
    a = keep.select(F.col("doc_id").alias("id_a"), "fp")
    b = keep.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .where(F.col("shared_fps") >= 3)
        .orderBy("id_a", "id_b")
    )


def q220_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup RETENTION POLICY: the decision q66's clusters set
    up — WHICH duplicate survives. Every document joins its exact
    Jaccard >= 0.5 connected component (singletons are their own
    cluster); within a cluster the keeper is the highest THE q26
    quality score (`llm_text.quality_score_cols` — one definition per
    engine), ties broken by min doc_id; the report carries per
    cluster the keeper, its quality, and the exact token cost of the
    dropped duplicates (the budget the policy recovers). This is the
    standard "keep best, not first" retention stage of production
    dedup (cf. the SemDeDup/FineWeb keep-one-per-cluster step).

    Scale shape: the pair join + components are the shared q66
    frames; retention itself is two hash aggregations and one
    broadcast-size equality join per component — no window over the
    corpus, no driver state. Oracle: the q66 recursive-CTE closure +
    the shared quality CTE, argmax replayed as max-then-min-tie."""
    from dataingestiontohana_spark.plans.llm_text import (
        quality_score_cols,
    )

    pairs = _exact_pairs_cached(spark, sf_dir, 0.5).select("id_a", "id_b")
    comp = connected_components(pairs)
    d = load_table(spark, sf_dir, "documents")
    n_tokens, quality = quality_score_cols()
    scored = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        quality.alias("quality"),
    )
    labeled = (
        scored.join(comp, scored["doc_id"] == comp["node"], "left")
        .select(
            "doc_id", "n_tokens", "quality",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    best = labeled.groupBy("component").agg(
        F.max("quality").alias("best_q"),
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    keep = (
        labeled.join(best, "component")
        .where(F.col("quality") == F.col("best_q"))
        .groupBy("component", "cluster_size", "best_q", "total_tokens")
        .agg(F.min("doc_id").alias("keep_doc"))
    )
    return (
        keep.join(
            labeled.select("doc_id", F.col("n_tokens").alias("kept_tokens")),
            keep["keep_doc"] == F.col("doc_id"),
        )
        .select(
            "component",
            "cluster_size",
            "keep_doc",
            "best_q",
            F.col("kept_tokens").cast("bigint").alias("kept_tokens"),
            (F.col("total_tokens") - F.col("kept_tokens"))
            .cast("bigint").alias("dropped_tokens"),
        )
        .orderBy("component")
    )


QUERIES["q220_dedup_retention"] = q220_dedup_retention

ORACLES["q220_dedup_retention"] = f"""
    WITH RECURSIVE
    pairs AS ({_EXACT_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    lbl AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a),
    qs AS (
      SELECT doc_id, source, len(toks) AS n_tokens,
             ROUND((CASE WHEN n_chars < 50 THEN 0.0 ELSE 1.0 END)
                     * ROUND(n_chars / len(toks), 4)
                   + ROUND(len(list_filter(toks,
                       x -> x IN ('the','a','and','of','is')))
                           / len(toks), 4), 4) AS quality
      FROM (SELECT doc_id, source, n_chars,
                   regexp_split_to_array(trim(text),
                       '[ \t\n\x0b\f\r]+') AS toks
            FROM documents)),
    labeled AS (
      SELECT q.doc_id, q.n_tokens, q.quality,
             COALESCE(l.component, q.doc_id) AS component
      FROM qs q LEFT JOIN lbl l ON q.doc_id = l.node),
    best AS (
      SELECT component, MAX(quality) AS best_q,
             CAST(COUNT(*) AS BIGINT) AS cluster_size,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM labeled GROUP BY component),
    keep AS (
      SELECT b.component, b.cluster_size, b.best_q, b.total_tokens,
             MIN(l.doc_id) AS keep_doc
      FROM best b JOIN labeled l
        ON l.component = b.component AND l.quality = b.best_q
      GROUP BY 1, 2, 3, 4)
    SELECT k.component, k.cluster_size, k.keep_doc, k.best_q,
           CAST(l.n_tokens AS BIGINT) AS kept_tokens,
           CAST(k.total_tokens - l.n_tokens AS BIGINT) AS dropped_tokens
    FROM keep k JOIN labeled l ON l.doc_id = k.keep_doc
    ORDER BY k.component
"""

QUERIES["q211_winnow_fingerprints"] = q211_winnow_fingerprints
QUERIES["q212_winnow_overlap"] = q212_winnow_overlap

from dataingestiontohana_spark.operators.sketches import (  # noqa: E402
    hex_uint_sql as _hex_uint_sql,
)

_WINNOW_CTE = f"""
    tok AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text),
                 '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS n_shingles,
             CAST(i - 1 AS BIGINT) AS pos,
             toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)]
               || ' ' || toks[CAST(i+2 AS INT)] AS s
      FROM (SELECT doc_id, toks,
                   unnest(range(1, len(toks) - 1)) AS i
            FROM tok)),
    hashed AS (
      SELECT doc_id, n_shingles, pos,
             {_hex_uint_sql('s', _WINNOW_SALT)} * {_POS_BASE} + pos AS c
      FROM sh),
    selected AS (
      SELECT DISTINCT doc_id, n_shingles, wmin AS c
      FROM (
        SELECT doc_id, n_shingles, pos,
               min(c) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WINNOW_W - 1} FOLLOWING) AS wmin
        FROM hashed)
      WHERE pos <= n_shingles - {_WINNOW_W})
"""

ORACLES["q211_winnow_fingerprints"] = f"""
    WITH {_WINNOW_CTE}
    SELECT doc_id, n_shingles,
           CAST(COUNT(*) AS BIGINT) AS n_fps,
           CAST(SUM(c // {_POS_BASE}) AS BIGINT) AS fp_hash_sum
    FROM selected
    GROUP BY doc_id, n_shingles
    ORDER BY doc_id
"""

ORACLES["q212_winnow_overlap"] = f"""
    WITH {_WINNOW_CTE},
    fps AS (SELECT DISTINCT doc_id, c // {_POS_BASE} AS fp FROM selected),
    keep AS (
      SELECT doc_id, fp FROM fps
      WHERE fp IN (SELECT fp FROM fps GROUP BY fp
                   HAVING COUNT(*) <= 50)),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
      FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, CAST(shared_fps AS BIGINT) AS shared_fps
    FROM pairs WHERE shared_fps >= 3 ORDER BY id_a, id_b
"""
