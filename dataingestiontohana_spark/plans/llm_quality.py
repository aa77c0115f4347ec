"""Corpus-quality operators for training-data curation: repetition
filtering and TF-IDF document scoring over `documents`.

Both are classic pre-training pipeline stages (repetition fractions are
the Gopher/MassiveText-style quality signals; TF-IDF is the standard
salience weight) and both are pure relational/array compositions —
JVM-side, oracle-checkable, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataingestiontohana_spark.catalog import load_table, local_rows
from dataingestiontohana_spark.functions.text import tokens


def q74_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 25 most repetitive documents by duplicate-token fraction
    (ties → duplicate-bigram fraction, then doc_id): the repetition
    quality filter applied before a corpus enters training.

    dup_tok_frac = 1 - distinct_tokens/total_tokens;
    dup_bi_frac likewise over word bigrams.

    Scale: entirely map-only per document, with ZERO higher-order
    lambdas — bigrams are `arrays_zip` of two `slice`s of the token
    array (an array<struct> whose struct equality IS bigram equality),
    and distinct counts are native `array_distinct`; every expression
    stays in whole-stage codegen. (The first cut built shingles with a
    generic transform() lambda and cost 19.5 s at sf0.1;
    this form runs in ~1 s — the interpreted-lambda tax, again.)
    The only cross-row step is the global top-25, which Spark executes
    as per-partition TakeOrderedAndProject + driver merge. Both
    fractions are plain IEEE divisions (bit-identical in DuckDB), so
    the result hash-matches without any rounding.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    n_tok = F.size("toks")
    blen = F.greatest(n_tok - 1, F.lit(0))
    # bigram i = (toks[i], toks[i+1]): struct equality == bigram equality
    bi = F.arrays_zip(
        F.slice("toks", 1, blen).alias("w1"),
        F.slice("toks", 2, blen).alias("w2"),
    )
    n_bi = F.size(bi)
    dup_tok = F.lit(1.0) - F.size(F.array_distinct("toks")) / n_tok
    dup_bi = F.when(n_bi <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bi)) / n_bi
    )
    return (
        t.select(
            "doc_id",
            n_tok.alias("n_tokens"),
            dup_tok.alias("dup_tok_frac"),
            dup_bi.alias("dup_bi_frac"),
        )
        .orderBy(
            F.desc("dup_tok_frac"), F.desc("dup_bi_frac"), F.asc("doc_id")
        )
        .limit(25)
    )


def q75_tfidf_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 highest-salience documents by summed TF-IDF:
    score(doc) = sum over distinct tokens of (tf/doc_len) * ln(N/df).

    Scale shape (the standard two-aggregation TF-IDF dataflow):
    - explode to (doc_id, tok) rows; shuffle 1 = groupBy(doc_id, tok)
      for tf, with map-side combine collapsing within-partition repeats;
    - df(tok) = count of the ALREADY-distinct (doc, tok) rows per tok
      (shuffle 2, on the token — the vocabulary, so partial agg makes
      each map task emit at most |vocab| rows);
    - join tf x df on tok (sort-merge on the same token partitioning),
      doc lengths ride along map-only (size of the token array, no
      extra shuffle), final groupBy(doc_id) re-aggregates to one row
      per document. N is a scalar (one count job, driver literal).
    No window functions anywhere; the top-20 is TakeOrderedAndProject.
    Scores are rounded to 6 decimals on both sides because ln() may
    differ by 1 ulp between JVM and libm.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        _tfidf_frame(d)
        .orderBy(F.desc("tfidf_sum"), F.asc("doc_id"))
        .limit(20)
    )


def _tfidf_frame(d: DataFrame) -> DataFrame:
    """(doc_id, tfidf_sum) for every document — the q75 dataflow minus
    the top-k, shared with the q109 rank-fusion pool."""
    n_docs = d.count()  # scalar: one number to the driver
    base = d.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("tok")
    )
    tf = base.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(df_, "tok")
        .withColumn(
            "tfidf",
            (F.col("tf") / F.col("dl"))
            * F.log(F.lit(float(n_docs)) / F.col("df")),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("tfidf"), 6).alias("tfidf_sum"))
    )


# Okapi BM25 (Robertson/Sparck Jones, the TREC-standard retrieval
# scorer) with the textbook constants; the query term set is a fixed
# literal spanning common and rare corpus terms so idf variation is
# exercised ('dup' has df ~ 5% of docs).
BM25_K1, BM25_B = 1.2, 0.75
BM25_TERMS = ("join", "vector", "stream", "dup")


def q80_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by Okapi BM25 against a fixed term query.

    score(d) = sum over query terms t of
      ln(1 + (N - df + 0.5)/(df + 0.5))
        * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).

    Scale shape = q75's two-aggregation dataflow with the tf branch
    PRE-FILTERED to the query terms before its shuffle (the filter is
    pushed below the groupBy, so shuffle 1 carries only query-term
    hits — for a 4-term query over 100 TB that is a tiny fraction of
    the corpus); df is aggregated from the already-tiny tf frame and
    broadcast back; dl/avgdl come from the full token pass (one
    groupBy(doc_id), the unavoidable document-length scan) with the
    corpus stats riding a 1-row broadcast crossJoin. Top-20 is
    TakeOrderedAndProject. Scores rounded to 6 on both sides (1-ulp
    ln/libm divergence, the q75 precedent)."""
    d = load_table(spark, sf_dir, "documents")
    return _bm25_frame(d).orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20)


def _bm25_frame(d: DataFrame) -> DataFrame:
    """(doc_id, bm25) for every document matching the fixed query —
    the q80 dataflow minus the top-k, shared with q109."""
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        tok.where(F.col("t").isin(*BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    # literal 2.2, NOT BM25_K1 + 1: python's 1.2 + 1 is the double
    # below 2.2 (2.1999999999999997), while the SQL text "2.2" parses
    # to the nearest double — a last-ulp mismatch that could flip the
    # 6-decimal rounding
    wt = (
        F.col("tf") * F.lit(2.2)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (
                F.lit(1 - BM25_B)
                + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
            )
        )
    )
    return (
        tf.join(F.broadcast(df_), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * wt), 6).alias("bm25"))
    )


QUERIES = {
    "q74_repetition_filter": q74_repetition_filter,
    "q75_tfidf_doc_scores": q75_tfidf_doc_scores,
    "q80_bm25_topk": q80_bm25_topk,
}

# Identical normalization to functions/text.py tokens(): lowercase,
# collapse whitespace, split on single spaces.
from dataingestiontohana_spark.functions.text import (  # noqa: E402
    TOKENS_SQL_CTE as _TOK_CTE,
)

ORACLES = {
    "q74_repetition_filter": f"""
        WITH {_TOK_CTE},
        r AS (
          SELECT doc_id,
                 len(toks) AS n_tokens,
                 1.0 - len(list_distinct(toks)) * 1.0 / len(toks)
                   AS dup_tok_frac,
                 CASE WHEN len(toks) < 2 THEN 0.0
                      ELSE 1.0 - len(list_distinct(
                             list_transform(range(1, len(toks)),
                                            i -> toks[i] || ' ' || toks[i+1])))
                           * 1.0 / (len(toks) - 1)
                 END AS dup_bi_frac
          FROM tok)
        SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
               dup_tok_frac, dup_bi_frac
        FROM r
        ORDER BY dup_tok_frac DESC, dup_bi_frac DESC, doc_id ASC
        LIMIT 25
    """,
    "q75_tfidf_doc_scores": f"""
        WITH {_TOK_CTE},
        base AS (
          SELECT doc_id, len(toks) AS dl, unnest(toks) AS t FROM tok),
        tf AS (
          SELECT doc_id, t, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
          FROM base GROUP BY doc_id, t),
        df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id,
               ROUND(SUM((tf * 1.0 / dl) * ln(n_docs * 1.0 / df)), 6)
                 AS tfidf_sum
        FROM tf JOIN df USING (t) CROSS JOIN n
        GROUP BY doc_id
        ORDER BY tfidf_sum DESC, doc_id ASC
        LIMIT 20
    """,
    # Okapi BM25 with identical literal structure to the Spark side
    # (same association order for every float op; ln/round the q75
    # precedent). avgdl is exact: integer sum / count on both engines.
    "q80_bm25_topk": f"""
        WITH {_TOK_CTE},
        base AS (
          SELECT doc_id, unnest(toks) AS t FROM tok),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM base GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
        tf AS (
          SELECT doc_id, t, COUNT(*) AS tf
          FROM base WHERE t IN ('join', 'vector', 'stream', 'dup')
          GROUP BY doc_id, t),
        df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t)
        SELECT doc_id,
               ROUND(SUM(
                 ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
               ), 6) AS bm25
        FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT 20
    """,
}


# PII patterns: simple char-class regexes chosen to mean the same
# thing in Java regex (Spark) and RE2 (DuckDB) — no lookaround, no
# backreferences. Replacement order is fixed (email, ip, phone):
# applying them sequentially is part of the operator contract.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{1,3}[- ]\d{3}[- ]\d{3}[- ]\d{4}"


def redact_pii(col):
    """text -> (n_emails, n_ips, n_phones, redacted) — count then
    sequentially replace each PII class with a typed token. Pure
    codegen regexp columns: at 100 TB this is a map-only scan."""
    n_e = F.regexp_count(col, F.lit(PII_EMAIL))
    n_i = F.regexp_count(col, F.lit(PII_IPV4))
    n_p = F.regexp_count(col, F.lit(PII_PHONE))
    red = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4, "<IP>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    return n_e, n_i, n_p, red


def q79_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the curation pass every training corpus gets.

    The shipped documents contain no PII, so the query PLANTS
    deterministic PII first (every 7th doc gains an email, every 11th
    an IPv4, every 13th a phone — all derived from doc_id, so the
    DuckDB oracle builds the identical corpus), then counts and
    redacts. Output is per-source totals plus an md5 over all redacted
    text (order-canonicalized), so the oracle verifies both the counts
    AND the exact redacted bytes.
    """
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".77")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" call +1 555 01"),
                (did % 10).cast("string"),
                F.lit(" 0000"),
            ),
        ).otherwise(F.lit("")),
    )
    n_e, n_i, n_p, red = redact_pii(planted)
    per_doc = d.select(
        "source",
        "doc_id",
        n_e.alias("n_emails"),
        n_i.alias("n_ips"),
        n_p.alias("n_phones"),
        F.md5(red).alias("red_fp"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_emails").cast("bigint").alias("emails"),
            F.sum("n_ips").cast("bigint").alias("ips"),
            F.sum("n_phones").cast("bigint").alias("phones"),
            F.md5(F.concat_ws("", F.sort_array(F.collect_list("red_fp"))))
            .alias("corpus_fp"),
        )
        .orderBy("source")
    )


QUERIES["q79_pii_redaction"] = q79_pii_redaction

# The oracle rebuilds the identical planted corpus (doc_id-derived
# PII) and applies the same three patterns in the same order; DuckDB
# counts via len(regexp_extract_all) and redacts with the 'g' flag.
ORACLES["q79_pii_redaction"] = rf"""
    WITH planted AS (
      SELECT source, doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.77' ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' call +1 555 01' || CAST(doc_id % 10 AS VARCHAR)
                          || ' 0000' ELSE '' END AS t
      FROM documents),
    red AS (
      SELECT source,
             len(regexp_extract_all(t, '{PII_EMAIL}')) AS n_emails,
             len(regexp_extract_all(t, '{PII_IPV4}')) AS n_ips,
             len(regexp_extract_all(t, '{PII_PHONE}')) AS n_phones,
             md5(regexp_replace(regexp_replace(regexp_replace(t,
                 '{PII_EMAIL}', '<EMAIL>', 'g'),
                 '{PII_IPV4}', '<IP>', 'g'),
                 '{PII_PHONE}', '<PHONE>', 'g')) AS red_fp
      FROM planted)
    SELECT source,
           CAST(SUM(n_emails) AS BIGINT) AS emails,
           CAST(SUM(n_ips) AS BIGINT) AS ips,
           CAST(SUM(n_phones) AS BIGINT) AS phones,
           md5(string_agg(red_fp, '' ORDER BY red_fp)) AS corpus_fp
    FROM red GROUP BY source ORDER BY source
"""


def q91_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality scoring — the CCNet/unigram-LM filter
    shape (Wenzek et al. 2020): build corpus-wide token frequencies,
    score each document by how rare its tokens are, filter on the
    score. The adjudicated columns are the INTEGER-EXACT core of that
    signal — per-doc token count, summed corpus frequency of its
    tokens, minimum frequency, and the exact fraction of rare
    (corpus-frequency <= 2) tokens. A unigram-LM logprob is the
    monotone transform -sum(ln(cf/N))/n of these statistics, so every
    rank/filter decision an LM filter makes is determined by them —
    while staying bit-reproducible across engines (ln() is the one
    piece libm/StrictMath may disagree on in the last ulp, so it stays
    OUT of the adjudicated surface; see q65's sketch-envelope
    precedent).

    Scale shape: one explode to token rows, one shuffle on the token
    for corpus frequencies (map-side combine collapses each partition
    to its vocabulary first), then a token-to-frequency equi-join.
    The join key is Zipf-skewed — hot stopwords carry millions of
    rows — but the frequency side is ONE row per key, which is
    exactly the shape AQE's skew-join split handles (and the hot keys
    cost O(their row count), never a blow-up: this is a 1:N join, not
    N:M). Per-doc aggregation then reduces on doc_id."""
    from dataingestiontohana_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens("text")).alias("w")
    ).localCheckpoint(eager=False)  # frequency agg + the scoring join
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cf"))
    return (
        tok.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cf").cast("bigint").alias("freq_sum"),
            F.min("cf").cast("bigint").alias("min_freq"),
            F.sum(F.when(F.col("cf") <= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("rare_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "freq_sum",
            "min_freq",
            "rare_tokens",
            (
                F.col("rare_tokens").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("rare_frac"),
        )
        .orderBy("doc_id")
    )


QUERIES["q91_token_rarity"] = q91_token_rarity

ORACLES["q91_token_rarity"] = f"""
    WITH {_TOK_CTE},
    t AS (SELECT doc_id, unnest(toks) AS w FROM tok),
    freq AS (SELECT w, COUNT(*) AS cf FROM t GROUP BY w),
    per AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             SUM(f.cf) AS freq_sum,
             MIN(f.cf) AS min_freq,
             SUM(CASE WHEN f.cf <= 2 THEN 1 ELSE 0 END) AS rare_tokens
      FROM t JOIN freq f USING (w)
      GROUP BY t.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(freq_sum AS BIGINT) AS freq_sum,
           CAST(min_freq AS BIGINT) AS min_freq,
           CAST(rare_tokens AS BIGINT) AS rare_tokens,
           CAST(rare_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS rare_frac
    FROM per ORDER BY doc_id
"""


# Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", App. A1.1) —
# thresholds kept verbatim. The stopword inventory is Gopher's list
# plus 'a', adapted to the synthetic corpus the way production
# pipelines adapt it per-language: the driver vocabulary carries only
# 'the'/'a' as function words, so Gopher's verbatim list would make
# the containment gate constant-false (a dead column proves nothing);
# with 'a' included the gate genuinely discriminates per document.
# ONE list on purpose: the Spark plan and the SQL oracle must agree.
GOPHER_STOPS = ("the", "a", "be", "to", "of", "and", "that", "have", "with")


def q93_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality RULES as named pass/fail gates,
    aggregated per source — the rule-based filter stage of a
    MassiveText-style pipeline (word-count bounds, mean-word-length
    bounds, symbol-to-word ratio, alphabetic-word fraction, stopword
    containment). q26 scores documents on a continuous heuristic;
    this is the complementary hard-gate form whose decisions are the
    filter itself.

    Every rule is evaluated in EXACT integer arithmetic (ratio
    thresholds as cross-multiplications: mean word length in [3,10]
    becomes 3*n <= chars <= 10*n), so pass counts are bit-reproducible
    and fully value-adjudicated — no float thresholds to disagree on.

    Scale shape: entirely map-only per document (tokenize once, array
    folds in codegen), then one tiny per-source aggregation. The 100 TB
    cost is exactly one scan of the text column.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    chars = F.length(F.concat_ws("", toks))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    symbols = F.regexp_count(F.col("text"), F.lit(r"[#…]|\.\.\."))
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in GOPHER_STOPS]))
    )
    flags = {
        # 50 <= words <= 100,000
        "pass_wordcount": (n >= 50) & (n <= 100000),
        # 3 <= mean word length <= 10, cross-multiplied
        "pass_meanlen": (3 * n <= chars) & (chars <= 10 * n),
        # symbol-to-word ratio (#, ellipsis) <= 0.1
        "pass_symbol": 10 * symbols <= n,
        # >= 80% of words contain an alphabetic character
        "pass_alpha": 5 * alpha >= 4 * n,
        # at least 2 distinct stopwords present
        "pass_stop": stop_hits >= 2,
    }
    per_doc = d.select(
        "source",
        *[v.cast("int").alias(k) for k, v in flags.items()],
    )
    agg = [F.count(F.lit(1)).cast("bigint").alias("docs")] + [
        F.sum(k).cast("bigint").alias(k) for k in flags
    ]
    all_pass = F.sum(
        F.when(
            sum(F.col(k) for k in flags) == F.lit(len(flags)), 1
        ).otherwise(0)
    ).cast("bigint")
    return (
        per_doc.groupBy("source")
        .agg(*agg, all_pass.alias("pass_all"))
        .orderBy("source")
    )


QUERIES["q93_gopher_rules"] = q93_gopher_rules

_GOPHER_STOPS_SQL = ", ".join(f"'{w}'" for w in GOPHER_STOPS)

ORACLES["q93_gopher_rules"] = f"""
    WITH {_TOK_CTE},
    per AS (
      SELECT d.source,
             len(t.toks) AS n,
             length(array_to_string(t.toks, '')) AS chars,
             len(list_filter(t.toks, x -> regexp_matches(x, '[a-z]')))
               AS alpha,
             len(regexp_extract_all(d.text, '[#…]|\\.\\.\\.')) AS symbols,
             len(list_intersect(t.toks, [{_GOPHER_STOPS_SQL}])) AS stop_hits
      FROM documents d JOIN tok t USING (doc_id)),
    f AS (
      SELECT source,
             CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END
               AS pass_wordcount,
             CASE WHEN 3*n <= chars AND chars <= 10*n THEN 1 ELSE 0 END
               AS pass_meanlen,
             CASE WHEN 10*symbols <= n THEN 1 ELSE 0 END AS pass_symbol,
             CASE WHEN 5*alpha >= 4*n THEN 1 ELSE 0 END AS pass_alpha,
             CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS pass_stop
      FROM per)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(pass_wordcount) AS BIGINT) AS pass_wordcount,
           CAST(SUM(pass_meanlen) AS BIGINT) AS pass_meanlen,
           CAST(SUM(pass_symbol) AS BIGINT) AS pass_symbol,
           CAST(SUM(pass_alpha) AS BIGINT) AS pass_alpha,
           CAST(SUM(pass_stop) AS BIGINT) AS pass_stop,
           CAST(SUM(CASE WHEN pass_wordcount + pass_meanlen + pass_symbol
                        + pass_alpha + pass_stop = 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS pass_all
    FROM f GROUP BY source ORDER BY source
"""


def q105_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: the 30 most frequent word bigrams with
    their pointwise mutual information — the phrase-mining signal
    (Church & Hanks 1990) a curation pipeline uses to build phrase
    vocabularies and spot boilerplate n-grams.

    pmi(x,y) = ln( p(x,y) / (p(x)p(y)) ) computed from EXACT integer
    sufficient statistics: c_xy (bigram count), c_x/c_y (unigram
    counts), n_bi/n_uni (stream totals), combined as ONE division of
    two exact DECIMAL(38,0) products cast to double — both engines
    produce the nearest double identically — then a single ln()
    rounded to 6 (the q75 libm precedent).

    Scale shape: bigrams come from word_bigrams() — arrays_zip of two
    codegen'd slices, row count unchanged until ONE explode (the
    transform()-lambda formulation ran interpreted: 7.5 s vs 0.8 s at
    sf0.1) — then shuffle 1 = groupBy(bg) with map-side combine and the top-30
    as TakeOrderedAndProject (per-partition heaps, no window). The
    unigram aggregation (shuffle 2, vocabulary-keyed) is REDUCED to
    the <= 60 distinct top-bigram terms by a broadcast semi-join
    BEFORE anything joins back, so the joins that attach c_x/c_y
    broadcast <= 60-row frames — the full vocabulary is aggregated
    but never joined wide. Totals attach via 1-row crossJoin
    (literal-attach shape). Ties at the top-30 boundary break on the
    bigram string, so the cut is deterministic.
    """
    from dataingestiontohana_spark.functions.text import (
        tokens,
        word_bigrams,
    )

    d = load_table(spark, sf_dir, "documents")
    bg = d.select(F.explode(word_bigrams(F.col("text"))).alias("p")).select(
        F.concat_ws(" ", F.col("p.0"), F.col("p.1")).alias("bg")
    )
    bc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c_xy"))
    bc = bc.localCheckpoint(eager=False)  # feeds top-30 AND the total
    top = (
        bc.orderBy(F.desc("c_xy"), F.asc("bg"))
        .limit(30)
        .select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
            "c_xy",
        )
        .localCheckpoint(eager=False)  # feeds term set AND both joins
    )
    toks = d.select(
        F.explode(tokens(F.col("text"))).alias("tok")
    ).localCheckpoint(eager=False)  # feeds the total AND the term counts
    terms = (
        top.select(F.col("w1").alias("tok"))
        .unionByName(top.select(F.col("w2").alias("tok")))
        .distinct()
    )
    # the unigram counts only matter for the <= 60 surviving terms, so
    # the token stream is broadcast-semi-FILTERED before its groupBy —
    # the shuffle carries term hits only, never the full vocabulary;
    # and the stream total is a keyless count, no vocabulary shuffle
    # at all (the first cut aggregated every distinct token: ~1 s at
    # sf0.1, a billion-key exchange at 100 TB, all to read 60 rows)
    tc = (
        toks.join(F.broadcast(terms), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = toks.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n_uni"))
    n_bi = bc.agg(F.sum("c_xy").cast("decimal(38,0)").alias("n_bi"))
    dec = "decimal(38,0)"
    num = (
        F.col("c_xy").cast(dec) * F.col("n_uni") * F.col("n_uni")
    ).cast("double")
    den = (F.col("n_bi") * F.col("c_x").cast(dec) * F.col("c_y").cast(dec)).cast(
        "double"
    )
    return (
        top.join(
            F.broadcast(tc.select(F.col("tok").alias("w1"), F.col("c").alias("c_x"))),
            "w1",
        )
        .join(
            F.broadcast(tc.select(F.col("tok").alias("w2"), F.col("c").alias("c_y"))),
            "w2",
        )
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.col("c_x").cast("bigint").alias("c_x"),
            F.col("c_y").cast("bigint").alias("c_y"),
            F.round(F.log(num / den), 6).alias("pmi"),
        )
        .orderBy(F.desc("c_xy"), "w1", "w2")
    )


QUERIES["q105_pmi_bigrams"] = q105_pmi_bigrams

ORACLES["q105_pmi_bigrams"] = f"""
    WITH {_TOK_CTE},
    bgs AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1]))
             AS bg
      FROM tok),
    bc AS (SELECT bg, COUNT(*) AS c_xy FROM bgs GROUP BY bg),
    top AS (
      SELECT split_part(bg, ' ', 1) AS w1,
             split_part(bg, ' ', 2) AS w2, c_xy
      FROM bc ORDER BY c_xy DESC, bg LIMIT 30),
    uc AS (SELECT unnest(toks) AS tok FROM tok),
    uni AS (SELECT tok, COUNT(*) AS c FROM uc GROUP BY tok),
    nu AS (SELECT CAST(SUM(c) AS HUGEINT) AS n_uni FROM uni),
    nb AS (SELECT CAST(SUM(c_xy) AS HUGEINT) AS n_bi FROM bc)
    SELECT t.w1, t.w2,
           CAST(t.c_xy AS BIGINT) AS c_xy,
           CAST(x.c AS BIGINT) AS c_x,
           CAST(y.c AS BIGINT) AS c_y,
           round(ln(CAST(CAST(t.c_xy AS HUGEINT) * n_uni * n_uni AS DOUBLE)
                    / CAST(n_bi * x.c * y.c AS DOUBLE)), 6) AS pmi
    FROM top t
    JOIN uni x ON x.tok = t.w1
    JOIN uni y ON y.tok = t.w2, nu, nb
    ORDER BY c_xy DESC, w1, w2
"""


# TextRank (Mihalcea & Tarau 2004): PageRank over the word
# co-occurrence graph, restricted to the top-N frequency candidates
# (the standard candidate-filter step). All rank arithmetic is
# FIXED-POINT: scores are integers scaled by 1e12, every contribution
# is (rank*cnt) // w and every damping step (85*sum) // 100 — floor
# divisions of non-negative integers, identical in Python and DuckDB
# (`//` truncation == floor for non-negatives), so ten iterations stay
# bit-exact across engines with NO floating point until the final
# display division.
_TR_SCALE = 10**12
_TR_ITERS = 10
_TR_CANDIDATES = 100
_TR_TOPK = 20


def fixed_point_pagerank(
    nodes: list[str],
    adj: list[tuple[str, str, int]],
    w: dict[str, int],
    iters: int = _TR_ITERS,
    scale: int = _TR_SCALE,
) -> dict[str, int]:
    """The exact integer PageRank kernel q108 runs on the reduced
    co-occurrence graph (directed weighted edges (u, v, cnt); w[u] =
    u's total outgoing weight). Pure python ints so it is directly
    property-testable (tests/test_textrank.py) and byte-matches the
    oracle's unrolled-CTE replay: contributions floor-divide as
    (rank*cnt) // w, damping as (85*sum) // 100, teleport mass
    (15*scale) // (100*n) — all operands non-negative, so python
    floor == DuckDB truncation."""
    n = len(nodes)
    if n == 0:  # empty graph (empty corpus): no ranks, not a crash
        return {}
    tele = (15 * scale) // (100 * n)
    rank = {v: scale // n for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for u, v, cnt in adj:
            s[v] += (rank[u] * cnt) // w[u]
        rank = {v: tele + (85 * s[v]) // 100 for v in nodes}
    return rank


def q108_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus keywords by TextRank — fixed-point PageRank over
    the adjacency (bigram) co-occurrence graph of the 100 most
    frequent tokens.

    Scale shape: the distributed work is the two corpus passes — the
    candidate head (token aggregation with map-side combine, top-100
    as TakeOrderedAndProject) and the edge build (codegen
    word_bigrams explode, both endpoints broadcast-semi-filtered to
    the 100 candidates BEFORE the pair aggregation, so that shuffle
    carries only candidate-pair hits). The graph itself is then at
    most C(100,2) weighted edges — DRIVER-TINY by construction, the
    same reduced-state argument as the BPE merge loop and the q83
    k-means replay — and the 10 rank iterations run as exact python
    integer arithmetic on it. Self-loops are excluded; isolated
    candidates keep the teleport mass. Ties (the top-100 cut, the
    final top-20 cut) break on the token string.

    The DuckDB oracle replays EVERYTHING: candidate cut, edge counts,
    per-node incident weight, and all ten fixed-point iterations as
    unrolled CTEs — rank_fp is value-compared as an exact integer.
    """
    from dataingestiontohana_spark.functions.text import (
        tokens,
        word_bigrams,
    )

    d = load_table(spark, sf_dir, "documents")
    cand = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(_TR_CANDIDATES)
        .localCheckpoint(eager=False)  # feeds two semis + the output
    )
    bgp = (
        d.select(F.explode(word_bigrams(F.col("text"))).alias("p"))
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .where(F.col("w1") != F.col("w2"))
    )
    edges = (
        bgp.join(
            F.broadcast(cand.select(F.col("tok").alias("w1"))), "w1", "left_semi"
        )
        .join(
            F.broadcast(cand.select(F.col("tok").alias("w2"))), "w2", "left_semi"
        )
        .select(
            F.least("w1", "w2").alias("a"),
            F.greatest("w1", "w2").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # reduced state: <= C(100,2) rows + the 100-row candidate head
    erows = edges.collect()
    crows = cand.collect()
    nodes = sorted(r["tok"] for r in crows)
    freq = {r["tok"]: r["freq"] for r in crows}
    w: dict[str, int] = {v: 0 for v in nodes}
    deg: dict[str, int] = {v: 0 for v in nodes}
    adj: list[tuple[str, str, int]] = []
    for r in erows:
        adj.append((r["a"], r["b"], r["cnt"]))
        adj.append((r["b"], r["a"], r["cnt"]))
        for v in (r["a"], r["b"]):
            w[v] += r["cnt"]
            deg[v] += 1
    rank = fixed_point_pagerank(nodes, adj, w)
    out = local_rows(
        spark,
        [
            (v, int(freq[v]), int(deg[v]), int(w[v]), int(rank[v]))
            for v in nodes
        ],
        "tok string, freq bigint, degree int, w_sum bigint, rank_fp bigint",
    )
    return (
        out.select(
            "tok",
            "freq",
            "degree",
            "w_sum",
            "rank_fp",
            (F.col("rank_fp").cast("double") / F.lit(float(_TR_SCALE))).alias(
                "rank"
            ),
        )
        .orderBy(F.desc("rank_fp"), "tok")
        .limit(_TR_TOPK)
    )


QUERIES["q108_textrank"] = q108_textrank


def _q108_oracle_sql() -> str:
    """The full TextRank replay in ANSI SQL: candidate cut, edge
    build, incident weights, and the ten fixed-point iterations as
    unrolled CTEs (all `//` operands are non-negative, so DuckDB's
    truncation == Python floor)."""
    s = _TR_SCALE
    iters = "".join(
        f"""
    r{k + 1} AS (
      SELECT c.tok AS node,
             (SELECT (15 * {s}) // (100 * COUNT(*)) FROM cand)
             + (85 * COALESCE(
                 (SELECT SUM((CAST(r.rank AS HUGEINT) * d.cnt) // w.w)
                  FROM dir d
                  JOIN wsum w ON w.u = d.u
                  JOIN r{k} r ON r.node = d.u
                  WHERE d.v = c.tok), 0)) // 100 AS rank
      FROM cand c),"""
        for k in range(_TR_ITERS)
    )
    return f"""
    WITH {{_TOK_CTE}},
    cand AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT unnest(toks) AS tok FROM tok)
      GROUP BY tok ORDER BY freq DESC, tok LIMIT {_TR_CANDIDATES}),
    bgs AS (
      SELECT split_part(bgx, ' ', 1) AS w1, split_part(bgx, ' ', 2) AS w2
      FROM (SELECT unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])) AS bgx
            FROM tok)),
    e AS (
      SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
             COUNT(*) AS cnt
      FROM bgs
      WHERE w1 <> w2
        AND w1 IN (SELECT tok FROM cand)
        AND w2 IN (SELECT tok FROM cand)
      GROUP BY 1, 2),
    dir AS (SELECT a AS u, b AS v, cnt FROM e
            UNION ALL SELECT b, a, cnt FROM e),
    wsum AS (SELECT u, SUM(cnt) AS w FROM dir GROUP BY u),
    degs AS (SELECT u, COUNT(*) AS degree FROM dir GROUP BY u),
    r0 AS (
      SELECT tok AS node,
             CAST({s} // (SELECT COUNT(*) FROM cand) AS HUGEINT) AS rank
      FROM cand),{iters}
    final AS (
      SELECT c.tok, c.freq,
             COALESCE(d.degree, 0) AS degree,
             COALESCE(w.w, 0) AS w_sum,
             r.rank AS rank_fp
      FROM cand c
      LEFT JOIN degs d ON d.u = c.tok
      LEFT JOIN wsum w ON w.u = c.tok
      JOIN r{_TR_ITERS} r ON r.node = c.tok)
    SELECT tok, CAST(freq AS BIGINT) AS freq, CAST(degree AS INT) AS degree,
           CAST(w_sum AS BIGINT) AS w_sum, CAST(rank_fp AS BIGINT) AS rank_fp,
           CAST(rank_fp AS DOUBLE) / {float(s)} AS rank
    FROM final
    ORDER BY rank_fp DESC, tok LIMIT {_TR_TOPK}
    """


ORACLES["q108_textrank"] = _q108_oracle_sql().format(_TOK_CTE=_TOK_CTE)


# Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009): the
# standard hybrid-retrieval combiner. k=60 is the paper's constant;
# pools of 50 per ranker.
RRF_K = 60
RRF_POOL = 50


def q109_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the BM25 ranking (q80's fixed term query) and
    the TF-IDF salience ranking fused by reciprocal-rank —
    rrf(d) = sum over rankers of 1/(k + rank_i(d)) over each ranker's
    top-50 pool, top-20 fused results out.

    Exactness: ranks are integers from total orders (score desc,
    doc_id — scores carry the q75/q80 round-to-6, so both engines
    agree on the order); each 1/(k+rank) is one IEEE division of
    exact operands and the fusion is ONE addition in fixed expression
    order — no rounding needed anywhere.

    Scale shape: both ranker dataflows are the audited q75/q80 shapes
    (shared helpers — the fused query inherits their shuffle
    discipline); the pools are 50-row TakeOrderedAndProject heads, so
    the row_number windows and the full-outer join operate on <= 50
    rows each (the sanctioned below-Limit shape). Missing membership
    contributes 0 via coalesce, exactly the paper's convention.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    a = (
        _bm25_frame(d)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RRF_POOL)
    )
    b = (
        _tfidf_frame(d)
        .orderBy(F.desc("tfidf_sum"), F.asc("doc_id"))
        .limit(RRF_POOL)
    )
    ra = a.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("ra"),
    )
    rb = b.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("tfidf_sum"), F.asc("doc_id")))
        .alias("rb"),
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("ra")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rb")), F.lit(0.0))
    return (
        ra.join(rb, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("ra").cast("int").alias("ra"),
            F.col("rb").cast("int").alias("rb"),
            rrf.alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(20)
    )


QUERIES["q109_rrf_fusion"] = q109_rrf_fusion

ORACLES["q109_rrf_fusion"] = f"""
    WITH {_TOK_CTE},
    base AS (
      SELECT doc_id, unnest(toks) AS t FROM tok),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM base GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, t, COUNT(*) AS tf
      FROM base WHERE t IN ('join', 'vector', 'stream', 'dup')
      GROUP BY doc_id, t),
    df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    bm AS (
      SELECT doc_id,
             ROUND(SUM(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
             ), 6) AS bm25
      FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id ASC LIMIT {RRF_POOL}),
    tf2 AS (
      SELECT b.doc_id, b.t, COUNT(*) AS tf, ANY_VALUE(d.dl) AS dl
      FROM base b JOIN dl d USING (doc_id) GROUP BY b.doc_id, b.t),
    df2 AS (SELECT t, COUNT(*) AS df FROM tf2 GROUP BY t),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    ti AS (
      SELECT doc_id,
             ROUND(SUM((tf * 1.0 / dl) * ln(n_docs * 1.0 / df)), 6)
               AS tfidf_sum
      FROM tf2 JOIN df2 USING (t) CROSS JOIN n
      GROUP BY doc_id
      ORDER BY tfidf_sum DESC, doc_id ASC LIMIT {RRF_POOL}),
    ra AS (SELECT doc_id,
                  ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS ra
           FROM bm),
    rb AS (SELECT doc_id,
                  ROW_NUMBER() OVER (ORDER BY tfidf_sum DESC, doc_id) AS rb
           FROM ti)
    SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
           CAST(ra.ra AS INT) AS ra,
           CAST(rb.rb AS INT) AS rb,
           COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + ra.ra), 0.0)
           + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + rb.rb), 0.0) AS rrf
    FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    ORDER BY rrf DESC, doc_id ASC LIMIT 20
"""


def q159_phrase_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search through a positional inverted index: build
    (token, doc_id, pos) postings, intersect the posting lists of the
    phrase's words with a position-offset equi-join (p2.pos = p1.pos
    + 1), and return every matching document with its first match
    position — the retrieval primitive BM25/TF-IDF (q80/q75) cannot
    express, because bag-of-words scoring is blind to adjacency.

    The oracle is INDEPENDENTLY FORMULATED (the q141 convention): it
    never builds postings — membership comes from a padded LIKE scan
    ('% spark join %' over space-joined text) and the first-match
    token position from pure character arithmetic (spaces in the
    prefix before strpos's match). An index-construction bug and a
    scan bug cannot cancel.

    Scale shape: postings are one map-only posexplode; ONLY the
    phrase's two posting lists survive the pushed token filter
    (printed as PushedFilters once postings persist as a
    token-partitioned table — the point of an inverted index: work
    scales with the posting lists, not the corpus); the offset join
    shuffles those two lists on doc_id. At 100 TB the posting store
    is written once (partitionBy(token), the q36b IVF layout
    maneuver) and every phrase query prunes to its own tokens.
    """
    W1, W2 = "spark", "join"
    d = load_table(spark, sf_dir, "documents")
    post = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    p1 = post.where(F.col("tok") == W1).select(
        F.col("doc_id").alias("d1"), F.col("pos").alias("pos1")
    )
    p2 = post.where(F.col("tok") == W2).select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("pos2")
    )
    hits = p1.join(
        p2,
        (F.col("d1") == F.col("d2"))
        & (F.col("pos2") == F.col("pos1") + 1),
    )
    matched = hits.groupBy(F.col("d1").alias("doc_id")).agg(
        F.min("pos1").cast("long").alias("first_pos"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )
    return matched.join(
        d.select("doc_id", "source", "n_chars"), "doc_id"
    ).select(
        "doc_id", "source", "n_chars", "first_pos", "n_occurrences"
    ).orderBy("doc_id")


QUERIES["q159_phrase_index_search"] = q159_phrase_index_search

ORACLES["q159_phrase_index_search"] = """
    WITH hit AS (
      SELECT doc_id, source, n_chars, text,
             strpos(' ' || text || ' ', ' spark join ') AS at1,
             string_split(text, ' ') AS toks
      FROM documents
      WHERE strpos(' ' || text || ' ', ' spark join ') > 0)
    SELECT doc_id, source, n_chars,
           -- 'spark' starts at text offset at1 (1-based); its 0-based
           -- token index = separator spaces in the prefix before it
           CAST(length(substr(text, 1, at1 - 1))
              - length(replace(substr(text, 1, at1 - 1), ' ', ''))
             AS BIGINT) AS first_pos,
           -- adjacent-pair count straight off the token list (list
           -- positions, not postings; toks[i+1] past the end is NULL
           -- and the NULL comparison drops out of list_filter)
           CAST(len(list_filter(range(1, len(toks)),
                i -> toks[i] = 'spark' AND toks[i + 1] = 'join'))
             AS BIGINT) AS n_occurrences
    FROM hit
    ORDER BY doc_id
"""

def q178_annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-annotator agreement — the labeling-QA
    primitive for any corpus-curation pipeline that runs two cheap
    heuristic "annotators" (or a heuristic vs a model) and needs to
    know whether they agree beyond chance before trusting either.
    Annotator A keeps a document when its length sits in the
    [100, 2000]-char band; annotator B when at least 55% of its
    characters are ASCII-alphabetic. Kappa = (po - pe) / (1 - pe)
    collapses to a ratio of two exact integers:

        kappa = (n*(n11 + n00) - (a1*b1 + a0*b0))
              / (n^2          - (a1*b1 + a0*b0))

    Exactness: both annotator flags are pure integer comparisons
    (the alpha ratio tests 100*alpha_chars >= 55*total_chars — no
    division); the 2x2 contingency counts are int64; the kappa
    numerator/denominator multiply in DECIMAL(38,0) (n^2 passes
    int64 near 3e9 docs) with ONE final division ROUND 6.

    Scale shape: one documents scan, map-only flag computation, a
    single 1-row aggregate. Degenerate corpora where pe = 1 (both
    annotators constant) emit kappa NULL — agreement beyond chance
    is undefined there, not zero.
    """
    d = load_table(spark, sf_dir, "documents")
    total = F.length(F.col("text"))
    alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    a = (
        (F.col("n_chars") >= 100) & (F.col("n_chars") <= 2000)
    ).cast("long")
    b = (alpha * 100 >= total * 55).cast("long")
    agg = d.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    n = d38("n_docs")
    chance = (d38("n11") + d38("n10")) * (d38("n11") + d38("n01")) + (
        d38("n01") + d38("n00")
    ) * (d38("n10") + d38("n00"))
    num = n * (d38("n11") + d38("n00")) - chance
    den = n * n - chance
    return agg.select(
        "n_docs", "n11", "n10", "n01", "n00",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(num.cast("double") / den.cast("double"), 6))
        .alias("kappa"),
    )


QUERIES["q178_annotator_kappa"] = q178_annotator_kappa

ORACLES["q178_annotator_kappa"] = """
    WITH flags AS (
      SELECT CASE WHEN n_chars >= 100 AND n_chars <= 2000
                  THEN 1 ELSE 0 END AS a,
             CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       * 100 >= length(text) * 55
                  THEN 1 ELSE 0 END AS b
      FROM documents),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM flags),
    k AS (
      SELECT n_docs, n11, n10, n01, n00,
             (CAST(n11 AS DECIMAL(38,0)) + n10)
               * (CAST(n11 AS DECIMAL(38,0)) + n01)
             + (CAST(n01 AS DECIMAL(38,0)) + n00)
               * (CAST(n10 AS DECIMAL(38,0)) + n00) AS chance
      FROM c)
    SELECT n_docs, n11, n10, n01, n00,
           CASE WHEN CAST(n_docs AS DECIMAL(38,0)) * n_docs - chance = 0
                THEN NULL
                ELSE ROUND(
                  CAST(CAST(n_docs AS DECIMAL(38,0)) * (n11 + n00) - chance
                       AS DOUBLE)
                  / CAST(CAST(n_docs AS DECIMAL(38,0)) * n_docs - chance
                         AS DOUBLE), 6)
           END AS kappa
    FROM k
"""


def q213_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality caps (round 8; the FineWeb/CC-pipeline
    'domain budget' step): within every source, rank documents by THE
    q26 heuristic quality score (one shared definition per engine:
    `llm_text.quality_score_cols` / `llm_text.QUALITY_SCORE_SQL`) and keep only the top 10 — bounding
    any one domain's contribution to the training mix regardless of
    its crawl volume. Output: per-source kept/total counts, the kept
    token mass, and the quality CUT LINE (the lowest kept score) —
    the knobs a mix owner reads.

    Scale shape: ONE rank window partitioned by source (the natural
    per-domain parallelism — never a global sort), over a map-only
    projection of the quality expression; per-source aggregate after
    the filter. At 100 TB this is the same plan with more source
    partitions; skewed mega-domains are exactly what the cap bounds.
    """
    from pyspark.sql import Window

    from dataingestiontohana_spark.plans.llm_text import quality_score_cols

    d = load_table(spark, sf_dir, "documents")
    n_tokens, quality = quality_score_cols()  # THE q26 expression
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    scored = d.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        quality.alias("quality"),
    )
    totals = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_docs")
    )
    kept = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("kept_docs"),
            F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
            F.min("quality").alias("quality_cut"),
        )
    )
    return (
        kept.join(totals, "source")
        .select(
            "source", "kept_docs", "total_docs", "kept_tokens",
            "quality_cut",
        )
        .orderBy("source")
    )


QUERIES["q213_domain_caps"] = q213_domain_caps

from dataingestiontohana_spark.plans.llm_text import (  # noqa: E402
    QUALITY_SCORE_SQL as _QS_SQL,
)

ORACLES["q213_domain_caps"] = f"""
    WITH {_QS_SQL},
    ranked AS (
      SELECT doc_id, source, n_tokens, quality,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id) AS rk
      FROM qs),
    totals AS (SELECT source, COUNT(*) AS total_docs FROM qs GROUP BY source)
    SELECT r.source,
           CAST(COUNT(*) AS BIGINT) AS kept_docs,
           CAST(t.total_docs AS BIGINT) AS total_docs,
           CAST(SUM(r.n_tokens) AS BIGINT) AS kept_tokens,
           MIN(r.quality) AS quality_cut
    FROM ranked r JOIN totals t USING (source)
    WHERE r.rk <= 10
    GROUP BY r.source, t.total_docs
    ORDER BY r.source
"""
