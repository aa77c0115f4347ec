"""Unit tests for the text/dedup primitives on planted fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataingestiontohana_spark.functions.text import normalize_text, tokens
from dataingestiontohana_spark.operators.dedup import minhash_candidates


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_normalize_collapses_whitespace(spark):
    df = _docs(spark, [(1, "  Hello\t WORLD  ")])
    assert df.select(normalize_text("text").alias("t")).head()[0] == "hello world"


def test_tokens_and_shingles(spark):
    df = _docs(spark, [(1, "a b c d")])
    row = df.select(tokens("text").alias("t")).head()
    assert row["t"] == ["a", "b", "c", "d"]


def test_minhash_lsh_finds_planted_near_dup(spark):
    # 60 distinct words -> 58 distinct shingles; one appended word gives
    # Jaccard ~0.98, which 4x4 LSH banding catches with p > 0.9999
    # (a ~0.75-Jaccard pair would be a coin flip — too flaky to assert)
    base = " ".join(f"word{i:02d}" for i in range(60))
    near = base + " tail"
    far = "totally unrelated content about spark catalyst optimizer plans " * 5
    df = _docs(spark, [(1, base), (2, near), (3, far)])
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_sig"]
        for r in minhash_candidates(df).collect()
    }
    assert (1, 2) in pairs
    assert pairs[(1, 2)] > 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_redact_pii_counts_and_replaces(spark):
    from pyspark.sql import functions as F

    from dataingestiontohana_spark.plans.llm_quality import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.co.uk or x@y.io; ip 192.168.0.1; "
                "call +44 123 456 7890 now"),
            (2, "no pii here, just v1.2 of the 3.4 release"),
        ],
        "id long, text string",
    )
    n_e, n_i, n_p, red = redact_pii(F.col("text"))
    rows = {r["id"]: r for r in df.select(
        "id", n_e.alias("e"), n_i.alias("i"), n_p.alias("p"),
        red.alias("red")).collect()}
    assert (rows[1]["e"], rows[1]["i"], rows[1]["p"]) == (2, 1, 1)
    assert "<EMAIL>" in rows[1]["red"] and "<IP>" in rows[1]["red"]
    assert "<PHONE>" in rows[1]["red"]
    assert "@" not in rows[1]["red"] and "192.168" not in rows[1]["red"]
    # version numbers are not IPv4s (need all four octets)
    assert (rows[2]["e"], rows[2]["i"], rows[2]["p"]) == (0, 0, 0)
    assert rows[2]["red"] == "no pii here, just v1.2 of the 3.4 release"


def test_tokenize_whitespace_class_matches_duckdb(spark):
    """Java's \\s is [ \\t\\n\\x0B\\f\\r]; RE2's \\s EXCLUDES \\x0B.
    The oracles therefore spell the class explicitly — this pins that
    Spark tokens() and the oracle CTE regex agree on every ASCII
    whitespace character, vertical tab included."""
    import duckdb

    nasty = "a\x0bb\tc\nd\fe\rf  g"
    df = spark.createDataFrame([(1, nasty)], "doc_id long, text string")
    spark_toks = df.select(tokens(F.col("text")).alias("t")).head()["t"]
    assert spark_toks == ["a", "b", "c", "d", "e", "f", "g"]

    con = duckdb.connect()
    (duck_toks,) = con.execute(
        r"""
        SELECT string_split(
          trim(regexp_replace(lower(?), '[ \t\n\x0b\f\r]+', ' ', 'g')), ' ')
        """,
        [nasty],
    ).fetchone()
    assert list(duck_toks) == spark_toks


def test_substring_dup_stats_planted(spark):
    """Planted verbatim spans: doc 2 shares doc 1's opening 64 chars
    inside otherwise-different text; doc 3 is doc 1 verbatim; doc 4
    shares nothing. In-doc repetition alone (doc 5) does NOT count."""
    from dataingestiontohana_spark.operators.dedup import (
        substring_dup_stats,
    )

    shared = "x" * 0 + "the quick brown fox jumps over the lazy dog again and then some more"  # 69 chars
    rows = [
        (1, shared + " unique tail one with extra words here padding"),
        (2, shared + " completely different continuation text body!!"),
        (3, shared + " unique tail one with extra words here padding"),
        (4, "entirely novel content with no overlap whatsoever at all present"),
        (5, "zzz " * 40),  # self-repetition only
    ]
    out = {
        r["doc_id"]: r
        for r in substring_dup_stats(
            spark.createDataFrame(rows, "doc_id long, text string"),
            window=48,
            stride=16,
        ).collect()
    }
    # docs 1 and 3 are identical -> every window duplicated
    assert out[1]["dup_frac"] == 1.0 and out[3]["dup_frac"] == 1.0
    # doc 2 shares the opening span only: some but not all windows
    assert 0 < out[2]["dup_windows"] < out[2]["n_windows"]
    # doc 4 shares nothing
    assert out[4]["dup_windows"] == 0 and out[4]["dup_frac"] == 0.0
    # doc 5's windows repeat only within itself: df counts DISTINCT docs
    assert out[5]["dup_windows"] == 0


def test_auto_band_bits_ladder():
    """r12 verdict item 4: band width derives from corpus size by the
    integer ladder 2^b >= n * 2^4 over divisors of 64 — the collision
    budget bands*n^2/2^b stays <= bands*n/16 at every rung."""
    from dataingestiontohana_spark.operators.dedup import auto_band_bits

    assert auto_band_bits(0) == 16
    assert auto_band_bits(1) == 16
    assert auto_band_bits(4096) == 16
    assert auto_band_bits(4097) == 32
    assert auto_band_bits(1 << 28) == 32
    assert auto_band_bits((1 << 28) + 1) == 64
    assert auto_band_bits(1 << 40) == 64
    # the budget claim itself, at each rung's top
    for n in (4096, 1 << 28):
        b = auto_band_bits(n)
        bands = 64 // b
        assert bands * n * n / (1 << b) <= bands * n / 16 + 1e-9


def test_simhash_auto_banding_scales_down_collisions(spark):
    """On a >4096-doc corpus the auto width switches to 32-bit bands:
    the result must equal the EXPLICIT band_bits=32 run (the prepass
    changes nothing but the width), be a subset of the 16-bit
    candidates (wider band = strictly tighter filter), and still
    contain every EXACT duplicate pair (identical fingerprints share
    every band at any width)."""
    import pandas as pd

    from dataingestiontohana_spark.operators.dedup import (
        simhash_candidates,
    )

    # 4200 tiny docs: 50 exact-dup pairs (i and i+100000 share text),
    # the rest distinct
    rows = [(i, f"alpha beta w{i} w{i*7%997} gamma") for i in range(4150)]
    rows += [(100000 + i, rows[i][1]) for i in range(50)]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).coalesce(4)
    auto = {(r.id_a, r.id_b) for r in simhash_candidates(docs).collect()}
    fixed32 = {(r.id_a, r.id_b)
               for r in simhash_candidates(docs, band_bits=32).collect()}
    fixed16 = {(r.id_a, r.id_b)
               for r in simhash_candidates(docs, band_bits=16).collect()}
    assert auto == fixed32  # n=4200 > 4096 -> 32-bit bands
    assert auto <= fixed16  # wider bands only REMOVE candidates
    dup_pairs = {(i, 100000 + i) for i in range(50)}
    assert dup_pairs <= auto
