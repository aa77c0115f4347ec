"""Property test: MinHash signature agreement estimates true shingle
Jaccard (Broder's theorem: P[min-hash agrees] = J)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dataingestiontohana_spark.operators.dedup import (
    NUM_HASHES,
    minhash_signatures,
    shingle_sets,
)

WORDS = [f"w{i}" for i in range(200)]


def make_doc(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def mutate(rng: random.Random, doc: str, frac: float) -> str:
    toks = doc.split()
    k = int(len(toks) * frac)
    for idx in rng.sample(range(len(toks)), k):
        toks[idx] = rng.choice(WORDS)
    return " ".join(toks)


@pytest.mark.parametrize("seed", [1, 7])
def test_signature_agreement_tracks_true_jaccard(spark, seed):
    rng = random.Random(seed)
    docs = []
    for i in range(8):
        base = make_doc(rng, 120)
        docs.append((2 * i, base))
        docs.append((2 * i + 1, mutate(rng, base, rng.choice([0.02, 0.1, 0.3]))))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sets_ = {
        r["doc_id"]: set(r["sh_set"]) for r in shingle_sets(df).collect()
    }
    sigs = {
        r["doc_id"]: list(r["sig"]) for r in minhash_signatures(df).collect()
    }
    for i in range(8):
        a, b = 2 * i, 2 * i + 1
        true_j = len(sets_[a] & sets_[b]) / len(sets_[a] | sets_[b])
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / NUM_HASHES
        # 16 hashes -> std err ~ sqrt(J(1-J)/16) <= 0.125; allow 3 sigma
        assert abs(true_j - est) <= 0.4, (i, true_j, est)


def test_disjoint_docs_rarely_agree(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(100))),
         (2, " ".join(f"b{i}" for i in range(100)))],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(df).collect()}
    agree = sum(x == y for x, y in zip(sigs[1], sigs[2]))
    assert agree <= 2  # true J = 0; each agreement is a hash collision


def test_lsh_bucket_cap_bounds_degenerate_corpora(spark):
    """An all-identical corpus collides every band into one bucket;
    without a cap the candidate join goes quadratic (k^2/2 pairs from
    one bucket). The cap drops the degenerate buckets and bounds the
    pair count; identical docs are exact-dedup's job (q29), not LSH's."""
    from pyspark.sql import functions as F

    from dataingestiontohana_spark.catalog import load_table
    from dataingestiontohana_spark.operators.dedup import minhash_candidates
    from tests.conftest import SF0001

    docs = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta eta").alias("text"),
    )
    assert minhash_candidates(docs, max_bucket=256).count() == 0
    # sanity: the quadratic blow-up the cap is preventing is real
    assert minhash_candidates(docs, max_bucket=10**9).count() == 600 * 599 // 2
    # and the cap is invisible on a normal corpus
    d = load_table(spark, SF0001, "documents")
    assert (
        minhash_candidates(d).count()
        == minhash_candidates(d, max_bucket=10**9).count()
    )


def test_exact_jaccard_strategies_agree(spark):
    """prefix-filtered and direct inverted-index strategies must return
    identical exact pair sets (the prefix filter is lossless)."""
    from dataingestiontohana_spark.catalog import load_table
    from dataingestiontohana_spark.operators.dedup import exact_jaccard_pairs
    from tests.conftest import SF0001

    d = load_table(spark, SF0001, "documents")
    cols = ["id_a", "id_b", "inter", "uni"]
    a = set(map(tuple, exact_jaccard_pairs(d, 0.5).select(cols).collect()))
    b = set(
        map(
            tuple,
            exact_jaccard_pairs(d, 0.5, strategy="direct").select(cols).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_num_hashes_beyond_sixteen(spark):
    """The seeded coefficient family extends to any num_hashes (a
    regression guard: the first universal-hash cut crashed for n > 16);
    smaller-n signatures are a prefix of larger-n ones."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    sig32 = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(df, num_hashes=32).collect()
    }
    assert len(sig32[1]) == 32
    sig16 = {
        r["doc_id"]: list(r["sig"]) for r in minhash_signatures(df).collect()
    }
    assert sig32[1][:16] == sig16[1]  # prefix property


def test_direct_strategy_fails_fast_on_hot_shingle(spark):
    """The planted-hot-shingle guard: a shingle shared by more docs
    than max_df must raise BEFORE the quadratic inverted-index join
    launches (the prefix strategy stays immune by construction)."""
    import pytest

    from dataingestiontohana_spark.operators.dedup import exact_jaccard_pairs

    hot = "alpha beta gamma"  # one shared 3-gram shingle across all docs
    docs = spark.createDataFrame(
        [(i, f"{hot} unique{i} filler{i} tail{i}") for i in range(30)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="hot shingle"):
        exact_jaccard_pairs(docs, 0.5, strategy="direct", max_df=10)
    # benign corpus under the same cap still runs
    benign = spark.createDataFrame(
        [(i, f"doc{i} words{i} body{i} close{i}") for i in range(30)],
        "doc_id long, text string",
    )
    assert exact_jaccard_pairs(
        benign, 0.5, strategy="direct", max_df=10
    ).count() == 0
    # prefix strategy needs no cap even on the hot corpus
    exact_jaccard_pairs(docs, 0.9).count()
