"""Near-duplicate detection operators: MinHash signatures + LSH
candidate pairs, SimHash fingerprints.

Performance note (measured, sf0.1): computing MinHash with nested
higher-order functions (transform/aggregate lambdas) is ~100x slower
than this explode+groupBy formulation, because Spark evaluates lambda
expressions interpreted and re-evaluates the shingle array once per
hash function. Here each shingle row pays ONE codegen'd md5; the 16
permutation slots are (a_i*x + b_i) mod p integer columns over that
base, and the 16 `min` aggregations get map-side partial combine — the
whole pipeline is whole-stage-codegen with exactly one shuffle (on the
doc id). That is the shape that survives 100 TB. md5 (rather than
xxhash64) makes every hash decision reproducible in DuckDB SQL, so
even the probabilistic pipelines are value-checked by the oracle gate.

MinHash/LSH per Broder '97 and MMDS ch.3; SimHash per Charikar '02.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataingestiontohana_spark.functions.text import tokens

NUM_HASHES = 16
BANDS = 4  # 4 bands x 4 rows: catches Jaccard >~ 0.5 pairs w.h.p.
ROWS_PER_BAND = NUM_HASHES // BANDS

# Universal-hash permutation family for MinHash: g_i(x) = (a_i*x + b_i)
# mod MINHASH_PRIME over a single md5-derived base x. Fixed seeded
# constants so the DuckDB oracle (plans/llm_dedup.py) embeds the
# identical literals; p = 2^31 - 1 keeps a_i*x + b_i < 2^62 (exact in
# 64-bit signed integers on every engine).
MINHASH_PRIME = 2_147_483_647

def minhash_coeffs(n: int, seed: int = 0x5EED_CAFE) -> list[tuple[int, int]]:
    """First n (a_i, b_i) pairs of the seeded family. Sequential draws
    from one seeded RNG, so coeff lists for different n share a common
    prefix — num_hashes=8 signatures are a prefix of num_hashes=16's."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(n)
    ]

MINHASH_COEFFS = minhash_coeffs(NUM_HASHES)


def shingle_hash_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, sh) rows — one 64-bit hash per n-gram word shingle.

    Measured: building shingle *strings* (transform + element_at +
    concat_ws lambdas) costs ~30us/shingle interpreted; hashing each
    token once and combining n consecutive token hashes with window
    `lead` keeps everything in whole-stage codegen (~8x faster) and
    never materializes shingle text. Shingle identity becomes
    hash-of-token-hashes — equivalent for Jaccard up to negligible
    64-bit collisions. One shuffle (window on id).

    Documents with fewer than n tokens emit nothing (no shingle
    evidence -> excluded from near-dup detection by design).
    """
    tok = docs.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    t = tok.select(
        id_col,
        F.xxhash64("tok").alias("h0"),
        F.lead(F.xxhash64("tok"), 1).over(w).alias("h1"),
        F.lead(F.xxhash64("tok"), 2).over(w).alias("h2"),
    )
    assert n == 3, "shingle width fixed at 3 (extend lead chain to change)"
    return t.where(F.col("h2").isNotNull()).select(
        id_col, F.xxhash64("h0", "h1", "h2").alias("sh")
    )


def shingle_string_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    with_pos: bool = False,
) -> DataFrame:
    """(id, sh) rows — the n-gram word shingle as a *string* — plus the
    0-based shingle position when ``with_pos`` (the winnowing family
    needs positions; everyone else treats shingles as a set).

    Same lead-window shape as :func:`shingle_hash_rows` (whole-stage
    codegen, one shuffle on the id, no higher-order lambdas), but the
    shingle identity is the literal ``"w1 w2 w3"`` text. That makes the
    result portable across engines (DuckDB can rebuild the identical
    shingles from ``string_split``), which is what lets the exact
    set-similarity queries be oracle-checked; the hashed variant stays
    the scale path when 8-byte identities are preferred over strings.
    ONE definition of shingle identity serves the whole dedup family —
    a second hand-rolled copy could drift and silently desynchronize
    an oracle.
    """
    assert n == 3, "shingle width fixed at 3 (extend the zip to change)"
    toks = tokens(text_col)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    # arrays_zip of three shifted slices = the shingle triples, all
    # plain codegen expressions (no higher-order lambdas, no window,
    # NO shuffle — measured 4x faster than the lead-window variant,
    # which shuffled every token row onto its doc id)
    z = F.arrays_zip(
        F.slice(toks, 1, m), F.slice(toks, 2, m), F.slice(toks, 3, m)
    )
    sh = F.concat_ws(" ", "t.0", "t.1", "t.2").alias("sh")
    if with_pos:
        return docs.select(
            F.col(id_col),
            m.cast("bigint").alias("n_shingles"),
            F.posexplode(z).alias("pos", "t"),
        ).select(id_col, "n_shingles", "pos", sh)
    return docs.select(F.col(id_col), F.explode(z).alias("t")).select(
        id_col, sh
    )


def exact_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    strategy: str = "prefix",
    max_df: int = 1000,
) -> DataFrame:
    """EXACT set-similarity self-join: all pairs with 3-gram-shingle
    Jaccard >= ``threshold`` — no LSH, no recall loss. Two strategies,
    identical results:

    strategy="prefix" (default — the 100 TB shape): AllPairs/PPJoin
    prefix filtering (Bayardo et al. WWW'07; Xiao et al. WWW'08).
    Order every document's shingles by global document-frequency
    ascending (rarest first); any pair with Jaccard >= t MUST share a
    shingle within the first ``|A| - ceil(t*|A|) + 1`` of each side
    (pigeonhole on the common order), so the candidate join runs
    prefix-to-prefix — hot stop-shingles sort last, fall out of every
    prefix, and never join. Verification joins each candidate pair to
    the two (grouped, bounded-by-doc-length) shingle sets and computes
    the intersection with codegen'd array_intersect — per-pair O(|A| +
    |B|) with no row blow-up (the row-level verify join measured 4x
    slower at sf0.1 by exploding candidates x shingles).

    strategy="direct": one self-join of the shingle inverted index
    grouped to intersection counts. Fewer stages and ~2x faster when
    document frequencies are benign (it processes sum(df^2) rows), but
    a single hot shingle with df=10^5 contributes 10^10 join rows —
    use only on deduped/curated corpora. The hazard is GUARDED
    mechanically: a document-frequency prepass (one aggregation over
    the already-checkpointed shingle frame, reused downstream) raises
    ValueError when any shingle's df exceeds ``max_df`` (default
    1000 -> <= 5x10^5 join rows per shingle) instead of launching a
    quadratic join — the direct strategy is the ONLY declared operator
    that runs a Spark job at construction time, exactly because
    failing before the join is the point. Raise ``max_df`` only with a
    deliberate row-budget; the prefix strategy needs no cap (hot
    shingles fall out of every prefix by construction).

    Returns (id_a, id_b, inter, uni, jaccard) with jaccard the plain
    IEEE division inter/uni — bit-identical across engines, so no
    rounding is needed for oracle comparison.
    """
    # The shingle table feeds every later stage; without a lineage cut
    # Spark re-runs the scan+explode pipeline per consumer branch
    # (measured 16.7s -> 11.2s at sf0.1 from this one change).
    # localCheckpoint materializes it once on the executors; on a
    # cluster-with-failures deployment prefer reliable checkpoint/
    # persist(DISK) at the same point. eager=False so merely
    # CONSTRUCTING the DataFrame (registry enumeration, schema
    # analysis) runs no Spark job — materialization happens at the
    # first action on the result.
    sh = (
        shingle_string_rows(docs, id_col, text_col)
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))

    if strategy == "direct":
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .orderBy(F.col("df").desc())
            .limit(1)
            .collect()
        )
        if hot:
            raise ValueError(
                f"exact_jaccard_pairs(strategy='direct'): hot shingle "
                f"{hot[0]['sh']!r} has document frequency {hot[0]['df']} > "
                f"max_df={max_df}; the inverted-index self-join would "
                f"process ~df^2/2 rows for that shingle alone. Use "
                f"strategy='prefix' (hot shingles fall out of every "
                f"prefix), or raise max_df with a deliberate row budget"
            )
        inter = (
            sh.select(F.col(id_col).alias("id_a"), "sh")
            .join(sh.select(F.col(id_col).alias("id_b"), "sh"), "sh")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        # one window partitioning delivers both the rarity rank and the
        # set size (count over the unordered frame) — no sizes join here
        w = Window.partitionBy(id_col)
        ranked = sh.join(dfreq, "sh").select(
            id_col,
            "sh",
            F.count(F.lit(1)).over(w).alias("sz"),
            F.row_number().over(w.orderBy("df", "sh")).alias("pos"),
        )
        prefix_len = F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)) + 1
        prefix = ranked.where(F.col("pos") <= prefix_len).select(
            id_col, "sh", "sz", "pos"
        )
        # PPJoin positional filter (lossless): jaccard >= t needs
        # overlap >= ceil(t/(1+t) * (|A|+|B|)); a matching prefix token
        # at positions (i, j) bounds the achievable overlap by
        # 1 + min(|A|-i, |B|-j). A qualifying pair always survives via
        # its FIRST common prefix token (loosest bound), so filtering
        # per join row before the pair-dedup drops only pairs that
        # cannot qualify — measured 409k -> 125k candidates at sf0.1,
        # all in codegen arithmetic before any set is materialized.
        min_overlap = F.ceil(
            (F.col("sz_a") + F.col("sz_b")) * F.lit(threshold / (1.0 + threshold))
        )
        overlap_ub = F.lit(1) + F.least(
            F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
        )
        cand = (
            prefix.select(
                F.col(id_col).alias("id_a"), "sh",
                F.col("sz").alias("sz_a"), F.col("pos").alias("pos_a"),
            )
            .join(
                prefix.select(
                    F.col(id_col).alias("id_b"), "sh",
                    F.col("sz").alias("sz_b"), F.col("pos").alias("pos_b"),
                ),
                "sh",
            )
            .where((F.col("id_a") < F.col("id_b")) & (overlap_ub >= min_overlap))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        sets = sh.groupBy(id_col).agg(F.collect_set("sh").alias("shs"))
        set_a = sets.select(
            F.col(id_col).alias("id_a"), F.col("shs").alias("shs_a")
        )
        set_b = sets.select(
            F.col(id_col).alias("id_b"), F.col("shs").alias("shs_b")
        )
        inter = (
            cand.join(set_a, "id_a")
            .join(set_b, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("shs_a", "shs_b"))
                .cast("bigint")
                .alias("inter"),
            )
        )
    # The late sizes joins are ALSO an optimizer barrier: because sz_a/
    # sz_b arrive after the verify projection, the jaccard filter cannot
    # be pushed into the verify join condition. Folding size(shs) into
    # the sets frames (measured) lets Catalyst collapse filter+project
    # into the join and re-evaluate array_intersect 2-3x per CANDIDATE
    # pair: 5.5 s -> 8.2 s warm at sf0.1. Keep the barrier.
    uni = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "inter",
            uni.cast("bigint").alias("uni"),
            (F.col("inter") / uni).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh_set: array<bigint>) — the distinct-shingle set per doc,
    for exact Jaccard verification of candidate pairs."""
    return shingle_hash_rows(docs, id_col, text_col).groupBy(id_col).agg(
        F.collect_set("sh").alias("sh_set")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """(id, sig: array<bigint>) — MinHash signature per document.

    hash_i(S) = min over shingles s of g_i(s), with the textbook
    universal-hash permutation family g_i(s) = (a_i * x(s) + b_i)
    mod p over ONE md5-derived base value x(s) — the construction used
    by every practical MinHash implementation (datasketch, Spark
    MLlib's MinHashLSH). p = 2^31 - 1 (Mersenne prime), x = the
    leading 60 bits of md5(s) reduced mod p, and (a_i, b_i) are fixed
    seeded constants, so each slot applies a genuinely different
    pseudo-permutation. (A cheaper Kirsch-Mitzenmacher g_i = h1 + i*h2
    was tried and is WRONG here: the argmin under h1 + i*h2 walks the
    lower convex hull of the (h1, h2) point set, so all 16 slots share
    a handful of candidate minimizers and their agreements correlate
    catastrophically — measured per-pair agreement of 0.06 and 0.94 on
    pairs with true J ~ 0.55.) Duplicate shingles need no dedup (min
    is idempotent), and all num_hashes min aggregations get map-side
    partial combine in one pass.

    Why this shape: md5 is the one strong hash Spark and DuckDB
    produce byte-identically, which makes the whole probabilistic LSH
    pipeline (q30) exactly reproducible in ANSI SQL and value-checkable
    against the DuckDB oracle. The permutation family costs one md5
    per shingle row instead of the sixteen the first oracle-exact
    formulation paid (measured 10.5 s -> ~4 s cold at sf0.1): each
    remaining slot is three codegen'd integer ops, and the agg state
    shrinks from 16 x 32 B hex strings to 16 x 8 B longs — less map
    CPU AND a narrower partial-agg payload. a_i, x < p < 2^31 keeps
    a_i * x + b_i < 2^62: no 64-bit overflow on either engine. The
    string shingle path (arrays_zip, no shuffle, no window) replaces
    the lead-window hashed path for the same portability reason — and
    is the faster of the two (see shingle_string_rows).
    """
    sh = shingle_string_rows(docs, id_col, text_col)
    x = (
        F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("bigint")
        % MINHASH_PRIME
    )
    hashed = sh.select(id_col, x.alias("__x"))
    mins = [
        F.min((a * F.col("__x") + b) % MINHASH_PRIME).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return (
        hashed.groupBy(id_col)
        .agg(*mins)
        .select(
            id_col,
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )


def cap_lsh_buckets(
    banded: DataFrame, cap: int, keys: tuple[str, str] = ("band", "bucket")
) -> DataFrame:
    """Drop LSH buckets holding more than ``cap`` members.

    The guard against degenerate bands going quadratic: a bucket of k
    members emits k^2/2 candidate pairs, so one pathological bucket
    (near-empty docs sharing a constant band, adversarial near-equal
    corpora) can dominate the whole join. Members of oversized buckets
    usually still pair through their other, more selective bands; truly
    identical documents are the exact-dedup pass's job (q29), not
    LSH's. The size join keys on the same (band, bucket) columns as the
    candidate join, so it reuses that shuffle partitioning.
    """
    sizes = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bsz"))
    return (
        banded.join(sizes, list(keys))
        .where(F.col("__bsz") <= cap)
        .drop("__bsz")
    )


def bands_from_signatures(
    sig: DataFrame, id_col: str = "doc_id", bands: int = BANDS
) -> DataFrame:
    """Band an EXISTING (id, sig) signature frame -> (id, sig, band,
    bucket) at any band count dividing the signature length, without
    re-shingling documents. Bucket = md5 of the band's '|'-joined
    min-hash values, identical expression whatever the band count, so
    re-banded signatures are row-identical to ones built from scratch
    at the new geometry."""
    if NUM_HASHES % bands:
        raise ValueError(
            f"bands={bands} must divide the {NUM_HASHES}-hash signature"
        )
    rows = NUM_HASHES // bands
    return sig.select(
        id_col,
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice(
                                    F.col("sig"),
                                    b * rows + 1,
                                    rows,
                                ),
                                lambda h: h.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "sig", "bb.band", "bb.bucket")


def minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = BANDS,
) -> DataFrame:
    """(id, sig, band, bucket) — the banded-LSH frame: one row per
    (document, band), bucket = md5 of the band's '|'-joined min-hash
    values (decimal-rendered) — a portable 32-char hex identity (the
    DuckDB oracle rebuilds it verbatim) at a fixed 32 B/row shuffle
    payload. This is also the SIGNATURE-STORE row format
    (operators/dedup_store.py): persisting it lets a new shard dedup
    against an existing corpus without recomputing corpus signatures.
    ``bands`` (r12) picks the geometry — more/narrower bands catch
    lower-Jaccard pairs (J* ~ (1/b)^(1/r)); any divisor of
    NUM_HASHES is legal and `bands_from_signatures` re-bands a
    persisted store without re-shingling."""
    sig = minhash_signatures(docs, id_col, text_col)
    return bands_from_signatures(sig, id_col, bands)


def signature_jaccard(
    sig_a: F.Column, sig_b: F.Column, num_hashes: int = NUM_HASHES
) -> F.Column:
    """Estimated Jaccard = fraction of agreeing signature slots.

    Unrolled as ``num_hashes`` element_at equality terms instead of a
    zip_with/filter lambda pair: higher-order-function lambdas run
    INTERPRETED per row (the engine-wide ban on per-token HOF work),
    while the unrolled sum stays inside whole-stage codegen."""
    agree = None
    for i in range(1, num_hashes + 1):
        term = (F.element_at(sig_a, i) == F.element_at(sig_b, i)).cast("int")
        agree = term if agree is None else agree + term
    return F.round(agree / F.lit(num_hashes), 4)


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 256,
) -> DataFrame:
    """LSH candidate pairs (id_a, id_b, jaccard_sig).

    Signatures are banded (4 bands x 4 hashes); a pair becomes a
    candidate iff some band hashes identically. The bucket equi-join
    keeps the shuffle O(rows x bands) instead of the O(rows^2)
    cartesian pairing, which is the entire point at scale; buckets
    above ``max_bucket`` members are dropped (see cap_lsh_buckets).
    """
    bands = minhash_bands(docs, id_col, text_col)
    # Materialize the signature pipeline once: without the checkpoint
    # the md5-per-shingle scan + 16-way min groupBy recomputes for BOTH
    # sides of the bucket-size join AND both sides of the candidate
    # self-join (4x the dominant cost, and the source of the bench's
    # run-to-run spread); the second checkpoint pins the capped frame
    # so the self-join reads a materialized RDD on each side. Same
    # lineage-cut pattern as exact_jaccard_pairs above.
    bands = bands.localCheckpoint(eager=False)
    bands = cap_lsh_buckets(bands, max_bucket).localCheckpoint(eager=False)

    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", "bucket"
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", "bucket"
    )
    # score BEFORE the pair dedupe: the agreement is identical on every
    # band's copy of a pair, and computing it first narrows the
    # dropDuplicates exchange from two 16-long signature arrays
    # (~256 B/row) to one 8 B double per row
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            signature_jaccard(F.col("sig_a"), F.col("sig_b")).alias(
                "jaccard_sig"
            ),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """(id, bits: array<int> of 0/1) — SimHash fingerprint per document.

    Token multiset bit-voting with lane packing: explode tokens, one
    codegen'd md5 per token, then the 64 per-bit counters are packed
    4-per-long into 16-bit lanes, so the aggregation carries 16 longs +
    a count instead of 64 sum buffers. Measured ~1.6x faster than 64
    separate sum(CASE WHEN ...) aggregates (which fall out of
    whole-stage codegen) and — the part that matters at 100 TB — the
    per-doc shuffle payload drops from 512 B to 136 B. One shuffle on
    the doc id, map-side partial combine as usual.

    Bit j of a token's hash is bit (j mod 4) of hex nibble (j div 4) of
    md5(token) — conv(substr(hex,1+j/4,1),16,10) is plain codegen
    arithmetic, and DuckDB reproduces the identical bit with
    strpos('0123456789abcdef', ...)-1, which is what makes q31
    value-checkable against the SQL oracle (md5's bits are as uniform
    as any 64-bit hash, so fingerprint quality is unchanged).

    votes_j = 2*count_of_set_bit_j - n_tokens, so only set-bit counts
    are accumulated. 16-bit lanes bound the supported document length
    at 65,535 tokens (a lane holds at most n_tokens); beyond that,
    pre-truncate or shard the document before fingerprinting.
    """
    assert bits == 64, "lane packing fixed at 64 bits / 16 longs"
    lanes_per_long = 4  # 4 x 16-bit lanes per 64-bit accumulator
    n_groups = bits // lanes_per_long
    tok = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).select(id_col, F.md5("tok").alias("hx"))
    groups = []
    for g in range(n_groups):
        # hex nibble g holds bits 4g..4g+3; one conv, four lane terms
        nib = F.conv(F.substring("hx", g + 1, 1), 16, 10).cast("long")
        expr = None
        for k in range(lanes_per_long):
            bit = F.shiftright(nib, k).bitwiseAND(F.lit(1))
            term = F.shiftleft(bit, k * 16)
            expr = term if expr is None else expr + term
        groups.append(F.sum(expr).alias(f"g{g}"))
    agg = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"), *groups)
    bit_cols = []
    for g in range(n_groups):
        for k in range(lanes_per_long):
            cnt = F.shiftright(F.col(f"g{g}"), k * 16).bitwiseAND(F.lit(0xFFFF))
            bit_cols.append(
                F.when(cnt * 2 > F.col("n_tok"), F.lit(1)).otherwise(F.lit(0))
            )
    return agg.select(id_col, F.array(*bit_cols).alias("bits"))


def auto_band_bits(
    n_docs: int, fp_bits: int = 64, margin_bits: int = 4
) -> int:
    """Corpus-size-derived SimHash band width (r12 verdict item 4).

    A random (non-near-dup) pair collides in one b-bit band w.p.
    2^-b, so the ACCIDENTAL candidate count is ~ bands * n^2 / 2^b —
    the n^2/2^bits term behind the measured 1.24 shuffle exponent of
    fixed 16-bit bands (SCALING.md, scale-curve r11). Requiring
    2^b >= n * 2^margin caps it at bands * n / 2^margin = O(n) BY
    CONSTRUCTION. The ladder keeps b a divisor of the 64-bit
    fingerprint: b=16 (4 bands, hamming<=3 guaranteed caught) up to
    n=4096; b=32 (2 bands, hamming<=1) up to n=2^28; b=64 past that —
    at which point the honest mitigation is widening the FINGERPRINT
    (Manku et al., WWW'07 sizes simhash tables to corpus for exactly
    this reason), which `fp_bits` parameterizes. Narrower hamming
    tolerance at wider bands is the deliberate tradeoff: at large n
    the accidental collisions would otherwise swamp precision long
    before recall matters. Integer thresholds (n <= 2^(b-margin)),
    no float log — the DuckDB oracle replays the CASE exactly."""
    need = max(1, n_docs) << margin_bits
    b = 16
    while b < fp_bits and (1 << b) < need:
        b *= 2
    return min(b, fp_bits)


def simhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidate pairs (id_a, id_b): docs sharing
    any band of the 64-bit fingerprint. ``band_bits=None`` derives
    the width from a corpus-count prepass (`auto_band_bits`) so the
    accidental-collision shuffle term stays O(n) at any corpus size;
    pass an explicit width to pin semantics (q31's oracle replays the
    same count-based CASE, so auto stays oracle-exact). The bucket is
    the band's ','-joined bits — a portable string identity the
    DuckDB oracle rebuilds with string_agg, collision-free by
    construction (unlike a rehash). One localCheckpoint pins the
    token-vote fingerprint aggregation so the self-join's two sides
    read a materialized frame instead of recomputing the scan."""
    fp = simhash_fingerprints(docs, id_col, text_col)
    if band_bits is None:
        band_bits = auto_band_bits(docs.select(id_col).count())
    n_bands = 64 // band_bits
    banded = fp.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        ",", F.slice(F.col("bits"), b * band_bits + 1,
                                     band_bits)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    banded = banded.localCheckpoint(eager=False)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def substring_dup_stats(
    docs: DataFrame,
    window: int = 48,
    stride: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document exact substring-duplication scoring — the windowed
    form of the exact-substring signal from Lee et al., "Deduplicating
    Training Data Makes Language Models Better" (ACL'22): long
    verbatim spans shared across documents are what most inflates a
    language model's memorization, and Jaccard/MinHash (set overlap)
    does not see them when the surrounding text differs.

    Slides ``window``-char windows every ``stride`` chars, hashes each
    (md5 over the raw substring — substring semantics are identical
    1-based (pos, len) in Spark and ANSI SQL, so the whole operator is
    oracle-replayable), counts each window content's distinct-document
    frequency, and reports per doc:

        (id, n_windows, dup_windows, dup_frac)

    where dup_windows counts windows whose content occurs in at least
    one OTHER document (distinct-doc df >= 2 — in-document repetition
    alone does not count; that is q74's repetition filter). Documents
    shorter than ``window`` emit no row. ``dup_frac`` is the exact
    IEEE quotient of the two counts (bit-identical across engines).

    Scale shape (the Lee et al. map-reduce): one explode to window
    rows (codegen substring+md5, map-only), ONE shuffle on the window
    hash for the distinct-doc frequency (map-side combine on (h, id)),
    and a hash-equi join of window rows against the duplicated-hash
    set — never a doc-x-doc comparison. Window rows per doc =
    len/stride (~bounded fan-out), so the explode is linear in corpus
    bytes.
    """
    base = docs.where(F.length(text_col) >= window).select(id_col, text_col)
    wins = (
        base.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor(
                        (F.length(text_col) - F.lit(window))
                        / F.lit(stride)
                    ).cast("int"),
                )
            ).alias("_k"),
        )
        .select(
            id_col,
            F.md5(
                F.expr(
                    f"substring({text_col}, 1 + _k*{stride}, {window})"
                )
            ).alias("h"),
        )
        .localCheckpoint(eager=False)  # consumed by df-agg AND the join
    )
    dup_h = (
        wins.select("h", id_col)
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("h", F.lit(1).alias("_dup"))
    )
    return (
        wins.join(dup_h, "h", "left_outer")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
            .cast("bigint")
            .alias("dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "dup_windows",
            (
                F.col("dup_windows").cast("double")
                / F.col("n_windows").cast("double")
            ).alias("dup_frac"),
        )
    )


def segment_dedup_clean(
    docs: DataFrame,
    seg_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level segment deduplication WITH removal — the
    line-dedup stage of C4 (Raffel et al. 2020) and RefinedWeb
    (Penedo et al. 2023), adapted to segment granularity because the
    driver corpus carries no newlines: a "line" here is a run of
    ``seg_tokens`` consecutive normalized tokens (non-overlapping;
    the final partial run counts). Any segment content occurring in
    >= 2 DISTINCT documents (cross-document boilerplate, exactly the
    navigation/footer text line-dedup exists to strip) is removed
    from EVERY document, and the cleaned document is fingerprinted.

    q89 *scores* substring duplication; this operator performs the
    *removal* and proves the cleaned output, which is the part a
    training pipeline actually ships. Per-doc output:

        (id, n_segments, removed_segments, removed_tokens, kept_fp)

    kept_fp = md5 of the kept segments re-joined in original order
    (md5('') for a fully-boilerplate doc) — so the oracle adjudicates
    the reconstructed cleaned TEXT, not just counts.

    Scale shape: one map-only explode to segment rows (array slices in
    codegen, ~n_tokens/seg_tokens rows per doc), ONE shuffle on the
    16-byte segment hash for the distinct-doc frequency, a hash
    equi-join back, and a per-doc aggregation whose collect_list holds
    only the doc's own kept segments (bounded by the doc length — the
    same per-doc state any reconstruction needs).
    """
    from dataingestiontohana_spark.functions.text import tokens

    toks = tokens(F.col(text_col))
    nseg = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    # explode the INDEX sequence, then build each segment as a plain
    # projected slice+concat_ws — whole-stage codegen. (Building the
    # segment array with a transform() lambda runs interpreted
    # per-element: the measured ~2x tax this repo keeps re-finding.)
    seg = F.concat_ws(
        " ", F.slice(F.col("__toks"), F.col("i") * seg_tokens + 1, seg_tokens)
    )
    segs = (
        docs.select(
            F.col(id_col),
            toks.alias("__toks"),
            F.explode(F.sequence(F.lit(0), nseg - 1)).alias("i"),
        )
        .select(F.col(id_col), F.col("i"), seg.alias("seg"))
        .select(
            id_col,
            "i",
            "seg",
            F.md5("seg").alias("h"),
            F.size(F.split(F.col("seg"), " ")).alias("seg_toks"),
        )
        .localCheckpoint(eager=False)  # frequency agg AND the join-back
    )
    shared = (
        segs.select("h", id_col)
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("h", F.lit(1).alias("_shared"))
    )
    marked = segs.join(shared, "h", "left_outer").withColumn(
        "_shared", F.coalesce(F.col("_shared"), F.lit(0))
    )
    kept_struct = F.when(
        F.col("_shared") == 0, F.struct(F.col("i"), F.col("seg"))
    )  # NULL (dropped by collect_list) for removed segments
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum("_shared").cast("bigint").alias("removed_segments"),
            F.sum(F.col("_shared") * F.col("seg_toks"))
            .cast("bigint")
            .alias("removed_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["seg"],
                    ),
                    " ",
                )
            ).alias("kept_fp"),
        )
    )
