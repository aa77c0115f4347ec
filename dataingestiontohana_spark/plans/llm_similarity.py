"""Similarity search over the `embeddings` table (array<float> dim 64):
brute-force cosine top-k (exact baseline) and an LSH-bucketed
approximate variant (the scale path).

Scale design:
- Brute-force top-k against a single query vector is a *map-only* pass:
  the query vector is a literal folded into the projection, cosine is
  built-in (zip_with/aggregate), and top-k is a global sort-limit that
  Spark executes as per-partition top-k + merge on the driver — no full
  shuffle. This is the exact-oracle baseline.
- Many-query batch ANN uses random-hyperplane LSH (Charikar '02): each
  vector gets a b-bit signature; candidates share a signature bucket,
  so the join is equi on the bucket key instead of a cartesian product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataingestiontohana_spark.catalog import (
    clear_shared_frames,
    load_table,
    local_rows,
    shared_frame,
)
from dataingestiontohana_spark.functions.vector import cosine_similarity

DIM = 64


def q23a_label_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(F.count("*").alias("n")).orderBy("label")


def q23b_vec_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.where(F.size("embedding") == DIM)
        .select("vec_id")
        .orderBy("vec_id")
        .limit(10)
    )


def q33_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 against the vec_id=0 query vector.

    The query vector is collected once (1 row) and folded in as a
    literal array — the scan stays map-only, no join, no shuffle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    qrow = e.where(F.col("vec_id") == 0).select("embedding").head()
    if qrow is None:  # empty corpus / absent probe: empty result, not a crash
        return spark.createDataFrame([], "vec_id bigint, cos_sim double")
    qlit = F.array(*[F.lit(float(x)) for x in qrow[0]])
    return (
        e.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), qlit), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


def q34_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid similarity: mean vector per label, then each label's
    centroid-pair cosine — a grouped vector aggregation (array-typed
    agg via per-dimension avg, one shuffle on label)."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = [
        F.avg(F.element_at(F.col("embedding"), i + 1).cast("double")).alias(f"d{i}")
        for i in range(DIM)
    ]
    cents = (
        e.groupBy("label")
        .agg(*dims)
        .select("label", F.array(*[F.col(f"d{i}") for i in range(DIM)]).alias("c"))
    )
    a = cents.select(F.col("label").alias("label_a"), F.col("c").alias("ca"))
    b = cents.select(F.col("label").alias("label_b"), F.col("c").alias("cb"))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine_similarity(F.col("ca"), F.col("cb")), 4).alias("cos_sim"),
        )
        .orderBy("label_a", "label_b")
    )


def _hyperplanes(bits: int, seed: int) -> np.ndarray:
    """Deterministic +-1 hyperplane matrix (DIM x bits), derived from a
    seeded PCG64 stream — identical on every executor and run."""
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.choice([-1.0, 1.0], size=(DIM, bits))


def lsh_signatures(vecs: DataFrame, bits: int = 16, seed: int = 42) -> DataFrame:
    """Random-hyperplane LSH signatures (bits-length bit string).

    sign(V @ P) per vector; computed as one numpy matmul per Arrow
    batch in a pandas UDF — dense linear algebra is the one place the
    vectorized-Python path beats interpreted Catalyst lambdas (~20x
    here). The plane matrix is regenerated per executor from the seed
    (no broadcast needed at 64 x bits doubles).
    """

    @F.pandas_udf("string")
    def sig_udf(emb: pd.Series) -> pd.Series:
        planes = _hyperplanes(bits, seed)
        mat = np.stack(emb.apply(np.asarray, dtype=np.float64).values)
        bits_mat = (mat @ planes) > 0
        return pd.Series(
            ["".join("1" if b else "0" for b in row) for row in bits_mat]
        )

    return vecs.withColumn("lsh_sig", sig_udf(F.col("embedding")))


def cosine_pairs_udf():
    """Vectorized pairwise cosine for candidate verification: numpy per
    Arrow batch (the pair count after LSH bucketing is modest, but the
    interpreted zip_with/aggregate form still cost ~10s at sf0.1)."""

    @F.pandas_udf("double")
    def cos_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.apply(np.asarray, dtype=np.float64).values)
        B = np.stack(b.apply(np.asarray, dtype=np.float64).values)
        num = (A * B).sum(axis=1)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    return cos_udf


def q36b_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: top-10 near the vec_id=0 query via nprobe=4 of 16
    coarse clusters (rows-only; recall-vs-exact pinned by pytest)."""
    from dataingestiontohana_spark.operators.ivf import ivf_topk, sample_centroids

    e = load_table(spark, sf_dir, "embeddings")
    qrow = e.where(F.col("vec_id") == 0).head()
    if qrow is None:  # empty corpus / absent probe: empty result, not a crash
        return spark.createDataFrame(
            [], "vec_id bigint, cluster_id int, cos_sim double"
        )
    qvec = [float(x) for x in qrow["embedding"]]
    cents = sample_centroids(e, k=16)
    return ivf_topk(e.where(F.col("vec_id") != 0), qvec, cents, k=10, nprobe=4)


def q35_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate near-neighbor pairs: vectors sharing an 8-bit LSH
    band (2 bands of 8 bits), verified by exact cosine >= 0.35.

    Bucket equi-join replaces the O(n^2) cartesian product, and the
    bucket join + pair dedup move ONLY (id, bucket) rows — the 64-float
    embedding arrays are joined back per side after the pair set is
    deduplicated, so the widest shuffle carries ids, not payloads.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sig = lsh_signatures(e).select("vec_id", "lsh_sig")
    banded = sig.select(
        "vec_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.substring("lsh_sig", 1, 8).alias("bucket")),
                F.struct(F.lit(1).alias("band"), F.substring("lsh_sig", 9, 8).alias("bucket")),
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bucket")
    from dataingestiontohana_spark.operators.dedup import cap_lsh_buckets

    # materialize the pandas-UDF signature pass once: the bucket-size
    # join and the candidate self-join would otherwise recompute it up
    # to 4x (the q30/q31 band-frame pattern)
    banded = banded.localCheckpoint(eager=False)
    banded = cap_lsh_buckets(banded, cap=256).localCheckpoint(eager=False)
    a = banded.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("vec_id").alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    emb_a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    emb_b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos_udf = cosine_pairs_udf()
    return (
        pairs.join(emb_a, "id_a")
        .join(emb_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cos_udf(F.col("va"), F.col("vb")), 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.35)
        .orderBy("id_a", "id_b")
    )


# broadcast budget for the probe shard, mirroring the role of Spark's
# own broadcast-join build-side limit: ~0.5 KB/row (64 x float64 + id)
# -> ~1M probe rows. Probes beyond the budget should use
# embed_neardup_cogrouped (no driver materialization at any size).
_PROBE_BROADCAST_BYTES = 512 << 20


def embed_neardup_broadcast(
    corpus: DataFrame, probes: DataFrame, tau: float
) -> DataFrame:
    """Probe-vs-corpus exact-cosine scoring, broadcast formulation:
    the probe shard transits the driver ONCE into a torrent broadcast
    (`sparkContext.broadcast` — the identical mechanics to the build
    side of Spark's own BroadcastHashJoin), and each Arrow batch of
    corpus vectors does ONE B x 64 @ 64 x P matmul against
    ``bc.value``. The corpus streams through map-only: no join, no
    shuffle, no per-pair Python, and — unlike shipping the matrix in
    the task closure — the probe matrix crosses the network once per
    EXECUTOR, not once per task (at 100k corpus tasks that is the
    difference between 16 MB and 1.6 TB of closure traffic).

    Driver memory is bounded by a byte budget, not a row cap: a cheap
    count() prepass (columnar scan of the filter+id columns only)
    fails fast BEFORE any vector transfer when the shard exceeds the
    broadcast budget, exactly like a broadcast join that overflows
    its threshold."""
    spark = corpus.sparkSession
    probes = probes.select("vec_id", "embedding")
    n_probes = probes.count()
    est_bytes = n_probes * (8 + DIM * 8)
    if est_bytes > _PROBE_BROADCAST_BYTES:
        raise ValueError(
            f"probe shard ~{est_bytes >> 20} MB exceeds the "
            f"{_PROBE_BROADCAST_BYTES >> 20} MB broadcast budget; use "
            "embed_neardup_cogrouped (executor-side, unbounded) instead"
        )
    pdf = probes.toPandas()
    out_schema = "probe_id bigint, vec_id bigint, cos_sim double"
    if pdf.empty:
        return spark.createDataFrame([], out_schema)
    pids = pdf["vec_id"].to_numpy(dtype=np.int64)
    pmat = np.stack(pdf["embedding"].apply(np.asarray, dtype=np.float64).values)
    # retire the previous call's broadcast (non-blocking unpersist) so
    # repeated invocations in one long-lived session hold at most ONE
    # probe matrix per executor instead of accumulating them for the
    # application lifetime. The newest broadcast is registered, not
    # unpersisted, because the returned DataFrame is lazy — consumers
    # may run it later; keyed by the object, so each concurrent call
    # registers its own and clear_shared_frames retires it.
    clear_shared_frames("probe_broadcast")
    bc = spark.sparkContext.broadcast((pids, pmat))
    shared_frame(spark, "probe_broadcast", (id(bc),), lambda: bc)

    def score(batches):
        b_pids, b_pmat = bc.value
        pnorm = np.linalg.norm(b_pmat, axis=1)
        for cdf in batches:
            if cdf.empty:
                continue
            mat = np.stack(cdf["embedding"].apply(np.asarray, dtype=np.float64).values)
            sims = (mat @ b_pmat.T) / (
                np.linalg.norm(mat, axis=1)[:, None] * pnorm[None, :]
            )
            bi, pj = np.nonzero(sims >= tau)
            out = pd.DataFrame(
                {
                    "probe_id": b_pids[pj],
                    "vec_id": cdf["vec_id"].values[bi],
                    "cos_sim": sims[bi, pj],
                }
            )
            yield out[out.probe_id != out.vec_id]

    return corpus.select("vec_id", "embedding").mapInPandas(score, out_schema)


def embed_neardup_cogrouped(
    corpus: DataFrame,
    probes: DataFrame,
    tau: float,
    n_salts: int | None = None,
) -> DataFrame:
    """Probe-vs-corpus exact-cosine scoring with NO driver
    materialization at any probe size — the scale path past the
    broadcast budget. The corpus is salted into ``n_salts`` buckets
    (xxhash64 of the id), the probe shard is replicated to every salt
    (an executor-side explode — P x n_salts small rows through one
    shuffle), and a grouped cogroup matmul scores each corpus bucket
    against the full probe set. Costs one corpus shuffle (the price of
    dropping the broadcast); each task holds corpus/n_salts rows plus
    the probe matrix, so n_salts sizes task memory and defaults to the
    cluster parallelism."""
    spark = corpus.sparkSession
    if n_salts is None:
        n_salts = spark.sparkContext.defaultParallelism
    salted = corpus.select(
        F.pmod(F.xxhash64("vec_id"), F.lit(n_salts)).alias("salt"),
        "vec_id",
        "embedding",
    )
    repl = probes.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"),
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pemb"),
    ).withColumn("salt", F.col("salt").cast("bigint"))

    def score(cdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"probe_id": [], "vec_id": [], "cos_sim": []})
        if cdf.empty or pdf.empty:
            return empty
        mat = np.stack(cdf["embedding"].apply(np.asarray, dtype=np.float64).values)
        pmat = np.stack(pdf["pemb"].apply(np.asarray, dtype=np.float64).values)
        sims = (mat @ pmat.T) / (
            np.linalg.norm(mat, axis=1)[:, None]
            * np.linalg.norm(pmat, axis=1)[None, :]
        )
        bi, pj = np.nonzero(sims >= tau)
        out = pd.DataFrame(
            {
                "probe_id": pdf["probe_id"].values[pj],
                "vec_id": cdf["vec_id"].values[bi],
                "cos_sim": sims[bi, pj],
            }
        )
        return out[out.probe_id != out.vec_id]

    return (
        salted.groupBy("salt")
        .cogroup(repl.groupBy("salt"))
        .applyInPandas(score, "probe_id bigint, vec_id bigint, cos_sim double")
    )


def q73_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: an incoming probe
    batch (every vec_id divisible by 97 — standing in for 'the new
    shard to ingest') is checked against the FULL corpus by exact
    cosine; pairs with cos >= 0.32 are flagged as near-dups. This is
    the embedding-space member of the dedup family (exact / MinHash /
    SimHash / n-gram Jaccard / embedding-cosine).

    Scale design: `embed_neardup_broadcast` — probe matrix torrent-
    broadcast (once per executor), corpus streamed map-only through
    one matmul per Arrow batch. Byte-budgeted like a broadcast join,
    with `embed_neardup_cogrouped` (pytest-pinned equal) as the
    unbounded executor-side path past the budget.

    The 0.32 threshold sits in a measured empty band of the score
    distribution at every shipped SF (nearest scores: 0.3197 / 0.3200
    at sf0.1), so ulp-level float divergence between numpy's pairwise
    summation and the oracle's sequential fold cannot flip a pair in
    or out; the reported cos_sim is then rounded to 6 decimals on both
    sides (q33/q63 precedent) so the comparison is exact-stringable.
    """
    e = load_table(spark, sf_dir, "embeddings")
    scored = embed_neardup_broadcast(
        e, e.where(F.col("vec_id") % 97 == 0), tau=0.32
    )
    return scored.select(
        "probe_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("probe_id", "vec_id")


RP_DIMS, RP_SEED = 16, 1729


def q87_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded random-projection dimensionality reduction (the
    Johnson-Lindenstrauss transform with a +-1 Achlioptas matrix):
    64-dim embeddings -> 16 dims, p_j = (sum_i +-e_i) / sqrt(16).
    The standard pre-ANN compression step — distances are preserved
    within JL bounds at a quarter of the bytes.

    Scale shape: ONE numpy matmul per Arrow batch (the q35/lsh pattern
    — a 64x16 +-1 matrix regenerated from the seed per executor),
    map-only, no shuffle except the output explode's intrinsic row
    growth. A first cut unrolled 16 codegen +-sum chains instead;
    Catalyst fell out of whole-stage codegen on the 1024-leaf
    expression tree and interpreted it ~5x slower — dense linear
    algebra belongs in the vectorized-Python path. The oracle rebuilds
    the chains as literal sign coefficients; numpy's pairwise
    summation and SQL's sequential fold differ by ~1e-13, far inside
    the 6-decimal rounding (verified hash-equal at every shipped SF).
    """
    e = load_table(spark, sf_dir, "embeddings")
    scale = 1.0 / float(np.sqrt(RP_DIMS))

    @F.pandas_udf("array<double>")
    def project(emb: pd.Series) -> pd.Series:
        planes = _hyperplanes(RP_DIMS, RP_SEED)
        mat = np.stack(emb.apply(np.asarray, dtype=np.float64).values)
        proj = np.round(mat @ planes * scale, 6)
        return pd.Series(list(proj))

    return (
        e.select("vec_id", project(F.col("embedding")).alias("pv"))
        .select("vec_id", F.posexplode("pv").alias("dim", "p"))
        .orderBy("vec_id", "dim")
    )


def _q87_oracle_sql() -> str:
    planes = _hyperplanes(RP_DIMS, RP_SEED)
    scale = 1.0 / float(np.sqrt(RP_DIMS))
    cols = []
    for j in range(RP_DIMS):
        chain = "".join(
            ("+" if planes[i, j] > 0 else "-") + f"v[{i + 1}]"
            for i in range(DIM)
        )
        cols.append(
            f"SELECT vec_id, {j} AS dim, ROUND(({chain}) * {scale!r}, 6) AS p"
            " FROM v"
        )
    union = "\n          UNION ALL\n          ".join(cols)
    return f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)
        {union}
        ORDER BY vec_id, dim
    """


KMEANS_K, KMEANS_ITERS = 8, 2


def q83_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd's algorithm), k=8, 2 iterations —
    the iterative-algorithm member of the embedding family, fully
    value-checked by a DuckDB oracle that replays both iterations.

    Per iteration: (1) ASSIGN — argmax-cosine against the current
    centroids via the IVF map-only Arrow matmul (`assign_clusters`,
    numpy-first-max = lowest-cid tiebreak); (2) UPDATE — posexplode to
    (cluster, dim, val) and average (one shuffle keyed (cluster, dim)
    carrying scalar partial sums — embedding arrays never enter the
    exchange, the q63 shape), then ROUND each component to 6 decimals.
    The rounding is load-bearing: it re-grids the centroids so the two
    engines' aggregation-order float drift (last-ulp) cannot compound
    across iterations — both sides enter the next assign with
    bit-identical centroid literals. k x 64 rounded components come to
    the driver per iteration (the Spark MLlib KMeans shape: centers
    are driver state, assignment is distributed).

    Output: per cluster, the final member count and the integer-
    quantized centroid norm sum_d round(c_d*1e6)^2 — exact integer
    surface, no float hashing. Init = the k smallest Knuth-hash ids
    (the q36b centroid pick). Empty clusters fail fast (none occur on
    the shipped data; production k-means would re-seed them)."""
    from dataingestiontohana_spark.operators.ivf import (
        assign_clusters,
        sample_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    if e.isEmpty():  # no corpus: nothing to cluster (vs. the fail-fast
        # below, which guards SOME-but-empty clusters mid-iteration)
        return spark.createDataFrame(
            [], "cluster_id int, n bigint, cnorm_q bigint"
        )
    cents = sample_centroids(e, k=KMEANS_K)
    for _ in range(KMEANS_ITERS):
        assigned = assign_clusters(e, cents)
        upd = (
            assigned.select(
                "cluster_id", F.posexplode("embedding").alias("dim", "val")
            )
            .groupBy("cluster_id", "dim")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("c"))
            .collect()
        )
        seen = {r["cluster_id"] for r in upd}
        if seen != set(range(KMEANS_K)):
            raise ValueError(f"empty k-means cluster(s): {set(range(KMEANS_K)) - seen}")
        cents = np.zeros((KMEANS_K, DIM))
        for r in upd:
            cents[r["cluster_id"], r["dim"]] = r["c"]
    counts = (
        assign_clusters(e, cents)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norms = local_rows(
        spark,
        [
            (cid, int(sum(int(round(c * 1e6)) ** 2 for c in cents[cid])))
            for cid in range(KMEANS_K)
        ],
        "cluster_id int, cnorm_q bigint",
    )
    return (
        counts.join(F.broadcast(norms), "cluster_id")
        .select("cluster_id", "n", "cnorm_q")
        .orderBy("cluster_id")
    )


def _q83_oracle_sql(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    """Both Lloyd iterations replayed in ANSI SQL: assign = argmax
    cosine with cid tiebreak (QUALIFY ROW_NUMBER, the q36b pattern),
    update = AVG per (cluster, dim) rounded to the same 6-decimal grid
    — so the engines enter each iteration with identical centroids and
    the final counts + integer-quantized norms match exactly."""
    pre = """
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
        e AS (SELECT vec_id, unnest(v) AS val,
                     unnest(range(0, 64)) AS dim FROM v),
        c0 AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid, v AS cv
          FROM (SELECT vec_id, v,
                       (vec_id * 2654435761) % 4294967296 AS h
                FROM n ORDER BY h, vec_id LIMIT {k}))
    """.format(k=k)
    steps = []
    prev = "c0"
    for it in range(1, iters + 1):
        steps.append(f"""
        a{it} AS (
          SELECT n.vec_id, c.cid
          FROM n CROSS JOIN {prev} c
          QUALIFY ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_dot_product(n.v, c.cv)
                       / (n.nrm * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                       c.cid) = 1),
        u{it} AS (
          SELECT a{it}.cid, e.dim, ROUND(AVG(e.val), 6) AS c
          FROM a{it} JOIN e ON a{it}.vec_id = e.vec_id
          GROUP BY a{it}.cid, e.dim),
        c{it} AS (
          SELECT cid, list(c ORDER BY dim) AS cv FROM u{it} GROUP BY cid)""")
        prev = f"c{it}"
    final = f"""
        afin AS (
          SELECT n.vec_id, c.cid
          FROM n CROSS JOIN {prev} c
          QUALIFY ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_dot_product(n.v, c.cv)
                       / (n.nrm * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                       c.cid) = 1),
        norms AS (
          SELECT cid,
                 SUM(CAST(ROUND(c * 1000000) AS BIGINT)
                     * CAST(ROUND(c * 1000000) AS BIGINT)) AS cnorm_q
          FROM u{iters} GROUP BY cid)
        SELECT a.cid AS cluster_id, COUNT(*) AS n,
               CAST(ANY_VALUE(norms.cnorm_q) AS BIGINT) AS cnorm_q
        FROM afin a JOIN norms ON a.cid = norms.cid
        GROUP BY a.cid
        ORDER BY cluster_id"""
    return pre + "," + ",".join(steps) + ",\n" + final


def q63_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding space (mean per dimension).

    posexplode -> (label, dim) aggregation: the shuffle carries partial
    (sum, count) pairs for labels x dims (a few hundred groups), never
    whole vectors — at 100 TB the map-side combine collapses each
    partition to <= |labels| x dim rows before the exchange. The same
    shape is the k-means update step (operators/ivf.py reuses it).
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "label", F.posexplode("embedding").alias("dim0", "valf")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("valf").cast("double").alias("val"),
    )
    return (
        v.groupBy("label", "dim")
        .agg(F.round(F.avg("val"), 6).alias("c"))
        .orderBy("label", "dim")
    )


def q64_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 least-typical vectors per label: lowest cosine to the label
    centroid — the embedding-space outlier filter used to prune
    mislabeled / noisy training rows.

    The centroid table (|labels| x dim rows) and its norms are
    broadcast; the per-vector dot/norm is one exploded-join aggregation
    keyed on vec_id. No shuffle ever carries an embedding array: the
    wide data stays columnar in the scan, the exchanges move scalar
    partial sums only.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim0", "valf")
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("valf").cast("double").alias("val"),
    )
    c = v.groupBy("label", "dim").agg(F.avg("val").alias("c"))
    cn = c.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"))
    d = (
        v.join(F.broadcast(c), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nv"),
        )
    )
    scored = d.join(F.broadcast(cn), "label").select(
        "label",
        "vec_id",
        F.round(F.col("dot") / (F.col("nv") * F.col("nc")), 6).alias("cos_c"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("label").orderBy(F.asc("cos_c"), F.asc("vec_id"))
    return (
        scored.select("label", "vec_id", "cos_c", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .select("label", "vec_id", "cos_c")
        .orderBy("label", "vec_id")
    )


def q67_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector component statistics via higher-order array functions
    (transform / filter / aggregate / exists), all JVM-side.

    This is the bounded-array case where higher-order built-ins are the
    right tool: 64 elements per row, no explode row-blowup, one map-only
    projection over the scan. (Contrast per-token TEXT work, where the
    interpreted-lambda penalty multiplies by unbounded token counts —
    see operators/dedup.py.) 10 highest-norm vectors.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    n_pos = F.size(F.filter(v, lambda x: x > 0))
    has_big = F.exists(v, lambda x: F.abs(x) > 0.45).cast("int")
    frac_small = F.size(F.filter(v, lambda x: F.abs(x) < 0.1)) / F.size(v)
    return (
        e.select(
            "vec_id",
            F.round(norm, 6).alias("l2_norm"),
            n_pos.alias("n_pos"),
            has_big.alias("has_big"),
            F.round(frac_small, 6).alias("frac_small"),
        )
        .orderBy(F.desc("l2_norm"), "vec_id")
        .limit(10)
    )


def q36c_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF retrieval: every vec_id % 97 == 1 vector queries the
    corpus at once — one scan filtered to the union of probed
    clusters, one matmul per Arrow batch, per-query ranked top-8
    (`operators/ivf.py::ivf_topk_batch`). The oracle replays probe
    selection, assignment, and ranking per query in SQL."""
    from dataingestiontohana_spark.operators.ivf import (
        ivf_topk_batch,
        sample_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = sample_centroids(e, k=16)
    queries = e.where(F.col("vec_id") % 97 == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_batch(e, queries, cents, k=8, nprobe=4)


def semantic_dedup_pairs(
    vecs: DataFrame,
    k: int = 16,
    tau: float = 0.35,
    max_cluster: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space, then compare pairs ONLY within a
    cluster — the clustering bounds the quadratic the way LSH bands do
    for text, but on semantic geometry rather than lexical overlap.

    Returns (cluster_id, id_a, id_b, cos_sim, reject) for within-
    cluster pairs with cosine >= tau; ``reject`` is the greater id
    (keep-least canonical-survivor convention, matching the dedup
    family). Scale: assignment is the map-only Arrow matmul
    (`operators/ivf.py::assign_clusters`); the pair join shuffles
    (id, cluster_id) PAIRS only — embeddings join back per side after
    the pair set exists (the q35 slim-shuffle pattern); clusters
    larger than ``max_cluster`` are excluded from pairing (the LSH
    bucket-cap convention — at production scale pick k ~ N/1e4 so
    expected cluster size stays far below the cap)."""
    from dataingestiontohana_spark.operators.ivf import (
        assign_clusters,
        sample_centroids,
    )

    cents = sample_centroids(vecs, k=k)
    assigned = (
        assign_clusters(vecs, cents)
        .select("vec_id", "cluster_id", "embedding")
        .localCheckpoint(eager=False)  # sizes join + the grouped scorer
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__cs")
    )
    ok = (
        assigned.join(F.broadcast(sizes), "cluster_id")
        .where(F.col("__cs") <= max_cluster)
        .drop("__cs")
    )

    # One dense matmul per cluster (applyInPandas) — the actual
    # SemDeDup computation shape. The only exchange ships each
    # embedding ONCE to its cluster's task (linear in N); emitting
    # (id, cluster) pair rows and joining vectors back per side
    # (the q35 pattern) would instead shuffle O(sum c_i^2) pair rows,
    # which dominates as clusters grow. Raw cosines return from the
    # kernel; the engine-side F.round keeps the 4-decimal HALF_UP
    # semantics identical to every other similarity query (python
    # round() is half-even — rounding in the kernel would diverge
    # from the SQL oracle on boundary values).
    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                columns=["cluster_id", "id_a", "id_b", "cos_sim"]
            )
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(
            pdf["embedding"].apply(np.asarray, dtype=np.float64).values
        )
        # dot-then-divide (not normalize-then-dot): mirrors the
        # oracle's dot(a,b)/(|a||b|) structure so rounding margins
        # stay the measured ones
        nrm = np.linalg.norm(mat, axis=1)
        sims = (mat @ mat.T) / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(len(ids), k=1)
        return pd.DataFrame(
            {
                "cluster_id": pdf["cluster_id"].iloc[0],
                "id_a": ids[iu],
                "id_b": ids[ju],
                "cos_sim": sims[iu, ju],
            }
        )

    scored = ok.groupBy("cluster_id").applyInPandas(
        score, schema="cluster_id int, id_a long, id_b long, cos_sim double"
    )
    return (
        scored.select(
            "cluster_id",
            "id_a",
            "id_b",
            F.round("cos_sim", 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= tau)
        .withColumn("reject", F.col("id_b"))
    )


def q90_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: 16 deterministic clusters
    (the portable IVF centroid pick, oracle-replayable), within-cluster
    cosine >= 0.35 pairs with the keep-least reject convention."""
    e = load_table(spark, sf_dir, "embeddings")
    if e.isEmpty():  # no corpus: empty pair set, not a numpy crash
        return spark.createDataFrame(
            [],
            "cluster_id int, id_a bigint, id_b bigint, cos_sim double, "
            "reject bigint",
        )
    return semantic_dedup_pairs(e, k=16, tau=0.35).orderBy("id_a", "id_b")


QUERIES = {
    "q23a_label_counts": q23a_label_counts,
    "q23b_vec_dims": q23b_vec_dims,
    "q33_cosine_topk": q33_cosine_topk,
    "q34_knn_per_label": q34_knn_per_label,
    "q35_ann_lsh": q35_ann_lsh,
    "q36b_ivf_topk": q36b_ivf_topk,
    "q73_embed_neardup": q73_embed_neardup,
    "q63_label_centroids": q63_label_centroids,
    "q64_centroid_outliers": q64_centroid_outliers,
    "q67_vector_stats": q67_vector_stats,
    "q83_kmeans": q83_kmeans,
    "q87_random_projection": q87_random_projection,
    "q90_semantic_dedup": q90_semantic_dedup,
    "q36c_ivf_batch_topk": q36c_ivf_batch_topk,
}

# q33/q34 have exact float-arithmetic oracles in DuckDB (same double
# math, rounded). q35/q36b are deterministic too, so they get FULL
# value oracles: the seeded hyperplane matrix embeds as literal +-1
# sign coefficients (generated below — PCG64 runs at module import,
# identically everywhere), and the IVF centroid pick uses the same
# portable Knuth multiplicative hash as the q57 sampling splits.
# Float-divergence safety (measured at sf0.001/0.01/0.1): min
# |hyperplane projection| 1.8e-6, min IVF top-2 assignment gap 2.9e-5,
# min probe-cut gap 2.8e-3, min distance of any candidate cosine to a
# 4-decimal rounding boundary 8.7e-9 — all orders of magnitude above
# the ~1e-13 cross-engine summation-order divergence, so no sign,
# argmax, or rounding decision can flip between engines.
ORACLES = {
    "q23a_label_counts": """
        SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label ORDER BY label
    """,
    "q23b_vec_dims": """
        SELECT vec_id FROM embeddings WHERE len(embedding) = 64
        ORDER BY vec_id LIMIT 10
    """,
    "q73_embed_neardup": """
        WITH p AS (SELECT vec_id AS probe_id, embedding AS pv
                   FROM embeddings WHERE vec_id % 97 = 0),
        s AS (
          SELECT p.probe_id, e.vec_id,
                 list_sum(list_transform(list_zip(e.embedding, p.pv),
                          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(p.pv,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 AS cos_sim
          FROM embeddings e CROSS JOIN p
          WHERE e.vec_id != p.probe_id)
        SELECT probe_id, vec_id, ROUND(cos_sim, 6) AS cos_sim FROM s
        WHERE cos_sim >= 0.32 ORDER BY probe_id, vec_id
    """,
    "q33_cosine_topk": """
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        s AS (
          SELECT vec_id,
                 ROUND(
                   list_sum(list_transform(list_zip(embedding, qv),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
                 AS cos_sim
          FROM embeddings, q WHERE vec_id != 0)
        SELECT vec_id, cos_sim FROM s
        ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    "q67_vector_stats": """
        SELECT vec_id,
               ROUND(SQRT(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
                 AS l2_norm,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER)
                 AS n_pos,
               CAST(len(list_filter(embedding, x -> ABS(x) > 0.45)) > 0
                    AS INTEGER) AS has_big,
               ROUND(CAST(len(list_filter(embedding, x -> ABS(x) < 0.1))
                          AS DOUBLE) / len(embedding), 6) AS frac_small
        FROM embeddings
        ORDER BY l2_norm DESC, vec_id LIMIT 10
    """,
    "q63_label_centroids": """
        SELECT label, dim, ROUND(AVG(val), 6) AS c FROM (
            SELECT label,
                   CAST(unnest(embedding) AS DOUBLE) AS val,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings) v
        GROUP BY label, dim ORDER BY label, dim
    """,
    "q64_centroid_outliers": """
        WITH v AS (SELECT vec_id, label,
                          CAST(unnest(embedding) AS DOUBLE) AS val,
                          generate_subscripts(embedding, 1) AS dim
                   FROM embeddings),
        c AS (SELECT label, dim, AVG(val) AS c FROM v GROUP BY label, dim),
        cn AS (SELECT label, SQRT(SUM(c * c)) AS nc FROM c GROUP BY label),
        d AS (SELECT v.vec_id, v.label, SUM(v.val * c.c) AS dot,
                     SQRT(SUM(v.val * v.val)) AS nv
              FROM v JOIN c ON v.label = c.label AND v.dim = c.dim
              GROUP BY v.vec_id, v.label)
        SELECT label, vec_id, cos_c FROM (
            SELECT d.label, d.vec_id,
                   ROUND(d.dot / (d.nv * cn.nc), 6) AS cos_c,
                   ROW_NUMBER() OVER (PARTITION BY d.label
                       ORDER BY ROUND(d.dot / (d.nv * cn.nc), 6) ASC,
                                d.vec_id ASC) AS rn
            FROM d JOIN cn ON d.label = cn.label) t
        WHERE rn <= 5 ORDER BY label, vec_id
    """,
    "q34_knn_per_label": """
        WITH e AS (
          SELECT label, unnest(embedding) AS v,
                 unnest(range(1, 65)) AS dim
          FROM embeddings),
        c AS (
          SELECT label, dim, AVG(CAST(v AS DOUBLE)) AS m
          FROM e GROUP BY label, dim),
        cent AS (
          SELECT label, list(m ORDER BY dim) AS c FROM c GROUP BY label)
        SELECT a.label AS label_a, b.label AS label_b,
               ROUND(
                 list_sum(list_transform(list_zip(a.c, b.c), p -> p[1] * p[2]))
                 / (sqrt(list_sum(list_transform(a.c, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.c, x -> x * x)))), 4)
               AS cos_sim
        FROM cent a JOIN cent b ON a.label < b.label
        ORDER BY label_a, label_b
    """,
}


def _q35_oracle_sql(bits: int = 16, seed: int = 42) -> str:
    """The hyperplane-LSH pipeline re-derived in ANSI SQL: the seeded
    +-1 plane matrix is a deterministic function of (bits, seed), so it
    embeds as literal sign coefficients — each signature bit is the
    sign of a +-sum over the 64 components. The rest mirrors
    q35_ann_lsh stage by stage: band split, 256-cap on bucket size,
    bucket self-join, distinct pairs, exact-cosine verify at the same
    rounding and threshold."""
    planes = _hyperplanes(bits, seed)
    bit_exprs = []
    for j in range(bits):
        terms = "".join(
            ("+" if planes[i, j] > 0 else "-") + f"v[{i + 1}]"
            for i in range(DIM)
        )
        bit_exprs.append(f"(CASE WHEN ({terms}) > 0 THEN '1' ELSE '0' END)")
    sig = "\n || ".join(bit_exprs)
    return f"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        sig AS (SELECT vec_id, {sig} AS lsh_sig FROM v),
        banded AS (
          SELECT * FROM (
            SELECT vec_id, 0 AS band, substr(lsh_sig, 1, 8) AS bucket FROM sig
            UNION ALL
            SELECT vec_id, 1 AS band, substr(lsh_sig, 9, 8) AS bucket FROM sig)
          QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 256),
        pairs AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
        scored AS (
          SELECT id_a, id_b,
                 ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
                   AS cos_sim
          FROM pairs JOIN n a ON pairs.id_a = a.vec_id
                     JOIN n b ON pairs.id_b = b.vec_id)
        SELECT id_a, id_b, cos_sim FROM scored
        WHERE cos_sim >= 0.35 ORDER BY id_a, id_b
    """


def _q36b_oracle_sql(k: int = 16, nprobe: int = 4, topk: int = 10) -> str:
    """The IVF pipeline re-derived in ANSI SQL. Centroids = the k
    vectors with smallest Knuth multiplicative id-hash (exact integer
    arithmetic, identical in any engine); cluster_id = position in
    (hash, id) order; assignment = argmax cosine with lowest-index
    tiebreak (numpy argmax picks the first maximum); probe set = the
    nprobe centroids nearest the query; final exact top-k within the
    probed clusters at the same rounding and ordering."""
    return f"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
        cents AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid,
                 v AS cv, nrm AS cnrm
          FROM (SELECT vec_id, v, nrm,
                       (vec_id * 2654435761) % 4294967296 AS h
                FROM n ORDER BY h, vec_id LIMIT {k})),
        q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
        probes AS (
          SELECT cid FROM cents, q
          ORDER BY list_dot_product(cv, qv) / (cnrm * qnrm) DESC, cid
          LIMIT {nprobe}),
        assigned AS (
          SELECT n.vec_id, c.cid AS cluster_id
          FROM n CROSS JOIN cents c
          QUALIFY ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC,
                       c.cid) = 1)
        SELECT n.vec_id, a.cluster_id,
               ROUND(list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm), 4)
                 AS cos_sim
        FROM assigned a JOIN n ON a.vec_id = n.vec_id CROSS JOIN q
        WHERE a.cluster_id IN (SELECT cid FROM probes) AND n.vec_id != 0
        ORDER BY cos_sim DESC, n.vec_id LIMIT {topk}
    """


def _q90_oracle_sql(
    k: int = 16, tau: float = 0.35, max_cluster: int = 4096
) -> str:
    """SemDeDup replayed in SQL: the same portable centroid pick and
    argmax-cosine assignment as the q36b oracle, then within-cluster
    pairs (size-capped, like the Spark side) scored at the same
    4-decimal rounding."""
    return f"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
        cents AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid,
                 v AS cv, nrm AS cnrm
          FROM (SELECT vec_id, v, nrm,
                       (vec_id * 2654435761) % 4294967296 AS h
                FROM n ORDER BY h, vec_id LIMIT {k})),
        assigned AS (
          SELECT n.vec_id, c.cid AS cluster_id
          FROM n CROSS JOIN cents c
          QUALIFY ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC,
                       c.cid) = 1),
        sizes AS (
          SELECT cluster_id, COUNT(*) AS cs FROM assigned GROUP BY 1),
        ok AS (
          SELECT a.vec_id, a.cluster_id
          FROM assigned a JOIN sizes s USING (cluster_id)
          WHERE s.cs <= {max_cluster}),
        scored AS (
          SELECT a.cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
                 ROUND(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 4)
                   AS cos_sim
          FROM ok a
          JOIN ok b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          JOIN n na ON na.vec_id = a.vec_id
          JOIN n nb ON nb.vec_id = b.vec_id)
        SELECT cluster_id, id_a, id_b, cos_sim,
               id_b AS reject
        FROM scored WHERE cos_sim >= {tau}
        ORDER BY id_a, id_b
    """


ORACLES["q35_ann_lsh"] = _q35_oracle_sql()
ORACLES["q83_kmeans"] = _q83_oracle_sql()
ORACLES["q87_random_projection"] = _q87_oracle_sql()
ORACLES["q36b_ivf_topk"] = _q36b_oracle_sql()
ORACLES["q90_semantic_dedup"] = _q90_oracle_sql()


def _q36c_oracle_sql(k: int = 16, nprobe: int = 4, topk: int = 8) -> str:
    """Batched IVF replayed per query: probe pick = top-nprobe
    centroids by (cosine DESC, cid) per query (numpy's stable argsort
    on the Spark side), ranking = ROW_NUMBER over (rounded cosine
    DESC, vec_id) per query."""
    return f"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
        cents AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid,
                 v AS cv, nrm AS cnrm
          FROM (SELECT vec_id, v, nrm,
                       (vec_id * 2654435761) % 4294967296 AS h
                FROM n ORDER BY h, vec_id LIMIT {k})),
        qs AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm
               FROM n WHERE vec_id % 97 = 1),
        probes AS (
          SELECT query_id, cid FROM (
            SELECT q.query_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                     ORDER BY list_dot_product(c.cv, q.qv) / (c.cnrm * q.qnrm)
                       DESC, c.cid) AS pr
            FROM qs q CROSS JOIN cents c)
          WHERE pr <= {nprobe}),
        assigned AS (
          SELECT n.vec_id, c.cid AS cluster_id
          FROM n CROSS JOIN cents c
          QUALIFY ROW_NUMBER() OVER (PARTITION BY n.vec_id
              ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC,
                       c.cid) = 1),
        scored AS (
          SELECT q.query_id, n.vec_id,
                 ROUND(list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm), 4)
                   AS cos_sim
          FROM assigned a
          JOIN probes p ON a.cluster_id = p.cid
          JOIN qs q ON q.query_id = p.query_id
          JOIN n ON n.vec_id = a.vec_id)
        SELECT query_id, vec_id, cos_sim, CAST(rnk AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, vec_id) AS rnk
              FROM scored)
        WHERE rnk <= {topk}
        ORDER BY query_id, rnk
    """


ORACLES["q36c_ivf_batch_topk"] = _q36c_oracle_sql()


def q96_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (Jégou et al. 2011): top-10 near the
    vec_id=0 query by ADC over 8-subspace / 16-code PQ codes — the
    ~64x-compression companion to q36b's IVF pruning (see
    operators/pq.py for the FAISS IVF-PQ framing and the exact-int64
    portability contract that lets DuckDB replay codes, ADC sums and
    ranking byte-identically). Two-stage retrieval, the production
    IVFADC-R shape (Jégou et al. §V): the ADC scan shortlists 50
    candidates from codes alone, then ONLY those 50 are re-ranked by
    exact quantized L2 — measured recall@10 0.8 vs 0.3 for raw ADC
    ranking at sf0.1 (pytest gate). ``pq_dist`` and ``exact_dist``
    both ship per row so the approximation error itself is
    value-adjudicated."""
    from dataingestiontohana_spark.operators.pq import (
        pq_adc_scores,
        pq_codebook,
        pq_encode,
        quantize_embeddings,
    )

    e = load_table(spark, sf_dir, "embeddings")
    eq = quantize_embeddings(e).localCheckpoint(eager=False)
    qrow = eq.where(F.col("vec_id") == 0).head()
    if qrow is None:  # empty corpus / absent probe: empty result, not a crash
        return spark.createDataFrame(
            [], "vec_id bigint, pq_dist bigint, exact_dist bigint"
        )
    q_ev = [int(x) for x in qrow["ev"]]
    cb = pq_codebook(eq, k_codes=16)
    corpus = eq.where(F.col("vec_id") != 0)
    scored = pq_adc_scores(pq_encode(corpus, cb, m_sub=8), cb, q_ev, m_sub=8)
    # materialize the 50-row shortlist ONCE: it feeds both the
    # semi-join and the final join, and without the checkpoint the
    # corpus-wide encode+ADC scan would execute twice (TakeOrdered
    # subplans are not reliably exchange-reused)
    shortlist = (
        scored.orderBy("pq_dist", "vec_id")
        .limit(50)
        .localCheckpoint(eager=False)
    )
    qlit = F.array(*[F.lit(v).cast("bigint") for v in q_ev])
    # semi-join FIRST so the 64-dim exact distance is computed for the
    # 50 shortlisted vectors only — the whole point of the ADC
    # shortlist is that the corpus-wide pass touches codes, not floats
    survivors = corpus.join(
        F.broadcast(shortlist.select("vec_id")), "vec_id", "left_semi"
    )
    exact = survivors.select(
        "vec_id",
        F.aggregate(
            F.zip_with("ev", qlit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("exact_dist"),
    )
    return (
        shortlist.join(exact, "vec_id")
        .select("vec_id", "pq_dist", "exact_dist")
        .orderBy("exact_dist", "vec_id")
        .limit(10)
    )


QUERIES["q96_pq_topk"] = q96_pq_topk


def _q96_oracle_sql(
    k_codes: int = 16, m_sub: int = 8, sub: int = 8, topk: int = 10
) -> str:
    """The PQ pipeline replayed in ANSI SQL: same 1e-6 ROUND grid,
    same Knuth-sampled codebook, integer argmin codes (lowest-code
    ties), integer LUT sums — every number exact in both engines."""

    def sq_sum(a: str, b: str) -> str:
        return " + ".join(
            f"({a}[CAST(s.s*{sub}+{t+1} AS INT)] - {b}[CAST(s.s*{sub}+{t+1} AS INT)])"
            f" * ({a}[CAST(s.s*{sub}+{t+1} AS INT)] - {b}[CAST(s.s*{sub}+{t+1} AS INT)])"
            for t in range(sub)
        )

    return f"""
        WITH eq AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
                 AS ev
          FROM embeddings),
        cb AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS code, ev AS cv
          FROM (SELECT vec_id, ev,
                       (vec_id * 2654435761) % 4294967296 AS h
                FROM eq ORDER BY h, vec_id LIMIT {k_codes})),
        qv AS (SELECT ev AS q FROM eq WHERE vec_id = 0),
        corpus AS (SELECT vec_id, ev FROM eq WHERE vec_id <> 0),
        subd AS (
          SELECT c.vec_id, s.s, cb.code,
                 {sq_sum('c.ev', 'cb.cv')} AS d2
          FROM corpus c, range({m_sub}) s(s), cb),
        codes AS (
          SELECT vec_id, s, code FROM subd
          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, code) = 1),
        lut AS (
          SELECT s.s, cb.code, {sq_sum('cb.cv', 'qv.q')} AS d2q
          FROM cb, range({m_sub}) s(s), qv),
        pq AS (
          SELECT c.vec_id, SUM(l.d2q) AS pq_dist
          FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
          GROUP BY c.vec_id),
        ex AS (
          SELECT c.vec_id,
                 list_sum(list_transform(range(1, 65),
                   i -> (c.ev[CAST(i AS INT)] - qv.q[CAST(i AS INT)])
                      * (c.ev[CAST(i AS INT)] - qv.q[CAST(i AS INT)])))
                 AS exact_dist
          FROM corpus c, qv)
        ,shortlist AS (
          SELECT vec_id, pq_dist FROM pq
          ORDER BY pq_dist, vec_id LIMIT 50)
        SELECT s.vec_id,
               CAST(s.pq_dist AS BIGINT) AS pq_dist,
               CAST(ex.exact_dist AS BIGINT) AS exact_dist
        FROM shortlist s JOIN ex USING (vec_id)
        ORDER BY exact_dist, vec_id LIMIT {topk}
    """


ORACLES["q96_pq_topk"] = _q96_oracle_sql()


# Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy
# relevance-vs-redundancy selection. lambda = 0.7 carried as the
# integer pair (7, 3) so every score is exact int64:
# score = 7*rel - 3*max(sim to already-selected).
MMR_POOL = 12
MMR_SELECT = 5


def q116_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: the 5-of-12 MMR selection against the
    vec_id=0 query — the dedup-aware re-ranker that keeps a result
    list from filling up with near-duplicates of the best hit.

    All similarity arithmetic is EXACT int64 on the 1e-6 ROUND grid
    (the q96 convention): rel = integer dot(query, vec), pairwise
    pool sims likewise, and each greedy step maximizes the integer
    7*rel - 3*maxsim (ties -> smaller vec_id). The distributed work
    is the corpus relevance pass (one Arrow-batched int64 matmul,
    map-only) and the top-12 pool cut (TakeOrderedAndProject); the
    12-vector pool is DRIVER-TINY reduced state (the q108 argument),
    so the 5 selection rounds run as python integer arithmetic and
    the DuckDB oracle replays them as unrolled CTEs — selection
    order, scores and maxsims all value-compared.
    """
    import numpy as np
    import pandas as pd

    from dataingestiontohana_spark.operators.pq import quantize_embeddings

    e = load_table(spark, sf_dir, "embeddings")
    eq = quantize_embeddings(e).localCheckpoint(eager=False)
    qrow = eq.where(F.col("vec_id") == 0).select("ev").head()
    if qrow is None:  # empty corpus / absent probe: empty result, not a crash
        return spark.createDataFrame(
            [],
            "sel_order int, vec_id bigint, rel bigint, maxsim bigint, "
            "score bigint",
        )
    qv = [int(x) for x in qrow[0]]

    @F.pandas_udf("long")
    def dot_udf(ev: pd.Series) -> pd.Series:
        q = np.asarray(qv, dtype=np.int64)
        M = np.stack(ev.apply(lambda a: np.asarray(a, dtype=np.int64)).values)
        return pd.Series(M @ q)

    pool = (
        eq.where(F.col("vec_id") != 0)
        .select("vec_id", "ev", dot_udf(F.col("ev")).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_POOL)
    )
    rows = pool.collect()  # <= MMR_POOL rows: reduced state
    rel = {r["vec_id"]: int(r["rel"]) for r in rows}
    ev = {r["vec_id"]: [int(x) for x in r["ev"]] for r in rows}
    sim = {
        (a, b): sum(x * y for x, y in zip(ev[a], ev[b]))
        for a in ev
        for b in ev
        if a != b
    }
    selected: list[tuple[int, int, int, int, int]] = []
    chosen: list[int] = []
    for step in range(1, MMR_SELECT + 1):
        best = None
        for c in sorted(ev):
            if c in chosen:
                continue
            ms = max((sim[(c, s)] for s in chosen), default=0)
            score = 7 * rel[c] - 3 * ms
            key = (-score, c)
            if best is None or key < best[0]:
                best = (key, c, ms, score)
        _, c, ms, score = best
        chosen.append(c)
        selected.append((step, c, rel[c], ms, score))
    out = local_rows(
        spark,
        selected,
        "sel_order int, vec_id bigint, rel bigint, maxsim bigint,"
        " score bigint",
    )
    return out.orderBy("sel_order")


QUERIES["q116_mmr_diversify"] = q116_mmr_diversify


def _q116_oracle_sql() -> str:
    """The MMR greedy replayed in ANSI SQL: pool cut, integer
    pairwise sims, and each selection round as an ORDER BY ... LIMIT 1
    CTE over the not-yet-chosen candidates (same integer scores, same
    smaller-vec_id tie-break)."""
    dot = (
        "list_sum(list_transform(range(1, 65),"
        " i -> {a}[CAST(i AS INT)] * {b}[CAST(i AS INT)]))"
    )
    steps = []
    for k in range(2, MMR_SELECT + 1):
        prior = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, k)
        )
        steps.append(f"""
    s{k} AS (
      SELECT p.vec_id, p.rel, m.maxsim,
             7 * p.rel - 3 * m.maxsim AS score,
             {k} AS sel_order
      FROM pool p
      JOIN (SELECT va AS vec_id, MAX(sim) AS maxsim
            FROM sims WHERE vb IN ({prior}) GROUP BY va) m
        USING (vec_id)
      WHERE p.vec_id NOT IN ({prior})
      ORDER BY score DESC, p.vec_id LIMIT 1)""")
    union = " UNION ALL ".join(
        f"SELECT sel_order, vec_id, rel, maxsim, score FROM s{j}"
        for j in range(1, MMR_SELECT + 1)
    )
    return f"""
    WITH eq AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
             AS ev
      FROM embeddings),
    qv AS (SELECT ev AS q FROM eq WHERE vec_id = 0),
    rel AS (
      SELECT c.vec_id, c.ev,
             {dot.format(a='c.ev', b='qv.q')} AS rel
      FROM eq c, qv WHERE c.vec_id <> 0),
    pool AS (SELECT vec_id, ev, rel FROM rel
             ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}),
    sims AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             {dot.format(a='a.ev', b='b.ev')} AS sim
      FROM pool a, pool b WHERE a.vec_id <> b.vec_id),
    s1 AS (
      SELECT vec_id, rel, CAST(0 AS BIGINT) AS maxsim,
             7 * rel AS score, 1 AS sel_order
      FROM pool ORDER BY rel DESC, vec_id LIMIT 1),{','.join(steps)}
    SELECT CAST(sel_order AS INT) AS sel_order, vec_id,
           CAST(rel AS BIGINT) AS rel, CAST(maxsim AS BIGINT) AS maxsim,
           CAST(score AS BIGINT) AS score
    FROM ({union}) ORDER BY sel_order
    """


ORACLES["q116_mmr_diversify"] = _q116_oracle_sql()


def q160_feature_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed feature-correlation audit: the 30 most linearly
    coupled embedding-dimension pairs by Pearson r^2, computed from a
    ONE-PASS exact-integer Gram matrix — the redundancy check a
    feature platform runs before training (two near-duplicate
    dimensions mean wasted width and unstable attribution). This is
    the d x d half of PCA: the same pass that feeds covariance
    eigen-solves (operators/power_iteration.py proves the
    eigenvector step against numpy).

    Exactness: values quantize to the 1e-6 grid (int64, the q36b/q73
    convention); each Arrow batch emits its int64 partial Gram (a
    numpy matmul, exact — batch magnitudes peak ~1e16, inside 2^63),
    Spark reduces the (i, j) cells as DECIMAL(38,0), and the oracle
    rebuilds the identical sums via unnest + generate_subscripts.
    cov = n*Sxy - Sx*Sy and var are exact integers; r^2 =
    cov^2/(varx*vary) evaluates on doubles CAST from those integers
    with one fixed multiply/divide shape — but the cast of >2^53
    integers is where DuckDB's HUGEINT->DOUBLE composition diverges
    from Spark's Decimal->double in the last ulp (the q156 finding),
    so r2 and r round to the 1e-6 grid, ten orders above the
    divergence.

    Scale shape: map-only mapInPandas (4,160 partial cells per batch
    regardless of batch rows), one tiny shuffle of (i, j) cells, a
    2,016-row driver-side frame for ranking. No row-count term ever
    crosses the wire: 100 TB in, kilobytes shuffled.
    """
    import pandas as _pd

    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    cells_schema = "i int, j int, sxy long, n long"

    def gram(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy())
            x = m.astype(np.float64) * 1_000_000
            # HALF-AWAY-FROM-ZERO, matching Spark round()/DuckDB round()
            # (np.rint would tie to even)
            q = np.trunc(x + np.copysign(0.5, x)).astype(np.int64)
            g = q.T @ q  # exact: |cell| <= batch_rows * (5e5)^2 ~ 1e16
            iu, ju = np.triu_indices(q.shape[1])
            yield _pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "sxy": g[iu, ju],
                    "n": np.full(len(iu), len(q), dtype=np.int64),
                }
            )

    cells = e.mapInPandas(gram, cells_schema)
    dec = "decimal(38,0)"
    agg = cells.groupBy("i", "j").agg(
        F.sum(F.col("sxy").cast(dec)).alias("sxy"),
        F.sum(F.col("n").cast(dec)).alias("n"),
    )
    # the LINEAR sums Sx come from a second map-only reduction (the
    # Gram pass carries only second-order cells; at 100 TB this extra
    # scan is still cheaper than widening every batch's output)
    lin = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: F.round(
                        x.cast("double") * 1_000_000, 0
                    ).cast("long"),
                )
            ).alias("i", "v")
        )
        .groupBy("i")
        .agg(F.sum(F.col("v").cast(dec)).alias("sx"))
    )
    li = lin.select(F.col("i").alias("di"), F.col("sx").alias("sxi"))
    lj = lin.select(F.col("i").alias("dj"), F.col("sx").alias("sxj"))
    var = agg.where(F.col("i") == F.col("j")).select(
        F.col("i").alias("vd"), F.col("sxy").alias("sxx"), F.col("n").alias("vn")
    )
    vi = var.select(F.col("vd").alias("vdi"), F.col("sxx").alias("sxxi"))
    vj = var.select(F.col("vd").alias("vdj"), F.col("sxx").alias("sxxj"))
    pairs = (
        agg.where(F.col("i") < F.col("j"))
        .join(F.broadcast(li), F.col("i") == F.col("di"))
        .join(F.broadcast(lj), F.col("j") == F.col("dj"))
        .join(F.broadcast(vi), F.col("i") == F.col("vdi"))
        .join(F.broadcast(vj), F.col("j") == F.col("vdj"))
    )
    n, sxy = pairs["n"], pairs["sxy"]
    cov = (n * sxy - pairs["sxi"] * pairs["sxj"]).cast("double")
    varx = (n * pairs["sxxi"] - pairs["sxi"] * pairs["sxi"]).cast("double")
    vary = (n * pairs["sxxj"] - pairs["sxj"] * pairs["sxj"]).cast("double")
    r2 = (cov * cov) / (varx * vary)
    r = F.when(cov < 0, -F.sqrt(r2)).otherwise(F.sqrt(r2))
    out = pairs.select(
        F.col("i").cast("int").alias("dim_i"),
        F.col("j").cast("int").alias("dim_j"),
        F.round(r2, 6).alias("r2"),
        F.round(r, 6).alias("r"),
    )
    return out.orderBy(F.desc("r2"), "dim_i", "dim_j").limit(30)


QUERIES["q160_feature_correlation"] = q160_feature_correlation

ORACLES["q160_feature_correlation"] = """
    WITH vals AS (
      SELECT vec_id,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS v,
             generate_subscripts(embedding, 1) - 1 AS d
      FROM embeddings),
    lin AS (
      SELECT d, SUM(CAST(v AS HUGEINT)) AS sx,
             CAST(COUNT(*) AS HUGEINT) AS n
      FROM vals GROUP BY 1),
    cross_terms AS (
      SELECT a.d AS i, b.d AS j, SUM(CAST(a.v AS HUGEINT) * b.v) AS sxy
      FROM vals a JOIN vals b ON a.vec_id = b.vec_id AND a.d < b.d
      GROUP BY 1, 2),
    diag AS (
      SELECT d, SUM(CAST(v AS HUGEINT) * v) AS sxx
      FROM vals GROUP BY 1),
    pairs AS (
      SELECT c.i, c.j,
             CAST(li.n * c.sxy - li.sx * lj.sx AS DOUBLE) AS cov,
             CAST(li.n * di.sxx - li.sx * li.sx AS DOUBLE) AS varx,
             CAST(li.n * dj.sxx - lj.sx * lj.sx AS DOUBLE) AS vary
      FROM cross_terms c
      JOIN lin li ON c.i = li.d
      JOIN lin lj ON c.j = lj.d
      JOIN diag di ON c.i = di.d
      JOIN diag dj ON c.j = dj.d)
    SELECT CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j,
           ROUND((cov * cov) / (varx * vary), 6) AS r2,
           ROUND(CASE WHEN cov < 0 THEN -SQRT((cov * cov) / (varx * vary))
                      ELSE SQRT((cov * cov) / (varx * vary)) END, 6) AS r
    FROM pairs
    ORDER BY r2 DESC, dim_i, dim_j
    LIMIT 30
"""
