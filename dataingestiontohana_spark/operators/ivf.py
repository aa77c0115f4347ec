"""IVF (inverted-file) approximate nearest neighbor: the coarse-
quantizer scale path complementing hyperplane LSH (plans/llm_similarity).

Classic IVF (Jegou et al., "Product Quantization for Nearest Neighbor
Search", the coarse-quantizer stage): pick k centroids, assign every
vector to its nearest centroid (the inverted lists), and at query time
scan only the `nprobe` closest lists instead of the whole collection.

Spark-native shape:
- Centroids: a deterministic seeded sample of the vectors themselves
  (k-means-free variant; swap in KMeans fit offline if recall needs it).
  k centroids x 64 dims is driver-small and ships as a numpy literal.
- Assignment: one Arrow-batched pandas UDF (argmin over a matmul) —
  map-only, no shuffle.
- Query: centroid distances on the driver (k rows), then an IN-list
  filter to the nprobe chosen clusters, so exact cosine runs on about
  nprobe/k of the vectors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample_centroids(
    vecs: DataFrame, k: int = 16, id_col: str = "vec_id"
) -> np.ndarray:
    """Deterministic centroid pick: the k vectors whose Knuth
    multiplicative hash of the id is smallest — stable under any
    partitioning, no RNG on the executors, and portable plain-integer
    arithmetic (the same expression the q57 sampling splits use), so
    the whole IVF pipeline is reproducible in ANSI SQL and
    DuckDB-oracle-checkable. Centroid order (= cluster_id space) is
    the hash order with id tiebreak."""
    from dataingestiontohana_spark.functions.hashing import knuth_hash32

    rows = (
        vecs.select(id_col, "embedding")
        .withColumn("_h", knuth_hash32(id_col))
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    return np.array([list(r["embedding"]) for r in rows], dtype=np.float64)


def assign_clusters(vecs: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Add cluster_id = argmin centroid distance (cosine): map-only
    numpy matmul per Arrow batch."""
    cents = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    cents_list = cents.tolist()  # plain list: picklable, tiny

    @F.pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        c = np.asarray(cents_list)
        mat = np.stack(emb.apply(np.asarray, dtype=np.float64).values)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.Series(np.argmax(mat @ c.T, axis=1).astype("int32"))

    return vecs.withColumn("cluster_id", assign(F.col("embedding")))


def _probe_ids(query_vec: list[float], centroids: np.ndarray, nprobe: int):
    q = np.asarray(query_vec, dtype=np.float64)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    return np.argsort(-(cn @ (q / np.linalg.norm(q))))[:nprobe].tolist()


def _cos_to_query_udf(query_vec: list[float]):
    qlist = list(map(float, query_vec))

    @F.pandas_udf("double")
    def cos_to_query(emb: pd.Series) -> pd.Series:
        qv = np.asarray(qlist)
        qv = qv / np.linalg.norm(qv)
        mat = np.stack(emb.apply(np.asarray, dtype=np.float64).values)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.Series(mat @ qv)

    return cos_to_query


def _probe_topk(
    scan: DataFrame,
    probe_ids: list[int],
    query_vec: list[float],
    k: int,
    id_col: str,
) -> DataFrame:
    cos_to_query = _cos_to_query_udf(query_vec)
    return (
        scan.where(F.col("cluster_id").isin(probe_ids))
        .select(
            id_col,
            "cluster_id",
            F.round(cos_to_query(F.col("embedding")), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), id_col)
        .limit(k)
    )


def ivf_topk(
    vecs: DataFrame,
    query_vec: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k cosine within the nprobe nearest clusters only.

    The cluster filter is an IN-list predicate — over a table
    partitioned by cluster_id it prunes at the scan. Final distance is
    exact cosine on the surviving fraction (~nprobe/k of the data).
    """
    assigned = assign_clusters(vecs, centroids)
    return _probe_topk(
        assigned, _probe_ids(query_vec, centroids, nprobe), query_vec, k, id_col
    )


def ivf_topk_batch(
    vecs: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
) -> DataFrame:
    """Top-k cosine per query for a BATCH of queries over the IVF
    layout — the production retrieval shape (one query at a time
    re-scans the corpus per query; batching amortizes the scan across
    the whole query set).

    How it scales:
    - The query matrix transits the driver once (Q x d, bounded like
      the probe broadcast budget — llm_similarity's q73 contract) and
      ships in the task closure with a per-query probe-cluster mask
      computed in numpy against the centroids.
    - The corpus scan filters to the UNION of all probed clusters
      (IN-list on cluster_id), so un-probed clusters are never
      scored.
    - One mapInPandas does a B x d @ d x Q matmul per Arrow batch and
      emits (query_id, vec_id, cos_sim) ONLY where the vector's
      cluster is probed by that query — output rows = sum over
      queries of their probed-cluster sizes, the same work a
      per-query loop does, in one pass.
    - Per-query top-k is a rank window PARTITIONED by query_id (never
      a global single-partition window).

    Exactness: per (query, candidate) the cosine is dot-then-divide
    float64, identical to the single-query path — pytest pins batch ==
    per-query-loop row-for-row.

    Returns (query_id, vec_id, cos_sim, rank) with rank 1..k per
    query, ordered by (query_id, rank).
    """
    import pandas as pd
    from pyspark.sql.window import Window

    qrows = queries.select(qid_col, "embedding").collect()
    if not qrows:
        return vecs.sparkSession.createDataFrame(
            [], f"{qid_col} long, {id_col} long, cos_sim double, rank int"
        )
    qids = np.array([r[qid_col] for r in qrows], dtype=np.int64)
    qmat = np.array([list(r["embedding"]) for r in qrows], dtype=np.float64)
    qnrm = np.linalg.norm(qmat, axis=1)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    # probe mask: [Q x n_clusters] bool — query q probes cluster c
    sims_qc = (qmat / qnrm[:, None]) @ cn.T
    order = np.argsort(-sims_qc, axis=1, kind="stable")
    probe = np.zeros_like(sims_qc, dtype=bool)
    for qi in range(len(qids)):
        probe[qi, order[qi, :nprobe]] = True
    probed_union = sorted({int(c) for c in np.nonzero(probe.any(axis=0))[0]})

    qids_l = qids.tolist()
    qmat_l = qmat.tolist()
    qnrm_l = qnrm.tolist()
    probe_l = probe.tolist()

    def score(it):
        qm = np.asarray(qmat_l)
        qn = np.asarray(qnrm_l)
        qi_ids = np.asarray(qids_l)
        pmask = np.asarray(probe_l)
        for pdf in it:
            if pdf.empty:
                continue
            mat = np.stack(
                pdf["embedding"].apply(np.asarray, dtype=np.float64).values
            )
            nrm = np.linalg.norm(mat, axis=1)
            cos = (mat @ qm.T) / np.outer(nrm, qn)  # B x Q
            clusters = pdf["cluster_id"].to_numpy()
            keep = pmask[:, clusters].T  # B x Q: query probes row's cluster
            bi, qi = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": qi_ids[qi],
                    id_col: pdf[id_col].to_numpy()[bi],
                    "cos_sim": cos[bi, qi],
                }
            )

    assigned = assign_clusters(vecs, centroids).where(
        F.col("cluster_id").isin(probed_union)
    )
    scored = assigned.select(id_col, "cluster_id", "embedding").mapInPandas(
        score, schema=f"query_id long, {id_col} long, cos_sim double"
    )
    # round BEFORE ranking: the single-query path orders by the
    # ROUNDED cosine (then id), so batch == loop needs the same key
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.select(
            F.col("query_id").alias(qid_col),
            id_col,
            F.round("cos_sim", 4).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(qid_col, "rank")
    )
