"""The Python-UDF surface, declared and oracle-checked (SURVEY §2.2
UDF/UDAF/UDTF row; the reference's UDF mechanism is its two embedded JS
script operators, `/root/reference/README.md:30-43,45-63`).

Coverage map of the engine's Python extension points:
- scalar pandas UDF      -> llm_similarity.lsh_signatures
- grouped-AGG pandas UDF -> q55 (UDAF: geometric mean)
- grouped-MAP applyInPandas -> q56 (per-group z-score normalization)
- mapInPandas (UDTF-ish) -> operators/multimodal.py

Each is Arrow-batched; none is row-at-a-time Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataingestiontohana_spark.catalog import load_table


def geomean_udaf():
    """Grouped-aggregate pandas UDF (UDAF): exp(mean(ln x)).

    Built inside a function, not at module level: pandas_udf creation
    needs an active SparkSession, and Python workers re-import this
    module to unpickle the grouped-map function below — a module-level
    decorator would crash that import (SESSION_OR_CONTEXT_NOT_EXISTS).
    """

    @F.pandas_udf("double")
    def gm(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy(dtype=np.float64)).mean()))

    return gm


def q55_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    gm = geomean_udaf()
    return (
        o.groupBy("o_orderstatus")
        .agg(F.round(gm(F.col("o_totalprice")), 2).alias("gm"))
        .orderBy("o_orderstatus")
    )


def _zscore(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map: per-status z-score of o_totalprice (ddof=1 to match
    SQL STDDEV_SAMP). Known edge divergence: a single-row group yields
    NaN here where SQL yields NULL — impossible on this data but a real
    consideration for reuse."""
    x = pdf["o_totalprice"].to_numpy(dtype=np.float64)
    z = (x - x.mean()) / x.std(ddof=1)
    return pd.DataFrame(
        {
            "o_orderkey": pdf["o_orderkey"],
            "o_orderstatus": pdf["o_orderstatus"],
            "z": np.round(z, 2),
        }
    )


def q56_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .groupBy("o_orderstatus")
        .applyInPandas(_zscore, schema="o_orderkey long, o_orderstatus string, z double")
        .orderBy("o_orderkey")
    )


QUERIES = {
    "q55_udaf_geomean": q55_udaf_geomean,
    "q56_group_normalize": q56_group_normalize,
}

ORACLES = {
    "q55_udaf_geomean": """
        SELECT o_orderstatus, ROUND(EXP(AVG(LN(o_totalprice))), 2) AS gm
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "q56_group_normalize": """
        SELECT o_orderkey, o_orderstatus,
               ROUND((o_totalprice - AVG(o_totalprice) OVER w)
                     / STDDEV_SAMP(o_totalprice) OVER w, 2) AS z
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus)
        ORDER BY o_orderkey
    """,
}
