"""Reusable column-expression helpers (all JVM-side built-ins)."""

from dataingestiontohana_spark.functions.text import (  # noqa: F401
    normalize_text,
    tokens,
)
from dataingestiontohana_spark.functions.vector import (  # noqa: F401
    dot,
    l2_norm,
    cosine_similarity,
)
