"""Text-pipeline column expressions: normalization, tokenization,
word n-grams and HTML stripping, with the ANSI-SQL twins the DuckDB
oracles compose from.

All of these are compositions of built-in ``pyspark.sql.functions`` —
they run inside whole-stage codegen on the JVM with zero Python in the
hot path, which is what makes them viable over 100 TB of documents.
The MinHash/SimHash near-duplicate primitives are DataFrame operators
in operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace: the canonical form used for
    exact-dup fingerprints so trivially-different bytes dedup together."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(col), " ")


# The ANSI-SQL twins of normalize_text()/tokens() for DuckDB oracles —
# THE single source of the normalization expression and the
# tokenization CTE. Every oracle that normalizes or tokenizes text
# must compose from these (llm_quality, llm_dedup, llm_text, llm_text2
# and sampling all do); a hand-copied variant that drifts from
# tokens() desynchronizes its oracle silently until the sweep fails.


def normalize_sql(expr: str = "text") -> str:
    """SQL expression string: normalize_text() over ``expr``."""
    return (
        "trim(regexp_replace(lower(" + expr + "), "
        "'[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))"
    )


TOKENS_SQL_CTE = f"""
        tok AS (
          SELECT doc_id,
                 string_split({normalize_sql('text')},
                              ' ') AS toks
          FROM documents)
"""


def word_bigrams(col: Column | str) -> Column:
    """Adjacent-token pairs as array<struct> — arrays_zip of the two
    offset slices of the token array (fields "0" = left, "1" = right).

    WHY not transform() over an index sequence: its lambda runs
    INTERPRETED per element (measured 7.5 s vs 0.8 s for this shape on
    the sf0.1 corpus); slice + arrays_zip stay inside whole-stage
    codegen, and the row count is unchanged until the caller explodes.
    A 1-token document yields empty slices, so the zip is empty and an
    explode drops it — no guard needed (split() never returns an
    empty array).
    """
    toks = tokens(col)
    sz = F.size(toks)
    return F.arrays_zip(
        F.slice(toks, 1, sz - 1), F.slice(toks, 2, sz - 1)
    )


def word_trigrams(col: Column | str) -> Column:
    """3-token shingles as array<struct> (fields "0","1","2") — the
    codegen sibling of :func:`word_bigrams` (arrays_zip of three
    offset slices; the transform()-lambda shingle path runs
    interpreted). Documents with < 3 tokens zip empty."""
    toks = tokens(col)
    ln = F.greatest(F.size(toks) - 2, F.lit(0))
    return F.arrays_zip(
        F.slice(toks, 1, ln), F.slice(toks, 2, ln), F.slice(toks, 3, ln)
    )


def strip_html(col: Column | str) -> Column:
    """Main-text extraction from HTML: drop <script>/<style> subtrees
    (their TEXT is not content), then every remaining tag, then
    collapse whitespace — the regex-pipeline core of a crawl
    extractor (trafilatura/jusText's first pass), kept to four
    codegen'd regexp_replace stages so it runs tag-soup-tolerant at
    scan speed with no Python in the path. `(?is)` = case-insensitive
    + dotall (both Java regex and DuckDB's RE2 accept the inline
    flags, which is what keeps the SQL twin byte-identical)."""
    c = F.col(col) if isinstance(col, str) else col
    # two passes, one per subtree kind: DuckDB's RE2 has no
    # backreferences, so `</\1>` is not portable
    no_script = F.regexp_replace(
        c, r"(?is)<script\b[^>]*>.*?</script\s*>", " "
    )
    no_style = F.regexp_replace(
        no_script, r"(?is)<style\b[^>]*>.*?</style\s*>", " "
    )
    no_tags = F.regexp_replace(no_style, r"(?s)<[^>]*>", " ")
    return F.trim(F.regexp_replace(no_tags, r"[ \t\n\x0b\f\r]+", " "))


# DuckDB twin of strip_html() over a SQL expression
def strip_html_sql(expr: str) -> str:
    return (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace("
        + expr
        + r", '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g')"
        + r", '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g')"
        + r", '(?s)<[^>]*>', ' ', 'g')"
        + r", '[ \t\n\x0b\f\r]+', ' ', 'g'))"
    )
