"""Normative tokenizer — the golden spec of the reference engine.

The reference tokenizes with C++ ``istringstream >> word``
(reference: src/utils.cpp:8-14), i.e. maximal runs of non-whitespace
bytes split on C-locale whitespace ``[ \\t\\n\\r\\v\\f]``. Verified
byte-identical against the reference outputs: re-tokenizing the 15-file
corpus with this regex reproduces serial_wc.txt exactly — 2,297,140
tokens, 109,223 distinct words (SURVEY.md §2.2).

Semantics preserved on purpose:
- case-sensitive, punctuation-retaining (``of`` vs ``of:`` are distinct)
- no unicode normalization; a BOM-prefixed token stays BOM-prefixed
- empty strings (whitespace runs at string edges) are dropped

This module is the only place that spells the rule. Every Spark
operator, every DuckDB oracle and every Python-side tokenizer (the RDD
twin, the UDTF) imports its regex or fragment from here. Everything
Spark-side stays JVM-side (split/filter/transform are codegen'd) — no
Python in the hot path.

Two plan rules hold for every consumer of the token array:

1. **Materialized-column rule.** An n-gram window (``word_ngrams``)
   must read a token-array column projected in a previous select, not
   an inline split/filter expression: a lambda that captures an outer
   expression re-evaluates it per element, turning the window O(len²)
   per document (measured 20× slowdown at sf0.1).
2. **Explode an expression, not an attribute.** Explode (or posexplode)
   the window expression itself: exploding a projected attribute makes
   InferFiltersFromGenerate add a ``size(x) > 0`` filter that predicate
   pushdown inlines below the token projection — re-deriving the split
   per element access and going quadratic (measured 30× at sf0.1).
   Generators over non-trivial expressions are skipped by that rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# C-locale whitespace — space, tab, LF, CR, VT, FF — as a character-class
# body in the escape form Java regex (Spark), RE2 (DuckDB) and Python
# ``re`` all read the same way.
_WS = r" \t\n\r\x0b\x0c"

# One token separator: a maximal whitespace run.
TOKEN_SPLIT_REGEX = f"[{_WS}]+"

# One non-whitespace character; ``regexp_replace(text, NON_WS_CHAR, '')``
# keeps only the whitespace, so its length is the whitespace count.
NON_WS_CHAR = f"[^{_WS}]"

# GPT-2-style pre-tokenizer, restricted to constructs RE2 AND Java regex
# both support (no lookahead): contraction suffixes, letter runs, digit
# runs, symbol runs (anything but alphanumerics and whitespace). The real
# BPE merge table is model-specific; the pre-tokenization split is the
# part that matters for token-count estimation in a data pipeline.
BPE_PRETOKEN_REGEX = f"'(?:s|d|m|t|ll|ve|re)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS}]+"

# DuckDB forms: the non-empty token list of ``text``, the (doc_id, ws)
# token CTE over ``documents``, and the distinct word 3-gram shingle CTE.
TOKENS_SQL = f"list_filter(regexp_split_to_array(text, '{TOKEN_SPLIT_REGEX}'), w -> w <> '')"


def tokens_cte_sql(carry: tuple[str, ...] = ()) -> str:
    """``WITH toks`` (doc_id, *carry, ws) over ``documents``: the token
    CTE, carrying the named ``documents`` columns beside the tokens."""
    cols = ", ".join(("doc_id", *carry))
    return f"WITH toks AS (SELECT {cols}, {TOKENS_SQL} AS ws FROM documents)"


TOKENS_CTE_SQL = tokens_cte_sql()


def shingles_ctes(source: str = "documents") -> str:
    """The ``toks`` (doc_id, ws) and ``shingles`` (doc_id, shingle) CTEs
    over ``source``, a relation with doc_id and text columns — without
    the WITH keyword, so a caller can open a WITH RECURSIVE list or
    continue one."""
    return f"""toks AS (SELECT doc_id, {TOKENS_SQL} AS ws FROM {source}),
shingles AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM toks CROSS JOIN UNNEST(generate_series(1, greatest(len(ws)-2, 0))) AS t(i)
)"""


SHINGLES_CTE_SQL = "WITH " + shingles_ctes()


def tokens(text_col: str | Column) -> Column:
    """Array of byte-exact tokens for one text value (may contain '')."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(col, TOKEN_SPLIT_REGEX)


def token_array(text_col: str | Column) -> Column:
    """Array of the non-empty tokens of one text value."""
    return F.filter(tokens(text_col), lambda w: w != F.lit(""))


def token_count(text_col: str | Column) -> Column:
    """Number of tokens in a text value, JVM-side (no explode needed)."""
    return F.size(token_array(text_col))


def tokens_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, tk: array<string>) with empties dropped — the materialization
    step every n-gram consumer builds on (rule 1 above)."""
    return df.select(F.col(id_col), token_array(text_col).alias("tk"))


def word_ngrams(tok_col: Column, n: int) -> Column:
    """Every word n-gram ('w1 w2 … wn', in order, repeats kept) of a
    MATERIALIZED token-array column (rule 1 above). Arrays with fewer
    than n tokens yield an empty array; the when() guard also avoids
    sequence()'s descending-range behaviour when size-n < 0."""
    size = F.size(tok_col)
    idx = F.sequence(F.lit(1), size - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(tok_col, i + j) for j in range(n)]),
    )
    return F.when(size >= n, grams).otherwise(F.array())
