"""Registry entries for the word-count family (reference surface, SURVEY §2.1-2.2).

All run against the `documents` table of the given sf_dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parallel_map_reduce_spark.functions.tokenize import TOKEN_SPLIT_REGEX
from parallel_map_reduce_spark.operators import wordcount as wc
from parallel_map_reduce_spark.registry import register
from parallel_map_reduce_spark.sources.tables import load_table

_WORDS_CTE = f"""
WITH words AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(text, '{TOKEN_SPLIT_REGEX}')) AS word
  FROM documents
)
"""


@register(
    "wordcount",
    _WORDS_CTE
    + """
SELECT word, count(*) AS count
FROM words WHERE word <> ''
GROUP BY word
""",
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: global word counts (reference O4-O7 pipeline)."""
    return wc.wordcount(load_table(spark, sf_dir, "documents"), "text")


@register(
    "wordcount_topk",
    _WORDS_CTE
    + """
SELECT word, count(*) AS count
FROM words WHERE word <> ''
GROUP BY word
ORDER BY count DESC, word ASC
LIMIT 100
""",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 words, deterministic tie-break on word."""
    return wc.topk_words(load_table(spark, sf_dir, "documents"), k=100)


@register(
    "wordcount_per_doc",
    _WORDS_CTE
    + """
SELECT doc_id, word, count(*) AS count
FROM words WHERE word <> ''
GROUP BY doc_id, word
""",
)
def q_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document grouped counts (reference O7 generalized)."""
    return wc.wordcount_per_doc(load_table(spark, sf_dir, "documents"))


@register(
    "word_totals",
    _WORDS_CTE
    + """
SELECT count(*) AS total_tokens,
       count(DISTINCT word) AS distinct_words
FROM words WHERE word <> ''
""",
)
def q_word_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus invariants: total tokens + distinct words."""
    return wc.word_totals(load_table(spark, sf_dir, "documents"))


@register(
    "wordcount_rdd",
    _WORDS_CTE
    + """
SELECT word, count(*) AS count
FROM words WHERE word <> ''
GROUP BY word
""",
)
def q_wordcount_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RDD twin (flatMap → map(w,1) → reduceByKey) surfaced through
    the driver gate: same oracle as the DataFrame form, proving the two
    execution paths agree. DataFrame is the production path (codegen,
    Tungsten); this exists for reference parity with BASELINE.json's
    'RDD map/reduce operations' approach."""
    docs = load_table(spark, sf_dir, "documents")
    return wc.wordcount_rdd(docs, "text")
