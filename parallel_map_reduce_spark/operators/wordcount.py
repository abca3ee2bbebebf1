"""Word-count — the reference engine's entire query surface, Spark-first.

Reference pipeline (SURVEY.md §2.1): mmap scan → word-aligned chunking →
per-thread tokenize → djb2 hash routing into 16 lock-guarded reducer maps
(src/omp_count_words.cpp:323-354). In Spark the same dataflow is one
declarative plan:

    scan → split/explode (flatMap) → partial hash-agg (map-side combine)
         → hash shuffle on word → final hash-agg

Architecturally faster than the reference at any scale: the reference takes
a lock per token (its main scalability flaw — 1.46× speedup at 16 threads,
SURVEY.md §6), while Spark's partial aggregation combines map-side so the
shuffle carries one row per (partition, distinct word), not per token.

Counts are LongType — the reference's 32-bit ``int`` counts
(src/utils.cpp:20-30) overflow at 100 TB scale; we widen deliberately.

Scale notes (100 TB posture):
- The token distribution is Zipfian (`and` ×70,922 in a 13 MB corpus).
  Skew is absorbed by map-side combine: the hot key arrives at its reducer
  as ≤ num_map_partitions pre-combined rows, so no salting is needed for
  plain counting. AQE skew handling covers pathological residue.
- No collect(), no driver-side loops; result stays distributed.
"""

from __future__ import annotations

import re
from operator import add

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parallel_map_reduce_spark.functions.tokenize import TOKEN_SPLIT_REGEX, tokens


def explode_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    """text → one row per token (column ``word``), empties dropped."""
    return df.select(F.explode(tokens(text_col)).alias("word")).filter(
        F.col("word") != ""
    )


def wordcount(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Global word counts: DataFrame[word string, count long].

    Equivalent of running both reference binaries
    (src/serial_count_words.cpp:21-87, src/omp_count_words.cpp:49-168);
    output order is unspecified, matching the reference's hash-order sink
    (src/utils.cpp:47-54).
    """
    return (
        explode_words(df, text_col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def wordcount_rdd(df: DataFrame, text_col: str = "text") -> DataFrame:
    """RDD twin of :func:`wordcount` — classic flatMap→map→reduceByKey.

    Kept as the literal MapReduce formulation (map = tokenize,
    shuffle = HashPartitioner, reduce = add; exactly the reference's
    O4→O6→O7 chain) for parity demonstration and differential testing.
    The DataFrame path is the production one: Tungsten hash-agg +
    whole-stage codegen beat Python-object RDD processing by a wide
    margin, so ``wordcount`` is what ships in queries().
    """
    pattern = re.compile(TOKEN_SPLIT_REGEX)
    spark = df.sparkSession
    counts = (
        df.select(text_col)
        .rdd.flatMap(lambda row: pattern.split(row[0] or ""))
        .filter(lambda w: w != "")
        .map(lambda w: (w, 1))
        .reduceByKey(add)
    )
    return spark.createDataFrame(counts, schema="word string, count long")


def topk_words(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Top-k most frequent words; ties broken by word for determinism.

    orderBy+limit compiles to TakeOrderedAndProject — each partition keeps
    a k-row heap and only k rows per partition cross the wire, so this is
    cluster-safe at any corpus size.
    """
    return wordcount(df, text_col).orderBy(
        F.col("count").desc(), F.col("word").asc()
    ).limit(k)


def wordcount_per_doc(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document word counts (reference O7 generalized to grouped keys)."""
    exploded = df.select(
        F.col(key_col), F.explode(tokens(text_col)).alias("word")
    ).filter(F.col("word") != "")
    return exploded.groupBy(key_col, "word").agg(F.count(F.lit(1)).alias("count"))


def word_totals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level invariants: total tokens + distinct words (one row).

    The reference's correctness anchors: 2,297,140 / 109,223 on its corpus
    (BASELINE.md). count_distinct shuffles once on word; at 100 TB swap in
    approx_count_distinct (HLL) if exactness is not required.
    """
    w = explode_words(df, text_col)
    return w.agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("word").alias("distinct_words"),
    )


def format_word_count_lines(counts: DataFrame) -> DataFrame:
    """Render `word:count` text lines, byte-compatible with the reference
    sink format (src/utils.cpp:47-54). Parse from the right — words may
    contain ':' (1,330 such lines in serial_wc.txt)."""
    return counts.select(
        F.concat(F.col("word"), F.lit(":"), F.col("count").cast("string")).alias(
            "value"
        )
    )
