"""Flagship wordcount tests — edge cases from FIXTURES.md §2."""

import os

import pytest
from conftest import REFERENCE_FILES_DIR
from pyspark.sql import Row

from parallel_map_reduce_spark.operators.wordcount import (
    topk_words,
    word_totals,
    wordcount,
    wordcount_per_doc,
    wordcount_rdd,
)


def _counts(spark, texts):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        schema="doc_id long, text string",
    )
    return {r["word"]: r["count"] for r in wordcount(df).collect()}


def test_basic_reduce(spark):
    assert _counts(spark, ["a a a"]) == {"a": 3}


def test_case_and_punctuation(spark):
    assert _counts(spark, ["A a a."]) == {"A": 1, "a": 1, "a.": 1}


def test_blank_and_whitespace_only(spark):
    assert _counts(spark, ["", "   \t  \n "]) == {}


def test_crlf(spark):
    assert _counts(spark, ["x\r\ny"]) == {"x": 1, "y": 1}


def test_colon_in_token(spark):
    assert _counts(spark, ["of: of of:"]) == {"of": 1, "of:": 2}


def test_bom_token_distinct(spark):
    assert _counts(spark, ["﻿The The"]) == {"﻿The": 1, "The": 1}


def test_multi_doc_counts_add(spark):
    assert _counts(spark, ["a b", "b c"]) == {"a": 1, "b": 2, "c": 1}


def test_small_test1_fixture(spark):
    text = (
        "Project Gutenberg's Notes from the Underground, \n"
        "by Feodor Dostoevsky Project."
    )
    got = _counts(spark, [text])
    assert got == {
        "Project": 1,
        "Gutenberg's": 1,
        "Notes": 1,
        "from": 1,
        "the": 1,
        "Underground,": 1,
        "by": 1,
        "Feodor": 1,
        "Dostoevsky": 1,
        "Project.": 1,
    }
    assert sum(got.values()) == 10


def test_rdd_twin_matches_dataframe(spark):
    texts = ["a b  c", "A a a.", "of: of of:", "", "x\r\ny z\tz"]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        schema="doc_id long, text string",
    )
    df_counts = {(r["word"], r["count"]) for r in wordcount(df).collect()}
    rdd_counts = {(r["word"], r["count"]) for r in wordcount_rdd(df).collect()}
    assert df_counts == rdd_counts


def test_topk_deterministic(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="b b a a c")], schema="doc_id long, text string"
    )
    rows = topk_words(df, k=2).collect()
    assert [(r["word"], r["count"]) for r in rows] == [("a", 2), ("b", 2)]


def test_per_doc(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="a")],
        schema="doc_id long, text string",
    )
    got = {(r["doc_id"], r["word"]): r["count"] for r in wordcount_per_doc(df).collect()}
    assert got == {(1, "a"): 2, (1, "b"): 1, (2, "a"): 1}


def test_word_totals(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="a b b"), Row(doc_id=1, text="c")],
        schema="doc_id long, text string",
    )
    row = word_totals(df).collect()[0]
    assert row["total_tokens"] == 4
    assert row["distinct_words"] == 3


def test_permutation_invariance(spark):
    texts = ["a b", "c d a", "e"]
    assert _counts(spark, texts) == _counts(spark, list(reversed(texts)))


@pytest.mark.skipif(
    not os.path.exists(
        os.path.join(os.path.dirname(REFERENCE_FILES_DIR), "serial_wc.txt")
    ),
    reason="reference corpus not present",
)
def test_custom_datasource_reads_reference_output(spark):
    """The wordcount_text Python data source must mount the reference's
    own serial output byte-exactly: 109,223 rows, 2,297,140 total count,
    right-split parsing for words containing ':'."""
    from parallel_map_reduce_spark.sources.wordcount_source import (
        register_wordcount_source,
    )

    from pyspark.sql import functions as F

    register_wordcount_source(spark)
    df = (
        spark.read.format("wordcount_text")
        .option("path", "/root/reference/serial_wc.txt")
        .load()
    )
    assert df.columns == ["word", "count"]
    agg = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("count").alias("total")
    ).collect()[0]
    assert agg["n"] == 109223
    assert agg["total"] == 2297140
    # the ':'-containing words parse correctly (e.g. 'of:' occurs 3x)
    assert df.filter(F.col("word") == "of:").collect()[0]["count"] == 3
