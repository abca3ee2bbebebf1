"""User-defined function surface: pandas UDAF, grouped-map, Python UDTF.

The reference has no UDF mechanism — its one query is hardcoded at
compile time (SURVEY.md §2.3: "UDF / UDAF / UDTF: None"). Spark's
extension points are demonstrated here, one registered query each, all
oracle-checked:

- grouped-agg ``pandas_udf`` (UDAF): geometric mean of order totals;
- ``applyInPandas`` (grouped map): per-group z-score normalization;
- Python UDTF (table function): tokenizer re-expressed as a UDTF.

Scale rules encoded in each docstring: these are the SLOW path (Python
workers + Arrow transfer) — reach for them only when no built-in
expression composition exists. Everything here also has a pure-JVM
equivalent used as its oracle cross-check; the UDF forms exist to prove
the extension surface, with Arrow batching bounding per-batch memory
(`spark.sql.execution.arrow.maxRecordsPerBatch`).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_map_reduce_spark.functions.tokenize import TOKEN_SPLIT_REGEX
from parallel_map_reduce_spark.registry import register
from parallel_map_reduce_spark.sources.tables import load_table


def _geomean_udf():
    # built lazily: pandas_udf parses its return type through the active
    # SparkSession, so the decorator can't run at import time
    @F.pandas_udf("double")
    def _geomean(prices: pd.Series) -> float:
        # log-space mean: overflow-safe for any row count (a plain product
        # overflows a double after ~300 rows of 10^1 values)
        import numpy as np

        return float(math.exp(np.log(prices.to_numpy()).mean()))

    return _geomean


@register(
    "udaf_geomean_price",
    """
SELECT o_orderstatus,
       ROUND(EXP(AVG(LN(o_totalprice))), 4) AS geomean_price
FROM orders
GROUP BY o_orderstatus
""",
)
def q_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate as a grouped-agg pandas UDF. Arrow ships each
    group's column once; the UDF is vectorized numpy. Note this UDAF has
    no partial-aggregation phase (whole groups move through the shuffle)
    — for 100 TB prefer the algebraic JVM form used as the oracle
    (EXP(AVG(LN(x))) — sum-of-logs IS the mergeable partial)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(_geomean_udf()("o_totalprice"), 4).alias("geomean_price")
    )


@register(
    "grouped_zscore_events",
    """
SELECT event_id,
       event_type,
       ROUND((value - AVG(value) OVER (PARTITION BY event_type))
             / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 4) AS zscore
FROM events
""",
)
def q_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group normalization via applyInPandas (grouped map): each
    event_type's rows arrive as one pandas frame. The window-function
    oracle is the JVM twin; the grouped-map form is the template for
    logic SQL can't express (model scoring, per-group fitting). At scale,
    group size is the memory bound — applyInPandas materializes a whole
    group per task (fine for bounded groups; use mapInPandas otherwise)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "zscore": ((pdf["value"] - mu) / sd).round(4),
            }
        )

    return events.groupBy("event_type").applyInPandas(
        zscore, "event_id long, event_type string, zscore double"
    )


@register(
    "udtf_token_lengths",
    f"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(text, '{TOKEN_SPLIT_REGEX}')) AS word
  FROM documents
)
SELECT LENGTH(word) AS token_len, COUNT(*) AS n_tokens
FROM words WHERE word <> ''
GROUP BY token_len
""",
)
def q_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (one input row → many output rows): the normative
    tokenizer as a table function, aggregated to token-length histogram
    so the result stays small. Exists to prove the UDTF surface — the
    JVM split+explode in operators/wordcount.py is the production path
    (this row-at-a-time form is ~10-100× slower; SURVEY §2.1 O4)."""
    import re

    from pyspark.sql.functions import udtf

    ws = re.compile(TOKEN_SPLIT_REGEX)

    @udtf(returnType="word: string")
    class Tokenize:
        def eval(self, text: str):
            for w in ws.split(text or ""):
                if w:
                    yield (w,)

    docs = load_table(spark, sf_dir, "documents")
    spark.udtf.register("pmr_tokenize", Tokenize)
    docs.select("text").createOrReplaceTempView("__udtf_docs")
    words = spark.sql(
        "SELECT t.word FROM __udtf_docs, LATERAL pmr_tokenize(text) t"
    )
    return words.groupBy(F.length("word").alias("token_len")).agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
