#!/usr/bin/env python3
"""DSIR hashed-feature bucket-count sensitivity (cf. Xie et al. 2023 §3:
hashing introduces collision bias; the bucket count B trades model size
against estimator fidelity).

For each B, compare the hashed importance estimator against the
UNHASHED exact n-gram model (feature = raw string — the infinite-B
limit) on three axes: wall time, mean |Δ log-weight|, and top-decile
selection overlap (the quantity that matters: importance RESAMPLING
only consumes the ranking's head). Deterministic end to end.

Usage: python tools/bench_dsir_buckets.py [sf_dir]
"""
from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from parallel_map_reduce_spark.operators.curation_extras import (
    dsir_importance_weights,
)
from parallel_map_reduce_spark.session import get_spark
from parallel_map_reduce_spark.sources.tables import load_table


def exact_weights(docs):
    """The infinite-B limit: features stay raw strings, no hashing."""
    from parallel_map_reduce_spark.functions.tokenize import token_array

    tdf = docs.select(
        F.col("doc_id"),
        (F.col("lang") == "en").cast("int").alias("_is_t"),
        token_array("text").alias("tk"),
    ).localCheckpoint(eager=True)
    n = F.size("tk")
    uni = tdf.select("doc_id", "_is_t", F.explode("tk").alias("f"))
    bi = tdf.filter(n >= 2).select(
        "doc_id",
        "_is_t",
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, n - 1),
                F.slice(F.col("tk"), 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("f"),
    )
    feats = uni.unionByName(bi).localCheckpoint(eager=True)
    ftab = (
        feats.groupBy("f")
        .agg(F.count(F.lit(1)).alias("c_r"), F.sum("_is_t").alias("c_t"))
        .localCheckpoint(eager=True)
    )
    nf = ftab.count()  # vocabulary size = the smoothing denominator's B
    totals = ftab.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    lr = F.log((F.col("c_t") + 1) / (F.col("n_t") + F.lit(nf))) - F.log(
        (F.col("c_r") + 1) / (F.col("n_r") + F.lit(nf))
    )
    out = (
        feats.join(ftab, "f")
        .join(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(F.sum(lr).alias("lw"))
    )
    return {r["doc_id"]: r["lw"] for r in out.collect()}, nf


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench_dsir_buckets")
    docs = load_table(spark, sf_dir, "documents")

    exact, vocab = exact_weights(docs)
    ids = sorted(exact)
    k = max(1, len(ids) // 10)
    print(f"# docs={len(ids)} distinct_features={vocab} top_decile_k={k}")
    print("| B | wall_s | mean_abs_dlw | raw_sum_overlap | avg_norm_overlap |")
    print("|---|--------|--------------|-----------------|------------------|")
    for B in (512, 2048, 8192, 32768):
        t0 = time.monotonic()
        rows = dsir_importance_weights(
            docs, F.col("lang") == "en", buckets=B
        ).collect()
        wall = time.monotonic() - t0
        hw = {r["doc_id"]: r["log_weight"] for r in rows}
        ha = {r["doc_id"]: r["avg_log_weight"] for r in rows}
        nf = {r["doc_id"]: r["n_feats"] for r in rows}
        mad = sum(abs(hw[i] - exact[i]) for i in ids) / len(ids)
        # exact-model rankings: raw sum, and per-feature mean
        te_raw = set(sorted(ids, key=lambda i: (-exact[i], i))[:k])
        te_avg = set(sorted(ids, key=lambda i: (-exact[i] / nf[i], i))[:k])
        ov_raw = len(set(sorted(ids, key=lambda i: (-hw[i], i))[:k]) & te_raw) / k
        ov_avg = len(set(sorted(ids, key=lambda i: (-ha[i], i))[:k]) & te_avg) / k
        print(f"| {B} | {wall:.2f} | {mad:.3f} | {ov_raw:.3f} | {ov_avg:.3f} |")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
