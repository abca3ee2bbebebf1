"""The three workloads: each drives the engine through its public
functions and checks every answer.

Every workload fills the same four operation roles, so all of them
report the same end-to-end metrics (see README.md for the mapping):

    build   one-off construction of the workload's store from its input
    write   a repeated operation that adds to or produces the store
    read    a repeated operation that reads answers back
    maint   a one-off maintenance pass over the store

Traced runs add ``scan``: the input table's scan alone, forced to run
by a noop sink.

Operation counts are fixed by ``--seconds`` through the ``plan_*``
functions, never by how fast a run goes, so a faster engine does the
same work and ends with the same store.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import shutil
from collections import defaultdict

import numpy as np


class Run:
    """State of one benchmark run: the session, the tracer, the inputs,
    the timed samples per role and the checks made."""

    def __init__(self, spark, tracer, store, inputs: str, meta: dict, work: str, seconds: int):
        self.spark = spark
        self.tracer = tracer
        self.store = store
        self.inputs = inputs
        self.meta = meta
        self.work = work
        self.seconds = seconds
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.checks: list[dict] = []
        self.facts: dict = {}
        self.attempted = 0
        self.failed = 0
        self._last = None

    def call(self, name: str, fn, *args, **kwargs):
        """One call into the engine, inside a span named after it."""
        with self.tracer.span(name):
            return fn(*args, **kwargs)

    def op(self, role: str, fn, results=None, warmup: bool = False):
        """One timed operation of ``role``; ``results(out)`` is the
        number of result rows, kept for the rows-per-result ratio.

        A ``warmup`` operation is run and checked like the others, but
        its time is kept apart, as ``warmup.<role>``: it pays for the
        code generation of its kind of operation."""
        name = f"warmup.{role}" if warmup else role
        self.attempted += 1
        try:
            with self.tracer.span(name) as sp:
                out = fn()
        except Exception:
            self.failed += 1
            raise
        self.samples[name].append(sp.wall_s)
        if results is not None:
            sp.attrs["results"] = results(out)
        self._last = sp
        return out

    def settle(self) -> None:
        """Between operations, as a long-running caller would: the caller
        has dropped its references, Python's collector runs, and the
        storage still held by cached and checkpointed blocks is recorded
        on the operation's span."""
        gc.collect()
        self._last.attrs["storage_mb_after"] = self.store.storage_mb()

    def check(self, name: str, ok: bool, detail="") -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})
        if not ok:
            self.failed += 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count_files(path: str, pattern: str) -> int:
    return len(glob.glob(os.path.join(path, pattern)))


def _shingles(text: str, n: int = 3) -> set[str]:
    tk = text.split()
    return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


# ---------------------------------------------------------------------------
# wordcount_corpus
# ---------------------------------------------------------------------------

PARTITIONS = 16


def plan_wordcount(seconds: int) -> dict:
    return {"reps": max(3, round(seconds / 8)), "counts": 2, "combines": 2}


def wordcount_corpus(run: Run) -> None:
    from parallel_map_reduce_spark.operators.wordcount import explode_words, wordcount
    from parallel_map_reduce_spark.sinks import read_wordcount_text, write_wordcount_text
    from parallel_map_reduce_spark.sources.tables import read_text_lines

    spark = run.spark
    plan = plan_wordcount(run.seconds)
    files = sorted(glob.glob(os.path.join(run.inputs, "corpus", "*.txt")))
    with open(os.path.join(run.inputs, "expected_counts.json")) as f:
        expected = json.load(f)
    parts, combined = os.path.join(run.work, "wc_parts"), os.path.join(run.work, "wc_combined")

    def lines():
        return run.call("sources.tables.read_text_lines", read_text_lines, spark, files)

    def counts():
        return run.call("operators.wordcount.wordcount", wordcount, lines(), "value")

    for rep in range(1 + plan["reps"]):
        # write: the reference's whole job, corpus to 16 partition files.
        run.op("write", lambda: run.call(
            "sinks.write_wordcount_text", write_wordcount_text, counts(), parts,
            num_partitions=PARTITIONS,
        ), warmup=rep == 0)
        run.settle()
        got = run.op("read", results=len, warmup=rep == 0, fn=lambda: run.call(
            "action.toPandas",
            run.call("sinks.read_wordcount_text", read_wordcount_text, spark, parts).toPandas))
        run.settle()
        read_back = dict(zip(got["word"], got["count"].astype("int64").tolist()))
        run.check("wordcount.read_back_equals_generator", read_back == expected,
                  f"{len(read_back)} words read, {len(expected)} expected")
        del got, read_back

    # build: the reference's timed region alone, scan to reduced counts.
    for _ in range(plan["counts"]):
        run.op("build", lambda: run.call("action.noop", _noop, counts()))
        run.settle()

    files_before = _count_files(parts, "part-*")
    # maint: fold the partition files into the reference's single
    # combined file.
    for _ in range(plan["combines"]):
        run.op("maint", lambda: run.call(
            "sinks.write_wordcount_text", write_wordcount_text,
            run.call("sinks.read_wordcount_text", read_wordcount_text, spark, parts),
            combined, combined=True,
        ))
        run.settle()
    files_after = _count_files(combined, "part-*")
    run.facts.update(files_before=files_before, files_after=files_after)
    merged: dict[str, int] = {}
    for path in glob.glob(os.path.join(combined, "part-*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                word, _, n = line.rstrip("\n").rpartition(":")
                merged[word] = int(n)
    run.check("wordcount.combined_file_equals_generator",
              files_after == 1 and merged == expected,
              f"{files_before} -> {files_after} file(s), {len(merged)} words")

    if run.tracer.enabled:
        # The reference's phases, split from outside: the scan alone,
        # then scan + tokenize, each forced to run by a noop sink.
        for _ in range(2):
            run.op("scan", lambda: run.call("action.noop", _noop, lines()))
            run.settle()
            run.op("tokenize", lambda: run.call("action.noop", _noop, run.call(
                "operators.wordcount.explode_words", explode_words, lines(), "value")))
            run.settle()


# ---------------------------------------------------------------------------
# ann_store_rw
# ---------------------------------------------------------------------------

K = 10
NPROBE = 4
KMEANS_ITERS = 3
RECALL_FLOOR = 0.80


def plan_ann(seconds: int, meta: dict) -> dict:
    rounds = min(meta["append_batches"], 1 + max(2, round(seconds / 12)))
    return {"batches": [f"batch_{b:03d}" for b in range(rounds)]}


def _exact_topk(vecs: np.ndarray, n_live: int, qid: int, k: int) -> set[int]:
    sims = vecs[:n_live] @ vecs[qid]
    sims[qid] = -np.inf
    return set(np.argpartition(-sims, k)[:k].tolist())


def ann_store_rw(run: Run) -> None:
    from parallel_map_reduce_spark.operators.similarity import (
        compact_ivf_index,
        ivf_append_to_index,
        ivf_build_index,
        ivf_query_stored,
    )
    from parallel_map_reduce_spark.sources.tables import load_table

    spark = run.spark
    meta = run.meta
    plan = plan_ann(run.seconds, meta)
    vecs = np.load(os.path.join(run.inputs, "vectors.npy"))
    with open(os.path.join(run.inputs, "queries.json")) as f:
        queries = json.load(f)
    store = os.path.join(run.work, "ivf_store")

    def table(name):
        return run.call("sources.tables.load_table", load_table, spark, run.inputs, name)

    def query(ids):
        return run.call("action.toPandas", run.call(
            "operators.similarity.ivf_query_stored", ivf_query_stored,
            spark, store, ids, k=K, nprobe=NPROBE,
        ).toPandas)

    run.op("build", lambda: run.call(
        "operators.similarity.ivf_build_index", ivf_build_index, table("base"), store,
        num_centroids=meta["clusters"], max_iter=KMEANS_ITERS,
    ))
    run.settle()

    n_live = meta["base_vectors"]
    recalls = []

    def score(got):
        for q, grp in got.groupby("query_id"):
            exact = _exact_topk(vecs, n_live, int(q), K)
            recalls.append(len(exact & set(grp["neighbor_id"].tolist())) / K)

    for b, batch in enumerate(plan["batches"]):
        run.op("write", lambda: run.call(
            "operators.similarity.ivf_append_to_index", ivf_append_to_index, table(batch), store,
        ))
        run.settle()
        n_live += meta["append_batch"]
        if b == 0:
            # Appends and queries alternate from the second append on;
            # the first query pays its code generation, which the
            # median of the three queries leaves out.
            continue
        ids = queries[b]
        got = run.op("read", lambda: query(ids), results=len)
        run.settle()
        score(got)
        run.check("ann.k_results_per_query",
                  len(got) == K * len(ids) and got["query_id"].nunique() == len(ids),
                  f"{len(got)} rows for {len(ids)} queries")
    before = got

    # maint: fold the appends' files back to one file per cell.
    files = run.op("maint", lambda: run.call(
        "operators.similarity.compact_ivf_index", compact_ivf_index, spark, store))
    run.settle()
    # The last queries again, on the compacted store.
    after = run.op("read", lambda: query(ids), results=len)
    run.settle()

    def key(df):
        return sorted(zip(df["query_id"], df["neighbor_id"], df["cosine_sim"]))

    run.facts.update(files_before=files[0], files_after=files[1])
    run.check("ann.compaction_reduces_files", files[1] < files[0], f"{files[0]} -> {files[1]}")
    run.check("ann.answers_identical_after_compaction", key(before) == key(after))
    recall = float(np.mean(recalls))
    run.facts["recall_at_k"] = recall
    run.check("ann.recall_at_k_floor", recall >= RECALL_FLOOR,
              f"recall@{K}={recall:.4f} floor {RECALL_FLOOR}")

    if run.tracer.enabled:
        for _ in range(2):
            run.op("scan", lambda: run.call("action.noop", _noop, table("base")))
            run.settle()


# ---------------------------------------------------------------------------
# dedup_ingest
# ---------------------------------------------------------------------------

THRESHOLD = 0.5
PLANTED_FOUND_FLOOR = 0.95


def plan_dedup(seconds: int, meta: dict) -> dict:
    n = min(meta["ingest_batches"], max(2, round(seconds / 12)))
    return {"kept": "kept", "batches": [f"batch_{b:03d}" for b in range(n)], "retract": "retract"}


def _read_shingles(path: str) -> dict[int, set[str]]:
    import pyarrow.parquet as papq

    t = papq.read_table(path)
    return {d: _shingles(text) for d, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist())}


def dedup_ingest(run: Run) -> None:
    import pandas as pd

    from parallel_map_reduce_spark.operators.curation_extras import (
        incremental_lsh_dedup,
        retract_and_readmit,
    )
    from parallel_map_reduce_spark.operators.dedup import minhash_signatures
    from parallel_map_reduce_spark.sources.tables import load_table

    spark = run.spark
    plan = plan_dedup(run.seconds, run.meta)
    with open(os.path.join(run.inputs, "planted.json")) as f:
        planted = json.load(f)

    def table(name, root=run.inputs):
        return run.call("sources.tables.load_table", load_table, spark, root, name)

    # maint, first: retract every tenth kept doc of its own corpus and
    # re-admit what that suppressed. It runs MinHash and the incremental
    # dedup inside, so it also pays their first-use code generation,
    # which the build and the ingest batches after it then do not.
    res = run.op("maint", lambda: run.call("action.toPandas", run.call(
        "operators.curation_extras.retract_and_readmit", retract_and_readmit,
        table(plan["retract"]),
    ).toPandas))
    run.settle()
    _check_retract(run, res, _read_shingles(os.path.join(run.inputs, "retract.parquet")),
                   planted["retract"])

    # The kept corpus and its signature store live in the run's work
    # directory; admitted survivors are appended to both.
    kept_dir = os.path.join(run.work, "kept_docs.parquet")
    os.makedirs(kept_dir)
    shutil.copy(os.path.join(run.inputs, f"{plan['kept']}.parquet"), kept_dir)
    store = os.path.join(run.work, "signatures")
    run.op("build", lambda: run.call("action.write_parquet", run.call(
        "operators.dedup.minhash_signatures", minhash_signatures, table(plan["kept"]),
    ).write.parquet, store))
    run.settle()

    shingles: dict[int, set[str]] = {}
    for name in [plan["kept"]] + plan["batches"]:
        shingles.update(_read_shingles(os.path.join(run.inputs, f"{name}.parquet")))
    found = total_planted = 0
    for b, name in enumerate(plan["batches"]):
        # read: classify the batch against the store (kept, cross_dup or
        # batch_dup); write: admit its survivors to the store.
        def classify():
            res, sig_new = run.call(
                "operators.curation_extras.incremental_lsh_dedup", incremental_lsh_dedup,
                table(name), table("kept_docs", os.path.dirname(kept_dir)),
                kept_signatures=spark.read.parquet(store), threshold=THRESHOLD,
                return_new_signatures=True,
            )
            return run.call("action.toPandas", res.toPandas), sig_new

        res, sig_new = run.op("read", classify, results=lambda out: len(out[0]))
        survivors = res.loc[res["status"] == "kept", "doc_id"].astype("int64").tolist()

        def admit():
            surv = spark.createDataFrame(pd.DataFrame({"doc_id": survivors}, dtype="int64"))
            run.call("action.write_parquet", sig_new.join(surv, "doc_id", "left_semi")
                     .write.mode("append").parquet, store)
            run.call("action.write_parquet", table(name).join(surv, "doc_id", "left_semi")
                     .write.mode("append").parquet, kept_dir)

        run.op("write", admit)
        del sig_new
        run.settle()
        _check_dups(run, res, shingles, f"ingest.{name}")
        status = dict(zip(res["doc_id"].astype("int64"), res["status"]))
        for copy, src in planted["batches"][b]:
            total_planted += 1
            found += status.get(copy) != "kept" or status.get(src) == "batch_dup"
        del res
    run.check("ingest.planted_found", found >= PLANTED_FOUND_FLOOR * total_planted,
              f"{found}/{total_planted} planted near-duplicates found")
    run.facts["planted_found"] = f"{found}/{total_planted}"

    if run.tracer.enabled:
        for _ in range(2):
            run.op("scan", lambda: run.call("action.noop", _noop, table(plan["kept"])))
            run.settle()


def _check_dups(run: Run, res, shingles: dict, label: str) -> None:
    """Every reported duplicate is re-verified on the driver."""
    bad = []
    for d, st, of in zip(res["doc_id"], res["status"], res["dup_of"]):
        if st in ("cross_dup", "batch_dup") and _jaccard(shingles[int(d)], shingles[int(of)]) < THRESHOLD:
            bad.append((int(d), int(of)))
    run.check(f"{label}.dups_verified", not bad, f"{len(bad)} below threshold: {bad[:5]}")


def _check_retract(run: Run, res, shingles: dict, planted: list) -> None:
    phases = {p: g for p, g in res.groupby("phase")}
    admit, retract = phases.get("admit"), phases.get("retract")
    readmit = phases.get("readmit", res.iloc[:0])
    ok = admit is not None and retract is not None
    run.check("retract.phases_present", ok)
    if not ok:
        return
    for name, g in (("admit", admit), ("readmit", readmit)):
        _check_dups(run, g, shingles, f"retract.{name}")
    retracted = set(retract["doc_id"].astype("int64"))
    run.check("retract.retracted_set", retracted == {d for d in shingles if d % 10 == 0})
    status = dict(zip(admit["doc_id"].astype("int64"), admit["status"]))
    found = sum(status.get(c) == "cross_dup" for c, _ in planted)
    run.check("retract.planted_found", found >= PLANTED_FOUND_FLOOR * len(planted),
              f"{found}/{len(planted)}")
    affected = {
        int(d) for d, st, of in zip(admit["doc_id"], admit["status"], admit["dup_of"])
        if st == "cross_dup" and int(of) in retracted
    }
    run.check("retract.readmit_set", set(readmit["doc_id"].astype("int64")) == affected,
              f"{len(readmit)} readmitted, {len(affected)} affected")
    run.facts["readmitted"] = len(affected)


WORKLOADS = {
    "wordcount_corpus": wordcount_corpus,
    "ann_store_rw": ann_store_rw,
    "dedup_ingest": dedup_ingest,
}
