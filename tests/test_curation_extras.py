"""Property tests for the round-5 staging operators
(operators/curation_extras.py) — registered + oracled in round 5; see
PLANS.md "Round-5 window plan"."""

import hashlib

from pyspark.sql import functions as F

from parallel_map_reduce_spark.functions.hashing import (
    MERSENNE_P,
    universal_params,
)
from parallel_map_reduce_spark.operators.curation_extras import (
    bloom_bitset,
    bloom_decontaminate,
    sample_exact_n,
    stratified_exact_n,
)
from parallel_map_reduce_spark.operators.textstats import (
    decontaminate_against_eval,
)
from parallel_map_reduce_spark.sources.tables import load_table


def _h64(s: str, seed: int = 0) -> int:
    return int(
        hashlib.md5(f"{s}\x1f{seed}".encode()).hexdigest()[:15], 16
    )


def _positions(shingle: str, m_bits: int, k: int) -> list[int]:
    base = _h64(shingle) & 0xFFFFFFFF
    return [((a * base + b) % MERSENNE_P) % m_bits for a, b in universal_params(k)]


def test_bloom_bitset_matches_python_model(spark):
    shingles = ["a b c", "d e f", "x y z"]
    df = spark.createDataFrame([(s,) for s in shingles], "shingle string")
    got = {
        r["word_idx"]: r["word"]
        for r in bloom_bitset(df, m_bits=256, k=3).collect()
    }
    want: dict[int, int] = {}
    for s in shingles:
        for p in _positions(s, 256, 3):
            want[p // 64] = want.get(p // 64, 0) | (1 << (p % 64))
    assert got == want


def test_bloom_flags_superset_of_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r["doc_id"]: r
        for r in decontaminate_against_eval(docs, eval_mod=50).collect()
    }
    bloom = {
        r["doc_id"]: r
        for r in bloom_decontaminate(docs, eval_mod=50).collect()
    }
    assert set(bloom) == set(exact)  # same training docs
    for doc_id, e in exact.items():
        b = bloom[doc_id]
        assert b["n_sh"] == e["n_sh"]
        # Bloom membership can only over-report — never a false negative.
        assert b["n_bloom"] >= e["n_shared"]
        if e["contaminated"]:
            assert b["maybe_contaminated"]


def test_bloom_false_positive_rate_bounded(spark, sf_dir):
    # At the default 2^18-bit / k=3 sizing the sandbox eval set loads
    # the filter so lightly that spurious per-shingle hits should stay
    # well under 5% of probes.
    docs = load_table(spark, sf_dir, "documents")
    exact = decontaminate_against_eval(docs, eval_mod=50).select(
        "doc_id", "n_sh", "n_shared"
    )
    bloom = bloom_decontaminate(docs, eval_mod=50).select(
        "doc_id", "n_bloom"
    )
    joined = exact.join(bloom, "doc_id").agg(
        F.sum("n_sh").alias("probes"),
        F.sum(F.col("n_bloom") - F.col("n_shared")).alias("false_pos"),
    ).collect()[0]
    assert joined["false_pos"] <= joined["probes"] * 0.05


def test_sample_exact_n_deterministic_and_ranked(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    want = sorted(ids, key=lambda i: (_h64(str(i)), i))[:25]
    got = [r["doc_id"] for r in sample_exact_n(docs, 25).collect()]
    assert got == want
    # idempotent across runs / independent of partitioning
    again = [
        r["doc_id"]
        for r in sample_exact_n(docs.repartition(7), 25).collect()
    ]
    assert again == want


def test_sample_exact_n_is_top_n_not_full_sort(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = sample_exact_n(docs, 25)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_stratified_exact_n_counts_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sizes = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    out = stratified_exact_n(docs, "lang", n_per=10)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {lang: min(10, n) for lang, n in sizes.items()}
    # per-stratum membership matches the Python model
    got_en = sorted(
        r["doc_id"] for r in out.filter(F.col("lang") == "en").collect()
    )
    en_ids = [
        r["doc_id"] for r in docs.filter(F.col("lang") == "en").collect()
    ]
    want_en = sorted(sorted(en_ids, key=lambda i: (_h64(str(i)), i))[:10])
    assert got_en == want_en


def test_stratified_exact_n_uses_window_group_limit(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = (
        stratified_exact_n(docs, "lang", n_per=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_bloom_probe_side_never_sort_merge_joins(spark, sf_dir):
    # The bitset rides a 1-row broadcast; the corpus must never be
    # sort-merge-joined (i.e. shuffled) on the shingle key.
    docs = load_table(spark, sf_dir, "documents")
    plan = (
        bloom_decontaminate(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def _py_shingles(text: str) -> set:
    import re

    toks = [t for t in re.split("[ \t\n\r\x0b\x0c]+", text) if t != ""]
    return {
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    }


def _py_jaccard(a: str, b: str) -> float:
    sa, sb = _py_shingles(a), _py_shingles(b)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def test_incremental_dedup_planted(spark):
    from parallel_map_reduce_spark.operators.curation_extras import (
        incremental_lsh_dedup,
    )

    a = "the quick brown fox jumps over the lazy dog near the old river bank"
    c = "pack my box with five dozen liquor jugs before the night train leaves"
    kept = spark.createDataFrame([(1, a)], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (10, a + " today"),  # near-copy of kept 1 -> cross_dup
            (11, "sphinx of black quartz judge my vow in the quiet museum hall"),
            (12, c),  # batch pair canonical
            (13, c + " now"),  # near-copy of 12 -> batch_dup
            (14, "hi"),  # too short to shingle -> kept
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_lsh_dedup(new, kept).collect()
    }
    assert got == {
        10: ("cross_dup", 1),
        11: ("kept", -1),
        12: ("kept", -1),
        13: ("batch_dup", 12),
        14: ("kept", -1),
    }


def _shuffle_write_records(spark, fn):
    """Shuffle records written by the stages ``fn()`` runs, taken by
    diffing the status store's stage list around the call."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm

    def stages():
        jsc.listenerBus().waitUntilEmpty()
        found = jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        return [found.apply(i) for i in range(found.size())]

    mark = max((s.stageId() for s in stages()), default=-1)
    fn()
    return sum(s.shuffleWriteRecords() for s in stages() if s.stageId() > mark)


def test_incremental_dedup_never_shuffles_the_kept_corpus(spark, tmp_path):
    """Admission against a stored signature table moves batch-sized data
    only: the kept corpus' buckets and texts are scanned, but fewer
    shuffle records are written than the corpus has documents."""
    import random

    from parallel_map_reduce_spark.operators.curation_extras import (
        incremental_lsh_dedup,
    )
    from parallel_map_reduce_spark.operators.dedup import minhash_signatures

    rng = random.Random(7)
    n_kept = 400
    texts = [
        " ".join(f"w{rng.randrange(5000)}" for _ in range(40)) for _ in range(n_kept)
    ]
    path = str(tmp_path / "kept")
    spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).write.parquet(path)
    kept = spark.read.parquet(path)
    sigs = minhash_signatures(kept).localCheckpoint()
    fresh = " ".join(f"v{i}" for i in range(40))
    new = spark.createDataFrame(
        [
            (1000, texts[3] + " extra"),  # near-copy of kept 3
            (1001, texts[7] + " extra"),  # near-copy of kept 7
            (1002, fresh),
            (1003, fresh + " more"),  # near-copy of 1002
        ],
        "doc_id long, text string",
    )
    rows = []
    records = _shuffle_write_records(
        spark,
        lambda: rows.extend(
            incremental_lsh_dedup(new, kept, kept_signatures=sigs).collect()
        ),
    )
    assert {r["doc_id"]: (r["status"], r["dup_of"]) for r in rows} == {
        1000: ("cross_dup", 3),
        1001: ("cross_dup", 7),
        1002: ("kept", -1),
        1003: ("batch_dup", 1002),
    }
    assert records < n_kept


def test_incremental_dedup_real_corpus_invariants(spark, sf_dir):
    from parallel_map_reduce_spark.operators.curation_extras import (
        incremental_lsh_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    out = incremental_lsh_dedup(new, kept).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    rows = {r["doc_id"]: r for r in out}
    assert len(rows) == new.count()
    statuses = {r["status"] for r in out}
    assert statuses <= {"kept", "cross_dup", "batch_dup"}
    for r in out:
        if r["status"] == "cross_dup":
            # drop is sound: verified against a real kept doc
            assert r["dup_of"] % 2 == 0
            assert _py_jaccard(texts[r["doc_id"]], texts[r["dup_of"]]) >= 0.5
        elif r["status"] == "batch_dup":
            # canonical is an earlier new doc that itself survived
            assert r["dup_of"] < r["doc_id"]
            assert rows[r["dup_of"]]["status"] == "kept"
        else:
            assert r["dup_of"] == -1
    # determinism under different partitioning
    again = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_lsh_dedup(new.repartition(7), kept.repartition(5)).collect()
    }
    assert again == {r["doc_id"]: (r["status"], r["dup_of"]) for r in out}


def test_incremental_dedup_empty_kept_equals_batch_tier(spark, sf_dir):
    # With no kept corpus, incremental dedup must degenerate to exactly
    # the batch LSH tier: same survivors, same canonical ids.
    from parallel_map_reduce_spark.operators import dedup
    from parallel_map_reduce_spark.operators.curation_extras import (
        incremental_lsh_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    empty = docs.filter(F.lit(False))
    out = incremental_lsh_dedup(docs, empty).collect()
    assert all(r["status"] != "cross_dup" for r in out)

    edges = dedup.minhash_lsh_dedup_pairs(docs).select("id_a", "id_b")
    comp = {
        r["u"]: r["label"]
        for r in dedup.connected_components(edges).collect()
    }
    want_losers = {u: lb for u, lb in comp.items() if u != lb}
    got_losers = {
        r["doc_id"]: r["dup_of"] for r in out if r["status"] == "batch_dup"
    }
    assert got_losers == want_losers


def test_containment_detects_quote_jaccard_misses(spark):
    from parallel_map_reduce_spark.operators.curation_extras import (
        containment_pairs,
    )
    from parallel_map_reduce_spark.operators.dedup import ngram_jaccard_pairs

    short = "the quick brown fox jumps over the lazy dog"
    long = (
        short
        + " while the reporters watched from the hill and wrote their long"
        " detailed stories about the unusual scene unfolding below them"
        " through the whole golden afternoon until the light finally faded"
    )
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    got = containment_pairs(docs, threshold=0.8).collect()
    assert [(r["contained_id"], r["container_id"], r["containment"]) for r in got] == [
        (1, 2, 1.0)
    ]
    # the symmetric tier cannot see it at the same strength
    assert ngram_jaccard_pairs(docs, threshold=0.8).count() == 0


def test_containment_superset_of_symmetric_jaccard(spark, sf_dir):
    # j = inter/union <= inter/|A| = containment, both directions — so
    # every symmetric near-dup pair must appear in the containment
    # output at the same threshold, in both orientations.
    from parallel_map_reduce_spark.operators.curation_extras import (
        containment_pairs,
    )
    from parallel_map_reduce_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    jac = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cont = {
        (r["contained_id"], r["container_id"])
        for r in containment_pairs(docs, threshold=0.5).collect()
    }
    for a, b in jac:
        assert (a, b) in cont and (b, a) in cont
    # python cross-check of the reported ratio on a few pairs
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    rows = containment_pairs(docs, threshold=0.5).collect()
    for r in rows[:20]:
        sa = _py_shingles(texts[r["contained_id"]])
        sb = _py_shingles(texts[r["container_id"]])
        assert len(sa & sb) / len(sa) >= 0.5
        assert abs(r["containment"] - round(len(sa & sb) / len(sa), 4)) < 1e-9


def test_cdc_chunks_reconstruct_and_deterministic(spark, sf_dir):
    from parallel_map_reduce_spark.operators.curation_extras import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    out = cdc_chunks(docs, window=4, divisor=16).collect()
    import re

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        toks = [t for t in re.split("[ \t\n\r\x0b\x0c]+", texts[doc_id]) if t]
        assert " ".join(r["chunk_text"] for r in rows) == " ".join(toks)
        assert sum(r["n_tokens"] for r in rows) == len(toks)
    # every tokenizable doc chunked
    assert set(by_doc) == {
        d for d, t in texts.items()
        if [x for x in re.split("[ \t\n\r\x0b\x0c]+", t) if x]
    }


def test_cdc_chunks_shift_resistant_where_fixed_chunking_is_not(spark):
    from parallel_map_reduce_spark.operators.curation_extras import cdc_chunks

    base = " ".join(f"tok{i % 97}x{i % 31}" for i in range(400))
    shifted = "three new words " + base
    docs = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    rows = cdc_chunks(docs, window=4, divisor=16).collect()
    h1 = [r["chunk_hash"] for r in rows if r["doc_id"] == 1]
    h2 = [r["chunk_hash"] for r in rows if r["doc_id"] == 2]
    shared = len(set(h1) & set(h2))
    # all but the first boundary's worth of chunks must survive the
    # prefix insertion byte-identically
    assert shared >= len(h1) - 2
    # a fixed-size chunking of the same pair shares nothing: every
    # boundary shifted by the 3-token insertion
    import re

    toks = [t for t in re.split(r"\s+", base) if t]
    toks2 = [t for t in re.split(r"\s+", shifted) if t]
    fixed1 = {" ".join(toks[i : i + 16]) for i in range(0, len(toks), 16)}
    fixed2 = {" ".join(toks2[i : i + 16]) for i in range(0, len(toks2), 16)}
    assert not (fixed1 & fixed2)


# ---------------------------------------------------------------------------
# cluster-sharded SemDeDup
# ---------------------------------------------------------------------------


def test_cluster_sharded_keep_superset_of_global_exact(spark, sf_dir):
    """Sharding by cluster can only REMOVE edges vs the global all-pairs
    tier, so the cluster-sharded keep-set must contain the global exact
    tier's (semantic_dedup_keep_corpus's losers ⊇ sharded losers is the
    same statement)."""
    from parallel_map_reduce_spark.operators import dedup, similarity
    from parallel_map_reduce_spark.operators.curation_extras import (
        cluster_sharded_pairs,
    )
    from parallel_map_reduce_spark.operators.queries_llm import (
        EMBED_DUP_THRESHOLD,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = similarity.nearest_centroid_assign(emb).select("vec_id", "cluster")
    shard_pairs = cluster_sharded_pairs(emb, assigned, EMBED_DUP_THRESHOLD)
    global_pairs = similarity.embedding_near_dup_pairs(
        emb, threshold=EMBED_DUP_THRESHOLD
    )
    sp = {(r["id_a"], r["id_b"]) for r in shard_pairs.collect()}
    gp = {(r["id_a"], r["id_b"]) for r in global_pairs.collect()}
    assert sp <= gp

    def losers(pairs):
        comp = dedup.connected_components(
            spark.createDataFrame(
                sorted(pairs) or [(0, 0)], "id_a long, id_b long"
            ).filter(F.col("id_a") != F.col("id_b"))
        )
        return {r["u"] for r in comp.filter(F.col("u") != F.col("label")).collect()}

    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    keep_shard = all_ids - losers(sp)
    keep_global = all_ids - losers(gp)
    assert keep_global <= keep_shard


def test_cluster_sharded_pairs_match_in_cluster_subset(spark, sf_dir):
    """Every sharded pair is a global pair whose two members share a
    cluster, and every same-cluster global pair is found (the kernel
    loses nothing within its shard)."""
    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.operators.curation_extras import (
        cluster_sharded_pairs,
    )
    from parallel_map_reduce_spark.operators.queries_llm import (
        EMBED_DUP_THRESHOLD,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = similarity.nearest_centroid_assign(emb).select("vec_id", "cluster")
    cl = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    sp = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cluster_sharded_pairs(emb, assigned, EMBED_DUP_THRESHOLD).collect()
    }
    gp = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=EMBED_DUP_THRESHOLD
        ).collect()
    }
    expected = {p: s for p, s in gp.items() if cl[p[0]] == cl[p[1]]}
    assert sp == expected  # keys AND rounded cosines bit-match


# ---------------------------------------------------------------------------
# multi-round BPE trainer
# ---------------------------------------------------------------------------


def test_bpe_first_merge_equals_single_round_kernel(spark, sf_dir):
    """Round 1 of the trainer counts exactly what bpe_merge_pairs ranks:
    adjacent character pairs weighted by word frequency."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        bpe_train_merges,
    )
    from parallel_map_reduce_spark.operators.queries_llm import (
        q_bpe_merge_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    trained = bpe_train_merges(docs, rounds=1).collect()
    top = q_bpe_merge_pairs(spark, sf_dir).collect()[0]
    assert len(trained) == 1
    assert trained[0]["lhs"] + trained[0]["rhs"] == top["pair"]
    assert trained[0]["pair_count"] == top["pair_count"]


def test_bpe_greedy_merge_semantics(spark):
    """Greedy left-to-right merging on the classic corpora: overlapping
    occurrences ('aaa' under merge (a,a) -> [aa, a]) and adjacent
    occurrences ('abab' -> [ab, ab]) both resolve the way Sennrich's
    reference implementation does."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab aaa")], "doc_id long, text string"
    )
    rows = bpe_train_merges(docs, rounds=3).collect()
    by_round = {r["merge_round"]: r for r in rows}
    # round 1: (a,b) count 4 beats (b,a) 2 and (a,a) 2
    assert (by_round[1]["lhs"], by_round[1]["rhs"]) == ("a", "b")
    assert by_round[1]["pair_count"] == 4
    # round 2: 'abab' is now [ab, ab] twice -> (ab,ab)=2 ties (a,a)=2,
    # lexicographic tie-break picks (a,a)
    assert (by_round[2]["lhs"], by_round[2]["rhs"]) == ("a", "a")
    assert by_round[2]["pair_count"] == 2
    # round 3: 'aaa' became [aa, a] -> (aa,a)=1; (ab,ab)=2 wins
    assert (by_round[3]["lhs"], by_round[3]["rhs"]) == ("ab", "ab")
    assert by_round[3]["pair_count"] == 2


def test_bpe_merge_sequence_deterministic_under_repartition(spark, sf_dir):
    from parallel_map_reduce_spark.operators.curation_extras import (
        bpe_train_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    a = bpe_train_merges(docs, rounds=4).collect()
    b = bpe_train_merges(docs.repartition(13), rounds=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# stored-signature incremental dedup + bigram LM
# ---------------------------------------------------------------------------


def test_incremental_stored_signatures_equal_recompute(spark, sf_dir, tmp_path):
    """Loading kept signatures from a parquet store must reproduce the
    self-contained form exactly — the store is a cache, not a variant."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        incremental_lsh_dedup,
    )
    from parallel_map_reduce_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    kept = docs.filter(F.col("doc_id") % 2 == 0)
    store = str(tmp_path / "sigstore")
    minhash_signatures(kept).write.mode("overwrite").parquet(store)
    a = sorted(
        map(tuple, incremental_lsh_dedup(new, kept).collect())
    )
    b = sorted(
        map(
            tuple,
            incremental_lsh_dedup(
                new, kept, kept_signatures=spark.read.parquet(store)
            ).collect(),
        )
    )
    assert a == b


def test_bigram_lm_shape_and_bounds(spark, sf_dir):
    from parallel_map_reduce_spark.operators.curation_extras import (
        bigram_lm_doc_scores,
    )
    from parallel_map_reduce_spark.operators.dedup import tokens_df

    docs = load_table(spark, sf_dir, "documents")
    out = {r["doc_id"]: r for r in bigram_lm_doc_scores(docs).collect()}
    ntok = {
        r["doc_id"]: len(r["tk"]) for r in tokens_df(docs).collect()
    }
    # one row per doc with >= 2 tokens; n_bigrams = n_tokens - 1;
    # probabilities are in (0, 1] so the mean log-prob is <= 0
    assert set(out) == {d for d, n in ntok.items() if n >= 2}
    for d, r in out.items():
        assert r["n_bigrams"] == ntok[d] - 1
        assert r["avg_logprob"] <= 0.0


def test_bigram_lm_repeated_text_scores_higher(spark):
    """A document made of one repeated bigram must out-score a document
    of unique bigrams under the corpus model — the direction the
    perplexity filter relies on."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        bigram_lm_doc_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "x y " * 50),
            (2, " ".join(f"w{i}" for i in range(100))),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["avg_logprob"] for r in bigram_lm_doc_scores(docs).collect()}
    assert out[1] > out[2]


def test_kn_trigram_shape_and_bounds(spark, sf_dir):
    from parallel_map_reduce_spark.operators.curation_extras import (
        kn_trigram_lm_doc_scores,
    )
    from parallel_map_reduce_spark.operators.dedup import tokens_df

    docs = load_table(spark, sf_dir, "documents")
    out = {r["doc_id"]: r for r in kn_trigram_lm_doc_scores(docs).collect()}
    ntok = {r["doc_id"]: len(r["tk"]) for r in tokens_df(docs).collect()}
    # one row per doc with >= 3 tokens; n_trigrams = n_tokens - 2;
    # probabilities are in (0, 1] so the mean log-prob is <= 0
    assert set(out) == {d for d, n in ntok.items() if n >= 3}
    for d, r in out.items():
        assert r["n_trigrams"] == ntok[d] - 2
        assert r["avg_logprob"] <= 0.0


def test_kn_trigram_is_a_probability_distribution(spark):
    """Interpolated KN must assign each observed context a probability
    mass summing to <= 1 over its observed continuations (equality
    would need the unseen-word mass too). Checked exactly from the
    count tables on a small corpus — this pins the discount/backoff
    algebra, which the oracle (same formula both engines) cannot."""
    from collections import defaultdict

    from parallel_map_reduce_spark.operators.curation_extras import (
        kn_trigram_lm_doc_scores,
    )
    from parallel_map_reduce_spark.operators.dedup import tokens_df

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat ate the fish"),
            (3, "a dog sat on a rug"),
            (4, "the dog ate a bone and the cat sat still"),
        ],
        "doc_id long, text string",
    )
    toks = [r["tk"] for r in tokens_df(docs).collect()]
    d = 0.75
    c3: dict = defaultdict(int)
    for tk in toks:
        for i in range(len(tk) - 2):
            c3[(tk[i], tk[i + 1], tk[i + 2])] += 1
    ctx_tot: dict = defaultdict(int)
    ctx_types: dict = defaultdict(int)
    m2: dict = defaultdict(int)
    for (u, v, w), c in c3.items():
        ctx_tot[(u, v)] += c
        ctx_types[(u, v)] += 1
        m2[(v, w)] += 1
    mv_tot: dict = defaultdict(int)
    mv_types: dict = defaultdict(int)
    wt: dict = defaultdict(int)
    for (v, w), n in m2.items():
        mv_tot[v] += n
        mv_types[v] += 1
        wt[w] += 1
    n1p_tot = sum(wt.values())

    def p_kn(u, v, w):
        p1 = wt[w] / n1p_tot
        p2 = max(m2[(v, w)] - d, 0) / mv_tot[v] + (
            d * mv_types[v] / mv_tot[v]
        ) * p1
        return max(c3[(u, v, w)] - d, 0) / ctx_tot[(u, v)] + (
            d * ctx_types[(u, v)] / ctx_tot[(u, v)]
        ) * p2

    # per-context mass over OBSERVED continuations stays within (0, 1]
    by_ctx: dict = defaultdict(float)
    for (u, v, w) in c3:
        by_ctx[(u, v)] += p_kn(u, v, w)
    for ctx, mass in by_ctx.items():
        assert 0.0 < mass <= 1.0 + 1e-9, (ctx, mass)

    # and the Spark scorer reproduces the reference formula exactly
    # (per-doc mean of ln p over positions, rounded 4)
    import math

    exp = {}
    for r in docs.collect():
        tk = r["text"].split()
        pos = [
            math.log(p_kn(tk[i], tk[i + 1], tk[i + 2]))
            for i in range(len(tk) - 2)
        ]
        if pos:
            exp[r["doc_id"]] = round(sum(pos) / len(pos), 4)
    got = {
        r["doc_id"]: r["avg_logprob"]
        for r in kn_trigram_lm_doc_scores(docs).collect()
    }
    assert got == exp


def test_kn_continuation_beats_raw_frequency(spark):
    """KN's signature: a word frequent only in ONE context ("york"
    always after "new") gets LESS backoff mass than a word of equal
    raw frequency seen in MANY contexts — raw-frequency backoff
    (stupid backoff / JM unigram) cannot make this distinction."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        kn_trigram_lm_doc_scores,
    )

    # "york" occurs 6x, always after "new"; "spam" occurs 6x after six
    # different words. Score two probe docs whose last position forces
    # pure backoff: an UNSEEN trigram/bigram context before each word.
    corpus = [
        (1, "i love new york i hate new york we left new york "
            "they like new york she saw new york he knew new york"),
        (2, "a spam b spam c spam d spam e spam f spam"),
        # probe docs: identical unseen context 'zz qq', then the word
        (3, "zz qq spam"),
        (4, "zz qq york"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {
        r["doc_id"]: r["avg_logprob"]
        for r in kn_trigram_lm_doc_scores(docs).collect()
    }
    # both probes back off through the unseen (zz, qq) context to the
    # continuation unigram: spam (6 distinct left contexts) must beat
    # york (1 distinct left context) despite equal raw frequency
    assert out[3] > out[4]


# ---------------------------------------------------------------------------
# staged r6: Gopher repetition + BPE encode-apply
# ---------------------------------------------------------------------------


def test_gopher_repetition_planted(spark):
    from parallel_map_reduce_spark.operators.curation_extras import (
        gopher_repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # top 2-gram 'a b' x3 covers 9/11 chars
            (2, "u v w x y z"),          # no repetition at all
            (3, "p q r s t p q r s t"),  # dup 5-gram 'p q r s t' x2 = 18/19
            (4, "same line\nsame line\nunique one\nsame line"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_repetition_stats(docs).collect()}
    assert out[1]["top2_frac"] == round(3 * 3 / 11, 6)
    assert out[2]["dup5_frac"] == 0.0 and out[2]["dup8_frac"] == 0.0
    # every 2-gram in doc 2 occurs once: top fraction is one occurrence
    assert out[2]["top2_frac"] == round(3 / 11, 6)
    assert out[3]["dup5_frac"] == round(2 * 9 / 19, 6)
    # doc 3 has no duplicated 8-gram
    assert out[3]["dup8_frac"] == 0.0
    # within-doc duplicate lines: 3 of 4 line occurrences are the
    # repeated 'same line' (9 chars), vs 'unique one' (10 chars)
    assert out[4]["dup_line_frac"] == 0.75
    assert out[4]["dup_line_char_frac"] == round(27 / 37, 6)
    # single-line docs have no duplicated lines
    assert out[1]["dup_line_frac"] == 0.0
    assert out[1]["dup_line_char_frac"] == 0.0


def test_bpe_encode_compression_monotone(spark, sf_dir):
    """More merge rounds can only shrink (or keep) a document's symbol
    count, and zero rounds symbolize each word into its characters."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        bpe_encode_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    e0 = {r["doc_id"]: r for r in bpe_encode_stats(docs, rounds=0).collect()}
    e4 = {r["doc_id"]: r for r in bpe_encode_stats(docs, rounds=4).collect()}
    assert set(e0) == set(e4)
    for d in e0:
        assert e4[d]["n_symbols"] <= e0[d]["n_symbols"]
        assert e0[d]["n_merged_symbols"] == 0
        assert 0.0 <= e4[d]["merged_frac"] <= 1.0


def test_quantile_band_approx_agrees_with_exact(spark, sf_dir):
    """The approx-percentile band must reproduce the exact PERCENT_RANK
    band up to boundary disagreement — and at sketch accuracy 10000 on
    this corpus, exactly."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        quality_quantile_band_approx,
    )
    from parallel_map_reduce_spark.operators.queries_llm import (
        q_quality_quantile_filter,
    )
    from parallel_map_reduce_spark.operators.textstats import quality_score_expr

    docs = load_table(spark, sf_dir, "documents")
    out = quality_quantile_band_approx(docs, quality_score_expr(F.col("text")))
    rows = {r["lang"]: r for r in out.collect()}
    exact = q_quality_quantile_filter(spark, sf_dir)
    # cross-check the audit aggregates against the registered exact tier
    from collections import Counter, defaultdict

    ex = defaultdict(list)
    for r in exact.collect():
        ex[r["lang"]].append(r["doc_id"])
    for lang, r in rows.items():
        assert r["approx_band_ok"] is True
        assert r["n_exact_band"] == len(ex[lang])
        assert r["sum_exact_band_ids"] == sum(ex[lang])


def test_ccnet_buckets_partition_each_language_in_thirds(spark, sf_dir):
    from collections import Counter

    from parallel_map_reduce_spark.operators.curation_extras import (
        ccnet_perplexity_buckets,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = ccnet_perplexity_buckets(docs).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        c = Counter(r["bucket"] for r in rs)
        # NTILE(3): sizes differ by at most one, remainder to the head
        sizes = sorted(c.values())
        assert c["head"] >= c["middle"] >= c["tail"]
        assert sizes[-1] - sizes[0] <= 1
        # every head score >= every tail score
        assert min(r["avg_logprob"] for r in rs if r["bucket"] == "head") >= max(
            r["avg_logprob"] for r in rs if r["bucket"] == "tail"
        )


# ---------------------------------------------------------------------------
# Gopher quality bundle (staged r6)
# ---------------------------------------------------------------------------

_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _mkdocs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        _DOCS_SCHEMA,
    )


def test_gopher_quality_signals_on_crafted_docs(spark):
    from parallel_map_reduce_spark.operators.curation_extras import (
        gopher_quality_stats,
    )

    good = "the cat sat with a dog and " + " ".join(f"word{i}" for i in range(48))
    bullets = "- one\n- two\n- three\n* four"
    ellipsy = "so then...\nand more...\nthe end"
    hashy = "# # # # word"
    numeric = "111 222 333 444"
    rows = {
        r["doc_id"]: r
        for r in gopher_quality_stats(
            _mkdocs(spark, [good, bullets, ellipsy, hashy, numeric, ""])
        ).collect()
    }
    assert set(rows) == {0, 1, 2, 3, 4}  # the empty doc is excluded
    g = rows[0]
    assert g["gopher_pass"] is True
    assert g["n_tokens"] == 55 and g["n_stopword_hits"] >= 2
    b = rows[1]
    assert b["frac_bullet_lines"] == 1.0 and b["gopher_pass"] is False
    e = rows[2]
    assert abs(e["frac_ellipsis_lines"] - 2 / 3) < 1e-6
    h = rows[3]
    assert h["hash_ratio"] == 0.8 and h["gopher_pass"] is False
    n = rows[4]
    assert n["frac_alpha_words"] == 0.0 and n["gopher_pass"] is False


def test_gopher_pass_recomputable_from_signals(spark, sf_dir):
    """On the sf corpus every verdict must agree with the thresholds
    re-applied to the emitted signal columns (no doc sits close enough
    to a boundary for display rounding to flip the re-check)."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        gopher_quality_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    for r in gopher_quality_stats(docs).collect():
        want = (
            50 <= r["n_tokens"] <= 100_000
            and 3 <= r["mean_word_len"] <= 10
            and r["hash_ratio"] <= 0.1
            and r["ellipsis_ratio"] <= 0.1
            and r["frac_bullet_lines"] <= 0.9
            and r["frac_ellipsis_lines"] <= 0.3
            and r["frac_alpha_words"] >= 0.8
            and r["n_stopword_hits"] >= 2
        )
        assert r["gopher_pass"] is want


# ---------------------------------------------------------------------------
# DSIR importance weights (staged r6)
# ---------------------------------------------------------------------------


def test_dsir_weights_separate_target_from_offdomain(spark):
    """Two disjoint sub-vocabularies; the target predicate selects the
    'code' docs. A held-out code-vocab doc must outscore every
    prose-vocab doc (its hashed n-grams are dense in the target model),
    and n_feats must be 2n-1 per doc."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators.curation_extras import (
        dsir_importance_weights,
    )

    code = ["def foo bar return", "class foo def bar", "def bar return foo"]
    prose = ["the cat sat down", "a dog ran far", "the dog sat up"]
    held_code = "def foo return bar"
    held_prose = "the cat ran far"
    docs = spark.createDataFrame(
        [(i, t, "code" if i < 3 else "prose", "s", len(t))
         for i, t in enumerate(code + prose)]
        + [(10, held_code, "held", "s", len(held_code)),
           (11, held_prose, "held", "s", len(held_prose))],
        _DOCS_SCHEMA,
    )
    out = {
        r["doc_id"]: r
        for r in dsir_importance_weights(
            docs, F.col("lang") == "code", buckets=512
        ).collect()
    }
    for i, t in enumerate(code + prose):
        assert out[i]["n_feats"] == 2 * len(t.split()) - 1
    assert out[10]["log_weight"] > out[11]["log_weight"]
    assert all(out[10]["log_weight"] > out[i]["log_weight"] for i in (3, 4, 5))
    # the rank-stable per-feature mean discriminates the same way
    assert out[10]["avg_log_weight"] > out[11]["avg_log_weight"]


def test_dsir_deterministic_under_repartition(spark, sf_dir):
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators.curation_extras import (
        dsir_importance_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    a = {
        tuple(r)
        for r in dsir_importance_weights(docs, F.col("lang") == "en").collect()
    }
    b = {
        tuple(r)
        for r in dsir_importance_weights(
            docs.repartition(13), F.col("lang") == "en"
        ).collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# soft-dedup weights + deterministic PPS sampling (staged r6)
# ---------------------------------------------------------------------------


def test_soft_dedup_weights_discount_exact_groups(spark):
    from parallel_map_reduce_spark.operators.curation_extras import (
        soft_dedup_weights,
    )

    texts = ["aaa", "bbb", "aaa", "ccc", "aaa", "bbb"]
    rows = {
        r["doc_id"]: (r["dup_count"], r["weight"])
        for r in soft_dedup_weights(_mkdocs(spark, texts)).collect()
    }
    assert rows[0] == (3, round(1 / 3, 6)) == rows[2] == rows[4]
    assert rows[1] == (2, 0.5) == rows[5]
    assert rows[3] == (1, 1.0)


def test_weighted_sample_exactly_n_and_pps_properties(spark, sf_dir):
    """Madow systematic selection: Σ multiplicity == n exactly; a row
    with weight ≥ W/n is always drawn; zero-weight rows never are; the
    draw is invariant under physical repartitioning."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators.curation_extras import (
        weighted_systematic_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = 73
    out = {
        r["doc_id"]: r["multiplicity"]
        for r in weighted_systematic_sample(docs, "n_chars", n).collect()
    }
    assert sum(out.values()) == n
    out2 = {
        r["doc_id"]: r["multiplicity"]
        for r in weighted_systematic_sample(
            docs.repartition(17), "n_chars", n
        ).collect()
    }
    assert out == out2

    # a dominating weight is drawn with multiplicity ≈ its share; zeros never
    big = docs.withColumn(
        "w",
        F.when(F.col("doc_id") == 7, F.lit(1_000_000))
        .when(F.col("doc_id") % 5 == 0, F.lit(0))
        .otherwise(F.lit(10)),
    )
    n2 = 50
    sel = {
        r["doc_id"]: r["multiplicity"]
        for r in weighted_systematic_sample(big, "w", n2).collect()
    }
    assert sum(sel.values()) == n2
    assert sel.get(7, 0) >= 40  # ~1M of ~1.004M total weight
    assert all(d % 5 != 0 or d == 7 for d in sel)


def test_weighted_sample_uniform_weights_evenly_spaced(spark):
    """With equal weights, systematic PPS degenerates to every-k
    selection along the shuffled order — 20 of 100 docs, no
    multiplicity above 1, and the picks are EXACTLY every 5th row of
    the hash-induced total order (checked against a pure-Python model
    of the bucketed ordering)."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        weighted_systematic_sample,
    )

    docs = _mkdocs(spark, [f"doc number {i}" for i in range(100)]).withColumn(
        "w", F.lit(1)
    )
    sel = weighted_systematic_sample(docs, "w", 20).collect()
    assert len(sel) == 20
    assert all(r["multiplicity"] == 1 for r in sel)
    # model: global order = (hash % 64, hash, id); c_i = position (1-
    # indexed); m_i = 1 iff position divisible by 100/20 = 5
    order = sorted(
        range(100), key=lambda i: (_h64(str(i)) % 64, _h64(str(i)), i)
    )
    want = {order[pos] for pos in range(4, 100, 5)}
    assert {r["doc_id"] for r in sel} == want


# ---------------------------------------------------------------------------
# snapshot diff (staged r6)
# ---------------------------------------------------------------------------


def test_snapshot_diff_statuses(spark):
    from parallel_map_reduce_spark.operators.curation_extras import (
        snapshot_diff,
    )

    old = _mkdocs(spark, ["alpha", "bravo", "charlie", "delta"])
    new = spark.createDataFrame(
        [
            (1, "bravo", "en", "src0", 5),       # unchanged
            (2, "charlie EDITED", "en", "src0", 15),  # changed
            (3, "delta", "en", "src0", 5),       # unchanged
            (9, "echo", "en", "src0", 4),        # added
        ],
        _DOCS_SCHEMA,
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {
        0: "removed",
        1: "unchanged",
        2: "changed",
        3: "unchanged",
        9: "added",
    }


def test_snapshot_diff_moves_digests_not_text(spark, sf_dir):
    """The diff plan must project ids + md5 digests below the join —
    the text column may appear only inside the md5 projection, never as
    a join-side attribute (nothing but 32-byte digests shuffles)."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        snapshot_diff,
    )

    docs = load_table(spark, sf_dir, "documents")
    df = snapshot_diff(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 5 != 0),
    )
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    join_lines = [l for l in plan.splitlines() if "SortMergeJoin" in l or "ShuffledHashJoin" in l or "BroadcastHashJoin" in l]
    assert join_lines  # a join exists
    assert "text" not in " ".join(join_lines)


# ---------------------------------------------------------------------------
# streaming incremental dedup (staged r6)
# ---------------------------------------------------------------------------


def test_streaming_incremental_matches_sequential_admission(spark, sf_dir):
    """The streaming run must equal replaying the same admission loop
    with direct batch calls: dedup batch k against base-kept ∪ earlier
    survivors, append survivors, repeat — proving the foreachBatch
    plumbing (file order, store append, status sink) carries the
    incremental contract faithfully."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        incremental_lsh_dedup,
        streaming_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: (r["batch_id"], r["status"], r["dup_of"])
        for r in streaming_incremental_dedup(spark, docs).collect()
    }

    kept = docs.filter(F.col("doc_id") % 2 == 0)
    want = {}
    for k in (1, 2, 3):
        batch = docs.filter(F.col("doc_id") % 6 == 2 * k - 1)
        res = incremental_lsh_dedup(batch, kept).collect()
        for r in res:
            want[r["doc_id"]] = (k, r["status"], r["dup_of"])
        surv_ids = [r["doc_id"] for r in res if r["status"] == "kept"]
        kept = kept.unionByName(
            batch.filter(F.col("doc_id").isin(surv_ids))
        ).localCheckpoint(eager=True)
    assert got == want


def test_streaming_incremental_dedups_against_earlier_batch_survivor(spark):
    """Order dependence, pinned: a batch-2 doc duplicating a BATCH-1
    survivor (absent from the base kept corpus) must come back
    cross_dup with dup_of = that batch-1 doc — only possible if the
    survivor store grew between micro-batches."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        streaming_incremental_dedup,
    )

    long_a = "the quick brown fox jumps over the lazy dog near the old river bank"
    long_b = "pack my box with five dozen liquor jugs before the night train leaves"
    rows = [
        (0, "completely unrelated base corpus text about spark engines", "en"),
        (1, long_a, "en"),               # batch 1 (1 % 6 == 1) — survives
        (9, long_a + " today", "en"),    # batch 2 (9 % 6 == 3) — dup of 1
        (5, long_b, "en"),               # batch 3 (5 % 6 == 5) — survives
    ]
    docs = spark.createDataFrame(
        [(i, t, l, "src0", len(t)) for i, t, l in rows], _DOCS_SCHEMA
    )
    got = {
        r["doc_id"]: (r["batch_id"], r["status"], r["dup_of"])
        for r in streaming_incremental_dedup(spark, docs).collect()
    }
    assert got[1] == (1, "kept", -1)
    assert got[9] == (2, "cross_dup", 1)
    assert got[5] == (3, "kept", -1)


def test_snapshot_diff_null_text_rows(spark):
    """Presence must come from the join side, not digest nullness: a
    doc whose text is NULL in both snapshots is 'unchanged'; NULL→text
    is 'changed'; and a NULL-text doc absent from 'new' is 'removed'
    (never 'added')."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(0, None, "en", "s", 0), (1, None, "en", "s", 0), (2, "x", "en", "s", 1)],
        _DOCS_SCHEMA,
    )
    new = spark.createDataFrame(
        [(0, None, "en", "s", 0), (1, "now text", "en", "s", 8)],
        _DOCS_SCHEMA,
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {0: "unchanged", 1: "changed", 2: "removed"}


def test_weighted_sample_rejects_fractional_weights(spark):
    import pytest

    from parallel_map_reduce_spark.operators.curation_extras import (
        weighted_systematic_sample,
    )

    docs = _mkdocs(spark, ["a", "b"]).withColumn("w", F.lit(0.5))
    with pytest.raises(ValueError, match="must be integral"):
        weighted_systematic_sample(docs, "w", 1)


def test_weighted_sample_rejects_overflow_and_zero_total(spark):
    import pytest

    from parallel_map_reduce_spark.operators.curation_extras import (
        weighted_systematic_sample,
    )

    # weights small enough that the cumulative sum stays in int64
    # (W = 2^61) but W·n would overflow — the guard's precise domain;
    # cumsum overflow itself already fails loudly under ANSI mode
    huge = _mkdocs(spark, ["a", "b"]).withColumn("w", F.lit(2**60))
    with pytest.raises(ValueError, match="overflows int64"):
        weighted_systematic_sample(huge, "w", 8)
    zeros = _mkdocs(spark, ["a", "b"]).withColumn("w", F.lit(0))
    with pytest.raises(ValueError, match="must be positive"):
        weighted_systematic_sample(zeros, "w", 1)


def test_weighted_sample_rejects_negative_weights(spark):
    import pytest

    from parallel_map_reduce_spark.operators.curation_extras import (
        weighted_systematic_sample,
    )

    # A negative weight would silently diverge cross-engine (Spark DIV
    # truncates toward zero, DuckDB // floors) — rejected up front.
    neg = _mkdocs(spark, ["a", "b", "c"]).withColumn(
        "w", F.when(F.col("doc_id") == 1, F.lit(-3)).otherwise(F.lit(5))
    )
    with pytest.raises(ValueError, match="non-negative"):
        weighted_systematic_sample(neg, "w", 2)


# ---------------------------------------------------------------------------
# shared sequential-fold Gram kernel (functions/gram.py, r7 extraction)
# ---------------------------------------------------------------------------


def test_gram_kernel_tiled_equals_untiled():
    """Tiling changes memory, never values: every (ia, ib, sim) triple
    from small-block runs must bit-match the single-tile run, in both
    the triangular and cross forms, including ragged tail tiles and
    zero-norm rows."""
    import numpy as np

    from parallel_map_reduce_spark.functions.gram import cosine_pairs

    rng = np.random.RandomState(7)
    n, m, dim = 53, 31, 16
    a = rng.randn(n, dim)
    a[11] = 0.0  # zero-norm guard path
    b = rng.randn(m, dim)
    ids_a = np.arange(100, 100 + n)
    ids_b = np.arange(500, 500 + m)

    def as_set(res):
        ia, ib, s = res
        return set(zip(ia.tolist(), ib.tolist(), s.tolist()))

    for blk in (1, 7, 50, 10_000):
        assert as_set(cosine_pairs(ids_a, a, -1.0, block=blk)) == as_set(
            cosine_pairs(ids_a, a, -1.0, block=10_000)
        )
        assert as_set(
            cosine_pairs(ids_a, a, 0.1, ids_r=ids_b, mat_r=b, block=blk)
        ) == as_set(cosine_pairs(ids_a, a, 0.1, ids_r=ids_b, mat_r=b, block=10_000))
    # triangular form emits each unordered pair exactly once
    ia, ib, _ = cosine_pairs(ids_a, a, -1.0)
    assert len(ia) == n * (n - 1) // 2
    assert (ia != ib).all()


def test_seq_gram_chunked_bitwise_equals_naive_fold():
    """The r14 cache-blocked seq_gram must be BIT-identical to the naive
    per-dimension fold it replaced (g[i,j] = ((0 + x0·y0) + x1·y1) + …):
    row-chunking the accumulator changes memory traffic, never any
    element's addition order. Adversarial magnitudes (1e-8..1e8 mixes)
    make any reordering visible; shapes cover chunk-boundary tails and
    degenerate 1-row/1-col inputs."""
    import numpy as np

    from parallel_map_reduce_spark.functions.gram import seq_gram

    def naive(a, b):
        g = np.zeros((a.shape[0], b.shape[0]))
        for d in range(a.shape[1]):
            g += a[:, d, None] * b[None, :, d]
        return g

    rng = np.random.RandomState(3)
    for m, n, dim in [(1, 1, 1), (3, 5, 7), (257, 129, 64), (600, 2048, 64)]:
        a = rng.randn(m, dim) * rng.choice([1e-8, 1.0, 1e8], size=(m, dim))
        b = rng.randn(n, dim) * rng.choice([1e-8, 1.0, 1e8], size=(n, dim))
        assert np.array_equal(seq_gram(a, b), naive(a, b))


def test_cluster_sharded_skewed_cluster_bounded_memory(spark, sf_dir):
    """The r6 OOM mode enforced away: ALL vectors forced into one
    cluster (maximum skew) must still produce exactly the global exact
    tier's pairs — and do so through the tiled kernel, whose peak pair
    state is block², not occupancy². A small block exercises many
    tiles on the same data to prove the tiling is value-neutral under
    skew."""
    import numpy as np

    from parallel_map_reduce_spark.functions.gram import cosine_pairs
    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.operators.curation_extras import (
        cluster_sharded_pairs,
    )
    from parallel_map_reduce_spark.operators.queries_llm import (
        EMBED_DUP_THRESHOLD,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    skewed = emb.select("vec_id").withColumn("cluster", F.lit(0))
    sp = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cluster_sharded_pairs(emb, skewed, EMBED_DUP_THRESHOLD).collect()
    }
    gp = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=EMBED_DUP_THRESHOLD
        ).collect()
    }
    assert sp == gp  # one giant cluster == the global all-pairs answer
    # same data through deliberately tiny tiles: values identical
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    ia, ib, sims = cosine_pairs(ids, mat, EMBED_DUP_THRESHOLD, block=17)
    tiled = {
        (int(min(x, y)), int(max(x, y))): float(s)
        for x, y, s in zip(ia, ib, sims)
    }
    assert tiled == gp


def test_cluster_sharded_hot_cluster_runs_parallel_tiles(spark, sf_dir):
    """The r7 verdict's straggler mode enforced away: a deliberately hot
    cluster (every vector in cluster 0) above the occupancy threshold
    must (a) produce BIT-IDENTICAL pairs to the single-kernel form —
    the block-pair decomposition is value-neutral — and (b) actually
    run its tiles in MORE THAN ONE task, proven by an accumulator of
    distinct partition ids the hot-path kernel reports from the
    workers."""
    from pyspark.accumulators import AccumulatorParam

    from parallel_map_reduce_spark.operators.curation_extras import (
        cluster_sharded_pairs,
    )
    from parallel_map_reduce_spark.operators.queries_llm import (
        EMBED_DUP_THRESHOLD,
    )

    class SetAccum(AccumulatorParam):
        def zero(self, v):
            return set()

        def addInPlace(self, a, b):
            return a | b

    emb = load_table(spark, sf_dir, "embeddings")
    skewed = emb.select("vec_id").withColumn("cluster", F.lit(0))
    probe = spark.sparkContext.accumulator(set(), SetAccum())
    # At test sf the tile groups are a few KB each, so AQE's partition
    # coalescing folds them back into one task — a size-based runtime
    # choice that cannot happen on a genuinely hot cluster (its tiles
    # are far above the 64 MB advisory target). Disable it here so the
    # test observes the decomposition's task grain, not the coalescer.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old_coalesce = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        hot = {
            (r["cluster"], r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in cluster_sharded_pairs(
                emb,
                skewed,
                EMBED_DUP_THRESHOLD,
                block_above=2,
                num_blocks=4,
                _task_probe=probe,
            ).collect()
        }
    finally:
        spark.conf.set(coalesce_key, old_coalesce)
    single = {
        (r["cluster"], r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cluster_sharded_pairs(
            emb, skewed, EMBED_DUP_THRESHOLD, block_above=None
        ).collect()
    }
    assert hot == single
    assert len(hot) > 0
    # 4 blocks -> 10 tile groups, hash-spread over 32 shuffle partitions:
    # the hot cluster's quadratic work ran in distinct tasks, not one.
    assert len(probe.value) > 1, probe.value
    # mixed occupancy: a second, sub-threshold cluster goes through the
    # single-kernel branch while the hot one decomposes; the union must
    # still equal the split-disabled answer on the same assignment
    mixed = skewed.withColumn(
        "cluster", F.when(F.col("vec_id") % 5 == 0, 1).otherwise(0)
    )
    n_c1 = mixed.filter(F.col("cluster") == 1).count()
    split = {
        (r["cluster"], r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cluster_sharded_pairs(
            emb,
            mixed,
            EMBED_DUP_THRESHOLD,
            block_above=n_c1 + 1,
            num_blocks=4,
        ).collect()
    }
    plain = {
        (r["cluster"], r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in cluster_sharded_pairs(
            emb, mixed, EMBED_DUP_THRESHOLD, block_above=None
        ).collect()
    }
    assert split == plain


def test_ivf_stored_matches_self_contained(spark, sf_dir, tmp_path):
    """Two-phase IVF answers from the persisted index must equal the
    self-contained ivf_ann on the same parameters: same seed-fixed
    quantizer training, same assignment/probe UDF math (shared
    _ivf_udfs), centroids round-tripping parquet exactly."""
    from parallel_map_reduce_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_index")
    similarity.ivf_build_index(emb, idx)
    stored = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in similarity.ivf_query_stored(
            spark, idx, query_ids=list(range(10)), k=5
        ).collect()
    }
    direct = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in similarity.ivf_ann(emb, query_ids=list(range(10)), k=5).collect()
    }
    assert stored == direct


def test_compact_store_slices_roundtrip(spark, sf_dir, tmp_path):
    """Compaction folds base + batch_* slices into one base slice with
    row content preserved exactly; a leftover _compact staging dir is
    never read as a slice; an already-compact store is a no-op."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    store = str(tmp_path / "store")
    docs.filter(F.col("doc_id") % 3 == 0).write.parquet(f"{store}/base")
    docs.filter(F.col("doc_id") % 3 == 1).write.parquet(f"{store}/batch_1")
    docs.filter(F.col("doc_id") % 3 == 2).write.parquet(f"{store}/batch_2")
    before = sorted(
        tuple(r) for r in spark.read.parquet(f"{store}/base", f"{store}/batch_1", f"{store}/batch_2").collect()
    )
    from parallel_map_reduce_spark.operators import curation_extras as ce

    assert ce.compact_store_slices(spark, store) == 3
    import os

    assert sorted(n for n in os.listdir(store) if n != "_lock") == ["base"]
    after = sorted(tuple(r) for r in spark.read.parquet(f"{store}/base").collect())
    assert after == before
    assert ce.compact_store_slices(spark, store) == 0  # idempotent
    # a crashed compaction's staging dir is invisible to the slice filter
    assert ce._store_slices(["_compact", "base", "batch_1"], None) == [
        "base",
        "batch_1",
    ]


def _make_store(spark, sf_dir, root) -> tuple[str, list[tuple]]:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    store = str(root / "store")
    docs.filter(F.col("doc_id") % 3 == 0).write.parquet(f"{store}/base")
    docs.filter(F.col("doc_id") % 3 == 1).write.parquet(f"{store}/batch_1")
    docs.filter(F.col("doc_id") % 3 == 2).write.parquet(f"{store}/batch_2")
    rows = sorted(
        tuple(r)
        for r in spark.read.parquet(
            f"{store}/base", f"{store}/batch_1", f"{store}/batch_2"
        ).collect()
    )
    return store, rows


def _read_store(spark, store) -> list[tuple]:
    import os

    from parallel_map_reduce_spark.operators import curation_extras as ce

    subs = ce._store_slices(sorted(os.listdir(store)), None)
    return sorted(
        tuple(r)
        for r in spark.read.parquet(
            *(os.path.join(store, s) for s in subs)
        ).collect()
    )


def test_sampled_miss_audit_no_op_at_small_sf_and_samples_at_sf01(spark, sf_dir):
    """The sampled miss audit must (a) equal the full audit row wherever
    d = ceil(n/cap) = 1 (sf0.001: 500 <= 512 vectors — the no-op
    contract that lets the two queries audit each other in a shared
    window), and (b) at sf0.1 (2000 vectors, d = 4) run on the exact
    hash64-residue subset with both containment booleans still TRUE."""
    import hashlib

    import duckdb

    from parallel_map_reduce_spark.operators.queries_curation import (
        _AUDIT_SAMPLE_CAP,
        _AUDIT_SAMPLE_SEED,
        q_semantic_dedup_sharded_miss_audit as q_full,
        q_semantic_dedup_sharded_miss_audit_sampled as q_sampled,
    )

    (full,) = q_full(spark, sf_dir).collect()
    (sampled,) = q_sampled(spark, sf_dir).collect()
    assert tuple(sampled) == tuple(full)  # d == 1 at this sf

    sf01 = "/root/testdata/sf0.1"
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT vec_id FROM '{sf01}/embeddings.parquet'"
        ).fetchall()
    ]
    d = -(-len(ids) // _AUDIT_SAMPLE_CAP)
    assert d > 1  # the sample is real at sf0.1

    def h64(v: int) -> int:
        return int(
            hashlib.md5(
                f"{v}\x1f{_AUDIT_SAMPLE_SEED}".encode()
            ).hexdigest()[:15],
            16,
        )

    expected_n = sum(1 for v in ids if h64(v) % d == 0)
    (row,) = q_sampled(spark, sf01).collect()
    assert row["n_docs"] == expected_n
    assert row["keep_superset_ok"] and row["disagree_ok"]


def test_compact_recovery_pre_promote_mid_rename(spark, sf_dir, tmp_path):
    """Crash mid-rename (staging union complete, SOME slices renamed to
    _old_): the _old_ dirs hold the only copy of their rows. Recovery
    must roll the renames back — the pre-fix rmtree silently lost
    them — and a rerun compaction must then fold the full content."""
    import os

    from parallel_map_reduce_spark.operators import curation_extras as ce

    store, rows = _make_store(spark, sf_dir, tmp_path)
    # Simulate the crash: write the staging union, rename ONE slice.
    spark.read.parquet(
        f"{store}/base", f"{store}/batch_1", f"{store}/batch_2"
    ).write.parquet(f"{store}/_compact")
    os.replace(f"{store}/base", f"{store}/_old_base")
    assert ce.recover_store_slices(store) == "rolled_back"
    assert sorted(
        n for n in os.listdir(store) if n != "_lock"
    ) == ["base", "batch_1", "batch_2"]
    assert _read_store(spark, store) == rows
    # And the whole flow through a rerun compaction preserves content.
    os.replace(f"{store}/batch_2", f"{store}/_old_batch_2")
    spark.range(1).write.mode("overwrite").parquet(f"{store}/_compact")
    assert ce.compact_store_slices(spark, store) == 3
    assert _read_store(spark, store) == rows


def test_compact_recovery_pre_promote_all_renamed(spark, sf_dir, tmp_path):
    """Crash after EVERY slice was renamed but before the promote: the
    _old_ dirs are the entire store. The pre-fix cleanup rmtree'd them
    all — total store loss; recovery must restore every slice."""
    import os

    from parallel_map_reduce_spark.operators import curation_extras as ce

    store, rows = _make_store(spark, sf_dir, tmp_path)
    spark.read.parquet(
        f"{store}/base", f"{store}/batch_1", f"{store}/batch_2"
    ).write.parquet(f"{store}/_compact")
    for s in ("base", "batch_1", "batch_2"):
        os.replace(f"{store}/{s}", f"{store}/_old_{s}")
    assert ce.recover_store_slices(store) == "rolled_back"
    assert sorted(
        n for n in os.listdir(store) if n != "_lock"
    ) == ["base", "batch_1", "batch_2"]
    assert _read_store(spark, store) == rows


def test_compact_recovery_post_promote(spark, sf_dir, tmp_path):
    """Crash after the promote, before the _old_ deletes: base already
    holds the union, the _old_ dirs are dead renames — recovery deletes
    them and the store content is unchanged."""
    import os
    import shutil

    from parallel_map_reduce_spark.operators import curation_extras as ce

    store, rows = _make_store(spark, sf_dir, tmp_path)
    spark.read.parquet(
        f"{store}/base", f"{store}/batch_1", f"{store}/batch_2"
    ).write.parquet(f"{store}/_compact")
    for s in ("base", "batch_1", "batch_2"):
        os.replace(f"{store}/{s}", f"{store}/_old_{s}")
    os.replace(f"{store}/_compact", f"{store}/base")  # the promote
    assert ce.recover_store_slices(store) == "cleared_dead"
    assert sorted(
        n for n in os.listdir(store) if n != "_lock"
    ) == ["base"]
    assert _read_store(spark, store) == rows
    shutil.rmtree(store)


def test_compact_recovery_exhaustive_rename_subsets(spark, tmp_path):
    """Exhaustive pre-promote crash sweep: the compaction can die after
    renaming ANY subset of slices (renames happen one at a time). For
    every subset of {base, batch_1, batch_2}, recovery must restore the
    exact original content and a rerun compaction must fold it — the
    uniform-rollback property the state machine claims, checked over
    all 8 reachable states rather than three representatives."""
    import itertools
    import os
    import shutil

    from parallel_map_reduce_spark.operators import curation_extras as ce

    slices = ["base", "batch_1", "batch_2"]
    for subset_size in range(len(slices) + 1):
        for renamed in itertools.combinations(slices, subset_size):
            store = str(tmp_path / f"store_{'_'.join(renamed) or 'none'}")
            for i, s in enumerate(slices):
                spark.range(10 * i, 10 * i + 10).write.parquet(
                    f"{store}/{s}"
                )
            expected = sorted(range(30))
            spark.read.parquet(
                *(f"{store}/{s}" for s in slices)
            ).write.parquet(f"{store}/_compact")
            for s in renamed:
                os.replace(f"{store}/{s}", f"{store}/_old_{s}")
            state = ce.recover_store_slices(store)
            assert state == ("rolled_back" if renamed else "cleared_staging")
            got = sorted(
                r["id"]
                for r in spark.read.parquet(
                    *(f"{store}/{s}" for s in slices)
                ).collect()
            )
            assert got == expected, f"rows lost after crash state {renamed}"
            assert ce.compact_store_slices(spark, store) == 3
            got2 = sorted(
                r["id"] for r in spark.read.parquet(f"{store}/base").collect()
            )
            assert got2 == expected
            shutil.rmtree(store)


def test_compact_recovery_partial_staging_and_clean(spark, sf_dir, tmp_path):
    """A crash mid-union-write leaves a partial _compact and an intact
    plain generation: recovery just clears the staging dir. A clean
    store is a no-op. A live/_old_ name collision (unreachable by the
    compaction's state machine) raises instead of guessing."""
    import os

    import pytest

    from parallel_map_reduce_spark.operators import curation_extras as ce

    store, rows = _make_store(spark, sf_dir, tmp_path)
    os.makedirs(f"{store}/_compact")  # partial: no parquet written yet
    assert ce.recover_store_slices(store) == "cleared_staging"
    assert _read_store(spark, store) == rows
    assert ce.recover_store_slices(store) == "clean"
    # collision: both batch_1 and _old_batch_1 exist alongside _compact
    os.makedirs(f"{store}/_compact")
    os.makedirs(f"{store}/_old_batch_1")
    with pytest.raises(RuntimeError, match="both exist"):
        ce.recover_store_slices(store)


def test_store_lock_reader_waits_for_inflight_compaction(
    spark, sf_dir, tmp_path
):
    """The quiesced-store contract, ENFORCED (VERDICT r10 #4): a reader
    whose entry recovery hits a store mid-compaction must BLOCK on the
    store lock until the fold finishes and then see a clean store —
    not race the staging dir (pre-lock behavior: a loud
    FileNotFoundError at best; at worst an unlocked recovery 'rolling
    back' a live fold it mistook for a crash). The compactor thread
    here holds store_lock across the exact dangerous window (staging
    written, one slice renamed away) the mid-rename crash test pins."""
    import os
    import shutil
    import threading
    import time

    from parallel_map_reduce_spark.operators import curation_extras as ce

    store, rows = _make_store(spark, sf_dir, tmp_path)
    hold = 0.8
    in_window = threading.Event()

    def compactor():
        with ce.store_lock(store):
            ce._recover_store_slices_locked(store)
            spark.read.parquet(
                f"{store}/base", f"{store}/batch_1", f"{store}/batch_2"
            ).write.parquet(f"{store}/_compact")
            os.replace(f"{store}/base", f"{store}/_old_base")
            in_window.set()
            time.sleep(hold)
            os.replace(f"{store}/batch_1", f"{store}/_old_batch_1")
            os.replace(f"{store}/batch_2", f"{store}/_old_batch_2")
            os.replace(f"{store}/_compact", f"{store}/base")
            for s in ("base", "batch_1", "batch_2"):
                shutil.rmtree(f"{store}/_old_{s}")

    th = threading.Thread(target=compactor)
    th.start()
    try:
        assert in_window.wait(60)
        t0 = time.monotonic()
        state = ce.recover_store_slices(store)
        waited = time.monotonic() - t0
    finally:
        th.join()
    # Blocked through the window instead of acting on the mid-fold
    # state, then observed the finished store.
    assert state == "clean", state
    assert waited >= hold * 0.5, waited
    assert _read_store(spark, store) == rows


def test_store_lock_timeout_and_fastpath(tmp_path):
    """A wedged holder surfaces as TimeoutError (not an infinite hang);
    a never-compacted store (no markers, no _lock file) takes the
    lock-free fast path; and the same THREAD cannot re-enter — flock
    treats a second fd's acquire as contended, which is exactly the
    not-reentrant contract store_lock documents."""
    import os

    import pytest

    from parallel_map_reduce_spark.operators import curation_extras as ce

    store = str(tmp_path / "locked_store")
    os.makedirs(store)
    # Fast path: nothing in the listing at all → "clean", and no _lock
    # file is created by the probe.
    assert ce.recover_store_slices(store) == "clean"
    assert os.listdir(store) == []
    with ce.store_lock(store):
        # _lock now exists → recovery must go through the lock, find
        # it held, and time out loudly.
        with pytest.raises(TimeoutError, match="lock held"):
            ce.recover_store_slices(store, lock_timeout=0.3)
    # Released: recovery proceeds (the persistent _lock file alone is
    # not an in-flight section, just a past one).
    assert ce.recover_store_slices(store) == "clean"


def test_ivf_append_assigns_to_stored_centroids(spark, sf_dir, tmp_path):
    """Incremental index append: new vectors land in the cell the
    STORED centroids dictate (no retrain), the inverted file then
    holds every vector exactly once, and an appended exact duplicate
    of a query vector is found as its top stored-index neighbor."""
    import numpy as np

    from parallel_map_reduce_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ivf_index")
    similarity.ivf_build_index(old, idx)
    similarity.ivf_append_to_index(new, idx)
    inv = spark.read.parquet(f"{idx}/invfile")
    assert inv.count() == emb.count()
    assert inv.select("vec_id").distinct().count() == emb.count()
    # appended rows sit in the cell the stored centroids dictate
    crows = sorted(
        spark.read.parquet(f"{idx}/centroids").collect(), key=lambda r: r["cid"]
    )
    cmat = np.array([r["center"] for r in crows])
    for r in inv.filter(F.col("vec_id") % 2 == 1).limit(20).collect():
        v = np.asarray(r["vec"], dtype="float64")
        assert r["cid"] == int(((v - cmat) ** 2).sum(axis=1).argmin())
    # a planted duplicate of query 0's vector, appended, is its top hit
    q0 = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    dup = spark.createDataFrame(
        [(999_999, list(q0))], "vec_id long, embedding array<float>"
    )
    similarity.ivf_append_to_index(dup, idx)
    top = similarity.ivf_query_stored(spark, idx, query_ids=[0], k=1).collect()
    assert top and top[0]["neighbor_id"] == 999_999


def test_compacted_chain_matches_streaming_chain(spark, sf_dir):
    """Mid-run store compaction must be invisible to admission
    semantics: the 3-batch chain with all three stores folded after
    batch 2 bit-matches the streaming engine's uncompacted chain
    (same statuses, same dup_of canonicals, same batch ids)."""
    from parallel_map_reduce_spark.operators import curation_extras as ce

    docs = load_table(spark, sf_dir, "documents")
    compacted = sorted(
        tuple(r)
        for r in ce.incremental_lsh_dedup_compacted(spark, docs).collect()
    )
    streamed = sorted(
        tuple(r)
        for r in ce.streaming_incremental_dedup(spark, docs).collect()
    )
    assert compacted == streamed


def test_compacted_chain_rejects_bad_compact_after(spark, sf_dir):
    import pytest

    from parallel_map_reduce_spark.operators import curation_extras as ce

    docs = load_table(spark, sf_dir, "documents")
    for bad in (0, 4, -1):
        with pytest.raises(ValueError):
            ce.incremental_lsh_dedup_compacted(
                spark, docs, n_batches=3, compact_after=bad
            )
