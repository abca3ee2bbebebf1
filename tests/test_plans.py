"""Physical-plan posture tests — the 100 TB discipline, asserted.

These lock in the plan shapes that make the engine scale: filters and
projections reaching the parquet scan, dimension joins going broadcast,
top-k compiling to TakeOrderedAndProject, aggregations running
partial→final. A regression here usually means a silent 100× cost at
cluster scale even though results stay correct.
"""

import io
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = entrymod.queries()[name](spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def read_schema_line(plan: str) -> str:
    lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert lines, f"no ReadSchema line in plan:\n{plan}"
    return lines[0]


def test_filter_and_projection_pushed_to_scan(spark):
    plan = plan_of(spark, "filter_project")
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity,45.0)" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # column pruning: the scan must not read all 11 lineitem columns
    read_schema = read_schema_line(plan)
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema
    assert "l_discount" not in read_schema


def test_dim_join_is_broadcast(spark):
    plan = plan_of(spark, "join_orders_customer")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q5_only_fact_join_shuffles(spark):
    """All five dimension joins must broadcast; the only exchanges allowed
    are the fact-fact join and the final aggregation."""
    plan = plan_of(spark, "tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "sort_limit_top_orders")
    assert "TakeOrderedAndProject" in plan


def test_wordcount_has_partial_aggregation(spark):
    """Map-side combine is the architectural win over the reference's
    per-token locking (SURVEY §4): two HashAggregate phases around one
    Exchange."""
    plan = plan_of(spark, "wordcount", mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(word" in plan


def test_semi_join_stays_semi(spark):
    plan = plan_of(spark, "semi_join_customers_with_orders", mode="simple")
    assert "LeftSemi" in plan


def test_wordcount_whole_stage_codegen(spark):
    """The tokenize→explode→count pipeline must run inside whole-stage
    codegen (no Python, no interpreted expressions in the hot path)."""
    # AQE wraps the plan and reports 0 codegen subtrees before execution;
    # disable it just for this plan inspection.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(spark, "wordcount", mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan
    assert "Found 0" not in plan


def test_asof_join_single_shuffle(spark):
    """The union+window as-of join must cost exactly one hash exchange
    (the key partition) — no join node, no candidate blow-up."""
    plan = plan_of(spark, "asof_join_purchase_to_view", mode="simple")
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan
    assert "Join" not in plan.replace("Adjoin", "")  # no join operator at all


def test_interval_join_never_cartesian(spark):
    """The time band must stay a residual on an equality-key join."""
    plan = plan_of(spark, "interval_join_event_pairs", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q10_topk_and_broadcast_dims(spark):
    plan = plan_of(spark, "tpch_q10_returned_items", mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_pipeline_clean_corpus_single_scan(spark):
    """The cleaning pipeline must stay one pass over the corpus: the
    naive operator composition (dedup semi-join + score join) re-scanned
    documents 8x with 12 exchanges. Regression bound: ≤2 scans (the
    second is plan-duplication of the same pushed-down scan), ≤4
    exchanges."""
    plan = plan_of(spark, "pipeline_clean_corpus")
    assert plan.count("Scan parquet") <= 2, plan
    assert plan.count("Exchange") <= 4, plan


def test_knn_broadcasts_queries_not_corpus(spark):
    plan = plan_of(spark, "knn_bruteforce", mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # corpus side must not be exchanged for the join itself
    assert "CartesianProduct" not in plan


def test_q18_semi_join_and_topk(spark):
    """The IN+HAVING subquery must compile to a semi join (never a
    distinct+inner-join expansion), and the ORDER BY + LIMIT 100 to a
    per-partition k-heap."""
    plan = plan_of(spark, "tpch_q18_large_volume_customer", mode="simple")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q19_disjunctive_stays_broadcast_residual(spark):
    """The brand/size/quantity disjunction must remain a residual on one
    broadcast hash join — not a nested-loop or cartesian plan."""
    plan = plan_of(spark, "tpch_q19_disjunctive_revenue", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_anti_join(spark):
    """NOT EXISTS must stay a left-anti join; the scalar AVG must come in
    as a broadcast (1-row build side), never a shuffle."""
    plan = plan_of(spark, "tpch_q22_dormant_customers", mode="simple")
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_q17_decorrelated_no_cartesian(spark):
    """The correlated AVG subquery must decorrelate into an aggregate
    joined on the part key — no per-row re-evaluation, no cartesian."""
    plan = plan_of(spark, "tpch_q17_small_qty_revenue", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_latest_event_single_window_pass(spark):
    """Top-1-per-group must be one exchange on user_id + one window sort;
    a second exchange would mean the filter didn't stay in the same
    stage."""
    plan = plan_of(spark, "latest_event_per_user", mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan


def test_q3_never_broadcasts_a_fact(spark):
    """The CBO's small-sf size estimate wants to broadcast lineitem as a
    hash build side — the plan that dies at 100 TB. The merge hint must
    keep the fact-fact join sort-merge, with exactly the one dim
    (customer) broadcast."""
    plan = plan_of(spark, "tpch_q3_shipping_priority", mode="simple")
    assert "SortMergeJoin" in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_aqe_splits_skewed_join_partition(spark):
    """The session's AQE skew-join handling must actually fire: a
    Zipfian hot key (95% of rows) on a sort-merge join gets its
    partition split at runtime — 'AQEShuffleRead ... skewed' with
    skew=true in the executed plan. This is the runtime half of the skew
    story (salting recipes in skew.py are the planner half)."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        # thresholds shrunk so local[32]-sized data exhibits "skew"
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 100 < 95, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("r").alias("rv")
        )
        joined = left.join(right, "k")
        assert len(joined.collect()) == 200000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_funnel_single_exchange_window_chain(spark):
    """The funnel must be three chained window passes over ONE user_id
    exchange plus the final single-row aggregation — never the 3-way
    events-join-events cascade of its SQL formulation."""
    plan = plan_of(spark, "funnel_conversion", mode="simple")
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan


def test_decontaminate_broadcasts_eval_side(spark):
    """Decontamination must probe a broadcast eval-shingle hash table —
    a sort-merge join here would shuffle the whole training corpus on
    the shingle key, the exact cost the operator exists to avoid."""
    plan = plan_of(spark, "decontaminate_corpus")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_decontaminate_broadcasts_and_combines_map_side(spark):
    """The semantic decontamination tier: the (tiny) eval-embedding
    side must broadcast into the training scan, the per-training-id
    aggregate must combine map-side (partial_sum/partial_max before
    the only exchange — the |train|x|eval| pair stream never moves),
    and nothing sort-merges. Corpus-side math is JVM folds — no Python
    worker anywhere."""
    plan = plan_of(spark, "semantic_decontaminate")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan and "partial_max" in plan
    assert "Python" not in plan and "Arrow" not in plan


def test_stratified_sample_is_single_scan_no_shuffle(spark):
    """Hash-gated sampling is a pure row predicate: one pruned parquet
    scan, a codegen'd Filter, and NO Exchange — any shuffle would mean
    the sample stopped being embarrassingly parallel."""
    plan = plan_of(spark, "stratified_sample_deterministic")
    assert "Exchange" not in plan
    # Pruning is only observable on a real parquet scan: earlier test
    # modules may have .cache()d the documents table in this shared
    # session, in which case the plan reads the full-schema
    # InMemoryRelation and the ReadSchema line is the cache's, not ours.
    if "InMemoryTableScan" not in plan:
        assert "text" not in read_schema_line(plan)  # never reads the payload


def test_doc_repetition_is_projection_only(spark):
    """The duplicated-bigram stats are computed inside each row's own
    array — the plan must contain NO Exchange (an explode→groupBy shape
    would shuffle every bigram occurrence at corpus scale)."""
    plan = plan_of(spark, "doc_repetition_stats")
    assert "Exchange" not in plan


def test_lsh_verify_restricted_to_candidates(spark):
    """The LSH verify stage must compute shingle sets only for docs in
    candidate pairs: a LeftSemi join gates the documents scan, so the
    collect_set shuffle moves candidates, not the corpus."""
    plan = plan_of(spark, "minhash_lsh_dedup_pairs", mode="simple")
    assert "LeftSemi" in plan


def test_prefix_tier_materializes_index_once(spark):
    """The prefix tier's final plan must read ONLY materialized frames:
    the dictionary-encoded index is checkpointed once and feeds the
    ranking, both self-join sides, and the verify sets, so no parquet
    scan (and no re-shingling) appears downstream — and the self-join
    key is the dictionary long `_sid`, never the shingle string."""
    plan = plan_of(spark, "ngram_jaccard_pairs_prefix", mode="simple")
    assert "FileScan parquet" not in plan and "Scan parquet" not in plan
    assert "ExistingRDD" in plan  # checkpointed index/candidates inputs
    assert "shingle" not in plan  # strings never leave the dictionary plan


def test_pii_scrub_is_projection_only(spark):
    """PII detection + redaction is regex projection work: the plan must
    contain NO Exchange — the scrub rides along the scan, and at corpus
    scale any shuffle here would be pure waste."""
    plan = plan_of(spark, "pii_redaction_stats")
    assert "Exchange" not in plan


def test_line_dedup_builds_broadcast_dup_dictionary(spark):
    """The duplicated-line dictionary must come back to the corpus as a
    broadcast hash join (the dictionary is tiny relative to the corpus;
    AQE picks broadcast), and the final accounting groups per doc — the
    corpus itself is never sort-merge-joined on line text."""
    plan = plan_of(spark, "line_dedup_stats", mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cluster_assign_broadcasts_seeds(spark):
    """Nearest-centroid assignment must broadcast the k seed centroids
    (BroadcastNestedLoopJoin over a k-row build side) and rank with the
    group-limit optimization — never shuffle the corpus against the
    seeds."""
    plan = plan_of(spark, "embedding_cluster_assign", mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_merge_aggregates_vocab_not_corpus(spark):
    """BPE merge-pair counting must collapse the corpus to the word
    frequency table first (two partial→final agg pairs) and finish with
    TakeOrderedAndProject — a full sort of the pair table would be
    wasted work for a top-10."""
    plan = plan_of(spark, "bpe_merge_pairs", mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("partial_count") + plan.count("partial_sum") >= 2


def test_tfidf_materializes_tf_once(spark):
    """The tf aggregate feeds both the per-doc side and the df side; the
    final plan must read it as ONE checkpointed input (ExistingRDD), not
    re-derive it from a second corpus scan."""
    plan = plan_of(spark, "tfidf_top_terms", mode="simple")
    assert "ExistingRDD" in plan
    # only the 1-row corpus-count aggregate may still scan parquet
    scan_lines = [
        l for l in plan.splitlines() if "Scan" in l and "parquet" in l
    ]
    assert len(scan_lines) <= 1, scan_lines


def test_sample_exact_n_is_take_ordered(spark):
    """The exact-n carve-out must compile to TakeOrderedAndProject —
    per-partition n-row heaps, never a full sort+limit."""
    plan = plan_of(spark, "sample_exact_n", mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_stratified_exact_n_uses_group_limit(spark):
    """Per-stratum exact-n must carry the WindowGroupLimit optimization
    so skewed strata keep n-row heaps instead of materializing."""
    plan = plan_of(spark, "stratified_exact_n")
    assert "WindowGroupLimit" in plan


def test_bigram_lm_broadcasts_scalar_total(spark):
    """The bigram LM's corpus-total join must be a broadcast of the
    1-row aggregate; the model joins stay hash joins on the token keys,
    never a nested-loop against the corpus."""
    plan = plan_of(spark, "bigram_lm_doc_scores", mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kn_trigram_lm_plan_shape(spark):
    """The KN trigram scorer keeps the bigram rung's plan discipline:
    the 1-row continuation-total joins as a broadcast (never a
    CartesianProduct against the position frame), the count-model
    joins are hash joins on the n-gram keys, and the per-doc mean is
    partially aggregated map-side before the exchange."""
    plan = plan_of(spark, "kn_trigram_lm_doc_scores", mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    fplan = plan_of(spark, "kn_trigram_lm_doc_scores")
    assert "partial_count" in fplan or "partial_avg" in fplan


def test_cluster_sharded_single_shuffle_into_kernel(spark):
    """Cluster-sharded SemDeDup's pair stage, split-disabled form
    (block_above=None): exactly ONE exchange on the cluster key feeds
    the per-cluster Arrow kernel (FlatMapGroupsInPandas) — the corpus
    must not be re-shuffled or re-scanned per block."""
    from parallel_map_reduce_spark.operators import curation_extras as ce
    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    assigned = (
        similarity.nearest_centroid_assign(emb)
        .select("vec_id", "cluster")
        .localCheckpoint(eager=True)
    )
    df = ce.cluster_sharded_pairs(emb, assigned, 0.4, block_above=None)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "FlatMapGroupsInPandas" in plan
    kernel_shuffles = [
        l for l in plan.splitlines() if "Exchange hashpartitioning(cluster" in l
    ]
    assert len(kernel_shuffles) == 1, plan


def test_cluster_sharded_skew_split_plan(spark):
    """The occupancy-split form: the small branch keeps its one
    cluster-key exchange into a per-cluster kernel; the hot branch
    shuffles on (cluster, bi, bj) so one hot cluster's tiles land in
    MANY tasks; the hot-list and block-pair joins are broadcasts (never
    a shuffled join of the corpus against the occupancy table); and no
    vectors move for the occupancy count itself."""
    from parallel_map_reduce_spark.operators import curation_extras as ce
    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    assigned = (
        similarity.nearest_centroid_assign(emb)
        .select("vec_id", "cluster")
        .localCheckpoint(eager=True)
    )
    df = ce.cluster_sharded_pairs(
        emb, assigned, 0.4, block_above=10, num_blocks=4
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert plan.count("FlatMapGroupsInPandas") == 2
    assert any(
        "Exchange hashpartitioning(cluster" in l and "bi" in l and "bj" in l
        for l in plan.splitlines()
    ), plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quantile_band_approx_sketch_is_partial_final(spark):
    """The approx threshold side must aggregate the percentile sketch
    partial→final (ObjectHashAggregate pair) and broadcast the k
    threshold rows back — the ship path has no per-language sort; the
    one Sort+Window in the plan is the exact audit twin."""
    plan = plan_of(spark, "quality_quantile_filter_approx", mode="simple")
    assert "ObjectHashAggregate" in plan
    assert "partial_percentile_approx" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # exactly one window (the exact audit), not one per branch
    assert plan.count("Window") <= 2


def test_incremental_stored_signature_store_is_authoritative(spark, tmp_path):
    """With a signature store supplied, banding must use ONLY the store
    (the localCheckpointed stages hide the scans from the final plan,
    so this is pinned behaviorally): a kept doc whose signature is
    MISSING from the store cannot produce a cross_dup — proof the
    kept corpus is never re-signatured behind the store's back."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators import curation_extras as ce
    from parallel_map_reduce_spark.operators.dedup import minhash_signatures

    c = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    kept = spark.createDataFrame(
        [(2, c), (4, "totally different words with no overlap at all here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame([(1, c + " tail")], "doc_id long, text string")
    store = str(tmp_path / "sigstore")
    # full store: the near-copy is caught as a cross-dup of kept doc 2
    minhash_signatures(kept).write.mode("overwrite").parquet(store)
    full = ce.incremental_lsh_dedup(
        new, kept, kept_signatures=spark.read.parquet(store)
    ).collect()
    assert [(r["status"], r["dup_of"]) for r in full] == [("cross_dup", 2)]
    # store missing doc 2's signature: no band can match, so the same
    # near-copy must survive — any recompute from kept text would flip
    # this back to cross_dup
    minhash_signatures(kept.filter(F.col("doc_id") != 2)).write.mode(
        "overwrite"
    ).parquet(store)
    holed = ce.incremental_lsh_dedup(
        new, kept, kept_signatures=spark.read.parquet(store)
    ).collect()
    assert [(r["status"], r["dup_of"]) for r in holed] == [("kept", -1)]


def test_gopher_quality_is_projection_only(spark):
    """The Gopher A1.1 bundle is per-row counts-ratio arithmetic: the
    plan must contain NO Exchange — all nine signals and the verdict
    ride the scan, like the PII scrub."""
    import io
    from contextlib import redirect_stdout

    from parallel_map_reduce_spark.operators.curation_extras import (
        gopher_quality_stats,
    )
    from parallel_map_reduce_spark.sources.tables import load_table

    df = gopher_quality_stats(load_table(spark, SF, "documents"))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    assert "Exchange" not in buf.getvalue()


def test_dsir_model_table_broadcasts_to_feature_stream(spark):
    """DSIR scoring joins the feature stream against the ≤buckets-row
    model table — that join must be broadcast (never sort-merge: the
    corpus-side feature stream must not shuffle on the bucket key), the
    1-row totals ride a broadcast nested loop, and nothing may be a
    cartesian product."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators.curation_extras import (
        dsir_importance_weights,
    )
    from parallel_map_reduce_spark.sources.tables import load_table

    df = dsir_importance_weights(
        load_table(spark, SF, "documents"), F.col("lang") == "en"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_windows_are_bucket_partitioned(spark):
    """Madow selection must never fall into the single-partition global
    window trap: every window over the corpus is partitioned by the
    order bucket, and the only unpartitioned window runs over the
    ≤order_buckets-row bucket-totals frame. With local/btot
    materialized, the plan holds exactly one corpus window (bucketed)
    and the offsets come back as broadcasts."""
    import io
    import re
    from contextlib import redirect_stdout

    from parallel_map_reduce_spark.operators.curation_extras import (
        weighted_systematic_sample,
    )
    from parallel_map_reduce_spark.sources.tables import load_table

    df = weighted_systematic_sample(
        load_table(spark, SF, "documents"), "n_chars", 50
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    wins = [l for l in plan.splitlines() if re.search(r"\bWindow \[", l)]
    # The corpus cumsum window is bucket-partitioned BY CONSTRUCTION
    # (Window.partitionBy("_b"); repartition-invariance is pinned in
    # test_curation_extras) and sits behind the local checkpoint, so
    # the final plan's ONLY window is the offsets cumsum over the
    # materialized ≤order_buckets-row bucket-totals frame — tiny, so
    # its empty partition spec is safe.
    assert len(wins) == 1, plan
    assert re.search(r"Window \[sum\(_bt#\d+L\)", wins[0]), wins[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_stored_query_prunes_partitions(spark, tmp_path):
    """Two-phase IVF phase 2 must read only probed cells: the inverted-
    file scan carries a dynamic-partition-pruning filter on cid (the
    broadcast probe join's keys prune at the parquet-partition level),
    the probe join broadcasts, and the query-vector lookup pushes its
    id IN-list into the scan. Any of these degrading means phase 2
    silently re-reads the whole index at scale."""
    import io
    from contextlib import redirect_stdout

    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "ivf_index")
    similarity.ivf_build_index(emb, idx)
    df = similarity.ivf_query_stored(spark, idx, query_ids=list(range(10)), k=5)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression(cid" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "In(vec_id, [0,1,2,3,4,5,6,7,8,9])" in plan


def test_ivf_filtered_stored_predicate_prunes_before_scoring(spark, tmp_path):
    """The predicate-filtered stored query (FAISS IDSelector mode) must
    compose BOTH pruning axes on the candidate scan: the cid
    dynamic-partition-pruning filter (only probed cells read) AND the
    metadata predicate pushed into the parquet rowgroup scan
    (PushedFilters EqualTo on the persisted meta column) — the
    predicate filters BEFORE scoring, never as a post-score join back
    to the primary table. Degradation here means a filtered query
    silently scores the whole slice-complement at scale."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "ivf_filt_index")
    similarity.ivf_build_index(emb, idx, meta_cols=("label",))
    df = similarity.ivf_query_stored(
        spark,
        idx,
        query_ids=list(range(10)),
        k=5,
        nprobe=8,
        where=F.col("label") == 3,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # The candidate scan: DPP on cid and the label predicate in the
    # SAME scan's pushed filters (one line carries EqualTo(label,3);
    # the probe-lookup scans push the id IN-list instead).
    assert "dynamicpruningexpression(cid" in plan
    assert "EqualTo(label,3)" in plan
    assert "In(vec_id, [0,1,2,3,4,5,6,7,8,9])" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curate_funnel_stage_shapes(spark):
    """The funnel composes stage operators without adding shuffles:
    keep-set joins on broadcast id frames, no SortMergeJoin anywhere
    in the composition, and the packing stage is the only
    per-shard window."""
    plan = plan_of(spark, "pipeline_curate_corpus")
    assert "SortMergeJoin" not in plan


def test_pq_adc_scoring_is_broadcast_and_partial_agg(spark):
    """The PQ ADC scoring plan: the (query, sub, code, partial-dot)
    table and the refine shortlist must come to the corpus as
    BROADCAST hash joins (never a sort-merge shuffle of the corpus),
    and the per-(query, vector) dot sum must map-side combine
    (partial_sum before the exchange) — posexplode keeps a vector's m
    rows partition-local, so the combine collapses them before any
    data moves."""
    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    df = similarity.pq_ann(emb, query_ids=list(range(10)), k=5)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_opq_shares_the_pq_plan_shape(spark):
    """OPQ's entire runtime delta vs PQ is a matmul inside the existing
    encode/ADC pandas UDFs, so its executed plan must keep pq_ann's
    shape bit-for-bit in kind: broadcast joins only, map-side combined
    dot sums, no corpus shuffle."""
    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    df = similarity.opq_ann(emb, query_ids=list(range(10)), k=5, n_iter=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_ivfpq_prunes_cells_before_scoring(spark):
    """IVFADC: the probe list must broadcast into the cell-pruned code
    stream (cid equality join) and the ADC join must also broadcast —
    the corpus is never shuffled, and scoring happens only on probed
    cells' vectors."""
    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    df = similarity.ivfpq_ann(emb, query_ids=list(range(10)), k=5)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("BroadcastHashJoin") >= 2  # probe join + ADC join
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_ivf_range_search_plan_no_sort_no_window(spark):
    """Range search must have NO top-k machinery at all: no Window, no
    Sort, no TakeOrdered — the radius filter replaces ranking map-side.
    The probe side broadcasts; the corpus never shuffles; q12/q21-style
    joins stay out of it entirely."""
    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.operators.queries_llm import (
        KNN_QUERY_IDS,
        RANGE_RADIUS,
    )
    from parallel_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    df = similarity.ivf_range_search(emb, KNN_QUERY_IDS, RANGE_RADIUS)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan  # probe join on cid, build side = probes
    assert "Window" not in plan
    assert "TakeOrdered" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the corpus side must not be exchanged before the probe join: the
    # only exchanges allowed are broadcast ones
    non_broadcast_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert not non_broadcast_exchanges, plan


def test_topic_mixture_resample_plan_broadcast_only(spark):
    """The mixture layer on top of the trained clustering must add NO
    corpus shuffle: the per-topic counts (a partial+final hash agg over
    the k-topic key — the only exchange allowed) broadcast back into
    the assignment scan, the 1-row totals broadcast, and the keep rule
    evaluates inside the join — no SortMergeJoin, no Sort, no Window in
    the post-training plan (the trainer's own work is behind the
    localCheckpoint scan boundary)."""
    from parallel_map_reduce_spark.operators.queries_curation import (
        q_topic_mixture_resample,
    )

    df = q_topic_mixture_resample(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # per-topic counts join
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan  # cnts agg combines map-side
    # Every exchange is agg-scale: the k-row per-cluster count (appears
    # twice — tot recomputes the cnts branch) and the 1-row global
    # totals. The CORPUS never shuffles: no exchange keys on vec_id.
    non_broadcast = [
        l
        for l in plan.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert non_broadcast, plan
    for l in non_broadcast:
        assert (
            "hashpartitioning(cluster" in l or "SinglePartition" in l
        ), plan
    assert "hashpartitioning(vec_id" not in plan, plan


def test_ivfpq_stored_query_prunes_partitions_after_lifecycle(spark, tmp_path):
    """r10 lifecycle plan pin (VERDICT r9 ask #3's done-criterion): after
    build → append (ivfpq_append_to_index) → compact_ivf_index, the
    stored IVFADC query must STILL read only probed cells — the code
    scan carries a dynamic-partition-pruning filter on cid, the probe
    and ADC joins broadcast, the ADC dot sum map-side combines, and the
    corpus is never sort-merge shuffled. Compaction rewrites the file
    layout; this pins that it cannot degrade the read plan."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators import similarity
    from parallel_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "ivfpq_lifecycle_idx")
    similarity.ivfpq_build_index(emb.filter(F.col("vec_id") % 2 == 0), idx)
    similarity.ivfpq_append_to_index(emb.filter(F.col("vec_id") % 2 == 1), idx)
    similarity.compact_ivf_index(spark, idx)
    df = similarity.ivfpq_query_stored(
        spark, idx, emb, query_ids=list(range(10)), k=5
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression(cid" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def _assert_hot_key_join_split(spark, score, hot_keys):
    """Run the LM scorer ``score`` on a hot-key corpus and assert that
    AQE split a position join keyed on ONE hot-key column (one of
    ``hot_keys``) in the final adaptive plan.

    Every other token of every document is "h", so "h" is the hot key
    of each single-column position join. A join keyed on a column pair
    does not count: its hot partitions can come from hash collisions.
    Shuffle partitions are max(SPARK_GRAFT_CPUS, 8), so the skew
    threshold and the advisory size are lowered to make tiny test-scale
    partitions measurable, and the coalescing floor (minPartitionSize,
    1 MB by default) is scaled down with them by the same 1/16384: left
    at 1 MB it coalesces every ~0.5 MB exchange to one partition, every
    later stage has one map task, and AQE cannot split a partition that
    comes from one mapper. Broadcast is disabled because at test scale
    every count table would broadcast and no join would shuffle at all
    (at 100 TB the count tables are data-sized and DO shuffle — this
    forces that regime)."""
    import re

    from pyspark.sql import Row

    rows = []
    for i in range(800):
        toks = []
        for j in range(40):
            toks.append("h")
            toks.append(f"w{(i * 40 + j) % 50}")
        rows.append(Row(doc_id=i, text=" ".join(toks)))
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64b",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = score(docs)
        out = df.collect()
        assert len(out) == 800  # every doc scored despite the hot key
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
        # the split join is keyed on the hot key "h" alone: "[v#12]",
        # never "[v#12, w#13]"
        single_key = "|".join(hot_keys)
        assert re.search(
            rf"SortMergeJoin\(skew=true\) \[({single_key})#\d+\]", plan
        ), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_kn_trigram_position_joins_aqe_skew_split(spark):
    """The KN trigram scorer's position joins key on Zipf-skewed
    n-grams — the docstring's named 100 TB hazard. This pins the
    mitigation the module relies on: under AQE, a hot-key corpus gets
    its skewed position join SPLIT at runtime (SortMergeJoin(skew=true)
    in the final adaptive plan) with no code change — the joins are
    shuffle-based and AQE-splittable, not locked into a shape skew
    could wedge. The split join is the (v) or the (w) join."""
    from parallel_map_reduce_spark.operators import curation_extras as ce

    _assert_hot_key_join_split(spark, ce.kn_trigram_lm_doc_scores, ["v", "w"])


def test_bigram_lm_position_joins_aqe_skew_split(spark):
    """The bigram scorer's twin of the KN test above: its (prev) and (w)
    hot-key joins read both sides through an exchange, so AQE can split
    one of them."""
    from parallel_map_reduce_spark.operators import curation_extras as ce

    _assert_hot_key_join_split(spark, ce.bigram_lm_doc_scores, ["prev", "w"])
