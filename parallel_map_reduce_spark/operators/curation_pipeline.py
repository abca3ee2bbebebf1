"""The end-to-end corpus-curation funnel a 100 TB training-data run
actually executes, composed from the already-driver-verified stage
operators: Gopher quality gate → Gopher repetition gate → CCNet
perplexity band → TRAINED quality-classifier gate → MinHash-LSH
near-dup dedup → cluster-sharded SemDeDup (embedding-level near-dup,
Abbas et al. 2023) → benchmark decontamination → DSIR-weighted
deterministic (Madow) sampling → context-window chunking + sharded
sequence packing.

Output is the funnel audit a pipeline owner reads after a run: one row
per stage with (docs in, docs out, surviving-id checksum), so the
driver value-hashes every stage's drop decision, not just the final
corpus. Generalizes the reference's single-stage tokenize→count
pipeline (src/omp_count_words.cpp:49-367) to the multi-stage corpus
funnel of Rae et al. 2021 (Gopher, App. A), Wenzek et al. 2020 (CCNet)
and Xie et al. 2023 (DSIR).

Design rules (each documented on the stage):

* Signal stages (quality, repetition, perplexity, DSIR) compute their
  signals CORPUS-WIDE in one pass — the shape a production run uses,
  because signals are per-document (or corpus-model-based) and
  independent of which other docs earlier gates dropped. Gates then
  apply sequentially, so funnel counts are order-meaningful.
* Set-dependent stages (near-dup dedup, Madow sampling) run on their
  actual input set — a survivor is min-id within its component AMONG
  SURVIVORS, and the PPS cumsum runs over the sampled population.
* Every gate compares the SAME rounded value in both engines (the
  stage operators' parity-tested rounded outputs), so no float
  boundary can flip a keep decision cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_map_reduce_spark.functions.tokenize import (
    SHINGLES_CTE_SQL,
    TOKENS_SQL,
    shingles_ctes,
)
from parallel_map_reduce_spark.operators import curation_extras as ce
from parallel_map_reduce_spark.operators import dedup as _dedup
from parallel_map_reduce_spark.operators import similarity as _similarity
from parallel_map_reduce_spark.operators import textstats as _textstats
from parallel_map_reduce_spark.operators.queries_llm import (
    EMBED_DUP_THRESHOLD,
)
from pyspark.sql.window import Window

# Funnel parameterization (documented knobs; every production funnel
# tunes these to its corpus):
#   quality gate — Gopher A1.1 with min_tokens lowered to 10 (the
#     synthetic docs are 10-99 tokens) and the stopword floor at 1
#     (the corpus' vocabulary carries one of the eight Gopher
#     stopwords; >=2 is an English-web calibration, not a law);
#   repetition gate — top2<=0.2, top3<=0.18, dup5<=0.1, dup8<=0.1,
#     dup_line<=0.3 (Gopher Table A1 family);
#   perplexity band — CCNet head+middle terciles per language;
#   dedup — MinHash(12)/4-band LSH candidates verified at jaccard>=0.5;
#   semantic dedup — cluster-sharded SemDeDup among LSH survivors at
#     cosine >= EMBED_DUP_THRESHOLD (the corpus-wide constant every
#     embedding near-dup tier shares); docs WITHOUT an embedding row
#     pass through untouched (at sf0.1 embeddings cover doc_ids
#     0..1999 of 5000 — production corpora also embed lazily);
#   decontamination — every 50th doc is the eval suite, >=20% shingle
#     overlap contaminates (the decontaminate_corpus contract);
#   sampling — Madow exactly-n PPS with weight = DSIR shifted-log
#     importance, integerized on the 4-dp-rounded score;
#   packing — 32/16 token chunks into 1024-token batches on 32 shards.
MIN_TOKENS = 10
MAX_TOKENS = 100_000
STOPWORD_MIN = 1
REP_TOP2 = 0.2
REP_TOP3 = 0.18
REP_DUP5 = 0.1
REP_DUP8 = 0.1
REP_DUP_LINE = 0.3
DECON_EVAL_MOD = 50
SAMPLE_N = 64
DSIR_SHIFT = 16.0  # avg_log_weight > -SHIFT asserted by the sampler (w>0)
PACK_WINDOW = 32
PACK_STRIDE = 16
PACK_BUDGET = 1024
PACK_SHARDS = 32
# Classifier-gate stage: same descent the registered
# quality_classifier_train/_filter rows pin (8 rounds, lr 3.0) — the
# funnel trains the model and gates on its kept decision, the
# CCNet/LLaMA practice of filtering with the TRAINED model after the
# heuristic gates.
QC_ROUNDS = 8
QC_LR = 3.0
# SemDeDup-stage sharding knobs: same values the registered
# semantic_dedup_cluster_sharded row drives, so the funnel exercises
# the identical hot-cluster block-pair decomposition at the driver sfs.
SEMDEDUP_BLOCK_ABOVE = 40
SEMDEDUP_NUM_BLOCKS = 4


def _stage_row(
    stage: str, prev: DataFrame, keep: DataFrame, id_col: str
) -> DataFrame:
    """One funnel-audit row: (stage, n_in, n_out, id_checksum). All
    three aggregates are scalar reductions over id-only frames."""
    return (
        prev.agg(F.count(F.lit(1)).alias("n_in"))
        .crossJoin(
            keep.agg(
                F.count(F.lit(1)).alias("n_out"),
                F.coalesce(F.sum(id_col), F.lit(0))
                .cast("long")
                .alias("id_checksum"),
            )
        )
        .select(F.lit(stage).alias("stage"), "n_in", "n_out", "id_checksum")
    )


def pipeline_curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    embeddings: DataFrame,
    sample_n: int = SAMPLE_N,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """(stage, n_in, n_out, id_checksum) — one row per funnel stage
    plus a final pack row (n_in = sampled docs, n_out = packed batch
    count, id_checksum = total packed tokens).

    Scale shape: each signal stage is the registered operator's plan
    (single-pass projections / one model agg + broadcast join); the
    seven corpus-wide signal frames materialize CONCURRENTLY from a
    driver thread pool (r13, guide §2.6 — they are mutually
    independent by the corpus-wide-signal design rule, so only the
    wall-clock interleaving changes, never a value); keep
    sets are id-only frames that broadcast into the next stage's join;
    the only data-sized shuffles are the stage operators' own
    (shingle banding among stage-3 survivors, the per-shard packing
    window). Nothing here adds a shuffle the standalone operators
    don't already pay.
    """
    docs = docs.localCheckpoint(eager=True)  # 9 stage consumers
    # Two plan branches consume embeddings (the corpus-wide centroid
    # assignment and the emb_surv survivor join) — checkpoint once at
    # entry like docs, per the module's multi-consumer rule
    # (ADVICE r12: recompute cost only, not correctness).
    embeddings = embeddings.localCheckpoint(eager=True)
    all_ids = docs.select(id_col)

    # ---- Corpus-wide signal phase, CONCURRENT (r13; guide §2.6) ----
    # Stages 1-4 plus the stage-6 centroid assignment, the stage-7
    # decontamination flag and the stage-8 DSIR model all compute their
    # signals CORPUS-WIDE by design (per-doc predicates / corpus-model
    # artifacts, independent of which docs the other gates drop) — so
    # the seven signal frames are mutually independent and materialize
    # concurrently from a driver thread pool; the GATES below stay
    # strictly sequential on the checkpointed id sets. Every keep set
    # (and funnel row) is identical to the sequential form because a
    # per-doc gate commutes with the survivor join:
    # rep-pred ∩ k1 = (rep-pred over all docs) ∩ k1.

    def _sig_quality():
        # Stage-1 signal — Gopher A1.1 quality gate, on the operator's
        # rounded (parity-tested) outputs so both engines compare
        # identical values.
        gq = ce.gopher_quality_stats(docs, text_col, id_col)
        return (
            gq.filter(
                F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
                & F.col("mean_word_len").between(3.0, 10.0)
                & (F.col("hash_ratio") <= 0.1)
                & (F.col("ellipsis_ratio") <= 0.1)
                & (F.col("frac_bullet_lines") <= 0.9)
                & (F.col("frac_ellipsis_lines") <= 0.3)
                & (F.col("frac_alpha_words") >= 0.8)
                & (F.col("n_stopword_hits") >= STOPWORD_MIN)
            )
            .select(id_col)
            .localCheckpoint(eager=True)
        )

    def _sig_repetition():
        # Stage-2 signal — Gopher repetition gate predicate ids.
        rep = ce.gopher_repetition_stats(docs, text_col, id_col)
        return (
            rep.filter(
                (F.col("top2_frac") <= REP_TOP2)
                & (F.col("top3_frac") <= REP_TOP3)
                & (F.col("dup5_frac") <= REP_DUP5)
                & (F.col("dup8_frac") <= REP_DUP8)
                & (F.col("dup_line_frac") <= REP_DUP_LINE)
            )
            .select(id_col)
            .localCheckpoint(eager=True)
        )

    def _sig_perplexity():
        # Stage-3 signal — CCNet head+middle perplexity band (terciles
        # per-language over the WHOLE corpus — the CCNet shape: the LM
        # and its bands are corpus artifacts, not survivor-set
        # artifacts).
        cb = ce.ccnet_perplexity_buckets(
            docs, text_col=text_col, id_col=id_col
        )
        return (
            cb.filter(F.col("bucket") != "tail")
            .select(id_col)
            .localCheckpoint(eager=True)
        )

    def _sig_classifier():
        # Stage-4 signal — TRAINED quality-classifier keep flag
        # (VERDICT r10 #3; the CCNet/LLaMA shape: after the heuristic
        # gates, filter with the trained model). The model trains
        # CORPUS-WIDE like every other signal stage (the weights must
        # not depend on upstream gate order), weights come back as
        # driver-side loop scalars, and scoring is the shared
        # _qc_score_select seam — one zero-shuffle projection with the
        # weights as plan literals. The 8-round descent is the funnel's
        # longest serial signal chain; running it in the pool lets the
        # other signals' tasks back-fill between its rounds.
        wq = _textstats.train_quality_classifier(
            docs,
            rounds=QC_ROUNDS,
            lr=QC_LR,
            text_col=text_col,
            id_col=id_col,
            return_weights=True,
        )
        return (
            _textstats.apply_quality_classifier(
                docs, wq, text_col=text_col, id_col=id_col
            )
            .filter(F.col("kept"))
            .select(id_col)
            .localCheckpoint(eager=True)
        )

    def _sig_decontaminate():
        # Stage-7 signal — per-doc contamination flag vs the FIXED eval
        # suite (input-set independent).
        dec = _textstats.decontaminate_against_eval(
            docs, eval_mod=DECON_EVAL_MOD, id_col=id_col
        )
        return (
            dec.filter(~F.col("contaminated"))
            .select(id_col)
            .localCheckpoint(eager=True)
        )

    def _sig_dsir():
        # Stage-8 signal — corpus-wide DSIR importance model scores.
        return (
            ce.dsir_importance_weights(docs, F.col("lang") == "en")
            .select(id_col, "avg_log_weight")
            .localCheckpoint(eager=True)
        )

    def _sig_centroids():
        # Stage-6 signal — corpus-wide kmeans ASSIGNMENT (clusters must
        # not depend on upstream gate order).
        return (
            _similarity.nearest_centroid_assign(embeddings)
            .select(F.col(vec_id_col), "cluster")
            .localCheckpoint(eager=True)
        )

    (
        k1,
        s_rep,
        s_ppl,
        s_qc,
        dec_keep,
        dsir_sig,
        assigned_all,
    ) = ce._overlap(
        _sig_quality,
        _sig_repetition,
        _sig_perplexity,
        _sig_classifier,
        _sig_decontaminate,
        _sig_dsir,
        _sig_centroids,
    )

    # ---- Sequential gate phase: cheap id-set intersections over the
    # checkpointed signal frames (order-meaningful funnel counts). ----

    # Stage 2 — Gopher repetition gate applied to stage-1 survivors.
    # Gate-set checkpoints are LAZY (r13, guide §1.2): each tiny id
    # set is consumed in full by the next stage's construction (join /
    # broadcast build / component fixpoint), which materializes the
    # lazily-marked blocks inside the job it was already running —
    # one fewer dedicated job per gate, identical sets. The stage-row
    # audit aggregates read the cached blocks in the final action.
    k2 = s_rep.join(k1, id_col).select(id_col).localCheckpoint(eager=False)

    # Stage 3 — CCNet band applied to stage-2 survivors.
    k3 = s_ppl.join(k2, id_col).select(id_col).localCheckpoint(eager=False)

    # Stage 4 — classifier gate keeps the p >= 0.5 slice among stage-3
    # survivors.
    kq = s_qc.join(k3, id_col).select(id_col).localCheckpoint(eager=False)

    # Stage 5 — MinHash-LSH near-dup dedup AMONG stage-4 survivors
    # (set-dependent: the canonical keeper is min-id per component of
    # the surviving subgraph).
    s4docs = docs.join(F.broadcast(kq), id_col)
    edges = _dedup.minhash_lsh_dedup_pairs(
        s4docs, text_col=text_col, id_col=id_col
    ).select("id_a", "id_b")
    losers = (
        _dedup.connected_components(edges)
        .filter(F.col("u") != F.col("label"))
        .select(F.col("u").cast("long").alias(id_col))
    )
    k4 = kq.join(F.broadcast(losers), id_col, "left_anti").localCheckpoint(
        eager=False
    )

    # Stage 6 — cluster-sharded SemDeDup AMONG stage-5 survivors
    # (Abbas et al. 2023; real pipelines dedup lexically AND
    # semantically — MinHash catches shared n-grams, the embedding
    # tier catches paraphrases with disjoint surface forms). The
    # kmeans ASSIGNMENT is corpus-wide like every other corpus-model
    # artifact (clusters must not depend on upstream gate order); the
    # cosine kernel runs only within clusters and only among
    # survivors, with the hot-cluster block-pair decomposition
    # bounding any one task's Gram tile (the registered
    # semantic_dedup_cluster_sharded machinery, same knobs). Docs
    # WITHOUT an embedding row cannot lose (anti-join against losers,
    # who by construction have embeddings) — at sf0.1 embeddings
    # cover 2000 of 5000 doc ids, and a 100 TB corpus likewise embeds
    # a rolling subset.
    surv_ids = k4.select(F.col(id_col).alias(vec_id_col))
    emb_surv = embeddings.join(F.broadcast(surv_ids), vec_id_col)
    assigned_surv = assigned_all.join(F.broadcast(surv_ids), vec_id_col)
    sem_edges = ce.cluster_sharded_pairs(
        emb_surv,
        assigned_surv,
        EMBED_DUP_THRESHOLD,
        block_above=SEMDEDUP_BLOCK_ABOVE,
        num_blocks=SEMDEDUP_NUM_BLOCKS,
    ).select("id_a", "id_b")
    sem_losers = (
        _dedup.connected_components(sem_edges)
        .filter(F.col("u") != F.col("label"))
        .select(F.col("u").cast("long").alias(id_col))
    )
    ksem = k4.join(F.broadcast(sem_losers), id_col, "left_anti").localCheckpoint(
        eager=False
    )

    # Stage 7 — benchmark decontamination: eval docs themselves
    # (id % 50 == 0) leave the corpus, and any training doc with >=20%
    # shingle overlap against the eval suite is dropped (the dec_keep
    # signal from the concurrent phase).
    k5 = dec_keep.join(ksem, id_col).select(id_col).localCheckpoint(eager=False)

    # Stage 8 — DSIR-weighted deterministic sampling: the corpus-wide
    # importance model (dsir_sig, concurrent phase) scores every
    # survivor; the 4-dp-rounded avg_log_weight is shifted positive and
    # integerized (exact in both engines: the product of a 4-dp-rounded
    # double and 10^4 is within 1 ulp of an integer, never at a .5
    # boundary), then Madow's systematic PPS draws exactly sample_n
    # with all-int64 brackets.
    s5w = dsir_sig.join(k5, id_col).select(
        F.col(id_col),
        F.round((F.col("avg_log_weight") + F.lit(DSIR_SHIFT)) * 10000, 0)
        .cast("long")
        .alias("dsir_w"),
    )
    k6 = (
        ce.weighted_systematic_sample(s5w, "dsir_w", sample_n, id_col=id_col)
        .select(id_col)
        .localCheckpoint(eager=False)
    )

    # Stage 9 — context-window chunking + sharded sequence packing
    # (the pipeline_training_batches tail): per-shard running token
    # budget, batch id = shard * 1e6 + budget bucket.
    chunks = _textstats.chunk_documents(
        docs.join(F.broadcast(k6), id_col),
        window=PACK_WINDOW,
        stride=PACK_STRIDE,
        text_col=text_col,
        id_col=id_col,
    ).select(id_col, "chunk_start", "chunk_len")
    shard = F.col(id_col) % PACK_SHARDS
    w = (
        Window.partitionBy(shard)
        .orderBy(id_col, "chunk_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    batch = shard * 1_000_000 + F.floor(
        (F.sum("chunk_len").over(w) - F.col("chunk_len")) / float(PACK_BUDGET)
    )
    packed = chunks.select(batch.alias("batch_id"), "chunk_len")
    row_pack = (
        k6.agg(F.count(F.lit(1)).alias("n_in"))
        .crossJoin(
            packed.agg(
                F.countDistinct("batch_id").alias("n_out"),
                F.coalesce(F.sum("chunk_len"), F.lit(0))
                .cast("long")
                .alias("id_checksum"),
            )
        )
        .select(F.lit("09_pack").alias("stage"), "n_in", "n_out", "id_checksum")
    )

    rows = [
        _stage_row("01_gopher_quality", all_ids, k1, id_col),
        _stage_row("02_gopher_repetition", k1, k2, id_col),
        _stage_row("03_ccnet_perplexity", k2, k3, id_col),
        _stage_row("04_quality_classifier", k3, kq, id_col),
        _stage_row("05_lsh_neardup", kq, k4, id_col),
        _stage_row("06_semantic_dedup", k4, ksem, id_col),
        _stage_row("07_decontaminate", ksem, k5, id_col),
        _stage_row("08_dsir_madow_sample", k5, k6, id_col),
        row_pack,
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def pipeline_curate_corpus_oracle_sql(sample_n: int = SAMPLE_N) -> str:
    """DuckDB replay of the whole funnel. Signal stages reuse the
    parity-tested stage oracles as scoped subqueries (their inner WITH
    clauses shadow cleanly); the classifier stage splices the SAME
    unrolled descent CTEs the quality_classifier_train/_filter oracles
    pin (quality_classifier_descent_ctes) and gates on the r8 weights'
    kept decision; the set-dependent stages (LSH components, Madow
    cumsum) are replayed inline over the survivor sets, exactly as in
    the incremental-dedup chain oracle, from dedup.py's near-duplicate
    forms at the Spark operators' defaults. The SemDeDup stage builds
    the SAME seed-centroid assignment CTEs the registered
    embedding_cluster_assign / semantic_dedup_cluster_sharded oracles
    pin (queries_llm.cluster_assigned_cte), with an sd_ name prefix so
    they cannot collide with the funnel's CTE names."""
    from parallel_map_reduce_spark.functions.hashing import hash64_sql
    from parallel_map_reduce_spark.operators.queries_llm import (
        cluster_assigned_cte,
        quality_classifier_descent_ctes,
    )

    qc_body, qc_final = quality_classifier_descent_ctes(QC_ROUNDS, QC_LR)
    gq = ce.gopher_quality_stats_oracle_sql().strip()
    rep = ce.gopher_repetition_stats_oracle_sql().strip()
    cb = ce.ccnet_perplexity_buckets_oracle_sql().strip()
    dsir = ce.dsir_importance_weights_oracle_sql("lang = 'en'").strip()
    ok = hash64_sql("CAST(doc_id AS VARCHAR)", 0)
    kq_docs = "(SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM kq))"
    return f"""
WITH RECURSIVE
k1 AS MATERIALIZED (
  SELECT doc_id FROM ({gq})
  WHERE n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
    AND mean_word_len BETWEEN 3.0 AND 10.0
    AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
    AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3
    AND frac_alpha_words >= 0.8 AND n_stopword_hits >= {STOPWORD_MIN}
),
k2 AS MATERIALIZED (
  SELECT doc_id FROM ({rep})
  WHERE doc_id IN (SELECT doc_id FROM k1)
    AND top2_frac <= {REP_TOP2} AND top3_frac <= {REP_TOP3}
    AND dup5_frac <= {REP_DUP5} AND dup8_frac <= {REP_DUP8}
    AND dup_line_frac <= {REP_DUP_LINE}
),
k3 AS MATERIALIZED (
  SELECT doc_id FROM ({cb})
  WHERE doc_id IN (SELECT doc_id FROM k2) AND bucket <> 'tail'
),
{qc_body},
kq AS MATERIALIZED (
  SELECT f.doc_id
  FROM feat f CROSS JOIN {qc_final}
  WHERE f.doc_id IN (SELECT doc_id FROM k3)
    AND ROUND(1.0/(1.0+exp(-(w0 + w1*f.x1 + w2*f.x2 + w3*f.x3))), 7)
          >= 0.5
),
sp AS MATERIALIZED (
  WITH {shingles_ctes(kq_docs)} SELECT doc_id, shingle FROM shingles
),
sigs AS ({_dedup.minhash_signatures_sql("sp")}),
thr AS ({_dedup.lsh_edges_sql(shingles="sp")}),
{_dedup.components_sql("thr")},
k4 AS MATERIALIZED (
  SELECT doc_id FROM kq
  WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> group_id)
),
{cluster_assigned_cte(prefix="sd_")},
sd_surv AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, b.vec
  FROM sd_assigned a JOIN sd_base b USING (vec_id)
  WHERE a.vec_id IN (SELECT doc_id FROM k4)
),
sd_thr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sd_surv a JOIN sd_surv b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_dedup.cosine_edge_sql(EMBED_DUP_THRESHOLD)}
),
{_dedup.components_sql("sd_thr", "_sd", "vec_id")},
k4s AS MATERIALIZED (
  SELECT doc_id FROM k4
  WHERE doc_id NOT IN
    (SELECT vec_id FROM comp_sd WHERE vec_id <> group_id)
),
dec AS (
  SELECT doc_id, contaminated FROM (
    {SHINGLES_CTE_SQL},
    eval_sh AS (
      SELECT DISTINCT shingle FROM shingles WHERE doc_id % {DECON_EVAL_MOD} = 0
    ),
    train AS (
      SELECT doc_id, shingle FROM shingles WHERE doc_id % {DECON_EVAL_MOD} <> 0
    )
    SELECT t.doc_id,
           SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) * 5
             >= COUNT(*) AS contaminated
    FROM train t LEFT JOIN eval_sh e ON t.shingle = e.shingle
    GROUP BY t.doc_id
  )
),
k5 AS MATERIALIZED (
  SELECT doc_id FROM dec
  WHERE doc_id IN (SELECT doc_id FROM k4s) AND NOT contaminated
),
dw AS (
  SELECT doc_id,
         CAST(ROUND((avg_log_weight + {DSIR_SHIFT}) * 10000) AS BIGINT) AS w
  FROM ({dsir})
  WHERE doc_id IN (SELECT doc_id FROM k5)
),
cum AS (
  SELECT doc_id, w,
         SUM(w) OVER (ORDER BY ok % 64, ok, doc_id
                      ROWS UNBOUNDED PRECEDING) AS c,
         SUM(w) OVER () AS tot
  FROM (SELECT doc_id, w, {ok} AS ok FROM dw)
),
k6 AS MATERIALIZED (
  SELECT doc_id FROM cum
  WHERE (c * {sample_n}) // tot - ((c - w) * {sample_n}) // tot >= 1
),
ptoks AS (
  SELECT doc_id, {TOKENS_SQL} AS ws FROM documents
  WHERE doc_id IN (SELECT doc_id FROM k6)
),
chunks AS (
  SELECT doc_id, chunk_start,
         least({PACK_WINDOW}, len(ws) - chunk_start + 1) AS chunk_len
  FROM ptoks,
  LATERAL (SELECT unnest(generate_series(1, greatest(len(ws), 1),
                                         {PACK_STRIDE})) AS chunk_start) s
),
packed AS (
  SELECT (doc_id % {PACK_SHARDS}) * 1000000
         + CAST(floor((SUM(chunk_len) OVER w - chunk_len)
                      / {PACK_BUDGET}.0) AS BIGINT) AS batch_id,
         chunk_len
  FROM chunks
  WINDOW w AS (PARTITION BY doc_id % {PACK_SHARDS}
               ORDER BY doc_id, chunk_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT '01_gopher_quality' AS stage,
       (SELECT COUNT(*) FROM documents) AS n_in,
       (SELECT COUNT(*) FROM k1) AS n_out,
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM k1) AS id_checksum
UNION ALL
SELECT '02_gopher_repetition', (SELECT COUNT(*) FROM k1),
       (SELECT COUNT(*) FROM k2),
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM k2)
UNION ALL
SELECT '03_ccnet_perplexity', (SELECT COUNT(*) FROM k2),
       (SELECT COUNT(*) FROM k3),
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM k3)
UNION ALL
SELECT '04_quality_classifier', (SELECT COUNT(*) FROM k3),
       (SELECT COUNT(*) FROM kq),
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM kq)
UNION ALL
SELECT '05_lsh_neardup', (SELECT COUNT(*) FROM kq),
       (SELECT COUNT(*) FROM k4),
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM k4)
UNION ALL
SELECT '06_semantic_dedup', (SELECT COUNT(*) FROM k4),
       (SELECT COUNT(*) FROM k4s),
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM k4s)
UNION ALL
SELECT '07_decontaminate', (SELECT COUNT(*) FROM k4s),
       (SELECT COUNT(*) FROM k5),
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM k5)
UNION ALL
SELECT '08_dsir_madow_sample', (SELECT COUNT(*) FROM k5),
       (SELECT COUNT(*) FROM k6),
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM k6)
UNION ALL
SELECT '09_pack', (SELECT COUNT(*) FROM k6),
       (SELECT COUNT(DISTINCT batch_id) FROM packed),
       (SELECT CAST(COALESCE(SUM(chunk_len), 0) AS BIGINT) FROM packed)
"""
