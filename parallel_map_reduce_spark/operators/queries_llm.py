"""Registry entries for the LLM-data-pipeline surface: dedup, similarity
search, text analysis, multimodal columns.

Oracle SQL for the hash-based operators (MinHash, SimHash, fingerprints)
is GENERATED from the same parameters as the Spark plans, using the
portable md5-derived hash (functions/hashing.py) — both engines produce
bit-identical signatures, so even the approximate operators'
deterministic cores are value-hash-checked. Only the genuinely
join-order-dependent steps (LSH candidate generation) are rows-only.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parallel_map_reduce_spark.functions.hashing import (
    hash64,
    hash64_sql,
)
from parallel_map_reduce_spark.functions.tokenize import (
    BPE_PRETOKEN_REGEX,
    NON_WS_CHAR,
    SHINGLES_CTE_SQL,
    TOKENS_CTE_SQL,
    TOKENS_SQL,
    shingles_ctes,
    token_array,
    token_count,
    tokens,
    tokens_cte_sql,
)
from parallel_map_reduce_spark.operators import (
    curation_extras,
    dedup,
    multimodal,
    similarity,
    textstats,
)
from parallel_map_reduce_spark.operators._scratch import in_scratch
from parallel_map_reduce_spark.registry import register
from parallel_map_reduce_spark.sources.tables import load_table

NUM_MINHASHES = 12
SIMHASH_BITS = dedup.SIMHASH_BITS
JACCARD_THRESHOLD = 0.5
EMBED_DUP_THRESHOLD = 0.4
KNN_QUERY_IDS = list(range(10))
KNN_K = 5


# ---------------------------------------------------------------------------
# dedup: exact
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs).select("doc_id", "lang", "source", "n_chars")


@register(
    "dedup_exact_groups",
    """
SELECT md5(text) AS fingerprint,
       count(*) AS n_dups,
       min(doc_id) AS keep_id
FROM documents
GROUP BY fingerprint
HAVING count(*) > 1
""",
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup: MinHash signatures (deterministic core — full oracle)
# ---------------------------------------------------------------------------


# DuckDB twins of the MinHash signature relation and of the verified
# near-dup edges under the exact and the LSH candidate sets, over the
# `shingles` CTE (dedup.py's forms at this module's parameters).
_SIGS_CTE = f"sigs AS ({dedup.minhash_signatures_sql(num_hashes=NUM_MINHASHES)})"
_EXACT_EDGES = dedup.jaccard_edges_sql(JACCARD_THRESHOLD)
_LSH_EDGES = dedup.lsh_edges_sql(num_hashes=NUM_MINHASHES, threshold=JACCARD_THRESHOLD)


@register(
    "minhash_signatures",
    SHINGLES_CTE_SQL + "\n" + dedup.minhash_signatures_sql(num_hashes=NUM_MINHASHES),
)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), num_hashes=NUM_MINHASHES
    )


@register(
    "minhash_lsh_dedup_pairs",
    # Full value-hash oracle (upgraded from rows-only): the banding joins
    # on RAW signature values from the portable md5/universal family, so
    # DuckDB reproduces the candidate set exactly — LSH is approximate vs
    # ground truth, but deterministic as a function, and determinism is
    # all an oracle needs.
    f"{SHINGLES_CTE_SQL},\n{_SIGS_CTE}\n{_LSH_EDGES}",
)
def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_dedup_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=NUM_MINHASHES,
        threshold=JACCARD_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# dedup: exact n-gram jaccard (the verifier tier — full oracle)
# ---------------------------------------------------------------------------


_NGRAM_JACCARD_SQL = SHINGLES_CTE_SQL + "\n" + _EXACT_EDGES


@register("ngram_jaccard_pairs", _NGRAM_JACCARD_SQL)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD
    )


MAX_SHINGLE_DF = 5  # sf0.01's hottest shingle hits df=7, so the cap is live


@register(
    "ngram_jaccard_pairs_capped",
    SHINGLES_CTE_SQL
    + f""",
hot AS (SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
capped AS (SELECT doc_id, shingle FROM shingles
           WHERE shingle NOT IN (SELECT shingle FROM hot))
{dedup.jaccard_edges_sql(JACCARD_THRESHOLD, shingles="capped")}""",
)
def q_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-tier exact jaccard: document-frequency-capped shingle index.

    The cap bounds self-join fan-out at max_df² per shingle — the guard
    that makes the exact tier survive Zipfian boilerplate at 100 TB.
    Deterministic (jaccard measured in the capped universe), so fully
    value-hash-oracled, unlike the probabilistic LSH tiers.
    """
    return dedup.ngram_jaccard_pairs_capped(
        load_table(spark, sf_dir, "documents"),
        threshold=JACCARD_THRESHOLD,
        max_df=MAX_SHINGLE_DF,
    )


@register("ngram_jaccard_pairs_prefix", _NGRAM_JACCARD_SQL)
def q_jaccard_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact jaccard via prefix filtering (AllPairs, Bayardo et al.
    WWW'07): joins only each document's rarest ``n - ceil(t*n) + 1``
    shingles, then verifies candidates against full shingle sets. Output
    is IDENTICAL to ngram_jaccard_pairs — same oracle SQL — but the plan
    never fans out on Zipfian head shingles, making it the 100 TB form
    of the exact tier (the naive self-join stays the default because it
    wins at bounded shingle frequency, like this sandbox's corpora).
    """
    return dedup.ngram_jaccard_pairs_prefix(
        load_table(spark, sf_dir, "documents"), threshold=JACCARD_THRESHOLD
    )


# ---------------------------------------------------------------------------
# dedup: SimHash (full oracle via generated 60-bit SQL)
# ---------------------------------------------------------------------------


def _simhash_sigs_cte() -> str:
    """CTE chain ending in sigs(doc_id, simhash) — shared by the
    signature query and both pairing tiers' oracles."""
    votes = ",\n       ".join(
        f"SUM(CASE WHEN (h & {1 << b}) <> 0 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN v{b} >= 0 THEN {1 << b} ELSE 0 END)::BIGINT"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {hash64_sql('t.tok', 0)} AS h
  FROM (SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents) t
  WHERE t.tok <> ''
),
voted AS (
  SELECT doc_id,
       {votes}
  FROM tok GROUP BY doc_id
),
sigs AS (SELECT doc_id, {combine} AS simhash FROM voted)
"""


@register(
    "simhash_signatures", _simhash_sigs_cte() + "SELECT doc_id, simhash FROM sigs"
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


@register(
    "simhash_near_pairs",
    # Same brute-force oracle as the block tier below: the all-pairs
    # tier is deterministic (portable simhash, exact hamming filter) and
    # pytest asserts the two tiers' outputs are identical, so both earn
    # the full value-hash check.
    _simhash_sigs_cte()
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
""",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=4
    )


@register(
    "simhash_block_near_pairs",
    _simhash_sigs_cte()
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
""",
)
def q_simhash_block_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-tier simhash near-dup pairs (pigeonhole block buckets).

    Identical output to simhash_near_pairs — the bucketing is lossless
    for hamming <= max_hamming — so unlike the LSH tiers this one IS
    deterministic and gets a full value-hash oracle: the oracle computes
    the same pair set by brute force, which DuckDB can afford at sf0.01.
    """
    return dedup.simhash_block_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=4
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _knn_exact_cte(base: str) -> str:
    """The exact top-k CTE list over ``base``, the opening ``WITH base
    AS (...),`` of the (vec_id, vec) relation the queries and their
    neighbours are drawn from."""
    return f"""
{base}
q AS (
  SELECT vec_id AS query_id, vec AS qvec FROM base
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
scored AS (
  SELECT query_id, b.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(qvec, vec), 6) AS cosine_sim
  FROM base b CROSS JOIN q
  WHERE b.vec_id <> query_id
),
topk AS (
  SELECT query_id, neighbor_id, cosine_sim
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn
    FROM scored
  )
  WHERE rn <= {KNN_K}
)"""


_KNN_EXACT_CTE = _knn_exact_cte(
    "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),"
)

# Audit shape shared by both ANN registrations (the HLL pattern,
# VERDICT r3 #2): the exact twin's deterministic aggregates are
# value-hashed by the oracle, and the in-query recall check rides along
# as a boolean the oracle expects TRUE.
_KNN_AUDIT_SELECT = """
SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
       COUNT(*) AS n_exact,
       CAST(SUM(neighbor_id) AS BIGINT) AS sum_exact_neighbor_ids,
       CAST(SUM(CAST(ROUND(cosine_sim * 1000000, 0) AS BIGINT)) AS BIGINT)
         AS sum_exact_sim_e6,
       TRUE AS recall_ok
FROM topk
"""


def _knn_audit_select(check: str) -> str:
    """_KNN_AUDIT_SELECT plus one more certificate column the oracle
    expects TRUE (the column _knn_audit_frame's ``check`` adds)."""
    return _KNN_AUDIT_SELECT.replace(
        "TRUE AS recall_ok\n", f"TRUE AS recall_ok,\n       TRUE AS {check}\n"
    )


# Deterministic audit sample for the ANN rows' brute-force twins
# (VERDICT r12 #2): the registered audit rows run BOTH generators —
# the approximate tier and its exact twin — over a hash64(vec_id)
# residue sample with d = ceil(n/cap), the
# semantic_dedup_sharded_miss_audit_sampled discipline, so the exact
# side costs O(|Q| * cap) cosines REGARDLESS of corpus size and the
# registered rows are themselves plans you could run at 100 TB. The
# fixed query ids are forced INTO the sample (the miss-audit pattern
# has no fixed query set; the kNN audit does — without the OR the
# residue could drop a query row and silently shrink n_queries).
# cap=512 makes the sample a no-op at sf0.001/0.01 (500 vectors:
# d=1, bit-identical to the unsampled audit, pytest-pinned) and a
# real ~4x corpus / ~4x exact-twin cut at sf0.1 (2000 vectors). The
# full-corpus serving path stays covered by the auditless _ship bench
# twins and by knn_bruteforce (the baseline OPERATOR, not an audit —
# one linear scan per query batch, which is the 100 TB ground-truth
# recipe ANN-benchmarks itself uses, so it stays unsampled).
KNN_AUDIT_SAMPLE_CAP = 512
KNN_AUDIT_SAMPLE_SEED = 13

_KNN_SAMPLED_BASE_CTE = f"""WITH nrows AS (
  SELECT GREATEST(CAST(CEIL(COUNT(*) / {KNN_AUDIT_SAMPLE_CAP}.0) AS BIGINT),
                  1) AS d
  FROM embeddings
),
base AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec
  FROM embeddings CROSS JOIN nrows
  WHERE {hash64_sql("CAST(vec_id AS VARCHAR)", KNN_AUDIT_SAMPLE_SEED)} % d = 0
     OR vec_id IN ({", ".join(str(i) for i in KNN_QUERY_IDS)})
),"""

_KNN_EXACT_SAMPLED_CTE = _knn_exact_cte(_KNN_SAMPLED_BASE_CTE)


def knn_audit_sample(emb: DataFrame) -> DataFrame:
    """The Spark twin of _KNN_SAMPLED_BASE_CTE's residue filter: the
    deterministic hash64 sample every converted ANN audit row feeds to
    BOTH its generators, with the fixed query ids forced in. Returns
    the input frame unchanged when d == 1 (n <= cap) so the driver-sf
    no-op is structural, not just numerical."""
    n = emb.count()
    d = max(1, -(-n // KNN_AUDIT_SAMPLE_CAP))
    if d == 1:
        return emb
    return emb.filter(
        (
            F.pmod(
                hash64(F.col("vec_id").cast("string"), KNN_AUDIT_SAMPLE_SEED),
                F.lit(d),
            )
            == 0
        )
        | F.col("vec_id").isin(KNN_QUERY_IDS)
    )


@register(
    "knn_bruteforce",
    _KNN_EXACT_CTE + "\nSELECT query_id, neighbor_id, cosine_sim FROM topk",
)
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.knn_bruteforce(
        load_table(spark, sf_dir, "embeddings"), query_ids=KNN_QUERY_IDS, k=KNN_K
    )


def _knn_audit_frame(
    exact: DataFrame,
    approx: DataFrame,
    check: tuple[str, DataFrame, Column] | None = None,
) -> DataFrame:
    """The one kNN audit aggregation (_KNN_AUDIT_SELECT's Spark twin):
    value-hash the exact twin's deterministic aggregates and certify
    mean recall@k >= 0.5 over the approximate hits in-query. ``check``
    = (column, one-row frame, predicate over it) appends the row's
    extra certificate — ``compaction_unchanged_ok`` or ``subset_ok``."""
    hit = approx.distinct().withColumn("hit", F.lit(1))
    flagged = exact.join(hit, ["query_id", "neighbor_id"], "left")
    audit = flagged.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
        F.sum("neighbor_id").alias("sum_exact_neighbor_ids"),
        F.sum(F.round(F.col("cosine_sim") * 1000000, 0).cast("long")).alias(
            "sum_exact_sim_e6"
        ),
        (
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) * 2 >= F.count(F.lit(1))
        ).alias("recall_ok"),
    )
    if check is None:
        return audit
    name, frame, ok = check
    return audit.crossJoin(frame).select(
        "n_queries",
        "n_exact",
        "sum_exact_neighbor_ids",
        "sum_exact_sim_e6",
        "recall_ok",
        ok.alias(name),
    )


def _hits(frame: DataFrame) -> DataFrame:
    return frame.select("query_id", "neighbor_id")


def _knn_exact(emb: DataFrame, where: Column | None) -> DataFrame:
    if where is None:
        return similarity.knn_bruteforce(emb, query_ids=KNN_QUERY_IDS, k=KNN_K)
    return similarity.knn_bruteforce_filtered(
        emb, where, query_ids=KNN_QUERY_IDS, k=KNN_K
    )


def _assert_folded(idx: str, files_before: int, files_after: int) -> None:
    """Loud in-query invariants of a lifecycle row (driver-side scalars,
    not data rows): the two appends fragmented the store, and the fold
    met its file-count contract — one file per non-empty cell for a
    cid-partitioned inverted file, the byte-targeted count (one file at
    every test sf) for a flat code table."""
    if os.path.isdir(f"{idx}/invfile"):
        n_cells = len(glob.glob(f"{idx}/invfile/cid=*"))
        assert files_before > n_cells, (files_before, n_cells)
        assert files_after == n_cells, (files_after, n_cells)
    else:
        assert files_before >= 3, files_before
        assert files_after < files_before, (files_before, files_after)
        n_files = len(glob.glob(f"{idx}/codes/*.parquet"))
        assert files_after == n_files, (files_after, n_files)


def _ann_audit(
    spark: SparkSession,
    sf_dir: str,
    search: Callable[..., DataFrame],
    *,
    build: Callable[[DataFrame, str], None] | None = None,
    append: Callable[[DataFrame, str], None] | None = None,
    compact: Callable[[SparkSession, str], tuple[int, int]] | None = None,
    where: Column | None = None,
    radius: float | None = None,
) -> DataFrame:
    """The one body of every registered ANN audit row (README.md, "ANN
    stores" → "Registered audit rows"). Both sides run over the
    deterministic residue sample (knn_audit_sample: a no-op up to cap
    vectors, O(cap) at any scale) and the exact twin's aggregates are
    what the oracle value-hashes.

    - Without ``build``, ``search(emb, query_ids=, k=)`` is an
      in-memory tier; it stays lazy (no store to outlive, one consumer;
      its own train actions still run before it returns).
    - With ``build``, ``search(emb, idx)`` reads a store written in a
      scratch directory (operators/_scratch.py): ``build(emb, idx)``
      over the whole sample, or, with ``append``, over the even ids
      with the odd ids appended later as one batch — as two (ids ≡ 1
      and 3 mod 4) when ``compact`` folds the store between a query
      before and after it. Answers are materialized before the store
      is deleted; the lifecycle's ``compaction_unchanged_ok`` certifies
      the fold changed the layout only.
    - The exact twin (brute-force top-k) stays lazy: it reads only the
      primary table and is consumed once, so it folds into the final
      action and its stages overlap the approximate side's (r13).
      ``where`` restricts its candidates and adds ``subset_ok`` (every
      approximate neighbor satisfies the predicate on the PRIMARY
      table). With ``radius`` it is the range twin over the UNSAMPLED
      table, materialized right after the build, and the audit is
      _range_audit_frame's."""
    emb = load_table(spark, sf_dir, "embeddings")
    if radius is None:
        emb = knn_audit_sample(emb)
    if build is None:
        approx = _hits(search(emb, query_ids=KNN_QUERY_IDS, k=KNN_K))
        return _knn_audit_frame(_knn_exact(emb, where), approx)
    exact = pre = None

    def body(idx: str) -> DataFrame:
        nonlocal exact, pre
        if append is None:
            build(emb, idx)
        else:
            build(emb.filter(F.col("vec_id") % 2 == 0), idx)
            later = [(2, 1)] if compact is None else [(4, 1), (4, 3)]
            for mod, res in later:
                append(emb.filter(F.col("vec_id") % mod == res), idx)
        if radius is not None:
            exact = similarity.range_search_exact(
                emb, KNN_QUERY_IDS, radius
            ).localCheckpoint(eager=True)
        if compact is not None:
            pre = _hits(search(emb, idx)).localCheckpoint(eager=True)
            _assert_folded(idx, *compact(spark, idx))
        return _hits(search(emb, idx))

    approx = in_scratch("ann_audit", body)
    if radius is not None:
        return _range_audit_frame(exact, approx)
    check = None
    if compact is not None:
        diff = (
            pre.exceptAll(approx)
            .agg(F.count(F.lit(1)).alias("n_d1"))
            .crossJoin(approx.exceptAll(pre).agg(F.count(F.lit(1)).alias("n_d2")))
        )
        check = ("compaction_unchanged_ok", diff, F.col("n_d1") + F.col("n_d2") == 0)
    elif where is not None:
        n_off = (
            approx.join(
                emb.select(F.col("vec_id").alias("neighbor_id"), where.alias("_in")),
                "neighbor_id",
            )
            .filter(~F.col("_in"))
            .agg(F.count(F.lit(1)).alias("n_off"))
        )
        check = ("subset_ok", n_off, F.col("n_off") == 0)
    return _knn_audit_frame(_knn_exact(emb, where), approx, check)


@register("knn_lsh_ann", _KNN_EXACT_SAMPLED_CTE + _KNN_AUDIT_SELECT)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH ANN with a driver-visible recall
    audit: the brute-force twin runs in the same query and its
    deterministic aggregates are what the oracle hashes; the LSH tier's
    recall@{k} feeds the in-query ``recall_ok`` bound the oracle
    expects TRUE. The ship-path operator itself is
    similarity.lsh_bucket_ann (returns real neighbor rows)."""
    return _ann_audit(spark, sf_dir, similarity.lsh_bucket_ann)


RANGE_RADIUS = 0.25

_RANGE_EXACT_CTE = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
q AS (
  SELECT vec_id AS query_id, vec AS qvec FROM base
  WHERE vec_id IN ({', '.join(str(i) for i in KNN_QUERY_IDS)})
),
in_range AS (
  SELECT query_id, b.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(qvec, vec), 6) AS cosine_sim
  FROM base b CROSS JOIN q
  WHERE b.vec_id <> query_id
    AND ROUND(list_cosine_similarity(qvec, vec), 6) >= {RANGE_RADIUS}
)"""


# Audit select shared by the self-contained and stored range-search
# registrations (the _KNN_AUDIT_SELECT pattern, range flavor).
_RANGE_AUDIT_SELECT = """
SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
       COUNT(*) AS n_exact,
       COALESCE(CAST(SUM(neighbor_id) AS BIGINT), 0)
         AS sum_exact_neighbor_ids,
       COALESCE(CAST(SUM(CAST(ROUND(cosine_sim * 1000000, 0) AS BIGINT))
                     AS BIGINT), 0) AS sum_exact_sim_e6,
       TRUE AS subset_ok,
       TRUE AS recall_ok
FROM in_range
"""


def _range_audit_frame(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Shared audit body for the range-search registrations: exact-twin
    deterministic aggregates (value-hashed by the oracle) + subset_ok
    (zero approximate hits outside the exact in-range set — impossible
    by construction since probed-cell scoring is exact) + recall_ok
    (the approximate tier found ≥ 50% of the exact in-range rows).
    Zero-row-safe: when NO exact pair is in range (a radius above every
    off-diagonal cosine), the sums coalesce to 0 and recall_ok is
    vacuously TRUE — matching the oracle's aggregates-over-empty
    output instead of emitting NULLs that flip the value hash."""
    hit = (
        approx.select("query_id", "neighbor_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    flagged = exact.join(hit, ["query_id", "neighbor_id"], "left")
    n_false_pos = approx.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n_fp"))
    return (
        flagged.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum("neighbor_id"), F.lit(0)).alias(
                "sum_exact_neighbor_ids"
            ),
            F.coalesce(
                F.sum(F.round(F.col("cosine_sim") * 1000000, 0).cast("long")),
                F.lit(0),
            ).alias("sum_exact_sim_e6"),
            (
                F.coalesce(F.sum(F.coalesce(F.col("hit"), F.lit(0))), F.lit(0))
                * 2
                >= F.count(F.lit(1))
            ).alias("recall_ok"),
        )
        .crossJoin(n_false_pos)
        .select(
            "n_queries",
            "n_exact",
            "sum_exact_neighbor_ids",
            "sum_exact_sim_e6",
            (F.col("n_fp") == 0).alias("subset_ok"),
            "recall_ok",
        )
    )


@register("knn_range_ivf", _RANGE_EXACT_CTE + _RANGE_AUDIT_SELECT)
def q_knn_range_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE search — FAISS's second query mode (range_search alongside
    top-k search), closing the ANN family's API surface: all neighbors
    within a cosine radius, variable cardinality per query, no k and no
    top-k window anywhere. The IVF-pruned tier
    (similarity.ivf_range_search) runs against the exact twin in the
    same query; the oracle value-hashes the exact side's deterministic
    aggregates plus ``subset_ok`` (every IVF hit is an exact in-range
    pair — scoring inside probed cells is exact, so false positives are
    impossible by construction) and ``recall_ok`` (the IVF tier found
    ≥ 50% of the exact in-range rows across the query set — the same
    cell-miss bound as knn_ivf_ann's)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.range_search_exact(
        emb, KNN_QUERY_IDS, RANGE_RADIUS
    ).localCheckpoint(eager=True)
    approx = similarity.ivf_range_search(
        emb, KNN_QUERY_IDS, RANGE_RADIUS
    ).localCheckpoint(eager=True)
    return _range_audit_frame(exact, approx)


_EMB_EXACT_PAIRS_CTE = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
exact_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {dedup.PAIR_COSINE_SQL} AS cosine_sim
  FROM base a JOIN base b ON a.vec_id < b.vec_id
  WHERE {dedup.cosine_edge_sql(EMBED_DUP_THRESHOLD)}
)"""


@register(
    "embedding_near_dup_pairs",
    _EMB_EXACT_PAIRS_CTE + "\nSELECT id_a, id_b, cosine_sim FROM exact_pairs",
)
def q_embed_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs via the blocked Gram
    kernel (similarity.embedding_all_pairs_blocked) — bit-identical to
    the join+fold form the oracle replays, but the N² work is spread
    over B(B+1)/2 Arrow-batched kernels instead of one JVM join that
    materializes every pair (measured 3.6 s vs 6.0 s at sf0.01; the gap
    widens quadratically with corpus size)."""
    return similarity.embedding_all_pairs_blocked(
        load_table(spark, sf_dir, "embeddings"), threshold=EMBED_DUP_THRESHOLD
    )


@register(
    "embedding_near_dup_lsh",
    _EMB_EXACT_PAIRS_CTE
    + """
SELECT COUNT(*) AS n_exact_pairs,
       CAST(SUM(id_a + id_b) AS BIGINT) AS sum_exact_pair_ids,
       CAST(SUM(CAST(ROUND(cosine_sim * 1000000, 0) AS BIGINT)) AS BIGINT)
         AS sum_exact_sim_e6,
       TRUE AS lsh_subset_ok,
       TRUE AS recall_ok
FROM exact_pairs
""",
)
def q_embed_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-tier embedding near-dup (sign-pattern LSH buckets, cosine
    kernel only within buckets) with a driver-visible audit: the exact
    blocked-Gram twin runs in the same query; the oracle value-hashes
    its aggregates and expects ``lsh_subset_ok`` (every LSH pair is
    exactly verified, so the LSH output is provably a subset of the
    exact tier) and ``recall_ok`` (pair recall >= 0.85; measured
    0.949-0.955 across sf0.01-0.1 at 16 tables — the corpus threshold
    0.4 ≈ 66° is a WIDE angle for hyperplane LSH, hence 16 tables vs
    the 8-table default). The ship-path operator itself is
    similarity.embedding_near_dup_lsh (returns real pair rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.embedding_all_pairs_blocked(
        emb, threshold=EMBED_DUP_THRESHOLD
    ).localCheckpoint(eager=True)
    lsh = (
        similarity.embedding_near_dup_lsh(
            emb, threshold=EMBED_DUP_THRESHOLD, num_tables=16
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    ek = exact.select("id_a", "id_b")
    aux = (
        lsh.join(ek, ["id_a", "id_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .crossJoin(
            lsh.join(ek, ["id_a", "id_b"], "left_anti").agg(
                F.count(F.lit(1)).alias("n_viol")
            )
        )
    )
    stats = exact.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.sum(F.col("id_a") + F.col("id_b")).alias("sum_exact_pair_ids"),
        F.sum(F.round(F.col("cosine_sim") * 1000000, 0).cast("long")).alias(
            "sum_exact_sim_e6"
        ),
    )
    return stats.crossJoin(F.broadcast(aux)).select(
        "n_exact_pairs",
        "sum_exact_pair_ids",
        "sum_exact_sim_e6",
        (F.col("n_viol") == 0).alias("lsh_subset_ok"),
        (F.col("n_hits") * 20 >= F.col("n_exact_pairs") * 17).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "token_stats",
    TOKENS_CTE_SQL
    + """
SELECT doc_id,
       len(ws)::BIGINT AS n_tokens,
       len(list_distinct(ws))::BIGINT AS n_distinct,
       ROUND(CASE WHEN len(ws) > 0
             THEN list_aggregate(list_transform(ws, w -> length(w)), 'sum')::DOUBLE / len(ws)
             ELSE 0.0 END, 4) AS avg_token_len
FROM toks
""",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_stats(load_table(spark, sf_dir, "documents"))


def _stoplist_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textstats.LANG_MARKERS[lang])
    return f"[{words}]"


@register(
    "quality_scores",
    tokens_cte_sql(("text",))
    + f"""
SELECT doc_id,
  ROUND(alpha / safe_total, 4) AS alpha_ratio,
  ROUND(punct / safe_total, 4) AS punct_ratio,
  ROUND(space / safe_total, 4) AS space_ratio,
  ROUND(n_stop / safe_tok, 4) AS stopword_ratio,
  ROUND((alpha / safe_total) * (1 - punct / safe_total)
        * least(n_tokens / 20.0, 1.0), 4) AS quality_score
FROM (
  SELECT doc_id,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE AS punct,
    length(regexp_replace(text, '{NON_WS_CHAR}', '', 'g'))::DOUBLE AS space,
    CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END::DOUBLE AS safe_total,
    len(ws)::DOUBLE AS n_tokens,
    CASE WHEN len(ws) > 0 THEN len(ws) ELSE 1 END::DOUBLE AS safe_tok,
    len(list_filter(ws, w -> list_contains({_stoplist_sql('en')}, w)))::DOUBLE AS n_stop
  FROM toks
)
""",
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_scores(load_table(spark, sf_dir, "documents"))


def quality_classifier_descent_ctes(rounds: int, lr: float) -> tuple[str, str]:
    """CTE body replaying the train_quality_classifier descent — the
    building block both classifier oracles AND the curation funnel's
    classifier stage embed. Returns (body, final_weights_cte): ``body``
    is ``toks AS (...), feat AS (...), nn AS (...), r0 AS (...),
    s1 ... r{rounds} AS (...)`` ready to splice into an outer WITH
    list (caller guarantees the names toks/feat/nn/r0/s*/g*/r* are
    free at that scope), and the second element names the CTE holding
    the final trained weights (w0..w3)."""
    c1 = textstats.QC_CENTER["x1"]
    c2 = textstats.QC_CENTER["x2"]
    c3 = textstats.QC_CENTER["x3"]
    scale = textstats.QC_GRAD_SCALE
    body = f"""toks AS (SELECT doc_id, n_chars, text, {TOKENS_SQL} AS ws FROM documents),
feat AS (
  SELECT doc_id,
    CASE WHEN n_chars >= {textstats.QC_LABEL_MIN_CHARS}
              THEN 1.0 ELSE 0.0 END AS y,
    ROUND(len(list_filter(ws, w -> list_contains({_stoplist_sql('en')}, w)))::DOUBLE
          / CASE WHEN len(ws) > 0 THEN len(ws) ELSE 1 END, 4) - {c1} AS x1,
    ROUND(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
          / CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END, 4) - {c2} AS x2,
    ROUND(n_chars / 1000.0, 4) - {c3} AS x3
  FROM toks),
nn AS (SELECT COUNT(*)::DOUBLE AS n FROM feat),
r0 AS (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1,
              0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3)"""
    prev = "r0"
    for r in range(1, rounds + 1):
        body += f""",
s{r} AS (SELECT y, x1, x2, x3,
  ROUND(1.0/(1.0+exp(-(w0 + w1*x1 + w2*x2 + w3*x3))), 7) AS p
  FROM feat CROSS JOIN {prev}),
g{r} AS (SELECT
  SUM(CAST(ROUND((y-p)*{scale!r}, 0) AS BIGINT)) AS q0,
  SUM(CAST(ROUND((y-p)*x1*{scale!r}, 0) AS BIGINT)) AS q1,
  SUM(CAST(ROUND((y-p)*x2*{scale!r}, 0) AS BIGINT)) AS q2,
  SUM(CAST(ROUND((y-p)*x3*{scale!r}, 0) AS BIGINT)) AS q3,
  SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_pos,
  SUM(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)::BIGINT
    AS n_correct
  FROM s{r}),
r{r} AS (SELECT
  ROUND(w0 + {lr!r} * ((q0::DOUBLE / {scale!r}) / n), 9) AS w0,
  ROUND(w1 + {lr!r} * ((q1::DOUBLE / {scale!r}) / n), 9) AS w1,
  ROUND(w2 + {lr!r} * ((q2::DOUBLE / {scale!r}) / n), 9) AS w2,
  ROUND(w3 + {lr!r} * ((q3::DOUBLE / {scale!r}) / n), 9) AS w3
  FROM {prev} CROSS JOIN g{r} CROSS JOIN nn)"""
        prev = f"r{r}"
    return body, prev


def _quality_classifier_sql(
    rounds: int, lr: float, score_docs: bool = False
) -> str:
    """Oracle for train_quality_classifier: the full-batch GD loop
    unrolled as CTE triples — s{r} (per-doc sigmoid scores under round
    r-1's weights), g{r} (EXACT integer gradient sums + the round's
    prediction counts), r{r} (the updated weights) — one audit row per
    round UNION ALL'd. Bit-identical to the Spark trajectory because
    every non-transcendental step is exactly-rounded IEEE arithmetic,
    sigmoid rounds to 7 before use, gradient sums are integer-exact,
    and both engines' ROUND is half-away-from-zero."""
    body, prev = quality_classifier_descent_ctes(rounds, lr)
    sql = "\nWITH " + body
    sel = [
        f"SELECT {r} AS round, g{r}.n_pos AS n_pos_pred,"
        f" g{r}.n_correct,"
        f" CAST(ROUND(r{r}.w0*1e9,0) AS BIGINT) AS w0_e9,"
        f" CAST(ROUND(r{r}.w1*1e9,0) AS BIGINT) AS w1_e9,"
        f" CAST(ROUND(r{r}.w2*1e9,0) AS BIGINT) AS w2_e9,"
        f" CAST(ROUND(r{r}.w3*1e9,0) AS BIGINT) AS w3_e9"
        f" FROM g{r} CROSS JOIN r{r}"
        for r in range(1, rounds + 1)
    ]
    if score_docs:
        return (
            sql
            + f"""
SELECT doc_id,
       CAST(ROUND(ROUND(1.0/(1.0+exp(-(w0 + w1*x1 + w2*x2 + w3*x3))), 7)
                  * 1000000, 0) AS BIGINT) AS score_e6,
       ROUND(1.0/(1.0+exp(-(w0 + w1*x1 + w2*x2 + w3*x3))), 7) >= 0.5
         AS kept,
       y = 1.0 AS label
FROM feat CROSS JOIN {prev}"""
        )
    return sql + "\n" + " UNION ALL ".join(sel) + " ORDER BY round"


_QC_ROUNDS = 8
_QC_LR = 3.0


@register(
    "quality_classifier_train", _quality_classifier_sql(_QC_ROUNDS, _QC_LR)
)
def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED quality filter of the CCNet / LLaMA pipelines,
    Spark-native: logistic regression fit by full-batch gradient
    descent over deterministic surface features (stopword ratio, alpha
    ratio, scaled length — rounded then fixed-centered), weak-labeled
    by the Gopher length gate. Each round is ONE map-side-combined
    6-scalar aggregate over a localCheckpointed zero-shuffle feature
    frame; only loop-control scalars reach the driver — the
    kmeans_train_converged discipline, with the determinism contract
    HARDENED: per-doc gradient contributions quantize to integers
    before summing, so the round aggregate is exact and
    summation-order-independent (no float-boundary caveat at all).
    One value-hashed audit row per round: prediction counts at the 0.5
    boundary and the post-update weights as exact e9 integers —
    accuracy climbs 51%->94% over the 8 registered rounds with the
    weight mass concentrating on the informative length feature
    (measured at sf0.01). The oracle replays the entire descent
    unrolled as CTE triples."""
    return textstats.train_quality_classifier(
        load_table(spark, sf_dir, "documents"),
        rounds=_QC_ROUNDS,
        lr=_QC_LR,
    )


@register(
    "quality_classifier_filter",
    _quality_classifier_sql(_QC_ROUNDS, _QC_LR, score_docs=True),
)
def q_quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE half of the trained quality filter — train, then
    score EVERY document with the final weights and keep the confident
    slice (kmeans_train_converged : embedding_cluster_assign ::
    quality_classifier_train : this). One row per document: the
    sigmoid score as an exact e6 integer, the kept/cut decision at the
    0.5 boundary, and the weak label for offline precision/recall
    reads. The scoring pass is a zero-shuffle projection with the
    trained weights as plan literals — at 100 TB this is the cheap
    full-corpus sweep the expensive trained artifact exists to enable.
    The oracle replays the identical descent (same unrolled CTE
    triples) and scores from its r8 weights, so a single weight ulp
    anywhere in training would hash-mismatch every document."""
    return textstats.train_quality_classifier(
        load_table(spark, sf_dir, "documents"),
        rounds=_QC_ROUNDS,
        lr=_QC_LR,
        return_scores=True,
    )


def _lang_id_oracle() -> str:
    langs = sorted(textstats.LANG_MARKERS)
    scores = ",\n    ".join(
        f"len(list_filter(ws, w -> list_contains({_stoplist_sql(lang)}, w)))::DOUBLE / safe_tok AS s_{lang}"
        for lang in langs
    )
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    case = " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs
    )
    return (
        TOKENS_CTE_SQL
        + f""",
scored AS (
  SELECT doc_id,
    {scores}
  FROM (SELECT doc_id, ws,
        CASE WHEN len(ws) > 0 THEN len(ws) ELSE 1 END::DOUBLE AS safe_tok
        FROM toks)
)
SELECT doc_id,
  CASE WHEN best > 0 THEN (CASE {case} ELSE 'unknown' END)
       ELSE 'unknown' END AS lang_guess,
  ROUND(best, 4) AS lang_score
FROM (SELECT *, {best} AS best FROM scored)
"""
    )


@register("lang_id", _lang_id_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    tokens_cte_sql(("text",))
    + f"""
SELECT doc_id,
       md5(text) AS content_md5,
       {hash64_sql("array_to_string(ws[1:8], ' ')", 1)} AS prefix_fp
FROM toks
""",
)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.doc_fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "bigram_frequencies",
    TOKENS_CTE_SQL
    + """,
grams AS (
  SELECT ws[i] || ' ' || ws[i+1] AS ngram
  FROM toks CROSS JOIN UNNEST(generate_series(1, greatest(len(ws)-1, 0))) AS t(i)
)
SELECT ngram, count(*) AS count
FROM grams GROUP BY ngram
ORDER BY count DESC, ngram ASC
LIMIT 50
""",
)
def q_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.ngram_frequencies(
        load_table(spark, sf_dir, "documents"), n=2, k=50
    )


# ---------------------------------------------------------------------------
# multimodal columns
# ---------------------------------------------------------------------------

_MEDIA_CTE = """
WITH media AS (
  SELECT doc_id AS media_id,
         CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         octet_length(encode(text))::BIGINT AS n_bytes,
         md5(text) AS content_hash
  FROM documents
)
"""


@register(
    "multimodal_metadata_by_kind",
    _MEDIA_CTE
    + """
SELECT kind,
       count(*) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MIN(n_bytes) AS min_bytes,
       MAX(n_bytes) AS max_bytes
FROM media GROUP BY kind
""",
)
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.documents_as_media(load_table(spark, sf_dir, "documents"))
    return multimodal.media_metadata_summary(media)


@register(
    "multimodal_features",
    _MEDIA_CTE
    + """
SELECT media_id, kind, n_bytes,
       CAST(16 + ('0x' || substr(content_hash, 1, 4))::BIGINT % 4080 AS INTEGER) AS width,
       CAST(16 + ('0x' || substr(content_hash, 5, 4))::BIGINT % 2144 AS INTEGER) AS height,
       CAST(CASE WHEN kind = 'image' THEN 1
            ELSE 1 + ('0x' || substr(content_hash, 9, 4))::BIGINT % 3600 END AS INTEGER) AS n_frames,
       content_hash AS feature_hash
FROM media
""",
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mapInPandas plumbing check: the deterministic fake
    decoder's output is reproduced independently by the oracle from the
    same md5 arithmetic — schema, batching, and UDF signature all verified
    by value."""
    media = multimodal.documents_as_media(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


@register(
    "multimodal_real_decode",
    """
SELECT doc_id AS media_id,
       CAST(1 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 64 AS INTEGER) AS width,
       CAST(1 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 64 AS INTEGER) AS height
FROM documents
""",
)
def q_media_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked end to end: each document is
    encoded as a spec-valid grayscale PNG (functions/imaging.py, zlib +
    CRC chunks), shipped through a binary column, and the feature stage
    parses width/height back out of the actual PNG header bytes — no
    fake decoder anywhere in this path. The oracle recomputes the
    expected dimensions from the same md5-derived formula the encoder
    used, so a hash match proves the byte-level encode->decode round
    trip, not just the plumbing."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_png_media(docs)
    feats = multimodal.extract_features(media, use_fake_decoder=False)
    return feats.select("media_id", "width", "height")


@register(
    "multimodal_pixel_stats",
    """
WITH params AS (
  SELECT doc_id AS media_id,
         ('0x' || substr(md5(text), 1, 2))::BIGINT AS c,
         1 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 64 AS w,
         1 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 64 AS h
  FROM documents
),
rowpx AS (
  SELECT media_id, w, h,
         list_transform(generate_series(0, CAST(w - 1 AS INTEGER)),
                        x -> (x * 7 + c) % 256) AS px
  FROM params
)
SELECT media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(list_aggregate(px, 'sum') * h AS BIGINT) AS sum_pixels,
       CAST(list_aggregate(px, 'min') AS INTEGER) AS min_pixel,
       CAST(list_aggregate(px, 'max') AS INTEGER) AS max_pixel
FROM rowpx
""",
)
def q_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL pixel-raster decode, oracle-checked end to end: documents
    are encoded as spec-valid grayscale PNGs (zlib + CRC chunks), the
    decode stage inflates the IDAT stream and unfilters every row back
    to raw pixels (stdlib only — functions/imaging.py png_decode_gray),
    and the output is integer-exact per-image channel statistics. The
    oracle recomputes the stats from the deterministic generator
    parameters (pixel x of every row is (x*7 + md5[0]) % 256), so a
    hash match proves the byte-level raster round trip — the last piece
    of the multimodal path that was previously header-only."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_png_media(docs)
    return multimodal.pixel_stats(media)


@register(
    "multimodal_frame_samples",
    _MEDIA_CTE
    + """
SELECT media_id, CAST(f.frame_index AS INTEGER) AS frame_index
FROM (
  SELECT media_id,
         CAST(1 + ('0x' || substr(content_hash, 9, 4))::BIGINT % 3600 AS INTEGER) AS n_frames
  FROM media WHERE kind = 'video'
) v
CROSS JOIN UNNEST(generate_series(0, n_frames - 1, 30)) AS f(frame_index)
""",
)
def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.documents_as_media(load_table(spark, sf_dir, "documents"))
    return multimodal.frame_sample_plan(media, every_n=30)


@register("knn_ivf_ann", _KNN_EXACT_SAMPLED_CTE + _KNN_AUDIT_SELECT)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN — the scale path where even LSH bucket
    unions are too many candidates — with a driver-visible recall audit:
    the brute-force twin runs in the same query, the oracle value-hashes
    its deterministic aggregates, and ``recall_ok`` certifies mean
    recall@k >= 0.5 in-query (measured 0.64-0.74 across sf tiers; the
    KMeans quantizer is seed-fixed so the audit is deterministic). The
    ship-path operator itself is similarity.ivf_ann (returns real
    neighbor rows)."""
    return _ann_audit(spark, sf_dir, similarity.ivf_ann)


@register(
    "pipeline_clean_corpus",
    f"""
WITH keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
deduped AS (
  SELECT d.* FROM documents d JOIN keep USING (doc_id)
),
scored AS (
  SELECT doc_id, lang, source,
         len({TOKENS_SQL})::BIGINT AS n_tokens,
         ROUND((length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END))
               * (1 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                      / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END))
               * least(len({TOKENS_SQL}) / 20.0, 1.0),
               4) AS quality_score
  FROM deduped
)
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(ROUND(quality_score * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_quality_e4
FROM scored
WHERE quality_score >= 0.3
GROUP BY source, lang
""",
)
def q_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep: exact dedup (deterministic min-id
    survivor) → quality filter (C4-style score ≥ 0.3) → per-(source,
    lang) corpus stats — as a SINGLE-SCAN plan. Fingerprint, token count,
    and quality score are computed in one projection over one pass of the
    corpus; dedup is a row_number window over the fingerprint (one
    shuffle) instead of a groupBy+semi-join back to the source, which
    re-scanned documents 8× in the naive composition. The template a
    100 TB cleaning job follows."""
    from pyspark.sql import Window

    from parallel_map_reduce_spark.functions.hashing import fingerprint_md5

    docs = load_table(spark, sf_dir, "documents")
    one_pass = docs.select(
        "doc_id",
        "lang",
        "source",
        fingerprint_md5(F.col("text")).alias("__fp"),
        token_count(F.col("text")).alias("n_tokens"),
        textstats.quality_score_expr(F.col("text")).alias("quality_score"),
    )
    w = Window.partitionBy("__fp").orderBy(F.col("doc_id").asc())
    enriched = (
        one_pass.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("quality_score") >= 0.3))
    )
    return enriched.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        # integer sum of the 4-decimal scores: exact under any summation
        # order, unlike AVG of doubles (ulp can flip a rounded 4th decimal)
        F.sum(F.round(F.col("quality_score") * 10000, 0).cast("long")).alias(
            "sum_quality_e4"
        ),
    )


@register(
    "bpe_token_stats",
    f"""
SELECT doc_id,
       len(regexp_extract_all(text,
           '{BPE_PRETOKEN_REGEX.replace("'", "''")}'))
           AS n_bpe_tokens,
       len({TOKENS_SQL}) AS n_ws_tokens
FROM documents
""",
)
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count estimation with a GPT-2-style pre-tokenizer regex
    (RE2- and Java-compatible subset) next to the whitespace count — the
    pair a training-data pipeline budgets context length with."""
    return textstats.bpe_token_stats(load_table(spark, sf_dir, "documents"))


@register(
    "chunk_documents",
    f"""
SELECT doc_id, chunk_start,
       array_to_string(toks[chunk_start:chunk_start + 31], ' ') AS chunk_text,
       least(32, len(toks) - chunk_start + 1) AS chunk_len
FROM (
    SELECT doc_id,
           {TOKENS_SQL} AS toks
    FROM documents
) d,
LATERAL (SELECT unnest(generate_series(1, greatest(len(toks), 1), 16)) AS chunk_start) s
""",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window=32, stride=16) — the
    context-window segmentation step before tokenizer/packing in an LLM
    data pipeline."""
    return textstats.chunk_documents(
        load_table(spark, sf_dir, "documents"), window=32, stride=16
    )


@register(
    "dataset_split_assignment",
    """
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM (
    SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'valid'
                ELSE 'test' END AS split,
           doc_id, n_chars
    FROM documents
) t
GROUP BY split
ORDER BY split
""",
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment keyed on
    doc_id — reproducible across engines and runs (never rand()-based,
    which can't be oracle-checked or re-derived after the fact). The
    CASE is a pure projection: no shuffle beyond the 3-group agg."""
    docs = load_table(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 < 8, "train")
        .when(F.col("doc_id") % 10 == 8, "valid")
        .otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "doc_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


@register(
    "pack_batches_by_budget",
    """
SELECT batch_id, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS batch_chars
FROM (
    SELECT doc_id, n_chars,
           (doc_id % 32) * 1000000
           + CAST(floor((SUM(n_chars) OVER w - n_chars) / 65536.0) AS BIGINT)
           AS batch_id
    FROM documents
    WINDOW w AS (PARTITION BY doc_id % 32 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
) t
GROUP BY batch_id
""",
)
def q_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to training batches under a
    65536-char budget via a running sum — greedy first-fit in doc order,
    the standard way corpora are packed into fixed token budgets.

    Scale posture: a single global running sum would serialize on one
    partition, so packing is sharded (doc_id % 32) and the batch id
    embeds the shard — each shard packs independently, giving one
    shuffle on the shard key and full parallelism at any corpus size.
    Deterministic (keyed shard + doc_id order), so DuckDB reproduces it
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    shard = F.col("doc_id") % 32
    w = (
        Window.partitionBy(shard)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    batch = shard * 1000000 + F.floor(
        (F.sum("n_chars").over(w) - F.col("n_chars")) / 65536.0
    )
    return (
        docs.select("doc_id", "n_chars", batch.alias("batch_id"))
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("batch_chars"),
        )
    )


# Component-formation oracles: an edge list `thr` after some head CTEs,
# its recursive components (dedup.components_sql), then a tail that
# reads `comp` — either the final SELECT or more CTEs. The exact and
# MinHash-LSH variants differ ONLY in `thr`.
_EXACT_THR = f"thr AS ({_EXACT_EDGES})"
_LSH_THR = f"{_SIGS_CTE},\nthr AS ({_LSH_EDGES})"
_GROUP_TAIL = "\nSELECT doc_id, group_id FROM comp"
_LOSERS = "(SELECT doc_id FROM comp WHERE doc_id <> group_id)"
_KEEP_TAIL = f"""
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN {_LOSERS}
"""


def _components_oracle(head: str, thr: str, tail: str) -> str:
    return f"WITH RECURSIVE {head},\n{thr},\n{dedup.components_sql('thr')}{tail}"


def _near_dup_edges(docs: DataFrame, edge_builder: str) -> DataFrame:
    """(id_a, id_b) near-dup edge list under the chosen strategy.

    ``exact``  — shingle inverted-index self-join (f² fan-out on hot
                 shingles; the sandbox-scale oracle twin).
    ``lsh``    — MinHash banding gates an exact verify (the 100 TB ship
                 path: join keys are band values, not raw shingles).
    ``prefix`` — AllPairs prefix filtering (exact output, hot shingles
                 never join; the 100 TB form of the exact tier).
    """
    if edge_builder == "lsh":
        pairs = dedup.minhash_lsh_dedup_pairs(
            docs, num_hashes=NUM_MINHASHES, threshold=JACCARD_THRESHOLD
        )
    elif edge_builder == "prefix":
        pairs = dedup.ngram_jaccard_pairs_prefix(docs, threshold=JACCARD_THRESHOLD)
    elif edge_builder == "exact":
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)
    else:
        raise ValueError(f"unknown edge_builder: {edge_builder!r}")
    return pairs.select("id_a", "id_b")


def _dedup_group_assignment(
    spark: SparkSession, sf_dir: str, edge_builder: str
) -> DataFrame:
    edges = _near_dup_edges(load_table(spark, sf_dir, "documents"), edge_builder)
    comp = dedup.connected_components(edges)
    return comp.select(F.col("u").alias("doc_id"), F.col("label").alias("group_id"))


def _dedup_keep_corpus(
    spark: SparkSession, sf_dir: str, edge_builder: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    losers = (
        dedup.connected_components(_near_dup_edges(docs, edge_builder))
        .filter(F.col("u") != F.col("label"))
        .select(F.col("u").alias("doc_id"))
    )
    return docs.join(F.broadcast(losers), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "dedup_group_assignment",
    _components_oracle(shingles_ctes(), _EXACT_THR, _GROUP_TAIL),
)
def q_dedup_group_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup group formation: exact-Jaccard pairs -> connected
    components -> (doc_id, canonical group id). The step that turns a
    pair list into the keep/drop decision of a dedup pipeline. The
    DuckDB oracle computes the same components with a recursive CTE —
    the iterative Spark fixpoint and the SQL recursion must agree
    exactly. Oracle twin; ship ``dedup_group_assignment_lsh`` at
    100 TB."""
    return _dedup_group_assignment(spark, sf_dir, edge_builder="exact")


@register(
    "dedup_group_assignment_lsh",
    _components_oracle(shingles_ctes(), _LSH_THR, _GROUP_TAIL),
)
def q_dedup_group_assignment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group formation with the scale-path edge builder: MinHash+LSH
    candidates verified by exact jaccard feed the same connected
    components. The banding join never fans out on corpus-frequent
    shingles, so this is the variant to run at 100 TB. Banding joins on
    raw portable-hash values, so the DuckDB oracle replays the edge list
    exactly and the component labels stay value-hash-verified."""
    return _dedup_group_assignment(spark, sf_dir, edge_builder="lsh")


@register(
    "dedup_keep_corpus",
    _components_oracle(shingles_ctes(), _EXACT_THR, _KEEP_TAIL),
)
def q_dedup_keep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final answer: the corpus with near-dup
    losers removed — every document either untouched by any pair or the
    canonical (min-id) member of its component. Composes the pair
    generator and connected components, then one anti join against the
    loser set (tiny relative to the corpus, so it broadcasts). Oracle
    twin; ship ``dedup_keep_corpus_lsh`` at 100 TB."""
    return _dedup_keep_corpus(spark, sf_dir, edge_builder="exact")


@register(
    "dedup_keep_corpus_lsh",
    _components_oracle(shingles_ctes(), _LSH_THR, _KEEP_TAIL),
)
def q_dedup_keep_corpus_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept-corpus with the MinHash-LSH edge builder — the 100 TB ship
    path for the final dedup answer (see dedup_group_assignment_lsh)."""
    return _dedup_keep_corpus(spark, sf_dir, edge_builder="lsh")


# The training-batch pipeline oracle: the component oracle's edge lists
# over a shingle CTE built from the exact-deduped `kept` set, so a
# threshold or banding tweak can never diverge the twins.
_PIPE_HEAD = f"""kept AS (
  SELECT d.* FROM documents d
  JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
  USING (doc_id)
),
{shingles_ctes("kept")}"""

_PIPE_TAIL = f""",
final_keep AS (
  SELECT t.doc_id, t.ws FROM toks t
  WHERE t.doc_id NOT IN {_LOSERS}
),
chunks AS (
  SELECT doc_id, chunk_start,
         least(32, len(ws) - chunk_start + 1) AS chunk_len
  FROM final_keep,
  LATERAL (SELECT unnest(generate_series(1, greatest(len(ws), 1), 16)) AS chunk_start) s
),
packed AS (
  SELECT (doc_id % 32) * 1000000
         + CAST(floor((SUM(chunk_len) OVER w - chunk_len) / 1024.0) AS BIGINT)
         AS batch_id,
         chunk_len
  FROM chunks
  WINDOW w AS (PARTITION BY doc_id % 32 ORDER BY doc_id, chunk_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT batch_id, COUNT(*) AS n_chunks, CAST(SUM(chunk_len) AS BIGINT) AS batch_tokens
FROM packed
GROUP BY batch_id
"""


def _training_batches(spark: SparkSession, sf_dir: str, use_lsh: bool) -> DataFrame:
    """Shared DAG body; the two registrations differ only in edge builder."""
    docs = load_table(spark, sf_dir, "documents")
    kept = dedup.dedup_exact(docs)
    if use_lsh:
        edges = dedup.minhash_lsh_dedup_pairs(
            kept, num_hashes=NUM_MINHASHES, threshold=JACCARD_THRESHOLD
        ).select("id_a", "id_b")
    else:
        edges = dedup.ngram_jaccard_pairs(kept, threshold=JACCARD_THRESHOLD).select(
            "id_a", "id_b"
        )
    losers = (
        dedup.connected_components(edges)
        .filter(F.col("u") != F.col("label"))
        .select(F.col("u").alias("doc_id"))
    )
    final_keep = kept.join(F.broadcast(losers), "doc_id", "left_anti")
    chunks = textstats.chunk_documents(final_keep, window=32, stride=16).select(
        "doc_id", "chunk_start", "chunk_len"
    )
    shard = F.col("doc_id") % 32
    w = (
        Window.partitionBy(shard)
        .orderBy("doc_id", "chunk_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    batch = shard * 1000000 + F.floor(
        (F.sum("chunk_len").over(w) - F.col("chunk_len")) / 1024.0
    )
    return (
        chunks.select(batch.alias("batch_id"), "chunk_len")
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").alias("batch_tokens"),
        )
    )


@register(
    "pipeline_training_batches", _components_oracle(_PIPE_HEAD, _EXACT_THR, _PIPE_TAIL)
)
def q_pipeline_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data prep DAG as one query — what a user of
    this engine actually ships: exact dedup (min-id survivor per md5) →
    near-dup removal (exact-Jaccard pairs → connected components → drop
    losers) → context-window chunking (32/16) → sharded sequence packing
    into 1024-token batches → batch-level stats. Every stage is the
    already-oracle-checked operator, composed; the DuckDB oracle replays
    the identical DAG (recursive CTE for the components), so the full
    pipeline is value-hash-verified end to end — not just its pieces.

    Scale shape: one corpus scan feeds dedup and shingling; the only
    data-sized shuffles are the fingerprint groupBy, the shingle
    inverted-index join, and the per-shard packing window. This exact
    variant is the sf0.01 oracle twin; ship
    ``pipeline_training_batches_lsh`` at 100 TB."""
    return _training_batches(spark, sf_dir, use_lsh=False)


@register(
    "pipeline_training_batches_lsh",
    _components_oracle(_PIPE_HEAD, _LSH_THR, _PIPE_TAIL),
)
def q_pipeline_training_batches_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME training-batch DAG with the scale-path edge builder:
    MinHash+LSH candidate pairs (banded equality join) verified by exact
    jaccard, instead of the full shingle inverted-index self-join. This
    is the variant to ship at 100 TB — the edge stage's join is on band
    keys whose bucket sizes don't grow with corpus-frequent shingles.
    Because banding joins on raw portable-hash values, the DuckDB oracle
    replays it exactly: the full pipeline stays value-hash-verified."""
    return _training_batches(spark, sf_dir, use_lsh=True)


@register(
    "curate_top_docs_per_lang",
    f"""
WITH base AS (
  SELECT doc_id, lang,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE AS punct,
    CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END::DOUBLE AS safe_total,
    len({TOKENS_SQL})::DOUBLE AS n_tokens
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         ROUND((alpha / safe_total) * (1 - punct / safe_total)
               * least(n_tokens / 20.0, 1.0), 4) AS quality_score
  FROM base
)
SELECT lang, doc_id, quality_score
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY quality_score DESC, doc_id ASC) AS rn
  FROM scored
)
WHERE rn <= 5
""",
)
def q_curate_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus curation: keep the 5 highest-quality documents
    per language (C4-style score, doc_id tie-break) — the 'best N per
    stratum' selection a data-mixing pipeline runs before sampling.
    Score is a pure projection; the per-language rank is one shuffle on
    lang with an in-partition top-k."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    scored = docs.select(
        "lang", "doc_id", textstats.quality_score_expr(F.col("text")).alias("quality_score")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "quality_score")
    )


@register(
    "unigram_lm_doc_scores",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS w FROM documents
),
freq AS (SELECT w, count(*)::DOUBLE AS n FROM tok GROUP BY w),
tot AS (SELECT sum(n) AS total FROM freq)
SELECT t.doc_id,
       count(*) AS n_tokens,
       ROUND(AVG(ln(f.n / tot.total)), 4) AS avg_logprob
FROM tok t JOIN freq f USING (w) CROSS JOIN tot
GROUP BY t.doc_id
""",
)
def q_unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level unigram language-model scoring: train unigram
    frequencies over the whole corpus, then score each document by its
    mean token log-probability — the statistical quality signal one tier
    above the heuristic ratios (a KenLM stand-in with the same dataflow:
    aggregate a model, join it back, reduce per document).

    Scale posture: the model (vocab frequencies) is aggregated with
    partial+final agg; scoring joins tokens to the model on the token
    key — Zipfian-skewed, exactly the shuffle the salting recipes in
    skew.py target; the scalar total broadcasts as a 1-row join."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(token_array("text")).alias("w"),
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("n"))
    total = freq.agg(F.sum("n").alias("total"))
    return (
        tok.join(freq, "w")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("n") / F.col("total"))), 4).alias(
                "avg_logprob"
            ),
        )
    )


# BM25 scoring CTE chain shared by bm25_search AND the lexical leg of
# hybrid_retrieval_rrf — the Spark sides already share _bm25_doc_scores
# "so the formula can't drift between them"; this closes the same drift
# hole on the oracle side (one definition of the constants/term list).
_BM25_SCORED_CTE = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS w FROM documents
),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dlen FROM tok GROUP BY doc_id),
stats AS (SELECT avg(dlen) AS avgdl, count(*)::DOUBLE AS n_docs FROM dl),
tf AS (SELECT doc_id, w, count(*)::DOUBLE AS tf FROM tok
       WHERE w IN ('table', 'spark', 'hash') GROUP BY doc_id, w),
df AS (SELECT w, count(*)::DOUBLE AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id,
         ROUND(SUM( ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dlen / stats.avgdl)) ),
               4) AS bm25
  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)"""


@register(
    "bm25_search",
    _BM25_SCORED_CTE
    + """
SELECT doc_id, bm25 FROM scored
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text relevance ranking: BM25 (k1=1.2, b=0.75) for a fixed
    3-term query over the corpus — the retrieval scoring tier (lexical
    search / hard-negative mining in training pipelines). Ranking is on
    the ROUNDED score with a doc_id tie-break so cross-engine ulp noise
    can't reorder the top-k.

    Scale posture: doc lengths and term stats are partial-aggregated;
    the query-term filter prunes the token stream BEFORE the tf shuffle
    (only matching tokens move); corpus stats broadcast as a 1-row
    join; top-10 is a k-heap."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _bm25_doc_scores(docs)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(10)
    )


def _bm25_doc_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, bm25) for every doc matching the fixed 3-term query —
    the scoring core shared by ``bm25_search`` and the lexical leg of
    ``hybrid_retrieval_rrf`` so the formula can't drift between them."""
    terms = ["table", "spark", "hash"]
    k1, b = 1.2, 0.75
    tok = docs.select(
        "doc_id",
        F.explode(token_array("text")).alias("w"),
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dlen"))
    stats = dl.agg(
        F.avg("dlen").alias("avgdl"), F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    tf = (
        tok.filter(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dlen") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_part), 4).alias("bm25"))
    )


@register(
    "inverted_index_postings",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS w FROM documents
)
SELECT w AS word,
       COUNT(DISTINCT doc_id) AS df,
       array_to_string(list_transform(list_sort(list(DISTINCT doc_id)),
                                      x -> CAST(x AS VARCHAR)), ' ') AS postings
FROM tok
GROUP BY w
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token -> sorted posting list of the
    documents containing it (the materialization BM25 queries against).
    Postings are sorted because collection order is partition-
    nondeterministic in both engines, and emitted as a space-joined
    string because the driver's pandas canonicalizer can't hash array
    cells (sorted, so the string form is deterministic). At 100 TB the
    posting list of a stopword-grade token is the skew hazard — cap
    document frequency or shard hot postings (same recipe as the shingle
    DF cap in dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(token_array("text")).alias("w"),
    )
    return tok.groupBy(F.col("w").alias("word")).agg(
        F.countDistinct("doc_id").alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("doc_id")), lambda x: x.cast("string")
            ),
            " ",
        ).alias("postings"),
    )


# ---------------------------------------------------------------------------
# curation: semantic dedup, benchmark decontamination, stratified sampling
# ---------------------------------------------------------------------------


def _semantic_dedup_keep(
    spark: SparkSession, sf_dir: str, edge_builder: str
) -> DataFrame:
    """Kept corpus after embedding-cosine (semantic) dedup under the
    chosen edge builder: ``exact`` = all-pairs cosine (oracle twin, via
    the blocked Gram kernel — bit-identical to the join+fold form but
    the N² work is spread over block-pair Arrow kernels), ``ann`` =
    hyperplane-LSH buckets with the in-bucket cosine kernel (the 100 TB
    path; candidate set is a verified SUBSET of exact)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    if edge_builder == "ann":
        pairs = similarity.embedding_near_dup_lsh(
            emb, threshold=EMBED_DUP_THRESHOLD, num_tables=16
        )
    elif edge_builder == "exact":
        pairs = similarity.embedding_all_pairs_blocked(
            emb, threshold=EMBED_DUP_THRESHOLD
        )
    else:
        raise ValueError(f"unknown edge_builder: {edge_builder!r}")
    losers = (
        dedup.connected_components(pairs.select("id_a", "id_b"))
        .filter(F.col("u") != F.col("label"))
        .select(F.col("u").alias("doc_id"))
    )
    return docs.join(F.broadcast(losers), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


_SEM_BASE = "base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)"
_SEM_THR = f"""thr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM base a JOIN base b ON a.vec_id < b.vec_id
  WHERE {dedup.cosine_edge_sql(EMBED_DUP_THRESHOLD)}
)"""

# The ann audit's tail: the exact keep-set's deterministic aggregates
# plus the TRUE audit booleans.
_SEM_KEEP_AGG_TAIL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_keep,
       CAST(SUM(d.doc_id) AS BIGINT) AS sum_exact_keep_ids,
       TRUE AS ann_superset_ok,
       TRUE AS ann_extra_frac_ok
FROM documents d
WHERE d.doc_id NOT IN {_LOSERS}
"""


@register(
    "semantic_dedup_keep_corpus", _components_oracle(_SEM_BASE, _SEM_THR, _KEEP_TAIL)
)
def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: embedding-cosine near-dup pairs →
    connected components → keep the min-id representative of each
    cluster (ABBAS et al. 2023's pipeline shape, over the embeddings
    table whose vec_id aligns with documents.doc_id). This exact-edge
    registration is the sandbox-scale oracle twin — the recursive-CTE
    oracle replays components over the same all-pairs cosine edges; ship
    ``semantic_dedup_keep_corpus_ann`` at 100 TB."""
    return _semantic_dedup_keep(spark, sf_dir, edge_builder="exact")


@register(
    "semantic_dedup_keep_corpus_ann",
    _components_oracle(_SEM_BASE, _SEM_THR, _SEM_KEEP_AGG_TAIL),
)
def q_semantic_dedup_keep_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup with the scale-path edge builder — sign-pattern
    LSH buckets + per-bucket Gram-matrix cosine kernel (Σ|bucket|² work,
    not corpus²) — with a driver-visible audit: the exact twin runs in
    the same query, the oracle value-hashes its keep-set aggregates, and
    two in-query booleans certify the approximation. Missing an edge can
    only SPLIT a component — never merge one — so the ann keep-set
    provably contains the exact twin's (``ann_superset_ok``), and the
    extra docs it keeps stay under 5% (``ann_extra_frac_ok``; measured
    0.7-1.0% across sf0.001-0.1). The ship-path operator itself is
    _semantic_dedup_keep(edge_builder='ann') (returns the real kept
    corpus)."""
    # Both keep-sets need connected components, and at bench scale the
    # component LOOP's per-round overhead dominates the tiny dedup
    # graphs — so run ONE joint fixpoint over the disjoint union of the
    # two edge sets (ann-graph node ids offset out of the exact graph's
    # id space). Labels can't cross the offset boundary (components
    # only connect via edges), so the split results are identical to
    # two separate runs at half the loop cost.
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    emb = load_table(spark, sf_dir, "embeddings")

    # r13 (guide §2.6): the two edge builders are independent — their
    # eager checkpoints previously ran back to back; materializing them
    # from two driver threads lets the LSH banding jobs back-fill the
    # Gram kernel's executor tail. Values are unchanged (each frame is
    # the same plan it was; only the submission overlaps).
    def _exact_edges():
        return (
            similarity.embedding_all_pairs_blocked(
                emb, threshold=EMBED_DUP_THRESHOLD
            )
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )

    def _ann_edges():
        return (
            similarity.embedding_near_dup_lsh(
                emb, threshold=EMBED_DUP_THRESHOLD, num_tables=16
            )
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )

    exact_edges, ann_edges = curation_extras._overlap(_exact_edges, _ann_edges)
    off = F.lit(1 << 40)
    joint = exact_edges.unionByName(
        ann_edges.select(
            (F.col("id_a") + off).alias("id_a"), (F.col("id_b") + off).alias("id_b")
        )
    )
    # connected_components returns a projection over its own per-round
    # checkpointed state, so a second eager checkpoint here was a pure
    # extra job (r13) — downstream consumers re-read cached blocks.
    comp = dedup.connected_components(joint)
    losers_exact = comp.filter(
        (F.col("u") < off) & (F.col("u") != F.col("label"))
    ).select(F.col("u").alias("doc_id"))
    losers_ann = comp.filter(
        (F.col("u") >= off) & (F.col("u") != F.col("label"))
    ).select((F.col("u") - off).alias("doc_id"))
    exact_keep = docs.join(F.broadcast(losers_exact), "doc_id", "left_anti")
    ann_keep = docs.join(F.broadcast(losers_ann), "doc_id", "left_anti")
    aux = (
        exact_keep.join(ann_keep, "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_missing"))
        .crossJoin(ann_keep.agg(F.count(F.lit(1)).alias("n_ann_keep")))
    )
    stats = exact_keep.agg(
        F.count(F.lit(1)).alias("n_exact_keep"),
        F.sum("doc_id").alias("sum_exact_keep_ids"),
    )
    return stats.crossJoin(F.broadcast(aux)).select(
        "n_exact_keep",
        "sum_exact_keep_ids",
        (F.col("n_missing") == 0).alias("ann_superset_ok"),
        (
            (F.col("n_ann_keep") - F.col("n_exact_keep")) * 20
            <= F.col("n_exact_keep")
        ).alias("ann_extra_frac_ok"),
    )


# Decontamination eval set: every 50th doc stands in for a benchmark
# suite; contamination = >= 20% of a training doc's shingles appear in
# ANY eval doc (integer-exact 1/5 threshold, no float boundary).
_DECON_EVAL_MOD = 50


@register(
    "decontaminate_corpus",
    SHINGLES_CTE_SQL
    + f""",
eval_sh AS (
  SELECT DISTINCT shingle FROM shingles WHERE doc_id % {_DECON_EVAL_MOD} = 0
),
train AS (SELECT doc_id, shingle FROM shingles WHERE doc_id % {_DECON_EVAL_MOD} <> 0)
SELECT t.doc_id,
       COUNT(*) AS n_sh,
       CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) * 5 >= COUNT(*)
         AS contaminated
FROM train t LEFT JOIN eval_sh e ON t.shingle = e.shingle
GROUP BY t.doc_id
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the overlap check every training-data
    pipeline runs before shipping a corpus: flag training documents
    whose 3-gram shingles overlap an evaluation set (here: every 50th
    doc stands in for the benchmark suite). A doc is contaminated when
    ≥20% of its distinct shingles appear in any eval doc; the threshold
    compares ``n_shared*5 >= n_sh`` so both engines decide with integer
    arithmetic (no float boundary).

    Scale posture: THE decontamination shape at 100 TB — the eval
    shingle set is tiny and broadcasts (benchmarks are MBs; the corpus
    is TBs), so the training side is never shuffled at all: one scan,
    map-side hash probe, per-doc partial agg. No inverted-index
    self-join anywhere. Implementation shared with pytest via
    textstats.decontaminate_against_eval."""
    return textstats.decontaminate_against_eval(
        load_table(spark, sf_dir, "documents"), eval_mod=_DECON_EVAL_MOD
    )


# Data-mixing sample rates per language (a tiny config, broadcast by
# construction); thresholds are precomputed as integers against the
# 60-bit portable hash so both engines compare exactly.
_SAMPLE_RATES = {"en": 0.5, "fr": 0.25, "de": 0.25, "es": 0.1, "zh": 0.1}
_HASH_SPACE = 1 << 60
_SAMPLE_SEED = 42


def _sample_thresholds() -> dict[str, int]:
    return {
        lang: int(rate * _HASH_SPACE) for lang, rate in _SAMPLE_RATES.items()
    }


def _sample_case_sql() -> str:
    arms = "\n       ".join(
        f"WHEN lang = '{lang}' THEN {thr}"
        for lang, thr in _sample_thresholds().items()
    )
    return f"CASE {arms} ELSE 0 END"


@register(
    "stratified_sample_deterministic",
    f"""
SELECT doc_id, lang, source
FROM documents
WHERE {hash64_sql("CAST(doc_id AS VARCHAR)", _SAMPLE_SEED)} < {_sample_case_sql()}
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-language) Bernoulli sampling — the
    data-mixing step that downsamples over-represented strata. Unlike
    ``TABLESAMPLE``/``df.sample`` (partition-order-dependent), the keep
    decision is ``portable_hash(doc_id) < rate * 2^60`` — a pure
    function of the row, so the sample is reproducible across engines,
    cluster sizes, and partitionings (and the DuckDB oracle verifies the
    exact membership, not just the rate). One scan, no shuffle; the
    rate table is a literal CASE so the probe is codegen'd."""
    docs = load_table(spark, sf_dir, "documents")
    thr = F.lit(0)
    for lang, t in _sample_thresholds().items():
        thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
    keep = hash64(F.col("doc_id").cast("string"), _SAMPLE_SEED) < thr
    return docs.filter(keep).select("doc_id", "lang", "source")




_SPAN_LEN = 8

# Span-discovery CTE chain (wins → canon → dups) shared by BOTH
# ExactSubstr oracles — the Spark sides share _dup_span_occurrences();
# one SQL definition keeps the hashing / canonical rule / guard from
# drifting between the measure and act halves.
_DUP_SPANS_CTE = (
    TOKENS_CTE_SQL
    + f""",
wins AS (
  SELECT doc_id, i AS pos,
         {hash64_sql("array_to_string(ws[i:i+%d], ' ')" % (_SPAN_LEN - 1), 0)} AS wh
  FROM toks CROSS JOIN UNNEST(generate_series(1, greatest(len(ws)-{_SPAN_LEN - 1}, 0))) AS t(i)
),
canon AS (
  SELECT wh, MIN(doc_id * 1000000000 + pos) AS cp, COUNT(*) AS cnt
  FROM wins GROUP BY wh HAVING COUNT(*) > 1
),
dups AS (
  SELECT w.doc_id, w.pos
  FROM wins w JOIN canon c USING (wh)
  WHERE w.doc_id * 1000000000 + w.pos <> c.cp
)"""
)


@register(
    "duplicated_span_stats",
    _DUP_SPANS_CTE
    + f""",
cov AS (
  SELECT doc_id,
         LEAST({_SPAN_LEN}, COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                                     {_SPAN_LEN})) AS covered
  FROM dups
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup_windows, SUM(covered) AS n_dup_tokens
  FROM cov GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.ws) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       ROUND(CASE WHEN len(t.ws) > 0
                  THEN COALESCE(p.n_dup_tokens, 0) * 1.0 / len(t.ws)
                  ELSE 0.0 END, 4) AS dup_frac
FROM toks t LEFT JOIN per_doc p USING (doc_id)
""",
)
def q_duplicated_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication diagnostics (Lee et al. 2022,
    ExactSubstr): per-document count and token coverage of repeated
    8-token spans whose canonical (first) occurrence lives elsewhere in
    the corpus — the measurement a substring-dedup pass cuts on. Linear
    shape end to end: one window explode per token, a groupBy(hash)
    aggregate for the canonical choice (boilerplate spans partial-agg,
    never fan out), and an interval-merge via one lead() window."""
    return textstats.duplicated_span_stats(
        load_table(spark, sf_dir, "documents"), span_len=_SPAN_LEN
    )




@register(
    "substring_dedup_corpus",
    _DUP_SPANS_CTE
    + f""",
covered AS (
  SELECT DISTINCT doc_id, pos + x AS i
  FROM dups CROSS JOIN UNNEST(generate_series(0, {_SPAN_LEN - 1})) AS u(x)
),
positions AS (
  SELECT doc_id, i, ws[i] AS tok
  FROM toks CROSS JOIN UNNEST(generate_series(1, len(ws))) AS t(i)
),
kept AS (
  SELECT p.doc_id, p.i, p.tok
  FROM positions p ANTI JOIN covered c USING (doc_id, i)
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY i) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.ws) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       COALESCE(a.clean_text, '') AS clean_text
FROM toks t LEFT JOIN agg a USING (doc_id)
""",
)
def q_substring_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal (Lee et al. 2022): the corpus rewritten so
    every duplicated 8-token span survives only at its corpus-first
    occurrence — the act half of duplicated_span_stats' measurement.
    The full rewritten text round-trips through the oracle's value
    hash, so the token-drop arithmetic is verified string-for-string."""
    return textstats.substring_dedup_corpus(
        load_table(spark, sf_dir, "documents"), span_len=_SPAN_LEN
    )


@register(
    "doc_repetition_stats",
    TOKENS_CTE_SQL
    + """,
bigrams AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
  FROM toks CROSS JOIN UNNEST(generate_series(1, greatest(len(ws)-1, 0))) AS t(i)
),
per_doc AS (
  SELECT doc_id,
         COUNT(*) AS n_bigrams,
         COUNT(DISTINCT bg) AS n_distinct
  FROM bigrams GROUP BY doc_id
)
SELECT doc_id, n_bigrams, n_distinct,
       ROUND((n_bigrams - n_distinct) * 1.0 / n_bigrams, 4) AS dup_frac,
       (n_bigrams - n_distinct) * 5 >= n_bigrams AS repetitive
FROM per_doc
""",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the Gopher/C4 duplicated-n-gram
    rule): per document, the fraction of bigram OCCURRENCES that are
    repeats of an earlier bigram — high values mean boilerplate loops,
    keyboard mash, or templated spam. ``repetitive`` flags docs with
    ≥20% duplicated bigrams via integer arithmetic (``(n-d)*5 >= n``) so
    both engines agree at the boundary; ``dup_frac`` rides along rounded
    for human consumption.

    Scale posture: ZERO shuffles — the distinct is within one row's own
    bigram array, so the whole operator is a projection
    (``size``/``array_distinct`` on the tokenized row), one codegen'd
    scan at any corpus size. The tempting explode→groupBy(doc_id) shape
    would shuffle every bigram occurrence just to reunite rows that
    started out together."""
    docs = load_table(spark, sf_dir, "documents")
    ws = token_array("text")
    bg = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    per_doc = docs.select(
        "doc_id",
        F.size(bg).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bg)).cast("long").alias("n_distinct"),
    ).filter(F.col("n_bigrams") > 0)  # <2-token docs have no bigram rows
    dup = F.col("n_bigrams") - F.col("n_distinct")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_distinct",
        F.round(dup / F.col("n_bigrams"), 4).alias("dup_frac"),
        (dup * 5 >= F.col("n_bigrams")).alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# curation round 4b: hybrid retrieval, heavy hitters, mixture resampling,
# quantile-band filtering
# ---------------------------------------------------------------------------

_RRF_K = 60
_RETRIEVE_N = 20


@register(
    "hybrid_retrieval_rrf",
    _BM25_SCORED_CTE
    + f""",
lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT {_RETRIEVE_N}
),
base AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
qv AS (SELECT vec FROM base WHERE vec_id = 0),
dsc AS (
  SELECT b.vec_id AS doc_id,
         ROUND(list_cosine_similarity(b.vec, qv.vec), 6) AS sim
  FROM base b CROSS JOIN qv WHERE b.vec_id <> 0
),
dense AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC) AS dense_rank
  FROM dsc ORDER BY sim DESC, doc_id ASC LIMIT {_RETRIEVE_N}
),
fused AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         COALESCE(l.lex_rank, 0) AS lex_rank,
         COALESCE(d.dense_rank, 0) AS dense_rank,
         ROUND(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + d.dense_rank), 0.0), 8) AS rrf_score
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
)
SELECT doc_id, lex_rank, dense_rank, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
""",
)
def q_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval fused with Reciprocal Rank Fusion
    (Cormack et al., SIGIR'09): the BM25 top-20 for the fixed 3-term
    query and the cosine top-20 around a fixed query embedding
    (vec_id 0; vec_id aligns with documents.doc_id) merge by
    ``Σ 1/(60 + rank)`` — the standard first stage of a RAG / hard-
    negative-mining retrieval stack.  Both legs rank on ROUNDED scores
    with a doc_id tie-break, and the fused ordering is on the rounded
    RRF score, so cross-engine ulp noise can't reorder anything.

    Scale posture: each leg reduces to a distributed top-N
    (TakeOrderedAndProject — a k-heap per partition, no global sort);
    the rank window then runs over N=20 rows on one partition, which is
    size-independent.  The fusion join touches ≤2N rows.  The dense leg
    broadcasts the single query vector against the corpus (the
    brute-force kNN kernel); swap in the LSH/IVF tier from
    similarity.py for many-query workloads."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    from parallel_map_reduce_spark.functions.vectors import cosine, to_double_array

    lex_top = (
        _bm25_doc_scores(docs)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_RETRIEVE_N)
    )
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("lex_rank"),
    )
    base = emb.select("vec_id", to_double_array(F.col("embedding")).alias("vec"))
    qv = base.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    dense_top = (
        base.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("vec"), F.col("qvec")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("doc_id").asc())
        .limit(_RETRIEVE_N)
    )
    dense = dense_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("doc_id").asc()))
        .alias("dense_rank"),
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("lex_rank"), F.lit(0)).alias("lex_rank"),
        F.coalesce(F.col("dense_rank"), F.lit(0)).alias("dense_rank"),
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("dense_rank")), F.lit(0.0)
            ),
            8,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc()).limit(10)


_MG_CAPACITY = 64


@register(
    "heavy_hitters_tokens",
    f"""
WITH tok AS (
  SELECT unnest({TOKENS_SQL}) AS w FROM documents
),
cnt AS (SELECT w AS token, COUNT(*) AS exact_cnt FROM tok GROUP BY w)
SELECT token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       TRUE AS underestimate_ok, TRUE AS bound_ok
FROM cnt ORDER BY exact_cnt DESC, token ASC LIMIT 10
""",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters via a distributed Misra-Gries sketch
    (textstats.heavy_hitter_sketch), audited against the exact top-10 in
    the same query — the HLL pattern (exact twin + in-query bound
    booleans) that keeps an approximate operator fully driver-
    value-hashable.  For each exact top-10 token the sketch estimate
    must (a) never overcount (``underestimate_ok``) and (b) undercount
    by at most n_total/(capacity+1) (``bound_ok``) — the MG guarantee;
    the estimates themselves are partition-dependent, so only the exact
    values and the booleans are emitted.

    Scale posture: the sketch shuffles ≤ capacity rows per partition
    regardless of vocabulary size — the 100 TB path when distinct
    tokens outgrow the exact groupBy's shuffle. The exact twin here is
    the sandbox-scale audit, same tier split as dedup exact-vs-LSH."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(token_array("text")).alias("w")
    )
    tok = tok.localCheckpoint(eager=False)  # sketch + exact + total share one scan
    est = textstats.heavy_hitter_sketch(tok, capacity=_MG_CAPACITY)
    n_total = tok.agg(F.count(F.lit(1)).alias("n_total"))
    top10 = (
        tok.groupBy(F.col("w").alias("token"))
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("token").asc())
        .limit(10)
    )
    est_cnt = F.coalesce(F.col("mg_count"), F.lit(0))
    return (
        top10.join(F.broadcast(est), "token", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "token",
            "exact_cnt",
            (est_cnt <= F.col("exact_cnt")).alias("underestimate_ok"),
            (
                (F.col("exact_cnt") - est_cnt) * (_MG_CAPACITY + 1)
                <= F.col("n_total")
            ).alias("bound_ok"),
        )
    )


_MIX_SEED = 7
_POW60 = float(1 << 60)


@register(
    "domain_mixture_resample",
    f"""
WITH cnts AS (
  SELECT source, COUNT(*) AS src_n,
         (CAST(substr(source, 4) AS INT) % 4 + 1) AS w
  FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(w) AS sum_w,
         CAST(FLOOR(SUM(src_n) / 2.0) AS BIGINT) AS t_total
  FROM cnts
)
SELECT d.doc_id, d.source
FROM documents d JOIN cnts USING (source) CROSS JOIN tot
WHERE CAST({hash64_sql("CAST(d.doc_id AS VARCHAR)", _MIX_SEED)} AS DOUBLE)
        * (CAST(sum_w AS DOUBLE) * CAST(src_n AS DOUBLE))
      < (CAST(t_total AS DOUBLE) * CAST(w AS DOUBLE)) * {_POW60!r}
""",
)
def q_domain_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing (the DoReMi / The Pile-style mixing
    step): resample the corpus to half its size with per-source target
    shares proportional to a per-domain weight (here derived from the
    source name's numeric suffix, standing in for the up/down-weight
    table a data-mixing run feeds in).  Target for source s is
    ``t_total · w_s / Σw``; the keep rule is
    ``portable_hash(doc_id)/2^60 < target_s / src_n`` — a pure function
    of the row and three broadcast scalars, so the sample is
    reproducible across engines, partitionings and cluster sizes, and
    the oracle verifies exact row membership.  Both engines compare in
    DOUBLE with the identical multiply shape
    ``hash·(Σw·src_n) < (t_total·w_s)·2^60`` so IEEE rounding agrees
    bit-for-bit.

    Scale posture: the per-source counts + weights are one partial agg
    (rows = #domains), broadcast back; the keep probe is a codegen'd
    scan — the corpus itself never shuffles.  A measured-quality weight
    table (DoReMi proper) swaps into ``w`` without touching the plan."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.expr("substring(source, 4)").cast("int") % 4 + 1
    cnts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("src_n"), F.first(w).alias("w")
    )
    tot = cnts.agg(
        F.sum("w").alias("sum_w"),
        F.floor(F.sum("src_n") / 2.0).cast("long").alias("t_total"),
    )
    keep = (
        hash64(F.col("doc_id").cast("string"), _MIX_SEED).cast("double")
        * (F.col("sum_w").cast("double") * F.col("src_n").cast("double"))
        < (F.col("t_total").cast("double") * F.col("w").cast("double"))
        * F.lit(_POW60)
    )
    return (
        docs.join(F.broadcast(cnts), "source")
        .crossJoin(F.broadcast(tot))
        .filter(keep)
        .select("doc_id", "source")
    )


@register(
    "quality_quantile_filter",
    tokens_cte_sql(("lang", "text"))
    + """,
s AS (
  SELECT doc_id, lang,
    ROUND((alpha / safe_total) * (1 - punct / safe_total)
          * least(n_tokens / 20.0, 1.0), 4) AS quality_score
  FROM (
    SELECT doc_id, lang,
      length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS alpha,
      length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE AS punct,
      CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END::DOUBLE AS safe_total,
      len(ws)::DOUBLE AS n_tokens
    FROM toks
  )
),
r AS (
  SELECT doc_id, lang, quality_score,
         PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality_score, doc_id) AS pr
  FROM s
)
SELECT doc_id, lang, quality_score, ROUND(pr, 6) AS pct_rank
FROM r WHERE pr >= 0.25 AND pr <= 0.75
""",
)
def q_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-band curation: keep each language's middle two quality
    quartiles (drop the worst 25% as noise and the top 25% as likely
    templated/duplicative text — the FineWeb-style band filter), using
    the shared composite quality score.  PERCENT_RANK over (score,
    doc_id) is pure rank arithmetic — (rank-1)/(n-1) with a total
    order — so the band membership is deterministic and both engines
    agree exactly at the boundaries (no interpolated-percentile float
    drift).

    Scale posture: one window sort per language — acceptable while
    languages are few and balanced; at 100 TB swap the exact
    percent_rank for per-lang approx_percentile thresholds (computed in
    one partial agg, broadcast back, filter ``score BETWEEN p25 AND
    p75``) — same band, no global per-lang sort; the exact form here is
    the oracle twin for that swap, the same tier split as
    ``percentiles`` vs ``approx_aggregates``."""
    from parallel_map_reduce_spark.operators.textstats import quality_score_expr

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", "lang", quality_score_expr(F.col("text")).alias("quality_score")
    )
    pr = F.percent_rank().over(
        Window.partitionBy("lang").orderBy(
            F.col("quality_score").asc(), F.col("doc_id").asc()
        )
    )
    return (
        s.withColumn("pr", pr)
        .filter((F.col("pr") >= 0.25) & (F.col("pr") <= 0.75))
        .select(
            "doc_id",
            "lang",
            "quality_score",
            F.round(F.col("pr"), 6).alias("pct_rank"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing, boilerplate line filtering, cluster assignment (round 4c)
# ---------------------------------------------------------------------------

# The sandbox corpus contains no natural PII, so the query injects
# deterministic emails/IPs/phones derived from doc_id before scrubbing —
# the SAME expression in both engines — making detection and redaction
# observable and value-hash-checkable (the generator-pattern already
# used by the multimodal decode queries).
_PII_ENRICH_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' call +44-' || CAST(100 + doc_id % 900 AS VARCHAR)"
    " || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END"
)

_PII_SQL = (
    "WITH enriched AS (SELECT doc_id, "
    + _PII_ENRICH_SQL
    + """ AS text FROM documents),
red AS (
  SELECT doc_id, text,
    regexp_replace(regexp_replace(regexp_replace(text,
      '"""
    + textstats.PII_EMAIL
    + """', '<EMAIL>', 'g'),
      '"""
    + textstats.PII_IPV4
    + """', '<IP>', 'g'),
      '"""
    + textstats.PII_PHONE
    + """', '<PHONE>', 'g') AS rtext
  FROM enriched)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '"""
    + textstats.PII_EMAIL
    + """')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '"""
    + textstats.PII_IPV4
    + """')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(text, '"""
    + textstats.PII_PHONE
    + """')) AS BIGINT) AS n_phones,
  CAST(length(rtext) AS BIGINT) AS n_chars_redacted,
  md5(rtext) AS redacted_fp
FROM red
"""
)


@register("pii_redaction_stats", _PII_SQL)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (C4/Dolma-style pre-release pass): count and redact
    emails / IPv4s / phone numbers per document, fingerprinting the
    redacted text so the oracle proves the REPLACEMENTS, not just the
    counts.  Patterns live in textstats.PII_* and use only the
    Java/RE2-common regex subset.  One codegen'd projection, zero
    shuffles — the scrub rides along any scan for free at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def opt(cond, *parts):
        return F.when(cond, F.concat(*parts)).otherwise(F.lit(""))

    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            opt(
                did % 3 == 0,
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@mail"),
                (did % 7).cast("string"),
                F.lit(".example.com"),
            ),
            opt(
                did % 4 == 0,
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                (did % 100).cast("string"),
            ),
            opt(
                did % 5 == 0,
                F.lit(" call +44-"),
                (did % 900 + 100).cast("string"),
                F.lit("-"),
                (did % 9000 + 1000).cast("string"),
            ),
        ).alias("text"),
    )
    return textstats.pii_scrub(enriched)


_LINE_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {TOKENS_SQL} AS ws
  FROM documents
),
lines AS (
  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS line,
         least(8, len(ws) - i + 1) AS line_len
  FROM toks CROSS JOIN
    UNNEST(generate_series(1, greatest(len(ws), 1), 8)) AS t(i)
),
dupl AS (
  SELECT line FROM (
    SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY line
  ) WHERE nd > 1
)
SELECT l.doc_id,
  COUNT(*) AS n_lines,
  CAST(SUM(CASE WHEN line_len < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
  CAST(SUM(CASE WHEN line_len >= 5 AND d.line IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_corpus_dup,
  CAST(SUM(CASE WHEN line_len >= 5 AND d.line IS NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN line_len >= 5 AND d.line IS NULL THEN length(l.line)
           ELSE 0 END) AS BIGINT) AS kept_chars
FROM lines l LEFT JOIN dupl d USING (line)
GROUP BY l.doc_id
"""


@register("line_dedup_stats", _LINE_DEDUP_SQL)
def q_line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb boilerplate line filtering: segment each document
    into 8-token lines, then apply the short-line rule (<5 tokens) and
    the duplicated-line rule (same line text in more than one document —
    boilerplate in web corpora; the exact-dup documents here).  Emits
    per-doc keep/drop accounting so the curation step is auditable.
    Plan: explode + one line-key aggregate + one join back — the
    dup-line dictionary combines map-side like wordcount and AQE
    broadcasts it when small."""
    return textstats.line_dedup_stats(load_table(spark, sf_dir, "documents"))


def cluster_assigned_cte(base: str = "embeddings", prefix: str = "") -> str:
    """Seed-centroid assignment CTEs over the ``base`` embedding
    relation, each name carrying ``prefix``, without the WITH keyword:
    {prefix}base (vec_id, label, vec), the min-id seed per label, and
    {prefix}assigned (vec_id, label, cluster, sim) — every vector's best
    seed by rounded cosine, ties to the smaller cluster. Every oracle
    that clusters builds on it, so the seed rule and tie-break cannot
    drift between them (the _KNN_EXACT_CTE discipline)."""
    p = prefix
    return f"""{p}base AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM {base}),
{p}seed_ids AS (SELECT label, MIN(vec_id) AS vec_id FROM {p}base GROUP BY label),
{p}seeds AS (
  SELECT b.label AS cluster, b.vec AS seed_vec
  FROM {p}base b JOIN {p}seed_ids s ON b.label = s.label AND b.vec_id = s.vec_id
),
{p}scored AS (
  SELECT b.vec_id, b.label, s.cluster,
         ROUND(list_cosine_similarity(b.vec, s.seed_vec), 6) AS sim
  FROM {p}base b CROSS JOIN {p}seeds s
),
{p}assigned AS (
  SELECT vec_id, label, cluster, sim FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, cluster ASC) AS rn
    FROM {p}scored
  ) WHERE rn = 1
)"""


_CLUSTER_ASSIGNED_CTE = "\nWITH " + cluster_assigned_cte()

_CLUSTER_ASSIGN_SQL = _CLUSTER_ASSIGNED_CTE + """
SELECT cluster, COUNT(*) AS n_assigned,
       CAST(SUM(CASE WHEN label = cluster THEN 1 ELSE 0 END) AS BIGINT)
         AS n_label_match,
       ROUND(AVG(sim), 4) AS avg_sim
FROM assigned GROUP BY cluster
"""


@register("embedding_cluster_assign", _CLUSTER_ASSIGN_SQL)
def q_embedding_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-based curation kernel: the KMeans assignment step against
    deterministic seed centroids (min-id vector per label), aggregated
    to per-cluster size, label purity, and mean winning cosine.  This is
    the bucketing stage of topic-aware mixture weighting and
    cluster-sharded SemDeDup; a Lloyd iteration = this assignment plus a
    groupBy(cluster) mean of vecs.  Seeds broadcast; the corpus never
    shuffles before the per-vector argmax window."""
    assigned = similarity.nearest_centroid_assign(
        load_table(spark, sf_dir, "embeddings")
    )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.sum((F.col("label") == F.col("cluster")).cast("long")).alias(
            "n_label_match"
        ),
        F.round(F.avg("sim"), 4).alias("avg_sim"),
    )


_KMEANS_REFINE_SQL = _CLUSTER_ASSIGNED_CTE + """,
withvec AS (
  SELECT a.vec_id, a.label, a.cluster AS old_cluster, b.vec
  FROM assigned a JOIN base b USING (vec_id)
),
comp AS (
  SELECT old_cluster, i AS pos, ROUND(AVG(vec[i]), 6) AS cval
  FROM withvec CROSS JOIN UNNEST(generate_series(1, len(vec))) t(i)
  GROUP BY old_cluster, i
),
cent AS (SELECT old_cluster, list(cval ORDER BY pos) AS cvec
         FROM comp GROUP BY old_cluster),
rescored AS (
  SELECT w.vec_id, w.label, w.old_cluster, c.old_cluster AS cand,
         ROUND(list_cosine_similarity(w.vec, c.cvec), 6) AS sim
  FROM withvec w CROSS JOIN cent c
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, cand ASC) AS rn
    FROM rescored
  ) WHERE rn = 1
)
SELECT cand AS cluster, COUNT(*) AS n_assigned,
  CAST(SUM(CASE WHEN label = cand THEN 1 ELSE 0 END) AS BIGINT)
    AS n_label_match,
  CAST(SUM(CASE WHEN cand <> old_cluster THEN 1 ELSE 0 END) AS BIGINT)
    AS n_moved,
  ROUND(AVG(sim), 4) AS avg_sim
FROM best GROUP BY cand
"""


@register("embedding_kmeans_refine", _KMEANS_REFINE_SQL)
def q_embedding_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration, driver-verified: seed-centroid
    assignment (as in embedding_cluster_assign) -> per-cluster mean
    centroids (components ROUNDED to 6 in BOTH engines, so the refined
    centroids are bit-identical inputs to the rescoring) -> reassignment
    against the refined centroids, reporting per-cluster size, label
    purity, migration count, and mean winning cosine.  Iterating this
    DAG k times is KMeans proper; curation pipelines typically run 1-3
    refinements over pre-labeled shards (topic bucketing), which this
    shape covers without RNG.

    Scale posture: centroid recomputation is a posexplode + partial agg
    on (cluster, dim) — dims x k rows out, corpus combines map-side;
    both assignment passes broadcast k centroid rows and never shuffle
    the corpus before the per-vector argmax, itself a map-side-combining
    hash aggregate (r13 — N partial rows reach its exchange, no N·k
    sort)."""
    emb = load_table(spark, sf_dir, "embeddings")
    from parallel_map_reduce_spark.functions.vectors import cosine, to_double_array

    base = emb.select(
        "vec_id", "label", to_double_array(F.col("embedding")).alias("vec")
    )
    assigned = similarity.nearest_centroid_assign(emb).select(
        "vec_id", F.col("cluster").alias("old_cluster")
    )
    withvec = base.join(assigned, "vec_id")
    cent = (
        withvec.select("old_cluster", F.posexplode("vec").alias("pos", "val"))
        .groupBy("old_cluster", "pos")
        .agg(F.round(F.avg("val"), 6).alias("cval"))
        .groupBy("old_cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("cvec")
        )
        .select(F.col("old_cluster").alias("cand"), "cvec")
    )
    rescored = withvec.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "old_cluster",
        "cand",
        F.round(cosine(F.col("vec"), F.col("cvec")), 6).alias("sim"),
    )
    # r13 optimization (guide §2.3): per-vector argmax as a true map-
    # side-combining HashAggregate instead of a row_number window — the
    # N·k rescored rows partial-aggregate to N before the exchange with
    # no sort anywhere in the plan. The (sim DESC, cand ASC) ordering is
    # packed into one non-negative long (similarity._argmax_enc) whose
    # max() is the old orderBy(sim DESC, cand ASC) row_number()=1
    # winner bit-identically; label/old_cluster ride in the grouping key
    # (constant per vec_id) because a first() over a non-mutable buffer
    # type would demote the aggregate to SortAggregate.
    best = (
        rescored.groupBy("vec_id", "label", "old_cluster")
        .agg(
            F.max(
                similarity._argmax_enc(F.col("sim"), F.col("cand"))
            ).alias("_enc")
        )
        .select(
            "vec_id",
            "label",
            "old_cluster",
            similarity._argmax_cand(F.col("_enc")).alias("cand"),
            similarity._argmax_sim(F.col("_enc")).alias("sim"),
        )
    )
    return best.groupBy(F.col("cand").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.sum((F.col("label") == F.col("cand")).cast("long")).alias(
            "n_label_match"
        ),
        F.sum((F.col("cand") != F.col("old_cluster")).cast("long")).alias(
            "n_moved"
        ),
        F.round(F.avg("sim"), 4).alias("avg_sim"),
    )


def _kmeans_unrolled_ctes(max_rounds: int) -> str:
    """The unrolled Lloyd-loop CTE prefix shared by the convergence
    audit and the final-assignment oracles: the seed assignment CTE
    plus one (centroids → rescore → argmax → stats) MATERIALIZED
    quadruple per round. Every loop CTE is AS MATERIALIZED — DuckDB
    would otherwise inline each round's CTEs into the next and the
    plan grows exponentially (the bpe_train_vocab lesson)."""
    sql = _CLUSTER_ASSIGNED_CTE
    prev = "assigned"
    for r in range(1, max_rounds + 1):
        sql += f""",
comp_{r} AS MATERIALIZED (
  SELECT a.cluster, i AS pos, ROUND(AVG(b.vec[i]), 6) AS cval
  FROM {prev} a JOIN base b USING (vec_id)
  CROSS JOIN UNNEST(generate_series(1, len(b.vec))) t(i)
  GROUP BY a.cluster, i
),
cent_{r} AS MATERIALIZED (
  SELECT cluster AS cand, list(cval ORDER BY pos) AS cvec
  FROM comp_{r} GROUP BY cluster
),
best_{r} AS MATERIALIZED (
  SELECT vec_id, old_cluster, cand AS cluster, sim FROM (
    SELECT a.vec_id, a.cluster AS old_cluster, c.cand,
           ROUND(list_cosine_similarity(b.vec, c.cvec), 6) AS sim,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY ROUND(list_cosine_similarity(b.vec, c.cvec), 6) DESC,
                      c.cand ASC) AS rn
    FROM {prev} a JOIN base b USING (vec_id) CROSS JOIN cent_{r} c
  ) WHERE rn = 1
),
stat_{r} AS MATERIALIZED (
  SELECT {r} AS round,
         CAST(SUM(CASE WHEN cluster <> old_cluster THEN 1 ELSE 0 END)
              AS BIGINT) AS n_moved,
         ROUND(AVG(sim), 4) AS avg_sim,
         CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters
  FROM best_{r}
)"""
        prev = f"best_{r}"
    return sql


def kmeans_train_converged_oracle_sql(max_rounds: int = 6) -> str:
    """Replay the full Lloyd loop unrolled (see _kmeans_unrolled_ctes).
    The final SELECT reproduces the early stop: round r is emitted iff
    every earlier round still moved vectors, so the converged round
    appears and later (never-executed) rounds don't."""
    sql = _kmeans_unrolled_ctes(max_rounds)
    selects = [
        "SELECT round, n_moved, avg_sim, n_clusters,"
        " (n_moved = 0) AS converged FROM stat_1"
    ]
    for r in range(2, max_rounds + 1):
        conds = " AND ".join(
            f"(SELECT n_moved FROM stat_{i}) > 0" for i in range(1, r)
        )
        selects.append(
            f"SELECT round, n_moved, avg_sim, n_clusters,"
            f" (n_moved = 0) FROM stat_{r} WHERE {conds}"
        )
    return sql + "\n" + "\nUNION ALL ".join(selects)


def kmeans_final_assignment_cte(max_rounds: int) -> str:
    """The unrolled Lloyd loop ending in a ``final_assigned(vec_id,
    cluster)`` CTE — the assignment after the converged (or capped)
    round, for oracles that consume the TRAINED clustering (topic-aware
    mixture resampling). The early stop is reproduced with per-round
    n_moved guards: branch r < max fires iff rounds 1..r-1 all moved
    vectors and round r moved none (r is the converged round); the
    r = max branch fires iff every earlier round moved (the cap bound,
    converged or not) — exactly one branch emits rows."""
    sql = _kmeans_unrolled_ctes(max_rounds)
    branches = []
    for r in range(1, max_rounds + 1):
        conds = [
            f"(SELECT n_moved FROM stat_{i}) > 0" for i in range(1, r)
        ]
        if r < max_rounds:
            conds.append(f"(SELECT n_moved FROM stat_{r}) = 0")
        where = " AND ".join(conds) if conds else "TRUE"
        branches.append(
            f"SELECT vec_id, cluster FROM best_{r} WHERE {where}"
        )
    joined = "\n  UNION ALL ".join(branches)
    return (
        sql
        + f""",
final_assigned AS MATERIALIZED (
  {joined}
)"""
    )


_KMEANS_TRAIN_ROUNDS = 6


@register(
    "kmeans_train_converged",
    kmeans_train_converged_oracle_sql(_KMEANS_TRAIN_ROUNDS),
)
def q_kmeans_train_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means iterated to convergence (or a 6-round cap) under
    the BPE trainer's driver-loop discipline: localCheckpoint per round,
    ONLY a 1-row scalar stat to the driver, deterministic min-id seeds,
    centroid components rounded to 6 each round so both engines walk the
    identical trajectory. One value-hashed audit row per executed round
    (n_moved / avg_sim / n_clusters / converged); the oracle replays the
    whole loop unrolled as materialized CTE triples and reproduces the
    early stop with per-round n_moved guards. This upgrades the IVF
    coarse-quantizer training story from a fixed iteration count to
    convergence."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_train_converged(
        emb, max_rounds=_KMEANS_TRAIN_ROUNDS
    )


_BPE_MERGE_SQL = (
    TOKENS_CTE_SQL
    + """,
words AS (
  SELECT w AS word, COUNT(*) AS cnt
  FROM toks CROSS JOIN UNNEST(ws) AS t(w)
  GROUP BY w
),
pairs AS (
  SELECT substr(word, i, 2) AS pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM words CROSS JOIN
    UNNEST(generate_series(1, length(word) - 1)) AS t(i)
  WHERE length(word) >= 2
  GROUP BY 1
)
SELECT pair, pair_count FROM pairs
ORDER BY pair_count DESC, pair ASC LIMIT 10
"""
)


@register("bpe_merge_pairs", _BPE_MERGE_SQL)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge round — the kernel of tokenizer TRAINING (Sennrich
    et al. 2016), distinct from bpe_token_stats' pre-tokenizer regex:
    aggregate the corpus to (word, count), explode each word into
    adjacent character pairs, weight each pair by its word's count, and
    rank the top-10 merge candidates.  Real BPE iterates this with the
    winning pair merged into a new symbol; each round is exactly this
    DAG re-run on the rewritten symbol table (the Lloyd-iteration
    analogy the kmeans refine query makes for clustering).

    Scale posture: the corpus collapses to the word-frequency table
    FIRST (the map-side-combined wordcount shuffle), so the pair explode
    runs over |vocab| rows, not corpus tokens — the classic trick that
    makes BPE training tractable on TB corpora.  Pair counting combines
    map-side; the top-10 is a TakeOrdered, never a full sort."""
    from parallel_map_reduce_spark.operators.wordcount import wordcount

    docs = load_table(spark, sf_dir, "documents")
    wc = wordcount(docs, "text")
    pairs = (
        wc.filter(F.length("word") >= 2)
        .select(
            "word",
            "count",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(
            "count", F.col("word").substr(F.col("i"), F.lit(2)).alias("pair")
        )
        .groupBy("pair")
        .agg(F.sum("count").alias("pair_count"))
    )
    return pairs.orderBy(
        F.col("pair_count").desc(), F.col("pair").asc()
    ).limit(10)


_TFIDF_SQL = (
    TOKENS_CTE_SQL
    + """,
tok AS (SELECT doc_id, w FROM toks CROSS JOIN UNNEST(ws) AS t(w)),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
dfc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.w AS term, tf, df,
         ROUND(CAST(tf AS DOUBLE) * ln(n_docs / CAST(df AS DOUBLE)), 6)
           AS weight
  FROM tf JOIN dfc USING (w) CROSS JOIN n
)
SELECT doc_id, term, tf, df, weight FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY weight DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= 5
"""
)


@register("tfidf_top_terms", _TFIDF_SQL)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: classic tf·idf (weight = tf ·
    ln(N/df), the BM25 precursor) ranked top-5 per doc with weights
    ROUNDED to 6 before ranking and term-lexicographic tie-break, so
    both engines agree at equal-weight boundaries (ln(1) = 0 ties are
    common for corpus-wide words).

    Scale posture: tf is one (doc, term) partial agg; df is an agg over
    tf's output (vocabulary-sized, not corpus-sized); N broadcasts as a
    1-row scalar; the tf-df join is vocabulary-dimension — AQE
    broadcasts it at sandbox scale, and at 100 TB it hash-joins on the
    term key with map-side-combined inputs.  The top-5 window
    repartitions by doc_id only."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    # Materialize tf once: without this, Catalyst re-derives the
    # (doc_id, w) aggregate from a second corpus scan for the df side
    # (the aliased-reuse trap PLANS.md documents for the dedup tiers).
    tf = (
        tok.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfc = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(dfc, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs") / F.col("df").cast("double")),
                6,
            ).alias("weight"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .drop("_rn")
    )


@register(
    "multimodal_resize_stats",
    """
WITH params AS (
  SELECT doc_id AS media_id,
         ('0x' || substr(md5(text), 1, 2))::BIGINT AS c,
         1 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 64 AS w,
         1 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 64 AS h
  FROM documents
),
rs AS (
  SELECT media_id,
         list_transform(generate_series(0, 15),
                        i -> ((i * w) // 16 * 7 + c) % 256) AS px
  FROM params
)
SELECT media_id,
       CAST(16 AS INTEGER) AS out_w,
       CAST(16 AS INTEGER) AS out_h,
       CAST(list_aggregate(px, 'sum') * 16 AS BIGINT) AS sum_resized,
       CAST(list_aggregate(px, 'min') AS INTEGER) AS min_resized,
       CAST(list_aggregate(px, 'max') AS INTEGER) AS max_resized
FROM rs
""",
)
def q_multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size thumbnail preprocessing, oracle-checked end to end:
    encode real PNGs, decode the raster back (zlib inflate + unfilter),
    nearest-neighbor resample to 16x16, and emit integer-exact stats of
    the RESIZED pixels. The generator's rasters are row-constant
    (pixel(x, y) = (x*7 + c) % 256), so the oracle reproduces the
    resampled image in closed form — output pixel column i comes from
    source column floor(i*w/16), identical for all 16 output rows — and
    a hash match proves the actual resize arithmetic, closing the one
    multimodal stage (resize) whose pixel kernel was previously only
    stub-shaped (resize_media's documented PIL swap-in)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_png_media(docs)
    return multimodal.resize_pixel_stats(media, out_w=16, out_h=16)
