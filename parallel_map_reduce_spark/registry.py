"""Query registry: name → (Spark callable, DuckDB oracle SQL).

Every operator claimed done in SURVEY.md §2 gets a ``queries()`` entry
here; SQL-expressible ones also get an ``oracle_sql()`` entry with
IDENTICAL column names/types so the driver's order-insensitive value-hash
matches. Computed doubles are rounded to a fixed precision on BOTH sides
so summation-order ulp differences between engines don't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame query, with an
    optional DuckDB oracle."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


# The driver's correctness check covers the FIRST 50 registry entries per
# round — exactly _WINDOW slots; _load_all() fails loud if this list
# exceeds that or names a query that doesn't exist. Names not listed keep
# registration order after these.
# Each listed row's code or oracle SQL changed since its last correctness check.
_WINDOW = 50
_PRIORITY: list[str] = [
    # 1) NEW in round 13 — first driver row this round
    "knn_ivf_filtered_stored",
    # 1b) round-13 code-touched. The 17 kNN audit rows converted to the
    # residue-sampled exact twin (shared knn_audit_sample +
    # _KNN_EXACT_SAMPLED_CTE — VERDICT r12 #2); ivf_build_index /
    # ivf_append_to_index gained meta_cols and ivf_query_stored gained
    # where= (default-identical behavior, but the invariant re-windows
    # every registered row whose code path runs a touched function
    # rather than arguing equivalence — that adds knn_range_ivf_stored,
    # ism_audit_query, incremental_semantic_dedup_chain);
    # pipeline_curate_corpus gained the embeddings entry checkpoint
    # (ADVICE r12; its oracle-SQL builder change is proven
    # byte-identical and would not alone re-window).
    "knn_lsh_ann",
    "knn_ivf_ann",
    "knn_ivf_ann_stored",
    "knn_ivf_ann_appended",
    "knn_pq_ann",
    "knn_ivfpq_ann",
    "knn_pq_ann_stored",
    "knn_ivfpq_ann_stored",
    "knn_ivfadc_compacted",
    "knn_opq_ann_stored",
    "knn_opq_ivfadc_stored",
    "knn_pq_compacted",
    "knn_ivfsq_ann_stored",
    "knn_sq_ann_stored",
    "knn_pq_ann_appended",
    "knn_opq_ann",
    "knn_sq_ann",
    "knn_range_ivf_stored",
    "ism_audit_query",
    "incremental_semantic_dedup_chain",
    "pipeline_curate_corpus",
    # 1c) touched by the round-13 OPTIMIZATION commits that landed after
    # the rotation above (sidecar driver-side IO, argmax hash-aggregate
    # rewrite, audit single-pass, thread-pool overlap): every registered
    # row whose code path runs a changed function takes a slot — the
    # same no-equivalence-arguments invariant as 1b. Mapped by AST
    # transitive-caller scan of the af331e9..HEAD function-body diff
    # (docstrings stripped); displaces the youngest 9 r8 fills
    # one-for-one (journaled in PLANS.md, deferred to the r14 queue).
    "kmeans_train_converged",
    "embedding_cluster_assign",
    "embedding_kmeans_refine",
    "topic_mixture_resample",
    "semantic_dedup_keep_corpus_ann",
    "semantic_dedup_cluster_sharded",
    "semantic_dedup_sharded_miss_audit",
    "semantic_dedup_sharded_miss_audit_sampled",
    "knn_range_ivfsq_stored",
    # 1d) touched by the resumed session's optimization blocks
    # (incremental_lsh_dedup signature threading + overlap, the
    # checkpoint-into-action fusion in connected_components /
    # kmeans_train_converged / the chain / retract_and_readmit, the
    # lazy BPE merge rewrites): every registered row whose code path
    # runs a touched function, mapped by the same AST transitive-caller
    # scan. Displaces the youngest 14 remaining r8 fills (journaled,
    # deferred to the r14 queue).
    "retract_and_readmit",
    "incremental_lsh_dedup",
    "incremental_lsh_dedup_stored",
    "incremental_lsh_dedup_compacted",
    "streaming_incremental_dedup",
    "bpe_train_vocab",
    "bpe_encode_stats",
    "dedup_group_assignment",
    "dedup_group_assignment_lsh",
    "dedup_keep_corpus",
    "dedup_keep_corpus_lsh",
    "pipeline_training_batches",
    "pipeline_training_batches_lsh",
    "semantic_dedup_keep_corpus",
    # 2) oracle SQL rebuilt from dedup.py's near-duplicate forms, with no
    # slot above.
    "minhash_signatures",
    "minhash_lsh_dedup_pairs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_capped",
    "ngram_jaccard_pairs_prefix",
]


def _prioritized(d: dict) -> dict:
    head = {n: d[n] for n in _PRIORITY if n in d}
    tail = {n: v for n, v in d.items() if n not in head}
    return {**head, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return _prioritized(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all()
    return _prioritized(_ORACLES)


_LOADED = False


def _load_all() -> None:
    """Import every module that contains @register declarations."""
    global _LOADED
    if _LOADED:
        return
    # Import order determines registry dict order, which determines which
    # queries land in the driver's bounded check window: the flagship
    # wordcount family and the relational/TPC-H core must come first.
    from parallel_map_reduce_spark.operators import queries_wordcount  # noqa: F401
    from parallel_map_reduce_spark.operators import queries_relational  # noqa: F401
    from parallel_map_reduce_spark.operators import queries_sessions  # noqa: F401
    from parallel_map_reduce_spark.operators import queries_udf  # noqa: F401
    from parallel_map_reduce_spark.operators import queries_temporal  # noqa: F401
    from parallel_map_reduce_spark.operators import queries_sql  # noqa: F401
    from parallel_map_reduce_spark.operators import queries_llm  # noqa: F401
    from parallel_map_reduce_spark.operators import queries_streaming  # noqa: F401
    from parallel_map_reduce_spark.operators import queries_curation  # noqa: F401

    # A typo'd _PRIORITY name would silently waste one of the driver's
    # check slots (the dict comprehension would just skip it), and a list
    # longer than the window silently drops its tail outside driver
    # coverage (bit round 3: 54 names for 50 slots).  Real exceptions,
    # not asserts — `python -O` strips asserts.
    missing = set(_PRIORITY) - set(_QUERIES)
    if missing:
        raise RuntimeError(f"_PRIORITY names not in registry: {sorted(missing)}")
    if len(_PRIORITY) != len(set(_PRIORITY)):
        raise RuntimeError("_PRIORITY contains duplicate names")
    if len(_PRIORITY) > _WINDOW:
        raise RuntimeError(
            f"_PRIORITY has {len(_PRIORITY)} names but the driver window "
            f"is {_WINDOW} — the tail would silently miss coverage"
        )

    _LOADED = True
