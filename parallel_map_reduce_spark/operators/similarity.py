"""Similarity search over embedding columns (array<float>).

Two tiers:

- Brute-force cosine top-k — the exactness baseline and the verifier for
  the approximate tier. Query set broadcasts against the corpus; per-pair
  math is JVM-side (functions/vectors.py). Cost is |Q|·|N|; fine when the
  query set is small or as a per-bucket kernel.
- Random-hyperplane LSH — the 100 TB path: vectors land in sign-pattern
  buckets; only same-bucket candidates get exact scoring. Recall is
  tunable via number of tables/hyperplanes (tested vs brute force).

The IVF / PQ / OPQ / IVFADC / SQ8 / IVF×SQ family shares one store path
(build, append, query, range, compact) and one scorer per encoder; the
persisted layouts and their contracts are tabled in README.md, "ANN
stores".

Similarities are rounded BEFORE ranking so that cross-engine ulp noise
cannot reorder the top-k; ties break on vec_id.
"""

from __future__ import annotations

import glob
import math
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parallel_map_reduce_spark.functions.vectors import (
    cosine,
    dot,
    to_double_array,
)
from parallel_map_reduce_spark.operators.curation_extras import (
    _overlap,
    _recover_store_slices_locked,
    recover_store_slices,
    store_lock,
)
from parallel_map_reduce_spark.operators.dedup import _admission_statuses


def _vectors(
    embeddings: DataFrame, id_col: str, vec_col: str, *extra
) -> DataFrame:
    """(id, vec, *extra) with ``vec`` as array<double>: the frame every
    operator here scores."""
    return embeddings.select(
        F.col(id_col), to_double_array(F.col(vec_col)).alias("vec"), *extra
    )


def _queries(
    src: DataFrame, query_ids: list[int], id_col: str, *extra
) -> DataFrame:
    """(query_id, qvec, *extra): the query rows of ``src``."""
    return src.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("vec").alias("qvec"), *extra
    )


def _pairs(
    cand: DataFrame, queries: DataFrame, id_col: str, probe_cids=None
) -> DataFrame:
    """Candidate × query pairs, self-pairs dropped. The query side always
    broadcasts, so the corpus never shuffles: a cross join for flat
    search, or, given IVF's ``probe_cids`` UDF, an equality join on each
    query's probed cells — on a cid-partitioned store that join prunes
    the scan to the probed ``cid=N`` directories."""
    if probe_cids is None:
        joined = cand.crossJoin(F.broadcast(queries))
    else:
        probes = queries.withColumn(
            "cid", F.explode(probe_cids(F.col("qvec")))
        )
        joined = cand.join(F.broadcast(probes), "cid")
    return joined.filter(F.col(id_col) != F.col("query_id"))


def _cosine_scored(
    cand: DataFrame, queries: DataFrame, id_col: str, probe_cids=None
) -> DataFrame:
    """(query_id, neighbor_id, cosine_sim): exact cosine over _pairs,
    computed by the JVM fold and rounded before any ranking."""
    return _pairs(cand, queries, id_col, probe_cids).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col("qvec"), F.col("vec")), 6).alias("cosine_sim"),
    )


def _topk(scored: DataFrame, k: int, sim_col: str = "cosine_sim") -> DataFrame:
    """Each query's ``k`` best rows by (``sim_col`` DESC, neighbor_id ASC)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(sim_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def knn_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine_sim) with k rows per query.
    The query side is broadcast — the corpus is never shuffled, so this
    scales to any corpus size at O(|Q|) memory per executor.
    """
    if query_ids is None:
        query_ids = list(range(10))
    base = _vectors(embeddings, id_col, vec_col)
    scored = _cosine_scored(base, _queries(base, query_ids, id_col), id_col)
    return _topk(scored, k)


def knn_bruteforce_filtered(
    embeddings: DataFrame,
    where: Column,
    query_ids: list[int] | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k among the vectors SATISFYING a metadata
    predicate — the brute-force ground truth for the filtered ANN
    query mode (ivf_query_stored's ``where``; FAISS IDSelector).
    Queries are drawn from the UNFILTERED frame (a query needn't match
    the predicate it searches under); only the candidate side is
    filtered, BEFORE the cross score, so the scan cost is the slice,
    not the corpus. Same output contract and plan shape as
    knn_bruteforce: broadcast query side, corpus never shuffled."""
    if query_ids is None:
        query_ids = list(range(10))
    base = _vectors(embeddings, id_col, vec_col, where.alias("_match"))
    queries = _queries(base, query_ids, id_col)
    scored = _cosine_scored(base.filter(F.col("_match")), queries, id_col)
    return _topk(scored, k)


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from the portable hash —
    reproducible across runs/engines without RNG state."""
    import hashlib

    coords = []
    for d in range(dim):
        h = hashlib.md5(f"plane:{plane_idx}:{d}".encode()).hexdigest()
        v = int(h[:15], 16) / float(1 << 60)  # [0, 1)
        coords.append(2.0 * v - 1.0)
    return coords


def _lsh_bucketed(
    base: DataFrame,
    id_col: str,
    num_planes: int,
    num_tables: int,
    dim: int,
) -> DataFrame:
    """(id, vec, tbl, bucket): multi-table random-hyperplane sign-pattern
    bucket assignment — the shared front half of every LSH consumer
    (ANN search and near-dup pairing).

    All num_tables*num_planes projections run as ONE Arrow-batched
    matmul. The naive form — one F.aggregate(zip_with(...)) column per
    projection — runs in Catalyst's higher-order-function interpreter
    (HOFs don't codegen) and measured ~10x slower than numpy over the
    same batch; hyperplane projection is matrix math, so the vectorized
    Python path is the fast path here. Deterministic _hyperplane
    coefficients, so bucket assignments are reproducible across runs.
    """
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [_hyperplane(dim, i) for i in range(num_tables * num_planes)]
    ).T  # dim x (tables*planes)
    weights = 1 << np.arange(num_planes)

    @pandas_udf("array<int>")
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # batch x dim
        bits = (mat @ planes) >= 0  # batch x (tables*planes)
        bits = bits.reshape(len(mat), num_tables, num_planes)
        ids = (bits * weights).sum(axis=2).astype("int32")  # batch x tables
        return pd.Series(list(ids))

    return base.select(
        F.col(id_col),
        F.col("vec"),
        F.posexplode(bucket_ids(F.col("vec"))).alias("tbl", "bucket"),
    )


def lsh_bucket_ann(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH; exact cosine
    only within the query's buckets.

    Each of `num_tables` tables assigns a num_planes-bit sign-pattern
    bucket from its own hyperplane set; a corpus vector is a candidate if
    it shares a bucket with the query in ANY table (union of candidates,
    deduped before scoring). Recall/cost dial: more tables → higher
    recall, more candidates; more planes → smaller buckets, lower cost,
    lower recall. Defaults (4 planes × 8 tables) target near-uniform
    embeddings — tightly clustered real-world embeddings prune far
    better at the same settings. At scale, repartition by (table, bucket)
    so each bucket scan is partition-local.
    """
    if query_ids is None:
        query_ids = list(range(10))
    base = _vectors(embeddings, id_col, vec_col)
    bucketed = _lsh_bucketed(base, id_col, num_planes, num_tables, dim)
    queries = _queries(bucketed, query_ids, id_col, F.col("tbl"), F.col("bucket"))
    sim = F.round(cosine(F.col("qvec"), F.col("vec")), 6)
    scored = (
        bucketed.join(F.broadcast(queries), ["tbl", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), F.col("vec"), F.col("qvec"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            F.col("neighbor_id"),
            sim.alias("cosine_sim"),
        )
    )
    return _topk(scored, k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ threshold).

    Correctness-tier all-pairs implementation; the oracle for
    ``embedding_near_dup_lsh`` below, which buckets first and runs this
    cosine kernel only within buckets — use THAT at scale.
    """
    base = _vectors(embeddings, id_col, vec_col)
    a = base.select(F.col(id_col).alias("id_a"), F.col("vec").alias("vec_a"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("vec").alias("vec_b"))
    sim = F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 4,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Scale-tier embedding near-dup: LSH buckets first, the exact cosine
    kernel only WITHIN buckets — the composition the all-pairs tier's
    docstring prescribes.

    A pair is a candidate iff it shares a sign-pattern bucket in ANY of
    the `num_tables` tables. Work is sum over buckets of |bucket|²
    instead of corpus² — with b-bit patterns and roughly uniform
    occupancy that's a ~2^b reduction per table. Recall for
    cosine ≥ 0.95 pairs at the defaults (4 planes × 8 tables):
    P(miss in one table) = 1-(1-θ/π)^4 ≈ 0.35 at θ ≈ 18°, so
    P(miss everywhere) ≈ 0.35^8 ≈ 2e-4 — recall-tested vs the all-pairs
    tier. At 100 TB, repartition by (tbl, bucket) so each bucket's
    self-join is partition-local.

    The in-bucket scoring is a per-bucket Gram-matrix kernel
    (applyInPandas): each bucket's vectors cross the Arrow boundary ONCE
    (corpus × num_tables rows total), one BLAS matmul scores all pairs
    in the bucket, and only threshold survivors return to the JVM. The
    alternatives lose by orders of magnitude here: a bucket self-JOIN
    materializes every candidate pair (≈ Σ|bucket|² rows, each dragging
    two dim-sized vectors), and scoring those pairs with the
    F.aggregate/zip_with cosine runs in Catalyst's HOF interpreter — no
    codegen — at 3 folds per pair (measured 37 s at sf0.1; this kernel:
    ~2 s). The final distinct collapses pairs that met in several
    tables, shuffling only (id, id, rounded-sim) survivors. Bucket size
    is the memory unit: n_planes bounds it (more planes → smaller
    buckets), the knob to turn before 100 TB.
    """
    base = _vectors(embeddings, id_col, vec_col)
    bucketed = _lsh_bucketed(base, id_col, num_planes, num_tables, dim)

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # the shared sequential-fold kernel (functions/gram.py) — fold
        # the raw dot then divide, matching the JVM/DuckDB expression
        # the exact twin computes, so shared pairs bit-match by
        # construction (r7: replaced a normalize-first matmul hand-copy)
        from parallel_map_reduce_spark.functions.gram import cosine_pairs

        if len(pdf) < 2:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cosine_sim": pd.Series(dtype="float64")}
            )
        ids = pdf[id_col].to_numpy()
        mat = np.stack(pdf["vec"].to_numpy())  # n x dim
        ia, ib, sims = cosine_pairs(ids, mat, threshold)
        return pd.DataFrame(
            {"id_a": np.minimum(ia, ib),
             "id_b": np.maximum(ia, ib),
             "cosine_sim": sims}
        )

    return (
        bucketed.groupBy("tbl", "bucket")
        .applyInPandas(bucket_pairs, "id_a long, id_b long, cosine_sim double")
        .distinct()
    )


def embedding_all_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT cosine near-dup pairs via a blocked Gram kernel — the
    distributed form of the inherently-quadratic exact tier.

    Every vector is fanned out to the `num_blocks` block-pair groups it
    participates in (block = id % B; group (i,j) for i<=j holds blocks i
    and j), so the N² pair work is spread over B(B+1)/2 independent
    Arrow-batched kernels instead of one join that materializes every
    pair row JVM-side. Shuffle volume is N·B vectors; per-group memory
    is (2N/B)·dim — B is the knob that caps group size at scale.

    Numeric contract: pairs come from the SHARED sequential-fold Gram
    kernel (functions/gram.py — dimension-order accumulation, never a
    BLAS matmul) so every pair's cosine is bit-identical to the
    sequential-fold JVM expression (functions/vectors.py) and DuckDB's
    list_* folds — the audit queries hash SUM(round(sim,6)*1e6) against
    a DuckDB oracle, where a pairwise-summation matmul could flip a
    6-decimal rounding at the boundary. The kernel's tiled pair
    emission also caps per-group memory at O(block² + n·dim).

    This is the audit/verifier twin: use the LSH tier
    (embedding_near_dup_lsh) as the ship path; use THIS when the answer
    must be exactly the all-pairs result.
    """
    # pmod, not %: Spark's % keeps the dividend's sign, so a negative id
    # would land in a negative residue class that matches no (bi, bj)
    # group and silently vanish from the "exact" output.
    base = _vectors(embeddings, id_col, vec_col).withColumn(
        "blk", F.pmod(F.col(id_col), F.lit(num_blocks)).cast("int")
    )
    pairs = [(i, j) for i in range(num_blocks) for j in range(i, num_blocks)]
    spark = embeddings.sparkSession
    block_pairs = spark.createDataFrame(pairs, "bi int, bj int")
    assigned = base.join(
        F.broadcast(block_pairs),
        (F.col("blk") == F.col("bi")) | (F.col("blk") == F.col("bj")),
    )

    def gram_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # shared sequential-fold kernel (functions/gram.py): tiled pair
        # emission caps peak memory at block² + n·dim per group
        from parallel_map_reduce_spark.functions.gram import cosine_pairs

        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "cosine_sim": pd.Series(dtype="float64")}
        )
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        left = pdf[pdf["blk"] == bi]
        ids_l = left[id_col].to_numpy()
        # guard BEFORE np.stack: an empty residue class (sparse or gappy
        # id space) would make np.stack([]) raise and kill the query
        if len(ids_l) == 0 or (bi == bj and len(ids_l) < 2):
            return empty
        mat_l = np.stack(left["vec"].to_numpy())
        if bi == bj:
            ia, ib, sims = cosine_pairs(ids_l, mat_l, threshold)
        else:
            right = pdf[pdf["blk"] == bj]
            ids_r = right[id_col].to_numpy()
            if len(ids_r) == 0:
                return empty
            mat_r = np.stack(right["vec"].to_numpy())
            ia, ib, sims = cosine_pairs(
                ids_l, mat_l, threshold, ids_r=ids_r, mat_r=mat_r
            )
        return pd.DataFrame(
            {"id_a": np.minimum(ia, ib),
             "id_b": np.maximum(ia, ib),
             "cosine_sim": sims}
        )

    return assigned.groupBy("bi", "bj").applyInPandas(
        gram_pairs, "id_a long, id_b long, cosine_sim double"
    )


DEFAULT_TRAIN_CAP = 16384


def _read_store_rows(path: str) -> list[dict]:
    """Driver-side read of a DRIVER-SIZED store artifact (the centroid
    table, a PQ/SQ model row — KB-scale sidecars every stored reader,
    appender and admission pass opens). Reading these through
    ``spark.read.parquet(...).collect()`` costs a full Spark job (scan
    task + scheduler round trip) per open; pyarrow reads the same
    parquet files in ~1 ms with no job (r13 optimization, guide §1.2:
    the cheapest pass is the one that never becomes a job — the data
    never leaves the driver either way, since every caller collect()ed
    it immediately). Returns plain dicts exposing the same keys the Row
    path did. Reads any mix of Spark-written (part-*.parquet) and
    driver-written files; file-name order is deterministic but every
    caller either sorts or reads a single row."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    tables = [papq.read_table(f) for f in files]
    table = tables[0] if len(tables) == 1 else pa.concat_tables(tables)
    return table.to_pylist()


def _write_store_rows(path: str, rows: list[dict]) -> None:
    """Driver-side overwrite of a DRIVER-SIZED store artifact as one
    parquet file — the write twin of _read_store_rows (r13, guide
    §1.2): the k-row centroid table / 1-row model previously went
    driver → JVM → coalesce(1) task → commit protocol, a full Spark
    write job to persist a few KB that the driver already holds. The
    schema follows the first row: int fields are int32, every other
    field (arrays, or a NULL rotation) list<double> — the exact types
    the Spark writer produced, so spark.read.parquet on these dirs
    still works where tests use it."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    schema = pa.schema(
        [
            (key, pa.int32() if isinstance(v, int) else pa.list_(pa.float64()))
            for key, v in rows[0].items()
        ]
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    papq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        os.path.join(path, "part-00000.parquet"),
    )


def _pq_model(
    m: int, codes: int, cb: np.ndarray, rot: np.ndarray | None = None
) -> dict:
    """The PQ/OPQ model row of an (m, codes, sub_dim) codebook and an
    optional rotation — the row ``<path>/model`` persists."""
    return {
        "m": int(m),
        "codes": int(codes),
        "sub_dim": int(cb.shape[2]),
        "codebook": [float(x) for x in cb.ravel()],
        "rotation": None if rot is None else [float(x) for x in rot.ravel()],
    }


def _pq_arrays(model: dict) -> tuple[np.ndarray, np.ndarray | None]:
    """(codebook, rotation-or-None) back from a PQ model row."""
    m, codes, sub_dim = model["m"], model["codes"], model["sub_dim"]
    cb = np.array(model["codebook"]).reshape(m, codes, sub_dim)
    if model["rotation"] is None:
        return cb, None
    return cb, np.array(model["rotation"]).reshape(m * sub_dim, m * sub_dim)


def _sq_model(vmin: np.ndarray, vmax: np.ndarray) -> dict:
    """The SQ8 model row (dim, vmin, scale) of a trained (min, max). The
    zero-scale guard lives here, once: a constant dimension codes to 0
    and decodes to its single value."""
    scale = (vmax - vmin) / 255.0
    scale[scale == 0.0] = 1.0
    return {
        "dim": int(len(vmin)),
        "vmin": [float(v) for v in vmin],
        "scale": [float(s) for s in scale],
    }


def _sq_literals(model: dict):
    """(mins, scales) literal-array columns of an SQ8 model row: the
    model rides into the plan as 2·dim literals, never a join. Built
    from the exact doubles the row stores, so a stored read scores
    bit-identically to the in-memory form."""
    return (
        F.array(*[F.lit(v) for v in model["vmin"]]),
        F.array(*[F.lit(s) for s in model["scale"]]),
    )


def _cap_train_set(
    train: DataFrame, key, cap: int | None, n: int | None = None
) -> DataFrame:
    """FAISS-style bounded quantizer training set: when the corpus
    holds more than ``cap`` rows, keep a deterministic content-hash
    residue sample of ~cap rows (xxhash64(key) % ceil(n/cap) == 0)
    before the KMeans fit. Content-addressed, so the draw is
    independent of partition layout and stable across runs — unlike
    ``DataFrame.sample``, whose per-partition draw shifts with how rows
    pack into splits. A no-op whenever n <= cap (every test sf, so the
    capped trainers are bit-identical to the uncapped ones there); at
    100 TB the fit touches O(cap·dim·iters) instead of O(corpus) —
    FAISS's equivalent knob is max_points_per_centroid (it subsamples
    past k·256 points). The pre-filter count is one partial-agg scan;
    callers that already hold the row count pass ``n`` to skip it
    (r13: the composite builders count once and share — guide §1.2).
    """
    if cap is None:
        return train
    if n is None:
        n = train.count()
    if n <= cap:
        return train
    d = -(-n // cap)
    return train.filter(F.pmod(F.xxhash64(key), F.lit(d)) == F.lit(0))


def ivf_ann(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 5,
    train_cap: int | None = DEFAULT_TRAIN_CAP,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into `num_centroids` cells; each query scores
    exactly only against the `nprobe` nearest cells.

    The quantizer is trained once (KMeans, fixed seed — deterministic on
    the same data) and its centroids — a few KB — ship inside the
    assignment UDF's closure: cell assignment and probe selection are
    one Arrow-batched numpy distance matrix per batch (argmin / stable
    argsort), the vectorized slow-path-done-right for dense matrix math.

    Scale posture: the quantizer trains on a bounded deterministic
    sample (``train_cap``, see _cap_train_set) so the fit never scales
    with the corpus; corpus cell assignment is one narrow projection, and
    the probe join is an equality join on cid with the (tiny) query side
    broadcast — the corpus never shuffles. Repartitioning the corpus BY
    cid once (write-time clustering) makes every probe partition-local,
    the on-disk layout FAISS calls the inverted file.
    """
    if query_ids is None:
        query_ids = list(range(10))
    base = _vectors(embeddings, id_col, vec_col)
    cmat = _fit_coarse(base, num_centroids, max_iter, train_cap)
    return _ann(embeddings, None, query_ids, k, None, id_col, vec_col, cmat, nprobe)


def range_search_exact(
    embeddings: DataFrame,
    query_ids: list[int],
    radius: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact RANGE search (FAISS's second query mode, range_search
    alongside top-k search): every (query_id, neighbor_id, cosine_sim)
    with ROUND(cos, 6) >= radius — variable cardinality per query, no k.
    The query side broadcasts; the corpus streams through the JVM
    cosine fold and the radius filter — never shuffles, no window, no
    sort: strictly cheaper than top-k at the same selectivity."""
    base = _vectors(embeddings, id_col, vec_col)
    scored = _cosine_scored(base, _queries(base, query_ids, id_col), id_col)
    return scored.filter(F.col("cosine_sim") >= radius)


def ivf_range_search(
    embeddings: DataFrame,
    query_ids: list[int],
    radius: float,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 5,
    train_cap: int | None = DEFAULT_TRAIN_CAP,
) -> DataFrame:
    """IVF-pruned RANGE search: the coarse quantizer restricts exact
    scoring to each query's ``nprobe`` nearest cells, then the radius
    filter keeps every in-range neighbor found there — FAISS
    IndexIVF.range_search. Scoring inside probed cells is exact, so the
    result is a SUBSET of range_search_exact by construction (zero
    false positives — pytest-pinned); recall is the probability the
    neighbor's cell was probed, the same knob as ivf_ann's. With
    nprobe = num_centroids every cell is probed and the output EQUALS
    the exact tier row-for-row (exactness-recovery pytest).

    Scale shape: identical to ivf_ann's — bounded deterministic
    quantizer training (train_cap), one narrow cell-assignment
    projection, broadcast probe join on cid, no corpus shuffle, and no
    top-k window at all (the radius filter replaces it map-side)."""
    base = _vectors(embeddings, id_col, vec_col)
    cmat = _fit_coarse(base, num_centroids, max_iter, train_cap)
    return _ann(
        embeddings, None, query_ids, None, None, id_col, vec_col, cmat, nprobe,
        radius=radius,
    )


def _ivf_udfs(cmat: np.ndarray, nprobe: int):
    """(nearest_cid, probe_cids) pandas UDFs over a fixed centroid
    matrix — cell assignment and probe selection as ONE Arrow-batched
    distance matrix per batch (numpy), not num_centroids interpreted
    zip_with/aggregate columns per row: Catalyst's HOF interpreter
    doesn't codegen and measured ~3x slower on the same data. Ties:
    np.argmin / stable argsort both prefer the lower cid, matching the
    (dist, cid) struct ordering of the expression form. Shared by the
    self-contained ivf_ann and the two-phase stored-index pair so the
    assignment rule cannot drift between them."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def nearest_cid(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # batch x dim
        d2 = ((mat[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    @pandas_udf("array<int>")
    def probe_cids(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())
        d2 = ((mat[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    return nearest_cid, probe_cids


def _fit_coarse(
    base: DataFrame,
    num_centroids: int,
    max_iter: int,
    train_cap: int | None,
    n: int | None = None,
) -> np.ndarray:
    """The IVF coarse quantizer: KMeans with a fixed seed (deterministic
    on the same data) over the bounded training sample (``train_cap``,
    see _cap_train_set; ``n`` skips its count). Returns the
    (num_centroids, dim) centroid matrix — a few KB that ships inside
    the assignment and probe UDFs' closures."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = _cap_train_set(base, F.col("vec"), train_cap, n=n).select(
        array_to_vector(F.col("vec")).alias("features")
    )
    model = KMeans(k=num_centroids, seed=42, maxIter=max_iter).fit(train)
    return np.array([list(map(float, c)) for c in model.clusterCenters()])


# ---------------------------------------------------------------------------
# Persisted ANN stores — one path for every layout (README.md, "ANN
# stores"): the coarse quantizer is none or IVF, the encoder is flat (raw
# vectors), PQ (optionally OPQ-rotated) or SQ8, and a reader infers the
# layout from disk: a ``centroids`` dir means IVF, and the ``model`` row
# holds ``codebook`` for PQ or ``vmin`` for SQ8.
# ---------------------------------------------------------------------------


def _table(path: str, coarse: bool) -> str:
    """A store's row table: ``invfile`` (partitioned by cid) under a
    coarse quantizer, ``codes`` otherwise."""
    return f"{path}/invfile" if coarse else f"{path}/codes"


def _load_store(path: str) -> tuple[np.ndarray | None, dict | None]:
    """Entry of every stored reader and appender: heal a crashed
    compaction, then read the sidecars driver-side — the cid-ordered
    centroid matrix and the model row, each None when absent."""
    recover_store_slices(path)
    cmat = model = None
    if os.path.isdir(f"{path}/centroids"):
        rows = sorted(_read_store_rows(f"{path}/centroids"), key=lambda r: r["cid"])
        cmat = np.array([r["center"] for r in rows])
    if os.path.isdir(f"{path}/model"):
        model = _read_store_rows(f"{path}/model")[0]
    return cmat, model


def _encoded(
    base: DataFrame, cmat, model, id_col: str, meta_cols=()
) -> DataFrame:
    """The store-row projection of an (id, vec, *meta_cols) frame: the
    raw vector and metadata without a model, else the true norm and the
    PQ or SQ8 code; plus the nearest cell's ``cid`` under a coarse
    quantizer. The corpus crosses Python at most once (Arrow-batched
    cell assignment and PQ encode); SQ8 codes are JVM zip_with folds."""
    if model is None:
        cols = [F.col("vec"), *meta_cols]
    elif "codebook" in model:
        encode, _ = _pq_udfs(*_pq_arrays(model))
        cols = [_vec_norm().alias("norm"), encode(F.col("vec")).alias("code")]
    else:
        code = _sq_encode_expr(F.col("vec"), *_sq_literals(model))
        cols = [_vec_norm().alias("norm"), code.alias("code")]
    if cmat is not None:
        nearest_cid, _ = _ivf_udfs(cmat, 1)
        cols.append(nearest_cid(F.col("vec")).alias("cid"))
    return base.select(id_col, *cols)


def _write_store(
    base: DataFrame, path: str, mode: str, cmat, model, id_col: str, meta_cols=()
) -> None:
    """Encode and write rows — the one writer for build and append."""
    writer = _encoded(base, cmat, model, id_col, meta_cols).write.mode(mode)
    if cmat is not None:
        writer = writer.partitionBy("cid")
    writer.parquet(_table(path, cmat is not None))


def _fit_pq(
    embeddings: DataFrame,
    vec_col: str,
    m: int,
    codes: int,
    shared: bool,
    rotation: bool,
    n_iter: int,
    train_cap: int | None,
    n: int | None = None,
    dim: int | None = None,
) -> dict:
    """A trained PQ model row: OPQ's rotation and per-subspace codebooks
    with ``rotation``, else pq_train_codebooks'."""
    if rotation:
        rot, cb = opq_train(
            embeddings,
            m=m,
            codes=codes,
            n_iter=n_iter,
            vec_col=vec_col,
            train_cap=train_cap,
            n=n,
        )
    else:
        rot, cb = None, pq_train_codebooks(
            embeddings,
            m=m,
            codes=codes,
            shared=shared,
            vec_col=vec_col,
            train_cap=train_cap,
            n=n,
            dim=dim,
        )
    return _pq_model(m, codes, cb, rot)


def _build_store(
    embeddings: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    coarse: tuple | None = None,
    pq: dict | None = None,
    sq: bool = False,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Train, persist the sidecars, write the rows. ``coarse`` is
    (num_centroids, max_iter, train_cap) for an IVF store, ``pq`` holds
    _fit_pq's keyword arguments, ``sq`` trains SQ8.

    The coarse and encoder fits are independent given the sample, so
    they run concurrently from driver threads (r13, guide §2.6): one
    fit's jobs back-fill the other's executor tail. Each fit sees the
    frame it would see alone, so the models are bit-identical to the
    sequential form's."""
    base = _vectors(embeddings, id_col, vec_col, *meta_cols)
    n = dim = None
    if coarse and pq:
        # Both fits need the row count and PQ the dim: one probe job
        # replaces the count each cap filter would pay (r13).
        probe = base.agg(
            F.count(F.lit(1)).alias("n"), F.first(F.size("vec")).alias("d")
        ).first()
        n, dim = probe["n"], probe["d"]
    fits = []
    if coarse:
        fits.append(lambda: _fit_coarse(base, *coarse, n=n))
    if pq:
        fits.append(lambda: _fit_pq(embeddings, vec_col, n=n, dim=dim, **pq))
    if sq:
        fits.append(lambda: _sq_model(*sq_train(embeddings, vec_col=vec_col)))
    trained = _overlap(*fits)
    cmat = trained.pop(0) if coarse else None
    model = trained[0] if trained else None
    sidecars = {
        "centroids": None if cmat is None else [
            {"cid": i, "center": [float(x) for x in c]} for i, c in enumerate(cmat)
        ],
        "model": None if model is None else [model],
    }
    # Sidecars are driver-sized: written driver-side, no Spark job.
    # Readers infer the layout from which sidecars exist, so a rebuild
    # over another layout must not leave a stale one behind.
    for name, rows in sidecars.items():
        if rows is None:
            shutil.rmtree(f"{path}/{name}", ignore_errors=True)
        else:
            _write_store_rows(f"{path}/{name}", rows)
    _write_store(base, path, "overwrite", cmat, model, id_col, meta_cols)


def _append_store(
    embeddings: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Add-after-train: encode a batch under the STORED quantizers and
    append it; no existing file is read or rewritten."""
    cmat, model = _load_store(path)
    base = _vectors(embeddings, id_col, vec_col, *meta_cols)
    _write_store(base, path, "append", cmat, model, id_col, meta_cols)


def _search(
    table: DataFrame,
    base: DataFrame | None,
    model: dict | None,
    query_ids: list[int],
    k: int | None,
    rerank_factor: int | None,
    id_col: str,
    probe_cids=None,
    where: Column | None = None,
    radius: float | None = None,
) -> DataFrame:
    """Top-k — or, given ``radius``, range — answers over store rows
    ``table`` (_encoded's projection, persisted or not): the one scorer
    per encoder that the in-memory and stored forms share. IVF's probe
    join applies when ``probe_cids`` is given (see _pairs).

    - flat: exact cosine against the stored vectors; queries come from
      ``table`` itself, and ``where`` filters the candidates only.
    - PQ: asymmetric distance — the broadcast (query, sub, code, partial)
      table joins the exploded codes and sums map-side to one approximate
      cosine per (query, vector) over the vector's TRUE stored norm.
    - SQ8: the exact query dotted with the affine-decoded bytes, JVM-only.

    The approximate encoders keep a k·rerank_factor shortlist and
    re-rank it exactly on true vectors from the primary table ``base``.
    SQ8 range search is a filter-verify (ivfsq_range_query_stored)."""
    if model is None:
        cand = table if where is None else table.filter(where)
        queries = _queries(table, query_ids, id_col)
        scored = _cosine_scored(cand, queries, id_col, probe_cids)
        if radius is None:
            return _topk(scored, k)
        return scored.filter(F.col("cosine_sim") >= radius)
    if "codebook" in model:
        _, adc_partials = _pq_udfs(*_pq_arrays(model))
        lead = []
        if probe_cids is not None:
            probes = _queries(base, query_ids, id_col).select(
                "query_id", F.explode(probe_cids(F.col("qvec"))).alias("cid")
            )
            table = table.join(F.broadcast(probes), "cid")
            lead = ["query_id"]
        exploded = table.select(
            *lead, id_col, "norm", F.posexplode("code").alias("sub", "code")
        )
        adc = _pq_adc_table(base, query_ids, adc_partials, id_col)
        scored = (
            exploded.join(F.broadcast(adc), [*lead, "sub", "code"])
            .filter(F.col(id_col) != F.col("query_id"))
            .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
            .agg(
                F.round(
                    F.sum("part") / (F.first("norm") * F.first("qnorm")), 6
                ).alias("approx_sim")
            )
        )
    else:
        mins, scales = _sq_literals(model)
        enc = table.select(
            id_col,
            "norm",
            _sq_decode_expr(F.col("code"), mins, scales).alias("deq"),
            *([] if probe_cids is None else ["cid"]),
        )
        queries = _queries(base, query_ids, id_col, _vec_norm().alias("qnorm"))
        pairs = _pairs(enc, queries, id_col, probe_cids)
        approx = dot(F.col("qvec"), F.col("deq")) / (
            F.col("qnorm") * F.col("norm")
        )
        if radius is not None:
            # Prefilter below the radius by the provable error bound
            # (ivfsq_range_query_stored), then verify on true vectors.
            c_bound = float(np.sqrt(((np.array(model["scale"]) / 2.0) ** 2).sum()))
            cand = pairs.filter(
                approx >= radius - F.lit(c_bound) / F.col("norm") - F.lit(1e-6)
            ).select("query_id", "qvec", F.col(id_col).alias("neighbor_id"))
            verified = cand.join(
                base.select(F.col(id_col).alias("neighbor_id"), F.col("vec")),
                "neighbor_id",
            ).select(
                "query_id",
                "neighbor_id",
                F.round(cosine(F.col("qvec"), F.col("vec")), 6).alias("cosine_sim"),
            )
            return verified.filter(F.col("cosine_sim") >= radius)
        scored = pairs.select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(approx, 6).alias("approx_sim"),
        )
    shortlist = _topk(scored, k * rerank_factor, "approx_sim").select(
        "query_id", "neighbor_id"
    )
    return _exact_refine_topk(base, shortlist, query_ids, k, id_col)


def _exact_refine_topk(
    base: DataFrame,
    shortlist: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str,
) -> DataFrame:
    """FAISS-refine: fetch true vectors for the shortlist only (both
    join sides broadcast — |Q| and |Q|·k·rerank_factor rows), re-score
    with the JVM cosine fold, rank on the exact similarity."""
    refined = (
        base.join(
            F.broadcast(shortlist),
            base[id_col] == shortlist["neighbor_id"],
        )
        .join(F.broadcast(_queries(base, query_ids, id_col)), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("vec")), 6).alias("cosine_sim"),
        )
    )
    return _topk(refined, k)


def _ann(
    embeddings: DataFrame,
    model: dict | None,
    query_ids: list[int],
    k: int | None,
    rerank_factor: int | None,
    id_col: str,
    vec_col: str,
    cmat: np.ndarray | None = None,
    nprobe: int | None = None,
    radius: float | None = None,
) -> DataFrame:
    """The in-memory twin of a stored query: encode the corpus exactly as
    the store's writer would (_encoded), then score it with the same
    _search — persisting changes the I/O shape, never an answer."""
    base = _vectors(embeddings, id_col, vec_col)
    table = _encoded(base, cmat, model, id_col)
    probe_cids = None if cmat is None else _ivf_udfs(cmat, nprobe)[1]
    return _search(
        table, base, model, query_ids, k, rerank_factor, id_col, probe_cids,
        radius=radius,
    )


def _query_store(
    spark,
    path: str,
    embeddings: DataFrame | None,
    query_ids: list[int],
    k: int | None = None,
    nprobe: int = 4,
    rerank_factor: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where: Column | None = None,
    radius: float | None = None,
) -> DataFrame:
    """Answer from a persisted store: one load (recovery + sidecars),
    then _search over the stored rows. ``embeddings`` is the primary
    table the approximate encoders refine against (None for the flat
    IVF store, which holds its own vectors)."""
    cmat, model = _load_store(path)
    table = spark.read.parquet(_table(path, cmat is not None))
    base = None if embeddings is None else _vectors(embeddings, id_col, vec_col)
    probe_cids = None if cmat is None else _ivf_udfs(cmat, nprobe)[1]
    return _search(
        table, base, model, query_ids, k, rerank_factor, id_col, probe_cids,
        where, radius,
    )


def _compact_store(
    spark, path: str, lock_timeout: float, target_bytes: int = 128 << 20
) -> tuple[int, int]:
    """Fold the files appends accumulate, returning (files_before,
    files_after): an inverted file to one file per non-empty cell, a
    flat ``codes`` table to ceil(total_bytes / target_bytes) files. Rows
    are copied unchanged — no retrain, no re-encode — so answers are
    identical before and after.

    Crash safety is the store-compaction state machine of
    curation_extras.recover_store_slices: the rewrite lands in
    ``_compact``, the live table is renamed to ``_old_<name>``,
    ``_compact`` is promoted, and only then is the old generation
    deleted. The whole section holds store_lock, so a reader or appender
    entering mid-fold waits at its recovery (``lock_timeout`` bounds
    that wait on a wedged holder)."""
    with store_lock(path, timeout=lock_timeout):
        _recover_store_slices_locked(path)
        coarse = os.path.isdir(f"{path}/centroids")
        live = _table(path, coarse)
        tmp, old = f"{path}/_compact", f"{path}/_old_{os.path.basename(live)}"
        files = f"{live}/cid=*/*.parquet" if coarse else f"{live}/*.parquet"
        before = glob.glob(files)
        rows = spark.read.parquet(live)
        if coarse:
            # repartition BY cid: each cell's rows land in one task, so
            # the partitionBy write emits one file per non-empty cell.
            rows.repartition("cid").write.partitionBy("cid").parquet(tmp)
        else:
            total = sum(os.path.getsize(f) for f in before)
            nparts = max(1, math.ceil(total / target_bytes))
            rows.repartition(nparts).write.parquet(tmp)
        os.replace(live, old)
        os.replace(tmp, live)
        shutil.rmtree(old, ignore_errors=True)
        return len(before), len(glob.glob(files))


def ivf_build_index(
    embeddings: DataFrame,
    path: str,
    num_centroids: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = DEFAULT_TRAIN_CAP,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Phase 1 of the two-phase IVF: train the coarse quantizer and
    persist the IVF store (layout: README.md, "ANN stores") — the
    corpus partitioned BY cid, the on-disk layout FAISS calls the
    inverted file. This is the nightly index job of a production ANN
    service; query jobs (ivf_query_stored) read the store and never
    retrain.

    ``meta_cols`` names metadata columns of the input to persist
    ALONGSIDE each vector in the inverted file (e.g. ``("label",)``) —
    what makes predicate-filtered queries (ivf_query_stored's
    ``where``, the FAISS IDSelector / vector-store WHERE-clause mode)
    answerable from the index alone: the predicate lands in the
    parquet rowgroup scan of only the probed cells, never a join back
    to the primary table.

    Scale posture: the quantizer trains on a bounded deterministic
    sample (``train_cap``, see _cap_train_set); assignment is one
    narrow projection; the partitionBy(cid) write clusters each cell's
    vectors contiguously so a probe of p cells reads exactly p
    partition directories — partition PRUNING, not a filter scan.
    """
    _build_store(
        embeddings,
        path,
        id_col,
        vec_col,
        coarse=(num_centroids, max_iter, train_cap),
        meta_cols=meta_cols,
    )


def ivf_query_stored(
    spark,
    path: str,
    query_ids: list[int] | None = None,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    where: Column | None = None,
) -> DataFrame:
    """Phase 2 of the two-phase IVF: answer top-k from the PERSISTED
    index — centroids load driver-side, probe selection runs the same
    Arrow-batched distance UDF as the self-contained form, and the
    corpus side reads ONLY the probed ``cid=N`` partitions of the
    inverted file. Output is identical to ivf_ann at the same
    parameters on the same index — what changes is the I/O and compute
    shape: no KMeans retrain, no full-corpus assignment pass, a p/k
    fraction of the corpus read per query batch. Query vectors are
    looked up from the inverted file by id.

    ``where`` is the predicate-filtered query mode (FAISS IDSelector /
    every production vector store's metadata WHERE clause): top-k among
    the stored vectors SATISFYING the predicate — applied to the
    CANDIDATE side only (queries themselves need not match), BEFORE
    scoring, as a plain column filter on the inverted-file scan, so it
    reaches the parquet reader (PushedFilters over the persisted
    ``meta_cols``) and composes with cell pruning. The predicate can
    only SHRINK a cell's candidate set, so with nprobe = every cell the
    answer is exactly brute-force-over-slice (pytest-pinned vs
    knn_bruteforce_filtered).

    Recovers at entry; quiesced-store contract (README.md, "ANN
    stores").
    """
    if query_ids is None:
        query_ids = list(range(10))
    return _query_store(
        spark, path, None, query_ids, k=k, nprobe=nprobe, id_col=id_col, where=where
    )


def compact_ivf_index(
    spark, path: str, lock_timeout: float = 600.0
) -> tuple[int, int]:
    """Inverted-file maintenance: fold the data files that appends
    accumulate inside each ``cid=N`` partition back to ONE file per
    cell, returning (files_before, files_after). Works on every
    cid-partitioned store (IVF, IVFADC, IVF×SQ). Row content is
    preserved exactly, so query answers are bit-identical before and
    after (pytest-pinned). What it buys at 100 TB is the same thing
    store compaction buys the dedup pipeline: an N-append index holds N
    files per touched cell, and listing/footer cost for every probe
    grows linearly until a compaction restores O(1) opens per cell.
    FAISS's on-disk IndexIVF has no analogous fragmentation only
    because its add() rewrites a single memory-mapped file; the parquet
    inverted file trades that for cheap appends plus THIS periodic
    fold. Crash safety and the quiesced-store contract: _compact_store
    and README.md, "ANN stores"."""
    return _compact_store(spark, path, lock_timeout)


def incremental_semantic_dedup(
    spark,
    batch: DataFrame,
    index_path: str,
    threshold: float = 0.95,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 4,
) -> DataFrame:
    """Ingest-time SemDeDup: admit a NEW batch of embeddings against a
    PERSISTED IVF index of the already-deduped kept corpus — the
    semantic twin of ``incremental_lsh_dedup``, with the same status
    contract: one row per batch vector, (id, status, dup_of) where
    status is ``cross_dup`` (rounded cosine ≥ threshold with some
    STORED vector found in the probed cells; dup_of = the smallest
    such stored id), ``batch_dup`` (exact within-batch near-dup
    component among the cross-surviving rows; dup_of = the component's
    smallest batch id, the survivor), or ``kept`` (dup_of = -1 — the
    same integral sentinel, same pandas-dtype rationale).

    The cross search is IVF-PRUNED: each batch vector probes its
    ``nprobe`` nearest stored cells and scores exact cosine only there
    — per-ingest work is O(batch · corpus · nprobe/k_cells) instead of
    O(batch · corpus), and only the probed ``cid=N`` partitions of the
    inverted file are read. Scoring inside probed cells is exact, so a
    flagged cross_dup is never a false positive; a stored dup in an
    unprobed cell can be missed (the standard IVF cell-miss bound —
    nprobe = num_centroids recovers the exact answer row-for-row,
    pytest-pinned). The within-batch pass is the blocked exact Gram
    kernel over the batch only — bounded by ingest size, never
    touching the corpus.

    Composes with the rest of the index lifecycle: admit survivors
    with ``ivf_append_to_index`` (fixed centroids — add-after-train),
    fold the accumulated append files with ``compact_ivf_index``, and
    the entry recovery here heals a crashed compaction before reading.
    This is the production loop a 100 TB ingestion pipeline runs:
    nightly index build, per-ingest pruned dedup, append, periodic
    compaction.
    """
    cmat, _ = _load_store(index_path)
    _, probe_cids = _ivf_udfs(cmat, nprobe)
    # eager=False (r13, guide §1.2): the connected_components
    # construction in _admission_statuses consumes b and cross_dup in
    # full (survivors → intra → sym's eager checkpoint), so both
    # lazily-marked checkpoints materialize inside that one job instead
    # of paying two dedicated jobs first. Materialization still happens
    # DURING this call — the returned statuses read only cached blocks,
    # never the invfile, so callers may still delete the store before
    # consuming them.
    b = batch.select(
        F.col(id_col), to_double_array(F.col(vec_col)).alias("qvec")
    ).localCheckpoint(eager=False)
    probes = b.select(
        F.col(id_col).alias("id_n"), "qvec"
    ).withColumn("cid", F.explode(probe_cids(F.col("qvec"))))
    inv = spark.read.parquet(f"{index_path}/invfile")
    cross_dup = (
        inv.join(F.broadcast(probes), "cid")
        .filter(F.round(cosine(F.col("qvec"), F.col("vec")), 6) >= threshold)
        .groupBy("id_n")
        .agg(F.min(F.col(id_col)).alias("dup_of"))
        .localCheckpoint(eager=False)
    )
    edges = _survivor_edges(b, cross_dup, threshold, num_blocks, id_col)
    return _admission_statuses(b, cross_dup, edges, id_col)


def _survivor_edges(
    b: DataFrame,
    cross_dup: DataFrame,
    threshold: float,
    num_blocks: int,
    id_col: str,
) -> DataFrame:
    """Within-batch edges (id_a, id_b) of an admitted batch ``b`` (id,
    qvec) given its cross matches ``cross_dup`` (id_n, dup_of): the
    blocked exact Gram over the cross-surviving rows only (every edge
    incident to a cross_dup would be dropped anyway — same result as the
    lexical tier's filter-after, one kernel cheaper)."""
    survivors = b.join(
        cross_dup.withColumnRenamed("id_n", id_col), id_col, "left_anti"
    )
    return embedding_all_pairs_blocked(
        survivors,
        threshold=threshold,
        num_blocks=num_blocks,
        id_col=id_col,
        vec_col="qvec",
    )


def incremental_semantic_dedup_with_audit(
    spark,
    batch: DataFrame,
    index_path: str,
    threshold: float = 0.95,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """One-pass form of the audit PAIR the registered admission rows run
    (r13 optimization; guide §1.2 "don't compute things you throw
    away"): the EXACT admission (nprobe = every cell) plus the PRUNED
    tier's cross_dup id set at ``nprobe``, derived from a SINGLE scored
    cross join instead of two full incremental_semantic_dedup
    executions.

    Equivalence (pytest-pinned against the two-run form): probe
    selection is the same stable argsort both tiers share (_ivf_udfs),
    and scoring inside probed cells is exact — so a batch vector's
    pruned cross matches are precisely its exact matches whose stored
    cell sits in the first ``nprobe`` entries of its probe list.
    Tagging each scored match with its probe POSITION (posexplode of
    the full-order probe list) and filtering ``pos < nprobe``
    reproduces the pruned tier's flag set without re-scoring anything.
    The rest of the pruned admission — its within-batch Gram and
    component pass — was dead work in the audit rows: only the pruned
    CROSS ids are ever consumed (subset/recall booleans), never its
    batch_dup/kept statuses.

    Returns ``(exact_statuses, pruned_cross_ids)``: the first is
    bit-identical to ``incremental_semantic_dedup(..., nprobe =
    num_cells)``, the second to the nprobe-tier run's
    ``status = 'cross_dup'`` id set. Cost vs the two-run form: the
    pruned pass's scoring (nprobe/num_cells of a batch×store cross
    join), its blocked Gram, its component fixpoint and two eager
    checkpoints all disappear; what remains is ONE batch×store scoring
    pass plus two cheap aggregates over the checkpointed match list.
    ``pruned_cross_ids`` stays answerable after the store is deleted
    (it derives from the checkpointed matches, not the invfile)."""
    cmat, _ = _load_store(index_path)
    _, probe_all = _ivf_udfs(cmat, cmat.shape[0])
    # eager=False (r13): same fusion as incremental_semantic_dedup — the
    # component construction consumes b and matches in full, so both
    # checkpoints materialize inside its first job; statuses and
    # pruned_cross then read only cached blocks (store-deletion contract
    # in the docstring holds unchanged).
    b = batch.select(
        F.col(id_col), to_double_array(F.col(vec_col)).alias("qvec")
    ).localCheckpoint(eager=False)
    probes = b.select(F.col(id_col).alias("id_n"), "qvec").select(
        "id_n",
        "qvec",
        F.posexplode(probe_all(F.col("qvec"))).alias("pos", "cid"),
    )
    inv = spark.read.parquet(f"{index_path}/invfile")
    matches = (
        inv.join(F.broadcast(probes), "cid")
        .filter(F.round(cosine(F.col("qvec"), F.col("vec")), 6) >= threshold)
        .select("id_n", F.col(id_col).alias("_kid"), "pos")
        .localCheckpoint(eager=False)
    )
    cross_dup = matches.groupBy("id_n").agg(F.min("_kid").alias("dup_of"))
    pruned_cross = (
        matches.filter(F.col("pos") < nprobe)
        .select(F.col("id_n").alias(id_col))
        .distinct()
    )
    edges = _survivor_edges(b, cross_dup, threshold, num_blocks, id_col)
    statuses = _admission_statuses(b, cross_dup, edges, id_col)
    return statuses, pruned_cross


def compact_pq_index(
    spark,
    path: str,
    target_bytes: int = 128 << 20,
    lock_timeout: float = 600.0,
) -> tuple[int, int]:
    """Code-table maintenance for the flat PQ, OPQ and SQ8 stores: fold
    the files that appends accumulate in ``<path>/codes`` into
    ceil(total_bytes / target_bytes) files (the ~16 B/vec code table is
    tiny relative to its corpus, but an N-append deployment still pays
    N file opens per query until the fold). Returns (files_before,
    files_after); row content is exact — no model retrain, no
    re-encode — so stored answers are identical before/after
    (pytest-pinned). Crash safety and the quiesced-store contract:
    _compact_store and README.md, "ANN stores".
    """
    return _compact_store(spark, path, lock_timeout, target_bytes)


def ivf_range_query_stored(
    spark,
    path: str,
    query_ids: list[int],
    radius: float,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """RANGE search answered from the PERSISTED IVF index — the same
    store ivf_query_stored serves top-k from, because FAISS serves both
    query modes off one IndexIVF: the corpus side reads ONLY the probed
    ``cid=N`` partitions, and the radius filter keeps every in-range
    neighbor found there — no top-k window anywhere. Output is
    identical to the self-contained ivf_range_search at the same
    parameters on the same index (pytest-pinned). Recovers at entry;
    quiesced-store contract (README.md, "ANN stores")."""
    return _query_store(
        spark, path, None, query_ids, nprobe=nprobe, id_col=id_col, radius=radius
    )


_ARGMAX_M = 1 << 31  # cand ids must sit in [0, 2^31) — cluster labels


def _argmax_enc(sim_col, cand_col):
    """Pack (sim DESC, cand ASC) into ONE non-negative LongType value
    whose plain ``max()`` is the argmax winner, so the per-key argmax
    runs as a genuine HashAggregate (single mutable long buffer — a
    struct-valued ``max(struct(sim, -cand))`` buffer is not a mutable
    aggregation type, which silently demotes the whole aggregate to
    SortAggregate and re-introduces the N·k per-partition sort the
    rewrite was meant to remove).

    ``sim_col`` must already be ``round(cosine, 6)`` — a 6-dp double in
    [-1, 1] — so ``round(sim*1e6)`` recovers the exact decimal integer d
    (|error| < 1e-9 ulp noise, far from the .5 boundary).  Encoding:
    ``(d + 1e6) * 2^31 + (2^31 - 1 - cand)`` — larger sim wins; equal
    sim → smaller cand wins; total fits in 62 bits.  ``_argmax_sim`` /
    ``_argmax_cand`` invert it exactly: d/1e6 as an IEEE division is the
    correctly-rounded nearest double of the decimal, which is the same
    double ``F.round(x, 6)`` produced (both pick nearest-double of
    d·1e-6)."""
    sim_i = F.round(sim_col * 1000000, 0).cast("long")
    return (sim_i + F.lit(1000000)) * F.lit(_ARGMAX_M) + (
        F.lit(_ARGMAX_M - 1) - cand_col.cast("long")
    )


def _argmax_sim(enc_col):
    """Decode the winning 6-dp sim double from ``_argmax_enc``."""
    return (F.shiftrightunsigned(enc_col, 31) - F.lit(1000000)).cast(
        "double"
    ) / F.lit(1000000.0)


def _argmax_cand(enc_col):
    """Decode the winning cand id (IntegerType) from ``_argmax_enc``."""
    return (
        F.lit(_ARGMAX_M - 1) - enc_col.bitwiseAND(F.lit(_ARGMAX_M - 1))
    ).cast("int")


def nearest_centroid_assign(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """KMeans assignment step against deterministic seed centroids: one
    centroid per distinct ``label_col`` value, seeded by that label's
    minimum-id vector (no RNG — reproducible across engines, runs and
    partitionings).  Output: (vec_id, label, cluster, sim) with
    ``cluster`` = the winning seed's label and ``sim`` its cosine,
    rounded to 6 before the argmax so cross-engine ulp noise cannot flip
    a winner; ties break on the smaller seed label.

    This is the inner kernel of cluster-based corpus curation (topic
    bucketing for mixture weights, cluster-sharded SemDeDup): a full
    Lloyd iteration is this assignment plus a groupBy(cluster) mean —
    both shapes already present here and in the component pipeline.

    Scale posture: the seed set is k rows (k = #labels) and BROADCASTS;
    the corpus is scored in place — zero corpus shuffles until the
    per-vector argmax, which is a map-side-combining HashAggregate over
    a single packed long (_argmax_enc; r13 — only N partial rows reach
    the exchange, no N·k sort anywhere in the plan).  At 100 TB with
    large k, swap the crossJoin for the hyperplane-LSH bucketer above
    to prune candidate centroids.
    """
    base = embeddings.select(
        F.col(id_col), F.col(label_col), to_double_array(F.col(vec_col)).alias("vec")
    )
    seed_ids = base.groupBy(label_col).agg(F.min(id_col).alias(id_col))
    seeds = base.join(seed_ids, [label_col, id_col]).select(
        F.col(label_col).alias("cluster"), F.col("vec").alias("seed_vec")
    )
    scored = base.crossJoin(F.broadcast(seeds)).select(
        id_col,
        label_col,
        "cluster",
        F.round(cosine(F.col("vec"), F.col("seed_vec")), 6).alias("sim"),
    )
    # Per-vector argmax as a true HashAggregate, not a row_number window
    # (r13 optimization, guide §2.3 "aggregate before you shuffle"): the
    # window form sorts all N·k scored rows per partition (Sort +
    # WindowGroupLimit) before its exchange; max() over the packed long
    # (_argmax_enc: larger sim wins, ties to the smaller cluster —
    # exactly the old orderBy(sim DESC, cluster ASC) row_number()=1
    # winner) partial-aggregates map-side with a single mutable long
    # buffer, so only N rows reach the exchange and NO sort appears
    # anywhere.  label_col rides in the grouping key (constant per id)
    # rather than as first(): a string-buffered first() would demote the
    # aggregate to SortAggregate.
    return (
        scored.groupBy(id_col, label_col)
        .agg(
            F.max(_argmax_enc(F.col("sim"), F.col("cluster"))).alias("_enc")
        )
        .select(
            id_col,
            label_col,
            _argmax_cand(F.col("_enc")).alias("cluster"),
            _argmax_sim(F.col("_enc")).alias("sim"),
        )
    )


def kmeans_train_converged(
    embeddings: DataFrame,
    max_rounds: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    return_assignment: bool = False,
) -> DataFrame:
    """Multi-iteration Lloyd k-means to convergence: iterate
    embedding_kmeans_refine's single step — per-cluster mean centroids
    (components ROUNDED to 6 so both engines feed bit-identical
    centroids into the next round), reassign by rounded cosine argmax —
    until no vector moves or ``max_rounds`` is hit. One audit row per
    EXECUTED round: (round, n_moved, avg_sim, n_clusters, converged);
    the converged round (n_moved = 0) is emitted, later rounds are not.
    Seeding is nearest_centroid_assign's deterministic min-id-per-label
    rule — no RNG anywhere, so the full trajectory is reproducible
    across engines, runs, and partitionings.

    Driver-loop discipline (the BPE trainer's): per round one
    distributed centroid agg + one reassignment, the assignment frame
    localCheckpointed eagerly so round r's plan is O(1) not O(r), and
    ONLY a 1-row scalar stat crosses to the driver (loop control, not
    data). Scale shape per round: centroid recompute is a posexplode
    partial agg on (cluster, dim) — k·dim rows out, corpus combines
    map-side; the k refined centroids broadcast back and the corpus is
    rescored in place; the per-vector argmax is a map-side-combining
    HashAggregate over a packed long (_argmax_enc), so only N partial
    rows reach its exchange with no sort anywhere, and the loop state
    carries the vector so no round re-joins the corpus (r13). This is
    also the
    coarse-quantizer training story for the IVF family run to
    convergence instead of ivf_train's fixed iteration count.

    With ``return_assignment=True`` the return value is instead the
    FINAL (id, cluster) assignment after the converged (or capped)
    round — the trained-topic membership downstream consumers (topic-
    aware mixture resampling) join against.

    Cross-engine tolerance note: each round's centroids come from
    ``F.avg`` over doubles ROUNDED to 6 — float summation order is
    partition-dependent, so a component landing exactly on a rounding
    boundary could in principle diverge the trajectory vs the oracle's
    DuckDB AVG. The single-step embedding_kmeans_refine has held this
    contract since round 4 and the loop is capped small (6 registered
    rounds ≈ 6 independent boundary draws per component); if a boundary
    flip is ever observed, the fix is a summation-order-independent
    centroid agg (sum of per-value rounded contributions), not a wider
    rounding.
    """
    spark = embeddings.sparkSession
    base = _vectors(embeddings, id_col, vec_col)
    # r13 optimization, two plan changes with bit-identical per-round
    # values (oracle-gated at all three sfs):
    #  * the VECTOR rides in the checkpointed loop state, so each round
    #    reads (id, vec, cluster) from the previous checkpoint instead
    #    of re-joining the corpus against the assignment (guide §2.4:
    #    remove shuffles outright — at cluster scale that join is a
    #    corpus-wide SMJ shuffle per round; the checkpoint is the same
    #    disk-backed corpus-sized state either way);
    #  * the per-vector argmax is a true HashAggregate (max over the
    #    packed long of _argmax_enc: largest sim wins, ties to the
    #    smallest cand — exactly the old orderBy(sim DESC, cand ASC)
    #    row_number()=1 winner), not a row_number window: partial
    #    aggregation map-side combines the N·k rescored rows to N
    #    before the exchange with no sort anywhere (guide §2.3
    #    "aggregate before you shuffle"; a struct-valued max() buffer
    #    would demote to SortAggregate, so the ordering key is packed
    #    into one mutable long and vec/old_cluster ride in the grouping
    #    key, constant per id).
    cur = base.join(
        nearest_centroid_assign(embeddings, id_col, vec_col, label_col).select(
            id_col, "cluster"
        ),
        id_col,
    ).localCheckpoint(eager=True)
    rows: list[tuple] = []
    for rnd in range(1, max_rounds + 1):
        cent = (
            cur.select("cluster", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("val"), 6).alias("cval"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda s: s["cval"],
                ).alias("cvec")
            )
            .select(F.col("cluster").alias("cand"), "cvec")
        )
        rescored = cur.crossJoin(F.broadcast(cent)).select(
            id_col,
            "vec",
            F.col("cluster").alias("old_cluster"),
            "cand",
            F.round(cosine(F.col("vec"), F.col("cvec")), 6).alias("sim"),
        )
        best = (
            rescored.groupBy(id_col, "vec", "old_cluster")
            .agg(
                F.max(_argmax_enc(F.col("sim"), F.col("cand"))).alias(
                    "_enc"
                )
            )
            .select(
                F.col(id_col),
                "vec",
                _argmax_cand(F.col("_enc")).alias("cluster"),
                "old_cluster",
                _argmax_sim(F.col("_enc")).alias("sim"),
            )
            # eager=False fuses the loop-state materialization INTO the
            # convergence-stat job below (r13, guide §1.2): the agg
            # consumes every partition, caching the lazily-marked
            # checkpoint blocks as a side effect — one job per round
            # instead of two, identical state.
            .localCheckpoint(eager=False)
        )
        stat = best.agg(
            F.sum((F.col("cluster") != F.col("old_cluster")).cast("long")).alias(
                "n_moved"
            ),
            F.round(F.avg("sim"), 4).alias("avg_sim"),
            F.countDistinct("cluster").alias("n_clusters"),
        ).collect()[0]
        rows.append(
            (
                rnd,
                stat["n_moved"],
                stat["avg_sim"],
                stat["n_clusters"],
                stat["n_moved"] == 0,
            )
        )
        cur = best.select(id_col, "vec", "cluster")
        if stat["n_moved"] == 0:
            break
    if return_assignment:
        return cur.select(id_col, "cluster")
    return spark.createDataFrame(
        rows,
        "round int, n_moved long, avg_sim double, n_clusters long, "
        "converged boolean",
    )


def ivf_append_to_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Incremental index maintenance for the two-phase IVF: assign a
    NEW batch of vectors to the EXISTING stored centroids and append
    them to the inverted file — the nightly delta job between full
    rebuilds. ``meta_cols`` mirrors ivf_build_index's: a store built
    with persisted metadata must append the same columns or later
    filtered queries would read NULLs for the appended rows.

    Scale shape: one centroid read (k rows), one narrow assignment
    projection over the batch, one partitionBy(cid) append — no
    existing index partition is read or rewritten. Add-after-train,
    recovery at entry and the quiesced-store contract: README.md, "ANN
    stores".
    """
    _append_store(embeddings, path, id_col, vec_col, meta_cols)


def ivfpq_append_to_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance for the two-phase IVFADC: a NEW
    batch is encoded against the STORED PQ model (codebooks + optional
    rotation), assigned to the EXISTING stored centroids, and its
    (vec_id, norm, code, cid) rows appended to the cid-partitioned
    inverted file (FAISS IndexIVFPQ.add after train). Each append adds
    one data file per touched cell; compact_ivf_index is the periodic
    fold (answers pytest-pinned identical across append and
    compaction). Add-after-train, recovery at entry and the
    quiesced-store contract: README.md, "ANN stores".
    """
    _append_store(embeddings, path, id_col, vec_col)


def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    codes: int = 16,
    max_iter: int = 5,
    shared: bool = False,
    vec_col: str = "embedding",
    train_cap: int | None = DEFAULT_TRAIN_CAP,
    n: int | None = None,
    dim: int | None = None,
) -> np.ndarray:
    """Train product-quantization codebooks (Jégou et al. 2011): split
    the vector space into ``m`` contiguous subspaces and k-means each
    independently (``codes`` centroids per subspace). Returns an
    (m, codes, dim/m) float64 array — the whole index-side model is
    m·codes·(dim/m) floats (= dim·codes), a driver-sized artifact like
    the IVF centroid table.

    ``shared=True`` trains ONE codebook over the union of all
    subvectors (the shared-codebook PQ variant) and replicates it
    across subspaces: one KMeans fit instead of m, at a small recall
    cost (measured ~0.9 vs ~0.95 here) — the train-time knob; the
    per-subspace form is the textbook fidelity tier. Either way the
    returned shape and every downstream consumer are identical.

    Scale posture: each fit is a distributed KMeans over one narrow
    slice projection of a bounded deterministic sample (``train_cap``
    full vectors, see _cap_train_set — both the shared and the
    per-subspace fits see the same sampled vectors, exactly like the
    IVF quantizer); the shared form sees m·cap sub_dim-wide rows in a
    single fit, the per-subspace form m sequential fits each touching
    dim/m of every sampled vector.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = embeddings.select(to_double_array(F.col(vec_col)).alias("vec"))
    # r13 (guide §1.2): ONE probe job yields both the row count the cap
    # filter needs and the dimensionality — previously a count() plus a
    # separate first() over the capped frame. Callers that already know
    # them (the composite builders) pass both and no job runs at all.
    if dim is None or (n is None and train_cap is not None):
        probe = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.first(F.size("vec")).alias("d"),
        ).first()
        n = probe["n"] if n is None else n
        dim = probe["d"] if dim is None else dim
    base = _cap_train_set(base, F.col("vec"), train_cap, n=n)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_dim = dim // m
    if shared:
        subs = base.select(
            F.explode(
                F.array(
                    *[
                        F.slice(F.col("vec"), s * sub_dim + 1, sub_dim)
                        for s in range(m)
                    ]
                )
            ).alias("sv")
        )
        model = KMeans(k=codes, seed=42, maxIter=max_iter).fit(
            subs.select(array_to_vector(F.col("sv")).alias("features"))
        )
        cb = np.array([list(map(float, c)) for c in model.clusterCenters()])
        return np.repeat(cb[None, :, :], m, axis=0)
    books = []
    for s in range(m):
        sub = base.select(
            array_to_vector(
                F.slice(F.col("vec"), s * sub_dim + 1, sub_dim)
            ).alias("features")
        )
        model = KMeans(k=codes, seed=42 + s, maxIter=max_iter).fit(sub)
        books.append([list(map(float, c)) for c in model.clusterCenters()])
    return np.array(books)  # m x codes x sub_dim


def pq_ann(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    m: int = 8,
    codes: int = 32,
    rerank_factor: int = 20,
    shared_codebook: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = DEFAULT_TRAIN_CAP,
) -> DataFrame:
    """Product-quantization ANN with exact re-ranking: approximate
    cosine shortlisting with the corpus compressed to ``m`` sub-codes
    (+ its true norm) per vector — log2(codes)·m bits instead of
    dim·32, the memory-footprint tier of the ANN family (IVF prunes
    WHICH vectors are scored; PQ shrinks WHAT is stored and scored) —
    followed by the FAISS-refine step: the top ``k·rerank_factor``
    ADC candidates per query are re-scored against their TRUE vectors
    and the final top-k ranks on exact cosine. Quantization error then
    only costs recall when a true neighbor falls outside the
    shortlist, not when it is merely re-ordered inside it.

    Asymmetric distance computation (ADC): the query stays exact; its
    dot product against a quantized vector decomposes into a sum of
    per-(subspace, code) partials — dot(q, x̂) = Σ_s dot(q_s,
    codebook[s][code_s]) — so scoring is a BROADCAST join of the
    (query_id, sub, code, partial) table (|Q|·m·codes rows, KB-sized)
    against the exploded code table, then one partial-aggregated sum
    per (query, vector): all JVM-side, no per-pair Python. Approximate
    cosine uses the vector's TRUE stored norm (the extra double a
    cosine/MIPS PQ index keeps), so only the direction is quantized.

    Output: (query_id, neighbor_id, cosine_sim), k rows per query,
    cosine_sim the EXACT re-ranked similarity rounded before ranking,
    ties on neighbor_id.

    Scale posture: the corpus crosses Python once at encode time
    (Arrow-batched nearest-code argmin); the scoring plan never
    shuffles the corpus — posexplode keeps a vector's m rows
    partition-local, so the (query, vector) sum map-side combines to
    one row per pair before the shortlist top-k shuffle — and the
    exact re-rank touches only |Q|·k·rerank_factor vectors via a
    broadcast semi-join of the shortlist against the corpus.
    """
    if query_ids is None:
        query_ids = list(range(10))
    cb = pq_train_codebooks(
        embeddings,
        m=m,
        codes=codes,
        shared=shared_codebook,
        vec_col=vec_col,
        train_cap=train_cap,
    )
    return _ann(
        embeddings, _pq_model(m, codes, cb), query_ids, k, rerank_factor,
        id_col, vec_col,
    )


def _pq_udfs(cb: np.ndarray, rotation: np.ndarray | None = None):
    """(encode, adc_partials) pandas UDFs over a fixed (m, codes,
    sub_dim) codebook array — nearest-code assignment and the
    per-(subspace, code) partial-dot table as Arrow-batched numpy,
    shared by pq_ann, ivfpq_ann, and opq_ann so the code/partial rule
    cannot drift between the flat, cell-pruned, and rotated forms.
    ``rotation`` (OPQ's learned orthogonal dim x dim matrix) folds into
    the SAME Arrow crossing as one batch matmul — the rotated tier
    costs no extra Python round-trip, and because R is orthogonal the
    rotated dot equals the original dot, so true stored norms and the
    exact-refine step are untouched."""
    from pyspark.sql.functions import pandas_udf

    m, codes, sub_dim = cb.shape

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # batch x dim
        if rotation is not None:
            mat = mat @ rotation
        out = np.empty((mat.shape[0], m), dtype="int32")
        for s in range(m):
            sub = mat[:, s * sub_dim : (s + 1) * sub_dim]
            d2 = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
            out[:, s] = d2.argmin(axis=1)
        return pd.Series(list(out))

    @pandas_udf("array<array<double>>")
    def adc_partials(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())
        if rotation is not None:
            mat = mat @ rotation
        rows = []
        for v in mat:
            parts = [
                [
                    float(np.dot(v[s * sub_dim : (s + 1) * sub_dim], cb[s][c]))
                    for c in range(codes)
                ]
                for s in range(m)
            ]
            rows.append(parts)
        return pd.Series(rows)

    return encode, adc_partials


def _vec_norm():
    """JVM-side L2 norm fold over the ``vec`` column."""
    return F.sqrt(
        F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _pq_adc_table(
    base: DataFrame, query_ids: list[int], adc_partials, id_col: str
) -> DataFrame:
    """The (query_id, qnorm, sub, code, part) ADC table — |Q|·m·codes
    rows, KB-sized, always broadcast into the scoring join."""
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        _vec_norm().alias("qnorm"),
        adc_partials(F.col("vec")).alias("parts"),
    )
    return q.select(
        "query_id", "qnorm", F.posexplode("parts").alias("sub", "arr")
    ).select(
        "query_id", "qnorm", "sub", F.posexplode("arr").alias("code", "part")
    )


def ivfpq_ann(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    codes: int = 32,
    rerank_factor: int = 20,
    shared_codebook: bool = True,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = DEFAULT_TRAIN_CAP,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV) — the composition FAISS ships as
    its canonical billion-scale index and the 100 TB ANN architecture:
    IVF prunes WHICH cells are scored (nprobe of num_centroids), PQ
    shrinks WHAT is stored and scored inside them (m sub-codes + true
    norm per vector), and the exact-refine step re-ranks the ADC
    shortlist on true vectors. Per query the scored set is
    ~nprobe/num_centroids of the corpus at m·log2(codes) bits per
    vector — the two pruning axes multiply.

    Plan shape: cell assignment and PQ encode cross Python once each
    (Arrow-batched); the probe list and the ADC table both broadcast;
    scoring joins the cell-pruned code stream on (query_id, sub, code)
    and map-side combines to one row per (query, vector); only the
    |Q|·k·rerank_factor shortlist touches true vectors again. The
    corpus never shuffles.
    """
    if query_ids is None:
        query_ids = list(range(10))
    cmat = _fit_coarse(
        _vectors(embeddings, id_col, vec_col), num_centroids, max_iter, train_cap
    )
    cb = pq_train_codebooks(
        embeddings,
        m=m,
        codes=codes,
        shared=shared_codebook,
        vec_col=vec_col,
        train_cap=train_cap,
    )
    return _ann(
        embeddings, _pq_model(m, codes, cb), query_ids, k, rerank_factor,
        id_col, vec_col, cmat, nprobe,
    )


def _resolve_shared_codebook(
    shared_codebook: bool | None, rotation: bool
) -> bool:
    """Resolve the PQ/IVFADC builders' ``shared_codebook=None`` default
    and reject the one unsupported combination LOUDLY: ``opq_train``
    fits per-subspace codebooks (the inner step of Ge et al.'s
    alternating minimization — each book chases its own rotated
    slice), so ``rotation=True`` cannot honor ``shared_codebook=True``;
    silently ignoring the flag (the pre-fix behavior) handed the
    caller a per-subspace book they didn't ask for."""
    if shared_codebook is None:
        return not rotation
    if shared_codebook and rotation:
        raise ValueError(
            "shared_codebook=True is not supported with rotation=True: "
            "the OPQ trainer fits per-subspace codebooks; pass "
            "shared_codebook=None (auto) or False"
        )
    return shared_codebook


def ivfpq_build_index(
    embeddings: DataFrame,
    path: str,
    num_centroids: int = 16,
    m: int = 8,
    codes: int = 32,
    shared_codebook: bool | None = None,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = DEFAULT_TRAIN_CAP,
    rotation: bool = False,
    n_iter: int = 8,
) -> None:
    """Phase 1 of the two-phase IVFADC — the on-disk layout FAISS's
    canonical billion-scale index (``IVF16,PQ8``) persists, and the
    artifact an actual 100 TB ANN deployment ships: both quantizers
    trained once, concurrently, on the bounded deterministic sample,
    then the corpus persisted as cell-clustered ~16 B/vec codes with NO
    float vectors anywhere in the index (layout: README.md, "ANN
    stores"). Query jobs (ivfpq_query_stored) read centroids + model
    driver-side, then touch only the probed ``cid=N`` partitions — the
    two pruning axes (which cells, how many bytes) are both baked into
    the layout.

    With ``rotation=True`` the PQ half trains behind the learned OPQ
    rotation and the model row persists it — FAISS's full canonical
    recipe ``OPQ8,IVF16,PQ8``. The rotation is orthogonal, so the
    coarse quantizer's geometry is unchanged whether cells are
    assigned in the original or rotated space; cells here assign on
    the original vectors and only the byte coding rotates, which keeps
    the centroids table comparable across the rotation flag.

    ``shared_codebook=None`` (the default) resolves per tier: shared
    for plain PQ, per-subspace for ``rotation=True`` (see
    _resolve_shared_codebook; shared + rotation raises).
    """
    _build_store(
        embeddings,
        path,
        id_col,
        vec_col,
        coarse=(num_centroids, max_iter, train_cap),
        pq=dict(
            m=m,
            codes=codes,
            shared=_resolve_shared_codebook(shared_codebook, rotation),
            rotation=rotation,
            n_iter=n_iter,
            train_cap=train_cap,
        ),
    )


def ivfpq_query_stored(
    spark,
    path: str,
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    nprobe: int = 4,
    rerank_factor: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Phase 2 of the two-phase IVFADC: answer top-k from the PERSISTED
    index — centroids and PQ model (rotation honored when persisted)
    load driver-side, probe selection and query-side ADC partials are
    the only Arrow crossings, and the corpus side reads ONLY the probed
    ``cid=N`` partitions of the ~16 B/vec code table. Exact-refine
    candidates come from the primary table — the index holds no float
    vectors. Output identical to the self-contained ivfpq_ann at the
    same parameters on the same trained quantizers (pytest-pinned).
    Recovers at entry; quiesced-store contract (README.md, "ANN
    stores")."""
    if query_ids is None:
        query_ids = list(range(10))
    return _query_store(
        spark,
        path,
        embeddings,
        query_ids,
        k=k,
        nprobe=nprobe,
        rerank_factor=rerank_factor,
        id_col=id_col,
        vec_col=vec_col,
    )


def _pq_fit_numpy(
    xr: np.ndarray,
    m: int,
    codes: int,
    iters: int,
    rng: np.random.Generator,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """Per-subspace Lloyd k-means over an in-memory (already rotated)
    training sample — the inner codebook step of OPQ's alternating
    minimization. Deterministic given the rng state; ``init`` warm-
    starts from the previous outer iteration's codebooks so the
    alternation descends instead of re-rolling centroids each round.
    Empty cells keep their previous centroid (FAISS does the same)."""
    n, dim = xr.shape
    sub_dim = dim // m
    books = np.empty((m, codes, sub_dim))
    for s in range(m):
        z = xr[:, s * sub_dim : (s + 1) * sub_dim]
        if init is not None:
            c = init[s].copy()
        else:
            c = z[rng.choice(n, size=codes, replace=False)].copy()
        for _ in range(iters):
            d2 = ((z[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(codes):
                pts = z[assign == j]
                if len(pts):
                    c[j] = pts.mean(axis=0)
        books[s] = c
    return books


def _pq_encode_decode_numpy(
    xr: np.ndarray, cb: np.ndarray
) -> np.ndarray:
    """Reconstruct the rotated sample through its nearest codes —
    X̂ in OPQ's ||XR − X̂||_F objective."""
    m, codes, sub_dim = cb.shape
    out = np.empty_like(xr)
    for s in range(m):
        z = xr[:, s * sub_dim : (s + 1) * sub_dim]
        d2 = ((z[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
        out[:, s * sub_dim : (s + 1) * sub_dim] = cb[s][d2.argmin(axis=1)]
    return out


def opq_train(
    embeddings: DataFrame,
    m: int = 8,
    codes: int = 32,
    n_iter: int = 8,
    kmeans_iters: int = 10,
    vec_col: str = "embedding",
    train_cap: int | None = DEFAULT_TRAIN_CAP,
    n: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Train OPQ (Ge et al., CVPR 2013 — the non-parametric form,
    FAISS's OPQMatrix): a learned ORTHOGONAL rotation R that
    redistributes variance and decorrelates the subspaces before
    product quantization, alternating (a) fit PQ codebooks on X·R and
    (b) solve the orthogonal-Procrustes step R = UVᵀ from
    SVD(Xᵀ·X̂) — each step does not increase ||X·R − X̂||_F, the
    quantization error PQ pays.

    Returns (R, codebooks): R dim×dim orthogonal, codebooks
    (m, codes, dim/m) — together still a driver-sized artifact
    (dim² + dim·codes doubles).

    Scale posture: the alternation needs a centralized SVD per
    iteration, so — exactly like FAISS, which trains OPQMatrix on an
    in-memory sample — training collects the SAME bounded
    deterministic sample every other trainer uses (``train_cap`` rows
    via _cap_train_set, ≤16384·dim doubles ≈ 8 MB at dim=64) and runs
    numpy on the driver. Corpus-side encode/score never touch the
    driver; the rotation rides into the encode/ADC pandas UDFs as one
    batch matmul (see _pq_udfs).
    """
    base = embeddings.select(to_double_array(F.col(vec_col)).alias("vec"))
    sample = _cap_train_set(base, F.col("vec"), train_cap, n=n).collect()
    x = np.array([r["vec"] for r in sample])
    n, dim = x.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if n < codes:
        raise ValueError(f"train sample {n} smaller than codes={codes}")
    rng = np.random.default_rng(42)
    rot = np.eye(dim)
    cb = None
    for _ in range(n_iter):
        xr = x @ rot
        cb = _pq_fit_numpy(xr, m, codes, kmeans_iters, rng, init=cb)
        xhat = _pq_encode_decode_numpy(xr, cb)
        u, _, vt = np.linalg.svd(x.T @ xhat)
        rot = u @ vt
    # codebooks must match the FINAL rotation
    cb = _pq_fit_numpy(x @ rot, m, codes, kmeans_iters, rng, init=cb)
    return rot, cb


def opq_ann(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    m: int = 8,
    codes: int = 32,
    rerank_factor: int = 20,
    n_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = DEFAULT_TRAIN_CAP,
) -> DataFrame:
    """OPQ ANN with exact re-ranking (Ge et al. 2013; FAISS index
    factory's ``OPQ8,PQ8`` prefix) — PQ behind a learned orthogonal
    rotation that decorrelates subspaces and balances their variance,
    recovering recall PQ loses when the coordinate split crosses
    correlated dimensions. Because R is orthogonal it preserves dots
    and norms: the asymmetric ADC score in rotated space estimates the
    SAME cosine, true stored norms stay valid, and the exact-refine
    step is identical to pq_ann's — the entire delta vs pq_ann is one
    batch matmul folded into the existing encode/ADC Arrow crossings
    and a driver-trained dim×dim matrix riding in the UDF closure.

    Output contract identical to pq_ann: (query_id, neighbor_id,
    cosine_sim), k rows per query, exact re-ranked similarity, ties on
    neighbor_id. Scale posture identical to pq_ann (corpus never
    shuffles; ADC table broadcast; map-side combine) plus opq_train's
    bounded driver-side alternation.
    """
    if query_ids is None:
        query_ids = list(range(10))
    rot, cb = opq_train(
        embeddings,
        m=m,
        codes=codes,
        n_iter=n_iter,
        vec_col=vec_col,
        train_cap=train_cap,
    )
    return _ann(
        embeddings, _pq_model(m, codes, cb, rot), query_ids, k, rerank_factor,
        id_col, vec_col,
    )


def pq_build_index(
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    codes: int = 32,
    shared_codebook: bool | None = None,
    rotation: bool = False,
    n_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = DEFAULT_TRAIN_CAP,
) -> None:
    """Phase 1 of the two-phase PQ/OPQ: train the codebooks (plus, with
    ``rotation=True``, the OPQ rotation), encode the corpus ONCE, and
    persist the compressed store (layout: README.md, "ANN stores") —
    the driver-sized model row every query job loads and the ~16 B/vec
    code table that replaces the float corpus in the scoring hot path.

    This is the nightly encode job of a production compressed-ANN
    service (FAISS: train + add, then write_index); query jobs
    (pq_query_stored) read the store, never retrain, and never
    re-encode. The index stores NO float vectors — exact refine fetches
    its k·rerank_factor candidates from the primary table, the same
    split FAISS's IndexRefine keeps (codes in the index, originals in a
    flat sidecar — here the primary parquet IS that sidecar).

    Scale posture: training is the bounded-sample fit (train_cap);
    encode is the corpus's single Arrow crossing; the write is a narrow
    projection — no shuffle anywhere.

    ``shared_codebook=None`` resolves shared for plain PQ, per-subspace
    for ``rotation=True``; shared+rotation raises (see
    _resolve_shared_codebook).
    """
    _build_store(
        embeddings,
        path,
        id_col,
        vec_col,
        pq=dict(
            m=m,
            codes=codes,
            shared=_resolve_shared_codebook(shared_codebook, rotation),
            rotation=rotation,
            n_iter=n_iter,
            train_cap=train_cap,
        ),
    )


def pq_append_to_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance for the two-phase PQ: encode a NEW
    batch of vectors against the STORED model (codebooks + optional OPQ
    rotation) and append their (vec_id, norm, code) rows to the code
    table. Scale shape: one driver-sized model read, one Arrow encode
    pass over the batch, one parquet append — no existing code file is
    read or rewritten. Add-after-train, recovery at entry and the
    quiesced-store contract: README.md, "ANN stores".
    """
    _append_store(embeddings, path, id_col, vec_col)


def pq_query_stored(
    spark,
    path: str,
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    rerank_factor: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Phase 2 of the two-phase PQ/OPQ: answer top-k from the PERSISTED
    code store — no retrain, no re-encode; the model row rebuilds the
    codebook (and rotation, if the index was built with one) on the
    driver, query-side ADC partials are the only Arrow crossing, and
    the full-corpus pass is the JVM-side broadcast-join/partial-agg
    over the ~16 B/vec code stream. Query vectors and the exact-refine
    candidates come from the PRIMARY table (``embeddings``) — the index
    itself holds no float vectors. Output is identical to
    pq_ann/opq_ann at the same parameters on the same trained model
    (pytest-pinned): persisting changes the I/O shape, not the answer.
    Recovers at entry; quiesced-store contract (README.md, "ANN
    stores").
    """
    if query_ids is None:
        query_ids = list(range(10))
    return _query_store(
        spark,
        path,
        embeddings,
        query_ids,
        k=k,
        rerank_factor=rerank_factor,
        id_col=id_col,
        vec_col=vec_col,
    )


def sq_train(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray]:
    """Train the scalar quantizer: per-dimension (min, max) over the
    corpus — the whole model is 2·dim doubles, the smallest index-side
    artifact in the ANN family (FAISS ScalarQuantizer QT_8bit's train
    step). One narrow agg: posexplode to (pos, x), groupBy pos — a
    dim-group shuffle of two partial-agg scalars per dimension, then a
    dim-row collect (the same centroid-table discipline as IVF).
    """
    base = embeddings.select(to_double_array(F.col(vec_col)).alias("vec"))
    rows = (
        base.select(F.posexplode("vec").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    rows.sort(key=lambda r: r["pos"])
    vmin = np.array([r["mn"] for r in rows], dtype="float64")
    vmax = np.array([r["mx"] for r in rows], dtype="float64")
    return vmin, vmax


def sq_ann(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    rerank_factor: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (SQ8) ANN with exact re-ranking — the
    STORAGE-compression tier of the ANN family (FAISS IndexScalarQuantizer
    QT_8bit + refine): each dimension is affine-coded to 8 bits against
    the trained per-dimension (min, max), so the corpus is stored at
    dim bytes + one true norm instead of dim·8 — a 7.8x shrink at
    dim=64 — and, unlike PQ, decode is a two-flop affine map with no
    codebook lookup. Scoring passes over the full corpus (SQ shrinks
    WHAT is stored, not — like IVF — WHICH vectors are scored; compose
    with IVF for both), the top k·rerank_factor shortlist re-ranks on
    true vectors fetched from the primary store, and the final top-k
    ranks on exact cosine.

    The hot path is the ONLY all-JVM one in the ANN family: encode,
    dequantize, and the asymmetric dot (exact query x dequantized
    corpus, true stored norms — only the direction is quantized) are
    zip_with/aggregate folds; no Python worker is ever launched
    (plan-asserted: no ArrowEvalPython/BatchEvalPython node).

    Output: (query_id, neighbor_id, cosine_sim), k rows per query,
    cosine_sim the EXACT re-ranked similarity rounded before ranking,
    ties on neighbor_id.

    Scale posture: queries broadcast, the corpus never shuffles before
    the |Q|-keyed shortlist top-k; the quantizer model rides into the
    plan as 2·dim literals (no join for the model); constant
    dimensions (max == min) code to 0 and decode bit-exactly to their
    single value.
    """
    if query_ids is None:
        query_ids = list(range(10))
    # encode → decode fused in one plan: the round-trip through the
    # 8-bit code is exact (codes are exact integers in double), so this
    # scores IDENTICALLY to reading the code back from a persisted
    # store (sq_query_stored) — structurally, because both run the
    # same _encoded projection and _search decode.
    model = _sq_model(*sq_train(embeddings, vec_col=vec_col))
    return _ann(embeddings, model, query_ids, k, rerank_factor, id_col, vec_col)


def _sq_encode_expr(vec, mins, scales):
    """code_d = clip(round((x_d - mn_d) / sc_d), 0, 255) - 128, stored
    as ONE BYTE per dimension (tinyint; the -128 shift maps the uint8
    code range onto Spark's signed byte) — all-JVM zip_with folds."""
    shifted = F.zip_with(vec, mins, lambda x, mn: x - mn)
    return F.zip_with(
        shifted,
        scales,
        lambda d, sc: (
            F.least(F.greatest(F.round(d / sc, 0), F.lit(0.0)), F.lit(255.0))
            - 128.0
        ).cast("tinyint"),
    )


def _sq_decode_expr(code, mins, scales):
    """deq_d = mn_d + (code_d + 128) * sc_d — the two-flop affine
    decode, all-JVM."""
    withmn = F.zip_with(
        code, mins, lambda c, mn: F.struct(mn.alias("mn"), c.alias("c"))
    )
    return F.zip_with(
        withmn,
        scales,
        lambda s, sc: s["mn"] + (s["c"].cast("double") + 128.0) * sc,
    )


def sq_build_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Phase 1 of the two-phase SQ8: train the per-dimension (min, max)
    quantizer and persist the BYTE-coded corpus — the persisted form of
    FAISS IndexScalarQuantizer QT_8bit (write_index after train+add):
    one byte per dimension plus one true norm per vector, and the
    smallest model in the family (layout: README.md, "ANN stores").
    Both the encode here and the stored read path are entirely
    JVM-side — no Python worker at build or query time
    (plan-asserted).

    Scale posture: training is one narrow posexplode agg (2 scalars per
    dimension); encode is a projection; the write is shuffle-free.
    """
    _build_store(embeddings, path, id_col, vec_col, sq=True)


def sq_append_to_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance for the SQ8 store: encode a NEW batch
    against the STORED (min, scale) model and append (vec_id, norm,
    code) rows. Dims that drift outside the trained range clip, exactly
    as FAISS's trained ScalarQuantizer does. Add-after-train, recovery
    at entry and the quiesced-store contract: README.md, "ANN stores"."""
    _append_store(embeddings, path, id_col, vec_col)


def sq_query_stored(
    spark,
    path: str,
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    rerank_factor: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Phase 2 of the two-phase SQ8: answer top-k from the PERSISTED
    byte-code store — no retrain, no re-encode. The model rebuilds as
    2·dim literals (never a join), the byte codes decode through the
    same _sq_decode_expr the self-contained path uses, and exact-refine
    candidates come from the PRIMARY table — the index holds no float
    vectors. The ONLY stored reader in the ANN family with zero Python
    anywhere in the read path (plan-asserted): decode, asymmetric dot,
    shortlist, and refine are all JVM zip_with/aggregate folds. Output
    is identical to sq_ann at the same parameters on the same trained
    model (pytest-pinned). Recovers at entry; quiesced-store contract
    (README.md, "ANN stores")."""
    if query_ids is None:
        query_ids = list(range(10))
    return _query_store(
        spark,
        path,
        embeddings,
        query_ids,
        k=k,
        rerank_factor=rerank_factor,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivfsq_build_index(
    embeddings: DataFrame,
    path: str,
    num_centroids: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = DEFAULT_TRAIN_CAP,
) -> None:
    """Phase 1 of the two-phase IVF-SQ — FAISS's
    IndexIVFScalarQuantizer(QT_8bit): SQ shrinks WHAT is stored, IVF
    shrinks WHICH vectors are scored. Trains the coarse quantizer and
    the per-dimension scalar quantizer concurrently, then persists the
    byte codes clustered per cell so a probe of p cells reads exactly
    p partition directories (layout: README.md, "ANN stores";
    compact_ivf_index applies unchanged). Neither quantizer retrains at
    append or query time.

    Scale posture: k-means on the capped sample; SQ train is one
    narrow posexplode agg; encode+assign is a single projection (one
    Arrow crossing for the cid, JVM zip_with for the bytes); the
    partitionBy(cid) write is the only data movement.
    """
    _build_store(
        embeddings,
        path,
        id_col,
        vec_col,
        coarse=(num_centroids, max_iter, train_cap),
        sq=True,
    )


def ivfsq_append_to_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance for the IVF-SQ store: assign a NEW batch
    to the EXISTING centroids and byte-encode it against the STORED SQ
    model, then append into the cid-partitioned inverted file.
    Add-after-train on BOTH quantizers, recovery at entry and the
    quiesced-store contract: README.md, "ANN stores"."""
    _append_store(embeddings, path, id_col, vec_col)


def ivfsq_query_stored(
    spark,
    path: str,
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    nprobe: int = 4,
    rerank_factor: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Phase 2 of the two-phase IVF-SQ: answer top-k from the persisted
    index with BOTH pruning axes live — which cells (the broadcast
    probe join reads only probed ``cid=N`` directories) and how many
    bytes (1 byte/dim + one norm per scored vector). Probe selection is
    the shared Arrow centroid-distance UDF over the |Q| query rows ONLY;
    everything corpus-side is JVM — the affine byte decode, the
    asymmetric dot against the exact broadcast query, and the
    k·rerank_factor shortlist. Exact-refine candidates and query vectors
    come from the PRIMARY table; the index holds no float vectors.

    With nprobe >= num_centroids this degrades gracefully to exactly
    the flat SQ store's answers (pytest-pinned: the cells partition
    the corpus, and the SQ model is the same global min/max), so cell
    pruning is the ONLY approximation added on top of SQ8 — the same
    recall ladder FAISS documents for IndexIVFScalarQuantizer.
    Recovers at entry; quiesced-store contract (README.md, "ANN
    stores")."""
    if query_ids is None:
        query_ids = list(range(10))
    return _query_store(
        spark,
        path,
        embeddings,
        query_ids,
        k=k,
        nprobe=nprobe,
        rerank_factor=rerank_factor,
        id_col=id_col,
        vec_col=vec_col,
    )


def semantic_decontaminate(
    embeddings: DataFrame,
    eval_mod: int = 50,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EMBEDDING-space benchmark decontamination — the semantic tier of
    the decontamination family (exact shingle overlap:
    textstats.decontaminate_against_eval; probabilistic membership:
    curation_extras.bloom_decontaminate): flag every training vector
    whose cosine to ANY eval vector clears ``threshold``, the
    paraphrase-robust check n-gram methods miss (a reworded eval
    question shares no 13-gram but sits next to it in embedding space —
    the published practice in the Llama / GPT-4-era data reports).

    Split discipline matches the text tiers: ``id % eval_mod == 0`` is
    the eval suite, the rest is training data — so the three tiers'
    flag sets are judged against the SAME split.

    Output: one row per TRAINING vector — (vec_id, n_eval_hits,
    max_eval_sim_e6, contaminated) — deterministic integers (sims
    rounded to 1e-6 before the e6 cast), value-hashable as-is. With
    an EMPTY eval suite max_eval_sim_e6 has no max to take, so it is
    coalesced to the sentinel -2000000 (below any real cosine's e6
    range of [-1000000, 1000000]) — keeping the deterministic-
    integers contract instead of leaking a NULL.

    Scale posture — this is the rare decontamination where EXACT is
    the 100 TB form: eval benchmark suites are small by nature (the
    same reason the shingle tier broadcasts), so the eval side
    broadcasts and the training corpus takes ONE scan with a
    map-side-combined per-id aggregate — the |train|x|eval| pair
    stream collapses to one row per training vector inside each
    partition before the only exchange (plan-asserted: broadcast
    join, partial aggregation, no SortMergeJoin). No index, no LSH
    recall risk: a contaminated-set miss is a training-data leak, so
    approximation budgets belong on dedup, not here.
    """
    base = _vectors(embeddings, id_col, vec_col)
    # LEFT join on TRUE, not a cross join: with a non-empty eval side
    # the two are identical, but an EMPTY eval suite must yield every
    # training row with zero hits (nothing to decontaminate against),
    # not an empty frame a caller could misread as everything-filtered.
    ev = base.filter(F.col(id_col) % eval_mod == 0).select(
        F.col("vec").alias("evec")
    )
    tr = base.filter(F.col(id_col) % eval_mod != 0)
    sim = F.round(cosine(F.col("vec"), F.col("evec")), 6)
    return (
        tr.join(F.broadcast(ev), F.lit(True), "left")
        .select(
            id_col,
            sim.alias("sim"),
        )
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("sim") >= threshold, 1).otherwise(0)
            ).alias("n_eval_hits"),
            F.max(
                F.round(F.col("sim") * 1000000, 0).cast("long")
            ).alias("max_eval_sim_e6"),
        )
        .select(
            id_col,
            F.coalesce(F.col("n_eval_hits"), F.lit(0)).alias("n_eval_hits"),
            F.coalesce(
                F.col("max_eval_sim_e6"), F.lit(-2000000).cast("long")
            ).alias("max_eval_sim_e6"),
            (F.coalesce(F.col("n_eval_hits"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def ivfsq_range_query_stored(
    spark,
    path: str,
    embeddings: DataFrame,
    query_ids: list[int],
    radius: float,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """RANGE search from the persisted IVF-SQ byte store — the same
    float-free artifact ivfsq_query_stored answers top-k from serves
    FAISS's second query mode, via a provable FILTER-VERIFY: the byte
    decode prefilters candidates at ``radius - C/norm - 1e-6`` where
    C = sqrt(sum_d (scale_d/2)^2) bounds the dequantization error
    (per-dim error <= scale_d/2 for unclipped codes, so the cosine
    error is <= |Δ|/|x| <= C/norm by Cauchy-Schwarz) and the extra
    1e-6 covers the verify step's ROUNDING band: the exact side
    admits by ROUND(cos, 6) >= radius, i.e. true cosines down to
    radius - 5e-7, which the unrounded-approx bound alone would not
    guarantee to pass — with the slack, NO false negative can pass
    the prefilter inside a probed cell. Then the
    survivors fetch their TRUE vectors from the primary table and the
    emitted similarity is the exact rounded cosine with the exact
    radius test. Misses therefore come ONLY from unprobed cells —
    identical subset contract to ivf_range_query_stored — and with
    nprobe >= num_centroids the output EQUALS range_search_exact
    (pytest-pinned, which also proves the bound: a wrong C would drop
    in-range rows).

    Bound caveat: codes appended from batches whose values clip
    against the trained (min, max) can exceed the per-dim error bound;
    the exact verify still prevents false positives, but a clipped
    dimension can cost prefilter recall. Rebuild cadence (or a wider
    trained range) is the knob, as for every add-after-train drift.

    Scale posture: only probed ``cid=N`` partitions of the byte table
    are read (DPP through the broadcast probe join); the prefilter
    runs entirely JVM-side on 1 byte/dim; the exact-verify join moves
    only the prefiltered survivors. Entry runs compaction crash
    recovery (quiesced-store contract)."""
    return _query_store(
        spark,
        path,
        embeddings,
        query_ids,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        radius=radius,
    )
