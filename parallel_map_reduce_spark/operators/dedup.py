"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-disciplined for 100 TB:

1. exact        — hash-groupBy on a content fingerprint. One shuffle on
                  the md5 key (16 bytes/row crosses the wire, never the
                  document body).
2. MinHash+LSH  — shingle → minhash signature → band buckets → candidate
                  pairs → jaccard verify. The self-join happens on band
                  keys (tiny buckets), never all-pairs.
3. SimHash      — 60-bit locality-sensitive bit signature; near-dups are
                  small-hamming-distance pairs.
4. n-gram Jaccard — exact pairwise jaccard via a shingle-inverted-index
                  join; the verifier/oracle for the approximate tiers.

All hashing is the portable md5-derived scheme (functions/hashing.py) so
every deterministic step is DuckDB-oracle-checkable. The DuckDB forms of
the near-duplicate decision (signatures, band match, verified-Jaccard
edges, recursive components, admission rounds) sit at the end of this
module; README.md, "Near-duplicate oracle", lists the oracles built
from them.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parallel_map_reduce_spark.functions.hashing import (
    fingerprint_md5,
    hash64,
    hash64_sql,
    universal_hash,
    universal_hash_sql,
    universal_params,
)
from parallel_map_reduce_spark.functions.tokenize import (
    tokens,
    tokens_df,
    word_ngrams,
)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct content value.

    Deterministic survivor choice (min id) — unlike dropDuplicates, whose
    survivor is partition-order-dependent. Shuffles the md5 fingerprint,
    not the content.
    """
    fp = df.select(
        F.col(id_col), fingerprint_md5(F.col(content_col)).alias("_fp")
    )
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(keep, id_col, "left_semi")


def exact_dup_groups(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fingerprint groups with >1 member: (fingerprint, n_dups, keep_id)."""
    return (
        df.select(fingerprint_md5(F.col(content_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def shingle_array(tok_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles ('w1 w2 w3' strings) from a
    MATERIALIZED token-array column (plan rule 1 in
    functions/tokenize.py). Documents with fewer than n tokens yield an
    empty array."""
    return F.array_distinct(word_ngrams(tok_col, n))


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sh: array<string>) — distinct shingle set per document."""
    return tokens_df(df, text_col, id_col).select(
        F.col(id_col), shingle_array(F.col("tk"), n).alias("sh")
    )


def explode_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) rows, distinct per document.

    The explode is over the shingle EXPRESSION, not a projected
    attribute (plan rule 2 in functions/tokenize.py).
    """
    tdf = tokens_df(df, text_col, id_col)
    return tdf.select(
        F.col(id_col), F.explode(shingle_array(F.col("tk"), n)).alias("shingle")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature: (id, h0..h{k-1}).

    One explode + one groupBy; ONE md5 per shingle, with the k hash
    functions derived as a universal family (a·h+b mod P) — k integer
    multiply-adds instead of k digests, all inside whole-stage codegen
    (10× cheaper at bench scale). Single shuffle, on id. Documents with
    no shingles are dropped (no signature exists).
    """
    sh = explode_shingles(df, text_col, id_col, shingle_n).withColumn(
        "_h", hash64(F.col("shingle"), 0)
    )
    aggs = [
        F.min(universal_hash(F.col("_h"), a, b)).alias(f"h{i}")
        for i, (a, b) in enumerate(universal_params(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_buckets(
    signatures: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, k0..k{r-1}) LSH band-bucket rows from a signature
    frame — the shared bucketing step of every banded-LSH consumer
    (self-dedup pairs below; new-vs-kept incremental dedup in
    operators/curation_extras.py, whose band join must mix two
    DIFFERENT signature frames and so needs the bucket construction as
    a standalone stage).

    The bucket key carries the RAW band member hashes, not a re-hash of
    them: same shuffle width to within a few bytes, no possibility of a
    hash collision admitting a spurious candidate, and — because every
    value comes from the portable md5/universal family — the bucket set
    is reproducible in ANSI SQL.
    """
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        members = [
            F.col(f"h{b * rows_per_band + r}").alias(f"k{r}")
            for r in range(rows_per_band)
        ]
        band_cols.append(F.struct(F.lit(b).alias("band"), *members))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "bk.*")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs from banded LSH: (id_a, id_b) distinct,
    id_a < id_b.

    Signature is split into `bands` bands of num_hashes/bands rows; two
    docs are candidates if ANY band matches exactly. The join key is
    (band_index, raw member hashes) — bucket sizes stay tiny, so the
    self-join is linear-ish in practice; no all-pairs computation happens
    anywhere. Raw-value band keys keep the whole candidate set
    reproducible in ANSI SQL (see :func:`band_buckets`), which is what
    lets the LSH tier carry a full DuckDB value-hash oracle instead of a
    rows-only check.
    """
    rows_per_band = num_hashes // bands
    buckets = band_buckets(signatures, id_col, num_hashes, bands)
    join_keys = ["band"] + [f"k{r}" for r in range(rows_per_band)]
    left = buckets
    right = buckets.withColumnRenamed(id_col, "_rid")
    return (
        left.join(right, join_keys)
        .filter(F.col(id_col) < F.col("_rid"))
        .select(F.col(id_col).alias("id_a"), F.col("_rid").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end near-dup pairs: LSH candidates verified by exact shingle
    jaccard ≥ threshold. Output: (id_a, id_b, jaccard rounded).

    The verify stage joins the (small) candidate list back to each
    document's shingle SET and computes jaccard per pair with
    array_intersect — O(|candidates|) work. It never runs the global
    shingle self-join (that inverted-index join is the exact tier,
    ngram_jaccard_pairs, and blows up when shingles are corpus-frequent).

    Banding guidance (measured, tools/bench_lsh_banding.py + PLANS.md):
    a pair at jaccard s is a candidate with p = 1-(1-s^r)^b, r =
    num_hashes/bands; the S-curve midpoint is ~(1/b)^(1/r). The (12, 4)
    default (r=3, midpoint 0.63) gives full recall at t=0.5 with 4×
    fewer candidates than r=2. Raise r toward 4 at scale when candidate
    volume is the bottleneck (measured −0.4% recall); r=8 (midpoint
    0.92) is a t≈0.9 near-exact setting and drops ~10% of true pairs if
    run at t=0.5.
    """
    # Materialize signatures once: they feed a SELF-join whose sides
    # alias columns differently, so Catalyst replans both branches from
    # the corpus scan (plan audit: 8 scans, 12 HashAggregates without
    # this). Production stores signatures as a table (the Broder/Manku
    # pipeline's persistent artifact); localCheckpoint is the in-session
    # equivalent, same precedent as connected_components.
    candidates = lsh_candidate_pairs(
        minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
        .localCheckpoint(eager=True),
        id_col,
        num_hashes,
        bands,
    ).localCheckpoint(eager=True)
    # Verify stage: shingle sets are needed ONLY for docs that appear in
    # some candidate pair — a tiny fraction of the corpus. Restricting
    # first (semi-join on the materialized candidate ids) means the
    # collect_set shuffle moves candidate docs, not the corpus, and the
    # two verify branches (id_a / id_b) recompute only that small frame.
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = shingle_sets(
        df.join(cand_ids, id_col, "left_semi"), text_col, id_col, shingle_n
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    # Threshold on the UNROUNDED jaccard (rounding is display-only): a pair
    # with true j in [t-5e-5, t) must NOT pass, and the DuckDB oracle
    # filters the raw value, so filtering the rounded one would disagree
    # at the boundary.
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
        .withColumn("jaccard", F.round(jac, 4))
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact — the verifier/oracle tier)
# ---------------------------------------------------------------------------


def _jaccard_pairs_from_index(
    sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id, shingle) inverted index -> (id_a, id_b, jaccard >= threshold).

    Self-join on shingle (never a cartesian product): pairs sharing zero
    shingles are never materialized. Document sizes are counted over the
    SAME index frame, so jaccard is always measured in the universe the
    index actually contains (matters for the DF-capped variant).

    Skew guard options for Zipfian corpora, both implemented: the
    DF-capped index (``df_capped_shingles``) bounds per-shingle fan-out
    at max_df², and ``_jaccard_pairs_prefix_filtered`` returns the
    IDENTICAL pair set while joining only on each document's rarest
    shingles. At bounded shingle frequency (this sandbox's synthetic
    corpora) this 3-shuffle shape is the fastest, so it stays the
    default; the prefix twin is the 100 TB shape.
    """
    # The index feeds three branches (a-side, b-side, sizes) whose
    # differing aliases defeat exchange reuse — materialize the shingle
    # explode+distinct once instead of running it three times.
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    # Filter on the UNROUNDED jaccard and round only the output column:
    # both Spark tiers and the DuckDB oracle must agree at the threshold
    # boundary (a 9999-in-20000 containment at t=0.5 gives j=0.49995,
    # which rounds UP to 0.5 — filtering the rounded value would emit it
    # while the oracle and the prefix twin's size-ratio prune drop it).
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(jac >= threshold)
        .withColumn("jaccard", F.round(jac, 4))
        .select("id_a", "id_b", "jaccard")
    )


def _threshold_ratio(threshold: float) -> tuple[int, int]:
    """``threshold`` as p/q in lowest terms, read from its decimal form:
    exact for any threshold written with at most 9 decimals (0.2 → 1/5);
    otherwise the largest 9-decimal ratio below it, which only lengthens
    prefixes and lowers alpha — the lossless direction. With q <= 10^9,
    every product in _ppjoin_bounds stays inside a long for set sizes
    up to 10^9 shingles."""
    r = Fraction(str(threshold))
    if r.denominator > 10**9:
        r = Fraction(math.floor(r * 10**9), 10**9)
    return r.numerator, r.denominator


def _ppjoin_bounds(threshold: float) -> tuple[Column, Column, Column, Column]:
    """PPJoin's bounds for jaccard >= t = p/q, in exact long arithmetic
    (ceil(x·a/b) = (x·a + b - 1) div b) — a double ``ceil(n·frac)`` is
    off by one once n·frac's rounding error passes its epsilon guard,
    which at t=0.2 happens by n_sh = 999,999,999:

    - probe prefix length  n_sh - ceil(t·n_sh) + 1;
    - index prefix length  n_sh - ceil(2t/(1+t)·n_sh) + 1;
    - size-ratio prune     t·n_l <= n_s;
    - required overlap     alpha = ceil(t/(1+t)·(n_s + n_l))."""
    p, q = _threshold_ratio(threshold)

    def ceil_ratio(x: str, num: int, den: int) -> Column:
        return F.expr(f"(({x}) * {num} + {den - 1}) div {den}")

    return (
        F.col("n_sh") - ceil_ratio("n_sh", p, q) + 1,
        F.col("n_sh") - ceil_ratio("n_sh", 2 * p, p + q) + 1,
        F.col("n_l") * p <= F.col("n_s") * q,
        ceil_ratio("n_s + n_l", p, p + q),
    )


def _jaccard_pairs_prefix_filtered(
    sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id, shingle) inverted index -> (id_a, id_b, jaccard >= threshold),
    exactly — via prefix filtering (AllPairs: Bayardo et al., WWW'07).

    Rank each document's shingles by (corpus document frequency asc,
    shingle asc) — one deterministic global total order — and self-join
    only each document's PREFIX of its ``n - ceil(t*n) + 1`` rarest
    shingles. Any pair with jaccard >= t shares at least ceil(t*max(n_a,
    n_b)) shingles, and its order-smallest common shingle provably falls
    inside both prefixes, so the prefix join loses no qualifying pair.
    Candidates then get one exact array_intersect verify against the
    full shingle sets.

    Why this is the scale-tier shape: the naive self-join pays f² rows
    for a shingle in f documents, and Zipfian text concentrates f in
    boilerplate shingles. Here those hot shingles sort to the END of
    every document's ranking and never enter the join; fan-out shifts to
    the rarest shingles, where f is small by definition. A size-ratio
    prune (t*n_b <= n_a <= n_b/t) drops candidates before the distinct.
    Document sizes are counted over the SAME index frame, so jaccard is
    always measured in the universe the index actually contains (matters
    for the DF-capped variant).
    """
    # Dictionary-encode shingles to unique longs, then materialize ONE
    # compact (id, _sid, _df) index — three longs per row — that every
    # downstream stage reads: the ranking window, both prefix self-join
    # sides, and the verify intersects all move/compare 8-byte longs
    # instead of ~25-byte shingle strings (the verify's 765k
    # candidate-pair array intersects were 70% of wall time on string
    # hash sets). monotonically_increasing_id is unique per row
    # (collision-FREE — intersection counts stay provably exact, unlike
    # a 64-bit content hash) and, though nondeterministic across
    # recomputes, is computed inside the single `idx` plan below and
    # frozen by its eager materialization — the same "the index is a
    # stored table" discipline as the minhash/simhash tiers; at 100 TB
    # the shingle dictionary is a persisted linear-size artifact. The
    # shingle STRING never leaves this plan.
    dict_df = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .withColumn("_sid", F.monotonically_increasing_id())
    )
    idx = (
        sh.join(dict_df, "shingle")
        .select(id_col, "_sid", "_df")
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    probe_len, index_len, size_ok, alpha = _ppjoin_bounds(threshold)
    # Rank tiebreak by _sid, not the shingle string: the prefix-filter
    # theorem needs only SOME global total order shared by all documents
    # ((_df, _sid) is total since _sid is unique), and longs sort/ship
    # cheaper. Output is order-independent either way (exact verify).
    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("_sid").asc())
    wn = Window.partitionBy(id_col)
    prefix = (
        idx.select(
            F.col(id_col),
            F.col("_sid"),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wn).alias("n_sh"),
        )
        .filter(F.col("_rn") <= probe_len)
        .select(id_col, "_sid", "n_sh", "_rn")
        .localCheckpoint(eager=True)
    )
    # r14 (PPJoin, Xiao et al. WWW'08 — guide §2.2/§3 "cut candidate
    # pairs before the exchange"): two lossless refinements over plain
    # AllPairs, both verified by the unchanged exact verify stage.
    #
    # 1. ASYMMETRIC prefixes. Orient each pair (s, l) by (n_sh, id)
    #    lexicographic order, so s is the smaller set (ties by id). For
    #    a qualifying pair, overlap O >= ceil(t/(1+t)·(n_s+n_l)) >=
    #    ceil(2t/(1+t)·n_s), so the order-first common shingle sits
    #    within s's SHORTER index prefix n_s - ceil(2t/(1+t)·n_s) + 1
    #    (and, as before, within l's probe prefix n_l - ceil(t·n_l) + 1)
    #    — the s-side of the join drops from the probe bound to the
    #    index bound with no pair lost.
    # 2. POSITIONAL filter. A join row matching shingle at ranks
    #    (_rs, _rl) can certify at most 1 + min(n_s-_rs, n_l-_rl)
    #    common shingles (everything after the match, plus the match);
    #    rows below the required overlap alpha are dropped BEFORE the
    #    distinct. Lossless: the first common shingle's row always
    #    certifies >= O >= alpha.
    #
    # All four bounds are exact integer arithmetic (_ppjoin_bounds).
    s_side = prefix.filter(F.col("_rn") <= index_len).select(
        F.col(id_col).alias("id_s"),
        "_sid",
        F.col("n_sh").alias("n_s"),
        F.col("_rn").alias("_rs"),
    )
    l_side = prefix.select(
        F.col(id_col).alias("id_l"),
        "_sid",
        F.col("n_sh").alias("n_l"),
        F.col("_rn").alias("_rl"),
    )
    candidates = (
        s_side.join(l_side, "_sid")
        .filter(
            (
                (F.col("n_s") < F.col("n_l"))
                | (
                    (F.col("n_s") == F.col("n_l"))
                    & (F.col("id_s") < F.col("id_l"))
                )
            )
            # size-ratio prune: only n_l·t <= n_s binds (n_s <= n_l)
            & size_ok
            & (
                F.lit(1)
                + F.least(
                    F.col("n_s") - F.col("_rs"), F.col("n_l") - F.col("_rl")
                )
                >= alpha
            )
        )
        .select(
            F.least("id_s", "id_l").alias("id_a"),
            F.greatest("id_s", "id_l").alias("id_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Verify stage, candidate-restricted (same shape as the LSH verify):
    # full shingle-id sets are needed ONLY for docs appearing in some
    # candidate pair, so semi-join the compact index down first — the
    # collect_list shuffle moves candidate docs' longs, not the corpus.
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = (
        idx.join(cand_ids, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("_sid").alias("sid_set"))
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("sid_set").alias("sid_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("sid_set").alias("sid_b"))
    inter = F.size(F.array_intersect(F.col("sid_a"), F.col("sid_b")))
    union = F.size("sid_a") + F.size("sid_b") - inter
    jac = inter / union
    # Unrounded threshold filter (see _jaccard_pairs_from_index): keeps the
    # prefix tier's documented IDENTICAL-output contract exact even for
    # pairs whose true jaccard rounds up across the threshold.
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
        .withColumn("jaccard", F.round(jac, 4))
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact jaccard over distinct word shingles via the inverted-index
    self-join.

    Skew note: a shingle appearing in f docs contributes f² join rows.
    At 100 TB use ``ngram_jaccard_pairs_capped`` — same construction
    over a document-frequency-capped index, which removes the quadratic
    blowup of boilerplate shingles.
    """
    sh = explode_shingles(df, text_col, id_col, shingle_n)
    return _jaccard_pairs_from_index(sh, id_col, threshold)


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact jaccard pairs via prefix filtering — identical output to
    ``ngram_jaccard_pairs`` (property-tested set equality), different
    physical shape: the self-join touches only each document's rarest
    ``n - ceil(t*n) + 1`` shingles, so Zipfian head shingles never fan
    out. The 100 TB form of the exact tier. The whole pipeline past the
    one dictionary-encode pass moves longs, not shingle strings (r4: the
    dictionary + compact-index rework cut sf0.1 wall time 2.1×); at
    sandbox scale the DF-capped naive join is still faster (its corpus
    has no Zipfian head — see PLANS.md's measured crossover), which is
    why the prefix tier is registered as a separate query rather than
    replacing the default.
    """
    sh = explode_shingles(df, text_col, id_col, shingle_n)
    return _jaccard_pairs_prefix_filtered(sh, id_col, threshold)


def df_capped_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_df: int = 100,
) -> DataFrame:
    """(id, shingle) inverted index with corpus-frequent shingles removed.

    A shingle present in f documents contributes f² rows to any
    inverted-index self-join; on Zipfian text the head shingles
    (boilerplate, licenses, templates) dominate the join while carrying
    no dedup signal. Capping document frequency bounds per-shingle join
    fan-out at max_df² — the standard guard (the same move Google's
    near-dup pipeline and every MinHash paper's preprocessing make).

    Shape: one groupBy(shingle) to find hot shingles (map-side partial
    agg makes this cheap), then a BROADCAST anti-join — the hot list is
    tiny by construction (few shingles exceed the cap; that's why they
    are the problem), so the cap costs no extra full shuffle of the
    index itself.
    """
    sh = explode_shingles(df, text_col, id_col, shingle_n)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def ngram_jaccard_pairs_capped(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    shingle_n: int = 3,
    max_df: int = 100,
) -> DataFrame:
    """Scale-tier exact jaccard: the same inverted-index construction as
    ``ngram_jaccard_pairs``, over the DF-capped index.

    Jaccard is measured in the capped shingle universe. When no shingle
    exceeds the cap the result is IDENTICAL to the uncapped tier
    (property-tested); when hot shingles exist, pairs whose only overlap
    was boilerplate drop out — the desired behavior for dedup. Fully
    deterministic, so it carries a DuckDB value-hash oracle.
    """
    sh = df_capped_shingles(df, text_col, id_col, shingle_n, max_df)
    return _jaccard_pairs_from_index(sh, id_col, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # matches the 60-bit portable hash


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per document: (id, simhash long).

    Term-frequency-weighted: every token occurrence votes +1/-1 per bit of
    its 60-bit content hash; the signature bit is 1 where the vote sum is
    ≥ 0. Entirely JVM-side, two hash-agg passes:

    1. term frequencies per (id, token) — a cheap count agg whose map-side
       combine collapses repeated tokens before any wide computation;
    2. the 60 conditional sums, weighted by tf — now over distinct
       (id, token) rows only, so the 60-expression row cost and the
       per-row 60-bit hash are paid once per distinct term instead of
       once per occurrence (natural text repeats terms heavily).

    Both aggs partially aggregate map-side, so shuffle volume stays
    ~vocabulary-sized per partition regardless of corpus size.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    tf = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    h = hash64(F.col("tok"), seed=0)
    cnt = F.col("tf")
    votes = [
        F.sum(
            F.when(h.bitwiseAND(F.lit(1 << b).cast("long")) != 0, cnt).otherwise(
                -cnt
            )
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    voted = tf.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return voted.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Correctness-tier implementation joins all signature pairs (signatures
    are 1 long per doc, so this is feasible far beyond document-pair
    scale). At 100 TB use ``simhash_block_near_pairs`` below — the
    pigeonhole block-bucket equality join that returns the identical
    pair set without the all-pairs nested loop.
    """
    # materialized once: both nested-loop sides would otherwise rerun
    # the signature pipeline (see simhash_block_near_pairs)
    sig = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    a = sig.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"))
    b = sig.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_block_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 4,
) -> DataFrame:
    """Scale-tier simhash pairing via the pigeonhole block trick — the
    rotation-bucket strategy ``simhash_near_pairs`` only documents.

    Split the 60-bit signature into ``max_hamming + 1`` equal bit-blocks.
    If two signatures differ in at most ``max_hamming`` bits, at least
    one block is untouched (pigeonhole), so every qualifying pair shares
    an exact (block_index, block_value) key. The self-join is therefore
    an EQUALITY join on that key — shuffle-partitionable, broadcast-able,
    never the all-pairs nested-loop of the correctness tier — followed by
    an in-bucket ``bit_count(xor)`` verify. Candidates per bucket scale
    with bucket occupancy (2^12 values per block here), not corpus².

    Returns exactly the same (id_a, id_b, hamming) set as
    ``simhash_near_pairs`` (asserted in tests/test_llm_ops.py); a pair
    matching several blocks is emitted once (distinct on the verified
    pair). Manber/Charikar-style block pigeonhole, standard since
    Google's simhash dedup paper (Manku et al., WWW'07).
    """
    n_blocks = max_hamming + 1
    bits_per = SIMHASH_BITS // n_blocks
    if bits_per * n_blocks != SIMHASH_BITS:
        raise ValueError(
            f"{SIMHASH_BITS}-bit signature not divisible into {n_blocks} blocks"
        )
    # Materialize signatures before the self-join: the a/b sides alias
    # columns differently, so Catalyst can't reuse one exchange and would
    # otherwise run the whole tokenize→two-hash-agg signature pipeline
    # TWICE (plan audit: 4 corpus scans, 20 HashAggregates). This is also
    # the production shape — Manku et al.'s pipeline stores signatures as
    # a table and joins against it; one signature computation per corpus,
    # ever. (Same localCheckpoint precedent as connected_components.)
    sig = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    mask = F.lit((1 << bits_per) - 1).cast("long")
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(F.col("simhash"), i * bits_per)
                .bitwiseAND(mask)
                .alias("bv"),
            )
            for i in range(n_blocks)
        ]
    )
    buckets = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(blocks).alias("bk")
    ).select(id_col, "simhash", "bk.blk", "bk.bv")
    a = buckets.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "blk", "bv"
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "blk", "bv"
    )
    return (
        a.join(b, ["blk", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors until fixpoint. Converges in
    O(graph diameter) rounds; near-dup graphs are unions of small
    cliques, so 2-3 rounds in practice.

    Returns (u, label): node -> smallest node id in its component — the
    canonical-document id a dedup pipeline keeps.

    From round 3 on, each round composes the neighbor-propagation step
    with a POINTER JUMP (label(u) <- label(label(u))): the jump doubles
    the distance a label travels per round, so convergence is
    O(log diameter) rounds instead of O(diameter) — the Shiloach-
    Vishkin move, and the r4 fix for round-count being the dominant
    cost (each Spark round pays fixed scheduling + shuffle latency
    regardless of graph size; measured at sf0.1: 9.5 s → 6.2 s on the
    semantic-dedup exact graph, identical labels). The first two rounds
    stay jump-free because near-dup graphs are mostly unions of small
    cliques that converge immediately, where the extra labels⋈labels
    join is pure cost.

    Scale posture: each round is two key-partitioned shuffles; the
    jump join is labels⋈labels on the label key, same scale class as
    the propagation join. localCheckpoint() truncates lineage so plans
    don't grow with rounds; the convergence check is a distributed
    count, never a collect. At extreme graph sizes swap the loop body
    for the large-star/small-star rounds of Kiveris et al., "Connected
    Components in MapReduce and Beyond" (SoCC'14) — same fixpoint,
    provably fewer rounds on adversarial chains.
    """
    sym = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # no distinct: duplicate/parallel edges can't change a MIN, and
    # deduplicating the edge list would cost a full extra shuffle.
    # LOAD-BEARING eager checkpoint (ADVICE r13): callers that pass
    # lazily-checkpointed edge frames (incremental_semantic_dedup and
    # its _with_audit twin) rely on THIS being the in-call action that
    # materializes them before the caller mutates/deletes the store the
    # edges were scored against — do not make it lazy or short-circuit
    # it without re-auditing those callers' store-deletion contracts.
    sym = sym.unionByName(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    # seed with the first propagation round fused into the vertex build:
    # label(u) = min(u, neighbors(u)) — one aggregate instead of a
    # distinct plus a full loop iteration
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least(F.col("u"), F.col("mv")).alias("label"))
    )
    for rnd in range(max_iter):
        neigh = (
            sym.join(
                labels.select(F.col("u").alias("v"), F.col("label").alias("vlabel")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlabel").alias("nlabel"))
        )
        cand = labels.join(neigh, "u", "left").select(
            "u",
            F.col("label").alias("old"),
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
        )
        if rnd >= 2:
            # Pointer jump: adopt the label OF my label. A label is
            # always a node id in the same component (min over seen
            # ids), so the lookup hits; labels only ever decrease
            # toward the component min, so the fixpoint is unchanged —
            # rounds drop from O(diameter) to O(log diameter). Deferred
            # to round 3+: near-dup graphs are unions of small cliques
            # that converge in 1-2 propagation rounds, where the extra
            # labels⋈labels join is pure cost; any graph still moving
            # at round 3 has real diameter and the jump takes over
            # (seed + 2 plain rounds reach distance 3, then 6, 12, ...).
            jump = cand.select(
                F.col("u").alias("_lu"), F.col("label").alias("_llabel")
            )
            cand = cand.join(jump, cand["label"] == jump["_lu"], "left").select(
                "u",
                "old",
                F.least(
                    F.col("label"), F.coalesce(F.col("_llabel"), F.col("label"))
                ).alias("label"),
            )
        # carry old and new label in one checkpointed frame so the
        # convergence check is a filter+count on already-materialized
        # data, not another join+shuffle per round. eager=False fuses
        # the checkpoint materialization INTO the convergence-count job
        # (r13, guide §1.2): the count consumes every partition, which
        # caches the lazily-marked checkpoint blocks as a side effect —
        # one job per round instead of two, identical labels.
        both = cand.localCheckpoint(eager=False)
        n_changed = both.filter(F.col("label") != F.col("old")).count()
        labels = both.select("u", "label")
        if n_changed == 0:
            break
    return labels


def _admission_statuses(
    ids: DataFrame, cross_dup: DataFrame, edges: DataFrame, id_col: str
) -> DataFrame:
    """(id, status, dup_of) of an admitted batch — the status core of
    incremental admission, shared by the MinHash tier
    (curation_extras.incremental_lsh_dedup) and the IVF tier
    (similarity.incremental_semantic_dedup and its _with_audit twin).

    ``ids`` holds the batch ids, ``cross_dup`` (id_n, dup_of) each
    batch row's smallest matching kept id, and ``edges`` (id_a, id_b)
    the verified within-batch pairs among the cross survivors; each
    tier builds its own. Both status joins broadcast their batch-sized
    side (``cross_dup`` and the components), so ``ids`` is never
    shuffled. ``cross_dup`` wins over ``batch_dup`` (a
    non-minimal member of a within-batch component; dup_of = the
    component's smallest id, its survivor) over ``kept``. Survivors
    carry dup_of = -1, not NULL: a nullable BIGINT drifts to float64 +
    NaN through a pandas fetch path, the cross-engine hash hazard the
    dtype guard (tests/test_oracle_dtypes.py) blocks."""
    comps = connected_components(edges, "id_a", "id_b")
    return (
        ids.select(id_col)
        .join(
            F.broadcast(cross_dup.withColumnRenamed("id_n", id_col)), id_col, "left"
        )
        .join(
            F.broadcast(
                comps.select(
                    F.col("u").cast("long").alias(id_col),
                    F.col("label").alias("_comp"),
                )
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.when(F.col("dup_of").isNotNull(), F.lit("cross_dup"))
            .when(
                F.col("_comp").isNotNull() & (F.col("_comp") != F.col(id_col)),
                F.lit("batch_dup"),
            )
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce(
                F.col("dup_of"),
                F.when(F.col("_comp") != F.col(id_col), F.col("_comp")),
                F.lit(-1).cast("long"),
            ).alias("dup_of"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB forms of the near-duplicate decision (README "Near-duplicate
# oracle"). Every oracle that replays a decision above is built from
# these, over its own shingle, candidate and edge relations.
# ---------------------------------------------------------------------------


def minhash_signatures_sql(shingles: str = "shingles", num_hashes: int = 12) -> str:
    """SELECT of (doc_id, h0..h{k-1}) over a (doc_id, shingle) relation:
    the DuckDB twin of :func:`minhash_signatures`."""
    mins = ",\n       ".join(
        f"MIN({universal_hash_sql('h', a, b)}) AS h{i}"
        for i, (a, b) in enumerate(universal_params(num_hashes))
    )
    return f"""SELECT doc_id,
       {mins}
FROM (SELECT doc_id, {hash64_sql('shingle', 0)} AS h FROM {shingles})
GROUP BY doc_id"""


def lsh_candidates_sql(
    on: str = "a.doc_id < b.doc_id", num_hashes: int = 12, bands: int = 4
) -> str:
    """SELECT of (id_a, id_b): the pairs of the signature relation
    ``sigs`` (aliased a and b) that satisfy ``on`` and agree on every
    row of at least one band — :func:`lsh_candidate_pairs`' raw-value
    band keys as one predicate."""
    rpb = num_hashes // bands
    band_match = " OR ".join(
        "("
        + " AND ".join(f"a.h{b * rpb + r} = b.h{b * rpb + r}" for r in range(rpb))
        + ")"
        for b in range(bands)
    )
    return f"""SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b ON ({on}) AND ({band_match})"""


def jaccard_edges_sql(
    threshold: float = 0.5, shingles: str = "shingles", cand: str | None = None
) -> str:
    """SELECT of (id_a, id_b, jaccard rounded to 4): the pairs whose
    shingle-set Jaccard is at least ``threshold``, filtered on the
    unrounded value as the Spark operators do. ``cand`` is a
    parenthesized (id_a, id_b) candidate relation; without one, every
    pair id_a < id_b that shares a shingle is a candidate (the
    inverted-index self-join of :func:`ngram_jaccard_pairs`)."""
    if cand is None:
        common = f"""SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM {shingles} a JOIN {shingles} b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2"""
    else:
        common = f"""SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM {cand} c
  JOIN {shingles} sa ON sa.doc_id = c.id_a
  JOIN {shingles} sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2"""
    sizes = f"(SELECT doc_id, COUNT(*) AS n_sh FROM {shingles} GROUP BY doc_id)"
    jac = "n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common)"
    return f"""SELECT p.id_a, p.id_b, ROUND({jac}, 4) AS jaccard
FROM ({common}) p
JOIN {sizes} sa ON p.id_a = sa.doc_id
JOIN {sizes} sb ON p.id_b = sb.doc_id
WHERE {jac} >= {threshold}"""


# The cosine of the ``vec`` columns of a pair of relations aliased a and
# b, rounded to 6 places as the Spark cosine kernels round it before
# they compare.
PAIR_COSINE_SQL = "ROUND(list_cosine_similarity(a.vec, b.vec), 6)"


def cosine_edge_sql(threshold: float) -> str:
    """Predicate of the cosine tier's near-duplicate edge: the pair
    (a, b) is an edge when its rounded cosine is at least
    ``threshold``."""
    return f"{PAIR_COSINE_SQL} >= {threshold}"


def lsh_edges_sql(
    on: str = "a.doc_id < b.doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    shingles: str = "shingles",
) -> str:
    """SELECT of the LSH candidates (over ``sigs``) verified by Jaccard
    (over ``shingles``): the DuckDB twin of
    :func:`minhash_lsh_dedup_pairs` when ``on`` is the default."""
    cand = lsh_candidates_sql(on, num_hashes, bands)
    return jaccard_edges_sql(threshold, shingles, f"({cand})")


def components_sql(
    edges: str, tag: str = "", id_col: str = "doc_id", label_col: str = "group_id"
) -> str:
    """CTEs sym{tag}, reach{tag} and comp{tag}(id_col, label_col) for a
    WITH RECURSIVE list: every node of the (id_a, id_b) relation
    ``edges`` labelled with the smallest id of its component — the
    fixpoint :func:`connected_components` reaches. ``reach`` is the
    transitive closure by UNION, which terminates because a component
    has finitely many pairs."""
    return f"""sym{tag} AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM {edges} UNION ALL SELECT id_b, id_a FROM {edges}),
reach{tag} AS (SELECT u, v FROM sym{tag}
  UNION SELECT r.u, s.v FROM reach{tag} r JOIN sym{tag} s ON r.v = s.u),
comp{tag} AS MATERIALIZED (
  SELECT u AS {id_col}, LEAST(u, MIN(v)) AS {label_col} FROM reach{tag} GROUP BY u)"""


def admission_round_sql(
    batch: str, cross_edges: str, intra_edges: str, tag: str = "", id_col: str = "doc_id"
) -> str:
    """CTEs of one admission round, the DuckDB twin of
    :func:`_admission_statuses` and its callers' survivor rule.

    ``batch`` is a relation whose ``id_col`` holds the batch ids;
    ``cross_edges`` a SELECT of verified (id_a, id_b) pairs from a batch
    id to a kept id; ``intra_edges`` a SELECT of verified pairs between
    batch ids. Emits cross_dup{tag} (id_n, dup_of: smallest kept match),
    intra{tag} (the intra pairs with neither end a cross dup), their
    components, and status{tag} (id_col, status, dup_of). Every
    non-recursive CTE is MATERIALIZED: each is read more than once, and
    DuckDB inlines a CTE at every reference, which blows up a chain of
    rounds."""
    return f"""cross_dup{tag} AS MATERIALIZED (
  SELECT id_a AS id_n, MIN(id_b) AS dup_of FROM ({cross_edges}) GROUP BY id_a),
intra{tag} AS MATERIALIZED (
  SELECT id_a, id_b FROM ({intra_edges})
  WHERE id_a NOT IN (SELECT id_n FROM cross_dup{tag})
    AND id_b NOT IN (SELECT id_n FROM cross_dup{tag})),
{components_sql(f"intra{tag}", tag, id_col, "label")},
status{tag} AS MATERIALIZED (
  SELECT b.{id_col},
         CASE WHEN c.dup_of IS NOT NULL THEN 'cross_dup'
              WHEN p.label IS NOT NULL AND p.label <> b.{id_col} THEN 'batch_dup'
              ELSE 'kept' END AS status,
         COALESCE(c.dup_of, CASE WHEN p.label <> b.{id_col} THEN p.label END, -1)
           AS dup_of
  FROM {batch} b
  LEFT JOIN cross_dup{tag} c ON c.id_n = b.{id_col}
  LEFT JOIN comp{tag} p ON p.{id_col} = b.{id_col})"""


def admission_chain_sql(
    n_batches: int,
    kept0: str,
    batch: Callable[[int], str],
    cross_edges: Callable[[int], str],
    intra_edges: Callable[[int], str],
    id_col: str = "doc_id",
) -> str:
    """CTEs of ``n_batches`` chained admission rounds: batch{k} (the
    SELECT ``batch(k)``, k from 1) admits against kept{k-1}, and kept{k}
    is kept{k-1} plus the round's kept ids. ``kept0`` selects the first
    kept ids; ``cross_edges(k)`` and ``intra_edges(k)`` are the round's
    edge SELECTs, reading batch{k} and kept{k-1}."""
    parts = [f"kept0 AS MATERIALIZED ({kept0})"]
    for k in range(1, n_batches + 1):
        parts += [
            f"batch{k} AS MATERIALIZED ({batch(k)})",
            admission_round_sql(
                f"batch{k}", cross_edges(k), intra_edges(k), str(k), id_col
            ),
            f"kept{k} AS MATERIALIZED (SELECT {id_col} FROM kept{k - 1}"
            f" UNION ALL SELECT {id_col} FROM status{k} WHERE status = 'kept')",
        ]
    return ",\n".join(parts)
