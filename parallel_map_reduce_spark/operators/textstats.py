"""Text analysis operators for training-data pipelines.

Language-ID, quality scoring, token counting, document fingerprinting —
all pure JVM expressions (regex/length/array built-ins), no UDFs, so
each runs inside whole-stage codegen and is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parallel_map_reduce_spark.functions.hashing import fingerprint_md5, hash64
from parallel_map_reduce_spark.functions.tokenize import (
    BPE_PRETOKEN_REGEX,
    NON_WS_CHAR,
    token_array,
    token_count,
    tokens_df,
    word_ngrams,
)

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deterministic and engine-portable; a real pipeline would swap in a
# proper fastText-style model behind the same operator signature.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
}


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token statistics: n_tokens, n_distinct, avg token len.

    Array built-ins only — no explode, no shuffle: each document is
    processed where it sits.
    """
    toks = token_array(text_col)
    tok_col = F.col("_toks")
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(
            F.col(id_col),
            F.size(tok_col).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(tok_col)).cast("long").alias("n_distinct"),
            F.round(
                F.when(
                    F.size(tok_col) > 0,
                    F.aggregate(
                        tok_col,
                        F.lit(0.0),
                        lambda acc, w: acc + F.length(w),
                    )
                    / F.size(tok_col),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("avg_token_len"),
        )
    )


def quality_score_expr(text: Column) -> Column:
    """The composite quality score as a single reusable Column expression
    (rounded to 4 decimals) — shared by quality_scores and the corpus-
    cleaning pipeline so the formula can't drift between them."""
    total = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    n_tokens = token_count(text).cast("double")
    safe = F.when(total > 0, total).otherwise(F.lit(1.0))
    alpha_ratio = alpha / safe
    punct_ratio = punct / safe
    length_factor = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    return F.round(alpha_ratio * (1 - punct_ratio) * length_factor, 4)


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document-quality features + a composite score.

    Features (all ratios in [0,1], rounded):
    - alpha_ratio: alphabetic chars / total chars
    - punct_ratio: .,;:!? chars / total chars
    - space_ratio: whitespace / total chars
    - stopword_ratio: tokens that are common-English stopwords / tokens
    - quality_score: alpha_ratio * (1 - punct_ratio) scaled by a length
      factor (docs under 20 tokens are penalized) — a C4-style filter
      signal, deterministic and portable.
    """
    text = F.col(text_col)
    total = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    space = F.length(F.regexp_replace(text, NON_WS_CHAR, "")).cast("double")
    toks = token_array(text)
    n_tokens = F.size(toks).cast("double")
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop, w))).cast(
        "double"
    )
    safe = F.when(total > 0, total).otherwise(F.lit(1.0))
    safe_tok = F.when(n_tokens > 0, n_tokens).otherwise(F.lit(1.0))
    alpha_ratio = alpha / safe
    punct_ratio = punct / safe
    length_factor = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    return df.select(
        F.col(id_col),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(space / safe, 4).alias("space_ratio"),
        F.round(n_stop / safe_tok, 4).alias("stopword_ratio"),
        quality_score_expr(text).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-lexicon language guess: (id, lang_guess, lang_score).

    Scores each language by its marker-token hit rate; argmax with a
    fixed language order for tie-breaks. With a real multilingual corpus
    swap LANG_MARKERS for char-n-gram profiles — operator shape (pure
    column expressions, one pass, no shuffle) stays identical.
    """
    toks = token_array(text_col)
    n_tokens = F.size(toks).cast("double")
    safe_tok = F.when(n_tokens > 0, n_tokens).otherwise(F.lit(1.0))
    scores = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array([F.lit(w) for w in LANG_MARKERS[lang]])
        hits = F.size(F.filter(toks, lambda w: F.array_contains(markers, w)))
        scores.append((lang, hits.cast("double") / safe_tok))
    best_score = F.greatest(*[s for _, s in scores])
    guess = F.lit("unknown")
    # first language (sorted order) achieving the max wins — reverse fold
    for lang, score in reversed(scores):
        guess = F.when(score == best_score, F.lit(lang)).otherwise(guess)
    guess = F.when(best_score > 0, guess).otherwise(F.lit("unknown"))
    return df.select(
        F.col(id_col),
        guess.alias("lang_guess"),
        F.round(best_score, 4).alias("lang_score"),
    )


def doc_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprints: exact md5 + a 60-bit rolling-style prefix
    fingerprint of the first 8 tokens (cheap clustering key for
    near-identical heads)."""
    toks = token_array(text_col)
    prefix = F.concat_ws(" ", F.slice(toks, 1, 8))
    return df.select(
        F.col(id_col),
        fingerprint_md5(F.col(text_col)).alias("content_md5"),
        hash64(prefix, seed=1).alias("prefix_fp"),
    )


def ngram_frequencies(
    df: DataFrame,
    n: int = 2,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top-k word n-grams across the corpus: (ngram, count).

    Unlike shingle_array (distinct per doc, for jaccard), this keeps
    every occurrence — these are frequencies, not set members.
    """
    toks_df = df.select(token_array(text_col).alias("tk"))
    grams = toks_df.select(F.explode(word_ngrams(F.col("tk"), n)).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("count").desc(), F.col("ngram").asc())
        .limit(k)
    )


def bpe_token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """BPE-ish token counts per document: whitespace-free subword-ready
    pieces from the pre-tokenizer regex, plus the whitespace-token count
    for comparison. regexp_extract_all is a codegen'd JVM expression —
    no Python in the path."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_REGEX), 0)
    return df.select(
        F.col(id_col),
        F.size(pieces).alias("n_bpe_tokens"),
        token_count(text_col).alias("n_ws_tokens"),
    )


def chunk_documents(
    df: DataFrame,
    window: int = 32,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    context-window packing step of a training-data pipeline (the
    reference never segments its corpus; this generalizes its tokenizer
    O4 into a chunker).

    All JVM array built-ins (split → sequence → explode → slice): chunk
    starts are generated per-row, so a document never leaves its
    partition and the only data growth is the window/stride overlap
    factor. Trailing partial chunks are kept (start <= n_tokens).
    """
    toks = token_array(text_col)
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(
            F.col(id_col),
            F.col("_toks"),
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("_toks"), F.lit(1)), F.lit(stride))
            ).alias("chunk_start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_start"),
            F.array_join(F.slice("_toks", F.col("chunk_start"), window), " ").alias(
                "chunk_text"
            ),
            F.least(
                F.lit(window), F.size("_toks") - F.col("chunk_start") + 1
            ).alias("chunk_len"),
        )
    )


def decontaminate_against_eval(
    docs: DataFrame, eval_mod: int = 50, id_col: str = "doc_id"
) -> DataFrame:
    """Benchmark decontamination: per training document (id % eval_mod
    != 0), how many of its distinct 3-gram shingles appear in ANY eval
    document (id % eval_mod == 0), with a ≥20% overlap flag decided by
    integer arithmetic (``n_shared*5 >= n_sh``).

    Scale shape: the eval shingle set is tiny (benchmarks are MBs) and
    broadcasts; the training side is one scan + map-side hash probe +
    per-doc partial agg — never shuffled on the shingle key.
    """
    from parallel_map_reduce_spark.operators.dedup import explode_shingles

    sh = explode_shingles(docs, id_col=id_col)
    eval_sh = (
        sh.filter(F.col(id_col) % eval_mod == 0)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = sh.filter(F.col(id_col) % eval_mod != 0)
    return (
        train.join(F.broadcast(eval_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0)).alias(
                "n_shared"
            ),
        )
        .select(
            id_col,
            "n_sh",
            "n_shared",
            (F.col("n_shared") * 5 >= F.col("n_sh")).alias("contaminated"),
        )
    )


def _dup_span_occurrences(
    df: DataFrame, text_col: str, id_col: str, span_len: int
):
    """(tokens_df, duplicated-span starts) shared by
    ``duplicated_span_stats`` (the measure half) and
    ``substring_dedup_corpus`` (the act half): ONE definition of the
    window hashing, the ``n >= span_len`` guard, and the canonical
    corpus-first choice (min encoded doc*1e9+pos per hash), so the two
    halves — documented as one ExactSubstr contract — cannot drift.

    Returns ``(tdf, dups)`` where ``tdf`` is the token-array frame and
    ``dups`` holds one (id, pos) row per NON-canonical occurrence of a
    repeated span."""
    tdf = tokens_df(df, text_col, id_col)
    n = F.size("tk")
    idx = F.sequence(F.lit(1), n - (span_len - 1))
    whs = F.transform(
        idx,
        lambda i: hash64(
            F.concat_ws(
                " ", *[F.element_at(F.col("tk"), i + j) for j in range(span_len)]
            ),
            0,
        ),
    )
    # posexplode the window-hash EXPRESSION, not a projected attribute
    # (plan rule 2 in functions/tokenize.py): here the re-derived array
    # is the whole md5 window, measured 86 s vs 3 s at sf0.1.
    wins = tdf.select(
        F.col(id_col),
        F.posexplode(
            F.when(n >= span_len, whs).otherwise(F.array())
        ).alias("pos0", "wh"),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "wh")
    enc = F.col(id_col) * F.lit(1_000_000_000) + F.col("pos")
    canon = (
        wins.groupBy("wh")
        .agg(F.min(enc).alias("cp"), F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )
    dups = (
        wins.join(canon, "wh")
        .filter(enc != F.col("cp"))
        .select(id_col, "pos")
    )
    return tdf, dups


def duplicated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
) -> DataFrame:
    """Exact-substring duplication metrics per document (the ExactSubstr
    diagnostic of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): hash every overlapping `span_len`-token
    window, call the corpus-first occurrence (min encoded (doc, pos))
    canonical, and measure how much of each document is covered by
    NON-canonical repeated spans — the fraction those pipelines cut or
    use as a filter criterion.

    Output: (doc_id, n_tokens, n_dup_windows, n_dup_tokens, dup_frac).
    Covered-token counting merges overlapping spans exactly with one
    lead() window: consecutive duplicated starts p, p' overlap iff
    p' - p < span_len, so each contributes min(span_len, p' - p) tokens.

    Scale posture: the window explode is one row per token (linear, no
    distinct); the canonical choice is a groupBy(hash) AGGREGATE — a
    corpus-frequent boilerplate span lands in one partial-agg'd group,
    never a self-join fan-out (contrast the jaccard tiers, where pairing
    is the point); the join back is linear. Canonical encoding
    doc_id*1e9+pos is a single long both engines order identically.
    Portable md5 window hashes, so DuckDB replays every step.
    """
    from pyspark.sql import Window

    tdf, dups = _dup_span_occurrences(df, text_col, id_col, span_len)
    n = F.size("tk")
    w = Window.partitionBy(id_col).orderBy("pos")
    covered = F.least(
        F.lit(span_len),
        F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(span_len)),
    )
    per_doc = (
        dups.select(F.col(id_col), covered.alias("cov"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum("cov").alias("n_dup_tokens"),
        )
    )
    return (
        tdf.select(F.col(id_col), n.cast("long").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("n_dup_tokens", F.lit(0)) / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_frac"),
        )
    )


def substring_dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
) -> DataFrame:
    """ExactSubstr REMOVAL (the act half of duplicated_span_stats'
    measurement, Lee et al. 2022): rewrite each document with every
    token covered by a non-canonical repeated `span_len`-token span
    dropped — the corpus keeps exactly one copy (the corpus-first
    occurrence) of every duplicated substring.

    Output: (doc_id, n_tokens, n_tokens_kept, clean_text).

    Scale posture: the duplicated-span discovery is the linear
    groupBy(hash) pipeline of duplicated_span_stats; the rewrite joins
    each doc's (small) sorted span-start list back and filters the
    token array with one indexed higher-order lambda — per-doc work is
    tokens × spans with spans tiny, and nothing beyond the span lists
    (not the corpus) moves through the extra join.
    """
    tdf, dups = _dup_span_occurrences(df, text_col, id_col, span_len)
    starts = dups.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("starts")
    )
    with_spans = tdf.join(starts, id_col, "left").select(
        F.col(id_col),
        F.col("tk"),
        F.coalesce(F.col("starts"), F.array().cast("array<int>")).alias("starts"),
    )
    # keep token at 0-based index i unless some dup span [p, p+L-1]
    # (1-based) covers it
    kept = F.filter(
        F.col("tk"),
        lambda x, i: ~F.exists(
            F.col("starts"),
            lambda p: (i + 1 >= p) & (i + 1 <= p + F.lit(span_len - 1)),
        ),
    )
    return with_spans.select(
        F.col(id_col),
        F.size("tk").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_tokens_kept"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def heavy_hitter_sketch(
    tok_df: DataFrame, token_col: str = "w", capacity: int = 64
) -> DataFrame:
    """Per-partition Misra-Gries heavy-hitter summaries, mergeable by
    summing counts per token (Agarwal et al., "Mergeable Summaries",
    PODS'12): output rows are (token, mg_count) with at most `capacity`
    tokens per input partition, and for every token
    ``true_count - capacity_bound <= sum(mg_count) <= true_count`` where
    the total undercount across the corpus is at most
    ``n_total / (capacity + 1)``.  Any token with frequency above that
    bound is guaranteed to survive — the classic heavy-hitter contract.

    Spark shape: ``mapInPandas`` keeps O(capacity) state per partition
    (vectorized ``value_counts`` per Arrow batch, then a capacity prune
    that subtracts the (capacity+1)-st largest count from all — the MG
    merge rule), and the cluster-wide merge is a plain ``groupBy(token)
    .sum`` over at most ``capacity × n_partitions`` rows.  This is the
    100 TB path for "top tokens" when the vocabulary itself doesn't fit:
    the exact ``groupBy(token).count`` twin shuffles every distinct
    token, the sketch shuffles a constant number of rows per partition.

    The per-partition counts depend on the partitioning, so downstream
    queries must hash only partition-independent derivatives (the exact
    twin's values plus boolean bound checks — the HLL audit pattern).
    """
    import pandas as pd

    def sketch(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, cnt in pdf[token_col].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > capacity:
                # MG merge prune: subtract the (capacity+1)-st largest
                # count from everything, drop the non-positive.
                cut = sorted(counters.values(), reverse=True)[capacity]
                counters = {
                    t: c - cut for t, c in counters.items() if c - cut > 0
                }
        yield pd.DataFrame(
            {
                "token": pd.Series(list(counters), dtype="object"),
                "mg_count": pd.Series(list(counters.values()), dtype="int64"),
            }
        )

    merged = tok_df.mapInPandas(sketch, "token string, mg_count long")
    return merged.groupBy("token").agg(F.sum("mg_count").alias("mg_count"))


# PII patterns restricted to the regex subset with identical semantics in
# Java (Spark) and RE2 (DuckDB): character classes, bounded repetition,
# \b word boundaries — no backrefs or lookaround.  Redaction replaces
# emails FIRST (their local parts contain dots/digits that the other
# patterns could otherwise bite into).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{2}-\d{3}-\d{4}"


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Detect and redact PII spans (emails, IPv4 addresses, phone
    numbers) — the scrubbing pass a training-data pipeline runs before
    anything leaves the raw zone (the C4/Dolma-style rule set, reduced
    to three engine-portable patterns).

    Output: (id, n_emails, n_ips, n_phones, n_chars_redacted,
    fingerprint-of-redacted-text).  Pure regexp built-ins — the whole
    operator is one codegen'd projection with zero shuffles, so it
    scales linearly and composes with any downstream scan.  Swapping in
    a learned NER scrubber later only changes the expression, not the
    plan shape.
    """
    t = F.col(text_col)
    red = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4, "<IP>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.length(red).cast("long").alias("n_chars_redacted"),
        F.md5(red).alias("redacted_fp"),
    )


def line_dedup_stats(
    df: DataFrame,
    line_tokens: int = 8,
    min_tokens: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate line filtering (the C4 / RefinedWeb rule pair): split
    each document into fixed ``line_tokens``-token lines (the corpus has
    no newlines, so token-aligned segments stand in for physical lines),
    then per line apply (a) the short-line rule — fewer than
    ``min_tokens`` tokens — and (b) the duplicated-line rule — the same
    line text occurs in MORE THAN ONE document (boilerplate headers /
    nav text in web corpora; exact-dup documents here).

    Output per doc: n_lines, n_short, n_corpus_dup, n_kept, kept_chars.

    Spark shape: one explode (per-row, no data movement), one
    distinct+groupBy on the line text to build the duplicated-line set,
    one join back on line.  The dup-line dictionary is the only shuffled
    aggregate; at 100 TB its skew profile is the same as wordcount's
    (hot boilerplate lines combine map-side), and AQE broadcasts it when
    small.  No Python, all codegen.
    """
    toks = token_array(text_col)
    lines = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(
            F.col(id_col),
            F.col("_toks"),
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("_toks"), F.lit(1)),
                    F.lit(line_tokens),
                )
            ).alias("_start"),
        )
        .select(
            F.col(id_col),
            F.array_join(
                F.slice("_toks", F.col("_start"), line_tokens), " "
            ).alias("line"),
            F.least(
                F.lit(line_tokens), F.size("_toks") - F.col("_start") + 1
            ).alias("line_len"),
        )
    )
    dup_lines = (
        lines.select(id_col, "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("line", F.lit(1).alias("_dup"))
    )
    marked = lines.join(dup_lines, "line", "left")
    long_enough = F.col("line_len") >= min_tokens
    is_dup = F.col("_dup").isNotNull()
    kept = long_enough & ~is_dup
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((~long_enough).cast("long")).alias("n_short"),
        F.sum((long_enough & is_dup).cast("long")).alias("n_corpus_dup"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.length("line")).otherwise(0).cast("long")).alias(
            "kept_chars"
        ),
    )


# Fixed feature-centering constants and quantization scale for the
# trained quality classifier (documented pipeline constants, not
# corpus-derived — corpus means would add an order-dependent double sum
# to the reproducibility contract for no modeling benefit at this dim).
QC_CENTER = {"x1": 0.06, "x2": 0.82, "x3": 0.30}
QC_GRAD_SCALE = 1e9
QC_LABEL_MIN_CHARS = 300


def _round_half_away(x: float, digits: int) -> float:
    """Round half AWAY from zero — the semantics of Spark's F.round and
    DuckDB's ROUND. Python's built-in round() is banker's (half-even),
    which would silently fork the weight trajectory from the oracle at
    any exact half-decimal."""
    import math

    p = 10.0**digits
    return math.copysign(math.floor(abs(x) * p + 0.5), x) / p


def train_quality_classifier(
    docs: DataFrame,
    rounds: int = 8,
    lr: float = 3.0,
    text_col: str = "text",
    return_scores: bool = False,
    id_col: str = "doc_id",
    return_weights: bool = False,
) -> DataFrame | list[float]:
    """Train a LINEAR document-quality classifier by full-batch
    gradient descent ON THE CLUSTER — the fasttext-style filter step of
    the CCNet / LLaMA data pipelines (train a cheap linear model on
    weak labels, score every document, keep the confident slice),
    reduced to its Spark-native shape: logistic regression over
    deterministic surface features, one distributed gradient aggregate
    per round, weights living driver-side as loop-control scalars.

    Weak label: the Gopher-style length gate (n_chars >=
    QC_LABEL_MIN_CHARS) — on THIS synthetic corpus the only separable
    signal is length (the lang column is drawn independently of the
    tiny shared vocabulary, measured: en-stopword ratio 0.0636 vs
    0.0600), so the honest demonstration is a label the features CAN
    learn; on a real corpus the label column swaps for fasttext-style
    weak labels (wiki-vs-crawl) and the trainer is unchanged. The
    feature row is (1, stopword_ratio, alpha_ratio, n_chars/1000),
    each rounded to 4 then centered by the fixed QC_CENTER constants.

    Cross-engine reproducibility (the kmeans_train_converged
    discipline, hardened): the ONLY transcendentals are sigmoid's exp
    (rounded to 7 per doc) and nothing else — every other step is IEEE
    basic ops, which are exactly rounded and therefore identical in
    any engine. Per-doc gradient contributions quantize to integers
    (ROUND(g * 1e9) as BIGINT) so the per-round SUM is EXACT and
    summation-ORDER-INDEPENDENT — the order-dependent double-sum
    caveat kmeans documents cannot arise here at all. The weight
    update w += lr * (sum/scale)/n rounds half-away to 9 via the same
    rule both engines' ROUND applies (Python's banker's round would
    fork the trajectory). The oracle replays the full loop as unrolled
    CTE triples (scores -> integer gradient sums -> next weights).

    Output: one audit row per round — (round, n_pos_pred, n_correct,
    w0_e9..w3_e9), predictions at the 0.5 boundary, weights AFTER the
    round's update as exact e9 integers.

    Scale posture: the feature frame is computed once (zero-shuffle
    projection of the corpus scan) and localCheckpointed; each round
    is ONE map-side-combined 6-scalar aggregate over it — no shuffle
    of data rows, nothing but scalars to the driver; cost is
    rounds x one corpus pass, the same shape DistBelief-era batch
    trainers ran. The 1e9 quantization bounds |sum| by n_docs x 1e9 —
    raise the scale's headroom (or drop to 1e6 grain) past ~10^9 docs.

    With ``return_scores=True`` the return value is instead the
    INFERENCE pass — every document scored by the final trained
    weights: (id, score_e6, kept, label) — the filter a pipeline
    actually applies after training (the kmeans
    ``return_assignment=True`` pattern). Scoring is one zero-shuffle
    projection with the weights as plan literals. With
    ``return_weights=True`` the final weight list itself is returned
    (the nightly model artifact) for serving elsewhere — e.g. the
    streaming inference pass (apply_quality_classifier on a
    readStream source).
    """
    spark = docs.sparkSession
    feat = _qc_features(docs, text_col, id_col).localCheckpoint(eager=True)
    n = float(feat.count())
    if n == 0:
        raise ValueError(
            "train_quality_classifier: empty corpus (the gradient mean "
            "divides by n)"
        )
    w = [0.0, 0.0, 0.0, 0.0]
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    rows: list[tuple] = []
    for rnd in range(1, rounds + 1):
        z = (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 7)
        d = feat.select("y", "x1", "x2", "x3", p.alias("p"))
        aggs = [
            F.sum(
                F.round(
                    (F.col("y") - F.col("p")) * xj * QC_GRAD_SCALE, 0
                ).cast("long")
            ).alias(f"q{j}")
            for j, xj in enumerate(xs)
        ]
        stat = d.agg(
            *aggs,
            F.sum(F.when(F.col("p") >= 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(
                F.when(
                    (F.col("p") >= 0.5) == (F.col("y") == 1.0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        ).collect()[0]
        # float(q)/scale — NOT q/scale: the oracle casts the exact
        # integer to DOUBLE first and divides second (two roundings);
        # Python's int/float true division rounds once, which can
        # differ past 2^53.
        w = [
            _round_half_away(
                w[j] + lr * ((float(stat[f"q{j}"]) / QC_GRAD_SCALE) / n), 9
            )
            for j in range(4)
        ]
        rows.append(
            (
                rnd,
                stat["n_pos"],
                stat["n_correct"],
                *[int(_round_half_away(x * 1e9, 0)) for x in w],
            )
        )
    if return_scores:
        return _qc_score_select(feat, w, id_col)
    if return_weights:
        return w
    return spark.createDataFrame(
        rows,
        "round int, n_pos_pred long, n_correct long, "
        "w0_e9 long, w1_e9 long, w2_e9 long, w3_e9 long",
    )


def _qc_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The classifier's feature projection — (id, y, x1, x2, x3),
    rounded then fixed-centered. ONE definition shared by the batch
    trainer, the batch inference pass, and the STREAMING inference
    pass (every expression is stateless, so the projection applies to
    a streaming DataFrame unchanged) — the feature rule cannot drift
    between train and serve."""
    text = F.col(text_col)
    total = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    toks = token_array(text)
    n_tokens = F.size(toks).cast("double")
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(
        F.filter(toks, lambda w: F.array_contains(stop, w))
    ).cast("double")
    safe = F.when(total > 0, total).otherwise(F.lit(1.0))
    safe_tok = F.when(n_tokens > 0, n_tokens).otherwise(F.lit(1.0))
    return docs.select(
        F.col(id_col),
        F.when(F.col("n_chars") >= QC_LABEL_MIN_CHARS, 1.0)
        .otherwise(0.0)
        .alias("y"),
        (F.round(n_stop / safe_tok, 4) - QC_CENTER["x1"]).alias("x1"),
        (F.round(alpha / safe, 4) - QC_CENTER["x2"]).alias("x2"),
        (F.round(F.col("n_chars") / 1000.0, 4) - QC_CENTER["x3"]).alias(
            "x3"
        ),
    )


def _qc_score_select(
    feat: DataFrame, w: list[float], id_col: str = "doc_id"
) -> DataFrame:
    """Score a feature frame with trained weights — (id, score_e6,
    kept, label); weights ride as plan literals. Stateless, so it
    serves batch AND streaming feature frames identically."""
    z = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 7)
    return feat.select(
        id_col,
        F.round(p * 1000000, 0).cast("long").alias("score_e6"),
        (p >= 0.5).alias("kept"),
        (F.col("y") == 1.0).alias("label"),
    )


def apply_quality_classifier(
    docs: DataFrame,
    w: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inference with a TRAINED weight vector over a batch OR streaming
    documents frame — the model-serving half of the batch-train /
    stream-serve pattern: features and scoring are stateless
    projections (no aggregate, no state store), so the same call scores
    a readStream micro-batch source and the answer is independent of
    how the stream was micro-batched (value-hash-provable against the
    batch oracle)."""
    return _qc_score_select(
        _qc_features(docs, text_col, id_col), w, id_col
    )
