"""Property-based tests (SURVEY §5 item 4): tokenizer invariants checked
against a pure-Python model of the golden spec, over adversarial unicode
text (whitespace runs, colons, BOM, CRLF).

Each hypothesis example runs a real Spark job, so examples are capped —
the point is the generator's edge-case search, not volume.
"""

import re
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from parallel_map_reduce_spark.operators.wordcount import wordcount, wordcount_per_doc

# the normative tokenizer as a Python model (same class as src/utils.cpp
# operator>>: C-locale whitespace)
MODEL_SPLIT = re.compile(r"[ \t\n\r\x0b\x0c]+")


def model_tokens(text: str) -> list[str]:
    return [w for w in MODEL_SPLIT.split(text) if w]


# adversarial alphabet: every whitespace byte the tokenizer splits on,
# plus colons (output-format ambiguity), BOM, combining chars, CJK
ALPHABET = st.sampled_from(
    list(" \t\n\r\x0b\x0c") + list(":.,;") + ["﻿", "é", "字", "a", "B", "0"]
)
TEXTS = st.lists(st.text(ALPHABET, max_size=40), min_size=0, max_size=6)

PROP_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _df(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        schema="doc_id long, text string",
    )


@given(texts=TEXTS)
@PROP_SETTINGS
def test_wordcount_matches_python_model(spark, texts):
    got = {r["word"]: r["count"] for r in wordcount(_df(spark, texts)).collect()}
    want = Counter(w for t in texts for w in model_tokens(t))
    assert got == dict(want)


@given(texts=TEXTS)
@PROP_SETTINGS
def test_row_permutation_invariance(spark, texts):
    fwd = {r["word"]: r["count"] for r in wordcount(_df(spark, texts)).collect()}
    rev = {
        r["word"]: r["count"] for r in wordcount(_df(spark, texts[::-1])).collect()
    }
    assert fwd == rev


@given(texts=TEXTS)
@PROP_SETTINGS
def test_per_doc_counts_sum_to_global(spark, texts):
    per_doc = wordcount_per_doc(_df(spark, texts)).collect()
    merged = Counter()
    for r in per_doc:
        merged[r["word"]] += r["count"]
    global_ = {r["word"]: r["count"] for r in wordcount(_df(spark, texts)).collect()}
    assert dict(merged) == global_


@given(texts=TEXTS)
@PROP_SETTINGS
def test_total_tokens_conserved(spark, texts):
    """sum of all counts == number of tokens the model sees (no token is
    dropped or double-counted by the distributed plan)."""
    rows = wordcount(_df(spark, texts)).collect()
    assert sum(r["count"] for r in rows) == sum(len(model_tokens(t)) for t in texts)


# ALPHABET plus NO-BREAK SPACE and LINE SEPARATOR: Unicode whitespace but
# not C-locale whitespace, so both must stay inside tokens.
TOKENIZER_TEXTS = st.lists(
    st.text(st.one_of(ALPHABET, st.sampled_from(["\u00a0", "\u2028"])), max_size=40),
    min_size=1,
    max_size=6,
)


@given(texts=TOKENIZER_TEXTS)
@PROP_SETTINGS
def test_spark_and_duckdb_token_arrays_match_model(spark, texts):
    """The package's Spark token array and its DuckDB token fragment,
    run on the same texts, both equal the Python model — the VT, FF,
    BOM and non-C-locale-whitespace cases included."""
    import duckdb

    from parallel_map_reduce_spark.functions.tokenize import TOKENS_SQL, token_array

    want = [model_tokens(t) for t in texts]
    rows = _df(spark, texts).select("doc_id", token_array("text").alias("tk"))
    got_spark = [r["tk"] for r in sorted(rows.collect(), key=lambda r: r["doc_id"])]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    got_duckdb = [
        r[0]
        for r in con.execute(
            f"SELECT {TOKENS_SQL} FROM documents ORDER BY doc_id"
        ).fetchall()
    ]
    assert got_spark == want
    assert got_duckdb == want


def test_whitespace_class_is_spelled_only_in_tokenize():
    """No package module outside functions/tokenize.py spells the
    whitespace class: the VT escape (x0b, any case) is its marker in
    every Java, RE2 and Python form."""
    import pathlib

    import parallel_map_reduce_spark

    pkg = pathlib.Path(parallel_map_reduce_spark.__file__).parent
    hits = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "functions" / "tokenize.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "x0b" in line.lower()
    ]
    assert hits == []


def test_near_duplicate_forms_are_spelled_only_in_dedup():
    """The DuckDB forms of the near-duplicate decision are spelled once,
    in operators/dedup.py: the recursive reach join, the MinHash MIN()
    universal-hash projection, the band predicate, the admission
    status CASE and the rounded pair cosine of the cosine edge. Their
    defaults are the Spark operators' defaults."""
    import inspect
    import pathlib

    import parallel_map_reduce_spark
    from parallel_map_reduce_spark.operators import dedup

    markers = (
        "ON r.v = s.u",
        "MIN({universal_hash_sql",
        "a.h{",
        "THEN 'cross_dup'",
        "list_cosine_similarity(a.vec, b.vec)",
    )
    pkg = pathlib.Path(parallel_map_reduce_spark.__file__).parent
    home = pkg / "operators" / "dedup.py"
    hits = [
        f"{path.relative_to(pkg)}:{i}: {m}"
        for path in sorted(pkg.rglob("*.py"))
        if path != home
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for m in markers
        if m in line
    ]
    assert hits == []
    assert [home.read_text().count(m) for m in markers] == [1] * len(markers)

    spark_defaults = inspect.signature(dedup.minhash_lsh_dedup_pairs).parameters
    for form in (
        dedup.minhash_signatures_sql,
        dedup.lsh_candidates_sql,
        dedup.jaccard_edges_sql,
        dedup.lsh_edges_sql,
    ):
        for name, p in inspect.signature(form).parameters.items():
            if name in ("num_hashes", "bands", "threshold"):
                assert p.default == spark_defaults[name].default, (form, name)


@st.composite
def edge_lists(draw):
    n = draw(st.integers(min_value=2, max_value=24))
    n_edges = draw(st.integers(min_value=1, max_value=40))
    return [
        (
            draw(st.integers(min_value=0, max_value=n - 1)),
            draw(st.integers(min_value=0, max_value=n - 1)),
        )
        for _ in range(n_edges)
    ]


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    return {x: find(x) for x in parent}


@PROP_SETTINGS
@given(edges=edge_lists())
def test_connected_components_matches_union_find(spark, edges):
    """The distributed fixpoint, and its DuckDB twin (the recursive CTE
    of dedup.components_sql), must agree with a sequential union-find
    on arbitrary graphs — self-loops, parallel edges, multiple
    components, cycles."""
    import duckdb

    from parallel_map_reduce_spark.operators.dedup import (
        components_sql,
        connected_components,
    )

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["u"]: r["label"] for r in connected_components(df).collect()}
    # union-find uses path compression to the min root; normalize both to
    # min-of-component
    expected = _union_find_components(edges)
    assert got == expected
    con = duckdb.connect()
    con.execute("CREATE TABLE e (id_a BIGINT, id_b BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    sql = f"WITH RECURSIVE {components_sql('e')} SELECT doc_id, group_id FROM comp"
    assert dict(con.execute(sql).fetchall()) == expected


# --- curation-op properties over a word-level generator --------------------
#
# A tiny vocabulary maximizes shingle/bigram collisions between docs, so
# the generator actually explores overlap and repetition edge cases.

WORDS = st.sampled_from(["a", "b", "c", "dd", "ee"])
DOCS = st.lists(
    st.lists(WORDS, min_size=0, max_size=10).map(" ".join),
    min_size=1,
    max_size=6,
)


def _model_shingles(text: str) -> set[str]:
    ws = model_tokens(text)
    return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}


@given(texts=DOCS)
@PROP_SETTINGS
def test_decontaminate_matches_python_model(spark, texts):
    """n_sh / n_shared / contaminated agree with a pure-Python model of
    'distinct 3-gram shingles vs the union of eval-doc shingles', for
    every generated corpus shape (empty docs, all-eval, full overlap)."""
    from parallel_map_reduce_spark.operators.textstats import (
        decontaminate_against_eval,
    )

    mod = 2  # doc 0, 2, 4 are eval — generator corpora are small
    eval_sh = set().union(
        *[_model_shingles(t) for i, t in enumerate(texts) if i % mod == 0],
        set(),
    )
    expected = {}
    for i, t in enumerate(texts):
        if i % mod == 0:
            continue
        sh = _model_shingles(t)
        if sh:
            n_shared = len(sh & eval_sh)
            expected[i] = (len(sh), n_shared, n_shared * 5 >= len(sh))
    got = {
        r["doc_id"]: (r["n_sh"], r["n_shared"], r["contaminated"])
        for r in decontaminate_against_eval(_df(spark, texts), eval_mod=mod).collect()
    }
    assert got == expected


@given(texts=DOCS)
@PROP_SETTINGS
def test_doc_repetition_matches_python_model(spark, texts):
    """n_bigrams / n_distinct / repetitive agree with a pure-Python bag
    model of per-doc bigram occurrences."""
    from parallel_map_reduce_spark.operators.queries_llm import q_doc_repetition

    expected = {}
    for i, t in enumerate(texts):
        ws = model_tokens(t)
        bgs = [" ".join(ws[j : j + 2]) for j in range(len(ws) - 1)]
        if bgs:
            n, d = len(bgs), len(set(bgs))
            expected[i] = (n, d, (n - d) * 5 >= n)
    import os
    import tempfile

    # q_doc_repetition reads a documents table from a sf_dir; stage one
    tmp = tempfile.mkdtemp(prefix="pmr_repetition_prop_")
    _df(spark, texts).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["n_distinct"], r["repetitive"])
        for r in q_doc_repetition(spark, tmp).collect()
    }
    assert got == expected


# --- connected components vs a union-find model -------------------------

EDGE_LISTS = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=60,
)


def model_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = {}
    for n in list(parent):
        groups.setdefault(find(n), []).append(n)
    return {n: min(ns) for r, ns in groups.items() for n in ns}


@given(edges=EDGE_LISTS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_connected_components_matches_union_find_multigraph(spark, edges):
    """The iterative min-label + pointer-jump fixpoint must label every
    node with its component's minimum id, on arbitrary random multigraphs
    (parallel edges, both orientations, arbitrary id gaps) — checked
    against a pure-Python union-find model."""
    from parallel_map_reduce_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["u"]: r["label"] for r in connected_components(df).collect()}
    assert got == model_components(edges)


# --- round-4c curation ops vs pure-Python models ---------------------------

_PII_FRAGMENTS = st.sampled_from(
    list(" \t.-@+")
    + list("abz09")
    + ["user@x.io", "10.0.0.1", "+44-123-4567", "@.", "10.0", "+44-"]
)
PII_TEXTS = st.lists(
    st.lists(_PII_FRAGMENTS, min_size=0, max_size=12).map("".join),
    min_size=1,
    max_size=5,
)


@given(texts=PII_TEXTS)
@PROP_SETTINGS
def test_pii_scrub_matches_python_model(spark, texts):
    """Counts and the redacted fingerprint agree with Python's re module
    applying the same three patterns in the same order, over adversarial
    text that embeds real PII spans next to near-miss fragments."""
    import hashlib

    from parallel_map_reduce_spark.operators.textstats import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
        pii_scrub,
    )

    rows = {r["doc_id"]: r for r in pii_scrub(_df(spark, texts)).collect()}
    for i, t in enumerate(texts):
        red = re.sub(PII_EMAIL, "<EMAIL>", t)
        red = re.sub(PII_IPV4, "<IP>", red)
        red = re.sub(PII_PHONE, "<PHONE>", red)
        r = rows[i]
        assert r["n_emails"] == len(re.findall(PII_EMAIL, t))
        assert r["n_ips"] == len(re.findall(PII_IPV4, t))
        assert r["n_phones"] == len(re.findall(PII_PHONE, t))
        assert r["n_chars_redacted"] == len(red)
        assert r["redacted_fp"] == hashlib.md5(red.encode()).hexdigest()


def _model_line_stats(texts, line_tokens=8, min_tokens=5):
    lines_per_doc = []
    for t in texts:
        ws = model_tokens(t)
        starts = range(0, max(len(ws), 1), line_tokens)
        lines_per_doc.append(
            [
                (" ".join(ws[s : s + line_tokens]), min(line_tokens, len(ws) - s))
                for s in starts
            ]
        )
    docs_with = {}
    for i, ls in enumerate(lines_per_doc):
        for line, _ in ls:
            docs_with.setdefault(line, set()).add(i)
    out = {}
    for i, ls in enumerate(lines_per_doc):
        short = sum(1 for _, n in ls if n < min_tokens)
        dup = sum(
            1 for line, n in ls if n >= min_tokens and len(docs_with[line]) > 1
        )
        kept = [line for line, n in ls if n >= min_tokens and len(docs_with[line]) == 1]
        out[i] = (len(ls), short, dup, len(kept), sum(len(k) for k in kept))
    return out


@given(texts=DOCS)
@PROP_SETTINGS
def test_line_dedup_matches_python_model(spark, texts):
    """Per-doc line accounting (n_lines/n_short/n_corpus_dup/n_kept/
    kept_chars) agrees with a pure-Python model over tiny-vocabulary
    corpora that maximize cross-document line collisions."""
    from parallel_map_reduce_spark.operators.textstats import line_dedup_stats

    got = {
        r["doc_id"]: (
            r["n_lines"],
            r["n_short"],
            r["n_corpus_dup"],
            r["n_kept"],
            r["kept_chars"],
        )
        for r in line_dedup_stats(_df(spark, texts)).collect()
    }
    assert got == _model_line_stats(texts)


@given(texts=DOCS)
@PROP_SETTINGS
def test_bpe_merge_pairs_matches_python_model(spark, texts):
    """The top-10 merge candidates (and their weighted counts) agree
    with a pure-Python model: count adjacent character pairs per word,
    weighted by word frequency, ranked (count desc, pair asc)."""
    import os
    import tempfile

    from parallel_map_reduce_spark.operators.queries_llm import q_bpe_merge_pairs

    word_counts = Counter(w for t in texts for w in model_tokens(t))
    pair_counts = Counter()
    for word, cnt in word_counts.items():
        for i in range(len(word) - 1):
            pair_counts[word[i : i + 2]] += cnt
    want = sorted(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    tmp = tempfile.mkdtemp(prefix="pmr_bpe_prop_")
    _df(spark, texts).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    got = [
        (r["pair"], r["pair_count"]) for r in q_bpe_merge_pairs(spark, tmp).collect()
    ]
    assert got == want


WORDS = st.sampled_from([f"w{i}" for i in range(12)] + [":", "é字"])
DOC_TEXTS = st.lists(
    st.lists(WORDS, min_size=0, max_size=30).map(" ".join),
    min_size=0,
    max_size=8,
)


@PROP_SETTINGS
@given(texts=DOC_TEXTS)
def test_cdc_chunks_reconstruct_property(spark, texts):
    # CDC chunking must losslessly partition the token stream of every
    # document, for any text including whitespace-only and sub-window
    # docs, at an aggressive divisor that cuts often.
    from parallel_map_reduce_spark.operators.curation_extras import cdc_chunks

    rows = cdc_chunks(_df(spark, texts), window=3, divisor=4).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, t in enumerate(texts):
        toks = model_tokens(t)
        got = sorted(by_doc.get(doc_id, []), key=lambda r: r["chunk_idx"])
        if not toks:
            assert got == []
            continue
        assert " ".join(r["chunk_text"] for r in got) == " ".join(toks)
        assert [r["chunk_idx"] for r in got] == list(range(len(got)))
        assert all(r["n_tokens"] >= 1 for r in got)


@PROP_SETTINGS
@given(texts=DOC_TEXTS)
def test_bloom_never_false_negative_property(spark, texts):
    # For ANY corpus, per-document Bloom hit counts dominate the exact
    # shared-shingle counts (membership can only over-report).
    from parallel_map_reduce_spark.operators.curation_extras import (
        bloom_decontaminate,
    )
    from parallel_map_reduce_spark.operators.textstats import (
        decontaminate_against_eval,
    )

    df = _df(spark, texts)
    exact = {
        r["doc_id"]: r for r in decontaminate_against_eval(df, eval_mod=3).collect()
    }
    bloom = {
        r["doc_id"]: r
        for r in bloom_decontaminate(df, eval_mod=3, m_bits=512, k=2).collect()
    }
    assert set(bloom) == set(exact)
    for doc_id, e in exact.items():
        b = bloom[doc_id]
        assert b["n_sh"] == e["n_sh"]
        assert b["n_bloom"] >= e["n_shared"]


# ---------------------------------------------------------------------------
# Madow systematic PPS sampling invariants (staged r6)
# ---------------------------------------------------------------------------

WEIGHTS = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=10_000),
    ),
    min_size=1,
    max_size=25,
).filter(lambda ws: sum(ws) > 0)


@given(weights=WEIGHTS, n=st.integers(min_value=1, max_value=40))
@PROP_SETTINGS
def test_weighted_sample_madow_invariants(spark, weights, n):
    """For ANY non-negative integer weights and target n: the draw sums
    to exactly n, every multiplicity is within the Madow bracket
    {⌊w·n/W⌋, ⌈w·n/W⌉}, and zero-weight rows are never drawn."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        weighted_systematic_sample,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, w=w) for i, w in enumerate(weights)],
        schema="doc_id long, w long",
    )
    got = {
        r["doc_id"]: r["multiplicity"]
        for r in weighted_systematic_sample(df, "w", n).collect()
    }
    W = sum(weights)
    assert sum(got.values()) == n
    for i, w in enumerate(weights):
        m = got.get(i, 0)
        assert m in (w * n // W, -((-w * n) // W)), (i, w, m, W, n)
        if w == 0:
            assert m == 0


# ---------------------------------------------------------------------------
# Gopher quality bundle: cross-engine fuzz (staged r6)
# ---------------------------------------------------------------------------

# Alphabet tuned to the bundle's string ops: every whitespace class the
# tokenizer splits on, newline (line splitting), bullet leads, '#',
# dots (ellipsis runs), multibyte '•'/CJK (substr/ltrim on non-ASCII),
# and letters/digits for the alpha-word and stopword rules.
GOPHER_ALPHABET = st.sampled_from(
    list(" \t\n\r\x0b\x0c") + list("-*#.") + ["•", "the", "of", "a1", "字", "x"]
)
GOPHER_TEXTS = st.lists(
    st.lists(GOPHER_ALPHABET, max_size=30).map("".join), min_size=1, max_size=5
)


@given(texts=GOPHER_TEXTS)
@PROP_SETTINGS
def test_gopher_quality_matches_duckdb_on_adversarial_text(spark, texts):
    """Every signal and the verdict must agree bit-for-bit between the
    Spark implementation and its DuckDB oracle on adversarial text —
    whitespace runs, CRLF, bullet/ellipsis edges, multibyte chars. This
    is the same cross-engine contract the driver enforces, fuzzed."""
    import duckdb
    import pandas as pd

    from parallel_map_reduce_spark.operators.curation_extras import (
        gopher_quality_stats,
        gopher_quality_stats_oracle_sql,
    )

    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["doc_id"]: tuple(r)[1:] for r in gopher_quality_stats(docs).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    want = {}
    for r in con.execute(gopher_quality_stats_oracle_sql()).fetchall():
        want[r[0]] = tuple(
            bool(v) if isinstance(v, bool) else v for v in r[1:]
        )
    con.close()
    assert got == want


@given(texts=GOPHER_TEXTS)
@PROP_SETTINGS
def test_gopher_repetition_matches_duckdb_on_adversarial_text(spark, texts):
    """The repetition bundle (top/dup n-gram char coverage + within-doc
    duplicate-line fractions) fuzzed against its DuckDB oracle — gram
    construction, tie-breaks, and line splitting must agree bit-for-bit
    on whitespace runs, empty lines, and multibyte text."""
    import duckdb
    import pandas as pd

    from parallel_map_reduce_spark.operators.curation_extras import (
        gopher_repetition_stats,
        gopher_repetition_stats_oracle_sql,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in gopher_repetition_stats(docs).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(gopher_repetition_stats_oracle_sql()).fetchall()
    }
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# BPE trainer/encoder: cross-engine fuzz (staged r6 encode + registered train)
# ---------------------------------------------------------------------------

# Tiny alphabet + short words so pair frequencies collide constantly —
# the fuzz hunts tie-break divergence between the Spark argmax
# (count DESC, lhs ASC, rhs ASC) and the oracle's unrolled CTE chain.
BPE_WORDS = st.lists(
    st.text(st.sampled_from("ab"), min_size=1, max_size=4),
    min_size=1,
    max_size=12,
)


@given(words=BPE_WORDS)
@PROP_SETTINGS
def test_bpe_train_and_encode_match_duckdb_on_tiny_corpora(spark, words):
    """3 merge rounds trained and applied on adversarial tiny corpora:
    the merge table AND the per-doc encode stats must agree bit-for-bit
    with the unrolled DuckDB replay — every tie in pair counts must
    break identically in both engines."""
    import duckdb
    import pandas as pd

    from parallel_map_reduce_spark.operators.curation_extras import (
        bpe_encode_stats,
        bpe_encode_stats_oracle_sql,
        bpe_train_merges,
        bpe_train_vocab_oracle_sql,
    )

    text = " ".join(words)
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got_m = [
        tuple(r)
        for r in bpe_train_merges(docs, rounds=3).collect()
    ]
    got_e = {
        r["doc_id"]: tuple(r)[1:] for r in bpe_encode_stats(docs, rounds=3).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": [0], "text": [text]}))
    want_m = [tuple(r) for r in con.execute(bpe_train_vocab_oracle_sql(3)).fetchall()]
    want_e = {
        r[0]: tuple(r[1:])
        for r in con.execute(bpe_encode_stats_oracle_sql(3)).fetchall()
    }
    con.close()
    assert sorted(got_m) == sorted(want_m)
    assert got_e == want_e


# ---------------------------------------------------------------------------
# CDC chunking: cross-engine fuzz
# ---------------------------------------------------------------------------

CDC_TEXTS = st.lists(
    st.lists(
        st.text(st.sampled_from("abc"), min_size=1, max_size=3),
        min_size=0,
        max_size=40,
    ).map(" ".join),
    min_size=1,
    max_size=4,
)


@given(texts=CDC_TEXTS)
@PROP_SETTINGS
def test_cdc_chunks_match_duckdb_on_random_corpora(spark, texts):
    """Chunk boundaries are window-hash arithmetic — md5, masks, and
    modulo must agree bit-for-bit between engines on random corpora,
    including documents shorter than the hash window (w=3, div=4 keeps
    boundaries frequent so the fuzz exercises real cuts)."""
    import duckdb
    import pandas as pd

    from parallel_map_reduce_spark.operators.curation_extras import (
        cdc_chunks,
        cdc_chunks_oracle_sql,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): tuple(r)[2:]
        for r in cdc_chunks(docs, window=3, divisor=4).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    want = {
        (r[0], r[1]): tuple(r[2:])
        for r in con.execute(cdc_chunks_oracle_sql(3, 4)).fetchall()
    }
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# Containment pairs vs a pure-Python model
# ---------------------------------------------------------------------------

# Short words over a tiny alphabet → heavy shingle overlap across docs,
# so the fuzz actually generates pairs at t=0.5 instead of empty sets.
CONTAIN_TEXTS = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=12
    ).map(" ".join),
    min_size=2,
    max_size=6,
)


def _model_shingles(text: str, n: int = 3) -> set:
    toks = [t for t in MODEL_SPLIT.split(text) if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@given(texts=CONTAIN_TEXTS)
@PROP_SETTINGS
def test_containment_pairs_match_python_model(spark, texts):
    """Directed containment |A∩B|/|A| ≥ t over random overlapping
    corpora must equal the brute-force Python model — pair set AND
    rounded scores (the inverted-index join may skip pairs sharing no
    shingle; the model proves none of those could have qualified)."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        containment_pairs,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.5).collect()
    }
    sh = {i: _model_shingles(t) for i, t in enumerate(texts)}
    want = {}
    for a in sh:
        for b in sh:
            if a == b or not sh[a]:
                continue
            c = len(sh[a] & sh[b]) / len(sh[a])
            if c >= 0.5:
                want[(a, b)] = round(c, 4)  # the operator's ROUND precision
    assert got == want


# ---------------------------------------------------------------------------
# Retraction + re-admission: cross-engine fuzz (registered round 7)
# ---------------------------------------------------------------------------

# Tiny word pool + short docs so exact/near duplicates collide
# constantly across the even (kept) / odd (batch) split, and ids 0, 10,
# 20 give the retraction carve-out real canonicals to invalidate. Empty
# and sub-shingle docs exercise the always-survives path through ALL
# THREE phases.
RETRACT_TEXTS = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6
    ).map(" ".join),
    min_size=4,
    max_size=24,
)


@given(texts=RETRACT_TEXTS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_retract_and_readmit_matches_duckdb(spark, texts):
    """The three-phase takedown flow (admit / retract / readmit) must
    agree row-for-row with its DuckDB oracle on adversarial dup
    structure: statuses, dup_of canonicals, and WHICH suppressed docs
    re-enter after their canonical is retracted. The fuzz hunts
    membership-predicate drift between the Spark store operations
    (anti-join invalidation, appended signatures) and the oracle's
    nested-CTE replay."""
    import duckdb
    import pandas as pd

    from parallel_map_reduce_spark.operators.curation_extras import (
        retract_and_readmit,
        retract_and_readmit_oracle_sql,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["phase"]): (r["status"], r["dup_of"])
        for r in retract_and_readmit(docs).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(retract_and_readmit_oracle_sql()).fetchall()
    }
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# Quantized-ANN exactness recovery (r7 SQ8 / OPQ tiers)
# ---------------------------------------------------------------------------

# Small integer-grid vectors with a fixed 1.0 tail component so every
# norm is nonzero; duplicates and constant dimensions are allowed on
# purpose (ties break on neighbor_id identically in every tier, and a
# constant dimension exercises SQ's zero-scale guard).
VECSETS = st.lists(
    st.lists(
        st.integers(min_value=-3, max_value=3), min_size=3, max_size=3
    ),
    min_size=5,
    max_size=12,
)


def _emb_df(spark, vecs):
    rows = [(i, [float(x) for x in v] + [1.0]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


@given(vecs=VECSETS)
@PROP_SETTINGS
def test_sq_ann_exactness_recovery_property(spark, vecs):
    """For ANY corpus (duplicates, ties, constant dims included), SQ8
    with a full-coverage shortlist equals knn_bruteforce row-for-row:
    the affine encode/clip/decode round-trip and the zero-scale guard
    can reorder candidates only INSIDE the shortlist, which the exact
    refine undoes completely."""
    from parallel_map_reduce_spark.operators import similarity

    df = _emb_df(spark, vecs)
    n = len(vecs)
    k = min(3, n - 1)
    qids = [0, n - 1]
    exact = similarity.knn_bruteforce(df, query_ids=qids, k=k).collect()
    got = similarity.sq_ann(
        df, query_ids=qids, k=k, rerank_factor=(n // k) + 1
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exact))


@given(vecs=VECSETS)
@PROP_SETTINGS
def test_sq_store_roundtrip_property(spark, vecs):
    """For ANY corpus, the persisted SQ8 byte store round-trips within
    the quantizer's guarantee: every stored code is in the byte range,
    decode(encode(x)) is within scale/2 + ulp of x per dimension (the
    affine grid's half-step), constant dimensions recover EXACTLY, and
    sq_query_stored equals the self-contained sq_ann row-for-row on the
    same corpus — persistence through array<tinyint> loses nothing."""
    import shutil
    import tempfile

    from parallel_map_reduce_spark.operators import similarity

    df = _emb_df(spark, vecs)
    n = len(vecs)
    idx = tempfile.mkdtemp(prefix="prop_sq_")
    try:
        similarity.sq_build_index(df, idx)
        mrow = spark.read.parquet(f"{idx}/model").collect()[0]
        vmin, scale = list(mrow["vmin"]), list(mrow["scale"])
        orig = {
            r["vec_id"]: list(r["embedding"]) for r in df.collect()
        }
        for r in spark.read.parquet(f"{idx}/codes").collect():
            x = orig[r["vec_id"]]
            for d, c in enumerate(r["code"]):
                assert -128 <= c <= 127
                deq = vmin[d] + (c + 128.0) * scale[d]
                if scale[d] == 1.0 and vmin[d] == x[d]:
                    # possibly a constant dim: exact recovery
                    pass
                # in-range values land within half a grid step; clipped
                # values (impossible here: model trained on this corpus)
                # would be bounded by the range edge instead
                assert abs(deq - x[d]) <= scale[d] / 2.0 + 1e-9, (
                    r["vec_id"],
                    d,
                )
        k = min(3, n - 1)
        qids = [0, n - 1]
        got = similarity.sq_query_stored(
            spark, idx, df, query_ids=qids, k=k
        ).collect()
        want = similarity.sq_ann(df, query_ids=qids, k=k).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@given(vecs=VECSETS)
@PROP_SETTINGS
def test_opq_ann_exactness_recovery_property(spark, vecs):
    """For ANY corpus, the trained OPQ rotation is orthogonal and
    OPQ+refine with a full-coverage shortlist equals knn_bruteforce
    row-for-row — the Procrustes alternation can never break the
    refine contract, whatever rotation it lands on."""
    import numpy as np

    from parallel_map_reduce_spark.operators import similarity

    df = _emb_df(spark, vecs)
    n = len(vecs)
    codes = min(4, n)
    rot, cb = similarity.opq_train(
        df, m=2, codes=codes, n_iter=3, kmeans_iters=3
    )
    assert np.allclose(rot @ rot.T, np.eye(4), atol=1e-8)
    k = min(3, n - 1)
    qids = [0, n - 1]
    exact = similarity.knn_bruteforce(df, query_ids=qids, k=k).collect()
    got = similarity.opq_ann(
        df,
        query_ids=qids,
        k=k,
        m=2,
        codes=codes,
        n_iter=3,
        rerank_factor=(n // k) + 1,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exact))


@given(vecs=VECSETS)
@PROP_SETTINGS
def test_sq_train_matches_numpy_minmax(spark, vecs):
    """sq_train's distributed posexplode agg equals the numpy
    per-dimension min/max of the same matrix, in dimension order."""
    import numpy as np

    from parallel_map_reduce_spark.operators import similarity

    df = _emb_df(spark, vecs)
    mat = np.array([[float(x) for x in v] + [1.0] for v in vecs])
    vmin, vmax = similarity.sq_train(df)
    assert np.array_equal(vmin, mat.min(axis=0))
    assert np.array_equal(vmax, mat.max(axis=0))


# --- cluster-sharded pair split (r8 hot-cluster decomposition) -----------

VEC_DIM = 6
PAIR_VECS = st.lists(
    st.lists(
        st.floats(
            min_value=-2.0, max_value=2.0, allow_nan=False, allow_infinity=False
        ),
        min_size=VEC_DIM,
        max_size=VEC_DIM,
    ),
    min_size=2,
    max_size=14,
)
PAIR_SPLIT_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(
    vecs=PAIR_VECS,
    data=st.data(),
)
@PAIR_SPLIT_SETTINGS
def test_cluster_sharded_split_invariant_under_assignment(spark, vecs, data):
    """The hot-cluster block-pair decomposition must be value-neutral for
    ANY cluster assignment, any occupancy threshold, and any block
    count — including adversarial shapes: all vectors in one cluster,
    every vector its own cluster, thresholds that split none/some/all
    clusters, sparse and gappy id spaces (negative-residue protection is
    pmod's job), and num_blocks exceeding the corpus size."""
    from parallel_map_reduce_spark.operators.curation_extras import (
        cluster_sharded_pairs,
    )

    n = len(vecs)
    ids = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=n,
            max_size=n,
            unique=True,
        )
    )
    clusters = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=3), min_size=n, max_size=n
        )
    )
    block_above = data.draw(st.integers(min_value=1, max_value=n + 1))
    num_blocks = data.draw(st.sampled_from([2, 3, 4, 7, 16]))
    threshold = data.draw(st.sampled_from([-1.0, 0.0, 0.5, 0.9]))

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in zip(ids, vecs)],
        schema="vec_id long, embedding array<double>",
    )
    assigned = spark.createDataFrame(
        [Row(vec_id=i, cluster=c) for i, c in zip(ids, clusters)],
        schema="vec_id long, cluster int",
    )

    def as_map(df):
        return {
            (r["cluster"], r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in df.collect()
        }

    split = as_map(
        cluster_sharded_pairs(
            emb,
            assigned,
            threshold,
            block_above=block_above,
            num_blocks=num_blocks,
        )
    )
    plain = as_map(
        cluster_sharded_pairs(emb, assigned, threshold, block_above=None)
    )
    assert split == plain
