"""LLM-pipeline operator tests: dedup tiers, similarity search recall,
multimodal plumbing. The deterministic cores are oracle-checked by the
driver; these tests cover the approximate/engine-side behavior."""

import glob
import math
import os

import pytest
from conftest import REFERENCE_FILES_DIR
from pyspark.sql import Row
from pyspark.sql import functions as F

from parallel_map_reduce_spark.operators import dedup, multimodal, similarity
from parallel_map_reduce_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF, "embeddings").cache()


# --- exact dedup ---------------------------------------------------------


def test_dedup_exact_keeps_min_id(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=5, text="same text"),
            Row(doc_id=2, text="same text"),
            Row(doc_id=9, text="other"),
        ],
        schema="doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(df).collect())
    assert kept == [2, 9]


def test_exact_dup_groups(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text="dup" if i < 3 else f"u{i}") for i in range(6)],
        schema="doc_id long, text string",
    )
    groups = dedup.exact_dup_groups(df).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 3
    assert groups[0]["keep_id"] == 0


# --- shingles / minhash / LSH -------------------------------------------


def test_shingles_short_doc(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b"), Row(doc_id=2, text="a b c d")],
        schema="doc_id long, text string",
    )
    rows = dedup.explode_shingles(df).collect()
    got = {(r["doc_id"], r["shingle"]) for r in rows}
    assert got == {(2, "a b c"), (2, "b c d")}  # doc 1 too short


def test_minhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="w1 w2 w3 w4 w5"), Row(doc_id=2, text="w1 w2 w3 w4 w5")],
        schema="doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(df, num_hashes=8).collect()
    a, b = sorted(sigs, key=lambda r: r["doc_id"])
    assert [a[f"h{i}"] for i in range(8)] == [b[f"h{i}"] for i in range(8)]


def test_lsh_recall_vs_exact_jaccard(spark, docs):
    """LSH near-dup pipeline must recover ≥90% of true jaccard≥0.5 pairs
    (at these settings on this corpus it is exact)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "corpus should contain planted near-dups"
    assert lsh <= exact  # verification step guarantees no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall}"


def test_simhash_identical_and_near(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"  # one extra token
    far = "completely different tokens entirely unrelated content here now"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=base),
         Row(doc_id=3, text=near), Row(doc_id=4, text=far)],
        schema="doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert sigs[1] == sigs[2]
    ham_near = bin(sigs[1] ^ sigs[3]).count("1")
    ham_far = bin(sigs[1] ^ sigs[4]).count("1")
    assert ham_near < ham_far


def test_simhash_block_pairs_equal_all_pairs(spark, docs):
    """The pigeonhole block bucketing is lossless: the scale tier must
    return EXACTLY the all-pairs tier's (id_a, id_b, hamming) set."""
    exact = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_pairs(docs, max_hamming=4).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_block_near_pairs(docs, max_hamming=4).collect()
    }
    assert blocked == exact
    assert exact  # sf0.01 documents contain near-dups; empty = broken test


def test_prefix_filtered_pairs_equal_naive(spark, docs):
    """Prefix filtering (AllPairs) is lossless: joining only each doc's
    rarest n - ceil(t*n) + 1 shingles plus exact verify must return
    EXACTLY the naive self-join's (id_a, id_b, jaccard) set — at two
    thresholds, so both heavy (t=0.5) and light (t=0.2) pruning paths
    are exercised."""
    for t in (0.5, 0.2):
        naive = {
            tuple(r)
            for r in dedup.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        prefix = {
            tuple(r)
            for r in dedup.ngram_jaccard_pairs_prefix(docs, threshold=t).collect()
        }
        assert prefix == naive, f"t={t}"
    assert naive  # sf corpus plants near-dups; empty = broken test


def test_prefix_filter_excludes_hot_shingles_from_join(spark):
    """The ranking pushes corpus-frequent shingles out of the joined
    prefix; docs overlapping ONLY via boilerplate that fills their
    suffixes must still pair correctly (completeness)."""
    boiler = "common license header text always present"
    rows = [
        Row(doc_id=i, text=f"u{i}a u{i}b u{i}c {boiler}") for i in range(6)
    ]
    rows += [
        Row(doc_id=100, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=101, text="alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    naive = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.2).collect()
    }
    prefix = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs_prefix(df, threshold=0.2).collect()
    }
    assert prefix == naive
    assert (100, 101) in prefix


# (t, n_sh) where the former double form ceil(n_sh·2t/(1+t) - 1e-9) of the
# index-prefix bound was one too high (found by scanning n_sh down from
# 10^9 over t = 0.1 .. 0.95); the same n_sh also breaks alpha at t=0.2, 0.8.
_PPJOIN_FLOAT_MISSES = [(0.2, 999_999_999), (0.4, 999_999_994), (0.8, 999_999_999)]


def test_ppjoin_bounds_are_exact_up_to_a_billion_shingles(spark):
    """PPJoin's prefix lengths, size-ratio prune and required overlap,
    evaluated by Spark exactly as the prefix tier does, equal their
    exact rational values for set sizes up to 10^9 — including the
    sizes where a double ceil with an epsilon guard is off by one."""
    from fractions import Fraction

    sizes = {1, 2, 3, 4, 5, 6, 7, 9, 11, 97, 1000, 999_983, 10**6, 10**7 + 1}
    sizes |= {n for _, n in _PPJOIN_FLOAT_MISSES} | {999_999_995, 10**9}
    rows = [(n, n, n_l) for n in sorted(sizes) for n_l in (n, 10**9)]
    frame = spark.createDataFrame(rows, "n_sh long, n_s long, n_l long")
    thresholds = (0.2, 0.35, 0.4, 0.5, 0.7, 0.8, 0.9)
    bounds = [
        c.alias(f"b{j}_{i}")
        for j, t in enumerate(thresholds)
        for i, c in enumerate(dedup._ppjoin_bounds(t))
    ]
    got = frame.select("n_sh", "n_l", *bounds).collect()
    for j, t in enumerate(thresholds):
        r = Fraction(str(t))
        for row in got:
            n, n_l = row[0], row[1]
            probe, index, size_ok, alpha = row[2 + 4 * j : 6 + 4 * j]
            assert probe == n - math.ceil(n * r) + 1, (t, n)
            assert index == n - math.ceil(n * 2 * r / (1 + r)) + 1, (t, n)
            assert size_ok == (n_l * r <= n), (t, n, n_l)
            assert alpha == math.ceil((n + n_l) * r / (1 + r)), (t, n, n_l)
    for t, n in _PPJOIN_FLOAT_MISSES:
        r = Fraction(str(t))
        exact = math.ceil(n * 2 * r / (1 + r))
        assert math.ceil(n * (2.0 * t / (1.0 + t)) - 1e-9) == exact + 1
    # A threshold with no short decimal form rounds DOWN (lossless side).
    assert dedup._threshold_ratio(1 / 3) == (333_333_333, 10**9)


def test_prefix_equals_naive_on_zipfian_boilerplate(spark):
    """Pytest twin of tools/bench_skew_crossover.py: on a corpus with a
    genuine Zipfian head (a boilerplate block shared by 120 of 440 docs
    — hot-shingle document frequency f=120, far past anything in the
    synthetic testdata), the prefix tier must still return EXACTLY the
    naive tier's pair set. This is the regime the prefix tier exists
    for; equality here pins the lossless claim where pruning actually
    bites."""
    boiler = " ".join(f"boiler{i}" for i in range(15))
    n_docs, hot_f = 400, 120
    rows = []
    for d in range(n_docs):
        body = " ".join(f"w{d}x{i}" for i in range(40))
        rows.append((d, body + " " + boiler if d < hot_f else body))
    for i in range(40):  # true near-dup clones, some inside the hot set
        body = " ".join(f"w{i}x{j}" for j in range(40))
        suffix = " " + boiler if i < hot_f else ""
        rows.append((n_docs + i, body + " zz" + str(i) + suffix))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    naive = {
        tuple(r) for r in dedup.ngram_jaccard_pairs(df, threshold=0.2).collect()
    }
    prefix = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs_prefix(df, threshold=0.2).collect()
    }
    assert prefix == naive
    assert len(naive) >= 40  # every clone pair found


def test_df_cap_identity_when_cap_not_hit(spark, docs):
    """With a cap above the corpus's max shingle DF, the capped tier is
    exactly the uncapped tier (cap only ever REMOVES hot shingles)."""
    uncapped = {
        tuple(r) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs_capped(
            docs, threshold=0.5, max_df=10**9
        ).collect()
    }
    assert capped == uncapped
    assert uncapped


def test_df_cap_drops_boilerplate_only_pairs(spark):
    """Docs overlapping ONLY through a corpus-frequent shingle lose that
    pair under the cap; genuinely-similar docs keep theirs."""
    boiler = "common license header text"  # shingles shared by ALL docs
    rows = [Row(doc_id=i, text=f"{boiler} unique{i} filler{i} tail{i}") for i in range(8)]
    # two genuinely near-identical docs
    rows += [
        Row(doc_id=100, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=101, text="alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs_capped(df, threshold=0.2, max_df=4)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), f"boilerplate pair survived: {got}"


def test_df_cap_uses_broadcast_anti_join(spark, docs):
    plan = dedup.df_capped_shingles(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_simhash_block_pairs_rejects_indivisible_bits():
    with pytest.raises(ValueError):
        dedup.simhash_block_near_pairs(None, max_hamming=6)  # 60 % 7 != 0


# --- similarity ----------------------------------------------------------


def test_knn_bruteforce_shape(spark, embeddings):
    out = similarity.knn_bruteforce(embeddings, query_ids=[0, 1], k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}
    for q, rows in by_q.items():
        assert len(rows) == 3
        sims = [r["cosine_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)


def test_lsh_ann_recall(spark, embeddings):
    """Multi-table bucketed ANN: mean recall vs brute force must clear
    0.5 even on these near-uniform embeddings (random recall ≈ k/N = 1%;
    clustered real embeddings recall far higher at the same settings)."""
    k = 5
    exact = similarity.knn_bruteforce(embeddings, query_ids=list(range(10)), k=k)
    approx = similarity.lsh_bucket_ann(
        embeddings, query_ids=list(range(10)), k=k, num_planes=4, num_tables=8
    )
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    a = {}
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(e[q] & a.get(q, set())) / k for q in e]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"ANN mean recall {mean_recall}"


def test_pq_ann_recall_and_shape(spark, embeddings):
    """PQ+refine ANN: mean recall vs brute force must clear 0.5 (measured
    0.84-0.96 across sfs at the defaults), every returned similarity is
    the EXACT re-ranked cosine (a subset of the brute-force pair scores),
    and each query returns exactly k self-excluded rows."""
    k = 5
    exact = similarity.knn_bruteforce(
        embeddings, query_ids=list(range(10)), k=k
    ).collect()
    approx = similarity.pq_ann(
        embeddings, query_ids=list(range(10)), k=k
    ).collect()
    e = {}
    exact_sims = {}
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        exact_sims[(r["query_id"], r["neighbor_id"])] = r["cosine_sim"]
    a = {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert r["neighbor_id"] != r["query_id"]
        # re-ranked similarity is exact: where the pair also appears in
        # the brute-force top-k, the scores agree bit-for-bit
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sims:
            assert r["cosine_sim"] == exact_sims[key]
    assert all(len(v) == k for v in a.values())
    recalls = [len(e[q] & a.get(q, set())) / k for q in e]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"PQ mean recall {mean_recall}"


def test_ivfpq_ann_recall(spark, embeddings):
    """IVFADC (IVF cell pruning x PQ codes + refine): mean recall vs
    brute force must clear 0.5 — the cell-miss floor is knn_ivf_ann's,
    the in-cell fidelity is knn_pq_ann's (measured 0.64-0.74 on these
    near-uniform embeddings across sfs)."""
    k = 5
    exact = similarity.knn_bruteforce(
        embeddings, query_ids=list(range(10)), k=k
    ).collect()
    approx = similarity.ivfpq_ann(
        embeddings, query_ids=list(range(10)), k=k
    ).collect()
    e = {}
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    a = {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert r["neighbor_id"] != r["query_id"]
    recalls = [len(e[q] & a.get(q, set())) / k for q in e]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"IVFPQ mean recall {mean_recall}"


def test_pq_codebooks_shape_and_determinism(spark, embeddings):
    """Codebooks: (m, codes, dim/m) with fixed seeds — two trainings on
    the same corpus are identical; indivisible m is rejected."""
    import numpy as np

    cb1 = similarity.pq_train_codebooks(embeddings, m=4, codes=8)
    cb2 = similarity.pq_train_codebooks(embeddings, m=4, codes=8)
    assert cb1.shape == (4, 8, 16)
    assert np.array_equal(cb1, cb2)
    with pytest.raises(ValueError):
        similarity.pq_train_codebooks(embeddings, m=7)
    # shared variant: one codebook replicated across subspaces, and
    # genuinely different from the per-subspace fits
    cbs = similarity.pq_train_codebooks(embeddings, m=4, codes=8, shared=True)
    assert cbs.shape == (4, 8, 16)
    assert np.array_equal(cbs[0], cbs[3])
    assert not np.array_equal(cbs, cb1)


# --- multimodal ----------------------------------------------------------


def test_media_schema_and_payload(spark, docs):
    media = multimodal.documents_as_media(docs)
    row = media.filter(F.col("media_id") == 0).collect()[0]
    assert row["kind"] in ("image", "audio", "video")
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["meta"]["n_bytes"] == len(row["payload"])


def test_extract_features_batched(spark, docs):
    media = multimodal.documents_as_media(docs.limit(50))
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert r["width"] >= 16 and r["height"] >= 16
        assert (r["n_frames"] == 1) == (r["kind"] == "image")
        assert len(r["feature_hash"]) == 32


def test_decoder_rejects_unknown_container():
    """Non-image bytes still raise: only recognized containers decode."""
    with pytest.raises(ValueError):
        multimodal.decode_image(b"not an image payload at all")


def test_png_raster_decode_all_filter_types():
    """Full raster round trip under every PNG filter type (0-4): encode
    with each per-row filter, decode with the stdlib unfilterer, recover
    the exact pixel bytes. Filters 1-4 exercise the Sub/Up/Average/Paeth
    reconstruction paths a conforming external encoder may emit."""
    from parallel_map_reduce_spark.functions.imaging import (
        png_decode_gray,
        png_encode_gray,
    )

    w, h = 23, 9
    pixels = bytes((x * 31 + y * 7) % 256 for y in range(h) for x in range(w))
    for ft in range(5):
        png = png_encode_gray(w, h, pixels, filter_type=ft)
        assert png_decode_gray(png) == (w, h, pixels), f"filter {ft}"
    # corrupted chunk bytes must fail the CRC check, not decode garbage
    png = png_encode_gray(w, h, pixels)
    broken = bytearray(png)
    broken[40] ^= 0xFF
    with pytest.raises(ValueError):
        png_decode_gray(bytes(broken))


def test_pixel_stats_matches_generator(spark, docs):
    """pixel_stats decodes the real PNG rasters; stats must equal the
    deterministic generator's closed form."""
    import hashlib

    media = multimodal.documents_as_png_media(docs.limit(20))
    got = {r["media_id"]: r for r in multimodal.pixel_stats(media).collect()}
    src = {r["doc_id"]: r["text"] for r in docs.limit(20).collect()}
    assert len(got) == len(src)
    for doc_id, text in src.items():
        hx = hashlib.md5((text or "").encode()).hexdigest()
        c = int(hx[:2], 16)
        w = 1 + int(hx[:4], 16) % 64
        ht = 1 + int(hx[4:8], 16) % 64
        row = [(x * 7 + c) % 256 for x in range(w)]
        r = got[doc_id]
        assert (r["width"], r["height"]) == (w, ht)
        assert r["n_pixels"] == w * ht
        assert r["sum_pixels"] == sum(row) * ht
        assert r["min_pixel"] == min(row)
        assert r["max_pixel"] == max(row)


def test_png_encode_decode_roundtrip():
    from parallel_map_reduce_spark.functions.imaging import (
        image_dims,
        png_encode_gray,
    )

    png = png_encode_gray(37, 11, bytes(range(37)) * 11)
    assert image_dims(png) == ("png", 37, 11)
    assert multimodal.decode_image(png) == (37, 11)
    # spec validity beyond our own parser: zlib inflates the IDAT back
    # to exactly height * (1 + width) filtered scanline bytes
    import struct as st
    import zlib

    idat_at = png.index(b"IDAT")
    (ln,) = st.unpack(">I", png[idat_at - 4 : idat_at])
    raw = zlib.decompress(png[idat_at + 4 : idat_at + 4 + ln])
    assert len(raw) == 11 * (1 + 37)


def test_image_dims_parses_foreign_headers():
    """JPEG/GIF/BMP header layouts, built byte-by-byte from the specs."""
    from parallel_map_reduce_spark.functions.imaging import image_dims

    jpeg = (
        b"\xff\xd8"  # SOI
        + b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"  # APP0
        + b"\xff\xc0\x00\x11\x08" + (480).to_bytes(2, "big")
        + (640).to_bytes(2, "big") + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )
    assert image_dims(jpeg) == ("jpeg", 640, 480)
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 4
    assert image_dims(gif) == ("gif", 320, 200)
    bmp = b"BM" + b"\x00" * 16 + (800).to_bytes(4, "little") + (-600).to_bytes(4, "little", signed=True) + b"\x00" * 8
    assert image_dims(bmp) == ("bmp", 800, 600)
    assert image_dims(b"garbage bytes here") is None


def test_real_decode_media_pipeline(spark, docs):
    """documents_as_png_media payloads are real PNGs; extract_features
    with the REAL decoder recovers the encoder's dimensions from bytes."""
    import hashlib as hl

    media = multimodal.documents_as_png_media(docs.limit(20))
    feats = {
        r["media_id"]: (r["width"], r["height"])
        for r in multimodal.extract_features(media, use_fake_decoder=False).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.limit(20).collect()}
    assert len(feats) == 20
    for doc_id, text in texts.items():
        h = hl.md5((text or "").encode()).hexdigest()
        expect = (1 + int(h[:4], 16) % 64, 1 + int(h[4:8], 16) % 64)
        assert feats[doc_id] == expect


def test_frame_sample_plan(spark, docs):
    media = multimodal.documents_as_media(docs.limit(30))
    plan = multimodal.frame_sample_plan(media, every_n=30)
    rows = plan.collect()
    assert rows, "some videos expected in first 30 docs"
    for r in rows:
        assert r["frame_index"] % 30 == 0


def test_embedding_lsh_near_dup_recall(spark, embeddings):
    """Bucketed near-dup vs the all-pairs oracle: output must be a strict
    subset (candidates are exactly verified, so no false positives are
    possible) with recall >= 0.9 at 16 tables for the corpus threshold.
    Cosines on shared pairs must bit-match: the bucket kernel and the
    blocked exact kernel are separate hand-copies of the same
    sequential-fold numeric contract, and this equality (with the
    cluster-sharded twin's identical pin) is the guard that a numeric
    change applied to one copy but not the others fails loudly."""
    exact = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in similarity.embedding_near_dup_pairs(
            embeddings, threshold=0.4
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in similarity.embedding_near_dup_lsh(
            embeddings, threshold=0.4, num_tables=16
        ).collect()
    }
    assert set(lsh) <= set(exact), f"false positives: {set(lsh) - set(exact)}"
    assert all(lsh[p] == exact[p] for p in lsh)  # bit-equal rounded cosines
    assert exact and len(lsh) / len(exact) >= 0.9


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=4/16 cells must recover a solid fraction of the
    exact top-5 neighbor sets; with nprobe=16 (probe everything) it must
    equal brute force exactly."""
    emb = load_table(spark, SF, "embeddings")
    qids = list(range(10))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_bruteforce(emb, query_ids=qids, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_ann(emb, query_ids=qids, k=5, nprobe=4).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"IVF nprobe=4 recall {recall}"

    full = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_ann(emb, query_ids=qids, k=5, nprobe=16).collect()
    }
    assert full == exact


def test_resize_media_plumbing(spark, docs):
    media = multimodal.documents_as_media(docs.limit(50))
    out = multimodal.resize_media(media, max_side=256).collect()
    assert len(out) == 50
    for r in out:
        long_side = max(r["new_width"], r["new_height"])
        assert long_side <= 256
        # aspect ratio preserved within integer truncation
        if max(r["orig_width"], r["orig_height"]) > 256:
            assert long_side == 256 or long_side == 255
        else:  # never upscaled
            assert r["new_width"] == r["orig_width"]
            assert r["new_height"] == r["orig_height"]
        assert r["payload"] is not None


def test_connected_components_chain_and_cliques(spark):
    """A 6-node chain forces label propagation across the full diameter
    (worst case for the fixpoint loop); two disjoint cliques plus an
    isolated edge check component separation."""
    from parallel_map_reduce_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),  # chain -> all label 1
         (10, 11), (11, 12), (10, 12),            # triangle -> label 10
         (20, 21)],                               # pair -> label 20
        ["id_a", "id_b"],
    )
    got = {
        r["u"]: r["label"] for r in connected_components(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_long_chain_converges(spark):
    """A 64-node path graph (diameter 63) must converge inside the
    default max_iter=25 — possible only because each round composes a
    pointer jump (label(u) <- label(label(u))) with the neighbor
    propagation, making convergence O(log diameter). Plain min-label
    propagation would need 63 rounds and silently return unconverged
    labels; this pins the jump against regression."""
    from parallel_map_reduce_spark.operators.dedup import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    got = {r["u"]: r["label"] for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n)}


@pytest.mark.skipif(
    not glob.glob(os.path.join(REFERENCE_FILES_DIR, "small_*.txt")),
    reason="reference corpus not present",
)
def test_binary_file_source_reads_payload_bytes(spark):
    """binaryFile ingestion: content bytes and lengths must match the
    on-disk files exactly, and a metadata-only projection must not fail
    (content column pruned)."""
    import glob as g
    import os

    from parallel_map_reduce_spark.sources.formats import read_binary_files

    df = read_binary_files(spark, "/root/reference/files", glob="small_*.txt")
    rows = {os.path.basename(r["path"]): r for r in df.collect()}
    disk = {
        os.path.basename(p): p
        for p in g.glob("/root/reference/files/small_*.txt")
    }
    assert set(rows) == set(disk) and len(rows) == 3
    for name, p in disk.items():
        with open(p, "rb") as fh:
            raw = fh.read()
        assert bytes(rows[name]["content"]) == raw
        assert rows[name]["length"] == len(raw)

    meta_only = read_binary_files(spark, "/root/reference/files", glob="small_*.txt")
    total = meta_only.select(F.sum("length").alias("n")).collect()[0]["n"]
    assert total == sum(os.path.getsize(p) for p in disk.values())


def test_semantic_dedup_ann_keep_set_contains_exact(spark, docs):
    """LSH edge recall < 1 can only SPLIT components (a missed edge never
    merges two), so the ANN tier keeps a SUPERSET of the exact tier's
    docs — the containment that makes rows-only driver checks safe."""
    from parallel_map_reduce_spark.operators.queries_llm import (
        _semantic_dedup_keep,
    )

    exact = {
        r["doc_id"] for r in _semantic_dedup_keep(spark, SF, "exact").collect()
    }
    ann = {r["doc_id"] for r in _semantic_dedup_keep(spark, SF, "ann").collect()}
    assert exact, "corpus should contain semantic near-dups"
    assert exact <= ann
    # and the ANN tier must still drop MOST of what exact drops
    n_docs = docs.count()
    dropped_exact, dropped_ann = n_docs - len(exact), n_docs - len(ann)
    assert dropped_ann >= 0.8 * dropped_exact


def test_decontaminate_eval_docs_excluded_and_flags_consistent(spark):
    """Eval docs never appear in the output; a fully-contained training
    doc is flagged; a disjoint doc is not."""
    from pyspark.sql import Row

    rows = [
        Row(doc_id=0, text="alpha beta gamma delta epsilon"),  # eval (0 % 50)
        Row(doc_id=1, text="alpha beta gamma delta epsilon"),  # fully shared
        Row(doc_id=2, text="u2a u2b u2c u2d u2e"),  # disjoint
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    from parallel_map_reduce_spark.operators.textstats import (
        decontaminate_against_eval,
    )

    out = {
        r["doc_id"]: (r["n_shared"], r["n_sh"], r["contaminated"])
        for r in decontaminate_against_eval(df, eval_mod=50).collect()
    }
    assert set(out) == {1, 2}
    assert out[1][2] is True and out[1][0] == out[1][1]
    assert out[2][2] is False and out[2][0] == 0


def test_stratified_sample_deterministic_and_rate(spark, docs):
    """Same rows on every run (pure function of doc_id), and the en-rate
    lands near 0.5 (binomial tolerance at sf0.01's ~100 en docs)."""
    from parallel_map_reduce_spark.operators.queries_llm import (
        q_stratified_sample,
    )

    s1 = {r["doc_id"] for r in q_stratified_sample(spark, SF).collect()}
    s2 = {r["doc_id"] for r in q_stratified_sample(spark, SF).collect()}
    assert s1 == s2 and s1
    en_total = docs.filter(F.col("lang") == "en").count()
    en_kept = (
        q_stratified_sample(spark, SF).filter(F.col("lang") == "en").count()
    )
    assert abs(en_kept / en_total - 0.5) < 0.2


def test_duplicated_span_stats_planted(spark):
    """Exact-substring span stats on a constructed corpus: doc 0 is
    canonical; doc 1 repeats an 8-token block from doc 0 (one window's
    coverage = 8 tokens); doc 2 repeats a 10-token block (3 overlapping
    duplicated windows whose merged coverage is 10 tokens, pinning the
    interval-merge arithmetic); doc 3 shares nothing."""
    from parallel_map_reduce_spark.operators.textstats import duplicated_span_stats

    block8 = " ".join(f"b{i}" for i in range(8))
    block10 = " ".join(f"c{i}" for i in range(10))
    rows = [
        (0, block8 + " " + block10),                  # canonical for both
        (1, "u1a u1b " + block8 + " u1c"),            # one 8-window dup
        (2, "v1 " + block10 + " v2 v3"),              # three windows, 10 tokens
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),           # unique content
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_windows"], r["n_dup_tokens"], r["dup_frac"])
        for r in duplicated_span_stats(df).collect()
    }
    assert got[0] == (18, 0, 0, 0.0)  # canonical occurrences don't count
    assert got[1] == (11, 1, 8, round(8 / 11, 4))
    assert got[2] == (13, 3, 10, round(10 / 13, 4))
    assert got[3] == (9, 0, 0, 0.0)


def test_substring_dedup_removes_only_noncanonical(spark):
    """Removal twin of the planted span-stats test: the canonical doc
    keeps its text verbatim; dup docs lose exactly the covered tokens
    (their own unique tokens survive, order preserved)."""
    from parallel_map_reduce_spark.operators.textstats import substring_dedup_corpus

    block8 = " ".join(f"b{i}" for i in range(8))
    rows = [
        (0, block8 + " tail0"),
        (1, "u1a u1b " + block8 + " u1c"),
        (2, "w1 w2 w3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens_kept"], r["clean_text"])
           for r in substring_dedup_corpus(df).collect()}
    assert got[0] == (9, block8 + " tail0")
    assert got[1] == (3, "u1a u1b u1c")
    assert got[2] == (3, "w1 w2 w3")


# --- round-4b curation ops ----------------------------------------------


def test_misra_gries_bound_under_pruning(spark):
    """With capacity far below the vocabulary, the sketch must still
    (a) never overcount and (b) undercount any token by at most
    n_total/(capacity+1) — the MG guarantee the heavy_hitters_tokens
    audit booleans encode. capacity=4 forces real pruning."""
    from parallel_map_reduce_spark.functions.tokenize import tokens
    from parallel_map_reduce_spark.operators.textstats import heavy_hitter_sketch

    docs = load_table(spark, SF, "documents")
    tok = docs.select(
        F.explode(F.filter(tokens(F.col("text")), lambda w: w != F.lit(""))).alias("w")
    ).repartition(8)
    cap = 4
    est = {
        r["token"]: r["mg_count"]
        for r in heavy_hitter_sketch(tok, capacity=cap).collect()
    }
    exact = {r["w"]: r["cnt"] for r in tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n_total = sum(exact.values())
    assert len(est) > 0
    for t, e in est.items():
        assert e <= exact[t], f"{t}: overcount {e} > {exact[t]}"
    for t, c in exact.items():
        e = est.get(t, 0)
        assert (c - e) * (cap + 1) <= n_total, f"{t}: bound violated"
    # every token frequent enough is guaranteed present
    for t, c in exact.items():
        if c * (cap + 1) > n_total:
            assert t in est, f"heavy hitter {t} missing from sketch"


def test_hybrid_rrf_scores_match_rank_formula(spark):
    from parallel_map_reduce_spark.operators.queries_llm import (
        q_hybrid_retrieval_rrf,
    )

    rows = q_hybrid_retrieval_rrf(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        expect = 0.0
        if r["lex_rank"] > 0:
            expect += 1.0 / (60 + r["lex_rank"])
        if r["dense_rank"] > 0:
            expect += 1.0 / (60 + r["dense_rank"])
        assert abs(r["rrf_score"] - expect) < 1e-6
        assert 0 <= r["lex_rank"] <= 20 and 0 <= r["dense_rank"] <= 20
    # fused ordering is descending on the rounded score
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_domain_mixture_hits_weighted_targets(spark):
    from parallel_map_reduce_spark.operators.queries_llm import (
        q_domain_mixture_resample,
    )

    docs = load_table(spark, SF, "documents")
    src_n = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    weights = {s: int(s[3:]) % 4 + 1 for s in src_n}
    sum_w = sum(weights.values())
    t_total = sum(src_n.values()) // 2
    kept = q_domain_mixture_resample(spark, SF).collect()
    by_src: dict[str, int] = {}
    for r in kept:
        by_src[r["source"]] = by_src.get(r["source"], 0) + 1
    for s, n in src_n.items():
        target = t_total * weights[s] / sum_w
        rate = min(1.0, target / n)
        got = by_src.get(s, 0)
        # 4-sigma binomial tolerance
        sigma = math.sqrt(n * rate * (1 - rate))
        assert abs(got - n * rate) <= 4 * sigma + 1, (s, got, n * rate)
    # determinism: the keep decision is a pure row function
    again = q_domain_mixture_resample(spark, SF).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(r["doc_id"] for r in again)


def test_quality_quantile_filter_band(spark):
    from parallel_map_reduce_spark.operators.queries_llm import (
        q_quality_quantile_filter,
    )

    docs = load_table(spark, SF, "documents")
    lang_n = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rows = q_quality_quantile_filter(spark, SF).collect()
    by_lang: dict[str, int] = {}
    for r in rows:
        assert 0.25 <= r["pct_rank"] <= 0.75
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    for lang, n in lang_n.items():
        # percent_rank keeps ~half of each stratum (±2 boundary rows)
        assert abs(by_lang.get(lang, 0) - 0.5 * n) <= 0.02 * n + 2, lang


# --- PII scrub / line dedup / cluster assignment (round 4c) --------------


def test_pii_scrub_counts_and_redacts(spark):
    from parallel_map_reduce_spark.operators.textstats import pii_scrub

    df = spark.createDataFrame(
        [
            Row(
                doc_id=1,
                text="mail a.b+c@foo.example.org then 192.168.0.1 and +44-123-4567",
            ),
            Row(doc_id=2, text="no pii at all"),
            Row(doc_id=3, text="two mails x@y.io z@w.co one ip 10.0.0.7"),
        ],
        schema="doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_ips"], rows[1]["n_phones"]) == (1, 1, 1)
    assert (rows[2]["n_emails"], rows[2]["n_ips"], rows[2]["n_phones"]) == (0, 0, 0)
    assert (rows[3]["n_emails"], rows[3]["n_ips"]) == (2, 1)
    # redaction really replaced the spans (shorter text, no raw PII left)
    red1 = "mail <EMAIL> then <IP> and <PHONE>"
    assert rows[1]["n_chars_redacted"] == len(red1)
    import hashlib

    assert rows[1]["redacted_fp"] == hashlib.md5(red1.encode()).hexdigest()


def test_line_dedup_stats_rules(spark):
    from parallel_map_reduce_spark.operators.textstats import line_dedup_stats

    boiler = "nav home about contact login search help faq"  # 8 tokens
    uniq_a = "alpha beta gamma delta epsilon zeta eta theta"
    uniq_b = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{boiler} {uniq_a} tail"),  # dup, kept, short
            Row(doc_id=2, text=f"{boiler} {uniq_b}"),  # dup, kept
            Row(doc_id=3, text="tiny doc"),  # one short line only
        ],
        schema="doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in line_dedup_stats(df).collect()}
    assert rows[1]["n_lines"] == 3
    assert rows[1]["n_short"] == 1  # the 1-token tail
    assert rows[1]["n_corpus_dup"] == 1  # boilerplate line shared with doc 2
    assert rows[1]["n_kept"] == 1
    assert rows[1]["kept_chars"] == len(uniq_a)
    assert rows[2]["n_corpus_dup"] == 1 and rows[2]["n_kept"] == 1
    assert rows[3]["n_lines"] == 1 and rows[3]["n_kept"] == 0


def test_nearest_centroid_assign_seeds_self(spark, embeddings):
    """Every seed vector must be assigned to its own cluster at sim 1.0,
    and every vector gets exactly one assignment."""
    assigned = similarity.nearest_centroid_assign(embeddings).cache()
    n = embeddings.count()
    assert assigned.count() == n
    seed_ids = (
        embeddings.groupBy("label").agg(F.min("vec_id").alias("vec_id")).collect()
    )
    got = {
        r["vec_id"]: r
        for r in assigned.filter(
            F.col("vec_id").isin([s["vec_id"] for s in seed_ids])
        ).collect()
    }
    for s in seed_ids:
        r = got[s["vec_id"]]
        assert r["cluster"] == s["label"]
        assert r["sim"] == pytest.approx(1.0, abs=1e-6)
    assigned.unpersist()


def test_argmax_enc_matches_window_form(spark):
    """r13 optimization pin: the packed-long argmax (_argmax_enc /
    _argmax_sim / _argmax_cand) reproduces the row_number window's
    (sim DESC, cand ASC) winner bit-identically — including the decoded
    6-dp sim double and exact-tie cand breaks — on adversarial rounded
    sims spanning the full [-1, 1] range."""
    import random

    from pyspark.sql import Window

    rng = random.Random(13)
    rows = []
    # Adversarial sims: boundary values, exact ties within a key, and
    # random 6-dp decimals (matching the round(cosine, 6) contract).
    for key in range(200):
        k = rng.randint(2, 8)
        sims = [round(rng.uniform(-1.0, 1.0), 6) for _ in range(k)]
        if key % 3 == 0:  # force an exact tie on the max sim
            sims[rng.randrange(k)] = max(sims)
        if key % 7 == 0:
            sims[0] = rng.choice([-1.0, 1.0, 0.0, 0.999999, -0.999999])
        cands = rng.sample(range(0, 5000), k)
        rows += [(key, c, s) for c, s in zip(cands, sims)]
    df = spark.createDataFrame(rows, "key long, cand int, sim double")

    w = Window.partitionBy("key").orderBy(
        F.col("sim").desc(), F.col("cand").asc()
    )
    ref = {
        r["key"]: (r["cand"], r["sim"])
        for r in df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    got_df = (
        df.groupBy("key")
        .agg(F.max(similarity._argmax_enc(F.col("sim"), F.col("cand"))).alias("_e"))
        .select(
            "key",
            similarity._argmax_cand(F.col("_e")).alias("cand"),
            similarity._argmax_sim(F.col("_e")).alias("sim"),
        )
    )
    got = {r["key"]: (r["cand"], r["sim"]) for r in got_df.collect()}
    assert got == ref  # exact equality, doubles included
    # schema contract: cand decodes to int, sim to double
    types = dict(got_df.dtypes)
    assert types["cand"] == "int" and types["sim"] == "double"


def test_blocked_gram_sparse_and_negative_ids(spark):
    """Regression: (a) an id space that leaves a low block residue class
    empty while a higher one is populated must not crash the kernel
    (np.stack of an empty slice), and (b) negative ids must land in a
    valid block (pmod) rather than silently matching no block-pair
    group — both compared against brute force."""
    import itertools

    import math as _math

    vecs = {
        -9: [1.0, 0.0, 0.0, 0.0],
        -1: [1.0, 0.001, 0.0, 0.0],
        5: [0.0, 1.0, 0.0, 0.0],
        13: [0.0, 1.0, 0.001, 0.0],
        21: [0.0, 0.0, 1.0, 0.0],
    }
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs.items()],
        schema="vec_id long, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in similarity.embedding_all_pairs_blocked(
            df, threshold=0.5
        ).collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = _math.sqrt(sum(x * x for x in a))
        nb = _math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6)

    want = {}
    for i, j in itertools.combinations(sorted(vecs), 2):
        # float32 storage: quantize inputs the way the parquet/arrow
        # path does before the double-precision cosine
        import struct

        qa = [struct.unpack("f", struct.pack("f", x))[0] for x in vecs[i]]
        qb = [struct.unpack("f", struct.pack("f", x))[0] for x in vecs[j]]
        s = cos(qa, qb)
        if s >= 0.5:
            want[(i, j)] = s
    assert got == want


def test_sq_ann_recall_and_exact_recovery(spark, embeddings):
    """SQ8+refine ANN: (a) mean recall vs brute force clears 0.5 (8-bit
    affine error is far below neighbor gaps — measured 1.0 here); (b)
    returned similarities are the EXACT re-ranked cosines; (c) with a
    shortlist that covers the whole corpus (rerank_factor >= N/k) the
    output EQUALS knn_bruteforce row-for-row — quantization error can
    then only reorder inside the shortlist, which the exact refine
    undoes completely."""
    k = 5
    exact = similarity.knn_bruteforce(
        embeddings, query_ids=list(range(10)), k=k
    ).collect()
    approx = similarity.sq_ann(
        embeddings, query_ids=list(range(10)), k=k
    ).collect()
    e = {}
    exact_sims = {}
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        exact_sims[(r["query_id"], r["neighbor_id"])] = r["cosine_sim"]
    a = {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert r["neighbor_id"] != r["query_id"]
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sims:
            assert r["cosine_sim"] == exact_sims[key]
    assert all(len(v) == k for v in a.values())
    recalls = [len(e[q] & a.get(q, set())) / k for q in e]
    assert sum(recalls) / len(recalls) >= 0.5, f"SQ recall {recalls}"

    n = embeddings.count()
    full = similarity.sq_ann(
        embeddings,
        query_ids=list(range(10)),
        k=k,
        rerank_factor=(n // k) + 1,
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, exact))


def test_sq_ann_all_jvm_plan(spark, embeddings):
    """The SQ8 hot path is the only all-JVM ANN tier: no Python/Arrow
    eval node anywhere in the executed plan, queries broadcast, no
    SortMergeJoin."""
    df = similarity.sq_ann(embeddings, query_ids=list(range(10)), k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sq_train_bounds_and_constant_dim(spark):
    """sq_train returns per-dimension (min, max) in dimension order; a
    constant dimension decodes bit-exactly to its single value through
    the zero-scale guard."""
    import numpy as np

    rows = [(i, [float(i % 7) - 3.0, 2.5, float(i)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vmin, vmax = similarity.sq_train(df)
    assert np.allclose(vmin, [-3.0, 2.5, 0.0])
    assert np.allclose(vmax, [3.0, 2.5, 19.0])
    out = similarity.sq_ann(df, query_ids=[0, 1], k=3, rerank_factor=10)
    got = out.collect()
    assert {r["query_id"] for r in got} == {0, 1}
    assert all(len([r for r in got if r["query_id"] == q]) == 3 for q in (0, 1))


def test_sq_stored_matches_self_contained_and_stays_jvm(
    spark, embeddings, tmp_path
):
    """The persisted SQ8 store: (a) sq_query_stored on a full-corpus
    build answers IDENTICALLY to the self-contained sq_ann — the byte
    round-trip is exact, persisting changes the I/O shape, not a
    similarity; (b) the codes table really stores ONE BYTE per
    dimension (array<tinyint>); (c) the stored READ path — decode,
    asymmetric dot, shortlist, refine — launches no Python worker
    (the only stored reader in the ANN family with that property: the
    model rides as plan literals, not through a UDF)."""
    idx = str(tmp_path / "sq_idx")
    similarity.sq_build_index(embeddings, idx)
    stored = similarity.sq_query_stored(
        spark, idx, embeddings, query_ids=list(range(10)), k=5
    )
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
    assert "SortMergeJoin" not in plan
    got = sorted(map(tuple, stored.collect()))
    want = sorted(
        map(
            tuple,
            similarity.sq_ann(
                embeddings, query_ids=list(range(10)), k=5
            ).collect(),
        )
    )
    assert got == want
    codes = spark.read.parquet(f"{idx}/codes")
    assert dict(codes.dtypes)["code"] == "array<tinyint>"
    assert codes.count() == embeddings.count()


def test_sq_store_append_then_compact_answers_unchanged(
    spark, embeddings, tmp_path
):
    """SQ add-after-train + the SHARED flat-code compactor: build on
    the even-id half, append the odd half as two batches against the
    STORED model (out-of-range dims clip — the quantizer never
    retrains), fold with compact_pq_index UNCHANGED (same model+codes
    layout as PQ), and the stored answers are identical before/after
    the fold. Appended codes are pinned equal to an independent
    re-encode from the persisted model row — the add-after-train
    contract, byte-for-byte."""
    import numpy as np
    from pyspark.sql import functions as F

    idx = str(tmp_path / "sq_app")
    even = embeddings.filter(F.col("vec_id") % 2 == 0)
    similarity.sq_build_index(even, idx)
    for mres in (1, 3):
        similarity.sq_append_to_index(
            embeddings.filter(F.col("vec_id") % 4 == mres), idx
        )
    n = embeddings.count()
    assert spark.read.parquet(f"{idx}/codes").count() == n

    # independent re-encode of one appended row from the model row
    mrow = spark.read.parquet(f"{idx}/model").collect()[0]
    vmin = np.array(mrow["vmin"])
    scale = np.array(mrow["scale"])
    vec = np.array(
        embeddings.filter(F.col("vec_id") == 1)
        .select("embedding")
        .collect()[0][0],
        dtype="float64",
    )
    want_code = (
        np.clip(np.round((vec - vmin) / scale), 0, 255) - 128
    ).astype("int8")
    got_code = np.array(
        spark.read.parquet(f"{idx}/codes")
        .filter(F.col("vec_id") == 1)
        .collect()[0]["code"],
        dtype="int8",
    )
    assert (got_code == want_code).all()

    pre = sorted(
        map(
            tuple,
            similarity.sq_query_stored(
                spark, idx, embeddings, query_ids=list(range(10)), k=5
            ).collect(),
        )
    )
    files_before, files_after = similarity.compact_pq_index(spark, idx)
    assert files_before >= 3 and files_after < files_before
    post = sorted(
        map(
            tuple,
            similarity.sq_query_stored(
                spark, idx, embeddings, query_ids=list(range(10)), k=5
            ).collect(),
        )
    )
    assert pre == post


def test_ivfsq_exactness_recovery_and_recall(spark, embeddings, tmp_path):
    """The IVF×SQ composition: (a) with nprobe >= num_centroids (every
    cell probed) the stored answers EQUAL the flat SQ store's — the
    cells partition the corpus and the SQ model is the same global
    (min, max), so cell pruning is the ONLY approximation the
    composition adds; (b) at the registered nprobe=6 the mean recall
    vs brute force clears the 0.5 floor; (c) appended rows are
    assigned/encoded against the STORED models and the answers before/
    after a compact_ivf_index fold are identical (its third
    cid-partitioned store flavor)."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "ivfsq")
    similarity.ivfsq_build_index(embeddings, idx)
    allp = sorted(
        map(
            tuple,
            similarity.ivfsq_query_stored(
                spark, idx, embeddings, query_ids=list(range(10)), k=5,
                nprobe=16,
            ).collect(),
        )
    )
    flat = str(tmp_path / "sqflat")
    similarity.sq_build_index(embeddings, flat)
    assert allp == sorted(
        map(
            tuple,
            similarity.sq_query_stored(
                spark, flat, embeddings, query_ids=list(range(10)), k=5
            ).collect(),
        )
    )

    exact = similarity.knn_bruteforce(
        embeddings, query_ids=list(range(10)), k=5
    ).collect()
    e = {}
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    rows = similarity.ivfsq_query_stored(
        spark, idx, embeddings, query_ids=list(range(10)), k=5, nprobe=6
    ).collect()
    a = {}
    for r in rows:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(e[q] & a.get(q, set())) / 5 for q in e]
    assert sum(recalls) / len(recalls) >= 0.5, recalls

    # append-after-train + the shared cid-partitioned compactor
    similarity.ivfsq_append_to_index(
        spark.createDataFrame(
            [(10**6, [1.0] * 64)], "vec_id long, embedding array<double>"
        ),
        idx,
    )
    assert (
        spark.read.parquet(f"{idx}/invfile").count()
        == embeddings.count() + 1
    )
    pre = sorted(
        map(
            tuple,
            similarity.ivfsq_query_stored(
                spark, idx, embeddings, query_ids=list(range(10)), k=5
            ).collect(),
        )
    )
    files_before, files_after = similarity.compact_ivf_index(spark, idx)
    assert files_after <= files_before
    post = sorted(
        map(
            tuple,
            similarity.ivfsq_query_stored(
                spark, idx, embeddings, query_ids=list(range(10)), k=5
            ).collect(),
        )
    )
    assert pre == post


def test_ivfsq_stored_query_prunes_partitions_and_stays_jvm_corpus_side(
    spark, embeddings, tmp_path
):
    """IVF×SQ phase 2 keeps BOTH pruning axes visible in the plan: the
    inverted-file scan carries a dynamic-partition-pruning filter on
    cid (only probed cells are read), the probe join broadcasts, no
    SortMergeJoin — and the only Python in the plan is the |Q|-row
    probe-selection UDF: the corpus-side byte decode and scoring are
    JVM folds. The formatted plan shows the probe UDF TWICE — once in
    the main plan and once inside the dynamic-pruning subquery that
    re-evaluates the probe side to compute the partition filter — both
    over |Q| rows only; anything beyond that (or any row-at-a-time
    BatchEvalPython) would mean Python leaked into the corpus side."""
    import io
    import re
    from contextlib import redirect_stdout

    idx = str(tmp_path / "ivfsq_plan")
    similarity.ivfsq_build_index(embeddings, idx)
    df = similarity.ivfsq_query_stored(
        spark, idx, embeddings, query_ids=list(range(10)), k=5
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression(cid" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"ArrowEvalPython", plan)) <= 2, plan
    assert "BatchEvalPython" not in plan


def test_train_cap_noop_bound_and_layout_independence(spark, embeddings):
    """The FAISS-style bounded training set (_cap_train_set): (a) a
    non-binding cap is a true no-op — capped and uncapped codebooks are
    bit-identical; (b) a binding cap keeps ~cap rows and the draw is
    content-addressed, so it is identical under a different partition
    layout (DataFrame.sample would not be); (c) an IVF quantizer
    trained on the capped set still clears the recall floor."""
    import numpy as np

    cb_uncapped = similarity.pq_train_codebooks(
        embeddings, m=8, codes=16, shared=True, train_cap=None
    )
    cb_capped = similarity.pq_train_codebooks(
        embeddings, m=8, codes=16, shared=True
    )  # default cap 16384 >> 500 rows: must not bind
    assert np.array_equal(cb_uncapped, cb_capped)

    base = embeddings.select("vec_id", "embedding")
    cap = 100
    ids_a = {
        r["vec_id"]
        for r in similarity._cap_train_set(
            base, F.col("embedding"), cap
        ).collect()
    }
    ids_b = {
        r["vec_id"]
        for r in similarity._cap_train_set(
            base.repartition(7), F.col("embedding"), cap
        ).collect()
    }
    assert ids_a == ids_b  # layout-independent draw
    n = base.count()
    assert 0 < len(ids_a) <= n
    # binomial(n, cap/n): mean=cap, std≈sqrt(cap); 4-sigma bounds
    assert cap - 40 <= len(ids_a) <= cap + 40

    k = 5
    exact = similarity.knn_bruteforce(
        embeddings, query_ids=list(range(10)), k=k
    ).collect()
    approx = similarity.ivf_ann(
        embeddings, query_ids=list(range(10)), k=k, train_cap=cap
    ).collect()
    e = {}
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    a = {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(e[q] & a.get(q, set())) / k for q in e]
    assert sum(recalls) / len(recalls) >= 0.4, f"capped-train recall {recalls}"


def test_opq_rotation_properties_and_recall(spark, embeddings):
    """OPQ (Ge et al. 2013): (a) the trained rotation is orthogonal —
    R·Rᵀ = I to fp tolerance — so dots/norms are preserved and the ADC
    estimate in rotated space targets the same cosine; (b) returned
    similarities are the EXACT re-ranked cosines; (c) recall clears the
    0.5 audit floor (measured 0.98 at this sf vs PQ's 0.94); (d) a
    full-coverage shortlist (rerank_factor >= N/k) recovers
    knn_bruteforce row-for-row, same as the other refine-backed tiers."""
    import numpy as np

    rot, cb = similarity.opq_train(embeddings)
    dim = rot.shape[0]
    assert rot.shape == (dim, dim)
    assert np.allclose(rot @ rot.T, np.eye(dim), atol=1e-8)
    assert cb.shape[0] * cb.shape[2] == dim

    k = 5
    exact = similarity.knn_bruteforce(
        embeddings, query_ids=list(range(10)), k=k
    ).collect()
    approx = similarity.opq_ann(
        embeddings, query_ids=list(range(10)), k=k
    ).collect()
    exact_sims = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in exact
    }
    e = {}
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    a = {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert r["neighbor_id"] != r["query_id"]
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sims:
            assert r["cosine_sim"] == exact_sims[key]
    assert all(len(v) == k for v in a.values())
    recalls = [len(e[q] & a.get(q, set())) / k for q in e]
    assert sum(recalls) / len(recalls) >= 0.5, f"OPQ recall {recalls}"

    n = embeddings.count()
    full = similarity.opq_ann(
        embeddings,
        query_ids=list(range(10)),
        k=k,
        rerank_factor=(n // k) + 1,
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, exact))


def test_opq_training_descends(spark, embeddings):
    """The alternation is a descent on ||X·R − X̂||_F: the trained
    (R, codebooks) reconstruct the sample no worse than iteration-0
    plain PQ (identity rotation, same inner k-means budget)."""
    import numpy as np

    base = embeddings.select(
        similarity.to_double_array(F.col("embedding")).alias("vec")
    )
    x = np.array([r["vec"] for r in base.collect()])

    rng = np.random.default_rng(42)
    cb0 = similarity._pq_fit_numpy(x, 8, 32, 10, rng)
    err0 = np.linalg.norm(x - similarity._pq_encode_decode_numpy(x, cb0))

    rot, cb = similarity.opq_train(embeddings)
    xr = x @ rot
    err = np.linalg.norm(xr - similarity._pq_encode_decode_numpy(xr, cb))
    assert err <= err0 * 1.001, (err, err0)


def test_shared_codebook_with_rotation_raises():
    """The OPQ trainer fits per-subspace codebooks, so the builders
    must REJECT shared_codebook=True combined with rotation=True loudly
    (pre-fix they silently ignored the flag); the None default resolves
    shared for plain PQ and per-subspace under rotation — i.e. exactly
    the pre-fix behavior for every caller who never passed the flag."""
    import pytest as _pytest

    assert similarity._resolve_shared_codebook(None, False) is True
    assert similarity._resolve_shared_codebook(None, True) is False
    assert similarity._resolve_shared_codebook(False, True) is False
    assert similarity._resolve_shared_codebook(True, False) is True
    with _pytest.raises(ValueError, match="shared_codebook"):
        similarity._resolve_shared_codebook(True, True)
    with _pytest.raises(ValueError, match="shared_codebook"):
        similarity.pq_build_index(
            None, "/nonexistent", shared_codebook=True, rotation=True
        )
    with _pytest.raises(ValueError, match="shared_codebook"):
        similarity.ivfpq_build_index(
            None, "/nonexistent", shared_codebook=True, rotation=True
        )


def test_pq_stored_index_matches_self_contained(spark, embeddings, tmp_path):
    """The persisted PQ code store answers IDENTICALLY to the
    self-contained pq_ann on the same trained model (persisting changes
    the I/O shape, not the answer), and with rotation=True to opq_ann;
    the codes table holds no float vectors — only (vec_id, norm, code)."""
    idx = str(tmp_path / "pq_index")
    similarity.pq_build_index(embeddings, idx)
    stored = similarity.pq_query_stored(
        spark, idx, embeddings, query_ids=list(range(10)), k=5
    ).collect()
    self_c = similarity.pq_ann(
        embeddings, query_ids=list(range(10)), k=5
    ).collect()
    assert sorted(map(tuple, stored)) == sorted(map(tuple, self_c))

    codes = spark.read.parquet(f"{idx}/codes")
    assert set(codes.columns) == {"vec_id", "norm", "code"}
    assert codes.count() == embeddings.count()

    similarity.pq_build_index(embeddings, idx, rotation=True)
    stored_o = similarity.pq_query_stored(
        spark, idx, embeddings, query_ids=list(range(10)), k=5
    ).collect()
    self_o = similarity.opq_ann(
        embeddings, query_ids=list(range(10)), k=5
    ).collect()
    assert sorted(map(tuple, stored_o)) == sorted(map(tuple, self_o))


def test_pq_append_to_index(spark, embeddings, tmp_path):
    """Add-after-train for the PQ store: an appended duplicate of a
    query vector surfaces as that query's top stored hit (cosine 1.0
    survives quantized shortlisting and exact refine), the code table
    grows by exactly the batch, and no pre-existing code row changes."""
    idx = str(tmp_path / "pq_index")
    half = embeddings.filter(F.col("vec_id") % 2 == 0)
    similarity.pq_build_index(half, idx)
    before = {
        r["vec_id"]: (r["norm"], tuple(r["code"]))
        for r in spark.read.parquet(f"{idx}/codes").collect()
    }
    qvec = embeddings.filter(F.col("vec_id") == 0).first()["embedding"]
    dup_id = 999_999
    batch = spark.createDataFrame(
        [(dup_id, list(qvec))], "vec_id long, embedding array<float>"
    )
    similarity.pq_append_to_index(batch, idx)
    after = {
        r["vec_id"]: (r["norm"], tuple(r["code"]))
        for r in spark.read.parquet(f"{idx}/codes").collect()
    }
    assert set(after) == set(before) | {dup_id}
    assert all(after[i] == before[i] for i in before)

    got = similarity.pq_query_stored(
        spark,
        idx,
        half.select("vec_id", "embedding").unionByName(batch),
        query_ids=[0],
        k=1,
    ).collect()
    assert len(got) == 1
    assert got[0]["neighbor_id"] == dup_id
    assert got[0]["cosine_sim"] == 1.0


def test_pq_append_honors_stored_rotation(spark, embeddings, tmp_path):
    """Add-after-train on an OPQ store: pq_append_to_index must encode
    the new batch through the PERSISTED rotation (codes were written
    under it — appending unrotated codes would be silently wrong).
    Pinned by re-deriving the appended row's sub-codes independently
    in numpy from the stored model row (rotate, then per-subspace
    nearest codeword)."""
    import numpy as np

    idx = str(tmp_path / "opq_append")
    similarity.pq_build_index(
        embeddings.filter(F.col("vec_id") % 2 == 0), idx, rotation=True
    )
    batch = embeddings.filter(F.col("vec_id").isin([1, 3, 5, 7, 9]))
    batch_rows = {
        r["vec_id"]: np.array(r["embedding"], dtype="float64")
        for r in batch.collect()
    }
    similarity.pq_append_to_index(batch, idx)

    mrow = spark.read.parquet(f"{idx}/model").collect()[0]
    m, codes, sub_dim = mrow["m"], mrow["codes"], mrow["sub_dim"]
    cb = np.array(mrow["codebook"]).reshape(m, codes, sub_dim)
    assert mrow["rotation"] is not None
    rot = np.array(mrow["rotation"]).reshape(m * sub_dim, m * sub_dim)
    got = {
        r["vec_id"]: list(r["code"])
        for r in spark.read.parquet(f"{idx}/codes")
        .filter(F.col("vec_id").isin(list(batch_rows)))
        .collect()
    }
    assert set(got) == set(batch_rows)
    for vid, vec in batch_rows.items():
        xr = vec @ rot
        want = [
            int(
                (
                    (xr[s * sub_dim : (s + 1) * sub_dim] - cb[s]) ** 2
                ).sum(axis=1).argmin()
            )
            for s in range(m)
        ]
        assert got[vid] == want, vid


def test_ivfpq_stored_index_matches_self_contained(spark, embeddings, tmp_path):
    """The persisted IVFADC index answers IDENTICALLY to the
    self-contained ivfpq_ann on the same trained quantizers, its
    invfile is cid-partitioned (Hive-style cid=N directories — the
    probed-partition pruning surface), and the code table holds no
    float vectors."""
    import os

    idx = str(tmp_path / "ivfpq_index")
    similarity.ivfpq_build_index(embeddings, idx)
    stored = similarity.ivfpq_query_stored(
        spark, idx, embeddings, query_ids=list(range(10)), k=5
    ).collect()
    self_c = similarity.ivfpq_ann(
        embeddings, query_ids=list(range(10)), k=5
    ).collect()
    assert sorted(map(tuple, stored)) == sorted(map(tuple, self_c))

    parts = [d for d in os.listdir(f"{idx}/invfile") if d.startswith("cid=")]
    assert len(parts) > 1
    codes = spark.read.parquet(f"{idx}/invfile")
    assert set(codes.columns) == {"vec_id", "norm", "code", "cid"}
    assert codes.count() == embeddings.count()


def test_kmeans_train_converges_and_descends(spark, embeddings):
    """On well-separated clusters the Lloyd loop must actually hit the
    n_moved = 0 fixed point BEFORE the round cap (exercising the early
    stop the registered query's cap path never shows), emit the
    converged round and nothing after it, and descend monotonically.
    The real-corpus run must also descend (n_moved non-increasing is
    not guaranteed by Lloyd, but avg objective improvement is)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    # three orthogonal-ish centers, tight noise: converges in 1-2 steps
    centers = np.eye(3, 8) * 10.0
    for i in range(60):
        lab = i % 3
        v = centers[lab] + rng.normal(0, 0.01, 8)
        rows.append((i, lab, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = similarity.kmeans_train_converged(df, max_rounds=6).collect()
    assert 0 < len(out) < 6
    assert out[-1]["converged"] and out[-1]["n_moved"] == 0
    for prev_row, row in zip(out, out[1:]):
        assert row["round"] == prev_row["round"] + 1
        assert prev_row["n_moved"] > 0  # only the last row may be 0
    # the real corpus: objective (mean winning cosine) never decreases
    real = similarity.kmeans_train_converged(embeddings, max_rounds=3).collect()
    sims = [r["avg_sim"] for r in real]
    assert sims == sorted(sims)
    # return_assignment=True: one row per vector, converged fixed point —
    # on the separable data above, reassigning against the final
    # clustering's own centroids moves nothing, so the assignment equals
    # the label structure the generator planted (labels are the seeds).
    final = similarity.kmeans_train_converged(
        df, max_rounds=6, return_assignment=True
    ).collect()
    assert len(final) == 60
    assert {r["vec_id"] % 3 == r["cluster"] for r in final} == {True}


def test_topic_mixture_resample_deterministic_half(spark, sf_dir):
    """The trained-topic mixture resample keeps ~half the corpus, is
    reproducible run-to-run (pure hash membership — no RNG), and every
    kept (vec_id, cluster) pair comes from the trained assignment."""
    from parallel_map_reduce_spark.operators.queries_curation import (
        q_topic_mixture_resample,
    )
    from parallel_map_reduce_spark.operators.queries_llm import (
        _KMEANS_TRAIN_ROUNDS,
    )
    from parallel_map_reduce_spark.sources.tables import load_table

    kept1 = sorted(
        tuple(r) for r in q_topic_mixture_resample(spark, sf_dir).collect()
    )
    kept2 = sorted(
        tuple(r) for r in q_topic_mixture_resample(spark, sf_dir).collect()
    )
    assert kept1 == kept2
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    assert 0 < len(kept1) < n
    # hash-Bernoulli at target n/2: loose 3-sigma-ish band
    assert abs(len(kept1) - n / 2) < 0.15 * n
    assigned = {
        (r["vec_id"], r["cluster"])
        for r in similarity.kmeans_train_converged(
            emb, max_rounds=_KMEANS_TRAIN_ROUNDS, return_assignment=True
        ).collect()
    }
    assert set(kept1) <= assigned


def test_ivf_range_search_subset_and_exact_recovery(spark, embeddings):
    """Range-search invariants: (a) the IVF tier's hits are a SUBSET of
    the exact tier's (scoring inside probed cells is exact, so a false
    positive is impossible); (b) probing EVERY cell recovers the exact
    answer row-for-row (the rerank_factor-style exactness-recovery
    property, range flavor); (c) measured recall at the default nprobe
    clears the registered query's 0.5 bound."""
    from parallel_map_reduce_spark.operators.queries_llm import (
        KNN_QUERY_IDS,
        RANGE_RADIUS,
    )

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in similarity.range_search_exact(
            embeddings, KNN_QUERY_IDS, RANGE_RADIUS
        ).collect()
    }
    assert exact  # the radius is sized to hit at every test sf
    approx = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in similarity.ivf_range_search(
            embeddings, KNN_QUERY_IDS, RANGE_RADIUS
        ).collect()
    }
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert v == exact[k]  # same rounded cosine for every shared hit
    assert len(approx) * 2 >= len(exact)  # the registered recall bound
    full_probe = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in similarity.ivf_range_search(
            embeddings,
            KNN_QUERY_IDS,
            RANGE_RADIUS,
            num_centroids=16,
            nprobe=16,
        ).collect()
    }
    assert full_probe == exact


def test_range_audit_empty_in_range_set(spark, sf_dir):
    """When NO exact pair is in range (radius above every off-diagonal
    cosine), the audit frame must emit (0, 0, 0, 0, TRUE, TRUE) — not
    NULL sums / NULL recall_ok — and the DuckDB oracle must produce the
    identical row, so the driver hash cannot depend on RANGE_RADIUS
    happening to hit at the test sfs (the r8 ADVICE empty-case gap)."""
    import duckdb

    from parallel_map_reduce_spark.operators import queries_llm as qll
    from parallel_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    radius = 1.01  # cosine <= 1.0, so the in-range set is empty
    exact = similarity.range_search_exact(
        emb, qll.KNN_QUERY_IDS, radius
    )
    approx = similarity.ivf_range_search(emb, qll.KNN_QUERY_IDS, radius)
    (row,) = qll._range_audit_frame(exact, approx).collect()
    got = tuple(row)
    assert got == (0, 0, 0, 0, True, True)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    sql = (qll._RANGE_EXACT_CTE + qll._RANGE_AUDIT_SELECT).replace(
        str(qll.RANGE_RADIUS), str(radius)
    )
    (oracle_row,) = con.execute(sql).fetchall()
    assert tuple(oracle_row) == got


def test_compact_ivf_index_preserves_answers_and_folds_files(
    spark, embeddings, tmp_path
):
    """Invfile compaction: after appends fragment the cid partitions,
    compact_ivf_index must (a) fold to exactly one file per non-empty
    cell, (b) preserve row content exactly, and (c) leave stored top-k
    AND range answers bit-identical — maintenance never changes
    semantics. Crash recovery: test_store_recovers_at_entry."""
    import glob

    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators.queries_llm import (
        KNN_QUERY_IDS,
        RANGE_RADIUS,
    )

    idx = str(tmp_path / "ivf_idx")
    half = embeddings.filter(F.col("vec_id") % 2 == 0)
    similarity.ivf_build_index(half, idx)
    for m in (1, 3):  # two append batches fragment the partitions
        similarity.ivf_append_to_index(
            embeddings.filter(F.col("vec_id") % 4 == m), idx
        )
    rows_before = sorted(
        (r["vec_id"], r["cid"])
        for r in spark.read.parquet(f"{idx}/invfile").collect()
    )
    topk_before = sorted(
        map(tuple, similarity.ivf_query_stored(
            spark, idx, query_ids=KNN_QUERY_IDS, k=5
        ).collect())
    )
    range_before = sorted(
        map(tuple, similarity.ivf_range_query_stored(
            spark, idx, KNN_QUERY_IDS, RANGE_RADIUS
        ).collect())
    )

    before, after = similarity.compact_ivf_index(spark, idx)
    ncells = len(glob.glob(f"{idx}/invfile/cid=*"))
    assert before > ncells  # appends really fragmented the cells
    assert after == ncells  # exactly one file per non-empty cell
    rows_after = sorted(
        (r["vec_id"], r["cid"])
        for r in spark.read.parquet(f"{idx}/invfile").collect()
    )
    assert rows_after == rows_before
    assert sorted(
        map(tuple, similarity.ivf_query_stored(
            spark, idx, query_ids=KNN_QUERY_IDS, k=5
        ).collect())
    ) == topk_before
    assert sorted(
        map(tuple, similarity.ivf_range_query_stored(
            spark, idx, KNN_QUERY_IDS, RANGE_RADIUS
        ).collect())
    ) == range_before



def _ism_reference(batch_rows, kept_rows, threshold):
    """Driver-side brute-force model of incremental_semantic_dedup:
    exact cosine everywhere, the same status/dup_of rules."""
    import numpy as np

    def cos(a, b):
        return round(
            float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )

    cross = {}
    for bid, bv in batch_rows:
        hits = [kid for kid, kv in kept_rows if cos(bv, kv) >= threshold]
        if hits:
            cross[bid] = min(hits)
    survivors = [(i, v) for i, v in batch_rows if i not in cross]
    parent = {i: i for i, _ in survivors}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, vi in survivors:
        for j, vj in survivors:
            if i < j and cos(vi, vj) >= threshold:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    out = {}
    for bid, _ in batch_rows:
        if bid in cross:
            out[bid] = ("cross_dup", cross[bid])
        else:
            root = find(bid)
            out[bid] = (
                ("batch_dup", root) if root != bid else ("kept", -1)
            )
    return out


def test_incremental_semantic_dedup_statuses_and_lifecycle(spark, tmp_path):
    """Ingest-time SemDeDup against the persisted IVF index: (a) with
    every cell probed the statuses equal the brute-force reference
    exactly; (b) with pruning, flagged cross_dups are a subset of the
    exact ones and never false (scoring in probed cells is exact);
    (c) the full lifecycle composes — survivors appended to the index
    become cross_dup targets for the NEXT batch, through a compaction."""
    import numpy as np

    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    centers = np.eye(4, 16) * 8.0
    kept_rows = []
    for i in range(40):
        v = centers[i % 4] + rng.normal(0, 0.05, 16)
        kept_rows.append((i, [float(x) for x in v]))
    kept = spark.createDataFrame(
        kept_rows, "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "sem_idx")
    similarity.ivf_build_index(kept, idx, num_centroids=4, max_iter=8)

    batch_rows = [
        (100, kept_rows[5][1]),                                   # cross dup of 5
        (101, [float(x) for x in np.array(kept_rows[5][1]) * 1.001]),  # also ~5
        (102, [float(x) for x in centers[0] + rng.normal(3.0, 0.01, 16)]),
        (103, [float(x) for x in np.array([7.0] * 16)]),          # novel A
        (104, [float(x) for x in np.array([7.0] * 16) * 1.0005]), # ~dup of 103
        (105, [float(x) for x in -centers[2] + 0.1]),             # novel B
    ]
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>"
    )
    expected = _ism_reference(batch_rows, kept_rows, 0.95)
    assert expected[100][0] == "cross_dup"  # the plant actually plants
    assert expected[104] == ("batch_dup", 103)
    assert expected[105][0] == "kept"

    got = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in similarity.incremental_semantic_dedup(
            spark, batch, idx, threshold=0.95, nprobe=4
        ).collect()
    }
    assert got == expected  # nprobe = num_centroids: exact recovery

    pruned = {
        r["vec_id"]: (r["status"], r["dup_of"])
        for r in similarity.incremental_semantic_dedup(
            spark, batch, idx, threshold=0.95, nprobe=1
        ).collect()
    }
    exact_cross = {i for i, (s, _) in expected.items() if s == "cross_dup"}
    pruned_cross = {i for i, (s, _) in pruned.items() if s == "cross_dup"}
    assert pruned_cross <= exact_cross
    for i in pruned_cross:
        assert pruned[i] == expected[i]  # found ⇒ identical verdict

    # lifecycle: append the survivors (kept + batch_dup representatives
    # are the admitted rows = status 'kept'), compact, re-ingest a dup
    # of an admitted batch vector — it must flag against the NEW id.
    admitted = batch.join(
        spark.createDataFrame(
            [(i,) for i, (s, _) in expected.items() if s == "kept"],
            "vec_id long",
        ),
        "vec_id",
    )
    similarity.ivf_append_to_index(admitted, idx)
    similarity.compact_ivf_index(spark, idx)
    batch2 = spark.createDataFrame(
        [(200, batch_rows[3][1])], "vec_id long, embedding array<double>"
    )
    (row,) = similarity.incremental_semantic_dedup(
        spark, batch2, idx, threshold=0.95, nprobe=4
    ).collect()
    assert (row["status"], row["dup_of"]) == ("cross_dup", 103)


def test_incremental_semantic_dedup_with_audit_equivalence(spark, tmp_path):
    """r13 optimization pin: the ONE-PASS audit helper
    (incremental_semantic_dedup_with_audit) returns exactly what the
    former two-run form computed — exact statuses equal to
    incremental_semantic_dedup at nprobe = num_cells row-for-row, and
    pruned cross ids equal to the nprobe-tier run's cross_dup id set —
    across nprobe settings including the registered rows' pruned shape."""
    import numpy as np

    rng = np.random.default_rng(23)
    centers = np.eye(4, 16) * 8.0
    kept_rows = [
        (i, [float(x) for x in centers[i % 4] + rng.normal(0, 0.05, 16)])
        for i in range(40)
    ]
    kept = spark.createDataFrame(
        kept_rows, "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "sem_idx_audit")
    similarity.ivf_build_index(kept, idx, num_centroids=4, max_iter=8)
    batch_rows = [
        (100, kept_rows[5][1]),
        (101, [float(x) for x in np.array(kept_rows[7][1]) * 1.001]),
        (102, [float(x) for x in np.array([7.0] * 16)]),
        (103, [float(x) for x in np.array([7.0] * 16) * 1.0005]),
        (104, [float(x) for x in -centers[2] + 0.1]),
    ]
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>"
    )
    exact_ref = sorted(
        tuple(r)
        for r in similarity.incremental_semantic_dedup(
            spark, batch, idx, threshold=0.95, nprobe=4
        ).collect()
    )
    for nprobe in (1, 2, 4):
        statuses, p_ids = similarity.incremental_semantic_dedup_with_audit(
            spark, batch, idx, threshold=0.95, nprobe=nprobe
        )
        assert sorted(tuple(r) for r in statuses.collect()) == exact_ref
        pruned_ref = {
            r["vec_id"]
            for r in similarity.incremental_semantic_dedup(
                spark, batch, idx, threshold=0.95, nprobe=nprobe
            ).collect()
            if r["status"] == "cross_dup"
        }
        assert {r["vec_id"] for r in p_ids.collect()} == pruned_ref


def test_ism_audit_matches_duckdb_oracle(spark, sf_dir):
    """Pre-registration parity gate for the staged round-10 query: run
    ism_audit_query and its DuckDB oracle exactly as the driver's
    correctness check would (sorted columns, normalized values, sorted
    rows) at two sfs — so round 10's registration is a @register line
    plus a window slot, with zero oracle risk left."""
    import math

    import duckdb

    from parallel_map_reduce_spark.operators.queries_curation import (
        ISM_AUDIT_SQL,
        ism_audit_query,
    )

    def normalize(rows, columns):
        order = sorted(range(len(columns)), key=lambda i: columns[i])
        out = []
        for row in rows:
            vals = []
            for i in order:
                v = row[i]
                if isinstance(v, float):
                    v = "nan" if math.isnan(v) else f"{v:.12g}"
                vals.append(str(v))
            out.append(tuple(vals))
        return sorted(out)

    for sf in (sf_dir, "/root/testdata/sf0.01"):
        df = ism_audit_query(spark, sf)
        got = normalize([tuple(r) for r in df.collect()], df.columns)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf}/embeddings.parquet')"
        )
        cur = con.execute(ISM_AUDIT_SQL)
        cols = [d[0] for d in cur.description]
        want = normalize(cur.fetchall(), cols)
        assert got == want, f"ISM audit oracle mismatch at {sf}"
        # and the audit booleans really are TRUE (not vacuous schema
        # agreement): the exact row carries them in both engines
        (row,) = df.collect()
        assert row["flagged_subset_ok"] and row["recall_ok"]
        assert row["n_batch"] == row["n_cross"] + row["n_batch_dup"] + row["n_kept"]


def test_compact_pq_and_ivfadc_indexes_preserve_answers(
    spark, embeddings, tmp_path
):
    """The compactor family covers the whole stored ladder: (a) the
    FLAT PQ code table folds to the byte-targeted file count with
    stored answers identical; (b) compact_ivf_index runs unchanged on
    an IVFADC index (same cid-partitioned invfile layout, code columns
    instead of vectors) — one file per cell, answers identical."""
    import glob

    from pyspark.sql import functions as F

    # (a) PQ: build on half, append two batches → fragmented codes dir
    pq_idx = str(tmp_path / "pq_idx")
    similarity.pq_build_index(embeddings.filter(F.col("vec_id") % 2 == 0), pq_idx)
    for m in (1, 3):
        similarity.pq_append_to_index(
            embeddings.filter(F.col("vec_id") % 4 == m), pq_idx
        )
    before_rows = sorted(
        map(tuple, spark.read.parquet(f"{pq_idx}/codes").collect())
    )
    topk_before = sorted(
        map(tuple, similarity.pq_query_stored(
            spark, pq_idx, embeddings, query_ids=list(range(10)), k=5
        ).collect())
    )
    nb, na = similarity.compact_pq_index(spark, pq_idx)
    assert nb >= 3 and na == 1  # tiny table folds to the 1-file target
    assert sorted(
        map(tuple, spark.read.parquet(f"{pq_idx}/codes").collect())
    ) == before_rows
    assert sorted(
        map(tuple, similarity.pq_query_stored(
            spark, pq_idx, embeddings, query_ids=list(range(10)), k=5
        ).collect())
    ) == topk_before

    # (b) IVFADC: the SAME compactor as plain IVF
    adc_idx = str(tmp_path / "ivfpq_idx")
    similarity.ivfpq_build_index(
        embeddings.filter(F.col("vec_id") % 2 == 0), adc_idx
    )
    similarity.ivfpq_query_stored(  # sanity: index answers pre-append
        spark, adc_idx, embeddings, query_ids=[0], k=3
    ).collect()
    adc_before = sorted(
        map(tuple, similarity.ivfpq_query_stored(
            spark, adc_idx, embeddings, query_ids=list(range(10)), k=5
        ).collect())
    )
    nb2, na2 = similarity.compact_ivf_index(spark, adc_idx)
    assert na2 == len(glob.glob(f"{adc_idx}/invfile/cid=*"))
    assert nb2 >= na2
    assert sorted(
        map(tuple, similarity.ivfpq_query_stored(
            spark, adc_idx, embeddings, query_ids=list(range(10)), k=5
        ).collect())
    ) == adc_before


def test_ivf_range_stored_matches_self_contained(spark, embeddings, tmp_path):
    """Range answers from the persisted IVF index must equal the
    self-contained ivf_range_search on the same index parameters — one
    stored artifact serves both FAISS query modes (top-k is pinned by
    test_ivf_stored_matches_self_contained; this pins range)."""
    from parallel_map_reduce_spark.operators.queries_llm import (
        KNN_QUERY_IDS,
        RANGE_RADIUS,
    )

    idx = str(tmp_path / "ivf_range_index")
    similarity.ivf_build_index(embeddings, idx)
    stored = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in similarity.ivf_range_query_stored(
            spark, idx, KNN_QUERY_IDS, RANGE_RADIUS
        ).collect()
    }
    self_c = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in similarity.ivf_range_search(
            embeddings, KNN_QUERY_IDS, RANGE_RADIUS
        ).collect()
    }
    assert stored == self_c
    assert stored  # non-empty at every test sf by radius sizing


def test_ivfpq_append_matches_stored_model_encoding(spark, embeddings, tmp_path):
    """r10: ivfpq_append_to_index (add-after-train on the composed
    index) must write EXACTLY the rows ivfpq_build_index would have
    written for those vectors under the STORED quantizers — same cid
    assignment against the fixed centroids, same codes under the fixed
    codebooks, same true norm — with no existing partition rewritten.
    Derived independently here via the same public UDF kernels on the
    read-back model; plus the lifecycle: append → compact_ivf_index →
    stored answers identical."""
    import glob
    import numpy as np
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators.queries_llm import (
        KNN_QUERY_IDS,
    )
    from parallel_map_reduce_spark.operators.similarity import (
        _ivf_udfs,
        _pq_udfs,
        _vec_norm,
        to_double_array,
    )

    idx = str(tmp_path / "ivfpq_idx_app")
    similarity.ivfpq_build_index(
        embeddings.filter(F.col("vec_id") % 2 == 0), idx
    )
    pre_even = sorted(
        (r["vec_id"], r["cid"], r["norm"], tuple(r["code"]))
        for r in spark.read.parquet(f"{idx}/invfile").collect()
    )
    for m in (1, 3):
        similarity.ivfpq_append_to_index(
            embeddings.filter(F.col("vec_id") % 4 == m), idx
        )
    got = {
        r["vec_id"]: (r["cid"], r["norm"], tuple(r["code"]))
        for r in spark.read.parquet(f"{idx}/invfile").collect()
        if r["vec_id"] % 2 == 1
    }
    # existing (even-id) rows byte-unchanged by the appends
    assert sorted(
        (r["vec_id"], r["cid"], r["norm"], tuple(r["code"]))
        for r in spark.read.parquet(f"{idx}/invfile").collect()
        if r["vec_id"] % 2 == 0
    ) == pre_even

    # independent re-derivation from the persisted model + centroids
    crows = sorted(
        spark.read.parquet(f"{idx}/centroids").collect(),
        key=lambda r: r["cid"],
    )
    nearest_cid, _ = _ivf_udfs(np.array([r["center"] for r in crows]), 1)
    mrow = spark.read.parquet(f"{idx}/model").collect()[0]
    cb = np.array(mrow["codebook"]).reshape(
        mrow["m"], mrow["codes"], mrow["sub_dim"]
    )
    encode, _ = _pq_udfs(cb)
    want = {
        r["vec_id"]: (r["cid"], r["norm"], tuple(r["code"]))
        for r in embeddings.filter(F.col("vec_id") % 2 == 1)
        .select(
            "vec_id", to_double_array(F.col("embedding")).alias("vec")
        )
        .select(
            "vec_id",
            _vec_norm().alias("norm"),
            nearest_cid(F.col("vec")).alias("cid"),
            encode(F.col("vec")).alias("code"),
        )
        .collect()
    }
    assert got == want

    # lifecycle: the appends fragmented cells; the fold restores one
    # file per cell and leaves stored answers bit-identical
    topk_before = sorted(
        map(tuple, similarity.ivfpq_query_stored(
            spark, idx, embeddings, query_ids=KNN_QUERY_IDS, k=5
        ).collect())
    )
    before, after = similarity.compact_ivf_index(spark, idx)
    ncells = len(glob.glob(f"{idx}/invfile/cid=*"))
    assert before > ncells and after == ncells
    assert sorted(
        map(tuple, similarity.ivfpq_query_stored(
            spark, idx, embeddings, query_ids=KNN_QUERY_IDS, k=5
        ).collect())
    ) == topk_before


def test_ism_chain_matches_duckdb_oracle(spark, sf_dir):
    """Driver-compare mirror for the r10 chain composite: run
    incremental_semantic_dedup_chain and its unrolled DuckDB oracle
    exactly as the driver's correctness check would (sorted columns,
    normalized values, sorted rows) at two sfs, and pin the chain
    invariants: one row per batch, statuses partition each batch, and
    the audit booleans are genuinely TRUE."""
    import math

    import duckdb

    from parallel_map_reduce_spark.operators.queries_curation import (
        _ISM_CHAIN_BATCHES,
        _ism_chain_oracle_sql,
        q_incremental_semantic_dedup_chain,
    )

    def normalize(rows, columns):
        order = sorted(range(len(columns)), key=lambda i: columns[i])
        out = []
        for row in rows:
            vals = []
            for i in order:
                v = row[i]
                if isinstance(v, float):
                    v = "nan" if math.isnan(v) else f"{v:.12g}"
                vals.append(str(v))
            out.append(tuple(vals))
        return sorted(out)

    for sf in (sf_dir, "/root/testdata/sf0.01"):
        df = q_incremental_semantic_dedup_chain(spark, sf)
        rows = df.collect()
        got = normalize([tuple(r) for r in rows], df.columns)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf}/embeddings.parquet')"
        )
        cur = con.execute(_ism_chain_oracle_sql())
        cols = [d[0] for d in cur.description]
        want = normalize(cur.fetchall(), cols)
        assert got == want, f"ISM chain oracle mismatch at {sf}"
        assert sorted(r["batch"] for r in rows) == list(
            range(1, _ISM_CHAIN_BATCHES + 1)
        )
        for r in rows:
            assert r["flagged_subset_ok"] and r["recall_ok"]
            assert (
                r["n_batch"] == r["n_cross"] + r["n_batch_dup"] + r["n_kept"]
            )


# --- trained quality classifier ------------------------------------------


def test_round_half_away_matches_sql_round():
    """_round_half_away must implement Spark/DuckDB ROUND semantics
    (half away from zero) — Python's banker's round() would fork the
    GD weight trajectory from the oracle at any exact half-decimal."""
    from parallel_map_reduce_spark.operators.textstats import (
        _round_half_away,
    )

    assert _round_half_away(0.5, 0) == 1.0
    assert _round_half_away(-0.5, 0) == -1.0
    assert _round_half_away(2.5, 0) == 3.0  # round() gives 2.0
    assert _round_half_away(-2.5, 0) == -3.0
    assert _round_half_away(0.1234567895, 9) == 0.12345679
    assert _round_half_away(1.25, 1) == 1.3  # round() gives 1.2


def test_quality_classifier_learns_and_concentrates_on_signal(
    spark, docs
):
    """The GD trainer on sf0.01: (a) accuracy strictly improves from
    the all-ties first round (w=0 => p=0.5 everywhere => n_pos = n) to
    the final round; (b) the weight mass concentrates on the
    informative length feature x3 — |w3| ends largest, as it must when
    the weak label IS a length gate; (c) the trajectory is
    deterministic (two runs bit-identical), the reproducibility
    contract the oracle depends on."""
    from parallel_map_reduce_spark.operators.textstats import (
        train_quality_classifier,
    )

    out = sorted(
        map(tuple, train_quality_classifier(docs).collect())
    )
    n = docs.count()
    first, last = out[0], out[-1]
    assert first[0] == 1 and first[1] == n  # round 1: w=0, all p=0.5
    assert last[2] > first[2]  # n_correct improved
    assert last[2] >= int(0.9 * n)  # and convincingly so
    w_abs = [abs(last[3]), abs(last[4]), abs(last[5]), abs(last[6])]
    assert max(w_abs) == abs(last[6])  # x3 (length) dominates
    again = sorted(
        map(tuple, train_quality_classifier(docs).collect())
    )
    assert out == again


def test_quality_classifier_apply_matches_train_scores(spark, docs):
    """The refactor seam: train(return_scores=True) and
    apply_quality_classifier(docs, train(return_weights=True)) must
    produce identical per-doc rows — the batch inference pass and the
    weights-out/serve-elsewhere pass are the same scoring rule (and the
    streaming serve path reuses exactly this apply)."""
    from parallel_map_reduce_spark.operators import textstats

    a = sorted(
        map(
            tuple,
            textstats.train_quality_classifier(
                docs, return_scores=True
            ).collect(),
        )
    )
    w = textstats.train_quality_classifier(docs, return_weights=True)
    b = sorted(
        map(
            tuple,
            textstats.apply_quality_classifier(docs, w).collect(),
        )
    )
    assert a == b
    assert len(a) == docs.count()


def test_ivfadc_with_opq_rotation(spark, embeddings, tmp_path):
    """FAISS's full canonical recipe OPQ,IVF,PQ: ivfpq_build_index
    (rotation=True) persists the learned rotation in the model row,
    the stored reader scores through it, and (a) with every cell
    probed AND a corpus-covering shortlist the answers EQUAL brute
    force exactly (the refine washes quantization once the shortlist
    is total — holds for ANY quantizer, so a rotation mismatch between
    encode and score would break it); (b) at default nprobe the recall
    floor clears; (c) an appended batch is encoded through the stored
    rotation (model row non-NULL, appended codes match a numpy
    re-derivation — rotate, then per-subspace nearest codeword)."""
    import numpy as np

    idx = str(tmp_path / "opq_ivfadc")
    similarity.ivfpq_build_index(embeddings, idx, rotation=True, n_iter=2)
    mrow = spark.read.parquet(f"{idx}/model").collect()[0]
    assert mrow["rotation"] is not None
    n = embeddings.count()
    k = 5
    full = sorted(
        map(
            tuple,
            similarity.ivfpq_query_stored(
                spark,
                idx,
                embeddings,
                query_ids=list(range(10)),
                k=k,
                nprobe=16,
                rerank_factor=(n // k) + 1,
            ).collect(),
        )
    )
    exact = sorted(
        map(
            tuple,
            similarity.knn_bruteforce(
                embeddings, query_ids=list(range(10)), k=k
            ).collect(),
        )
    )
    assert full == exact

    got = similarity.ivfpq_query_stored(
        spark, idx, embeddings, query_ids=list(range(10)), k=k
    ).collect()
    e = {}
    for r in exact:
        e.setdefault(r[0], set()).add(r[1])
    a = {}
    for r in got:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(e[q] & a.get(q, set())) / k for q in e]
    assert sum(recalls) / len(recalls) >= 0.5, recalls

    batch = embeddings.filter(F.col("vec_id").isin([1, 3]))
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype="float64")
        for r in batch.collect()
    }
    similarity.ivfpq_append_to_index(batch, idx)
    m, codes, sub_dim = mrow["m"], mrow["codes"], mrow["sub_dim"]
    cb = np.array(mrow["codebook"]).reshape(m, codes, sub_dim)
    rot = np.array(mrow["rotation"]).reshape(m * sub_dim, m * sub_dim)
    inv = spark.read.parquet(f"{idx}/invfile")
    # appended duplicates of existing ids: take the LAST written row
    # per id (the append); the original row has the same code only if
    # the encode paths agree — which is exactly what we pin, so just
    # assert the batch ids now appear twice with the re-derived code
    # among them.
    for vid, vec in vecs.items():
        xr = vec @ rot
        want = [
            int(
                ((xr[s * sub_dim : (s + 1) * sub_dim] - cb[s]) ** 2)
                .sum(axis=1)
                .argmin()
            )
            for s in range(m)
        ]
        rows = inv.filter(F.col("vec_id") == vid).collect()
        assert len(rows) == 2, vid  # original + appended
        assert all(list(r["code"]) == want for r in rows), vid


def test_semantic_decontaminate_empty_eval_flags_nothing(spark):
    """Edge contract: a corpus with NO eval rows (no id % eval_mod == 0)
    must yield EVERY training row with zero hits and contaminated
    FALSE — nothing to decontaminate against — not an empty frame a
    caller could misread as everything-filtered (the left-join-on-TRUE
    shape, vs a cross join that would vanish the rows), and
    max_eval_sim_e6 must carry the -2000000 no-eval sentinel, not a
    NULL (the deterministic-integers contract). The registered DuckDB
    oracle replays the same shape (LEFT JOIN ON TRUE + COALESCE) and
    must agree row-for-row on the same no-eval corpus."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 6)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.semantic_decontaminate(df).collect()
    assert len(out) == 5
    assert all(
        r["n_eval_hits"] == 0
        and not r["contaminated"]
        and r["max_eval_sim_e6"] == -2000000
        for r in out
    )

    import duckdb

    from parallel_map_reduce_spark.operators.queries_curation import (
        _SEMANTIC_DECON_SQL,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, [{float(i)}, 1.0]::DOUBLE[])" for i in range(1, 6)
        )
        + ") t(vec_id, embedding)"
    )
    orows = con.execute(
        _SEMANTIC_DECON_SQL + " ORDER BY vec_id"
    ).fetchall()
    assert orows == sorted(
        (r["vec_id"], r["n_eval_hits"], r["max_eval_sim_e6"], r["contaminated"])
        for r in out
    )


def test_quality_classifier_rejects_empty_corpus(spark):
    """Loud error, not a ZeroDivisionError three frames deep: the
    gradient mean divides by n."""
    import pytest as _pytest

    from parallel_map_reduce_spark.operators import textstats

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    with _pytest.raises(ValueError, match="empty corpus"):
        textstats.train_quality_classifier(empty)


def test_ivfsq_range_exactness_recovery_and_filter_bound(
    spark, embeddings, tmp_path
):
    """Byte-store range search: with every cell probed the output
    EQUALS range_search_exact row-for-row — which simultaneously
    proves the filter-verify bound C = sqrt(sum(scale_d/2)^2): a wrong
    C would drop in-range rows at the prefilter. At the registered
    nprobe the result is a subset of exact (misses only from unprobed
    cells) clearing the 0.5 recall floor."""
    idx = str(tmp_path / "ivfsq_range")
    similarity.ivfsq_build_index(embeddings, idx)
    qids = list(range(10))
    R = 0.25
    exact = sorted(
        map(
            tuple,
            similarity.range_search_exact(embeddings, qids, R).collect(),
        )
    )
    allp = sorted(
        map(
            tuple,
            similarity.ivfsq_range_query_stored(
                spark, idx, embeddings, qids, R, nprobe=16
            ).collect(),
        )
    )
    assert allp == exact
    got = set(
        map(
            tuple,
            similarity.ivfsq_range_query_stored(
                spark, idx, embeddings, qids, R, nprobe=6
            ).collect(),
        )
    )
    assert got <= set(exact)
    assert len(got) * 2 >= len(exact), (len(got), len(exact))


def test_quality_classifier_is_partitioning_invariant(spark, docs):
    """The hardened determinism claim, tested directly: per-doc
    gradient contributions quantize to integers before summing, so the
    round aggregates — and therefore the entire weight trajectory —
    must be BIT-IDENTICAL under any partition layout (a plain double
    SUM would not be: float addition is not associative, and partition
    count changes the combine order)."""
    from parallel_map_reduce_spark.operators import textstats

    a = sorted(
        map(tuple, textstats.train_quality_classifier(docs).collect())
    )
    b = sorted(
        map(
            tuple,
            textstats.train_quality_classifier(
                docs.repartition(17)
            ).collect(),
        )
    )
    c = sorted(
        map(
            tuple,
            textstats.train_quality_classifier(
                docs.coalesce(1)
            ).collect(),
        )
    )
    assert a == b == c


def test_quality_classifier_matches_duckdb_oracle(spark, sf_dir):
    """Driver-compare mirror for the GD trainer AND its inference
    pass: run both registered queries and their unrolled-descent
    DuckDB oracles exactly as the driver's correctness check would
    (sorted columns, normalized values, sorted rows) — so a trainer
    refactor that forks the trajectory fails HERE, without waiting for
    a driver round."""
    import math

    import duckdb

    from parallel_map_reduce_spark.operators.queries_llm import (
        _QC_LR,
        _QC_ROUNDS,
        _quality_classifier_sql,
        q_quality_classifier_filter,
        q_quality_classifier_train,
    )

    def normalize(rows, columns):
        order = sorted(range(len(columns)), key=lambda i: columns[i])
        out = []
        for row in rows:
            vals = []
            for i in order:
                v = row[i]
                if isinstance(v, float):
                    v = "nan" if math.isnan(v) else f"{v:.12g}"
                vals.append(str(v))
            out.append(tuple(vals))
        return sorted(out)

    cases = [
        (q_quality_classifier_train, _quality_classifier_sql(_QC_ROUNDS, _QC_LR)),
        (
            q_quality_classifier_filter,
            _quality_classifier_sql(_QC_ROUNDS, _QC_LR, score_docs=True),
        ),
    ]
    for fn, sql in cases:
        df = fn(spark, sf_dir)
        got = normalize([tuple(r) for r in df.collect()], df.columns)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        want = normalize(cur.fetchall(), cols)
        assert sorted(df.columns) == sorted(cols), fn.__name__
        assert got == want, fn.__name__


def test_ivfsq_append_encodes_against_stored_models(
    spark, embeddings, tmp_path
):
    """ivfsq_append_to_index must assign cells against the STORED
    centroids and byte-encode against the STORED SQ model — pinned by
    re-deriving one appended row's cid and code independently in numpy
    from the persisted artifacts (the add-after-train contract,
    byte-for-byte, for the composed store)."""
    import numpy as np

    idx = str(tmp_path / "ivfsq_append_pin")
    similarity.ivfsq_build_index(
        embeddings.filter(F.col("vec_id") % 2 == 0), idx
    )
    batch = embeddings.filter(F.col("vec_id").isin([1, 3, 5]))
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype="float64")
        for r in batch.collect()
    }
    similarity.ivfsq_append_to_index(batch, idx)

    crows = sorted(
        spark.read.parquet(f"{idx}/centroids").collect(),
        key=lambda r: r["cid"],
    )
    cmat = np.array([r["center"] for r in crows])
    mrow = spark.read.parquet(f"{idx}/model").collect()[0]
    vmin = np.array(mrow["vmin"])
    scale = np.array(mrow["scale"])
    inv = spark.read.parquet(f"{idx}/invfile")
    for vid, vec in vecs.items():
        want_cid = int(((vec[None, :] - cmat) ** 2).sum(axis=1).argmin())
        want_code = (
            np.clip(np.round((vec - vmin) / scale), 0, 255) - 128
        ).astype("int8")
        rows = inv.filter(F.col("vec_id") == vid).collect()
        assert len(rows) == 1, vid
        assert rows[0]["cid"] == want_cid, vid
        got = np.array(rows[0]["code"], dtype="int8")
        assert (got == want_code).all(), vid


# --- ANN audit residue sample (VERDICT r12 #2) ---------------------------


def test_knn_audit_sample_noop_at_driver_sfs(spark):
    """cap=512 makes the audit sample STRUCTURALLY a no-op at
    sf0.001/sf0.01 (500 vectors): knn_audit_sample returns the input
    frame itself, so the sampled audit rows are bit-identical to their
    unsampled r12 forms at the driver's correctness sfs."""
    from parallel_map_reduce_spark.operators.queries_llm import (
        knn_audit_sample,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = load_table(spark, sf_dir, "embeddings")
        assert knn_audit_sample(emb) is emb


def test_knn_audit_sample_engages_and_matches_oracle(spark):
    """At sf0.1 (2000 vectors, d=4) the sample really cuts the corpus,
    keeps every fixed query id, is deterministic, and draws the
    IDENTICAL id set in both engines (the Spark pmod(hash64) filter vs
    the sampled oracle CTE's md5 predicate — the portability the
    driver's value-hash compare rests on)."""
    import duckdb

    from parallel_map_reduce_spark.operators.queries_llm import (
        KNN_AUDIT_SAMPLE_CAP,
        KNN_AUDIT_SAMPLE_SEED,
        KNN_QUERY_IDS,
        knn_audit_sample,
    )
    from parallel_map_reduce_spark.functions.hashing import hash64_sql

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    n = emb.count()
    assert n > KNN_AUDIT_SAMPLE_CAP
    s1 = sorted(r["vec_id"] for r in knn_audit_sample(emb).select("vec_id").collect())
    s2 = sorted(r["vec_id"] for r in knn_audit_sample(emb).select("vec_id").collect())
    assert s1 == s2
    assert len(s1) < n
    assert set(KNN_QUERY_IDS) <= set(s1)
    d = -(-n // KNN_AUDIT_SAMPLE_CAP)
    ids = ", ".join(str(i) for i in KNN_QUERY_IDS)
    dd = duckdb.sql(
        f"""SELECT vec_id
            FROM '/root/testdata/sf0.1/embeddings.parquet'
            WHERE {hash64_sql("CAST(vec_id AS VARCHAR)", KNN_AUDIT_SAMPLE_SEED)}
                  % {d} = 0
               OR vec_id IN ({ids})
            ORDER BY vec_id"""
    ).fetchall()
    assert s1 == [r[0] for r in dd]


# --- predicate-filtered ANN (FAISS IDSelector mode) ----------------------


def test_ivf_filtered_stored_allprobe_equals_bruteforce(spark, embeddings, tmp_path):
    """With nprobe = every cell, the predicate-filtered stored query
    must answer EXACTLY brute-force-over-slice: the where= filter can
    only shrink a cell's candidate set, so cell pruning is the mode's
    only approximation. This also pins the exact-twin contract the
    knn_ivf_filtered_stored driver row's recall bound measures against."""
    idx = str(tmp_path / "ivf_filt")
    similarity.ivf_build_index(embeddings, idx, meta_cols=("label",))
    stored = similarity.ivf_query_stored(
        spark, idx, query_ids=list(range(10)), k=5, nprobe=16,
        where=F.col("label") == 3,
    )
    brute = similarity.knn_bruteforce_filtered(
        embeddings, F.col("label") == 3, query_ids=list(range(10)), k=5
    )
    s = sorted(map(tuple, stored.select("query_id", "neighbor_id", "cosine_sim").collect()))
    b = sorted(map(tuple, brute.select("query_id", "neighbor_id", "cosine_sim").collect()))
    assert s == b
    labels = {r["vec_id"]: r["label"] for r in embeddings.select("vec_id", "label").collect()}
    assert all(labels[n] == 3 for (_, n, _) in s)


def test_ivf_append_with_meta_cols_serves_filtered_queries(spark, embeddings, tmp_path):
    """A store built AND appended with meta_cols must answer filtered
    queries over the union corpus — appended rows carry the metadata
    (NULL label there would silently drop them from every filtered
    answer). nprobe=16 makes the check exact vs brute-force-over-slice
    on the full corpus."""
    idx = str(tmp_path / "ivf_filt_app")
    similarity.ivf_build_index(
        embeddings.filter(F.col("vec_id") % 2 == 0), idx, meta_cols=("label",)
    )
    similarity.ivf_append_to_index(
        embeddings.filter(F.col("vec_id") % 2 == 1), idx, meta_cols=("label",)
    )
    stored = similarity.ivf_query_stored(
        spark, idx, query_ids=list(range(10)), k=5, nprobe=16,
        where=F.col("label") == 3,
    )
    brute = similarity.knn_bruteforce_filtered(
        embeddings, F.col("label") == 3, query_ids=list(range(10)), k=5
    )
    s = sorted(map(tuple, stored.select("query_id", "neighbor_id", "cosine_sim").collect()))
    b = sorted(map(tuple, brute.select("query_id", "neighbor_id", "cosine_sim").collect()))
    assert s == b


# --- stored-index lifecycle on a tiny input ------------------------------


def _tiny_vectors(spark):
    """96 seeded 16-dim vectors in one partition: ids 0-63 build a
    store, ids 64-95 are the appended batch."""
    import numpy as np

    vecs = np.random.default_rng(7).normal(size=(96, 16))
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)
    ]
    frame = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    return frame, frame.filter(F.col("vec_id") < 64), frame.filter(
        F.col("vec_id") >= 64
    )


_TINY_QIDS = [0, 1, 2]

# layout -> (build, append, row table, {entry: stored reader})
_STORE_LAYOUTS = {
    "ivf": (
        lambda base, p: similarity.ivf_build_index(
            base, p, num_centroids=4, max_iter=2
        ),
        similarity.ivf_append_to_index,
        "invfile",
        {
            "query": lambda s, p, f: similarity.ivf_query_stored(
                s, p, _TINY_QIDS, k=3, nprobe=2
            ),
            "range": lambda s, p, f: similarity.ivf_range_query_stored(
                s, p, _TINY_QIDS, 0.3, nprobe=2
            ),
        },
    ),
    "pq": (
        lambda base, p: similarity.pq_build_index(base, p, m=4, codes=8),
        similarity.pq_append_to_index,
        "codes",
        {
            "query": lambda s, p, f: similarity.pq_query_stored(
                s, p, f, _TINY_QIDS, k=3
            ),
        },
    ),
    "ivfpq": (
        lambda base, p: similarity.ivfpq_build_index(
            base, p, num_centroids=4, m=4, codes=8, max_iter=2
        ),
        similarity.ivfpq_append_to_index,
        "invfile",
        {
            "query": lambda s, p, f: similarity.ivfpq_query_stored(
                s, p, f, _TINY_QIDS, k=3, nprobe=2
            ),
        },
    ),
    "sq": (
        similarity.sq_build_index,
        similarity.sq_append_to_index,
        "codes",
        {
            "query": lambda s, p, f: similarity.sq_query_stored(
                s, p, f, _TINY_QIDS, k=3
            ),
        },
    ),
    "ivfsq": (
        lambda base, p: similarity.ivfsq_build_index(
            base, p, num_centroids=4, max_iter=2
        ),
        similarity.ivfsq_append_to_index,
        "invfile",
        {
            "query": lambda s, p, f: similarity.ivfsq_query_stored(
                s, p, f, _TINY_QIDS, k=3, nprobe=2
            ),
            "range": lambda s, p, f: similarity.ivfsq_range_query_stored(
                s, p, f, _TINY_QIDS, 0.3, nprobe=2
            ),
        },
    ),
}


def _table_rows(spark, path):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in spark.read.parquet(path).collect()
    )


@pytest.fixture(scope="module")
def tiny_stores(spark, tmp_path_factory):
    """One freshly built store per layout, with its rows and every
    reader's answers, for the crash cases to copy and compare against.
    The five layouts are built concurrently to keep the fixture short."""
    from functools import partial

    from parallel_map_reduce_spark.operators.curation_extras import _overlap

    frame, base, _ = _tiny_vectors(spark)
    root = tmp_path_factory.mktemp("tiny_stores")

    def store(layout):
        build, _, table, readers = _STORE_LAYOUTS[layout]
        path = str(root / layout)
        build(base, path)
        answers = {
            entry: sorted(map(tuple, read(spark, path, frame).collect()))
            for entry, read in readers.items()
        }
        return path, _table_rows(spark, f"{path}/{table}"), answers

    return dict(
        zip(_STORE_LAYOUTS, _overlap(*(partial(store, l) for l in _STORE_LAYOUTS)))
    )


_RECOVERY_CASES = [
    (layout, entry, crash)
    for layout, (_, _, _, readers) in _STORE_LAYOUTS.items()
    for entry in (*readers, "append")
    for crash in ("pre_promote", "post_promote")
]


@pytest.mark.parametrize(
    "layout,entry,crash",
    _RECOVERY_CASES,
    ids=["-".join(case) for case in _RECOVERY_CASES],
)
def test_store_recovers_at_entry(spark, tiny_stores, tmp_path, layout, entry, crash):
    """Every stored reader and appender runs the compaction crash
    recovery at entry. A pre-promote crash (complete ``_compact``
    staging, live table renamed to ``_old_<table>``) rolls back; a
    post-promote crash's dead ``_old_<table>`` is cleared. Readers then
    answer exactly as before the crash; appenders add the batch beside
    the unchanged old rows instead of writing a fresh table next to the
    only copy. No ``_compact`` or ``_old_*`` dir is left."""
    import os
    import shutil

    _, append, table, readers = _STORE_LAYOUTS[layout]
    template, rows, answers = tiny_stores[layout]
    path = str(tmp_path / layout)
    shutil.copytree(template, path)
    live, old = f"{path}/{table}", f"{path}/_old_{table}"
    if crash == "pre_promote":
        shutil.copytree(live, f"{path}/_compact")
        os.replace(live, old)
    else:
        os.makedirs(old)

    frame, _, batch = _tiny_vectors(spark)
    if entry == "append":
        append(batch, path)
        after = _table_rows(spark, live)
        assert [r for r in after if r[0] < 64] == rows
        assert sorted(r[0] for r in after if r[0] >= 64) == list(range(64, 96))
    else:
        got = sorted(map(tuple, readers[entry](spark, path, frame).collect()))
        assert got == answers[entry]
    assert os.path.isdir(live)
    assert not os.path.exists(f"{path}/_compact")
    assert not any(name.startswith("_old_") for name in os.listdir(path))


def test_rebuild_over_another_layout_drops_its_sidecar(spark, tiny_stores, tmp_path):
    """Stored readers infer the layout from which sidecars exist, so an
    IVF build over an SQ8 store's directory must remove the SQ8 model;
    the IVF reader then answers as on a fresh directory."""
    import os

    frame, base, _ = _tiny_vectors(spark)
    build, _, _, readers = _STORE_LAYOUTS["ivf"]
    path = str(tmp_path / "reused")
    similarity.sq_build_index(base, path)
    build(base, path)
    assert not os.path.exists(f"{path}/model")
    got = sorted(map(tuple, readers["query"](spark, path, frame).collect()))
    assert got == tiny_stores["ivf"][2]["query"]


def _jobs_started(spark, fn):
    """Number of Spark jobs ``fn()`` starts, taken by diffing the status
    store's job list around the call. A job group would miss the jobs
    concurrent quantizer fits submit from pool threads."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def jobs():
        jsc.listenerBus().waitUntilEmpty()
        found = jsc.statusStore().jobsList(sc._jvm.java.util.ArrayList())
        return [found.apply(i).jobId() for i in range(found.size())]

    mark = max(jobs(), default=-1)
    fn()
    return sum(1 for j in jobs() if j > mark)


# Sidecars (centroids and models) are read and written on the driver,
# so none of them may add a Spark job.
_LIFECYCLE_JOBS = {
    "ivf": {"build": 13, "append": 1, "query": 4, "compact": 3},
    "pq": {"build": 16, "append": 1, "query": 7, "compact": 3},
    "sq": {"build": 2, "append": 1, "query": 6, "compact": 3},
}


@pytest.mark.parametrize("layout", sorted(_LIFECYCLE_JOBS))
def test_stored_index_lifecycle_job_counts(spark, tmp_path, layout):
    """Pins how many Spark jobs build, append, a top-k query and compact
    each cost on a tiny single-partition input."""
    frame, base, batch = _tiny_vectors(spark)
    path = str(tmp_path / layout)
    build, append, _, readers = _STORE_LAYOUTS[layout]
    compact = (
        similarity.compact_ivf_index if layout == "ivf" else similarity.compact_pq_index
    )
    steps = {
        "build": lambda: build(base, path),
        "append": lambda: append(batch, path),
        "query": lambda: readers["query"](spark, path, frame).collect(),
        "compact": lambda: compact(spark, path),
    }
    got = {name: _jobs_started(spark, step) for name, step in steps.items()}
    assert got == _LIFECYCLE_JOBS[layout]


# Spark jobs of registered audit rows at sf0.001, query call plus final
# collect. Three ANN rows: an in-memory tier, a stored index, and a full
# build → append → compact lifecycle; measured before the audit rows
# were routed through one shared path, identical after. Three admission
# rows: both tiers' status core (MinHash and IVF), the slice-store
# ingest step behind its streamed and compacted drivers, and the
# mid-chain compaction; measured before the admission family shared one
# status core and one ingest step, identical after. One admission round
# (incremental_lsh_dedup) is pinned on its own: one band join, one
# verified-edge materialization and broadcast batch-sized sides. The
# admission counts were re-measured when that shape landed (130, 61 and
# 121 before). All at 2 and 4 cores. retract_and_readmit is not pinned:
# its count still differs by one job between identical runs.
_AUDIT_ROW_JOBS = {
    "knn_sq_ann": 17,
    "knn_pq_ann_stored": 36,
    "knn_sq_ann_stored": 37,
    "incremental_lsh_dedup": 26,
    "incremental_lsh_dedup_compacted": 98,
    "ism_audit_query": 59,
    "streaming_incremental_dedup": 89,
}


@pytest.mark.parametrize("name", sorted(_AUDIT_ROW_JOBS))
def test_ann_audit_row_job_counts(spark, sf_dir, name):
    import __spark_entry__ as entrymod

    query = entrymod.queries()[name]
    got = _jobs_started(spark, lambda: query(spark, sf_dir).collect())
    assert got == _AUDIT_ROW_JOBS[name]
