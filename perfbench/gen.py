"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical files, and ``input_hash`` fingerprints them so a
test can pin that. Inputs are written once per seed into a cache
directory and reused by later runs with the same seed; the engine under
test only ever sees the files.

Layouts follow what the engine meets elsewhere:

- the word-count corpus is N plain-text files with CRLF lines (the
  reference reads plain files, ``read_text_lines`` scans them);
- every table is ONE pyarrow parquet file holding ONE row group, the
  layout of the repository's synthetic ``sf*`` tables, so a scan of it
  is a single task (see README.md, "sizing facts").
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

# Bump when a generator's output changes, so stale caches are not reused.
GEN_VERSION = 1

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


# ---------------------------------------------------------------------------
# sizes
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CorpusSize:
    files: int = 32
    tokens: int = 3_000_000
    vocab: int = 400_000
    zipf_s: float = 1.07


@dataclass(frozen=True)
class VectorSize:
    dim: int = 64
    clusters: int = 32
    base: int = 6_000
    batch: int = 2_000
    batches: int = 5
    queries: int = 8
    noise: float = 0.35


@dataclass(frozen=True)
class DocSize:
    kept: int = 2_000
    batch: int = 300
    batches: int = 4
    retract_docs: int = 600
    vocab: int = 50_000
    doc_tokens: tuple[int, int] = (40, 70)
    cross_share: float = 0.10
    intra_share: float = 0.05


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def random_words(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 10) -> list[str]:
    """``n`` distinct lowercase words of length ``lo..hi``."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        need = (n - len(out)) * 11 // 10 + 16
        lens = rng.integers(lo, hi + 1, size=need)
        letters = _LETTERS[rng.integers(0, 26, size=int(lens.sum()))].tobytes()
        pos = 0
        for ln in lens:
            w = letters[pos : pos + ln].decode()
            pos += ln
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def zipf_sampler(rng: np.random.Generator, vocab: int, s: float):
    """Draws ids in ``[0, vocab)`` with P(rank r) ∝ 1/(r+1)^s; rank r
    maps to a seeded random id, so frequent words are spread over the
    vocabulary rather than being its first entries."""
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    perm = rng.permutation(vocab)

    def draw(n: int) -> np.ndarray:
        ranks = np.searchsorted(cdf, rng.random(n), side="right")
        return perm[np.minimum(ranks, vocab - 1)]

    return draw


def _write_table(path: str, columns: dict) -> None:
    """One parquet file with a single row group (the ``sf*`` layout)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    table = pa.table(columns)
    papq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def input_hash(directory: str) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(directory):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, directory).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# word-count corpus
# ---------------------------------------------------------------------------

# Punctuation-glued variants: ``of`` and ``of:`` are distinct tokens to
# the engine's tokenizer, and ':' inside a word exercises the sink's
# parse-from-the-right rule.
_VARIANTS = ("{}", "{},", "{}.", "{}:", "({})", "{}'s")
# Separators after a token: space, CRLF line end, tab, double space.
_SEPARATORS = (b" ", b"\r\n", b"\t", b"  ")
_SEP_P = (0.88, 0.085, 0.02, 0.015)


def make_corpus(out_dir: str, seed: int, size: CorpusSize = CorpusSize()) -> dict:
    """Write ``size.files`` text files under ``out_dir/corpus`` and the
    exact word counts to ``out_dir/expected_counts.json``."""
    rng = np.random.default_rng([seed, 1])
    n_base = -(-size.vocab // len(_VARIANTS))
    base = random_words(rng, n_base)
    vocab = [v.format(w) for w in base for v in _VARIANTS][: size.vocab]
    # Fixed-width byte arrays, one per separator; NUL padding is dropped
    # after the gather, which turns the whole file into one vectorized
    # take over the vocabulary.
    width = max(len(w) for w in vocab) + 2
    tables = [
        np.array([w.encode() + sep for w in vocab], dtype=f"S{width}")
        for sep in _SEPARATORS
    ]
    draw = zipf_sampler(rng, size.vocab, size.zipf_s)
    counts = np.zeros(size.vocab, dtype=np.int64)
    corpus = os.path.join(out_dir, "corpus")
    os.makedirs(corpus)
    per_file = size.tokens // size.files
    total_bytes = 0
    for i in range(size.files):
        ids = draw(per_file)
        counts += np.bincount(ids, minlength=size.vocab)
        sep = rng.choice(len(_SEPARATORS), size=per_file, p=_SEP_P)
        sep[-1] = 1  # every file ends with CRLF
        cells = np.empty(per_file, dtype=f"S{width}")
        for k, table in enumerate(tables):
            m = sep == k
            cells[m] = table[ids[m]]
        raw = np.frombuffer(cells.tobytes(), dtype=np.uint8)
        data = raw[raw != 0].tobytes()
        total_bytes += len(data)
        with open(os.path.join(corpus, f"part-{i:03d}.txt"), "wb") as f:
            f.write(data)
    nz = np.nonzero(counts)[0]
    expected = {vocab[j]: int(counts[j]) for j in nz}
    with open(os.path.join(out_dir, "expected_counts.json"), "w") as f:
        json.dump(expected, f)
    return {
        "files": size.files,
        "bytes": total_bytes,
        "tokens": int(counts.sum()),
        "distinct_words": len(expected),
        "vocab": size.vocab,
        "zipf_s": size.zipf_s,
    }


# ---------------------------------------------------------------------------
# clustered unit vectors
# ---------------------------------------------------------------------------


def make_vectors(out_dir: str, seed: int, size: VectorSize = VectorSize()) -> dict:
    """Clustered unit vectors: ``base.parquet`` (the index build),
    ``batch_NNN.parquet`` (one per append) and ``queries.json`` (query
    ids per query batch, drawn from the base set)."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.standard_normal((size.clusters, size.dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    total = size.base + size.batch * size.batches

    vecs = centers[rng.integers(0, size.clusters, size=total)]
    vecs = vecs + size.noise * rng.standard_normal((total, size.dim)) / np.sqrt(size.dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    np.save(os.path.join(out_dir, "vectors.npy"), vecs)

    def write(name: str, lo: int, hi: int) -> None:
        import pyarrow as pa

        _write_table(
            os.path.join(out_dir, f"{name}.parquet"),
            {
                "vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(vecs[lo:hi].ravel()), size.dim
                ).cast(pa.list_(pa.float32())),
            },
        )

    write("base", 0, size.base)
    for b in range(size.batches):
        lo = size.base + b * size.batch
        write(f"batch_{b:03d}", lo, lo + size.batch)
    queries = [
        sorted(int(x) for x in rng.choice(size.base, size=size.queries, replace=False))
        for _ in range(size.batches + 2)
    ]
    with open(os.path.join(out_dir, "queries.json"), "w") as f:
        json.dump(queries, f)
    return {
        "vectors": total,
        "dim": size.dim,
        "clusters": size.clusters,
        "base_vectors": size.base,
        "append_batch": size.batch,
        "append_batches": size.batches,
        "queries_per_batch": size.queries,
        "bytes": vecs.nbytes,
    }


# ---------------------------------------------------------------------------
# documents with planted near-duplicates
# ---------------------------------------------------------------------------


def _near_copy(rng: np.random.Generator, tokens: list[str], vocab: list[str]) -> list[str]:
    """A copy of ``tokens`` with one middle token replaced: about 0.88
    Jaccard over word 3-shingles at 40-70 tokens."""
    out = list(tokens)
    i = int(rng.integers(3, len(out) - 3))
    out[i] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def make_docs(out_dir: str, seed: int, size: DocSize = DocSize()) -> dict:
    """Documents for the ingest workload.

    ``kept.parquet`` is the already-deduped corpus (ids 0..kept-1).
    ``batch_NNN.parquet`` are ingest batches; in each, ``cross_share`` of
    the docs are near-copies of a kept doc or of a doc of an EARLIER
    batch, and ``intra_share`` are near-copies of another doc of the
    same batch. ``retract.parquet`` is the input of
    ``retract_and_readmit`` (even ids are its kept side, odd ids its
    batch); ``cross_share`` of its odd docs near-copy an even doc.
    ``planted.json`` lists every planted (copy, source) pair.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = random_words(rng, size.vocab)
    draw = zipf_sampler(rng, size.vocab, 1.0)
    lo, hi = size.doc_tokens

    def fresh() -> list[str]:
        return [vocab[j] for j in draw(int(rng.integers(lo, hi + 1)))]

    texts: dict[int, list[str]] = {}
    planted: dict[str, list[list[int]]] = {"batches": [], "retract": []}

    kept_ids = list(range(size.kept))
    for d in kept_ids:
        texts[d] = fresh()

    def write(name: str, ids: list[int], words: dict[int, list[str]]) -> None:
        import pyarrow as pa

        _write_table(
            os.path.join(out_dir, f"{name}.parquet"),
            {
                "doc_id": pa.array(ids, type=pa.int64()),
                "text": pa.array([" ".join(words[i]) for i in ids]),
            },
        )

    write("kept", kept_ids, texts)
    # Sources are drawn without replacement and are never themselves
    # copies, so a planted pair is never part of a longer chain.
    used_sources: set[int] = set()
    prior = list(kept_ids)
    next_id = size.kept
    n_cross = int(size.batch * size.cross_share)
    n_intra = int(size.batch * size.intra_share)
    for b in range(size.batches):
        ids = list(range(next_id, next_id + size.batch))
        next_id += size.batch
        pairs = []
        originals = ids[n_cross + n_intra :]
        for d in originals:
            texts[d] = fresh()
        pool = [p for p in prior if p not in used_sources]
        for d, src in zip(ids[:n_cross], rng.choice(pool, size=n_cross, replace=False)):
            src = int(src)
            used_sources.add(src)
            texts[d] = _near_copy(rng, texts[src], vocab)
            pairs.append([d, src])
        for d, src in zip(
            ids[n_cross : n_cross + n_intra],
            rng.choice(originals, size=n_intra, replace=False),
        ):
            src = int(src)
            used_sources.add(src)
            texts[d] = _near_copy(rng, texts[src], vocab)
            pairs.append([d, src])
        order = [ids[i] for i in rng.permutation(len(ids))]
        write(f"batch_{b:03d}", order, texts)
        planted["batches"].append(pairs)
        # An intra source loses to its lower-id copy and is not admitted,
        # so only the other originals can source later cross copies.
        intra_sources = {src for _, src in pairs[n_cross:]}
        prior.extend(d for d in originals if d not in intra_sources)

    # retract_and_readmit input: its own id space.
    r_texts: dict[int, list[str]] = {}
    r_ids = list(range(size.retract_docs))
    evens = [i for i in r_ids if i % 2 == 0]
    odds = [i for i in r_ids if i % 2 == 1]
    n_copy = int(len(odds) * size.cross_share * 2)
    for d in evens + odds[n_copy:]:
        r_texts[d] = fresh()
    for d, src in zip(odds[:n_copy], rng.choice(evens, size=n_copy, replace=False)):
        src = int(src)
        r_texts[d] = _near_copy(rng, r_texts[src], vocab)
        planted["retract"].append([d, src])
    write("retract", r_ids, r_texts)

    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump(planted, f)
    n_docs = size.kept + size.batch * size.batches + size.retract_docs
    n_planted = sum(len(p) for p in planted["batches"]) + len(planted["retract"])
    return {
        "documents": n_docs,
        "kept_documents": size.kept,
        "ingest_batch": size.batch,
        "ingest_batches": size.batches,
        "retract_documents": size.retract_docs,
        "planted_duplicates": n_planted,
        "planted_share": round(n_planted / n_docs, 4),
        "vocab": size.vocab,
    }


GENERATORS = {
    "wordcount_corpus": make_corpus,
    "ann_store_rw": make_vectors,
    "dedup_ingest": make_docs,
}


def cached_inputs(cache_root: str, workload: str, seed: int, keep: int = 3) -> tuple[str, dict]:
    """Directory of the workload's inputs for ``seed``, generating them
    on a miss. The newest ``keep`` seeds per workload stay cached."""
    key = f"{workload}-v{GEN_VERSION}-seed{seed}"
    path = os.path.join(cache_root, key)
    meta_path = os.path.join(path, "inputs.json")
    if os.path.exists(meta_path):
        os.utime(path)
        with open(meta_path) as f:
            return path, json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](tmp, seed)
    meta["seed"] = seed
    meta["input_hash"] = input_hash(tmp)
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)
    siblings = sorted(
        (p for p in os.listdir(cache_root) if p.startswith(f"{workload}-") and not p.endswith(".partial")),
        key=lambda p: os.path.getmtime(os.path.join(cache_root, p)),
    )
    for old in siblings[:-keep]:
        shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    return path, meta
