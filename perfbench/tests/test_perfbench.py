"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402

SMALL = {
    "wordcount_corpus": lambda d, s: gen.make_corpus(
        d, s, gen.CorpusSize(files=3, tokens=3000, vocab=600)),
    "ann_store_rw": lambda d, s: gen.make_vectors(
        d, s, gen.VectorSize(base=300, batch=100, batches=2, queries=4)),
    "dedup_ingest": lambda d, s: gen.make_docs(
        d, s, gen.DocSize(kept=200, batch=100, batches=2, retract_docs=100, vocab=2000)),
}


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_input_hash(tmp_path, workload):
    hashes = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / name
        d.mkdir()
        SMALL[workload](str(d), seed)
        hashes.append(gen.input_hash(str(d)))
    assert hashes[0] == hashes[1]
    assert hashes[0] != hashes[2]


def test_corpus_expected_counts_match_text(tmp_path):
    meta = gen.make_corpus(str(tmp_path), 3, gen.CorpusSize(files=4, tokens=4000, vocab=500))
    counts: dict[str, int] = {}
    for name in os.listdir(tmp_path / "corpus"):
        data = (tmp_path / "corpus" / name).read_bytes()
        assert b"\r\n" in data
        for tok in data.decode().split():
            counts[tok] = counts.get(tok, 0) + 1
    expected = json.loads((tmp_path / "expected_counts.json").read_text())
    assert counts == expected
    assert meta["tokens"] == sum(expected.values())
    assert any(":" in w for w in expected)


def test_planted_docs_are_near_duplicates(tmp_path):
    import pyarrow.parquet as papq

    from workloads import THRESHOLD, _jaccard, _shingles

    gen.make_docs(str(tmp_path), 5, gen.DocSize(kept=300, batch=100, batches=2, retract_docs=200, vocab=3000))
    planted = json.loads((tmp_path / "planted.json").read_text())
    texts = {}
    for name in ("kept", "batch_000", "batch_001"):
        t = papq.read_table(tmp_path / f"{name}.parquet")
        assert papq.ParquetFile(tmp_path / f"{name}.parquet").metadata.num_row_groups == 1
        texts.update(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    pairs = [p for batch in planted["batches"] for p in batch]
    assert pairs
    for copy, src in pairs:
        assert _jaccard(_shingles(texts[copy]), _shingles(texts[src])) >= THRESHOLD


def test_cached_inputs_reuses_and_evicts(tmp_path, monkeypatch):
    calls = []

    def fake(out_dir, seed):
        calls.append(seed)
        with open(os.path.join(out_dir, "x"), "w") as f:
            f.write(str(seed))
        return {}

    monkeypatch.setitem(gen.GENERATORS, "fake", fake)
    p1, m1 = gen.cached_inputs(str(tmp_path), "fake", 1, keep=2)
    p1b, m1b = gen.cached_inputs(str(tmp_path), "fake", 1, keep=2)
    assert (p1, m1) == (p1b, m1b) and calls == [1]
    for seed in (2, 3):
        os.utime(p1, (0, 0))
        gen.cached_inputs(str(tmp_path), "fake", seed, keep=2)
    assert sorted(os.listdir(tmp_path)) == ["fake-v%d-seed2" % gen.GEN_VERSION, "fake-v%d-seed3" % gen.GEN_VERSION]


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, start, end)


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),  # grandchild: counted against span 1 only
        _span(3, 0, 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(4.0)


def test_self_time_counts_overlapping_children_once():
    # children started on driver threads may overlap each other
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 6.0),
        _span(2, 0, 4.0, 8.0),
        _span(3, 0, 7.5, 12.0),  # runs past its parent's end: clipped
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - (10.0 - 1.0))


def test_tracer_nesting_and_self_time_with_fake_clock():
    now = [0.0]

    def clock():
        return now[0]

    tr = Tracer(clock=clock, cores=4)
    with tr.span("op"):
        now[0] += 1.0
        with tr.span("engine.call"):
            now[0] += 2.0
            with tr.span("action"):
                now[0] += 3.0
        now[0] += 0.5
    out = {s["name"]: s for s in tr.finish()}
    assert out["engine.call"]["parent"] == out["op"]["id"]
    assert out["action"]["parent"] == out["engine.call"]["id"]
    assert out["op"]["counters"]["wall_s"] == pytest.approx(6.5)
    assert out["op"]["counters"]["self_s"] == pytest.approx(1.5)
    assert out["engine.call"]["counters"]["self_s"] == pytest.approx(2.0)
    assert out["action"]["counters"]["self_s"] == pytest.approx(3.0)


def test_tracer_attaches_store_counters_and_idle_time():
    class FakeStore:
        def marks(self):
            return (0, 0)

        def since(self, marks):
            return {"executor_run_s": 5.0, "jobs": 2}, [{"stage": 1}]

    now = [0.0]
    tr = Tracer(store=FakeStore(), cores=4, clock=lambda: now[0])
    with tr.span("op"):
        now[0] += 2.0
    (s,) = tr.finish()
    assert s["counters"]["jobs"] == 2
    assert s["counters"]["executor_idle_s"] == pytest.approx(2.0 * 4 - 5.0)
    assert s["attrs"]["stages"] == [{"stage": 1}]
