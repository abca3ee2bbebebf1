"""The scratch-store lifecycle shared by registered queries
(operators/_scratch.py): a fresh directory per call, the returned frame
materialized before the delete, the delete in a ``finally``."""

import os

import pytest

from parallel_map_reduce_spark.operators._scratch import in_scratch


def test_body_that_raises_propagates_and_leaves_no_directory():
    seen = []

    def body(path):
        seen.append(path)
        with open(os.path.join(path, "partial"), "w") as f:
            f.write("half-written store")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        in_scratch("test_scratch", body)
    assert seen and not os.path.exists(seen[0])


def test_returned_frame_collects_after_the_directory_is_gone(spark):
    seen = []

    def body(path):
        seen.append(path)
        spark.range(20).write.parquet(os.path.join(path, "store"))
        return spark.read.parquet(os.path.join(path, "store"))

    out = in_scratch("test_scratch", body)
    assert not os.path.exists(seen[0])
    assert sorted(r.id for r in out.collect()) == list(range(20))


def test_every_call_gets_a_new_directory():
    seen = []
    for _ in range(2):
        assert in_scratch("test_scratch", lambda path: seen.append(path)) is None
    assert len(set(seen)) == 2 and not any(os.path.exists(p) for p in seen)
