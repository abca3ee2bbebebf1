"""The one scratch-store lifecycle for queries that write a temporary
store and answer from it: an ANN index, a signature store, published
shards, a streaming sink and its checkpoint.

Contract (README.md, "ANN stores" → "Registered audit rows"):

- every call gets a NEW directory of its own, so concurrent runs
  (pytest and a bench on one host, two sf dirs sharing a basename) can
  never overwrite or delete each other's store;
- the frame the body returns usually reads that store lazily, so it is
  materialized with ``localCheckpoint(eager=True)`` before anything is
  deleted; a body whose results already outlive the store (they were
  checkpointed by an action that ran before its last write) returns
  None instead;
- the directory is deleted in a ``finally``: a failed build, a failed
  lifecycle assert or a failed streaming query leaves nothing behind.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame


def in_scratch(
    kind: str, body: Callable[[str], DataFrame | None]
) -> DataFrame | None:
    """Run ``body(path)`` on a fresh directory under
    ``$TMPDIR/pmr_spark_<kind>/`` and return its frame materialized;
    the directory is gone when this returns or raises."""
    parent = os.path.join(tempfile.gettempdir(), f"pmr_spark_{kind}")
    os.makedirs(parent, exist_ok=True)
    path = tempfile.mkdtemp(prefix=f"{os.getpid()}-", dir=parent)
    try:
        out = body(path)
        return None if out is None else out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)
