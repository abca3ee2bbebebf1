#!/usr/bin/env python3
"""Capture .explain("formatted") output for declared queries.

Writes plans/<tag>/<query>_<suffix>.txt for each named query (default
suffix "before"). The query function is EXECUTED to build its frame
(some rows build scratch stores / run eager checkpoints at construction
time), then the returned frame's formatted plan is dumped.

Usage:
  python tools/dump_plans.py --tag r13 --suffix before \
      [--sf /root/testdata/sf0.1] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

# The checkout this file lives in, so a run from another worktree
# measures that worktree's code.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from parallel_map_reduce_spark.session import get_spark

    spark = get_spark("dump_plans")
    qs = entrymod.queries()
    out_dir = os.path.join(REPO_ROOT, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in args.queries:
        if name not in qs:
            print(f"# SKIP unknown query: {name}")
            continue
        df = qs[name](spark, args.sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"# wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
