#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every __spark_entry__.queries()[name] at a given sf_dir and compares
against oracle_sql()[name] in DuckDB: row count, column names, and an
order-insensitive value comparison (sorted by all columns). Use while
iterating so the per-round CORRECTNESS_r{N}.json holds no surprises.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

# The checkout this file lives in, so a run from another worktree
# measures that worktree's code. The Python workers of UDF rows import
# the package too, and inherit PYTHONPATH from the session this script
# starts, so the checkout goes there as well as on sys.path.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
)


def normalize(rows, columns):
    """Sort columns by name, round floats, stringify, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = f"{v:.12g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from parallel_map_reduce_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns spark={scols} duckdb={dcols}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
            ok = False
        else:
            a = normalize(srows, scols)
            b = normalize(drows, dcols)
            if a != b:
                ok = False
                bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
                print(f"FAIL  {name}: value mismatch, first diffs: {bad}")
        if ok:
            print(f"OK    {name}: {len(srows)} rows")
        else:
            failures.append(name)
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match their oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
