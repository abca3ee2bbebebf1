"""Spread and drift of the end-to-end metrics over sets of runs.

    python3 perfbench/compare.py 201-210 301-310 [--results DIR]

Each argument is a set of seeds (``a-b`` or ``a,b,c``) whose untraced
results are read from ``.perfbench_work/results``. For every workload
and end-to-end metric it prints each set's median, first and third
quartile (``statistics.quantiles(values, n=4)``), the spread
(q3 - q1) / median, and for every set after the first the change of
its median against the first set's, next to the metric's bound from
BENCHMARK.json. A line is flagged when a spread or a change exceeds
the bound (for ``setup_s`` only a change). Exits 1 if any line is
flagged.
"""

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sets", nargs="+", help="seed sets, e.g. 201-210")
    ap.add_argument("--results", default=os.path.join(ROOT, ".perfbench_work", "results"))
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    flagged = False
    for w in (x["name"] for x in bench["workloads"]):
        for metric, bound in bounds.items():
            medians, cells = [], []
            for spec in args.sets:
                vals = []
                for s in seeds(spec):
                    path = os.path.join(args.results, f"{w}-seed{s}-trace0.json")
                    if os.path.exists(path):
                        with open(path) as f:
                            v = json.load(f)["end_to_end"].get(metric)
                        if v is not None:
                            vals.append(v)
                if len(vals) < 2:
                    cells.append(f"n={len(vals)}")
                    medians.append(None)
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                # set-up time is judged by its median only
                mark = "" if spread <= bound or metric == "setup_s" else " !"
                flagged |= bool(mark)
                cells.append(f"n={len(vals)} median={med:.4f} q1={q1:.4f} q3={q3:.4f} spread={spread:.3f}{mark}")
                medians.append(med)
            for i in range(1, len(medians)):
                if medians[0] and medians[i]:
                    change = medians[i] / medians[0] - 1
                    mark = "" if change <= bound else " !"
                    flagged |= bool(mark)
                    cells.append(f"change[{i}]={change:+.3f}{mark}")
            print(f"{w:17} {metric:12} bound={bound:<5} " + " | ".join(cells))
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
