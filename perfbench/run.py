"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates (or reuses) the seeded inputs,
starts the engine's Spark session, runs the workload and checks every
answer. Human-readable lines go to stdout first; the last line is one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see README.md). The full record of
the run, spans included, is written to
``.perfbench_work/results/<workload>-seed<n>-trace<t>.json``.
The exit code is 0 only when every check passed.
"""

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

SETUPS = 3
ROLES = ("setup", "scan", "build", "write", "read", "maint")
# Each end-to-end metric is the median time of one role's operations.
E2E = {"setup_s": "setup", "build_s": "build", "write_p50_s": "write",
       "read_p50_s": "read", "maint_s": "maint"}


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total else 0.0


def _configure_env(work: str, cores: int) -> None:
    """Pin the engine's parallelism and keep every file it writes inside
    the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # For every JVM, the launcher's too; -XX:-UsePerfData stops the JVM
    # writing /tmp/hsperfdata_*.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _warm_up(spark) -> None:
    """One tiny job that proves the session usable: the engine's word
    count (a shuffle aggregation) over generated lines."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators.wordcount import wordcount

    text = F.concat_ws(" ", F.lit("a"), (F.col("id") % 7).cast("string"), F.lit("b\r\n"))
    wordcount(spark.range(2000).select(text.alias("text"))).collect()


def _median(xs):
    return statistics.median(xs) if xs else None


def _role_counters(spans: list[dict], role: str) -> dict:
    from spans import SPAN_COUNTERS

    mine = [s for s in spans if s["name"] == role and s["parent"] is None]
    out = {}
    for c in SPAN_COUNTERS:
        vals = [s["counters"][c] for s in mine if c in s["counters"]]
        if vals:
            out[c] = statistics.median(vals)
    vals = [s["attrs"]["storage_mb_after"] for s in mine if "storage_mb_after" in s["attrs"]]
    if vals:
        out["storage_mb_after"] = statistics.median(vals)
    return out


def _unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    return "MB" if "_mb" in counter else "count"


def per_layer_spec() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order: each
    role's span counters, then the ratios and file counts."""
    from spans import SPAN_COUNTERS

    # gc_s is often exactly 0 on short spans; it stays in the artifact.
    counters = [c for c in SPAN_COUNTERS if c != "gc_s"] + ["storage_mb_after"]
    out = [(f"{r}.{c}", _unit(c)) for r in ROLES for c in counters
           if (r, c) != ("setup", "storage_mb_after")]
    return out + [("read.rows_per_result", "ratio"), ("build.combine_ratio", "ratio"),
                  ("maint.files_before", "count"), ("maint.files_after", "count")]


def per_layer(spans: list[dict], facts: dict, meta: dict) -> dict:
    """The per-layer metrics: each role's counters (median over its
    timed operations) plus the ratios named in README.md."""
    roles = {r: _role_counters(spans, r) for r in ROLES}
    reads = [s for s in spans if s["name"] == "read" and s["parent"] is None]
    items = meta.get("tokens") or meta.get("base_vectors") or meta.get("kept_documents")
    extra = {
        "read.rows_per_result": _median(
            [s["counters"]["input_records"] / s["attrs"]["results"] for s in reads]),
        "build.combine_ratio": roles["build"].get("shuffle_write_records", 0) / items,
        "maint.files_before": facts.get("files_before", 0),
        "maint.files_after": facts.get("files_after", 0),
    }
    out = {}
    for name, unit in per_layer_spec():
        role, _, counter = name.partition(".")
        value = extra[name] if name in extra else roles[role].get(counter, 0)
        out[name] = {"value": value, "unit": unit}
    return out


def layer_table(spans: list[dict]) -> dict:
    """Per span name (``<module>.<function>`` or an action), counters
    summed over every call, with the call count."""
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s["name"], {"calls": 0})
        row["calls"] += 1
        for c, v in s["counters"].items():
            row[c] = row.get(c, 0) + v
    return table


# The per-op counters under the engine's module names, as they map onto
# the per-layer metrics.
NAMED = {
    "wordcount_corpus": {"operators.wordcount.combine_ratio": "build.combine_ratio"},
    "ann_store_rw": {
        "operators.similarity.query.rows_per_result": "read.rows_per_result",
        "operators.similarity.compact.files_before": "maint.files_before",
        "operators.similarity.compact.files_after": "maint.files_after",
    },
    # classify keeps its checkpointed frames alive until admit has used
    # them, so storage is read after admit
    "dedup_ingest": {"operators.curation_extras.ingest.storage_mb_after": "write.storage_mb_after"},
}


def named_metrics(workload: str, spans: list[dict], layer: dict) -> dict:
    """The module-named counters, and for the word count the reference's
    phases split from outside (README.md)."""
    names = {"sources.tables.scan_tasks": "scan.tasks", **NAMED[workload]}
    out = {k: layer[v]["value"] for k, v in names.items()}
    tok = _role_counters(spans, "tokenize")
    if tok:
        scan, build, write = (_role_counters(spans, r) for r in ("scan", "build", "write"))
        out["phases_s"] = {
            "scan": scan["wall_s"],
            "tokenize": tok["wall_s"] - scan["wall_s"],
            "combine_and_exchange": build["wall_s"] - tok["wall_s"],
            "write": write["wall_s"] - build["wall_s"],
        }
        out["build_stages"] = [s["attrs"]["stages"] for s in spans if s["name"] == "build"][-1]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "parallel_map_reduce_spark")):
        print("perfbench: the engine package parallel_map_reduce_spark is not "
              f"in {ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import gen
    from spans import StatusStore, Tracer
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    host = {"nproc": os.cpu_count(), "cores_used": cores, "load_avg_start": os.getloadavg()}
    cpu0 = _cpu_times()
    os.makedirs(os.path.join(WORK_ROOT, "inputs"), exist_ok=True)
    for stale in glob.glob(os.path.join(WORK_ROOT, "run-*")):
        # left behind by a run that was killed
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work, cores)

    def generate():
        t = time.perf_counter()
        inputs, meta = gen.cached_inputs(os.path.join(WORK_ROOT, "inputs"), args.workload, args.seed)
        return inputs, meta, time.perf_counter() - t

    from pyspark import SparkContext

    from parallel_map_reduce_spark.session import get_spark

    spark = None
    gateway = None
    run = None
    error = None
    meta, gen_s = {}, None
    store = StatusStore()
    tracer = Tracer(store if args.trace else None, cores=cores)
    # The inputs are generated (or found in the cache) while the first
    # session starts; the engine sees them only once they are complete.
    pool = ThreadPoolExecutor(max_workers=1)
    pending = pool.submit(generate)
    try:
        # Set-up, several times: the first start also launches the JVM;
        # the later ones restart the session inside it.
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            with tracer.span("setup"):
                with tracer.span("session.get_spark"):
                    spark = get_spark(f"perfbench-{args.workload}")
                _warm_up(spark)
        gateway = SparkContext._gateway
        inputs, meta, gen_s = pending.result()
        run = Run(spark, tracer, store, inputs, meta, work, args.seconds)
        WORKLOADS[args.workload](run)
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        if spark is not None:
            spark.stop()
        gateway = gateway or SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        pool.shutdown(wait=True)
        shutil.rmtree(work, ignore_errors=True)

    host["load_avg_end"] = os.getloadavg()
    host["steal_pct"] = _steal_pct(cpu0, _cpu_times())
    spans = tracer.finish()
    setup = [s["counters"]["wall_s"] for s in spans if s["name"] == "setup"]
    samples = dict(run.samples) if run else {}
    samples["setup"] = setup
    attempted = (run.attempted if run else 0) + len(setup)
    failed = (run.failed if run else 0) + (1 if error else 0)
    checks = run.checks if run else []
    correct = error is None and failed == 0 and bool(checks) and all(c["ok"] for c in checks)

    e2e = {m: _median(samples.get(role, [])) for m, role in E2E.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "inputs": meta, "input_gen_s": gen_s,
        "samples": samples, "end_to_end": e2e, "checks": checks,
        "facts": run.facts if run else {}, "error": error,
    }
    if args.trace and error is None:
        record["tracing_overhead_s"] = tracer.overhead_s
        record["per_layer"] = per_layer(spans, record["facts"], meta)
        record["named"] = named_metrics(args.workload, spans, record["per_layer"])
        record["layers"] = layer_table(spans)
        record["spans"] = spans
        untraced = os.path.join(WORK_ROOT, "results", f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            record["traced_minus_untraced_s"] = {
                k: e2e[k] - base[k] for k in E2E if e2e.get(k) is not None and base.get(k) is not None}
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    out_path = os.path.join(WORK_ROOT, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    _report(record, samples)
    if args.trace:
        metrics = record.get("per_layer", {})
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items() if v is not None}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


# What each role is in each workload, printed beside its metric.
ROLE_NAMES = {
    "wordcount_corpus": {"build": "count phase (noop sink)", "write": "job to 16 partition files",
                         "read": "read-back", "maint": "combined sink (16 -> 1 file)"},
    "ann_store_rw": {"build": "build_s", "write": "append_p50_s", "read": "query_p50_s",
                     "maint": "compact_s"},
    "dedup_ingest": {"build": "build_s", "write": "admit", "read": "classify",
                     "maint": "retract_s"},
}


def _report(record: dict, samples: dict) -> None:
    w = record["workload"]
    h = record["host"]
    print(f"perfbench {w} seed={record['seed']} seconds={record['seconds']} trace={record['trace']}")
    print(f"  host: nproc={h['nproc']} cores_used={h['cores_used']} "
          f"load_avg={h['load_avg_start'][0]:.2f}->{h['load_avg_end'][0]:.2f} steal={h['steal_pct']:.2f}%")
    inputs = {k: v for k, v in record["inputs"].items() if k != "input_hash"}
    print(f"  inputs: {inputs} (generated or reused in {record['input_gen_s'] or 0:.2f} s)")
    for k, role in E2E.items():
        v = record["end_to_end"][k]
        n = len(samples.get(role, []))
        label = ROLE_NAMES.get(w, {}).get(role, "session start + warm-up")
        shown = "n/a" if v is None else f"{v:.4f} s"
        print(f"  {k:<12} {shown:>12}  median of {n}  [{label}]")
    if w == "wordcount_corpus" and samples.get("write") and samples.get("read"):
        job = [a + b for a, b in zip(samples["write"], samples["read"])]
        print(f"  {'job_s':<12} {statistics.median(job):>10.4f} s  median of {len(job)}  [write + read-back]")
    if w == "dedup_ingest" and samples.get("write") and samples.get("read"):
        ing = [a + b for a, b in zip(samples["write"], samples["read"])]
        print(f"  {'ingest_p50_s':<12} {statistics.median(ing):>10.4f} s  median of {len(ing)}  [classify + admit]")
    for k, v in record["facts"].items():
        print(f"  fact {k}: {v}")
    for c in record["checks"]:
        if not c["ok"]:
            print(f"  CHECK FAILED {c['name']}: {c['detail']}")
    print(f"  checks: {sum(c['ok'] for c in record['checks'])}/{len(record['checks'])} passed")
    if record.get("error"):
        print(f"  error: {record['error'].strip().splitlines()[-1]}")
    if "tracing_overhead_s" in record:
        print(f"  tracing overhead (tracer's own time): {record['tracing_overhead_s']:.3f} s")
        for k, v in record.get("traced_minus_untraced_s", {}).items():
            print(f"  traced - untraced {k}: {v:+.4f} s")
        for k, v in record["named"].items():
            print(f"  {k}: {v}")
        for name, row in sorted(record["layers"].items()):
            cells = " ".join(f"{c}={row[c]:.4g}" for c in ("wall_s", "self_s", "jobs", "stages", "tasks",
                                                           "executor_idle_s", "shuffle_write_mb") if c in row)
            print(f"  layer {name} calls={row['calls']} {cells}")


if __name__ == "__main__":
    sys.exit(main())
