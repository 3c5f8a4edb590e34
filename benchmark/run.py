#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, one JSON line of metrics.

    python3 benchmark/run.py --workload suite|truth --seed N \
        --seconds S --trace 0|1

The first run in a checkout builds the program with sbt and prepares the
datasets, oracle counts and the suite's model store under `.bench_work/`;
later runs reuse them. Every file a run writes stays under `.bench_work/`.
With `--trace 0` the last stdout line carries the end-to-end metrics;
with `--trace 1` the run also repeats its timed phase with Spark
listeners and the span recorder on, and carries the per-layer metrics.
The exit code is 0 only when every output check passed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graftbench import checks, datagen, prep, reduce  # noqa: E402
from graftbench.settings import (AMPLIFY_K, BASE_SF, DATA_SEED, ENTRIES,  # noqa: E402
                                 ROOT, TRUTH_PER_SET, WORK, entries)

WORKLOADS = ("suite", "truth")
# a prepared checkout must finish a run within 180 s; leave room for checks
JVM_LIMIT_S = 150

UNITS = {"setup_s": "s", "wall_s": "s", "latency_p50_s": "s", "latency_p90_s": "s"}
UNITS.update({k: ("ratio" if k in ("memo.scan_ratio", "spark.cpu_util", "error_rate") else
                  "MB" if k.endswith("_mb") else "s" if k.endswith("_s") else "count")
              for k in reduce.PER_LAYER})


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def git_sha():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.environ.get("SPARK_HOME"):
        print("[bench] SPARK_HOME is not set", file=sys.stderr)
        return 2
    try:
        ctx = prep.prepare(a.workload)
    except Exception as e:  # noqa: BLE001 - any failure to prepare ends the run
        print(f"[bench] preparation failed: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    store = os.path.join(run_dir, "store")
    if a.workload == "suite":
        shutil.copytree(ctx["store"], store)
    else:
        os.makedirs(store)
    data = ctx["data"]
    cfg = [f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
           f"trace={a.trace}", f"data={data}", f"out={run_dir}",
           f"store={store}", f"local={run_dir}/local"]
    if a.workload == "suite":
        cfg.append(f"entries={ENTRIES}")
    else:
        cfg += [f"pools={ctx['pools']}", f"per_set={TRUTH_PER_SET}"]
    try:
        prep.java(["run"] + cfg, run_dir, store, JVM_LIMIT_S)
    except RuntimeError as e:
        print(f"[bench] {a.workload} run failed: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1

    ops = read_jsonl(os.path.join(run_dir, "ops.jsonl"))
    run = read_jsonl(os.path.join(run_dir, "run.json"))[0]
    queries = read_jsonl(os.path.join(run_dir, "queries.jsonl"))
    if a.workload == "truth":
        op_failures = checks.truth_ops(ops, queries, data, os.path.join(run_dir, "duck"))
        run_failures = []
    else:
        counts = prep.oracle_counts(data, entries(), ctx["meta"])
        op_failures = checks.entry_ops(ops, counts)
        run_failures = checks.store_use(ops, run)
    attempted, failed = len(ops), len({i for i, _ in op_failures})
    correct = failed == 0 and not run_failures and attempted > 0

    e2e = reduce.end_to_end(ops, run)
    layers = None
    if a.trace:
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            layers = reduce.per_layer(a.workload, ops, run, f.readlines(), attempted, failed)
    metrics = layers if a.trace else e2e
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": correct, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 0.0,
        "failures": [w for _, w in op_failures] + run_failures,
        "end_to_end": e2e, "per_layer": layers,
        "env": {
            "git_sha": git_sha(), "source_sha1": ctx["key"], "nproc": run["nproc"],
            "heap": prep.heap(), "heap_bytes": run["heap_bytes"], "spark": run["spark"],
            "jdk": run["jdk"], "dataset": os.path.relpath(data, ROOT),
            "dataset_rows": datagen.sizes(BASE_SF * (AMPLIFY_K if a.workload == "truth"
                                                     else 1)),
            "dataset_bytes": sum(os.path.getsize(os.path.join(d, f))
                                 for d, _, fs in os.walk(data) for f in fs),
            "data_seed": DATA_SEED,
        },
        "pass_walls": run["pass_walls"],
        "ops": [{k: o[k] for k in ("phase", "pass", "name", "total", "rows", "err")}
                for o in ops],
        "queries": [{"id": q["id"], "tables": q["tables"], "ops": q["ops"]} for q in queries],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t{a.trace}-"
                           f"{int(time.time())}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    for w in record["failures"]:
        print(f"[bench] FAILED {w}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"[bench] {k} = {v:.6g} {UNITS[k]}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": UNITS[k]}
                                  for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
