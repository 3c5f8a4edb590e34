"""Reduces a run's op records and trace spans to the benchmark's metrics.

End-to-end metrics come from the untraced timed phase. Per-layer metrics
come from the traced phase that follows it in a `--trace 1` run: spans
run → op → layer call → Spark job → stage, plus task and plan records.
Per-op figures are means over the traced ops; a layer a workload never
calls reports 0.
"""
import json
import statistics

PER_LAYER = (
    "tables.warm_s", "entry.build_s", "entry.plan_s", "entry.exec_s",
    "memo.warm_build_s", "memo.warm_exec_s", "memo.frames", "memo.scan_ratio",
    "cached_mb", "checkpoint.trains", "checkpoint.store_mb",
    "query.parse_s", "query.plan_s", "query.exec_s", "error_rate",
    "spark.jobs", "spark.stages", "spark.tasks", "plan.exchanges",
    "spark.task_queue_s", "spark.cpu_util", "spark.task_cpu_s",
    "spark.task_run_s", "spark.gc_s", "spark.peak_exec_mb", "spark.input_mb",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "plan.broadcast_joins", "plan.sort_merge_joins",
    "self.build_s", "self.plan_s", "self.exec_s", "self.job_s",
    "trace.overhead_s",
)

MB = 1e6


def quantile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def hd_quantile(values, q):
    """Harrell-Davis estimate of the q-quantile: the mean of the order
    statistics weighted by the Beta(q(n+1), (1-q)(n+1)) mass of each one's
    slot of [0, 1], here by the midpoint rule on 64 cells per slot. Op
    latencies cluster by entry and join shape, and the median often falls
    between two clusters, where the middle order statistic jumps from run
    to run; this weighted mean jumps much less. (In the tail it weights the
    few slowest ops, which vary more: the p90 stays an order statistic.)"""
    xs = sorted(values)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cells = 64 * n
    w = [((k + 0.5) / cells) ** (a - 1) * (1 - (k + 0.5) / cells) ** (b - 1)
         for k in range(cells)]
    return sum(xs[k // 64] * wk for k, wk in enumerate(w)) / sum(w)


def end_to_end(ops, run):
    timed = [o["total"] for o in ops if o["phase"] == "timed"]
    return {
        "setup_s": run["setup_s"],
        "wall_s": statistics.median(run["pass_walls"]),
        "latency_p50_s": hd_quantile(timed, 0.5),
        "latency_p90_s": quantile(timed, 0.9),
    }


def _covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _mean(xs, n):
    return sum(xs) / n if n else 0.0


def per_layer(workload, ops, run, records, attempted, failed):
    m = dict.fromkeys(PER_LAYER, 0.0)
    traced = [o for o in ops if o["phase"] == "traced"]
    n = len(traced)

    m["tables.warm_s"] = run["tables_warm_s"]
    if workload == "truth":
        m["query.parse_s"] = _mean([o["parse"] for o in traced], n)
        m["query.plan_s"] = _mean([o["build"] + o["plan"] for o in traced], n)
        m["query.exec_s"] = _mean([o["exec"] for o in traced], n)
    else:
        m["entry.build_s"] = _mean([o["build"] for o in traced], n)
        m["entry.plan_s"] = _mean([o["plan"] for o in traced], n)
        m["entry.exec_s"] = _mean([o["exec"] for o in traced], n)
        warm = [o for o in ops if o["phase"] == "warm"]
        m["memo.warm_build_s"] = sum(o["build"] for o in warm)
        m["memo.warm_exec_s"] = sum(o["exec"] for o in warm)
    m["memo.frames"] = run["cached_rdds"]
    m["cached_mb"] = run["cached_bytes"] / MB
    m["checkpoint.trains"] = run["ckpt_builds"]
    m["checkpoint.store_mb"] = run["store_bytes"] / MB
    m["error_rate"] = failed / attempted if attempted else 0.0
    m["trace.overhead_s"] = (statistics.median(run["traced_walls"])
                             - statistics.median(run["control_walls"]))
    _spark(m, records, run, n)
    return m


def _spark(m, records, run, n):
    """Spark-level metrics and self times from the listener records."""
    recs = [json.loads(l) for l in records]
    spans = [r for r in recs if r["k"] == "span"]
    op_ids = {s["op"] for s in spans if s["layer"] == "op"}
    calls = [s for s in spans if s["layer"] not in ("op", "run")]
    jobs = {}
    stage_op = {}
    for r in recs:
        if r["k"] == "job_start":
            g = r.get("group") or ""
            op = int(g.rsplit("-", 1)[1]) if g.startswith("graftbench-op-") else r["op"]
            jobs[r["job"]] = {"op": op, "t0": r["t"], "t1": r["t"], "stages": []}
            for s in r["stages"]:
                stage_op.setdefault(s, op)
        elif r["k"] == "job_end" and r["job"] in jobs:
            jobs[r["job"]]["t1"] = r["t"]
    jobs = {j: v for j, v in jobs.items() if v["op"] in op_ids}
    submit = {}
    stages = []
    tasks = []
    plans = []
    for r in recs:
        k = r["k"]
        if k == "stage_submit":
            submit[r["stage"]] = r["t"]
        elif k == "stage" and stage_op.get(r["stage"], r["op"]) in op_ids:
            stages.append(r)
        elif k == "task" and stage_op.get(r["stage"], r["op"]) in op_ids:
            tasks.append(r)
        elif k == "plan" and r["op"] in op_ids:
            plans.append(r)
    for st in stages:
        for j in jobs.values():
            if stage_op.get(st["stage"]) == j["op"] and j["t0"] <= st["t0"] <= j["t1"]:
                j["stages"].append((st["t0"], st["t1"]))
                break

    m["spark.jobs"] = _mean([1 for _ in jobs], n)
    m["spark.stages"] = _mean([1 for _ in stages], n)
    m["spark.tasks"] = _mean([s["tasks"] for s in stages], n)
    m["spark.task_queue_s"] = _mean(
        [max(0, t["launch"] - submit.get(t["stage"], t["launch"])) / 1e3 for t in tasks], n)
    cpu = sum(s["cpu_ns"] for s in stages) / 1e9
    m["spark.task_cpu_s"] = cpu / n if n else 0.0
    wall = sum(run["traced_walls"])
    m["spark.cpu_util"] = cpu / (wall * run["nproc"]) if wall else 0.0
    m["spark.task_run_s"] = _mean([s["run_ms"] / 1e3 for s in stages], n)
    m["spark.gc_s"] = _mean([s["gc_ms"] / 1e3 for s in stages], n)
    m["spark.peak_exec_mb"] = max([t["peak_b"] for t in tasks], default=0) / MB
    for key, field in (("input_mb", "input_b"), ("shuffle_read_mb", "shuffle_read_b"),
                       ("shuffle_write_mb", "shuffle_write_b"), ("spill_mb", "spill_b")):
        m[f"spark.{key}"] = _mean([s[field] / MB for s in stages], n)
    m["plan.exchanges"] = _mean([p["shuffles"] + p["broadcasts"] for p in plans], n)
    m["plan.broadcast_joins"] = _mean([p["bhj"] for p in plans], n)
    m["plan.sort_merge_joins"] = _mean([p["smj"] for p in plans], n)
    scans = sum(p["mem_scans"] + p["file_scans"] for p in plans)
    m["memo.scan_ratio"] = sum(p["mem_scans"] for p in plans) / scans if scans else 0.0

    # self time of each layer call: its span minus the Spark jobs inside it
    by_op = {}
    for j in jobs.values():
        by_op.setdefault(j["op"], []).append((j["t0"], j["t1"]))
    selfs = {"build": 0.0, "parse": 0.0, "plan": 0.0, "exec": 0.0}
    for c in calls:
        inside = [iv for iv in by_op.get(c["op"], []) if c["t0"] <= iv[0] < c["t1"]]
        selfs[c["name"]] += (c["t1"] - c["t0"] - _covered(c["t0"], c["t1"], inside)) / 1e3
    m["self.build_s"] = (selfs["build"] + selfs["parse"]) / n if n else 0.0
    m["self.plan_s"] = selfs["plan"] / n if n else 0.0
    m["self.exec_s"] = selfs["exec"] / n if n else 0.0
    m["self.job_s"] = _mean([(j["t1"] - j["t0"] - _covered(j["t0"], j["t1"], j["stages"])) / 1e3
                             for j in jobs.values()], n)
