#!/usr/bin/env python3
"""Re-derives the suite's sample, `suite_entries.txt`, from a full-suite run.

    python3 benchmark/resample.py [--size 20] [--write]

Runs every `SparkEntry.queries` entry on the suite's dataset in one harness
JVM on an empty store (which trains it), then in a traced run on that store
(warm pass, one timed pass, a traced and a control pass). Entries whose
final plans scan the model store and the other entries each get their share
of the sample; within each group the entries are cut into equal-count strata
of timed-pass latency and the middle entry of each stratum is taken. The
sample is then run on its own in the same way. The script prints the traffic
profile of the full suite, of the sampled entries inside the full run and of
the sample on its own, and with `--write` replaces `suite_entries.txt`.
About 25 minutes on 4 cores when the warm pass still ran nproc entries at a
time; now that it runs them one at a time it takes longer. Everything it
writes stays under `.bench_work/`.
"""
import argparse
import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graftbench import prep, reduce  # noqa: E402
from graftbench.settings import ENTRIES, WORK  # noqa: E402

BANDS = (0.1, 0.3, 1.0, 3.0)


def harness(name, entries_file, data):
    """Trains a store over the entries, then a traced run on it; returns the run dir."""
    out = os.path.join(WORK, "resample", name)
    shutil.rmtree(out, ignore_errors=True)
    store = os.path.join(out, "store")
    os.makedirs(store)
    for seconds, trace in ((0, 0), (1, 1)):
        prep.java(["run", "workload=suite", "seed=1", f"seconds={seconds}", f"trace={trace}",
                   f"data={data}", f"out={out}", f"store={store}", f"local={out}/local",
                   f"entries={entries_file}"], out, store, 7200)
    shutil.rmtree(os.path.join(out, "local"), ignore_errors=True)
    return out


def load(out):
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f if l.strip()]
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(out, "spans.jsonl")) as f:
        spans = f.readlines()
    return ops, run, spans


def op_names(spans):
    recs = (json.loads(l) for l in spans)
    return {r["op"]: r["name"] for r in recs if r["k"] == "span" and r["layer"] == "op"}


def profile(ops, run, spans, names=None):
    """Latency mix, memo and store use of a run's timed and traced ops,
    restricted to the entries in `names` when given."""
    keep = (lambda n: n in names) if names else (lambda n: True)
    ids = {i for i, n in op_names(spans).items() if keep(n)}
    spans = [l for l in spans if json.loads(l).get("op", 0) in ids | {0, -1}]
    ops = [o for o in ops if keep(o["name"])]
    lat = [o["total"] for o in ops if o["phase"] == "timed"]
    m = reduce.per_layer("suite", ops, run, spans, len(ops), 0)
    store_ops = {json.loads(l)["op"] for l in spans if '"k":"plan"' in l
                 and json.loads(l)["store_scans"] > 0}
    bands = [0] * (len(BANDS) + 1)
    for x in lat:
        bands[sum(x >= b for b in BANDS)] += 1
    return {
        "entries": len(lat), "p50_s": reduce.quantile(lat, 0.5),
        "p90_s": reduce.quantile(lat, 0.9), "mean_s": statistics.mean(lat),
        "bands": [round(b / len(lat), 3) for b in bands],
        "memo.scan_ratio": m["memo.scan_ratio"], "store_share": len(store_ops & ids) / len(ids),
        "spark.jobs": m["spark.jobs"], "spark.stages": m["spark.stages"],
    }


def stratify(ops, spans, size):
    lat = {o["name"]: o["total"] for o in ops if o["phase"] == "timed"}
    names = op_names(spans)
    store = {names[json.loads(l)["op"]] for l in spans if '"k":"plan"' in l
             and json.loads(l)["store_scans"] > 0 and json.loads(l)["op"] in names}
    groups = {"store": [n for n in lat if n in store], "other": [n for n in lat if n not in store]}
    k_store = round(size * len(groups["store"]) / len(lat))
    lines = []
    for g, k in (("store", k_store), ("other", size - k_store)):
        members = sorted(groups[g], key=lambda n: (lat[n], n))
        for i in range(k):
            lo, hi = i * len(members) // k, (i + 1) * len(members) // k
            lines.append(f"{members[(lo + hi) // 2]:28s} # {g} {i + 1}/{k}: "
                         f"{lat[members[lo]]:.3f}-{lat[members[hi - 1]]:.3f} s")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--size", type=int, default=20)
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()
    ctx = prep.prepare("suite")
    os.makedirs(os.path.join(WORK, "resample"), exist_ok=True)
    all_file = os.path.join(WORK, "resample", "all_entries.txt")
    with open(all_file, "w") as f:
        f.write("\n".join(ctx["meta"]["names"]) + "\n")
    full = load(harness("full", all_file, ctx["data"]))
    lines = stratify(full[0], full[2], a.size)
    sample_file = os.path.join(WORK, "resample", "sample_entries.txt")
    with open(sample_file, "w") as f:
        f.write("\n".join(lines) + "\n")
    picked = {l.split()[0] for l in lines}
    sample = load(harness("sample", sample_file, ctx["data"]))
    print("\n".join(lines))
    for label, p in (("full suite", profile(*full)),
                     ("sampled entries in the full run", profile(*full, names=picked)),
                     ("sample on its own", profile(*sample))):
        print(label + ": " + json.dumps({k: round(v, 3) if isinstance(v, float) else v
                                         for k, v in p.items()}))
    if a.write:
        with open(ENTRIES) as f:
            header = [l for l in f if l.startswith("#")]
        with open(ENTRIES, "w") as f:
            f.write("".join(header) + "\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
