"""One-time preparation of a checkout: build, datasets, oracle SQL and
the suite's model store. Each step is stamped, so later runs reuse it."""
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb

from . import datagen
from .settings import (AMPLIFY_K, BASE_SF, DATA_SEED, ENTRIES, HERE, ROOT, SRC,
                       WORK, entries)


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """SHA-1 over the program's and the harness's sources."""
    h = hashlib.sha1()
    roots = [SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Stamps:
    """Completion stamps under the work dir, valued by an input key."""

    def __init__(self):
        self.path = os.path.join(WORK, "stamps.json")
        self.d = json.load(open(self.path)) if os.path.exists(self.path) else {}

    def done(self, step, key):
        return self.d.get(step) == key

    def mark(self, step, key):
        self.d[step] = key
        with open(self.path + ".tmp", "w") as f:
            json.dump(self.d, f, indent=1)
        os.replace(self.path + ".tmp", self.path)


def _build(key, stamps):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if stamps.done("build", key) and os.path.isdir(classes):
        return
    log("building the program and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    shutil.rmtree(classes, ignore_errors=True)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=600)
    cp = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise RuntimeError("sbt build failed")
    with open(os.path.join(WORK, "classpath.txt"), "w") as f:
        f.write(cp[-1].strip())
    stamps.mark("build", key)


def classpath():
    with open(os.path.join(WORK, "classpath.txt")) as f:
        return f.read().strip()


def heap():
    """Half of the machine's RAM, capped at 8g and floored at 2g."""
    kb = 4 * 1024 * 1024
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{max(2, min(8, kb // 2097152))}g"


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java(args, run_dir, store, timeout):
    """Runs the harness JVM inside `run_dir`; every write lands there."""
    local = os.path.join(run_dir, "local")
    os.makedirs(local, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CKPT_DIR"] = store
    env["SPARK_LOCAL_DIRS"] = local
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={local}"] + ADD_OPENS
           + ["-cp", classpath(), "graftbench.Harness"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness timed out after {timeout:.0f} s")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")


def duck(tmp, threads=None):
    """A DuckDB connection whose spill space is capped and kept in `tmp`."""
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET max_temp_directory_size = '5GB'")
    con.execute(f"SET memory_limit = '{heap()[:-1]}GB'")
    if threads:
        con.execute(f"SET threads = {threads}")
    return con


def views(con, data):
    """One view per table; a table is a parquet file or a directory of them."""
    for t in datagen.TABLES:
        path = f"{data}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def _pools(data, out):
    """Per-column literal pools for the truth generator, drawn from the data."""
    con = duck(os.path.join(WORK, "duck_tmp"))
    views(con, data)
    lines = []
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        for c, typ in con.execute(f"SELECT column_name, column_type FROM "
                                  f"(DESCRIBE {t})").fetchall():
            kind = ("ts" if typ.startswith("TIMESTAMP") else
                    "str" if typ == "VARCHAR" else "num")
            expr = f"strftime({c}, '%Y-%m-%d')" if kind == "ts" else c
            nulls = con.execute(f"SELECT COUNT(*) - COUNT({c}) FROM {t}").fetchone()[0]
            vals = [r[0] for r in con.execute(
                f"SELECT v FROM (SELECT DISTINCT {expr} AS v FROM {t} WHERE {c} IS NOT NULL) "
                f"ORDER BY hash(v), v LIMIT 24").fetchall()]
            for v in vals:
                s = repr(v) if isinstance(v, float) else str(v)
                if kind == "num" and ("e" in s or "inf" in s or "nan" in s):
                    continue
                lines.append(f"{t}\t{c}\t{kind}\t{int(nulls > 0)}\t{s}")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")


def oracle_counts(data, names, meta):
    """Row counts of each entry's DuckDB oracle, cached by SQL text."""
    path = os.path.join(WORK, "oracle_counts.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    con = None
    out = {}
    for n in names:
        sql = meta["oracle"].get(n)
        if sql is None:
            continue
        key = hashlib.sha1((data + "\0" + sql).encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duck(os.path.join(WORK, "duck_tmp"))
                views(con, data)
            cache[key] = con.execute(f"SELECT COUNT(*) FROM ({sql}) q").fetchone()[0]
        out[n] = cache[key]
    with open(path, "w") as f:
        json.dump(cache, f)
    return out


def prepare(workload):
    """Everything a run of `workload` needs that does not depend on its seed:
    the build, then the suite's dataset, oracle SQL and model store, or the
    truth workload's amplified dataset and literal pools."""
    if not os.path.isdir(SRC):
        raise FileNotFoundError(f"program sources not found at {SRC}")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "prep.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamps = Stamps()
        key = source_hash()
        _build(key, stamps)
        data = os.path.join(WORK, "data", workload)
        ctx = {"key": key, "data": data}
        ctx.update((_suite if workload == "suite" else _truth)(key, stamps, data))
        return ctx


def _data_key(*extra):
    """Stamp key of a generated dataset: its settings and the generator."""
    h = hashlib.sha1()
    for f in (datagen.__file__, __file__):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return ":".join(map(str, (BASE_SF, DATA_SEED, h.hexdigest()) + extra))


def _suite(key, stamps, data):
    dkey = _data_key()
    if not stamps.done("suite_data", dkey):
        log("generating the suite's dataset")
        shutil.rmtree(data, ignore_errors=True)
        datagen.generate(data, BASE_SF, DATA_SEED)
        stamps.mark("suite_data", dkey)
    if not stamps.done("meta", key):
        tmp = _fresh(os.path.join(WORK, "tmp-meta"))
        java(["meta", os.path.join(WORK, "meta.json")], tmp, tmp, 300)
        shutil.rmtree(tmp, ignore_errors=True)
        stamps.mark("meta", key)
    meta = json.load(open(os.path.join(WORK, "meta.json")))
    missing = [n for n in entries() if n not in meta["names"]]
    if missing:
        raise RuntimeError(f"entries missing from SparkEntry.queries: {missing}")
    # the store depends on the program, the data and the suite's entries
    with open(ENTRIES, "rb") as f:
        skey = f"{dkey}:{key}:{hashlib.sha1(f.read()).hexdigest()}"
    store = os.path.join(WORK, "suite_store")
    if not stamps.done("suite_store", skey):
        log("training the suite's model store")
        shutil.rmtree(store, ignore_errors=True)
        os.makedirs(store)
        tmp = _fresh(os.path.join(WORK, "tmp-store"))
        java(["run", "workload=suite", "seed=0", "seconds=0", "trace=0",
              f"data={data}", f"out={tmp}", f"store={store}", f"local={tmp}/local",
              f"entries={ENTRIES}"],
             tmp, store, 800)
        shutil.rmtree(tmp, ignore_errors=True)
        stamps.mark("suite_store", skey)
    return {"meta": meta, "store": store}


def _truth(key, stamps, data):
    """x10 `graft.Amplify` of a dataset whose nullable columns hold NULLs."""
    pools = os.path.join(WORK, "data", "truth_pools.tsv")
    tkey = _data_key(AMPLIFY_K, key)
    if not stamps.done("truth_data", tkey):
        log("generating the truth workload's dataset")
        base = os.path.join(WORK, "data", "truth_base")
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(data, ignore_errors=True)
        datagen.generate(base, BASE_SF, DATA_SEED, nulls=True)
        tmp = _fresh(os.path.join(WORK, "tmp-amplify"))
        java(["amplify", base, data, str(AMPLIFY_K)], tmp, tmp, 600)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(base, ignore_errors=True)
        _pools(data, pools)
        stamps.mark("truth_data", tkey)
    return {"pools": pools}


def _fresh(d):
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d
