"""Output checks, run after the JVM has exited (outside the timed phase).

An op fails when it threw, or when its output disagrees with the
reference: a DuckDB row count for entries and truth queries, and for
entries also the same row count in every pass. That the suite never
trained is checked per run.
"""

from .prep import duck, views


def entry_ops(ops, oracle_counts):
    """Names each failing op of a suite run: it threw, its row count differs
    from the DuckDB oracle's, or from its own count in the first warm pass
    (a result must not depend on which entry built a shared memo first)."""
    failures = []
    first = {}
    for i, op in enumerate(ops):
        name = op["name"]
        first.setdefault(name, op["rows"])
        why = None
        if op["err"] is not None:
            why = f"threw {op['err']}"
        elif name in oracle_counts and op["rows"] != oracle_counts[name]:
            why = f"{op['rows']} rows, DuckDB oracle has {oracle_counts[name]}"
        elif op["rows"] != first[name]:
            why = f"{op['rows']} rows, the first warm pass had {first[name]}"
        if why:
            failures.append((i, f"{op['phase']} {name}: {why}"))
    return failures


def truth_ops(ops, queries, data, tmp):
    """Compares every truth count with DuckDB over the same parquet files."""
    sql = {q["id"]: q["sql"] for q in queries}
    con = duck(tmp)
    views(con, data)
    want = {}
    failures = []
    for i, op in enumerate(ops):
        qid = op["name"]
        if op["err"] is not None:
            failures.append((i, f"{op['phase']} {qid}: threw {op['err']}"))
            continue
        if qid not in want:
            want[qid] = con.execute(sql[qid]).fetchone()[0]
        if op["rows"] != want[qid]:
            failures.append((i, f"{op['phase']} {qid}: count {op['rows']}, "
                                f"DuckDB has {want[qid]}: {sql[qid]}"))
    con.close()
    return failures


def store_use(ops, run):
    """The suite serves every model from its copy of the store."""
    if run["ckpt_builds"] == 0:
        return []
    trainers = sorted({o["name"] for o in ops if o["ckpt_builds"]})
    return [f"suite trained {run['ckpt_builds']} store artifacts ({', '.join(trainers)}); "
            f"it must only read the store"]
