"""Deterministic synthetic dataset in the layout `graft.Tables` reads.

One parquet file per table (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) with the column names,
types and value domains of the TPC-H-like star schema the program is
written against. Every value is a hash of (row, column, seed), so the
same (sf, seed) gives the same tables at any DuckDB thread count. With
`nulls`, a seeded 5 % of the nullable columns in `NULLABLE` are NULL.
"""
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_VOCAB = ("value hash batch sort data big filter dup row the query stream "
          "fast spark line small customer group key agg scan slow table part "
          "a merge window order column join vector").split()
_ADJ = "large red hot cold old blue new small".split()
_NOUN = "anvil plate gizmo ring widget gear bolt rod".split()
NULLABLE = ("c_acctbal", "o_orderpriority", "l_shipdate")
NULL_SHARE = 0.05


def sizes(sf):
    """Row counts per table at scale factor `sf` (sf 1 = 6M lineitems)."""
    return {
        "customer": int(150000 * sf), "supplier": max(10, int(10000 * sf)),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "documents": int(50000 * sf), "embeddings": max(500, int(20000 * sf)),
    }


def _u(seed, col, *idx):
    """SQL for a uniform draw in [0, 1) keyed by (seed, col, idx...)."""
    key = ", ".join(idx)
    return f"(hash({key}, '{col}', {seed}) % 1000000007) / 1000000007.0"


def _pick(seed, col, values, *idx):
    lst = "[" + ", ".join("'" + v + "'" for v in values) + "]"
    return f"{lst}[1 + (hash({', '.join(idx)}, '{col}', {seed}) % {len(values)})::INT]"


def generate(dest, sf, seed, nulls=False):
    """Write every table under `dest`; returns the row counts."""
    os.makedirs(dest, exist_ok=True)
    n = sizes(sf)
    con = duckdb.connect()
    con.execute("SET threads=2")
    u = lambda col, *idx: _u(seed, col, *(idx or ("i",)))

    def nullable(name, sql):
        if not nulls:
            return f"{sql} {name}"
        return f"CASE WHEN {u(name + '_null')} < {NULL_SHARE} THEN NULL ELSE {sql} END {name}"

    out = lambda name, sql: con.execute(
        f"COPY ({sql}) TO '{dest}/{name}.parquet' (FORMAT PARQUET)")
    out("region", "SELECT i::INT r_regionkey, "
        "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name "
        "FROM range(5) t(i)")
    out("nation", "SELECT i::INT n_nationkey, 'NATION_' || i n_name, "
        "(i % 5)::INT n_regionkey FROM range(25) t(i)")
    out("customer", f"""SELECT i c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') c_name,
        floor({u('cn')} * 25)::INT c_nationkey,
        {nullable('c_acctbal', f"round(-999.99 + {u('cb')} * 10999.98, 2)")},
        {_pick(seed, 'cm', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'i')} c_mktsegment
        FROM range({n['customer']}) t(i)""")
    out("supplier", f"""SELECT i s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') s_name,
        floor({u('sn')} * 25)::INT s_nationkey,
        round(-999.99 + {u('sb')} * 10999.98, 2) s_acctbal
        FROM range({n['supplier']}) t(i)""")
    out("part", f"""SELECT i p_partkey,
        {_pick(seed, 'pa', _ADJ, 'i')} || ' ' || {_pick(seed, 'pn', _NOUN, 'i')} p_name,
        'Brand#' || (1 + floor({u('pb')} * 25)::INT) p_brand,
        {_pick(seed, 'pt', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], 'i')} p_type,
        (1 + floor({u('ps')} * 50))::INT p_size,
        round(900 + (i % 1000) / 10.0, 2) p_retailprice
        FROM range({n['part']}) t(i)""")
    out("orders", f"""SELECT i o_orderkey, floor({u('oc')} * {n['customer']})::BIGINT o_custkey,
        {_pick(seed, 'os', ['F', 'O', 'P'], 'i')} o_orderstatus,
        round(1000 + {u('op')} * 499000, 2) o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(floor({u('od')} * 2404)::INT) o_orderdate,
        {nullable('o_orderpriority', _pick(seed, 'oy', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'i'))}
        FROM range({n['orders']}) t(i)""")
    out("lineitem", f"""SELECT floor({u('lo')} * {n['orders']})::BIGINT l_orderkey,
        floor({u('lp')} * {n['part']})::BIGINT l_partkey,
        floor({u('ls')} * {n['supplier']})::BIGINT l_suppkey,
        (1 + floor({u('ln')} * 7))::INT l_linenumber, q l_quantity,
        round(q * (900 + {u('le')} * 1200), 2) l_extendedprice,
        floor({u('ld')} * 11) / 100.0 l_discount, floor({u('lt')} * 9) / 100.0 l_tax,
        {_pick(seed, 'lr', ['A', 'N', 'R'], 'i')} l_returnflag,
        {_pick(seed, 'll', ['F', 'O'], 'i')} l_linestatus,
        {nullable('l_shipdate', f"TIMESTAMP '1995-01-02' + to_days(floor({u('lh')} * 2499)::INT)")}
        FROM (SELECT i, (1 + floor({u('lq')} * 50))::DOUBLE q
              FROM range({n['lineitem']}) t(i))""")
    out("events", f"""SELECT i event_id,
        TIMESTAMP '2024-01-01' + to_microseconds((i * 2592000000000 // {n['events']})
          + floor({u('et')} * (2592000000000 // {n['events']}))::BIGINT) ts,
        floor({u('eu')} * {max(10, n['events'] // 66)})::BIGINT user_id,
        {_pick(seed, 'ey', ['click', 'error', 'purchase', 'signup', 'view'], 'i')} event_type,
        round(0.01 + -50 * ln(1 - {u('ev')} * 0.9999), 2) AS "value",
        '{{"k": ' || floor({u('ek')} * 100)::INT || '}}' props
        FROM range({n['events']}) t(i)""")
    # every 20th document is a near-duplicate of its predecessor: the
    # same words with the last one replaced, so dedup operators have work
    vocab = "[" + ", ".join(f"'{w}'" for w in _VOCAB) + "]"
    words = (f"list_transform(range(8 + floor({u('dn', 'src')} * 82)::INT), "
             f"j -> {vocab}[1 + (hash(src, j, 'dw', {seed}) % {len(_VOCAB)})::INT])")
    out("documents", f"""SELECT i doc_id, txt AS "text",
        ['de', 'en', 'en', 'en', 'es', 'fr', 'zh'][1 + (hash(i, 'dl', {seed}) % 7)::INT] lang,
        'src' || (hash(i, 'ds', {seed}) % 20) source, length(txt)::BIGINT n_chars
        FROM (SELECT i, CASE WHEN i % 20 = 19 THEN array_to_string(w[1:-2] || ['dup'], ' ')
                             ELSE array_to_string(w, ' ') END txt
              FROM (SELECT i, {words} w
                    FROM (SELECT i, CASE WHEN i % 20 = 19 THEN i - 1 ELSE i END src
                          FROM range({n['documents']}) t(i))))""")
    out("embeddings", f"""SELECT i vec_id,
        list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) embedding,
        (hash(i, 'el', {seed}) % 10)::INT AS label
        FROM (SELECT i, list_transform(range(64), j ->
                sqrt(-2 * ln(1 - (hash(i, j, 'e1', {seed}) % 1000003) / 1000003.0))
                * cos(6.283185307179586 * (hash(i, j, 'e2', {seed}) % 1000003) / 1000003.0)) v
              FROM range({n['embeddings']}) t(i))""")
    con.close()
    return n
