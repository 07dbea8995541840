"""Correctness gates, run after the timed phase.

mart_serving compares every distinct request's result with DuckDB
running SQL built on the catalog's oracle (SparkEntry.oracleSql, the
q39-q44 pipeline replica) over the generated tables; curation_ops
compares each entry's result with its oracle. Each function returns the ids of
the operations whose output was wrong, plus messages.
"""
import glob
import math
import os

import duckdb


def connect(data_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW \"{name}\" AS SELECT * FROM read_parquet('{p}')")
    return con


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def same_cell(a, b):
    a, b = _cell(a), _cell(b)
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=0, abs_tol=1e-9) or (a != a and b != b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same_cell(x, y) for x, y in zip(a, b))
    return a == b


def same_table(got_cols, got_rows, exp_cols, exp_rows, ordered=True):
    """Compare two results by column name (the order of columns is free,
    as in the repository's oracle check) and row by row."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {got_cols} != {exp_cols}"
    if len(got_rows) != len(exp_rows):
        return f"rows {len(got_rows)} != {len(exp_rows)}"
    idx = [got_cols.index(c) for c in exp_cols]
    got = [tuple(r[i] for i in idx) for r in got_rows]
    exp = [tuple(r) for r in exp_rows]
    if not ordered:
        key = lambda r: tuple((x is None, str(_cell(x))) for x in r)
        got, exp = sorted(got, key=key), sorted(exp, key=key)
    for n, (g, e) in enumerate(zip(got, exp)):
        if not all(same_cell(x, y) for x, y in zip(g, e)):
            return f"row {n}: {g!r} != {e!r}"
    return None


def _query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def serving(raw, con):
    bad_keys, msgs, oracle = set(), [], {}
    for r in raw["gate"]["results"]:
        if r["sql"] not in oracle:  # the same worksheet on another format
            oracle[r["sql"]] = _query(con, r["sql"])
        cols, rows = oracle[r["sql"]]
        err = same_table(r["columns"], r["rows"], cols, rows)
        if err:
            bad_keys.add(r["key"])
            msgs.append(f"serving {r['key']}: {err}")
    bad = {o["op"] for o in raw["gate"]["op_keys"] if bad_keys & set(o["keys"])}
    return bad, msgs


def curation(raw, con):
    msgs = []
    for r in raw["gate"]["results"]:
        cols, rows = _query(con, r["sql"])
        err = same_table(r["columns"], r["rows"], cols, rows)
        if err:
            msgs.append(f"curation {r['entry']}: {err}")
    bad = {o["id"] for o in raw["ops"]} if msgs else set()
    return bad, msgs
