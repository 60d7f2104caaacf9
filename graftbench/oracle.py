"""DuckDB oracle check for the analytics workload.

Each query's output, written by the harness as parquet, is compared with
its oracle SQL run by DuckDB over the same input tables, the way
tools/check_parity.py compares them: column names, row count, and
values with columns sorted by name, as a sorted multiset of rows.
Queries without an oracle (the sketch queries) are checked on their
row count only: it must be positive. Oracle results are cached per
input directory, so a seed pays for them once.
"""
import datetime
import decimal
import json
import math
import os
import pickle

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rows(rel):
    cols = list(rel.columns)
    idx = [cols.index(c) for c in sorted(cols)]
    rows = sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rel.fetchall())
    return sorted(cols), rows


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def oracle_results(data_dir, oracle_sql):
    """{query: (columns, sorted rows) or an error string}, cached."""
    cache_path = os.path.join(data_dir, "oracle_cache.pkl")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path, "rb") as f:
            cache = pickle.load(f)
    missing = {q: sql for q, sql in oracle_sql.items()
               if cache.get(q, (None,))[0] != sql}
    if missing:
        con = _connect(data_dir)
        for q, sql in missing.items():
            try:
                cache[q] = (sql, _rows(con.sql(sql)))
            except Exception as e:  # the oracle itself failing is a failure
                cache[q] = (sql, f"oracle error: {e}")
        con.close()
        with open(cache_path + ".tmp", "wb") as f:
            pickle.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    return {q: cache[q][1] for q in oracle_sql}


def check(data_dir, out_dir, queries):
    """One {"name": "oracle:<q>", "ok": bool, "detail": str} per query."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    want = oracle_results(data_dir, oracle_sql)
    con = duckdb.connect()
    checks = []
    for q in queries:
        qdir = os.path.join(out_dir, q)
        if not os.path.isdir(qdir):
            continue  # the harness already failed this query
        cols, rows = _rows(con.sql(f"SELECT * FROM '{qdir}/*.parquet'"))
        if q not in want:
            ok, detail = len(rows) > 0, f"rows={len(rows)} (rows-only)"
        elif isinstance(want[q], str):
            ok, detail = False, want[q][:200]
        elif want[q][0] != cols:
            ok, detail = False, f"columns {cols} != {want[q][0]}"
        elif want[q][1] != rows:
            ok, detail = False, f"rows differ ({len(rows)} vs {len(want[q][1])})"
        else:
            ok, detail = True, f"rows={len(rows)}"
        checks.append({"name": f"oracle:{q}", "ok": ok, "detail": detail})
    con.close()
    return checks
