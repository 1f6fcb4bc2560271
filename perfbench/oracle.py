"""Check query results against DuckDB running `SparkEntry.oracleSql`.

A result is compared by fingerprint: its row count plus an order-independent
hash of its rows, with columns sorted by name and cells normalised as
`tools/check_oracle.py` does (floats rounded to 6 decimals, NaN as "nan",
bytes as hex, everything else as `str`), so both engines' types meet.
"""
import hashlib
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def fingerprint(columns, rows):
    """(row count, sorted column names, hex digest) of a result given as
    column names and row tuples in any order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keyed = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for k in keyed:
        h.update(k.encode())
        h.update(b"\n")
    return len(keyed), [columns[i] for i in order], h.hexdigest()


def read_result(path):
    """A result the benchmark JVM wrote: {columns, rows, oracle_sql}."""
    with open(path) as f:
        r = json.load(f)
    return r["columns"], [tuple(x) for x in r["rows"]], r.get("oracle_sql")


def check(data_dir, results_dir, names, threads=4):
    """{query name: (expected row count or None, error or "")}. The error
    is non-empty when the result differs from the oracle's, or when the
    query has no result or no oracle SQL."""
    import duckdb

    con = duckdb.connect(config={"threads": threads})
    con.execute(f"SET temp_directory='{os.path.join(results_dir, 'duckdb.tmp')}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in names:
        path = os.path.join(results_dir, f"{name}.json")
        if not os.path.exists(path):
            out[name] = (None, "no result (the verification run failed)")
            continue
        cols, rows, sql = read_result(path)
        if not sql:
            out[name] = (None, "no oracle SQL")
            continue
        want = con.execute(sql)
        wcols = [d[0] for d in want.description]
        wrows = want.fetchall()
        got_fp, want_fp = fingerprint(cols, rows), fingerprint(wcols, wrows)
        if got_fp == want_fp:
            out[name] = (want_fp[0], "")
        elif got_fp[1] != want_fp[1]:
            out[name] = (want_fp[0], f"columns {got_fp[1]} != oracle {want_fp[1]}")
        elif got_fp[0] != want_fp[0]:
            out[name] = (want_fp[0], f"{got_fp[0]} rows != oracle {want_fp[0]}")
        else:
            out[name] = (want_fp[0], "row values differ from the oracle")
    return out
