"""The DuckDB oracle check, with the comparison rules of tools/check.py.

Rows are compared as multisets after sorting columns by name; floats
are equal within a relative 1e-9 (absolute below 1). Query results are
read from the parquet files the JVM wrote; service responses are
flattened from their JSON formats (list, table, cube) to rows first.
"""
import calendar
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import pickle

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        if os.path.exists(f"{data}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def _epoch_ms(d):
    return calendar.timegm(d.timetuple()) * 1000 + getattr(
        d, "microsecond", 0) // 1000


def _norm(v):
    """One representation per value across DuckDB and service JSON:
    dates and timestamps become epoch milliseconds (UTC), the form the
    service renders cube domains in."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return _epoch_ms(v)
    if isinstance(v, str) and len(v) >= 10 and v[4] == "-" and v[7] == "-":
        try:
            d = datetime.datetime.fromisoformat(v.replace("Z", "+00:00"))
            return _epoch_ms(d.astimezone(datetime.timezone.utc)
                             if d.tzinfo else d)
        except ValueError:
            return v
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = _norm(r[i])
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            rr.append(v)
        out.append(tuple(rr))
    key = lambda x: tuple((v is None, str(type(v)), v if not isinstance(
        v, (list, dict)) else str(v)) for v in x)
    return sorted(out, key=key), [cols[i] for i in order]


def val_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(val_eq(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_rows, got_cols, want_rows, want_cols):
    """None when equal, else a one-line description of the difference."""
    g, gc = canon(got_rows, got_cols)
    w, wc = canon(want_rows, want_cols)
    if gc != wc:
        return f"columns differ: got {gc}, oracle {wc}"
    if len(g) != len(w):
        return f"row count: got {len(g)}, oracle {len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        if not (len(a) == len(b) and all(val_eq(x, y) for x, y in zip(a, b))):
            return f"row {i} differs: got {a}, oracle {b}"
    return None


def run_sql(con, sql, cache_dir=None):
    """(rows, cols) of an oracle query, cached on disk by its text.

    The data is read-only, so an oracle answer depends on the SQL text
    and the data directory alone; callers keep one cache directory per
    data directory."""
    path = None
    if cache_dir:
        h = hashlib.sha256(sql.encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, h + ".pickle")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    res = (rel.fetchall(), cols)
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(res, f)
        os.replace(path + ".tmp", path)
    return res


def check_query(con, sql, result_dir, cache_dir=None):
    """Compare a query result written as parquet to its oracle SQL."""
    if not glob.glob(f"{result_dir}/*.parquet"):
        return "no result written"
    rel = con.execute(f"SELECT * FROM '{result_dir}/*.parquet'")
    got_cols = [d[0] for d in rel.description]
    got = rel.fetchall()
    want, want_cols = run_sql(con, sql, cache_dir)
    return compare(got, got_cols, want, want_cols)


def _cube_rows(edges, domains, data):
    """Flatten a dense cube: one row per cell, edge values first."""
    names = list(data)
    rows = []

    def walk(depth, prefix, cells):
        if depth == len(edges):
            rows.append(tuple(prefix) + tuple(cells[n] for n in names))
            return
        for i, v in enumerate(domains[depth]):
            walk(depth + 1, prefix + [v], {n: cells[n][i] for n in names})

    walk(0, [], data)
    return rows, list(edges) + names


def flatten(response):
    """(rows, cols) of a service response in list, table or cube format."""
    r = json.loads(response)
    if "edges" in r:
        return _cube_rows(r["edges"], r["domains"], r["data"])
    if "header" in r:
        return [tuple(x) for x in r["data"]], list(r["header"])
    data = r["data"]
    # a list row omits its null fields, so take every row's keys
    cols = list(dict.fromkeys(c for d in data for c in d))
    return [tuple(d.get(c) for c in cols) for d in data], cols


def check_response(con, response, sql):
    rows, cols = flatten(response)
    want, want_cols = run_sql(con, sql)
    if not rows and not want:
        return None
    if not rows:
        return f"empty response, oracle has {len(want)} rows"
    return compare(rows, cols, want, want_cols)
