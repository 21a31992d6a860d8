"""Output checks: order-independent digests of result tables, compared
with DuckDB oracle results or with recorded pins.

A digest is the SHA-256 of the table's rows, each rendered with its
columns in name order and floats at nine significant digits, sorted. So
it ignores row order, column order and summation-order noise in the last
bits of a float, and nothing else.
"""

import datetime
import decimal
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _render(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return "0" if v == 0 else format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_render(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (datetime.date, datetime.datetime, decimal.Decimal)):
        return str(v)
    return repr(v)


def digest_rows(columns, rows):
    """(row count, digest) of `rows` whose fields follow `columns`."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_render(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return len(lines), h.hexdigest()[:20]


def _digest_query(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest_rows(cols, cur.fetchall())


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def digest_parquet(con, path):
    return _digest_query(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


def oracle_digest(con, sql, cache_path, data_key):
    """Digest of a DuckDB oracle query, cached per (data, query) in the
    checkout so later runs skip the oracle."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    key = hashlib.sha256((data_key + "\0" + sql).encode()).hexdigest()
    if key not in cache:
        n, d = _digest_query(con, sql)
        cache[key] = [n, d]
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=0, sort_keys=True)
        os.replace(tmp, cache_path)
    n, d = cache[key]
    return n, d


def check_tables(con, check_dir, tables, oracles, pins, cache_path, data_key):
    """Compare each check table with its oracle, else its pin; returns the
    mismatches. A mismatch message carries the observed [rows, digest], so
    a pin is changed by editing `expected.json` with it."""
    mismatches = []
    for name in tables:
        got = digest_parquet(con, os.path.join(check_dir, name))
        if name in oracles:
            want = oracle_digest(con, oracles[name], cache_path, data_key)
            source = "oracle"
        elif name in pins:
            want = tuple(pins[name])
            source = "pin"
        else:
            mismatches.append(f"{name}: no oracle and no pin; observed {list(got)}")
            continue
        if tuple(got) != tuple(want):
            mismatches.append(f"{name}: {source} {list(want)} != {list(got)}")
    return mismatches
