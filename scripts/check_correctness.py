#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Reads <outdir>/oracle_sql.json + each <outdir>/<name>/ parquet result
written by graft.Verify, runs every oracle SQL in DuckDB over the same
test tables, and compares (row count, column names, multiset of values).

Usage: scripts/check_correctness.py [sfdir] [outdir]
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sf):
    """A DuckDB connection with every test table of `sf` as a view."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return con


def compare(con, left, right, names=("spark", "oracle")):
    """(status, detail) of two queries' row multisets, columns matched
    by name: OK, COLS_MISMATCH, ROWCOUNT_MISMATCH or VALUES_MISMATCH."""
    a, b = names
    con.execute(f"CREATE OR REPLACE TEMP VIEW _left AS {left}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW _right AS {right}")
    lcols = [c[0] for c in con.execute("DESCRIBE _left").fetchall()]
    rcols = [c[0] for c in con.execute("DESCRIBE _right").fetchall()]
    if sorted(lcols) != sorted(rcols):
        return ("COLS_MISMATCH", f"{a}={sorted(lcols)} {b}={sorted(rcols)}")
    cols = ", ".join(f'"{c}"' for c in sorted(lcols))
    nl = con.execute("SELECT count(*) FROM _left").fetchone()[0]
    nr = con.execute("SELECT count(*) FROM _right").fetchone()[0]
    if nl != nr:
        return ("ROWCOUNT_MISMATCH", f"{a}={nl} {b}={nr}")
    only_l = f"SELECT {cols} FROM _left EXCEPT ALL SELECT {cols} FROM _right"
    only_r = f"SELECT {cols} FROM _right EXCEPT ALL SELECT {cols} FROM _left"
    d1 = con.execute(f"SELECT count(*) FROM ({only_l})").fetchone()[0]
    d2 = con.execute(f"SELECT count(*) FROM ({only_r})").fetchone()[0]
    if d1 or d2:
        ex = con.execute(f"{only_l} LIMIT 3").fetchall()
        ex2 = con.execute(f"{only_r} LIMIT 3").fetchall()
        return ("VALUES_MISMATCH",
                f"{a}_only={d1} {b}_only={d2}\n    {a}: {ex}\n    {b}: {ex2}")
    return ("OK", f"{nl} rows")


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = connect(sf)
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    results = {}
    for name in sorted(os.listdir(out)):
        path = os.path.join(out, name)
        if not os.path.isdir(path):
            continue
        spark_rel = f"SELECT * FROM read_parquet('{path}/*.parquet')"
        if name not in oracle:
            n = con.execute(f"SELECT count(*) FROM ({spark_rel})").fetchone()[0]
            results[name] = ("ROWS_ONLY", f"{n} rows")
            continue
        try:
            results[name] = compare(con, spark_rel, oracle[name])
        except Exception as e:  # noqa: BLE001
            results[name] = ("ERROR", str(e).split("\n")[0][:300])

    n_ok = sum(1 for s, _ in results.values() if s in ("OK", "ROWS_ONLY"))
    for name, (status, detail) in results.items():
        mark = "PASS" if status in ("OK", "ROWS_ONLY") else "FAIL"
        print(f"[{mark}] {name}: {status} {detail}")
    missing = set(oracle) - set(results)
    for name in sorted(missing):
        print(f"[FAIL] {name}: NO_SPARK_OUTPUT")
    print(f"== {n_ok}/{len(results) + len(missing)} pass ==")
    sys.exit(0 if n_ok == len(results) + len(missing) else 1)


if __name__ == "__main__":
    main()
