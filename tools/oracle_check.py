#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare.

Usage: oracle_check.py <sfDir> <verifyDir> [query ...]

Loads every harness table in <sfDir> into DuckDB, runs each query's oracle
SQL (from <verifyDir>/oracle_sql.json), reads the Spark result parquet the
Verify main dumped, and compares the full sorted row sets exactly (floats
to 1e-9, which is far tighter than the 1e-6 rounding both engines apply).
"""
import json
import math
import sys

import duckdb


def norm(rows):
    # floats are keyed at 6 dp, so rows equal within the 1e-9 tolerance of
    # eq() sort to the same position (+ 0.0 folds -0.0 into 0.0)
    def cell(x):
        return str(round(x, 6) + 0.0) if isinstance(x, float) else str(x)

    def key(r):
        return tuple((x is None, cell(x)) for x in r)
    return sorted([tuple(r) for r in rows], key=key)


def eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def rows_equal(ra, rb):
    return len(ra) == len(rb) and all(
        len(x) == len(y) and all(eq(u, v) for u, v in zip(x, y))
        for x, y in zip(ra, rb))


def main():
    sf_dir, verify_dir = sys.argv[1], sys.argv[2]
    only = sys.argv[3:]
    con = duckdb.connect()
    for t in ["lineitem", "orders", "customer", "nation", "region", "part",
              "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{verify_dir}/oracle_sql.json"))
    failed = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            want = con.execute(sql).fetchall()
            got = con.execute(
                f"SELECT * FROM read_parquet('{verify_dir}/{name}/*.parquet')"
            ).fetchall()
        except Exception as e:
            print(f"{name:28s} ERROR {e}")
            failed += 1
            continue
        ok = rows_equal(norm(want), norm(got))
        print(f"{name:28s} {'OK' if ok else 'MISMATCH'} "
              f"(oracle {len(want)} rows, spark {len(got)} rows)")
        if not ok:
            failed += 1
            w, g = norm(want), norm(got)
            for i, (x, y) in enumerate(zip(w, g)):
                if not (len(x) == len(y) and all(eq(u, v) for u, v in zip(x, y))):
                    print(f"  first diff row {i}: oracle={x} spark={y}")
                    break
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
