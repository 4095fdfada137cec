#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify's parquet
dumps against the DuckDB oracle, mimicking the documented compare (columns
sorted by name, rows sorted, values compared).

Usage: python3 tools/check.py <sfDir> <outDir>
(Verify must have been run first: sbt "runMain graft.Verify <sfDir> <outDir>")
Every query named in oracle_sql.json must have a dump; a missing one fails.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: timestamps -> iso strings, floats stay floats
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_noracle = 0
    # a declared query without a dump did not run: that is a failure
    for name in sorted(oracle):
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"  [FAIL-miss] {name}: no output dump (the query failed to run)")
            n_fail += 1
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        got = pd.read_parquet(d)
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(got)} rows")
            n_noracle += 1
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"  [FAIL-sql ] {name}: {str(e)[:200]}")
            n_fail += 1
            continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"  [FAIL-cols] {name}: got {list(g.columns)} vs oracle {list(e.columns)}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"  [FAIL-rows] {name}: got {len(g)} vs oracle {len(e)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            print(f"  [PASS     ] {name}: {len(g)} rows")
            n_pass += 1
        except AssertionError:
            # show first mismatch for debugging
            diff_cols = []
            for c in g.columns:
                if not g[c].equals(e[c]):
                    diff_cols.append(c)
            print(f"  [FAIL-vals] {name}: mismatched cols {diff_cols}")
            for c in diff_cols[:2]:
                neq = g[c] != e[c]
                idx = neq[neq].index[:3]
                for i in idx:
                    print(f"      row {i} col {c}: got={g[c][i]!r} exp={e[c][i]!r}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
