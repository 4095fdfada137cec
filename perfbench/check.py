"""Output check of the layered benchmark.

Each dumped query output is compared with the result of the engine's own
oracle SQL (``SparkEntry.oracleSql``) run by DuckDB on the same generated
inputs, the way ``tools/check.py`` compares: columns by name, rows sorted,
floats within tolerance. ``approx_spread`` has no oracle; it must hold every
``vec_id`` of the input exactly once, labels in {-1, 0, 1}, f1 + f0 <= 1, and
the same rows in both of its dumps.

``check(entries, oracle_sql)`` returns one ``{name, ok, detail, path}`` per
checked output.
"""
import os
import re

import duckdb
import numpy as np
import pandas as pd

ABS_TOL = 2e-6   # outputs are rounded to 6 dp (or coarser) by both engines
REL_TOL = 1e-9


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    # sort on floats rounded well above the tolerance, so near-ties that
    # differ in the last digits cannot misalign rows
    key = pd.DataFrame({c: (df[c].round(4) if df[c].dtype.kind == "f" else df[c])
                        for c in df.columns})
    order = key.sort_values(by=list(key.columns), na_position="first").index
    return df.loc[order].reset_index(drop=True)


def _materialized(sql):
    """The oracle SQL with every CTE marked MATERIALIZED. Same result; DuckDB
    1.0 otherwise inlines each CTE at every reference, which re-runs q12's
    k-NN self-join for each of the five unrolled iterations (27 s vs 3 s)."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def _compare(got, exp):
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows != oracle {len(e)}"
    for c in g.columns:
        a, b = g[c].to_numpy(), e[c].to_numpy()
        if g[c].dtype.kind == "f" or e[c].dtype.kind == "f":
            a, b = a.astype(float), b.astype(float)
            same = np.isclose(a, b, rtol=REL_TOL, atol=ABS_TOL, equal_nan=True)
        else:
            same = (g[c].fillna("<null>").astype(str).to_numpy()
                    == e[c].fillna("<null>").astype(str).to_numpy())
        if not same.all():
            i = int(np.argmin(same))
            return f"column {c} differs at sorted row {i}: got {a[i]!r}, oracle {b[i]!r}"
    return None


def _approx_spread(got, again, data_dir):
    ids = pd.read_parquet(os.path.join(data_dir, "embeddings.parquet"), columns=["vec_id"]).vec_id
    missing = len(set(ids) - set(got.vec_id))
    if missing or len(got) != len(ids) or got.vec_id.duplicated().any():
        return (f"{missing} of {len(ids)} vec_ids missing from the output "
                f"({len(got)} rows): spread dropped nodes")
    if not got.label_prop.isin([-1, 0, 1]).all():
        return "label outside {-1, 0, 1}"
    if ((got.f1 + got.f0) > 1 + ABS_TOL).any():
        return "f1 + f0 > 1"
    if again is None or not _canon(got).equals(_canon(again)):
        return "second invocation gave a different result"
    return None


def check(entries, oracle_sql):
    cons, results = {}, []
    dumps = {(e["workload"], e["id"]): e for e in entries}
    for e in entries:
        if e["id"].endswith(".again"):
            continue
        name, data = f'{e["workload"]}/{e["id"]}', e["data"]
        try:
            got = pd.read_parquet(e["path"])
            if e["id"] == "approx_spread":
                again = dumps.get((e["workload"], "approx_spread.again"))
                again = pd.read_parquet(again["path"]) if again else None
                err = _approx_spread(got, again, data)
            else:
                if data not in cons:
                    con = duckdb.connect()
                    for f in sorted(os.listdir(data)):
                        if f.endswith(".parquet"):
                            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                        f"read_parquet('{os.path.join(data, f)}')")
                    cons[data] = con
                err = _compare(got, cons[data].sql(_materialized(oracle_sql[e["oracle"]])).df())
        except Exception as ex:  # a missing dump or a failing oracle is a failed check
            err = f"{type(ex).__name__}: {str(ex)[:300]}"
        results.append({"name": name, "ok": err is None, "detail": err or "matches",
                        "path": e["path"]})
    return results
