#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <outDir>
(after: sbt "runMain graft.Verify <sfDir> <outDir>")

For each query in <outDir>/oracle_sql.json: run the SQL in DuckDB over
views named after the testdata tables, load the Spark result parquet,
sort columns by name + rows by all columns, and compare cell-exactly
(reporting max float deltas on mismatch).
"""
import duckdb, json, sys, os
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for a stable total order incl. NaN/None
    key = df.astype(str).apply(lambda r: "\x00".join(r.values), axis=1) if len(df) else None
    if key is not None:
        df = df.iloc[key.argsort(kind="stable")].reset_index(drop=True)
    return df

def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            # a table Spark wrote is a directory of part files
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con

def parse_only(sf_dir, oracle_path):
    """Build-time gate: EXPLAIN every oracle SQL (parse + bind against the
    real table schemas) without needing Spark results. Catches registry
    typos at test time instead of driver time; value-level type artifacts
    (e.g. HUGEINT stringification) still need the full compare."""
    con = connect(sf_dir)
    oracle = json.load(open(oracle_path))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            con.sql(f"EXPLAIN {sql}")
            n_pass += 1
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
    print(f"== parse-only: {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

def main():
    if sys.argv[1] == "--parse-only":
        parse_only(sys.argv[2], sys.argv[3])
        return
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        res_dir = f"{out_dir}/{name}"
        if not os.path.isdir(res_dir):
            print(f"FAIL {name}: no spark result dir"); n_fail += 1; continue
        try:
            o = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        s = con.sql(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").df()
        o, s = norm(o), norm(s)
        if list(o.columns) != list(s.columns):
            print(f"FAIL {name}: columns oracle={list(o.columns)} spark={list(s.columns)}")
            n_fail += 1; continue
        if len(o) != len(s):
            print(f"FAIL {name}: rows oracle={len(o)} spark={len(s)}"); n_fail += 1; continue
        ok = True
        for c in o.columns:
            a, b = o[c], s[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                aa = a.astype(float).values; bb = b.astype(float).values
                both_nan = np.isnan(aa) & np.isnan(bb)
                eq = (aa == bb) | both_nan
                if not eq.all():
                    d = np.nanmax(np.abs(aa - bb))
                    print(f"FAIL {name}: col {c} maxdiff={d} ({int((~eq).sum())} cells)")
                    ok = False
            else:
                if not a.astype(str).equals(b.astype(str)):
                    bad = (a.astype(str) != b.astype(str))
                    i = bad.idxmax()
                    print(f"FAIL {name}: col {c} differs e.g. row {i}: {a[i]!r} vs {b[i]!r} ({bad.sum()} cells)")
                    ok = False
        if ok:
            print(f"PASS {name} ({len(o)} rows)"); n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
