#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: check.py <sfDir> <outDir> [query ...]
Reads <outDir>/oracle_sql.json, runs each SQL against the parquet tables
in <sfDir> via DuckDB, loads the Spark result parquet from <outDir>/<name>,
sorts columns by name, and compares row count / schema / exact values.
Named queries that oracle_sql.json does not hold are listed, and the check
exits 1: a misspelled name must not pass as "0 ok, 0 bad".
"""
import sys, json, glob
import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main():
    sf, out = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for n in TABLES:
        con.execute(
            f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{sf}/{n}.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    unmatched = sorted(only - set(oracle))
    for name in unmatched:
        print(f"UNKNOWN {name}: not in oracle_sql.json")
    n_ok = n_bad = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        try:
            odf = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"ORACLE-FAIL {name}: {e}")
            n_bad += 1
            continue
        if not glob.glob(f"{out}/{name}/*.parquet"):
            print(f"MISSING {name}")
            n_bad += 1
            continue
        sdf = pq.ParquetDataset(f"{out}/{name}").read().to_pandas()
        odf = odf[sorted(odf.columns)]
        sdf = sdf[sorted(sdf.columns)]
        if list(odf.columns) != list(sdf.columns):
            print(f"SCHEMA {name}: oracle={list(odf.columns)} spark={list(sdf.columns)}")
            n_bad += 1
            continue
        if len(odf) != len(sdf):
            print(f"ROWS {name}: oracle={len(odf)} spark={len(sdf)}")
            n_bad += 1
            continue
        bad_col = None
        for c in odf.columns:
            a, b = odf[c], sdf[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                av = a.astype(float).values
                bv = b.astype(float).values
                neq = ~((av == bv) | (np.isnan(av) & np.isnan(bv)))
                if neq.any():
                    i = int(np.argmax(neq))
                    d = np.nanmax(np.abs(av - bv))
                    bad_col = f"{c} row {i}: oracle={av[i]!r} spark={bv[i]!r} maxdiff={d:g}"
                    break
            else:
                av = a.astype(str).values
                bv = b.astype(str).values
                neq = av != bv
                if neq.any():
                    i = int(np.argmax(neq))
                    bad_col = f"{c} row {i}: oracle={av[i]!r} spark={bv[i]!r}"
                    break
        if bad_col:
            print(f"VAL {name}: {bad_col}")
            n_bad += 1
        else:
            # dtype note (driver may compare schemas more strictly)
            dt = [f"{c}:{odf[c].dtype}/{sdf[c].dtype}" for c in odf.columns
                  if odf[c].dtype != sdf[c].dtype]
            note = f"  [dtype: {', '.join(dt)}]" if dt else ""
            print(f"OK {name} ({len(odf)} rows){note}")
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} bad ==")
    sys.exit(1 if n_bad or unmatched else 0)

if __name__ == "__main__":
    main()
