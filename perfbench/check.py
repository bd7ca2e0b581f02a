"""Oracle compare for the benchmark's verification pass.

For a query with an oracle, DuckDB runs the oracle SQL over the same
parquet tables and the Spark result must match it exactly: columns sorted
by name, same column names, same row count, equal values row by row
(floats bit-equal or both NaN, everything else equal as text). A query
without an oracle must return at least one row.
"""
import glob
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    for n in TABLES:
        path = os.path.join(data_dir, f"{n}.parquet")
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{path}')")
    return con


def mismatch(con, oracle, result_dir):
    """None if the result in `result_dir` is right, else why it is not."""
    if not glob.glob(os.path.join(result_dir, "*.parquet")):
        return "no result written"
    sdf = pq.ParquetDataset(result_dir).read().to_pandas()
    if oracle is None:
        return None if len(sdf) > 0 else "empty result"
    try:
        odf = con.execute(oracle).fetchdf()
    except Exception as e:  # an oracle that fails is a failed check
        return f"oracle failed: {e}"
    odf = odf[sorted(odf.columns)]
    sdf = sdf[sorted(sdf.columns)]
    if list(odf.columns) != list(sdf.columns):
        return f"columns: oracle={list(odf.columns)} spark={list(sdf.columns)}"
    if len(odf) != len(sdf):
        return f"rows: oracle={len(odf)} spark={len(sdf)}"
    for c in odf.columns:
        a, b = odf[c], sdf[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            av, bv = a.astype(float).values, b.astype(float).values
            neq = ~((av == bv) | (np.isnan(av) & np.isnan(bv)))
        else:
            av, bv = a.astype(str).values, b.astype(str).values
            neq = av != bv
        if neq.any():
            i = int(np.argmax(neq))
            return f"{c} row {i}: oracle={av[i]!r} spark={bv[i]!r}"
    return None
