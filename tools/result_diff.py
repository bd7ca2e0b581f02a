#!/usr/bin/env python3
"""Row-for-row compare of two graft.Verify output directories.

Usage: result_diff.py <dirA> <dirB> [query ...]

For each query (the named ones, else every result directory either side
holds) it reads <dir>/<query>/*.parquet from both sides and requires the
same schema (names, types, nullability), the same number of rows and the
same rows in the same order, floats bit-equal (so -0.0 differs from 0.0
and NaN equals only the same NaN). This is the regression check for the
queries without a DuckDB oracle, which tools/check.py cannot compare: run
Verify on the parent and on the change and diff the two directories.

Prints one line per differing query, then "N same, M differ"; exits 1 when
any query differs or is missing on either side.
"""
import glob
import os
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def results(d):
    """The query result directories under a Verify output dir."""
    return {n for n in os.listdir(d) if glob.glob(f"{d}/{n}/*.parquet")}


def load(d, name):
    files = sorted(glob.glob(f"{d}/{name}/*.parquet"))
    return pa.concat_tables([pq.read_table(f) for f in files])


def has_float(t):
    """Whether type `t` holds a floating value anywhere inside it."""
    if pa.types.is_floating(t):
        return True
    return any(has_float(t.field(i).type) for i in range(t.num_fields))


def same_column(x, y):
    """Whether two columns of one type hold the same values, floats by bit
    pattern."""
    if not has_float(x.type):
        return x.equals(y)
    if pa.types.is_floating(x.type):
        x, y = x.combine_chunks(), y.combine_chunks()
        nx = x.is_null().to_numpy(zero_copy_only=False)
        ny = y.is_null().to_numpy(zero_copy_only=False)
        bits = np.dtype(f"i{x.type.byte_width}")
        vx = x.fill_null(0).to_numpy(zero_copy_only=False).view(bits)
        vy = y.fill_null(0).to_numpy(zero_copy_only=False).view(bits)
        return bool((nx == ny).all() and (vx[~nx] == vy[~ny]).all())
    return canon(x.to_pylist()) == canon(y.to_pylist())


def canon(v):
    """A value with every float replaced by its IEEE-754 bit pattern."""
    if isinstance(v, float):
        return ("f64", struct.pack("<d", v))
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    return v


def diff(a, b):
    """None when the tables are the same, else a one-line reason."""
    if not a.schema.equals(b.schema, check_metadata=False):
        return f"schema A={a.schema.to_string(show_schema_metadata=False)!r} " \
               f"B={b.schema.to_string(show_schema_metadata=False)!r}"
    if a.num_rows != b.num_rows:
        return f"rows A={a.num_rows} B={b.num_rows}"
    for c in a.column_names:
        if same_column(a.column(c), b.column(c)):
            continue
        av, bv = a.column(c).to_pylist(), b.column(c).to_pylist()
        i = next(i for i, (x, y) in enumerate(zip(av, bv))
                 if canon(x) != canon(y))
        return f"{c} row {i}: A={av[i]!r} B={bv[i]!r}"
    return None


def main():
    if len(sys.argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    da, db = sys.argv[1], sys.argv[2]
    ra, rb = results(da), results(db)
    names = sys.argv[3:] or sorted(ra | rb)
    same = differ = 0
    for name in names:
        if name not in ra or name not in rb:
            side = "A" if name not in ra else "B"
            print(f"MISSING {name}: no result in {side}")
            differ += 1
            continue
        why = diff(load(da, name), load(db, name))
        if why:
            print(f"DIFF {name}: {why}")
            differ += 1
        else:
            same += 1
    print(f"{same} same, {differ} differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
