#!/usr/bin/env python3
"""Fingerprint of the DuckDB oracle text a Verify run wrote.

Usage: oracle_hash.py <outDir>
Reads <outDir>/oracle_sql.json, normalizes each SQL string (whitespace
collapsed, no spaces around '(', ')' and ','), and prints the number of
oracles and the SHA-256 of the normalized map. Two checkouts that print
the same line send DuckDB the same queries up to layout, so a refactor
of the oracle builders can be checked without running DuckDB.
"""
import hashlib
import json
import re
import sys


def norm(s):
    s = re.sub(r'\s+', ' ', s).strip()
    return re.sub(r'\s*([(),])\s*', r'\1', s)


def main():
    o = json.load(open(sys.argv[1] + "/oracle_sql.json"))
    n = {k: norm(v) for k, v in o.items()}
    print(len(n), hashlib.sha256(
        json.dumps(n, sort_keys=True).encode()).hexdigest())


if __name__ == "__main__":
    main()
