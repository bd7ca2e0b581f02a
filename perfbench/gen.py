"""Seeded synthetic tables for the benchmark.

Writes the ten tables the program reads (`graft.Tables.names`), one
parquet file each, with the physical schemas of the program's reference
test data at scale factor 0.01: a TPC-H-like star schema, an `events`
stream, a `documents` corpus and unit-norm float embeddings. Every
value is drawn from `numpy.random.RandomState(seed)`, so one seed always
gives byte-identical inputs; sizes do not depend on the seed.

Each constant and distribution below is set from a figure measured on
the reference tables with profile_tables.py (the figures are quoted next
to each; README.md, "Inputs", lists the reference and the generated
values side by side).

Usage: python3 gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the reference tables at scale factor 0.01.
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, users=150, documents=500,
             embeddings=500)
EMBED_DIM = 64
# 25 of the reference's 500 documents end in the token "dup"; 24 of them
# are another document plus that token.
DUP_SHARE = 0.05

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
# reference: en=218 of 500, the other four 64..75 each
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# The reference corpus uses exactly these 30 tokens (plus "dup"), drawn
# uniformly: token counts have a coefficient of variation of 0.032, as a
# multinomial draw gives (0.033).
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def ts_col(micros):
    return pa.array(micros, type=pa.int64()).cast(pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.RandomState(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.randint(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.randint(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n["supplier"])})
    # reference: uniform foreign keys (4.07 lineitems per order, max 13;
    # 10.0 orders per customer, max 25), 2399 distinct order dates
    pk = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.randint(0, 8, n["part"]), rng.randint(0, 8, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.randint(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.randint(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000, 500000, no),
        "o_orderdate": ts_col(EPOCH_1995 + rng.randint(0, 2404, no) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.randint(0, no, nl).astype(np.int64),
        "l_partkey": rng.randint(0, n["part"], nl).astype(np.int64),
        "l_suppkey": rng.randint(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, nl).astype(np.int32),
        "l_quantity": rng.randint(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, nl),
        "l_discount": np.round(rng.uniform(0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": ts_col(
            EPOCH_1995 + rng.randint(1, 2500, nl) * DAY_US)})
    ne = n["events"]
    # reference: 30.0 days spanned, gaps with a coefficient of variation of
    # 0.995 (exponential), 49..86 events per each of 150 users (uniform
    # keys), values with min 0.01, median 34.6, mean 49.6 (exponential)
    gaps = rng.exponential(30 * DAY_US / ne, ne).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts_col(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.randint(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, ne)]})
    out["documents"] = documents(rng, n["documents"])
    nv = n["embeddings"]
    m = rng.standard_normal((nv, EMBED_DIM))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(m.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": rng.randint(0, 10, nv).astype(np.int32)})
    return out


def documents(rng, nd):
    """Random texts over VOCAB, 10..99 tokens each (reference: min 10,
    median 56, max 99, flat histogram); DUP_SHARE of them are a copy of
    another document with the extra token "dup", so they are
    near-duplicates."""
    texts = [" ".join(rng.choice(VOCAB, rng.randint(10, 100)))
             for _ in range(nd)]
    dups = rng.choice(nd, int(nd * DUP_SHARE), replace=False)
    for d in dups:
        src = int(rng.randint(0, nd))
        while src == d or src in dups:
            src = int(rng.randint(0, nd))
        texts[d] = texts[src] + " dup"
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
