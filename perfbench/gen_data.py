"""Seeded generator for the engine's input tables.

Writes the ten tables the registered queries read (`region` .. `embeddings`,
the schemas of FIXTURES.md section B) as one single-row-group parquet file
each, the layout `graft.Tables.load` expects. The shapes follow the
synthetic testdata the queries were written against: a TPC-H-like star
(uniform keys, flags and dates), an `events` stream with increasing
microsecond timestamps, word-soup `documents` with ~5% near-duplicates
(a copy of an earlier document plus a " dup" token), and unit-norm 64-dim
`embeddings`.

Usage: python3 gen_data.py <out_dir> [--seed N] [--scale S]
The same seed and scale always give byte-identical values.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at scale 1.0 (the sf0.01 testdata sizes)
BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
             "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "green", "small", "large", "black", "white", "bright"]
PART_NOUN = ["anvil", "bolt", "gear", "ring", "widget", "spring", "valve", "hinge"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _days(rng, n, lo, span):
    return (EPOCH_1995 + np.timedelta64(lo, "D")
            + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")


def generate(out, seed=42, scale=1.0):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(round(v * scale))) for k, v in BASE_ROWS.items()}

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    nc = n["customer"]
    _write(out, "customer", pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc)}))

    ns = n["supplier"]
    _write(out, "supplier", pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}))

    npart = n["part"]
    _write(out, "part", pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                              rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)}))

    no = n["orders"]
    _write(out, "orders", pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, no, 0, 2405),
        "o_orderpriority": rng.choice(PRIORITIES, no)}))

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, 1, 2499)}))

    ne = n["events"]
    gaps = rng.exponential(30 * DAY_US / ne, ne).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out, "events", pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, nc // 10), ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}))

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out, "documents", pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)}))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    generate(a.out, a.seed, a.scale)
