#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables graft's registry reads (the TPC-H-shaped star schema,
`events`, `documents`, `embeddings`) with the schemas, value domains and
layout of the repository's sf fixtures: one parquet file per table, one row
group per file, snappy-compressed, timestamps as naive microseconds. The
same seed always gives byte-identical files.

Usage: python3 perfbench/gen.py <out_dir> <seed> [scale]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per unit of scale. At scale 0.01 these are the sf0.01 fixture's
# sizes (lineitem 60k); embeddings stay at 500 rows there too.
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 50_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "red", "green", "small", "large", "hot", "cold", "new", "old",
       "shiny", "dark", "light", "steel"]
NOUN = ["ring", "widget", "bolt", "anvil", "plate", "rod", "gear", "nut",
        "spring", "valve"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DIM = 64
US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131 * US_PER_DAY   # 1995-01-01
EPOCH_2024 = 19723 * US_PER_DAY  # 2024-01-01


def ts(values):
    return pa.array(values, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * scale))) for t, r in ROWS.items()}
    n["embeddings"] = max(1, int(round(ROWS["embeddings"] * scale)))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), p), rng.integers(0, len(NOUN), p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [TYPES[i] for i in rng.integers(0, len(TYPES), p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": money(rng, 1000.0, 500000.0, o),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2405, o) * US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": ts(EPOCH_1995 + rng.integers(1, 2499, li) * US_PER_DAY)})
    e = n["events"]
    gaps = rng.exponential(30 * US_PER_DAY / e, e).astype(np.int64) + 1
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(1, e // 66), e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        # about one doc in twenty repeats an earlier one plus a marker
        # token: the near-duplicates the dedup operators look for
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()), "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    v = rng.standard_normal((m, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return out


def generate(out_dir, seed, scale):
    """Writes every table; returns {table: {rows, bytes, row_groups}}."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, t in tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows))
        info[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path),
                      "row_groups": pq.ParquetFile(path).metadata.num_row_groups}
    return info


if __name__ == "__main__":
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 0.01
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), scale)))
