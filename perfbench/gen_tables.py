"""Deterministic synthetic tables for the registry workloads.

The registry queries (`graft.SparkEntry.queries`) read a TPC-H-like star
schema plus an event stream, a document corpus and an embedding table, one
parquet file per table. This module writes those tables with the same
column names, types and value ranges at a scale of 60,000 lineitem rows,
always from the same seed, so every run reads the same files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SCALE = {"lineitem": 60000, "orders": 15000, "customer": 1500, "part": 2000,
         "supplier": 100, "events": 10000, "documents": 500, "embeddings": 500}
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]


def _ts(base, seconds):
    """Timestamps (microsecond, no time zone) at `seconds` after `base`."""
    us = (np.asarray(seconds) * 1_000_000).astype("int64")
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(start + us, type=pa.timestamp("us"))


def tables():
    r = np.random.default_rng(SEED)
    out = {}
    n = SCALE
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, c)]})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                   for a, b in zip(r.integers(0, 8, p), r.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in r.integers(0, 25, p)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, p)],
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10.0, 2)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, o)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), r.integers(0, 2404, o) * 86400),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, o)]})
    li = n["lineitem"]
    qty = r.integers(1, 51, li).astype("float64")
    flags = r.integers(0, 6, li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, li), 2),
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": [("R", "A", "N")[i % 3] for i in flags],
        "l_linestatus": [("O", "F")[i // 3] for i in flags],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), r.integers(0, 2498, li) * 86400)})
    e = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(r.uniform(0, 30 * 86400, e))),
        "user_id": pa.array(r.integers(0, 150, e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, e)],
        "value": np.round(r.uniform(0.01, 490.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(WORDS[w] for w in r.integers(0, len(WORDS), r.integers(10, 100)))
             for _ in range(d)]
    # one document in twenty is another document with " dup" appended
    for i in r.choice(d, d // 20, replace=False):
        j = int(r.integers(0, d))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), d)],
        "source": [f"src{i}" for i in r.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    vec = r.normal(size=(m, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vec.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), pa.int32())})
    return out


def write(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
