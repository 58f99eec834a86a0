"""Seeded generator for the query workloads' tables.

Writes the ten parquet tables graft's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas, value ranges and cardinalities of graft's
synthetic test tables. Row counts scale with `sf` (sf 0.01 gives 60,000
lineitem rows). The same (seed, sf) always gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["spark", "merge", "window", "customer", "part", "group", "stream",
         "filter", "sort", "the", "scan", "vector", "join", "query", "big",
         "hash", "data", "column", "agg", "table", "line", "small", "slow",
         "key", "fast", "order", "row", "value", "a", "batch"]
ADJS = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
NOUNS = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "anvil"]
TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "BUILDING", "FURNITURE", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "zh", "es", "fr", "de"]
DAY_US = 86_400_000_000


def _pick(rng, values, n):
    return [values[i] for i in rng.integers(0, len(values), n)]


def _ts(base_day, offsets_us):
    t0 = np.datetime64(base_day, "us").astype(np.int64)
    return pa.array(t0 + offsets_us, pa.timestamp("us"))


def tables(seed, sf):
    """Returns {name: pyarrow.Table} for one (seed, sf)."""
    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(round(base * sf)))
    nc, ns, np_, no, nl = n(150_000), n(10_000), n(200_000), n(1_500_000), n(6_000_000)
    ne, users = n(1_000_000), n(15_000)
    nd = max(500, n(50_000))
    nv = max(500, n(20_000))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": _pick(rng, TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": np.round(rng.uniform(1, 50, nl), 0),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": _pick(rng, ["R", "N", "A"], nl),
        "l_linestatus": _pick(rng, ["O", "F"], nl),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, nl) * DAY_US)})
    ets = np.sort(rng.integers(0, 30 * DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", ets),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    words = np.array(VOCAB)
    docs = [words[rng.integers(0, len(VOCAB), rng.integers(10, 100))]
            for _ in range(nd)]
    # ~4% near-duplicates: copies of an earlier document with a few
    # tokens replaced, the families graft's dedup queries look for
    ndup = nd // 25
    for j, tgt in enumerate(rng.integers(0, nd - ndup, ndup)):
        w = docs[tgt].copy()
        for _ in range(rng.integers(0, 3)):
            w[rng.integers(0, len(w))] = "dup"
        docs[nd - ndup + j] = w
    texts = [" ".join(w) for w in docs]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centroids[labels] + rng.normal(0, 0.35, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, seed, sf):
    """Writes every table as <out_dir>/<name>.parquet; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in tables(seed, sf).items():
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, p, compression="snappy")
        total += os.path.getsize(p)
    return total
