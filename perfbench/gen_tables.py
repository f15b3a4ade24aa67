"""Synthetic input tables for the batch_mix workload.

Writes the ten parquet tables that `graft.SparkEntry` queries read
(`region nation customer supplier part orders lineitem events documents
embeddings`) at a given scale factor, with the column names, types and
value shapes the query suite expects. The data is a pure function of
(scale factor, data seed): the expected query digests in
`expected/batch_mix.json` hold for exactly one such pair, so the
workload seed never changes the data, only the query order.

    python3 perfbench/gen_tables.py OUT_DIR SF [DATA_SEED]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "the", "data", "table", "row", "column", "key", "value",
         "join", "merge", "sort", "hash", "scan", "filter", "group", "agg",
         "order", "line", "part", "customer", "query", "window", "stream",
         "batch", "spark", "vector", "small", "big", "fast", "slow"]
LANGS = ["en", "en", "en", "en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EMB_DIM = 64
EMB_LABELS = 10


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _dates(rng, n, start, days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def generate(out, sf, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_embs = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail})
    odate = _dates(rng, n_ord, "1995-01-01", 2404)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    # 1..7 lines per order, cut to exactly n_line rows
    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)[:n_line]
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order])[:n_line]
    pkey = rng.integers(0, n_part, len(okey)).astype(np.int64)
    qty = rng.integers(1, 51, len(okey)).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, len(okey)).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey]
                                    * rng.uniform(1.0, 2.1, len(okey)), 2),
        "l_discount": np.round(rng.integers(0, 11, len(okey)) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, len(okey)) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], len(okey)),
        "l_linestatus": rng.choice(["F", "O"], len(okey)),
        "l_shipdate": odate[okey] + rng.integers(1, 122, len(okey))
        .astype("timedelta64[D]")})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span_us, n_events).astype("timedelta64[us]"))
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup workload
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n_embs)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_embs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_embs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
