"""Deterministic generator for the benchmark corpus.

Writes the ten tables the graft queries read (TPC-H-ish analytics tables,
`events`, `documents`, `embeddings`) with the column names and types of the
repository's test corpora, as directories of parquet part files so that
shard appends can land new part files beside the first one.

The corpus depends only on `CORPUS_SEED` and the row counts, never on a run's
`--seed`: every run of every workload reads the same bytes. Documents carry
planted near-duplicates and contained passages, and embeddings carry planted
near-duplicate vectors, so the dedup passes find pairs.

Usage: python3 gen_corpus.py <out_dir> [scale]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20261017
DIM = 64
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]

# Row counts at scale 1. Vectors and documents share ids 0..n-1, so the
# combined serving table has one row per document.
ROWS = {"documents": 500, "embeddings": 500, "lineitem": 60000,
        "orders": 15000, "customer": 1500, "part": 2000, "supplier": 100,
        "events": 10000, "users": 150}


def counts(scale):
    return {k: max(int(round(v * scale)), 20) for k, v in ROWS.items()}


def write(out, name, table):
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"))


def ts_us(base, seconds):
    epoch = int(dt.datetime(*base).replace(tzinfo=dt.timezone.utc).timestamp())
    return pa.array((epoch + seconds) * 1_000_000, pa.timestamp("us"))


def day_us(base, days):
    return ts_us(base, days.astype(np.int64) * 86400)


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.03:  # near-duplicate of an earlier document
            src = texts[rng.integers(0, i)].split()
            for j in rng.choice(len(src), max(1, len(src) // 10), replace=False):
                src[j] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(src + ["dup"]))
        elif i > 50 and r < 0.05:  # passage contained in an earlier document
            src = texts[rng.integers(0, i)].split()
            ln = max(10, len(src) // 2)
            st = rng.integers(0, max(1, len(src) - ln + 1))
            texts.append(" ".join(src[st:st + ln]))
        else:
            ln = rng.integers(10, 90)
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), ln)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def embeddings(rng, n):
    v = unit_vectors(rng, n)
    for i in range(51, n):
        if rng.random() < 0.03:  # planted near-duplicate vector
            w = v[rng.integers(0, i)] + rng.normal(0, 0.01, DIM)
            v[i] = w / np.linalg.norm(w)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out, scale=1.0):
    c = counts(scale)
    rng = np.random.default_rng(CORPUS_SEED)
    write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    n = c["customer"]
    write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n).tolist()}))
    n = c["supplier"]
    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)}))
    n = c["part"]
    write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(P_TYPES, n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n) / 10.0, 2)}))
    n = c["orders"]
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": day_us((1995, 1, 1), rng.integers(0, 2404, n)),
        "o_orderpriority": rng.choice(PRIORITIES, n).tolist()}))
    n = c["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": day_us((1995, 1, 2), rng.integers(0, 2498, n))}))
    n = c["events"]
    secs = np.sort(rng.integers(0, 30 * 86400, n))
    write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": ts_us((2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, c["users"], n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.exponential(60.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}))
    write(out, "documents", documents(rng, c["documents"]))
    write(out, "embeddings", embeddings(rng, c["embeddings"]))
    return c


if __name__ == "__main__":
    print(generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0))
