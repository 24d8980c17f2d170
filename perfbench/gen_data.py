"""Deterministic generator for the benchmark's input corpus.

Writes the ten tables graft reads (TPC-H-ish star schema, an `events`
stream, a `documents` corpus and its 64-d `embeddings`) as parquet
directories, each holding one part file, so the `ingest_search`
workload can append to them the way a caller's ingest would.

Usage: python3 gen_data.py OUT_DIR [--sf 0.1] [--seed 42]

The same (sf, seed) always produces byte-identical tables.
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
N_DOCS = 5000
N_VECS = 2000
DIM = 64
N_LABELS = 10
PART_ADJ = ["large", "hot", "blue", "red", "small", "green", "cold", "tiny"]
PART_NOUN = ["ring", "bolt", "widget", "gear", "nut", "screw", "pipe", "valve"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def write(out, name, cols):
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(d, "part-00000.parquet"),
                   compression="snappy")


def generate(out, sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))
    n_events = int(1_000_000 * sf)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        # every nation holds suppliers and customers (shuffled round-robin)
        "s_nationkey": pa.array(rng.permutation(np.arange(n_supp) % 25).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.permutation(np.arange(n_cust) % 25).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": days(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    # about four lines per order, one to seven
    per_order = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(okeys)
    linenum = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    perm = rng.permutation(n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": okeys[perm],
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(linenum[perm]),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": days(rng, n_li, "1995-01-02", 2500)})

    base = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    n_users = max(100, int(15_000 * sf))
    write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": base + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.gamma(2.0, 25.0, n_events), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)]})

    texts = []
    for i in range(N_DOCS):
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        # ~5% near-duplicates of an earlier document, marked like the
        # reference corpus's dedup fixtures
        if i > 0 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split()[:40] + ["dup"]
        texts.append(" ".join(words))
    write(out, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, N_LABELS, N_VECS)
    centers = rng.normal(0, 1, (N_LABELS, DIM))
    v = centers[labels] + rng.normal(0, 1.5, (N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args(argv)
    generate(a.out, a.sf, a.seed)


if __name__ == "__main__":
    main(sys.argv[1:])
