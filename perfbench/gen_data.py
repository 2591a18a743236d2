#!/usr/bin/env python3
"""Generate the benchmark's query tables.

Usage: python3 perfbench/gen_data.py <out_dir> [--sf 0.1]

Writes the ten parquet tables the registry queries read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) in the same schema and value distributions as the
project's standard synthetic test data: a TPC-H-ish star schema with
uniform keys, an `events` stream, a small-vocabulary `documents`
corpus with planted exact and near duplicates, and 64-d unit
embeddings. Row counts scale linearly with `--sf` (sf 0.1 gives 600k
lineitem rows).

The data seed is fixed: the expected row counts and content hashes in
`expected.json` are computed from exactly these tables. The benchmark's
`--seed` varies query order and transfer trees, never these rows.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("a the data spark table column row value key join filter sort "
         "group agg scan query stream batch window merge hash order line "
         "part customer vector small big fast slow").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DAY_US = 86_400_000_000


def _ts(days_from_epoch):
    return pa.array(days_from_epoch.astype("int64") * DAY_US,
                    type=pa.timestamp("us"))


def _days(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype("int64"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _docs(rng, n):
    """Random word sequences, with a few exact copies and ~3% near copies
    (one or two words swapped), so dedup clusters exist."""
    lens = rng.integers(8, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in rng.choice(n, max(1, n // 625), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, n // 33, replace=False):
        toks = texts[int(rng.integers(0, n))].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(toks)
    return texts


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_users = int(50_000 * sf), max(10, int(15_000 * sf))
    n_vec = max(100, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["blue", "red", "hot", "cold", "new", "old", "small", "big"]
    noun = ["ring", "gear", "plate", "rod", "bolt", "anvil", "nut", "pipe"]
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1)})
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng.integers(d0 + 1, _days(2001, 11, 4) + 1, n_line))})
    ev0 = _days(2024, 1, 1) * DAY_US
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(np.sort(rng.integers(ev0, ev0 + 30 * DAY_US, n_ev)),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _docs(rng, n_doc)
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    vec = rng.standard_normal((n_vec, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype("int32")})


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args()
    generate(a.out, a.sf)
