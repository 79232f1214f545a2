#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten tables `graft.Tables` reads (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`), one parquet file each, with the
same column names, types and value domains as the engine's test data.
Every value is drawn independently from a fixed-seed generator, so the
same scale factor always gives byte-identical inputs.

Usage: python3 perfbench/gen_data.py <out_dir> <scale_factor>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20260813

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, first, last, n):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return d.astype("datetime64[us]")


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_supp, n_cust = int(10000 * sf), int(150000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_li, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp), f64)})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                            "HOUSEHOLD", "MACHINERY"], n_cust), s)})
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    yield "part", pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(pick(rng, names, n_part), s),
        "p_brand": pa.array(pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part), s),
        "p_type": pa.array(pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                      "STANDARD"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2), f64)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(pick(rng, ["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-01", n_ord), ts),
        "o_orderpriority": pa.array(pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                               "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(pick(rng, ["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(pick(rng, ["F", "O"], n_li), s),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n_li), ts)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1000000
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(t0 + rng.integers(0, span, n_ev)).astype("datetime64[us]"), ts),
        "user_id": pa.array(rng.integers(0, int(15000 * sf), n_ev), i64),
        "event_type": pa.array(pick(rng, ["click", "error", "purchase", "signup",
                                          "view"], n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup queries' signal
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(rng, WORDS, int(rng.integers(10, 101)))))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(pick(rng, ["en", "de", "es", "fr", "zh"], n_doc,
                              p=[0.4, 0.15, 0.15, 0.15, 0.15]), s),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def main():
    out, sf = sys.argv[1], float(sys.argv[2])
    tmp = out + ".partial"
    os.makedirs(tmp, exist_ok=True)
    for name, tbl in tables(sf):
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out)


if __name__ == "__main__":
    main()
