#!/usr/bin/env python3
"""Seeded TPC-H-ish table set for the benchmark (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings).

The schema and value conventions follow the scale tables the query registry
is written against: timestamp[us] dates, duplicate (l_orderkey,
l_linenumber) pairs, planted exact and near duplicate documents in the same
(lang, source) block, and unit-norm embeddings. `--sf 0.01` gives 60,000
lineitem rows. The same seed and scale give byte-identical parquet files.

Usage: python3 perfbench/gen_tables.py --out DIR --seed N --sf 0.01
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def generate(out, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def write(name, cols_fn):
        t = pa.table(cols_fn())
        rgs = max(8192, -(-t.num_rows // 8))
        pq.write_table(t, f"{out}/{name}.parquet", row_group_size=rgs)

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb, dims = int(50_000 * sf), int(50_000 * sf), 64

    def days(lo, hi, n):
        lo64 = np.datetime64(lo).astype("datetime64[D]").astype(np.int64)
        hi64 = np.datetime64(hi).astype("datetime64[D]").astype(np.int64)
        return (rng.integers(lo64, hi64 + 1, n).astype("datetime64[D]")
                .astype("datetime64[us]"))

    write("region", lambda: {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", lambda: {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write("customer", lambda: {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(0, 10000, n_cust), 2),
        "c_mktsegment": [segments[i] for i in rng.integers(0, 5, n_cust)]})
    write("supplier", lambda: {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10000, n_supp), 2)})

    adjs = ["large", "hot", "blue", "old", "new", "small", "red", "green",
            "dark", "pale"]
    nouns = ["ring", "bolt", "plate", "tube", "gear", "wheel", "pin", "rod",
             "cap", "disk"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

    def part():
        ai = rng.integers(0, len(adjs), n_part)
        ni = rng.integers(0, len(nouns), n_part)
        return {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in zip(ai, ni)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(n_part) / 10.0, 2)}
    write("part", part)

    statuses = ["F", "O", "P"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write("orders", lambda: {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [statuses[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 400000, n_orders), 2),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, n_orders)]})

    flags = ["A", "N", "R"]
    lstat = ["F", "O"]
    write("lineitem", lambda: {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [flags[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [lstat[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line)})

    etypes = ["click", "error", "purchase", "signup", "view"]

    def events():
        span_us = 30 * 24 * 3600 * 10**6
        ts = np.sort(rng.integers(0, span_us, n_events)) + \
            np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
        return {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n_events * 15 // 1000), n_events),
                                pa.int64()),
            "event_type": [etypes[i] for i in rng.integers(0, 5, n_events)],
            "value": np.round(np.minimum(rng.exponential(60, n_events), 999.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}
    write("events", events)

    vocab = ["spark", "batch", "part", "line", "column", "order", "small",
             "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
             "filter", "query", "table", "key", "stream", "join", "window",
             "data", "big", "merge", "vector", "customer", "the", "a"]
    langs = ["de", "en", "es", "fr", "zh"]

    def documents():
        texts = []
        for _ in range(n_docs):
            n = int(rng.integers(8, 101))
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), n)))
        lang_col = [langs[i] for i in rng.integers(0, 5, n_docs)]
        src_col = [f"src{i}" for i in rng.integers(0, 20, n_docs)]
        # exact duplicates share their block leader's text, lang and source
        for i in range(n_docs):
            if i % 600 in (1, 2):
                lead = i - (i % 600)
                texts[i], lang_col[i], src_col[i] = texts[lead], lang_col[lead], src_col[lead]
        # near duplicates: one token substituted, same block
        for i in range(97, n_docs, 97):
            toks = texts[i - 1].split()
            toks[len(toks) // 2] = "variant"
            texts[i] = " ".join(toks)
            lang_col[i], src_col[i] = lang_col[i - 1], src_col[i - 1]
        return {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": lang_col,
            "source": src_col,
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    write("documents", documents)

    def embeddings():
        labels = rng.integers(0, 10, n_emb)
        vecs = rng.normal(0, 1, (n_emb, dims))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}
    write("embeddings", embeddings)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf)


if __name__ == "__main__":
    main()
