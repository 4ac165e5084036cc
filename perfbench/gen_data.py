#!/usr/bin/env python3
"""Deterministic generator of the benchmark corpus.

Writes the ten fixture tables the library reads (`graft.Tables.all`) as one
parquet file each, with the schemas and value shapes of the project's
fixtures (FIXTURES.md): a TPC-H-like star schema, an event
stream, a document corpus over a 30-word vocabulary (plus the `dup` marker)
and 64-d unit embeddings. Row counts scale with `sf` like the fixtures do;
at sf 0.1 the ten tables hold 893,030 rows and 440,266 distinct keys.

The corpus depends only on `sf` and the data seed, never on a workload
seed: workload seeds pick requests and batches over one fixed corpus, so
the recorded batch-job hashes stay valid for every workload seed.

Usage: gen_data.py <out_dir> [--sf 0.1] [--data-seed 42]
"""
import argparse
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    yield "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                              rng.choice(PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000, 500_000, n_ord),
        "o_orderdate": ts(t1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": ts(t1995 + DAY_US + rng.integers(0, 2498, n_line) * DAY_US)})
    t2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    yield "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(np.sort(t2024 + rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": money(rng, 0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(10, 101, n_doc)
    words = rng.choice(VOCAB, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] += " dup"
    # A few exact duplicates, the exact-dedup operators' positives.
    for src, dst in rng.choice(n_doc, (max(1, n_doc // 600), 2), replace=False):
        texts[max(src, dst)] = texts[min(src, dst)]
    yield "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def generate(out_dir, sf, seed):
    """Write the corpus to `out_dir` atomically; a no-op when present."""
    if os.path.isdir(out_dir):
        return
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf, seed):
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.makedirs(os.path.dirname(os.path.abspath(out_dir)), exist_ok=True)
    os.rename(tmp, out_dir)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--data-seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out_dir, a.sf, a.data_seed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
