#!/usr/bin/env python3
"""Deterministic synthetic engine corpus for the benchmark.

Writes the ten corpus tables the engine's queries read (`region nation
customer supplier part orders lineitem events documents embeddings`), one
parquet file each, with the schemas and value domains of the engine's
test corpus (TPC-H-ish star schema, an `events` stream, a token-text
`documents` table and 64-d `embeddings`). Row counts scale with `sf`
like the test corpus: lineitem has 6,000,000 * sf rows.

The corpus is a fixed input of the benchmark: it is generated from
`DATA_SEED`, not from a run's `--seed`, so the expected query results
stored in `expected_sf*.json` stay valid for every run. A run's seed
drives only the operation stream the workloads build on top of it.

Usage: python3 perfbench/datagen.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, lo_day, hi_day, n):
    d = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(EPOCH_1995 + d * US_PER_DAY, pa.timestamp("us"))


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    n_user = max(10, int(15_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": days(rng, 0, 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days(rng, 1, 2499, n_line)})
    # a month of events, microsecond timestamps, exponential gaps
    gaps = rng.exponential(30 * US_PER_DAY / n_evt, n_evt).astype(np.int64)
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": money(rng, 0.01, 490.02, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # documents: token text over a 30-word vocabulary; one in twenty is a
    # near duplicate of an earlier document (its text plus a "dup" token)
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, n_tok)))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # embeddings: ten labelled clusters in 64 dimensions
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0.0, 0.08, (10, 64))
    vecs = (centres[labels] + rng.normal(0.0, 0.1, (n_vec, 64))).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main():
    out_dir, sf = sys.argv[1], float(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
