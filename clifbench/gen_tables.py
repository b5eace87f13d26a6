#!/usr/bin/env python3
"""Seeded generator of the query boards' synthetic tables.

Usage: python3 clifbench/gen_tables.py <outDir> --seed N [--sf F]

Writes `region nation customer supplier part orders lineitem events
documents embeddings` as one parquet file each, with the schemas, value
domains and row counts per scale factor of the TPC-H-ish tables the
`SparkEntry.queries` board was written against (TESTDATA.md: lineitem
has 6,000,000 x sf rows). Row counts depend on `--sf` only; the seed
drives content, and the same seed and scale give byte-identical files.
`events.ts` is stored as TIMESTAMP(NANOS) with whole-microsecond values,
so the engine's nanosecond load path runs and DuckDB's oracle reads the
same instants.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark line small fast group customer batch sort value hash filter "
         "big data query row stream the part column order scan a slow agg "
         "key window table merge vector join").split()
PART_ADJ = "large hot blue old cold small red shiny".split()
PART_NOUN = "ring bolt plate gear anvil widget nut spring".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86400 * 10**6


def ts_us(days_from, n_days, rng, size):
    """Midnight timestamps (µs) uniform over n_days from 'days_from'."""
    base = np.datetime64(days_from, "D").astype("datetime64[us]").astype(np.int64)
    return base + rng.integers(0, n_days, size) * DAY_US


def money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def write(out_dir, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", version="2.6")


def generate(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = lambda base: max(10, int(base * sf))
    n_cust, n_supp, n_part = n(150000), n(10000), n(200000)
    n_ord, n_line, n_ev = n(1500000), n(6000000), n(1000000)
    n_doc, n_emb, n_user = n(50000), n(20000), n(15000)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    # events.ts is TIMESTAMP(NANOS), as in the tables the engine loads
    # (graft.Tables.load converts it); the other timestamps are micros
    ts_ns = pa.timestamp("ns")

    write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32)})
    write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], s)})
    write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp), f64)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                     "SMALL", "STANDARD"])[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, f64)})
    write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(ts_us("1995-01-01", 2404, rng, n_ord), ts),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)], s)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)], s),
        "l_shipdate": pa.array(ts_us("1995-01-02", 2498, rng, n_line), ts)})
    ev_base = np.datetime64("2024-01-01", "us").astype(np.int64)
    write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array((ev_base + np.sort(rng.integers(0, 30 * DAY_US, n_ev))) * 1000,
                       ts_ns),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    # documents: random word strings; ~1% exact and ~2% near duplicates
    # (a copy with a trailing "dup" token) so the dedup operators have work
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n_doc)]
    for i in range(n_doc):
        u = rng.random()
        if i > 0 and u < 0.03:
            src = texts[int(rng.integers(0, i))]
            texts[i] = src if u < 0.01 else src + " dup"
    write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(np.array(["en", "en", "en", "de", "es", "fr", "zh"])
                         [rng.integers(0, 7, n_doc)], s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # embeddings: unit vectors around one centroid per label
    labels = rng.integers(0, 10, n_emb)
    cent = rng.normal(0.0, 1.0, (10, 64))
    v = cent[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args()
    generate(a.out_dir, a.seed, a.sf)


if __name__ == "__main__":
    main()
