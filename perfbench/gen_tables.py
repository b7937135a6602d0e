#!/usr/bin/env python3
"""Generate the query-library tables (TPC-H-ish star schema, an `events`
stream, `documents` and `embeddings`) as one parquet file per table.

Usage: python3 perfbench/gen_tables.py <out_dir> [--seed N] [--scale S]

The schema matches what graft's query library reads (see
src/main/scala/graft/ops/Tables.scala). Sizes at --scale 1 are about
6,000 lineitem rows, 500 documents and 500 embeddings. The same seed
and scale always give byte-identical tables.
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the a data table row column key value join filter sort merge scan "
         "hash group agg window order part line customer query spark stream "
         "batch vector fast slow big small dup").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["cold", "small", "large", "bright", "dark", "smooth", "rough", "red"]
PART_NOUN = ["widget", "gadget", "bolt", "panel", "valve", "gear"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
TS = pa.timestamp("us")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def day(base, days):
    return [base + dt.timedelta(days=int(d)) for d in days]


def documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.12:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(list(rng.choice(LANGS, n, p=LANG_P))),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64, labels=10):
    centroids = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centroids[label] + rng.normal(0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def events(rng, n, users):
    gaps = rng.exponential(300.0, n)
    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(microseconds=int(s * 1e6)) for s in np.cumsum(gaps)]
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=TS),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(list(rng.choice(EVENT_TYPES, n))),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def tpch(rng, out, scale):
    n_cust, n_supp, n_part, n_ord = 150 * scale, 10 * scale, 200 * scale, 1500 * scale
    write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                          "r_name": pa.array(REGIONS)})
    write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                          "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
                          "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(list(rng.choice(SEGMENTS, n_cust)))})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))})
    retail = np.round(900 + (np.arange(n_part) % 200) * 0.1 + rng.integers(0, 100, n_part), 2)
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(list(rng.choice(PART_TYPES, n_part))),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail)})
    base = dt.datetime(1992, 1, 1)
    odays = rng.integers(0, 365 * 9, n_ord)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(list(rng.choice(["F", "O", "P"], n_ord, p=[0.49, 0.49, 0.02]))),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_ord), 2)),
        "o_orderdate": pa.array(day(base, odays), type=TS),
        "o_orderpriority": pa.array(list(rng.choice(PRIORITIES, n_ord)))})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    pkey = rng.integers(0, n_part, n_li).astype(np.int64)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    order = rng.permutation(n_li)
    write(out, "lineitem", {
        "l_orderkey": pa.array(okey[order]),
        "l_partkey": pa.array(pkey[order]),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum[order]),
        "l_quantity": pa.array(qty[order]),
        "l_extendedprice": pa.array(np.round(qty * retail[pkey], 2)[order]),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(list(rng.choice(["A", "N", "R"], n_li))),
        "l_linestatus": pa.array(list(rng.choice(["O", "F"], n_li))),
        "l_shipdate": pa.array(day(base, ship[order]), type=TS)})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--scale", type=int, default=1)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    rng = np.random.default_rng(a.seed)
    tpch(rng, a.out, a.scale)
    write(a.out, "events", events(rng, 1000 * a.scale, 20 * a.scale))
    write(a.out, "documents", documents(rng, 500 * a.scale))
    write(a.out, "embeddings", embeddings(rng, 500 * a.scale))


if __name__ == "__main__":
    main()
