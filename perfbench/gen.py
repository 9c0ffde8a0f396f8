#!/usr/bin/env python3
"""Seeded input generator of the benchmark.

Writes the ten tables the engine reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings), one parquet file
each, with the schemas and value distributions of the sf0.1 test data the
engine is developed against: uniform keys and measures, orders and line
items over 1995-01..2001-11, 30 days of events, a 30-word document corpus
with exact and near ("... dup") duplicates, and unit-norm 64-d embeddings.

The tables are a tenth of sf0.1 in size (SCALE): 60k line items, 15k
orders, 500 documents, 200 embeddings and 10k events.

The table contents come from a fixed seed, like the fixed-seed test data;
the run's seed permutes every table's row order. Query results therefore
do not depend on the seed (the output check sorts rows), while the engine
sees differently ordered files, splits and hash-partition inputs.

Usage: python3 perfbench/gen.py <out dir> <seed>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
CONTENT_SEED = 42
# table sizes relative to sf0.1 (1.0 = 600k line items)
SCALE = 0.1


def day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(rng):
    n_cust, n_supp = int(15000 * SCALE), max(int(1000 * SCALE), 25)
    n_part, n_ord = int(20000 * SCALE), int(150000 * SCALE)
    n_li, n_ev = 4 * n_ord, int(100000 * SCALE)
    n_doc, n_vec = int(5000 * SCALE), int(2000 * SCALE)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    d0, d1 = day_us(1995, 1, 1), day_us(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    s0, s1 = day_us(1995, 1, 2), day_us(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts(s0 + rng.integers(0, (s1 - s0) // DAY_US + 1, n_li) * DAY_US)})
    e0 = day_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(e0 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, 1500, n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)])
             for n in rng.integers(10, 101, n_doc)]
    # about 5% near duplicates (another document plus " dup") and a few
    # exact copies, the duplicate structure the dedup operators look for
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    for i in rng.choice(n_doc, max(n_doc // 600, 1), replace=False):
        texts[i] = texts[rng.integers(0, n_doc)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32)})
    return t


def generate(out: Path, seed: int):
    order = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    for name, tab in sorted(tables(np.random.default_rng(CONTENT_SEED)).items()):
        tab = tab.take(order.permutation(tab.num_rows))
        pq.write_table(tab, out / f"{name}.parquet")


if __name__ == "__main__":
    generate(Path(sys.argv[1]), int(sys.argv[2]))
