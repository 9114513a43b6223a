"""Seeded synthetic data tier for the benchmark.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the same schemas and value domains as the engine's scale tiers. Row
counts scale with `sf` (sf0.1: 600,000 lineitem rows, 100,000 events,
5,000 documents, 2,000 embeddings). The same (sf, seed) always gives the
same bytes of data.

Usage: python3 gen_data.py <out_dir> <sf> <seed> [tables]
`tables` is a comma-separated subset (default: all ten).
"""

import datetime
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL = ["region", "nation", "customer", "supplier", "part",
       "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_day, hi_day, n):
    return EPOCH_1995 + rng.integers(lo_day, hi_day + 1, n) * DAY_US


def _table(cols):
    return pa.table({k: v for k, v in cols})


def gen(name, sf, rng):
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_orders = max(1, int(1_500_000 * sf))
    if name == "region":
        return _table([("r_regionkey", pa.array(range(5), pa.int32())),
                       ("r_name", pa.array(REGIONS))])
    if name == "nation":
        return _table([("n_nationkey", pa.array(range(25), pa.int32())),
                       ("n_name", pa.array([f"NATION_{i}" for i in range(25)])),
                       ("n_regionkey", pa.array([i % 5 for i in range(25)], pa.int32()))])
    if name == "customer":
        return _table([
            ("c_custkey", pa.array(np.arange(n_cust, dtype=np.int64))),
            ("c_name", pa.array([f"Customer#{i:09d}" for i in range(n_cust)])),
            ("c_nationkey", pa.array(rng.integers(0, 25, n_cust).astype(np.int32))),
            ("c_acctbal", pa.array(_money(rng, -999.99, 9999.99, n_cust))),
            ("c_mktsegment", pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]))])
    if name == "supplier":
        return _table([
            ("s_suppkey", pa.array(np.arange(n_supp, dtype=np.int64))),
            ("s_name", pa.array([f"Supplier#{i:09d}" for i in range(n_supp)])),
            ("s_nationkey", pa.array(rng.integers(0, 25, n_supp).astype(np.int32))),
            ("s_acctbal", pa.array(_money(rng, -999.99, 9999.99, n_supp)))])
    if name == "part":
        keys = np.arange(n_part, dtype=np.int64)
        adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
        noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
        return _table([
            ("p_partkey", pa.array(keys)),
            ("p_name", pa.array(np.char.add(np.char.add(adj, " "), noun))),
            ("p_brand", pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)])),
            ("p_type", pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)])),
            ("p_size", pa.array(rng.integers(1, 51, n_part).astype(np.int32))),
            ("p_retailprice", pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)))])
    if name == "orders":
        return _table([
            ("o_orderkey", pa.array(np.arange(n_orders, dtype=np.int64))),
            ("o_custkey", pa.array(rng.integers(0, n_cust, n_orders))),
            ("o_orderstatus", pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)])),
            ("o_totalprice", pa.array(_money(rng, 1000.0, 500000.0, n_orders))),
            ("o_orderdate", pa.array(_days(rng, 0, 2404, n_orders), pa.timestamp("us"))),
            ("o_orderpriority", pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]))])
    if name == "lineitem":
        n = 4 * n_orders
        return _table([
            ("l_orderkey", pa.array(rng.integers(0, n_orders, n))),
            ("l_partkey", pa.array(rng.integers(0, n_part, n))),
            ("l_suppkey", pa.array(rng.integers(0, n_supp, n))),
            ("l_linenumber", pa.array(rng.integers(1, 8, n).astype(np.int32))),
            ("l_quantity", pa.array(rng.integers(1, 51, n).astype(np.float64))),
            ("l_extendedprice", pa.array(_money(rng, 900.0, 105000.0, n))),
            ("l_discount", pa.array(rng.integers(0, 11, n) / 100.0)),
            ("l_tax", pa.array(rng.integers(0, 9, n) / 100.0)),
            ("l_returnflag", pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)])),
            ("l_linestatus", pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)])),
            ("l_shipdate", pa.array(_days(rng, 1, 2499, n), pa.timestamp("us")))])
    if name == "events":
        n = max(1, int(1_000_000 * sf))
        ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024
        ks = rng.integers(0, 100, n)
        return _table([
            ("event_id", pa.array(np.arange(n, dtype=np.int64))),
            ("ts", pa.array(ts, pa.timestamp("us"))),
            ("user_id", pa.array(rng.integers(0, max(1, int(15_000 * sf)), n))),
            ("event_type", pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)])),
            ("value", pa.array(np.round(rng.exponential(50.0, n), 2))),
            ("props", pa.array([json.dumps({"k": int(k)}) for k in ks]))])
    if name == "documents":
        n = max(1, int(50_000 * sf))
        words = np.array(WORDS)
        texts = []
        for _ in range(n):
            texts.append(" ".join(words[rng.integers(0, len(WORDS), rng.integers(8, 100))]))
        # a few exact and near duplicates, as a crawled corpus has
        for i in range(0, n - 1, max(2, n // 8)):
            texts[i + 1] = texts[i]
        for i in range(1, n - 1, max(2, n // 16)):
            texts[i + 1] = texts[i] + " " + WORDS[i % len(WORDS)]
        return _table([
            ("doc_id", pa.array(np.arange(n, dtype=np.int64))),
            ("text", pa.array(texts)),
            ("lang", pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)])),
            ("source", pa.array([f"src{s}" for s in rng.integers(0, 20, n)])),
            ("n_chars", pa.array(np.array([len(t) for t in texts], dtype=np.int64)))])
    if name == "embeddings":
        n = max(1, int(20_000 * sf))
        centers = rng.normal(0.0, 1.0, (10, 64))
        labels = rng.integers(0, 10, n)
        v = centers[labels] + rng.normal(0.0, 0.8, (n, 64))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return _table([
            ("vec_id", pa.array(np.arange(n, dtype=np.int64))),
            ("embedding", pa.array(list(v.astype(np.float32)), pa.list_(pa.float32()))),
            ("label", pa.array(labels.astype(np.int32)))])
    raise ValueError(f"unknown table {name}")


def write(out_dir, sf, seed, tables=ALL):
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(ALL):
        # one stream per table: a subset run writes the same bytes as a full one
        rng = np.random.default_rng([seed, i])
        if name in tables:
            pq.write_table(gen(name, sf, rng), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    out, sf, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    tables = sys.argv[4].split(",") if len(sys.argv) > 4 else ALL
    write(out, sf, seed, tables)
