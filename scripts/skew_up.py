#!/usr/bin/env python3
"""Skew-stress tier generator: derive a key-skew-adversarial copy of a
tier (default: target/sf1 -> target/sf1skew). Dev tool only (driver-side
python, like scale_up.py); the engine never depends on it.

Real corpora are never uniform: a default/null-ish key, a mega-entity
(one customer, one hot document), or a crawler artifact routinely owns a
double-digit percentage of a fact table, and a hash-partitioned join puts
that entire key in ONE reduce partition — the straggler that AQE's skew
join (runtime split of oversized partitions) exists to fix. The driver
testdata is uniform by construction, so at-scale skew claims need this
tier.

What it does (deterministic, pyarrow — physical parquet types preserved
bit-for-bit, same reason as scale_up.py):
- lineitem: re-point l_orderkey for 40% of rows onto 3 HOT orderkeys
  drawn from the existing key range — row i: i%5==0 -> hot A (20% of the
  table), i%10==3 -> hot B (10%), i%10==7 -> hot C (10%). The
  orders |><| lineitem SMJ (q3) then has one reduce partition ~5x the
  median — the adversary.
- orders: re-point o_custkey for 30% of rows onto 3 hot custkeys (same
  i%10 pattern, 10% each) — skews customer |><| orders (j1/j2) and the
  per-customer aggregates.
- every other table is copied verbatim (hot keys are EXISTING keys, so
  FK validity holds and every oracle recomputes on the same bytes).

Correctness on this tier is checked by the same 87-gate DuckDB oracle
(check_local.py) — the oracle recomputes on the skewed data, so "green on
sf1skew" means every operator's semantics survive adversarial key
distributions, and the bench A/B recorded in SCALE_STRESS.md ("Skew
stress") measures what AQE's runtime skew split buys on the join
stragglers.

Usage: skew_up.py [src_dir] [dst_dir]
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COPY = ["region", "nation", "customer", "supplier", "part", "events",
        "embeddings"]

# Hot-template document skew: a fixed boilerplate phrase prepended to 10%
# of documents (i%10==0) ACROSS scale_up's disjoint-vocabulary copies —
# the crawler-artifact / shared-header scenario where one stop-phrase's
# w-shingles acquire corpus-scale document frequency. scale_up's
# construction keeps shingle df flat by design, so the shingle-join
# family (containment/jaccard/minhash) never meets a hot shingle without
# this: each of the template's interior 3-shingles lands in 10% of ALL
# docs, and the exact containment self-join then emits C(0.1*N, 2) pairs
# per hot shingle — the quadratic blowup dedup_containment_capped's df
# ceiling exists to cut.
HOT_TEMPLATE = ("subscribe to our newsletter today for breaking updates "
                "and exclusive member offers")


def skew_column(table, col, hot_values):
    """Re-point `col` row-wise: i%5==0 -> hot[0], i%10==3 -> hot[1],
    i%10==7 -> hot[2] (40% of rows total)."""
    import numpy as np
    n = table.num_rows
    idx = np.arange(n)
    v = table[col].combine_chunks()
    typ = v.type
    hot = [pa.scalar(h, type=typ) for h in hot_values]
    out = pc.if_else(pa.array(idx % 5 == 0), hot[0], v)
    out = pc.if_else(pa.array(idx % 10 == 3), hot[1], out)
    out = pc.if_else(pa.array(idx % 10 == 7), hot[2], out)
    i = table.schema.get_field_index(col)
    return table.set_column(i, table.schema.field(i), out)


def main(src, dst):
    os.makedirs(dst, exist_ok=True)

    def rg_size(t):
        return max(1, t.num_rows // 24)

    for name in COPY:
        t = pq.read_table(f"{src}/{name}.parquet")
        pq.write_table(t, f"{dst}/{name}.parquet", row_group_size=rg_size(t))
        print(f"{name}: copied verbatim ({t.num_rows} rows)")

    import numpy as np
    docs = pq.read_table(f"{src}/documents.parquet")
    texts = docs["text"].combine_chunks()
    mask = pa.array(np.arange(docs.num_rows) % 10 == 0)
    prefixed = pc.binary_join_element_wise(
        pa.scalar(HOT_TEMPLATE, type=texts.type), texts, " ")
    out = pc.if_else(mask, prefixed, texts)
    i = docs.schema.get_field_index("text")
    docs = docs.set_column(i, docs.schema.field(i), out.cast(texts.type))
    pq.write_table(docs, f"{dst}/documents.parquet", row_group_size=rg_size(docs))
    print(f"documents: hot template prepended to {docs.num_rows // 10} "
          f"of {docs.num_rows} docs")

    orders = pq.read_table(f"{src}/orders.parquet")
    custkeys = orders["o_custkey"].combine_chunks()
    # hot keys = existing keys at fixed quantile-ish positions (deterministic)
    hot_cust = [custkeys[i].as_py() for i in
                (0, orders.num_rows // 3, 2 * orders.num_rows // 3)]
    orders = skew_column(orders, "o_custkey", hot_cust)
    pq.write_table(orders, f"{dst}/orders.parquet", row_group_size=rg_size(orders))
    print(f"orders: o_custkey skewed onto {hot_cust} ({orders.num_rows} rows)")

    li = pq.read_table(f"{src}/lineitem.parquet")
    okeys = li["l_orderkey"].combine_chunks()
    hot_ok = [okeys[i].as_py() for i in
              (0, li.num_rows // 3, 2 * li.num_rows // 3)]
    li = skew_column(li, "l_orderkey", hot_ok)
    pq.write_table(li, f"{dst}/lineitem.parquet", row_group_size=rg_size(li))
    print(f"lineitem: l_orderkey skewed onto {hot_ok} ({li.num_rows} rows)")

    # report the realized skew
    for name, col in (("orders", "o_custkey"), ("lineitem", "l_orderkey")):
        t = pq.read_table(f"{dst}/{name}.parquet", columns=[col])
        counts = pc.value_counts(t[col].combine_chunks())
        top = sorted((c["counts"].as_py() for c in counts), reverse=True)[:3]
        print(f"{name}.{col}: top-3 key counts {top} of {t.num_rows} rows")


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "target/sf1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "target/sf1skew"
    main(src, dst)
