#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: read each Verify output
parquet, run the matching oracle SQL in DuckDB over the same sf dir, compare
schema + row values. Dev tool only (driver-side python)."""
import sys, json, glob, math, shutil, tempfile
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    # No normalize(): the driver's hash is representation-sensitive, so the
    # local gate must be too (a scale/precision difference is a real FAIL).
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, bytes):
        return ("b", v.hex())
    if hasattr(v, "isoformat"):  # datetime / pandas.Timestamp
        return ("t", str(v))
    return (type(v).__name__, str(v))


def main(sf_dir, out_dir, only=None):
    # an in-memory database still spills to disk, by default into `.tmp/`
    # under the working directory; a killed large compare once left 42 GB
    # there. Spill into a private directory removed on every exit path.
    spill = tempfile.mkdtemp(prefix="check_local_spill_")
    try:
        return compare(sf_dir, out_dir, only, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def compare(sf_dir, out_dir, only, spill):
    con = duckdb.connect(config={"temp_directory": spill})
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        got_t = pq.read_table(files[0])
        try:
            exp_t = con.sql(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        gc, ec = sorted(got_t.column_names), sorted(exp_t.column_names)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} != {ec}"); n_fail += 1; continue
        got = [[norm(row[c]) for c in gc] for row in got_t.to_pylist()]
        exp = [[norm(row[c]) for c in ec] for row in exp_t.to_pylist()]
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}"); n_fail += 1; continue
        if got == exp:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        elif sorted(got) == sorted(exp):
            print(f"PASS* {name} ({len(got)} rows; order differs)"); n_pass += 1
        else:
            bad = [(i, g, e) for i, (g, e) in enumerate(zip(sorted(got), sorted(exp))) if g != e]
            print(f"FAIL {name}: {len(bad)} mismatched rows; first: {bad[0]}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {len(oracle)} total with oracle ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:]) or None))
