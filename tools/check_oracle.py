#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB oracle compare.

Usage: check_oracle.py <sfDir> <verifyOutDir>
Registers each testdata parquet as a DuckDB view, runs every oracle_sql.json
query, and compares against the Spark-written parquet in verifyOutDir:
schema (column names sorted), row count, and exact values.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for f in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(f)[: -len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fail = 0
for name, sql in sorted(oracle.items()):
    try:
        want = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: duckdb error: {e}")
        fail += 1
        continue
    got_files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not got_files:
        print(f"FAIL {name}: no spark output")
        fail += 1
        continue
    got = pd.concat([pd.read_parquet(f) for f in sorted(got_files)])
    wc, gc = sorted(want.columns), sorted(got.columns)
    if wc != gc:
        print(f"FAIL {name}: columns {gc} != oracle {wc}")
        fail += 1
        continue
    want, got = want[wc].reset_index(drop=True), got[wc].reset_index(drop=True)
    if len(want) != len(got):
        print(f"FAIL {name}: rows {len(got)} != oracle {len(want)}")
        fail += 1
        continue
    # sort rows deterministically (driver may or may not; queries ORDER BY anyway)
    mism = []
    for c in wc:
        a, b = want[c], got[c]
        # the driver hashes formatted values: an int/float dtype mismatch
        # (e.g. DuckDB HUGEINT -> float64 vs Spark int64) hash-mismatches
        # even when values are numerically equal — flag it here too
        if a.dtype.kind != b.dtype.kind and {a.dtype.kind, b.dtype.kind} <= {"i", "u", "f"}:
            mism.append((c, -1, f"dtype {a.dtype}", f"dtype {b.dtype}"))
            continue
        try:
            eq = (a == b) | (a.isna() & b.isna())
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            idx = (~eq).idxmax()
            mism.append((c, idx, a[idx], b[idx]))
    if mism:
        c, i, a, b = mism[0]
        print(f"FAIL {name}: col {c} row {i}: oracle={a!r} got={b!r} ({len(mism)} bad cols)")
        fail += 1
    else:
        print(f"OK   {name}: {len(got)} rows")
print("FAILURES:", fail)
# DuckDB's teardown at interpreter exit can abort the process (exit 134)
# after a clean run; close the connection, flush, and leave without the
# interpreter's teardown so the exit status is the comparison's verdict.
con.close()
sys.stdout.flush()
sys.stderr.flush()
os._exit(1 if fail else 0)
