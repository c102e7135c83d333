#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps query by query.

Usage: diff_verify.py <dirA> <dirB>

Each dump holds one directory of parquet parts per query (and the
`oracle_sql.json` naming them). Per query it compares the column names,
then the rows as a multiset (each row canonicalized with its columns in
name order, rows sorted), and reports a sha256 content hash of that
canonical form. Prints one line per differing or missing query, then a
summary line; exits 1 on any difference or a query present in only one
dump, 0 when every query is identical.

    python3 tools/diff_verify.py /tmp/verify_parent /tmp/verify_change
"""
import glob
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq


def queries(d):
    """Query name -> sorted parquet part files."""
    names = set()
    oracle = os.path.join(d, "oracle_sql.json")
    if os.path.exists(oracle):
        names.update(json.load(open(oracle)))
    names.update(os.path.basename(os.path.dirname(f))
                 for f in glob.glob(os.path.join(d, "*", "*.parquet")))
    return {n: sorted(glob.glob(os.path.join(d, n, "*.parquet")))
            for n in names}


def canonical(files):
    """(sorted column names, sorted canonical row lines, content hash)."""
    if not files:
        return None
    rows, cols = [], None
    for f in files:
        t = pq.read_table(f)
        names = sorted(t.column_names)
        if cols is None:
            cols = names
        elif names != cols:
            return (names, ["<parts disagree on columns>"], "")
        for r in t.to_pylist():
            rows.append(json.dumps([r[c] for c in cols], default=str))
    rows.sort()
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return cols, rows, digest


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    qa, qb = queries(a_dir), queries(b_dir)
    bad = 0
    for name in sorted(set(qa) | set(qb)):
        a = canonical(qa.get(name, []))
        b = canonical(qb.get(name, []))
        if a is None or b is None:
            where = a_dir if a is None else b_dir
            print(f"MISSING {name}: no output in {where}")
            bad += 1
        elif a[0] != b[0]:
            print(f"DIFF {name}: columns {a[0]} != {b[0]}")
            bad += 1
        elif a[2] != b[2]:
            only_a = len(set(a[1]) - set(b[1]))
            only_b = len(set(b[1]) - set(a[1]))
            print(f"DIFF {name}: rows {len(a[1])} vs {len(b[1])}, "
                  f"{only_a} distinct only in A, {only_b} only in B, "
                  f"hash {a[2][:12]} vs {b[2][:12]}")
            bad += 1
    total = len(set(qa) | set(qb))
    print(f"IDENTICAL: {total - bad}/{total}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
