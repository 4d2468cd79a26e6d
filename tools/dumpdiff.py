#!/usr/bin/env python3
"""Exact, row-ordered diff of two graft.Verify output directories.

Usage: python3 tools/dumpdiff.py A B [query,...]

For each query (default: every query directory in A), reads the parquet
dump on both sides and checks the schema, the row count and every value in
row order; doubles compare bit-for-bit. Prints the first differing row of
each query that differs and exits 1 if any query differs or is missing.
"""
import os
import struct
import sys

import pyarrow.parquet as pq


def canon(v):
    if isinstance(v, float):
        return struct.pack(">d", v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    return v


a, b = sys.argv[1], sys.argv[2]
names = sys.argv[3].split(",") if len(sys.argv) > 3 else sorted(
    n for n in os.listdir(a) if os.path.isdir(os.path.join(a, n)))
bad = 0
for n in names:
    missing = [d for d in (a, b) if not os.path.isdir(os.path.join(d, n))]
    if missing:
        print(f"{n}: missing in {', '.join(missing)}")
        bad += 1
        continue
    ta, tb = pq.read_table(os.path.join(a, n)), pq.read_table(os.path.join(b, n))
    if ta.schema != tb.schema:
        print(f"{n}: schema differs\n  A: {ta.schema}\n  B: {tb.schema}")
        bad += 1
        continue
    ra, rb = ta.to_pylist(), tb.to_pylist()
    i = next((i for i, (x, y) in enumerate(zip(ra, rb)) if canon(x) != canon(y)), None)
    if i is None and len(ra) != len(rb):
        i = min(len(ra), len(rb))
    if i is not None:
        row = lambda rows: rows[i] if i < len(rows) else "<no row>"
        print(f"{n}: first difference at row {i} ({len(ra)} vs {len(rb)} rows)\n"
              f"  A: {row(ra)}\n  B: {row(rb)}")
        bad += 1
print(f"{len(names) - bad}/{len(names)} identical")
sys.exit(1 if bad else 0)
