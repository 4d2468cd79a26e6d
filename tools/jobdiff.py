#!/usr/bin/env python3
"""Per-query Spark job deltas between two sets of MicroBench records.

Usage: python3 tools/jobdiff.py A.jsonl B.jsonl

Each file holds MicroBench stdout lines (an sbt `[info] ` prefix is
stripped; lines that are not query records are skipped), so repeated runs
of one side can be concatenated into one file. A query's job count on a
side is the MINIMUM `jobs` over every ok record of it there: the count of
unchanged code moves by one between runs, and the minimum is the stable
floor. Prints one line per query (A, B, B - A), a total, and the queries
that ran more jobs in B; exits 1 if any did, or if a query is on one side
only.
"""
import json
import sys


def min_jobs(path):
    out = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if not isinstance(r, dict) or "query" not in r or not r.get("ok"):
                continue
            q = r["query"]
            out[q] = min(out.get(q, r["jobs"]), r["jobs"])
    return out


a, b = min_jobs(sys.argv[1]), min_jobs(sys.argv[2])
names = sorted(set(a) | set(b))
width = max((len(n) for n in names), default=5)
print(f"{'query':<{width}}  {'A':>5}  {'B':>5}  {'B-A':>5}")
gained, one_sided = [], []
for n in names:
    if n not in a or n not in b:
        one_sided.append(n)
        print(f"{n:<{width}}  {a.get(n, '-'):>5}  {b.get(n, '-'):>5}      ?")
        continue
    d = b[n] - a[n]
    if d > 0:
        gained.append(n)
    print(f"{n:<{width}}  {a[n]:>5}  {b[n]:>5}  {d:>+5}")
both = [n for n in names if n in a and n in b]
ta, tb = sum(a[n] for n in both), sum(b[n] for n in both)
print(f"{'total':<{width}}  {ta:>5}  {tb:>5}  {tb - ta:>+5}")
if gained:
    print("more jobs in B: " + ", ".join(gained))
if one_sided:
    print("on one side only: " + ", ".join(one_sided))
sys.exit(1 if gained or one_sided else 0)
