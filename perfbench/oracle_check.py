#!/usr/bin/env python3
"""Admits batch_sweep's expected digests after checking the engine's results
against the DuckDB oracle SQL of the same queries.

    python3 perfbench/oracle_check.py [--data-dir DIR]

Runs `run.py --workload batch_sweep --record` on the generated fixture (or
DIR), executes each query's oracle SQL in DuckDB over the same parquet
tables, and compares the two results exactly as multisets of rows (columns
by name). Only when every query matches are the digests written into
expected_digests.json under the fixture's content key; the benchmark then
compares each run's result digests with them.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import run  # noqa: E402


def canonical(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
    rows = [tuple(None if pd.isna(v) else v for v in r) if not any(isinstance(v, (list, tuple)) for v in r)
            else tuple(map(str, r)) for r in df.itertuples(index=False, name=None)]
    return list(df.columns), sorted(rows, key=repr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir")
    a = ap.parse_args()
    work = run.work_dir()
    data = os.path.abspath(a.data_dir) if a.data_dir else run.fixture(work)
    out = os.path.join(work, "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "batch_sweep",
           "--record", out] + (["--data-dir", data] if a.data_dir else [])
    subprocess.run(cmd, check=True)
    rec = json.load(open(os.path.join(out, "record.json")))

    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    bad = 0
    for q, r in rec.items():
        if not r["sql"]:
            print(f"FAIL {q}: no oracle SQL")
            bad += 1
            continue
        cs, spark_rows = canonical(pd.read_parquet(os.path.join(out, q)))
        cd, duck_rows = canonical(con.execute(r["sql"]).fetchdf())
        if cs != cd or spark_rows != duck_rows:
            diff = next((i for i, (x, y) in enumerate(zip(spark_rows, duck_rows)) if x != y), None)
            print(f"FAIL {q}: columns {cs} vs {cd}, rows {len(spark_rows)} vs {len(duck_rows)}, "
                  f"first differing row {diff}")
            bad += 1
        else:
            print(f"ok   {q}: {len(spark_rows)} rows, digest {r['digest']}")
    if bad:
        sys.exit(f"{bad} queries differ from the oracle; expected digests left unchanged")
    path = os.path.join(BENCH, "expected_digests.json")
    exp = json.load(open(path)) if os.path.isfile(path) else {}
    exp[run.data_key(data)] = {q: r["digest"] for q, r in rec.items()}
    with open(path, "w") as f:
        json.dump(exp, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(rec)} digests for data {run.data_key(data)}")


if __name__ == "__main__":
    main()
