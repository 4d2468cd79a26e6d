#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload, untraced and traced, with a
one-second run, which each workload's floor raises to a handful of
operations.

    python3 perfbench/smoke_test.py [--data-dir DIR]

DIR defaults to the generated fixture; with another directory, batch_sweep
needs that directory's digests in expected_digests.json (oracle_check.py
--data-dir DIR admits them). Asserts that every run is correct with no
failed operation (fail_frac 0), that the untraced result carries every
end-to-end metric of BENCHMARK.json and the traced one every per-layer
metric, each with its unit.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["batch_sweep", "index_churn", "dossier_requests"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                     "--trace", str(trace)]
            if a.data_dir:
                cmd += ["--data-dir", a.data_dir]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            tag = f"{w} trace={trace}"
            before = len(problems)
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            frac = [l for l in lines if l.startswith("# fail_frac")]
            if not res["correct"] or res["failed"] or not frac or float(frac[0].split()[2]) != 0.0:
                problems.append(f"{tag}: {res['failed']} of {res['attempted']} operations failed")
            for k, u in want[trace].items():
                got = res["metrics"].get(k)
                if got is None or got.get("unit") != u or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {k} missing or without unit {u}")
            print(f"{'ok  ' if len(problems) == before else 'FAIL'} {tag}: "
                  f"{res['attempted']} operations, {len(res['metrics'])} metrics", flush=True)
    if problems:
        sys.exit("\n".join(problems))
    print("smoke test passed")


if __name__ == "__main__":
    main()
