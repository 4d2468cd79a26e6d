#!/usr/bin/env python3
"""Runs workloads over several seeds and reports each end-to-end metric's
median, quartiles and quartile spread (IQR / median), next to the bound
BENCHMARK.json gives it.

    python3 perfbench/steadiness.py --seeds 1-10 [--workload W ...] [--out FILE --set NAME]

Seeds are a range `a-b` or a comma list. With --out the figures are written
as JSON, merged into FILE under workload and set name (default: the seeds),
and every metric's median is compared with the same workload's other sets
in FILE: the change against each, next to the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds_of(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    ap.add_argument("--set")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = json.load(open(a.out)) if a.out and os.path.isfile(a.out) else {}
    for w in a.workload or [x["name"] for x in spec["workloads"]]:
        values = {k: [] for k in bounds}
        walls = []
        for seed in seeds_of(a.seeds):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                sys.exit(f"{w} seed {seed}: {res['failed']} of {res['attempted']} operations wrong")
            for k in bounds:
                values[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {seed}: " + " ".join(f"{k}={res['metrics'][k]['value']:.4g}" for k in bounds)
                  + f" ({walls[-1]:.0f} s)", flush=True)
        rows = {}
        for k, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                       "bound": bounds[k], "n": len(v), "seeds": a.seeds}
            flag = "" if k == "setup_s" or (q3 - q1) / med < bounds[k] / 3 else "  <-- above bound/3"
            print(f"  {k:14s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {(q3 - q1) / med:6.3f}  bound {bounds[k]}{flag}")
        print(f"  wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        name = a.set or a.seeds
        for other, orows in sorted(record.get(w, {}).items()):
            if other != name:
                print(f"  against set {other}: " + ", ".join(
                    f"{k} {rows[k]['median'] / orows[k]['median'] - 1:+.3f}" for k in rows if k in orows))
        record.setdefault(w, {})[name] = rows
        if a.out:
            with open(a.out, "w") as f:
                json.dump(record, f, indent=2, sort_keys=True)
                f.write("\n")


if __name__ == "__main__":
    main()
