#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the harness, makes the fixture
data, runs one workload in one Spark process and prints its metrics.

    python3 perfbench/run.py --workload batch_sweep --seed 1 --seconds 16 --trace 0

Workloads: batch_sweep, dossier_requests, index_churn. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 it carries the end-to-end metrics, with
--trace 1 the per-layer ones. Lines starting with '#' before it are the
human-readable report.

Extra options: --data-dir DIR runs on an existing fixture directory instead
of the generated one; --record OUT (batch_sweep) writes results, digests
and oracle SQL for oracle_check.py.

Everything the run builds or writes stays under the work directory
($CARGO_TARGET_DIR, default .bench_build) of the checkout.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA_SF, DATA_SEED, DATA_VERSION = 0.002, 7, 1
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def work_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(d, exist_ok=True)
    return d


def source_hash():
    """Hash of every file the build reads: engine sources and build, harness."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(work):
    """Compiles engine + harness with sbt unless the last build was of the
    same sources (the classes directories hold only the last build);
    returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        sys.exit(f"[perfbench] no engine build ({ROOT}/build.sbt) to benchmark")
    stamp = source_hash()
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            built, _, cp = f.read().partition("\n")
        if built == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true "
                        "-Dsbt.server.forcestart=false -Xmx2g")
    log(f"building engine and harness (sources {stamp})")
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=BENCH, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        sys.exit(f"[perfbench] build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("[perfbench] build failed")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def fixture(work):
    """The generated fixture directory, made once per generator version."""
    d = os.path.join(work, "data", f"sf{DATA_SF}-seed{DATA_SEED}-v{DATA_VERSION}")
    if not os.path.isfile(os.path.join(d, "COMPLETE")):
        sys.dont_write_bytecode = True
        sys.path.insert(0, BENCH)
        import gen_data
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(tmp, DATA_SF, DATA_SEED)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        open(os.path.join(d, "COMPLETE"), "w").close()
    return d


def data_key(d):
    """Content key of a fixture directory (its parquet files' bytes)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(d, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch_sweep", "dossier_requests", "index_churn"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data-dir")
    ap.add_argument("--record")
    a = ap.parse_args()

    work = work_dir()
    cp = build(work)
    data = os.path.abspath(a.data_dir) if a.data_dir else fixture(work)
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--data-key", data_key(data),
            "--work", run_dir, "--expected", os.path.join(BENCH, "expected_digests.json")])
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"[perfbench] {a.workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    if proc.returncode != 0 or (not a.record and not (lines and lines[-1].startswith('{"correct"'))):
        sys.stderr.write(out)
        sys.exit(f"[perfbench] {a.workload} exited with code {proc.returncode}")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
