"""Benchmark entry point: CDC replay and corpus ingest through graft.

    python3 perfbench/run.py --workload cdc_spread --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Builds the program from source on first
use (see build.py), then runs one workload in a fresh JVM and prints one
JSON object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (the traced run also writes a detailed record to
.bench_results/trace_<workload>_seed<seed>.json). `--selftest` runs only
the reference models' hand-computed cases. Exits non-zero, printing no
result, if the build or the benchmark JVM fails. A failed correctness
check still prints the result, with "correct": false, and exits 0; an
operation that throws is counted in "failed" and the run goes on.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdc_spread", "corpus_ingest")
# Whole-run limit for the JVM (the run must end within 180 s).
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    jar = build.build()
    root = os.getcwd()
    work = os.path.join(root, ".bench_work", "run-%d" % os.getpid())
    results = os.path.join(root, ".bench_results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    cmd = build.jvm_command(jar, os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--slots", str(build.slots()), "--work", work, "--out", out,
                "--trace-out", os.path.join(
                    results, "trace_%s_seed%d.json" % (a.workload, a.seed)),
                # set-up time is measured from the JVM's launch
                "--t0-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("run: JVM exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        code = -1
    try:
        if code != 0:
            sys.exit("run: benchmark JVM failed (%d)" % code)
        if a.selftest:
            return
        with open(out) as f:
            res = json.load(f)
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            sys.exit("run: malformed result " + json.dumps(res))
        if res["correct"] is not True:
            print("run: output check failed (details above)", file=sys.stderr)
        print(json.dumps(res))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
