"""Steadiness check: run the benchmark repeatedly and compare each
end-to-end metric's spread with its bound.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--first-seed 1]

Run from the root of a checkout. For every workload it runs the command of
BENCHMARK.json once per seed (seeds first-seed, first-seed+1, ...), then
prints per metric the median, the spread (distance between the first and
third quartile as Python's statistics.quantiles(n=4) gives them, as a share
of the median), the bound, and whether the spread stays under a third of
the bound. It also prints the share of failed operations in each run,
which must be the same in every run, and the share of the machine's CPU
time that was stolen by the hypervisor or used by other processes during
each run (from /proc/stat), the main source of run-to-run spread on a
shared host. Raw results go to .bench_results/steady_<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def cpu_times():
    """(busy, steal, total) jiffies of the whole machine so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    return sum(v) - idle - v[7], v[7], sum(v)


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    metrics = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    os.makedirs(".bench_results", exist_ok=True)
    worst = 0.0
    for w in a.workloads.split(","):
        results = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", str(a.trace)]
            c0 = cpu_times()
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            c1 = cpu_times()
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                sys.exit("steady: %s seed %d failed (exit %d)" % (w, seed, r.returncode))
            res = json.loads(lines[-1])
            results.append(res)
            total = max(1, c1[2] - c0[2])
            print("%s seed %d: correct=%s attempted=%d failed=%d  machine busy %.0f%%, "
                  "stolen %.1f%%  %s" % (
                      w, seed, res["correct"], res["attempted"], res["failed"],
                      100.0 * (c1[0] - c0[0]) / total, 100.0 * (c1[1] - c0[1]) / total,
                      " ".join("%s=%.4g" % (m["name"], res["metrics"][m["name"]]["value"])
                               for m in metrics if m.get("bound"))), flush=True)
        json.dump(results, open(".bench_results/steady_%s.json" % w, "w"), indent=1)
        shares = sorted({r["failed"] / r["attempted"] for r in results})
        print("%s: failed shares %s, all correct: %s" % (
            w, shares, all(r["correct"] for r in results)))
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else 0.0
            bound = m.get("bound")
            note = ""
            if bound:
                note = "bound %.3f  %s" % (bound, "ok" if spread < bound / 3 else
                                          ("WITHIN BOUND" if spread <= bound else "OVER"))
                if m["name"] != "setup_s":
                    worst = max(worst, spread / bound)
            print("  %-30s median %-14.6g spread %.4f  %s" % (m["name"], med, spread, note))
    print("worst spread / bound (setup_s excluded): %.3f" % worst)


if __name__ == "__main__":
    main()
