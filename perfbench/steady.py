#!/usr/bin/env python3
"""Run-to-run steadiness of the end-to-end metrics.

Usage (from the root of a checkout):

    python3 perfbench/steady.py [--runs N] [--first-seed S] [workload ...]

Runs the benchmark N times (default 10) per workload, each with another
seed, and prints per metric the median and the spread: the distance between
the first and third quartile (statistics.quantiles, n=4) as a share of the
median. A metric is steady when its spread stays well below its bound in
BENCHMARK.json; the run fails if any spread, setup_s's too, exceeds it.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in names:
        values = {m: [] for m in bounds}
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, text=True)
            last = json.loads(out.stdout.strip().splitlines()[-1])
            if out.returncode != 0 or not last["correct"] or last["failed"]:
                print(f"{w} seed {seed}: rc={out.returncode} {last}")
                ok = False
            for m in bounds:
                values[m].append(last["metrics"][m]["value"])
            print(f"{w} seed {seed} ({time.monotonic() - t0:.0f} s): " + " ".join(
                f"{m}={last['metrics'][m]['value']:.4g}" for m in bounds), flush=True)
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < bounds[m] / 3 else "  <-- over a third of the bound"
            ok &= spread <= bounds[m]
            print(f"{w} {m}: median {med:.4g} spread {spread:.3f} (bound {bounds[m]}){flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
