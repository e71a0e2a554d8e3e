#!/usr/bin/env python3
"""Steadiness check: two sets of runs of each workload, taken apart in time.

    python3 perfbench/steady.py --workload overnight analytics \
        --runs 10 [--gap 300] [--sets 2] [--first-seed 1]

Set 1 runs perfbench/run.py once per seed (first-seed, first-seed + 1, ...,
`--runs` seeds) for every workload named, in turn; after `--gap` seconds
(default 300) set 2 does the same with the next `--runs` seeds. With
several workloads the sets of one workload are also apart by the other
workloads' runs. For every end-to-end metric in
BENCHMARK.json it prints each set's median and quartiles, the spread (third
minus first quartile, as a share of the median) against the metric's bound,
and how far the second set's median moved from the first's, in either
direction. Spread is not held against `setup_s`, whose bound covers only
the median. Exit code 1 when a bound is broken, a run is not correct, or
the failed share differs between the sets.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise SystemExit("run failed: %s seed %d (exit %d)" % (workload, seed, r.returncode))
    return json.loads(r.stdout.strip().splitlines()[-1])


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med


def report(workload, sets, bounds):
    ok = True
    print("\n== %s\n%-14s %3s %10s %10s %10s %8s %8s %8s" % (
        workload, "metric", "set", "median", "q1", "q3", "spread", "bound", "moved"))
    for name, bound in bounds.items():
        first_med = None
        for i, res in enumerate(sets):
            med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in res])
            moved = None if first_med is None else (med - first_med) / first_med
            bad = (name != "setup_s" and spread > bound) or (
                moved is not None and abs(moved) > bound)
            ok = ok and not bad
            print("%-14s %3d %10.4f %10.4f %10.4f %8.3f %8.3f %8s%s" % (
                name, i + 1, med, q1, q3, spread, bound,
                "" if moved is None else "%+.3f" % moved, "  <-- over bound" if bad else ""))
            first_med = med if first_med is None else first_med
    shares = [sum(r["failed"] for r in res) / sum(r["attempted"] for r in res) for res in sets]
    correct = all(r["correct"] for res in sets for r in res)
    print("failed share per set: %s; all correct: %s" % (shares, correct))
    return ok and correct and len(set(shares)) == 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="+", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--gap", type=float, default=300.0, help="seconds between the sets")
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results = {w: [] for w in a.workload}
    for s in range(a.sets):
        if s:
            print("waiting %.0f s before set %d" % (a.gap, s + 1), flush=True)
            time.sleep(a.gap)
        seeds = range(a.first_seed + s * a.runs, a.first_seed + (s + 1) * a.runs)
        for w in a.workload:
            res = []
            for seed in seeds:
                r = one_run(w, seed, spec["run_seconds"])
                res.append(r)
                print("%s set %d seed %d at %s: correct=%s %s" % (
                    w, s + 1, seed, time.strftime("%H:%M:%S"), r["correct"], " ".join(
                        "%s=%.4f" % (k, v["value"]) for k, v in sorted(r["metrics"].items()))),
                      flush=True)
            results[w].append(res)
    ok = all([report(w, results[w], bounds) for w in a.workload])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
