#!/usr/bin/env python3
"""Steadiness report: run one workload N times, one seed each, and print
for every metric its median, quartiles, spread ((q3 - q1) / median),
max/min and its bound from BENCHMARK.json. A spread wider than the bound
is flagged (the benchmark's own acceptance rule), and so is one wider than
a third of it (the target for a steady benchmark).

    python3 graftbench/steady.py --workload gate_mix --runs 10 [--first-seed 1]
        [--seconds 10] [--trace 0] [--save runs.json] [--against earlier.json]

--save keeps every run's metrics; --against compares this set's medians
with an earlier saved set and flags a drift larger than the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def run_set(workload, runs, first_seed, seconds, trace):
    results = []
    for seed in range(first_seed, first_seed + runs):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            capture_output=True, text=True)
        if p.returncode != 0 or not p.stdout.strip():
            print(f"seed {seed}: run failed (code {p.returncode})\n{p.stderr[-2000:]}")
            sys.exit(1)
        r = json.loads(p.stdout.strip().splitlines()[-1])
        results.append({"seed": seed, **r})
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']}", flush=True)
    return results


def report(results, bench, against=None):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    names = list(results[0]["metrics"])
    print(f"{'metric':38} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} "
          f"{'max/min':>8} {'bound':>6}  flag")
    for n in names:
        vals = [r["metrics"][n]["value"] for r in results]
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else 0.0
        mm = max(vals) / min(vals) if min(vals) > 0 else float("nan")
        b = bounds.get(n)
        flag = ""
        if b is not None:
            if spread > b:
                flag = "SPREAD > BOUND"
            elif spread > b / 3:
                flag = "spread > bound/3"
            if against:
                old = statistics.median(r["metrics"][n]["value"] for r in against)
                worse = (med - old) / old if better[n] == "lower" else (old - med) / old
                if worse > b:
                    flag += f" DRIFT {worse:+.3f} > bound"
                else:
                    flag += f" drift {worse:+.3f}"
        print(f"{n:38} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.4f} {mm:8.3f} "
              f"{'' if b is None else b:>6}  {flag}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save")
    ap.add_argument("--against")
    a = ap.parse_args()
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    results = run_set(a.workload, a.runs, a.first_seed, seconds, a.trace)
    if a.save:
        with open(a.save, "w") as f:
            json.dump(results, f, indent=1)
    against = None
    if a.against:
        with open(a.against) as f:
            against = json.load(f)
    report(results, bench, against)


if __name__ == "__main__":
    main()
