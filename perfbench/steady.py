#!/usr/bin/env python3
"""Steadiness check: runs every workload of BENCHMARK.json ten times, twice
(seeds 1-10, then 11-20), and prints for each end-to-end metric the two
medians, each set's quartile spread as a share of its median, the drift of
the second median from the first, and the benchmark's bound.

    python3 perfbench/steady.py

A spread is the distance between the first and third quartile
(statistics.quantiles(values, n=4)) over the median. A metric is steady when
both spreads stay within a third of its bound (setup_s is exempt) and the
drift, in the metric's worse direction, stays within the bound. Every run's
result line is printed to stderr as it finishes.
"""
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = 10


def run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    results = {}
    for s in range(2):
        for w in workloads:
            for i in range(RUNS):
                seed = s * RUNS + i + 1
                r = run(w, seed, bench["run_seconds"])
                results.setdefault(w, [[], []])[s].append(r)
                print(f"set {s + 1} {w} seed {seed}: {json.dumps(r)}", file=sys.stderr, flush=True)

    steady = True
    print(f"{'workload':16} {'metric':12} {'median 1':>10} {'spread 1':>9} "
          f"{'median 2':>10} {'spread 2':>9} {'drift':>7} {'bound':>6}  verdict")
    for w in workloads:
        sets = results[w]
        ok_runs = all(r["correct"] for s in sets for r in s)
        shares = {r["failed"] / r["attempted"] for s in sets for r in s}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["metrics"][name]["value"] for r in s] for s in sets]
            med = [statistics.median(v) for v in vals]
            spr = [spread(v) for v in vals]
            drift = (med[1] - med[0]) / med[0]
            worse = drift if m["better"] == "lower" else -drift
            ok = worse <= bound and ok_runs and len(shares) == 1 and \
                (name == "setup_s" or max(spr) <= bound / 3)
            steady &= ok
            print(f"{w:16} {name:12} {med[0]:10.4g} {spr[0]:9.3f} {med[1]:10.4g} "
                  f"{spr[1]:9.3f} {drift:+7.3f} {bound:6.2f}  {'ok' if ok else 'NOT STEADY'}")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
