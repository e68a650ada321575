#!/usr/bin/env python3
"""Steadiness check: run every workload in two interleaved sets of the same
code and compare the sets against the bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py [--runs 5]

For run i, set A uses seed 2i-1 and set B seed 2i, and the runs alternate
A, B, A, B... so drift on the machine falls on both sets alike; the default
gives ten runs per workload, seeds 1-10. For every
end-to-end metric of every workload it prints each set's median and
quartiles (statistics.quantiles, n=4), the spread (q3-q1)/median, and
whether the two sets' medians differ, either way, by at most the metric's
bound; the "all" row pools both sets. The sets agree when every median
does, every run is correct, both sets fail the same share of operations,
and every pooled spread is within its bound. The pooled row is the one
gated because it holds the ten runs on ten seeds that a steadiness proof
takes; the quartiles of five runs are shown but move too much to gate on.
The spread of setup_s is shown but not gated: set-up runs in a JVM that is
still compiling, which swings with the machine far more than the warm
operations do, so only its median must agree. Raw results go to
perfbench/.runs/steadiness.json.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed (exit {proc.returncode})")
    return json.loads(lines[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]
    results = {w: {"A": [], "B": []} for w in workloads}
    for i in range(1, a.runs + 1):
        for w in workloads:
            for side, seed in (("A", 2 * i - 1), ("B", 2 * i)):
                t0 = time.time()
                results[w][side].append(run_once(w, seed, a.seconds))
                print(f"run {i} {w} set {side} seed {seed}: "
                      f"{time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    with open(os.path.join(HERE, ".runs", "steadiness.json"), "w") as fh:
        json.dump(results, fh, indent=1)

    ok = True
    print(f"{a.runs} runs per set, {a.seconds} s each")
    print(f"{'workload':16} {'metric':22} {'set':3} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>7} {'bound':>6}  verdict")
    for w in workloads:
        shares = {}
        for side in ("A", "B"):
            rs = results[w][side]
            shares[side] = (sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs))
            if not all(r["correct"] for r in rs):
                ok = False
                print(f"{w}: set {side} has a run with correct=false")
        for m in bench["end_to_end"]:
            name = m["name"]
            vals = {s: [r["metrics"][name]["value"] for r in results[w][s]
                        if name in r["metrics"]] for s in ("A", "B")}
            if len(vals["A"]) < 2 or len(vals["B"]) < 2:
                continue
            sa, sb = summary(vals["A"]), summary(vals["B"])
            sab = summary(vals["A"] + vals["B"])
            bound = m["bound"]
            agree = abs(sb[0] - sa[0]) / sa[0] <= bound
            spread_ok = name == "setup_s" or sab[3] <= bound
            steady = name == "setup_s" or sab[3] < bound / 3
            verdict = ("agree" if agree else "DISAGREE") + \
                ("" if spread_ok else " SPREAD>BOUND") + \
                ("" if steady else " (spread>bound/3)")
            ok = ok and agree and spread_ok
            for side, s in (("A", sa), ("B", sb), ("all", sab)):
                print(f"{w:16} {name:22} {side:3} {s[0]:12.4f} {s[1]:12.4f} "
                      f"{s[2]:12.4f} {s[3]:7.3f} "
                      f"{bound:6.2f}  "
                      f"{verdict if side == 'all' else ''}")
        same_share = shares["A"][0] * shares["B"][1] == shares["B"][0] * shares["A"][1]
        ok = ok and same_share
        print(f"{w:16} failed/attempted: A {shares['A'][0]}/{shares['A'][1]}, "
              f"B {shares['B'][0]}/{shares['B'][1]}"
              f"{'' if same_share else '  SHARES DIFFER'}")
    print("sets agree" if ok else "sets DO NOT agree")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
