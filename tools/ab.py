#!/usr/bin/env python3
"""Paired A/B of the KG-pipeline benchmark between two checkouts.

    python3 tools/ab.py --workload dup-link --pairs 10 --seed 1 \
        --parent ../parent --change .

Runs `python3 kgbench/run.py --workload W --seed S --seconds N --trace 0`
in each checkout, with N the benchmark's `run_seconds`, alternating which
side goes first: pair 1 runs the parent first, pair 2 the change first, and
so on. Prints each pair's end-to-end metrics, each side's median and
quartiles, and per metric the share of pairs the change won (ties count for
neither) with a verdict: a win needs at least 9/10 of the pairs won and a
median gap larger than the parent's interquartile range. A run that fails its checks stops the A/B.

Each checkout builds into its own `.bench_build/`; the first run on a side
pays that build. The run length and the metric names and directions come
from the change's BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "kgbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        sys.exit("run failed in %s (exit %d)" % (checkout, p.returncode))
    out = json.loads(lines[-1])
    if not out.get("correct") or out.get("failed", 0) != 0:
        sys.exit("run in %s is not correct: %s" % (checkout, lines[-1]))
    return {k: v["value"] for k, v in out["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    names = [n for n, _ in metrics]
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}

    print("%s seed %d, %d pairs, %d s per run" % (a.workload, a.seed, a.pairs, seconds))
    print("pair first   " + "  ".join("%-27s" % n for n in names))
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            runs[side].append(run_once(sides[side], a.workload, a.seed, seconds))
        cells = ["%12.2f → %-12.2f" % (runs["parent"][-1][n], runs["change"][-1][n])
                 for n in names]
        print("%4d %-7s %s" % (i + 1, order[0], "  ".join(cells)), flush=True)

    print()
    print("%-16s %-7s %10s %10s %10s" % ("metric", "side", "q1", "median", "q3"))
    for n, _ in metrics:
        for side in ("parent", "change"):
            q1, med, q3 = quartiles([r[n] for r in runs[side]])
            print("%-16s %-7s %10.2f %10.2f %10.2f" % (n, side, q1, med, q3))

    print()
    print("%-16s %8s %10s %10s  %s" % ("metric", "won", "gap", "parent_iqr", "verdict"))
    for n, better in metrics:
        sign = -1 if better == "lower" else 1
        won = sum(1 for p, c in zip(runs["parent"], runs["change"])
                  if sign * (c[n] - p[n]) > 0)
        pq1, pmed, pq3 = quartiles([r[n] for r in runs["parent"]])
        cmed = statistics.median([r[n] for r in runs["change"]])
        gap = sign * (cmed - pmed)
        win = won >= 0.9 * a.pairs and gap > pq3 - pq1
        print("%-16s %5d/%-2d %10.2f %10.2f  %s" % (
            n, won, a.pairs, gap, pq3 - pq1, "win" if win else "no claim"))


if __name__ == "__main__":
    main()
