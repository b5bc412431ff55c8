#!/usr/bin/env python3
"""Summarize repeated benchmark runs, one group of runs per side.

    python3 kgbench/compare.py parent=runs/p-*.out change=runs/c-*.out

Each file holds one run's stdout; its last line is the result JSON. For
every side, workload and metric it prints the sample count, the median,
the quartiles as `statistics.quantiles(xs, n=4)` gives them, the spread
(inter-quartile distance over the median) and the highest percentile that
has at least ten samples beyond it. With two sides it also prints the
change of the second side's median against the first's.
"""
import glob
import json
import math
import statistics
import sys


def quartiles(xs):
    return statistics.quantiles(xs, n=4)


def spread(xs):
    q1, _, q3 = quartiles(xs)
    return (q3 - q1) / statistics.median(xs)


def tail(xs, min_beyond=10):
    """(percentile, value, samples beyond, n) for the highest whole
    nearest-rank percentile with at least `min_beyond` samples above its
    value, or None when there are too few samples."""
    n = len(xs)
    if n <= min_beyond:
        return None
    s = sorted(xs)
    pct = 100 * (n - min_beyond) // n
    rank = max(1, math.ceil(pct * n / 100))
    return pct, s[rank - 1], n - rank, n


def load(pattern):
    """{(workload, metric): [values]} from the result lines of the files."""
    out = {}
    for path in sorted(glob.glob(pattern)):
        lines = open(path).read().strip().splitlines()
        detail = [l for l in lines if l.startswith("detail ")]
        workload = json.loads(detail[-1][7:])["workload"] if detail else path
        for k, v in json.loads(lines[-1])["metrics"].items():
            out.setdefault((workload, k), []).append(v["value"])
    return out


def main(argv):
    sides = [a.split("=", 1) for a in argv]
    data = [(name, load(pat)) for name, pat in sides]
    keys = sorted(set().union(*[d.keys() for _, d in data]))
    for key in keys:
        meds = []
        for name, d in data:
            xs = d.get(key, [])
            if len(xs) < 2:
                continue
            med = statistics.median(xs)
            q1, _, q3 = quartiles(xs)
            t = tail(xs)
            meds.append(med)
            print("%-8s %-12s %-24s n=%-3d median=%-12.5g q1=%-12.5g q3=%-12.5g "
                  "spread=%.3f%s" % (name, key[0], key[1], len(xs), med, q1, q3,
                                     spread(xs), "" if t is None else
                                     " p%d=%.5g (%d beyond)" % (t[0], t[1], t[2])))
        if len(meds) == 2 and meds[0]:
            print("%-8s %-12s %-24s change=%+.3f" % ("", key[0], key[1], meds[1] / meds[0] - 1))


if __name__ == "__main__":
    main(sys.argv[1:])
