#!/usr/bin/env python3
"""Compare two sets of benchmark result records.

    python3 perfbench/compare.py A B

A and B are each a directory of result records (as run.py keeps them under
perfbench/results/) or a glob pattern matching such files. For every
workload and metric the script prints each set's median and quartiles, the
fraction of (a, b) pairs in which B is better than A (ties count for
neither), and, for end-to-end metrics, whether the two sets agree within
the metric's bound in BENCHMARK.json: both spreads (interquartile range
over median) within the bound, and B's median not worse than A's by more
than the bound. The same test applies to every end-to-end metric, setup_s
included. End-to-end metrics come from untraced records, per-layer metrics
from traced ones. A set with a record that is not correct or has a failed
operation disagrees outright, whatever its metrics. Exits 1 when anything
disagrees.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(spec):
    files = sorted(glob.glob(os.path.join(spec, "*.json")) if os.path.isdir(spec) else glob.glob(spec))
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def values(records, workload, group, name):
    traced = group == "per_layer"
    return [r[group][name] for r in records
            if r["workload"] == workload and bool(r["trace"]) == traced
            and r[group].get(name) is not None]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    disagree = 0
    for w in spec["workloads"]:
        print(f"== {w['name']}")
        for label, recs in (("A", a), ("B", b)):
            bad = [r["seed"] for r in recs if r["workload"] == w["name"]
                   and (r["correct"] not in (True, "true") or int(r["failed"]) > 0)]
            if bad:
                print(f"DISAGREE: set {label} has incorrect runs or failed operations (seeds {bad})")
                disagree += 1
        print(f"{'metric':34} {'A median [q1, q3]':>30} {'B median [q1, q3]':>30} "
              f"{'B wins':>7}  verdict")
        for group in ("end_to_end", "per_layer"):
            for m in spec[group]:
                va = values(a, w["name"], group, m["name"])
                vb = values(b, w["name"], group, m["name"])
                if not va or not vb:
                    continue
                qa, qb = quartiles(va), quartiles(vb)
                sign = 1 if m["better"] == "higher" else -1
                pairs = [(x, y) for x in va for y in vb]
                wins = sum(1 for x, y in pairs if sign * (y - x) > 0) / len(pairs)
                verdict = ""
                if "bound" in m:
                    bound = m["bound"]
                    spread = [(q[2] - q[0]) / q[1] if q[1] else float("inf") for q in (qa, qb)]
                    worse = sign * (qa[1] - qb[1]) / qa[1] if qa[1] else 0.0
                    ok = worse <= bound and max(spread) <= bound
                    verdict = ("agree" if ok else "DISAGREE") + \
                        f" (spread {spread[0]:.3f}/{spread[1]:.3f}, B worse by {worse:+.3f}, bound {bound})"
                    disagree += not ok
                fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
                print(f"{m['name']:34} {fmt(qa):>30} {fmt(qb):>30} {wins:7.2f}  {verdict}")
    sys.exit(1 if disagree else 0)


if __name__ == "__main__":
    main()
