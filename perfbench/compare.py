#!/usr/bin/env python3
"""Compare a parent and a change from paired benchmark runs.

    python3 perfbench/compare.py --base b1.txt b2.txt ... --change c1.txt c2.txt ...

Each file is one run's stdout (its last line is the result JSON); the
i-th base file and the i-th change file form pair i, so give them in run
order and alternate which side runs first from pair to pair. Both sides
must come from one workload, with the same --seconds and --trace.

Per metric it prints each side's median and quartiles and the change's
win rate (ties count for neither). The verdict follows the rule the
benchmark is judged by:
  gain        the change wins at least 9 of 10 pairs and the medians
              differ by more than the parent's quartile spread
  regression  the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json
  unresolved  the parent's spread (q3 - q1) / median exceeds the bound
              and not every change run beats every parent run
  same        none of these
A gain does not count if the change failed more ops than the parent.
Per-layer metrics have no bound and get only `gain` or `same`.
"""
import argparse
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, better, bound, failed_more):
    sign = 1 if better == "higher" else -1
    pairs = list(zip(base, change))
    wins = sum(sign * (c - b) > 0 for b, c in pairs)
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    gain = (wins >= 0.9 * len(pairs) and sign * (cm - bm) > b3 - b1 and not failed_more)
    if gain:
        return "gain", wins
    if bound is not None:
        spread = (b3 - b1) / abs(bm) if bm else float("inf")
        all_better = all(sign * (c - b) > 0 for c in change for b in base)
        if spread > bound and not all_better:
            return "unresolved", wins
        if -sign * (cm - bm) > bound * abs(bm):
            return "regression", wins
    return "same", wins


def main():
    ap = argparse.ArgumentParser(description="paired comparison of benchmark runs")
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    a = ap.parse_args()
    if len(a.base) != len(a.change):
        sys.exit("--base and --change need the same number of runs (one per pair)")
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    defs = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base = [load(p) for p in a.base]
    change = [load(p) for p in a.change]
    failed_more = sum(r["failed"] for r in change) > sum(r["failed"] for r in base)
    if len(base) < 10:
        print(f"note: {len(base)} pairs; the rule asks for at least 10")
    if failed_more:
        print("note: the change failed more ops than the parent; no gain counts")
    print(f"{'metric':<36} {'unit':<6} {'base q1/med/q3':>32} {'change q1/med/q3':>32} "
          f"{'wins':>6}  verdict")
    for name in base[0]["metrics"]:
        d = defs.get(name, {"unit": "?", "better": "lower"})
        b = [r["metrics"][name]["value"] for r in base]
        c = [r["metrics"][name]["value"] for r in change]
        v, wins = verdict(b, c, d["better"], d.get("bound"), failed_more)
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{name:<36} {d['unit']:<6} {fmt(quartiles(b)):>32} {fmt(quartiles(c)):>32} "
              f"{wins:>3}/{len(b):<2}  {v}")


if __name__ == "__main__":
    main()
