#!/usr/bin/env python3
"""Per-layer self time from the spans a traced run writes.

    python3 perfbench/spans.py perfbench/out/spans-*.json

A span's self time is its duration minus the part of it that its child
spans cover. Phases map to graft's modules: list -> sources;
match, diff, commit -> api; build -> operators; plan -> catalyst;
action -> exec. An op's own self time is the tracing between its phases;
the workload's is the benchmark's work between ops (output checks, cache
clearing, lake mutations); `untraced` spans cover the window's untraced
steps. Prints one table per workload.
"""
import collections
import json
import sys

LAYER = {"list": "sources", "match": "api", "diff": "api", "commit": "api",
         "build": "operators", "plan": "catalyst", "action": "exec",
         "op": "benchmark/trace", "workload": "benchmark",
         "untraced": "untraced steps"}


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """[(span, self ns)] for each span."""
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_ns"], s["end_ns"]))
    return [(s, s["end_ns"] - s["start_ns"] - covered(children[s["id"]])) for s in spans]


def report(doc):
    rows = collections.defaultdict(lambda: [0, 0, 0])  # n, self ns, jobs
    window = untraced = 0
    for s, ns in self_times(doc["spans"]):
        r = rows[s["name"]]
        r[0] += 1
        r[1] += ns
        r[2] += s.get("jobs", 0)
        if s["name"] == "workload":
            window = s["end_ns"] - s["start_ns"]
        elif s["name"] == "untraced":
            untraced += s["end_ns"] - s["start_ns"]
    traced = max(window - untraced, 1)
    ops = rows["op"][0] or 1
    print(f"== {doc['workload']}: {rows['op'][0]} traced ops in {traced / 1e9:.3f} s")
    print(f"{'span':<10} {'layer':<16} {'self s/op':>10} {'share':>7} {'jobs/op':>8}")
    for name, (n, ns, jobs) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
        if name == "untraced":
            continue
        print(f"{name:<10} {LAYER.get(name, '?'):<16} {ns / 1e9 / ops:>10.4f} "
              f"{ns / traced:>7.1%} {jobs / ops:>8.1f}")
    print("(share: of the traced steps' time; jobs/op counts each span's jobs, "
          "so `op` includes its phases)")


def main(paths):
    if not paths:
        sys.exit(__doc__)
    for p in paths:
        with open(p) as f:
            report(json.load(f))


if __name__ == "__main__":
    main(sys.argv[1:])
