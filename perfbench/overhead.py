#!/usr/bin/env python3
"""Tracing overhead across runs: the end-to-end metrics a traced run recorded
in its span file against the median of untraced runs of the same workload.

    python3 perfbench/overhead.py perfbench/traces/search-seed5.jsonl \\
        untraced-1.json untraced-2.json ...

Each untraced file holds the result line `perfbench/run.py --trace 0` printed.
Prints, per metric, the traced value, the untraced median and the relative
difference in the metric's "worse" direction (positive = the traced run read
worse). This is how the benchmark reports its tracing overhead.
"""
import json
import os
import statistics
import sys


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    with open(sys.argv[1]) as fh:
        summary = json.loads(fh.read().splitlines()[-1])
    untraced = []
    for path in sys.argv[2:]:
        with open(path) as fh:
            untraced.append(json.loads(fh.read().strip().splitlines()[-1])["metrics"])
    spec_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    with open(spec_path) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    print(f"{'metric':22s} {'traced':>12s} {'untraced':>12s} {'worse by':>9s}")
    for name, m in summary["end_to_end"].items():
        base = statistics.median(u[name]["value"] for u in untraced)
        worse = (m["value"] - base) / base
        if better.get(name) == "higher":
            worse = -worse
        print(f"{name:22s} {m['value']:12.4f} {base:12.4f} {worse:9.3f}")


if __name__ == "__main__":
    main()
