#!/usr/bin/env python3
"""Diff two traced runs: per workload, per layer self time (seconds per
op) before and after, and the layer that moved most.

    python3 perfbench/tracediff.py BEFORE AFTER

BEFORE and AFTER are traced artifacts written by ``run.py --trace 1``, or
directories of them (matched by workload).
"""
import glob
import json
import os
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    recs = [json.load(open(f)) for f in files]
    return [r for r in recs if "self_s_per_op" in r]


def diff(before, after):
    """Rows (workload, layer, before, after, delta) and {workload:
    (layer, delta)} for the largest absolute delta."""
    a = {r["workload"]: r["self_s_per_op"] for r in before}
    b = {r["workload"]: r["self_s_per_op"] for r in after}
    rows, top = [], {}
    for w in sorted(set(a) & set(b)):
        for layer in sorted(set(a[w]) | set(b[w])):
            x, y = a[w].get(layer, 0.0), b[w].get(layer, 0.0)
            rows.append((w, layer, x, y, y - x))
        moved = [r for r in rows if r[0] == w]
        best = max(moved, key=lambda r: abs(r[4]))
        top[w] = (best[1], best[4])
    return rows, top


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    rows, top = diff(load(argv[1]), load(argv[2]))
    if not rows:
        sys.exit("tracediff: no workload traced in both inputs")
    print(f"{'workload':<16} {'layer':<26} {'before_s':>10} {'after_s':>10} {'delta_s':>10}")
    for w, layer, x, y, d in rows:
        print(f"{w:<16} {layer:<26} {x:10.4f} {y:10.4f} {d:+10.4f}")
    for w, (layer, d) in top.items():
        print(f"{w}: {layer} moved most ({d:+.4f} s/op)")


if __name__ == "__main__":
    main(sys.argv)
