#!/usr/bin/env python3
"""Per-layer diff of two traced benchmark results.

    python3 perfbench/diff_layers.py PARENT.json CHANGE.json [PARENT2.json CHANGE2.json ...]

Each argument is a result record that run.py wrote to .bench_build/results/
(`<workload>-seed<n>-trace1.json`).
Pairs are matched in order: parent, change, parent, change, ... For every
pair it prints each per-layer metric's parent value, change value, delta
and relative delta, grouped by workload, so a change can show which layer
its saving sits in. Metrics that are zero on both sides (layers the
workload does not exercise) are left out.
"""
import json
import sys


def load(path):
    """(workload, {metric: value}) from a traced result record."""
    with open(path) as f:
        rec = json.load(f)
    return rec["workload"], {k: v["value"] for k, v in rec["per_layer"].items()}


def diff(parent, change):
    """[(metric, parent, change, delta, relative delta or None)]."""
    rows = []
    for k in sorted(set(parent) | set(change)):
        a, b = parent.get(k, 0.0), change.get(k, 0.0)
        if a == 0 and b == 0:
            continue
        rows.append((k, a, b, b - a, (b - a) / a if a else None))
    return rows


def main(argv):
    if len(argv) < 2 or len(argv) % 2:
        print(__doc__, file=sys.stderr)
        return 2
    for p_path, c_path in zip(argv[::2], argv[1::2]):
        wp, parent = load(p_path)
        wc, change = load(c_path)
        print(f"== {wp}" + ("" if wp == wc else f" vs {wc}"))
        print(f"{'metric':34} {'parent':>12} {'change':>12} {'delta':>12} {'rel':>8}")
        for k, a, b, d, r in diff(parent, change):
            rel = f"{r:+.1%}" if r is not None else "new"
            print(f"{k:34} {a:12.4f} {b:12.4f} {d:+12.4f} {rel:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
