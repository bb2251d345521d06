#!/usr/bin/env python3
"""Diff the per-layer ledgers of two traced benchmark runs.

    python3 perfbench/ledger_diff.py OLD NEW

OLD and NEW are each a result.json of a `--trace 1` run, a run directory
holding one, or a directory of run directories (every traced result in
it is used, the median taken per workload and metric). Prints, per
workload and layer, every per-layer metric with its old value, new value
and new/old ratio, span self time per layer included (`self.*`).
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    """{workload: {metric: median value}} of the traced results at path."""
    files = []
    if os.path.isfile(path):
        files = [path]
    elif os.path.isfile(os.path.join(path, "result.json")):
        files = [os.path.join(path, "result.json")]
    elif os.path.isdir(path):
        files = [os.path.join(path, d, "result.json")
                 for d in sorted(os.listdir(path))
                 if os.path.isfile(os.path.join(path, d, "result.json"))]
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace"):
            for k, v in r["per_layer"].items():
                runs.setdefault(r["workload"], {}).setdefault(k, []).append(v)
    if not runs:
        sys.exit(f"no traced result under {path}")
    return {w: {k: statistics.median(v) for k, v in m.items()}
            for w, m in runs.items()}


def rows(old, new):
    for w in sorted(set(old) | set(new)):
        o, n = old.get(w, {}), new.get(w, {})
        for k in sorted(set(o) | set(n)):
            a, b = o.get(k), n.get(k)
            ratio = b / a if a and b is not None else None
            yield w, k.split(".")[0], k, a, b, ratio


def fmt(v):
    if v is None:
        return "-"
    return f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    a = ap.parse_args()
    out = [("workload", "layer", "metric", "old", "new", "new/old")]
    out += [(w, l, k, fmt(x), fmt(y), fmt(r))
            for w, l, k, x, y, r in rows(load(a.old), load(a.new))]
    widths = [max(len(r[i]) for r in out) for i in range(6)]
    for r in out:
        print("  ".join(c.ljust(widths[i]) if i < 3 else c.rjust(widths[i])
                        for i, c in enumerate(r)))


if __name__ == "__main__":
    main()
