#!/usr/bin/env python3
"""Compare two traced runs of the benchmark, layer by layer.

    python3 perfbench/diff.py BEFORE AFTER

BEFORE and AFTER are trace files written by `run.py --trace 1`
(.bench_build/perfbench/traces/<workload>-seed<n>.json) or directories of
them; traces are paired by workload. For each workload it prints every
layer's self time and span count on both sides with their deltas, then
every per-layer metric.
"""
import json
import os
import sys


def load(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
             if os.path.isdir(path) else [path])
    out = {}
    for f in files:
        with open(f) as fh:
            t = json.load(fh)
        out[t["workload"]] = t
    return out


def delta(a, b):
    d = b - a
    pct = f"{100 * d / a:+.1f}%" if a else "n/a"
    return f"{d:+.3f} ({pct})"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = load(argv[1]), load(argv[2])
    for w in sorted(set(before) & set(after)):
        a, b = before[w], after[w]
        print(f"== {w}: traced wall {a['wall_s']:.3f} s -> {b['wall_s']:.3f} s  "
              f"{delta(a['wall_s'], b['wall_s'])}")
        print(f"  {'layer':<22} {'self_s before':>14} {'after':>10} {'delta':>20}"
              f" {'count before':>13} {'after':>7}")
        for layer in sorted(set(a["layers"]) | set(b["layers"])):
            la = a["layers"].get(layer, {"self_s": 0.0, "count": 0})
            lb = b["layers"].get(layer, {"self_s": 0.0, "count": 0})
            print(f"  {layer:<22} {la['self_s']:>14.3f} {lb['self_s']:>10.3f}"
                  f" {delta(la['self_s'], lb['self_s']):>20} {la['count']:>13} {lb['count']:>7}")
        print(f"  {'metric':<30} {'before':>12} {'after':>12} {'delta':>20}")
        for m in sorted(set(a["metrics"]) | set(b["metrics"])):
            va, vb = a["metrics"].get(m, 0.0), b["metrics"].get(m, 0.0)
            print(f"  {m:<30} {va:>12.4g} {vb:>12.4g} {delta(va, vb):>20}")
    for w in sorted(set(before) ^ set(after)):
        print(f"== {w}: only in {'BEFORE' if w in before else 'AFTER'}")


if __name__ == "__main__":
    main(sys.argv)
