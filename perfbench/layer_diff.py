#!/usr/bin/env python3
"""Compare two sets of traced runs layer by layer.

    python3 perfbench/layer_diff.py BASE NEW

BASE and NEW are run records written by run.py (`.bench_build/runs/
<workload>-<seed>-1.json`) or directories holding them, e.g. copies of
`.bench_build/runs` taken on a parent commit and on a change. Per
workload, each per-layer metric's median over the seeds on each side is
printed with its base, the ratio NEW / BASE and the difference, so a
change can show in which layer its saving appears. Metrics that are zero
on both sides are skipped.
"""
import argparse
import glob
import json
import os
import statistics


def load(path):
    """workload -> metric -> values over the traced runs found."""
    files = sorted(glob.glob(os.path.join(path, "*-1.json"))) if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if not rec.get("trace"):
            continue
        for name, v in rec["metrics"].items():
            out.setdefault(rec["workload"], {}).setdefault(name, []).append(v)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    for w in sorted(set(base) & set(new)):
        b, n = base[w], new[w]
        print(f"== {w}  (runs: base {len(next(iter(b.values())))}, "
              f"new {len(next(iter(n.values())))})")
        print(f"{'metric':44s} {'base':>14s} {'new':>14s} {'new/base':>9s} {'new-base':>14s}")
        for m in sorted(set(b) & set(n)):
            bv, nv = statistics.median(b[m]), statistics.median(n[m])
            if bv == 0 and nv == 0:
                continue
            ratio = nv / bv if bv else float("inf")
            print(f"{m:44s} {bv:14.6g} {nv:14.6g} {ratio:9.3f} {nv - bv:+14.6g}")
    only = sorted(set(base) ^ set(new))
    if only:
        print("workloads on one side only:", ", ".join(only))


if __name__ == "__main__":
    main()
