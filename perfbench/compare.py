#!/usr/bin/env python3
"""Compare two sets of benchmark runs (a parent and a change).

Usage: python3 perfbench/compare.py <parent_results> <change_results>

Each argument is a results directory written by run.py (by default
.bench_build/results, copied aside between the two checkouts) or one of
its per-workload subdirectories. Untraced runs (trace 0) are compared;
runs pair up by seed.

For every workload and end-to-end metric of BENCHMARK.json it prints both
sides' median and quartiles and a verdict:

  improved   the change wins at least 9 of 10 pairs (ties count for
             neither side) and the medians differ by more than the
             parent's interquartile range;
  no worse   the change's median is not worse than the parent's by more
             than the metric's bound, and the parent's own spread is
             within the bound (or every change run beats every parent run);
  unresolved the parent's spread is wider than the bound, so "no worse"
             cannot be told apart from noise;
  WORSE      the change's median is worse than the parent's by more than
             the bound.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    """{workload: {seed: {metric: value}}} from the untraced run documents."""
    runs = {}
    files = glob.glob(os.path.join(path, "**", "seed*-trace0-*.json"),
                      recursive=True)
    for f in sorted(files, key=os.path.getmtime):
        with open(f) as fh:
            doc = json.load(fh)
        res = doc.get("result", {})
        if not res.get("correct"):
            continue
        runs.setdefault(doc["workload"], {})[doc["seed"]] = {
            k: v["value"] for k, v in res["metrics"].items()}
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(metric, base, change, pairs):
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)

    def better(c, b):
        return c < b if lower else c > b

    wins = sum(better(c, b) for b, c in pairs)
    losses = sum(better(b, c) for b, c in pairs)
    worse_by = ((cm - bm) if lower else (bm - cm)) / bm
    if (pairs and wins >= 0.9 * len(pairs) and better(cm, bm)
            and abs(cm - bm) > b3 - b1):
        v = "improved"
    elif worse_by > bound:
        v = "WORSE"
    elif (b3 - b1) / bm > bound and not all(
            better(c, b) for c in change for b in base):
        v = "unresolved"
    else:
        v = "no worse"
    return (b1, bm, b3), (c1, cm, c3), wins, losses, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<12} {'metric':<12} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'wins':>7}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        if w not in base or w not in change:
            print(f"{w:<12} (no runs on {'parent' if w not in base else 'change'})")
            continue
        seeds = sorted(set(base[w]) & set(change[w]))
        for m in spec["end_to_end"]:
            n = m["name"]
            bv = [r[n] for r in base[w].values()]
            cv = [r[n] for r in change[w].values()]
            pairs = [(base[w][s][n], change[w][s][n]) for s in seeds]
            bq, cq, wins, losses, v = verdict(m, bv, cv, pairs)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:<12} {n:<12} {fmt(bq):>30} {fmt(cq):>30} "
                  f"{wins:>3}-{losses:<3}  {v}  "
                  f"(n={len(bv)}/{len(cv)}, {m['unit']}, bound {m['bound']})")


if __name__ == "__main__":
    main()
