#!/usr/bin/env python3
"""Per-layer rollup of one traced run, against untraced runs of the same
workload.

Usage: python3 perfbench/rollup.py <workload> [<results_dir>]

Reads the newest traced run document (trace 1) and the untraced ones
(trace 0) of <workload> from the same sources and run length, under
<results_dir> (default .bench_build/results), and prints one JSON document:

  layers     every per-layer number the traced run reported;
  self_time  each layer's self time over the timed phase. By construction
             the parts add up to the traced timed wall: call spans minus
             the Spark jobs they submitted (lake, pipelines, sources,
             queries), the union of those jobs (spark), and the rest of
             the wall (harness);
  overhead   tracing overhead: the traced run's time per operation
             against the median untraced run's, as seconds over the traced
             timed phase and as a share.
"""
import glob
import json
import os
import statistics
import sys


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    w = sys.argv[1]
    root = sys.argv[2] if len(sys.argv) > 2 else os.path.join(".bench_build", "results")
    d = os.path.join(root, w)
    traced = sorted(glob.glob(os.path.join(d, "seed*-trace1-*.json")), key=os.path.getmtime)
    plain = glob.glob(os.path.join(d, "seed*-trace0-*.json"))
    if not traced or not plain:
        sys.exit(f"need a traced and an untraced run of {w} under {d}")
    with open(traced[-1]) as fh:
        t = json.load(fh)
    rates = []
    for f in plain:
        with open(f) as fh:
            u = json.load(fh)
        if u["env"]["source_digest"] == t["env"]["source_digest"] and \
                u["seconds"] == t["seconds"] and u["result"]["correct"]:
            rates.append(u["ops"] / u["wall_s"])
    if not rates:
        sys.exit(f"no untraced run of {w} from the same sources and run length")
    layers = dict(t["layers"], **{"jvm.peak_rss_mb": t["peak_rss_mb"]})
    self_time = {k: v for k, v in layers.items() if k.startswith("self.")}
    untraced_rate = statistics.median(rates)
    traced_rate = t["ops"] / t["wall_s"]
    overhead_s = t["wall_s"] - t["ops"] / untraced_rate
    out = {
        "workload": w, "seed": t["seed"], "env": t["env"],
        "traced_wall_s": t["wall_s"], "ops": t["ops"],
        "correct": t["result"]["correct"], "failed": t["result"]["failed"],
        "self_time": dict(self_time, total_s=sum(self_time.values())),
        "overhead": {"untraced_runs": len(rates),
                     "untraced_ops_per_s_median": untraced_rate,
                     "traced_ops_per_s": traced_rate,
                     "overhead_s": overhead_s,
                     "overhead_share": overhead_s / t["wall_s"]},
        "layers": layers,
    }
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
