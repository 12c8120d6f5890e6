#!/usr/bin/env python3
"""Writes the committed traced run of one workload:

    python3 perfbench/trace_report.py --workload retail --seed 1 --runs 10

For each of `--runs` seeds (seed, seed+1, ...) it runs the workload
untraced and then traced, back to back, and writes
perfbench/traces/<workload>.json with:

- `per_layer` and `named`: per metric, the median over the traced runs;
- `runs`: every run's end-to-end metrics, untraced and traced, by seed;
- `spread`: per end-to-end metric, the IQR of the untraced runs as a
  share of their median (what the benchmark's bounds are judged on);
- `tracing_overhead`: per end-to-end metric, the median over seeds of
  traced ÷ untraced − 1. Where its size does not exceed the spread, the
  overhead cannot be told from run-to-run noise and is reported as
  "unresolved" instead of a signed figure.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace, path):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                    "--record", path], check=True, stdout=subprocess.DEVNULL)
    with open(path) as fh:
        return json.load(fh)


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def medians(dicts):
    """Per key present in every dict with a number, the median."""
    keys = [k for k in dicts[0] if all(isinstance(d.get(k), (int, float)) for d in dicts)]
    return {k: statistics.median(d[k] for d in dicts) for k in keys}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        seconds = args.seconds or json.load(fh)["run_seconds"]
    tmp = os.path.join(".bench_build", "perfbench", "trace-%s.json" % args.workload)
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    runs, traced = [], []
    for seed in range(args.seed, args.seed + args.runs):
        u = run(args.workload, seed, seconds, 0, tmp)
        t = run(args.workload, seed, seconds, 1, tmp)
        runs.append({"seed": seed,
                     "untraced": {k: v[0] for k, v in u["end_to_end"].items()},
                     "traced": {k: v[0] for k, v in t["end_to_end"].items()},
                     "failed": u["record"]["failed"] + t["record"]["failed"],
                     "steal_frac": u["record"]["context"]["steal_frac"]})
        traced.append(t)
        print("seed %d: %s" % (seed, runs[-1]), file=sys.stderr)
    os.remove(tmp)

    untraced = [r["untraced"] for r in runs]
    spreads = {k: spread([u[k] for u in untraced]) for k in untraced[0]}
    overhead = {}
    for k in untraced[0]:
        o = statistics.median(r["traced"][k] / r["untraced"][k] - 1 for r in runs)
        overhead[k] = o if abs(o) > spreads[k] else "unresolved"
    units = {k: u for k, (_, u) in traced[0]["per_layer"].items()}
    out = {
        "workload": args.workload, "seconds": seconds,
        "context": traced[0]["record"]["context"],
        "runs": runs,
        "untraced_median": medians(untraced),
        "spread": spreads,
        "tracing_overhead": overhead,
        "named": medians([t["named"] for t in traced]),
        "per_layer": {k: {"value": v, "unit": units[k]}
                      for k, v in medians([{k: v for k, (v, _) in t["per_layer"].items()}
                                           for t in traced]).items()},
    }
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    with open(os.path.join(HERE, "traces", args.workload + ".json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
