#!/usr/bin/env python3
"""Measure the benchmark's run-to-run spread.

    python3 perfbench/spread.py [--runs 10] [--first-seed 100] [WORKLOAD ...]

Runs each workload (default: those in BENCHMARK.json) ``--runs`` times
untraced, each with another seed, and prints per end-to-end metric the
median and the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the metric's bound. Writes the values to ``results/spread.json``.
"""
import argparse
import json
import os
import statistics
import sys

import run


def main():
    spec = run.bench_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    out = {}
    ok = True
    for w in a.workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for i in range(a.runs):
            res = run.run_one(w, a.first_seed + i, spec["run_seconds"], 0)
            rep, _ = run.report(res, 0, spec)
            ok = ok and rep["correct"]
            for k, m in rep["metrics"].items():
                values[k].append(m["value"])
        out[w] = {}
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q[2] - q[0]) / med if med else float("inf")
            out[w][m["name"]] = {"median": med, "spread": spread, "bound": m["bound"],
                                 "values": v}
            print(f"{w:>18} {m['name']:>12} median={med:.6g} spread={spread:.4f} "
                  f"bound={m['bound']}")
    os.makedirs(os.path.join(run.HERE, "results"), exist_ok=True)
    with open(os.path.join(run.HERE, "results", "spread.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
