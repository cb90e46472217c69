#!/usr/bin/env python3
"""Write the committed traced-run records under ``perfbench/results/``.

    python3 perfbench/record.py [--seed N] [--seconds S] [WORKLOAD ...]

For each workload (default: all three) it makes one untraced and one
traced run with the same seed and writes ``results/<workload>.json``: the
traced run's spans and listener counts, its per-layer metrics, the
untraced end-to-end metrics, and the tracing overhead (traced ``cycle_s``
minus untraced ``cycle_s``). It exits non-zero if a run fails a
correctness check or a traced cycle's per-layer ``wall_s`` sum does not
account for the cycle.
"""
import argparse
import json
import os
import sys

import run


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*", default=list(run.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    a = ap.parse_args()
    spec = run.bench_spec()
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    out_dir = os.path.join(run.HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    for w in a.workloads:
        plain = run.run_one(w, a.seed, seconds, 0)
        traced = run.run_one(w, a.seed, seconds, 1)
        with open(os.path.join(run.HERE, ".out", f"trace-{w}-seed{a.seed}.json")) as f:
            rec = json.load(f)
        untraced_cycle = plain["metrics"]["cycle_s"]
        rec["untraced"] = {"correct": plain["correct"], "failures": plain["failures"],
                           "setup_s": plain["setup_s"], "metrics": plain["metrics"]}
        rec["traced_cycle_s"] = traced["traced_cycle_s"]
        rec["tracing_overhead_s"] = traced["traced_cycle_s"] - untraced_cycle
        rec["coverage_ok"] = all(c["coverage"] >= 0.95 for c in rec["cycles"])
        good = plain["correct"] and traced["correct"] and rec["coverage_ok"]
        ok = ok and good
        with open(os.path.join(out_dir, f"{w}.json"), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{w}: correct={good} untraced cycle_s={untraced_cycle:.3f} "
              f"traced cycle_s={rec['traced_cycle_s']:.3f} "
              f"overhead_s={rec['tracing_overhead_s']:.3f}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
