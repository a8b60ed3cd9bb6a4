#!/usr/bin/env python3
"""Run the benchmark over several seeds and check its steadiness.

Usage, from the root of a checkout::

    python3 perfbench/spread.py --seeds 10 [--workloads a,b] [--sets 2]
        [--out results.json]

For each workload and set, runs ``perfbench/run.py`` once per seed
(``--trace 0``), then reports each end-to-end metric's median and its
spread: the inter-quartile distance as a share of the median.  A spread
above a third of the metric's bound in BENCHMARK.json (``setup_s``
exempt), or a second set's median worse than the first's by more than
the bound, is reported and makes the exit code nonzero.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    elapsed = time.perf_counter() - t
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    if not out["correct"] or out["failed"]:
        raise SystemExit(f"{workload} seed {seed}: wrong output or failed calls")
    values = {k: v["value"] for k, v in out["metrics"].items()}
    values["elapsed_s"] = elapsed  # the whole run, for the time budget
    return values


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--sets", type=int, choices=(1, 2), default=1)
    p.add_argument("--workloads", default=None)
    p.add_argument("--out", default=None)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    results: dict = {}
    problems: list[str] = []
    for w in names:
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.seeds):
                seed = args.first_seed + s * args.seeds + i
                runs.append(run_once(spec, w, seed))
                print(f"{w} set {s + 1} seed {seed}: {runs[-1]}", flush=True)
            sets.append(runs)
        results[w] = sets
        for metric in spec["end_to_end"]:
            vals = [[r[metric["name"]] for r in runs] for runs in sets]
            spreads = " ".join(f"{stats.spread(v):.4f}" for v in vals)
            meds = " ".join(f"{statistics.median(v):.4g}" for v in vals)
            print(f"{w} {metric['name']}: median {meds}, spread {spreads} "
                  f"(bound {metric['bound']})")
            problems += [f"{w} {x}" for x in stats.bound_check(
                metric, vals[0], vals[1] if len(vals) > 1 else None)]
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    for x in problems:
        print("PROBLEM:", x)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
