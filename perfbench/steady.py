#!/usr/bin/env python3
"""Runs a workload on several seeds and reports each metric's median,
quartiles and spread (interquartile range / median), against its bound in
BENCHMARK.json for the end-to-end metrics (per-layer ones with --trace 1). Each run's per-operation-type latencies and box
health (calibration, load) are kept as evidence.

    python3 perfbench/steady.py --workload corpus_chain --runs 10 --out perfbench/steadiness/corpus_chain.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.time()
        r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        wall_s = time.time() - t0
        if r.returncode != 0:
            sys.exit(f"seed {seed} failed (rc {r.returncode}):\n{r.stderr[-3000:]}")
        result = json.loads(r.stdout.strip().splitlines()[-1])
        report = json.loads([l for l in r.stderr.splitlines() if l.startswith('{"workload"')][-1])
        runs.append({"seed": seed, "wall_s": wall_s,
                     "attempted": result["attempted"], "failed": result["failed"],
                     "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                     "latency_by_type": report["latency_by_type"], "health": report["health"]})
        print(json.dumps(runs[-1]), file=sys.stderr, flush=True)

    summary = {}
    for name in runs[0]["metrics"]:
        s = spread([r["metrics"][name] for r in runs])
        if name in bounds:
            s.update(bound=bounds[name], within_third_of_bound=s["spread"] < bounds[name] / 3)
        summary[name] = s
    out = {"workload": args.workload, "trace": args.trace,
           "run_seconds": bench["run_seconds"], "metrics": summary, "runs": runs}
    print(json.dumps(summary, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
