#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end
metric's median, quartiles and spread (interquartile range over
median, as the acceptance rule takes it).

    python3 perfbench/steadiness.py --workloads tool_calls,query_slate --seeds 1-10

Runs one after another, each in a fresh process; appends the table to
``perfbench/out/steadiness.json`` and prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    args = ap.parse_args()
    table = {}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            t0 = time.perf_counter()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.perf_counter() - t0
            if out.returncode != 0:
                print(f"{wl} seed {seed}: exit {out.returncode}\n{out.stdout}", file=sys.stderr)
                return 1
            res = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                         "failed": res["failed"], "attempted": res["attempted"],
                         **{k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{wl} seed {seed}: wall {wall:.1f}s {res}", flush=True)
        stats = {}
        for k in runs[0]:
            if k in ("seed", "correct"):
                continue
            vals = [r[k] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            stats[k] = {"median": med, "q1": q1, "q3": q3,
                        "spread": (q3 - q1) / med if med else 0.0}
        table[wl] = {"runs": runs, "stats": stats}
        for k, s in stats.items():
            print(f"  {wl} {k}: median {s['median']:.4g} q1 {s['q1']:.4g} q3 {s['q3']:.4g}"
                  f" spread {s['spread']:.3f}")
    path = os.path.join(HERE, "out", "steadiness.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    prior = json.load(open(path)) if os.path.exists(path) else []
    prior.append({"seeds": args.seeds, "seconds": args.seconds, "workloads": table})
    with open(path, "w") as fh:
        json.dump(prior, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
