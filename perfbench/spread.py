"""Run a workload on several seeds and report each end-to-end metric's
median and spread (interquartile range as a share of the median), the
figures BENCHMARK.json's bounds are checked against::

    python3 perfbench/spread.py --workload superstep_floor --seeds 1-10

Runs one after another, never in parallel: runs that share the host
skew each other's walls. Each run's result line is appended to
``perfbench/.work/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    results = []
    log = os.path.join(HERE, ".work", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-3000:])
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        res = json.loads(lines[-1])
        run = json.loads(lines[-2]) if len(lines) > 1 else {}
        results.append(res)
        with open(log, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed, **run, **res}) + "\n")
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} {vals}", flush=True)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        flag = "" if name == "setup_s" or spread < bound / 3 else "  <-- above a third of the bound"
        print(f"{name}: median {med:.4g}  spread {spread:.2%}  bound {bound:.0%}{flag}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share(s): {sorted(shares)}; all correct: {all(r['correct'] for r in results)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
