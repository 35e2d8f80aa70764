#!/usr/bin/env python3
"""Check that the benchmark is steady: run one workload on several seeds and
report, per end-to-end metric, the median and the spread (distance between
the first and third quartile as a share of the median), next to its bound.

Usage (from the root of the repository):

    python3 dmsbench/steady.py --workload <name> --seeds 1,2,3,4,5 [--seconds N] [--trace 0|1]

Each run's result line is appended to `.bench_build/steady/<workload>.jsonl`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = args.seconds or bench["run_seconds"]
    out_dir = os.path.join(".bench_build", "steady")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"{args.workload}.jsonl")
    values = {}
    for seed in [int(s) for s in args.seeds.split(",")]:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, "dmsbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            continue
        res = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
        print(f"seed {seed}: {wall:.0f} s correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else ("within bound" if spread <= b else "TOO WIDE"))
        print(f"{k:32s} median {statistics.median(xs):12.4f} spread {spread:6.3f} bound {b} {flag}")


if __name__ == "__main__":
    main()
