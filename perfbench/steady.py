#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) as a share
of the median, next to the metric's bound in BENCHMARK.json.

Usage (from the repository root):
    python3 perfbench/steady.py --workload curate --seeds 1-5 [--trace 0]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values, walls = {}, []
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(args.trace)],
                           capture_output=True, text=True)
        walls.append(time.time() - t0)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            res = json.loads(line)
        except ValueError:
            print(f"seed {seed}: no result (exit {p.returncode})\n{p.stderr[-2000:]}")
            continue
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} wall={walls[-1]:.1f}s", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:40s} median={med:12.4f} spread={spread:6.3f} bound={bounds.get(k)} "
              f"values={[round(v, 3) for v in vs]}")


if __name__ == "__main__":
    main()
