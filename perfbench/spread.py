#!/usr/bin/env python3
"""Run a workload once per seed and report, for each metric of the final
JSON line, its median and its quartile spread (the distance between the
first and third quartile as a share of the median).

Usage (from the root of the repository):
  python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 5] [--trace 0]
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_math as bm  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))
    runs = []
    for seed in range(first, last + 1):
        start = time.time()
        out = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                              "--workload", args.workload, "--seed", str(seed),
                              "--seconds", args.seconds, "--trace", args.trace],
                             stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}")
        line = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(line)
        print(f"seed {seed}: {time.time() - start:.0f} s wall, correct={line['correct']} "
              f"failed={line['failed']}/{line['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in runs]
        spread = bm.quartile_spread(vals) if len(vals) >= 2 and bm.median(vals) else float("nan")
        print(f"{k:<28} median {bm.median(vals):.6g}  spread {spread:.4f}")


if __name__ == "__main__":
    main()
