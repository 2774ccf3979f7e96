#!/usr/bin/env python3
"""Steadiness check: run one workload on several seeds and print, per
metric, the median and the inter-quartile distance as a share of the median.

    python3 perfbench/spread.py --workload analytics_mix --seeds 1,2,3,4,5 \
        --seconds 12 [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values = {}
    for seed in args.seeds.split(","):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            args.workload, "--seed", seed, "--seconds", args.seconds,
                            "--trace", args.trace],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            sys.exit(1)
        result = json.loads(lines[-1])
        print(f"seed {seed}: " + json.dumps({k: round(v["value"], 4)
                                             for k, v in result["metrics"].items()}), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        spread = stats.iqr_share(v) if len(v) >= 2 else float("nan")
        print(f"{k:32s} median={statistics.median(v):.6g} iqr/median={spread:.3f} n={len(v)}")


if __name__ == "__main__":
    main()
