#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics (README: "Spread").

    python3 perfbench/spread.py --runs 10 --seconds 10 medallion iterative_kernels

runs `run.py` once per seed 1..runs for each workload and prints, per
metric, the median and the distance between the first and third
quartiles as a share of the median (`statistics.quantiles(n=4)`), plus
the wall time of each run and the failed share.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("workloads", nargs="+")
    a = ap.parse_args()
    for w in a.workloads:
        vals, walls, shares = {}, [], set()
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t = time.monotonic()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", a.seconds, "--trace", a.trace],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True)
            walls.append(time.monotonic() - t)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if not r["correct"]:
                print(f"{w} seed {seed}: INCORRECT\n{p.stderr[-2000:]}")
            shares.add((r["failed"] / r["attempted"]))
            for k, m in r["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
        print(f"== {w}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s "
              f"(max {max(walls):.1f}), failed shares {sorted(shares)}", flush=True)
        for k, v in vals.items():
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else 0.0
            print(f"   {k:40s} median {med:10.4f}  iqr/median {spread:.3f}  "
                  f"values {[round(x, 3) for x in v]}", flush=True)


if __name__ == "__main__":
    main()
