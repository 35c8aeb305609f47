#!/usr/bin/env python3
"""Run one workload over several seeds and report, per metric, the median
and the spread (the distance between the first and third quartiles as a
share of the median).

    python3 graftbench/spread.py --workload query_suite --seeds 1-5 \
        --seconds 30 [--trace 0|1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    values, walls = {}, []
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}", flush=True)
            continue
        r = json.loads(lines[-1])
        print(f"seed {seed}: {walls[-1]:.0f}s correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                  if a.trace == 0), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"process wall per run: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:32s} median {med:12.4f}  spread {spread:.4f}  n={len(vs)}")


if __name__ == "__main__":
    main()
