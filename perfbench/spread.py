#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed and print, for
each end-to-end metric, its median and its spread (inter-quartile range
divided by the median) over the seeds.

  python3 perfbench/spread.py --seeds 401-410 --seconds <s> <workload>...

Run from the repository root. The README's steadiness table comes from
this script.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import stats  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=seeds, required=True, help="first-last, e.g. 401-410")
    ap.add_argument("--seconds", required=True)
    ap.add_argument("workloads", nargs="+")
    args = ap.parse_args()
    for w in args.workloads:
        values, walls = {}, []
        for seed in args.seeds:
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
                               capture_output=True, text=True)
            walls.append(time.time() - t0)
            if r.returncode != 0:
                print(f"{w} seed {seed}: failed ({r.returncode})\n{r.stderr[-2000:]}", flush=True)
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.0f} s, correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        print(f"== {w}: run wall time median {statistics.median(walls):.0f} s, "
              f"max {max(walls):.0f} s")
        for k, v in values.items():
            if len(v) >= 2:
                print(f"   {k:14} median {statistics.median(v):<10.4g} spread {stats.spread(v):.3f}")


if __name__ == "__main__":
    main()
