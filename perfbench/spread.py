#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload report_mix --seeds 1-10 --seconds 16

For every metric it prints the median of the runs and the distance between
the first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median: the figure a benchmark bound has to cover. Run from the
root of the source tree, like run.py.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="16")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        out = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                              "--workload", a.workload, "--seed", str(s), "--seconds", a.seconds,
                              "--trace", a.trace], stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(json.dumps({"seed": s, "correct": res["correct"], "run_s": round(time.time() - t0, 1),
                          **{k: v["value"] for k, v in res["metrics"].items()}}), flush=True)
    print(f"{'metric':28} {'median':>14} {'iqr/median':>10}  correct {sum(r['correct'] for r in runs)}/{len(runs)}")
    for k in runs[0]["metrics"]:
        med, sp = spread([r["metrics"][k]["value"] for r in runs])
        print(f"{k:28} {med:14.4f} {sp:10.4f}")


if __name__ == "__main__":
    main()
