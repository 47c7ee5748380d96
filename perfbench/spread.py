"""Runs one workload with several seeds and reports, per end-to-end
metric, the median and the spread (interquartile range as a share of the
median) across the runs: the figure the benchmark's bounds are judged by.

    python3 perfbench/spread.py --workload backfill_wide --runs 10 [--first-seed 1]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        line = json.loads(out.stdout.strip().splitlines()[-1])
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {time.monotonic() - t0:.1f} s correct={line['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
    for k, xs in values.items():
        s = metrics.spread(xs)
        print(f"{k:<14} median {metrics.median(xs):.4g}  spread {s:.4f}  bound {bounds.get(k)}"
              f"{'  OVER A THIRD OF THE BOUND' if k in bounds and s > bounds[k] / 3 else ''}")


if __name__ == "__main__":
    main()
