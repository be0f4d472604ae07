#!/usr/bin/env python3
"""Run the benchmark several times with different seeds and print, per
end-to-end metric, the median and the spread (interquartile range as a
share of the median, from `statistics.quantiles(values, n=4)`).

    python3 perfbench/spread.py --workload query_mix --runs 10 --seconds 5 \
        [--first-seed 1] [--out results.jsonl]

Run from the repository root. Each run's final JSON line is appended to
`--out` when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import spread  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", a.seconds, "--trace", "0"],
                           capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        print(f"seed {seed}: exit {p.returncode} in {time.time() - t0:.1f} s: {last}",
              flush=True)
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            sys.exit(1)
        if a.out:
            with open(a.out, "a") as f:
                f.write(last + "\n")
        for k, m in json.loads(last)["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        print(f"{k:14s} median {statistics.median(vs):10.4f}  spread {spread(vs):.4f}")


if __name__ == "__main__":
    main()
