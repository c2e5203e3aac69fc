#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload kg_build --seeds 11-20 [--run]

With --run it first makes one untraced run per seed (perfbench/run.py);
either way it reads the results in .bench_out/ and prints, per metric, the
median, the quartiles, the spread (third minus first quartile, as a share
of the median) and the metric's bound from BENCHMARK.json.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 11-20")
    ap.add_argument("--seconds", default="14")
    ap.add_argument("--run", action="store_true")
    a = ap.parse_args()
    first, last = (int(x) for x in a.seeds.split("-"))
    seeds = range(first, last + 1)
    if a.run:
        for s in seeds:
            subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", a.seconds, "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.DEVNULL, check=True)
    results = []
    for s in seeds:
        with open(os.path.join(ROOT, ".bench_out", f"{a.workload}-seed{s}.json")) as f:
            results.append(json.load(f)["result"])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    print(f"{a.workload}: {len(results)} runs, "
          f"{sum(r['failed'] for r in results)} failed operations")
    for name, bound in bounds.items():
        xs = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        print(f"  {name:<17} median {med:<12.6g} q1 {q1:<12.6g} q3 {q3:<12.6g} "
              f"spread {spread:6.3f}  bound {bound}  "
              f"{'ok' if spread <= bound / 3 else 'WIDE' if spread > bound else 'over a third'}")


if __name__ == "__main__":
    main()
