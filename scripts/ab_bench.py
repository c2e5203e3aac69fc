#!/usr/bin/env python3
"""A/B the benchmark between a parent commit and the working tree.

    python3 scripts/ab_bench.py --parent HEAD~1 --workload kg_build \
        --pairs 10 --seconds 14 --seeds 1,2,3

Run from the repository root. The parent is checked out in a local
`git clone` under $TMPDIR (or taken from --parent-dir, an existing
checkout of it) and `perfbench/run.py` runs in N alternating pairs: pair i
runs the parent first when i is even and the change first when it is odd,
and uses seed seeds[i % len(seeds)]. Each side builds from its own
sources into its own .bench_build.

For every end-to-end metric the script prints each side's median and
quartiles over the pairs, how many pairs the change won (ties count
for neither side), whether a gain holds, and a no-regression verdict:

  gain        the change wins at least nine tenths of the pairs and the
              medians differ by more than the parent's interquartile range
  worse       the change's median is worse than the parent's by more than
              the metric's `bound` in BENCHMARK.json, relative to the
              parent's median
  unresolved  not worse, but either side's interquartile range exceeds
              bound x that side's median, so the runs spread too widely
              to tell
  ok          neither

Every run's metrics go to --out as JSON.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs):
    """(q1, median, q3), inclusive method: defined for one sample too."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(p, c, lower_better, bound):
    """'worse', 'unresolved' or 'ok' for parent and change quartiles."""
    sign = 1 if lower_better else -1
    if sign * (c[1] - p[1]) > bound * abs(p[1]):
        return "worse"
    if any(q[2] - q[0] > bound * abs(q[1]) for q in (p, c)):
        return "unresolved"
    return "ok"


def run_once(checkout, workload, seed, seconds):
    """One untraced run: ({metric: value}, failed ops, attempted ops)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.exit(f"ab_bench: run failed in {checkout} (exit {r.returncode}):\n"
                 f"{r.stdout[-2000:]}\n{r.stderr[-2000:]}")
    res = json.loads(lines[-1])
    return ({k: v["value"] for k, v in res["metrics"].items()},
            res["failed"], res["attempted"])


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", default="HEAD", help="parent commit (default HEAD)")
    ap.add_argument("--parent-dir", help="an existing checkout of the parent")
    ap.add_argument("--workload", required=True, choices=("kg_build", "sssom_ops"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--seeds", default="1", help="comma-separated seeds, cycled")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_out", "ab.json"))
    a = ap.parse_args()
    if a.pairs < 1:
        ap.error("--pairs must be at least 1")
    seeds = [int(s) for s in a.seeds.split(",")]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = {m["name"]: m for m in json.load(f)["end_to_end"]}

    # a clone, not a worktree: it leaves nothing in this repository's .git
    clone = None
    parent_dir = a.parent_dir
    if parent_dir is None:
        sha = subprocess.run(["git", "rev-parse", "--verify", a.parent + "^{commit}"],
                             cwd=ROOT, check=True, capture_output=True,
                             text=True).stdout.strip()
        clone = tempfile.mkdtemp(prefix="ab_bench_")
        subprocess.run(["git", "clone", "--quiet", "--no-checkout", ROOT, clone],
                       check=True, capture_output=True)
        subprocess.run(["git", "checkout", "--quiet", "--detach", sha],
                       cwd=clone, check=True, capture_output=True)
        parent_dir = clone
    runs = []
    try:
        for i in range(a.pairs):
            seed = seeds[i % len(seeds)]
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"pair": i, "seed": seed, "first": order[0]}
            for side in order:
                d = parent_dir if side == "parent" else ROOT
                pair[side], pair[side + "_failed"], pair[side + "_attempted"] = \
                    run_once(d, a.workload, seed, a.seconds)
            runs.append(pair)
            print(f"pair {i} seed {seed} ({order[0]} first): " + "  ".join(
                f"{m} {pair['parent'][m]:.4g}->{pair['change'][m]:.4g}"
                for m in ("wall_s", "scaling_eff", "triple_recall")
                if m in pair["parent"]), flush=True)
    finally:
        if clone:
            shutil.rmtree(clone, ignore_errors=True)

    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump({"workload": a.workload, "seconds": a.seconds, "runs": runs}, f,
                  indent=1)
    n = len(runs)
    print(f"\n{a.workload}: {n} pairs, --seconds {a.seconds}, seeds {seeds}")
    print(f"failed ops: parent {sum(r['parent_failed'] for r in runs)}/"
          f"{sum(r['parent_attempted'] for r in runs)}, change "
          f"{sum(r['change_failed'] for r in runs)}/"
          f"{sum(r['change_attempted'] for r in runs)}")
    print(f"{'metric':<17} {'parent q1 / median / q3':>30} "
          f"{'change q1 / median / q3':>30}  wins  gain  verdict")
    for m, spec in metrics.items():
        p = [r["parent"][m] for r in runs]
        c = [r["change"][m] for r in runs]
        lower = spec["better"] == "lower"
        sign = -1 if lower else 1
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) > 0)
        pq, cq = quartiles(p), quartiles(c)
        gain = wins >= 0.9 * n and sign * (cq[1] - pq[1]) > pq[2] - pq[0]
        print(f"{m:<17} {pq[0]:>9.4g} / {pq[1]:>8.4g} / {pq[2]:<9.4g} "
              f"{cq[0]:>9.4g} / {cq[1]:>8.4g} / {cq[2]:<9.4g} {wins:>2}/{n}  "
              f"{'yes' if gain else 'no':<4}  "
              f"{verdict(pq, cq, lower, spec['bound'])}")


if __name__ == "__main__":
    main()
