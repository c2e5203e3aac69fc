#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 14 --trace 0

Run from the repository root. The first run builds the harness and graft
from source (sbt); later runs rebuild only when a source file changed. The
run prints every metric by name with its unit, the environment and the
output checks, then, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` makes a separate traced run and reports the
per-layer metrics, the per-layer self times and the tracing overhead.
Full results go to .bench_out/. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import inputs, layers, metrics, reference, stats  # noqa: E402

WORKLOADS = ("kg_build", "sssom_ops")
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
RUN_LIMIT_S = 160
# a fixed heap: no resizing while an operation is timed
JVM_OPTS = ["-Xms2g", "-Xmx2g"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cpu_jiffies():
    """(steal, total) CPU time from /proc/stat; None where it is missing.
    Steal is time the host gave this machine's CPUs to other guests, which
    slows a whole run at once."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7], sum(xs)
    except (OSError, IndexError, ValueError):
        return None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: graft's build and main sources, and the
    harness's own."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(deadline):
    """Compile graft and the harness unless the sources are unchanged since
    the last build; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("graft's sources are not here: run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    if (os.path.exists(cp_file) and os.path.exists(stamp)
            and open(stamp).read() == h.hexdigest()):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "writeClasspath"], cwd=HERE, stdout=log,
                               stderr=subprocess.STDOUT,
                               timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}", 3)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return open(cp_file).read().strip()


def end_to_end(raw, quality):
    """The end-to-end metrics of an untraced run. Times come from the
    nproc arm, except scaling_eff, which compares the operations of the
    one-thread arm (the workload's scaling mix) with the same operations
    at nproc threads, on the same input. A cycle is one pass over the
    workload's mix of operations (a single operation for kg_build)."""
    arm_n, arm_1 = raw["arms"]

    def per_op_median(ops, mix):
        return {c: stats.median([o["ms"] for o in ops if o["name"] == c])
                for c in mix}

    med_n = per_op_median(arm_n["ops"], raw["mix"])
    med_1 = per_op_median(arm_1["ops"], raw["scaling_mix"])
    scal_n = per_op_median(arm_n["ops"] + arm_n["scaling_ops"], raw["scaling_mix"])
    cycle_s = sum(med_n.values()) / 1000.0
    rows = {o["name"]: o["rows"] for o in arm_n["ops"]}
    ms = [o["ms"] for o in arm_n["ops"]]
    nproc = raw["env"]["nproc"]
    return {
        # the cold set-up: session start, input staging and warm-up cycle
        "setup_s": stats.median(raw["setup_s"]),
        "wall_s": cycle_s,
        "triples_per_s": sum(rows.values()) / cycle_s,
        "scaling_eff": stats.scaling_eff(sum(scal_n.values()) / 1000.0,
                                         sum(med_1.values()) / 1000.0, nproc),
        "op_p50_ms": stats.percentile(ms, 50),
        "op_p90_ms": stats.percentile(ms, 90),
        "ops_per_s": len(ms) / (sum(ms) / 1000.0),
        "triple_precision": quality[0],
        "triple_recall": quality[1],
    }


def output_checks(workload, raw, seed):
    """The checks made outside the JVM. Returns (precision, recall, list of
    (check, passed, detail))."""
    if workload == "kg_build":
        p, r, n_got, n_ref = reference.kg_precision_recall(raw["kg"], seed)
        # every emitted link must be a true one; the LSH blocking may miss
        # a few (triple_recall reports how many), but not one in ten
        ok = p == 1.0 and r >= 0.90
        return p, r, [("links vs brute-force reference", ok,
                       f"precision {p:.4f} recall {r:.4f} "
                       f"({n_got} emitted, {n_ref} in reference, "
                       "sampled mentions)")]
    # checked in the JVM, per operation: the RDF triples of convert -O rdf
    # against golden_basic.ttl, and the near-duplicate pairs against
    # reference.near_dup_pairs
    q, d = raw["rdf_triples"], raw["near_dup_pairs"]
    return q["precision"], q["recall"], [
        ("near-duplicate pairs vs brute-force reference",
         d["precision"] == 1.0 and d["recall"] == 1.0,
         f"precision {d['precision']:.4f} recall {d['recall']:.4f}")]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    load = os.getloadavg()
    jiffies = cpu_jiffies()

    cp = build(started + 700)
    phases = {"build_check": time.time() - started}
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "inputs"))
    os.makedirs(os.path.join(work, "tmp"))
    if a.workload == "sssom_ops":
        inputs.sssom(os.path.join(work, "inputs"), a.seed)
        inputs.documents(os.path.join(work, "inputs"), a.seed)

    nproc = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                               "-cp", cp, "graft.perfbench.Main",
                               "--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--work", work, "--repo", ROOT, "--nproc", str(nproc)]
    t = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run timed out; log in {work}", 4)
    if r.returncode != 0:
        fail(f"harness exited with {r.returncode}; log in {work}/jvm.log", 4)
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    phases["harness"] = time.time() - t
    t = time.time()

    ops = [o for arm in raw["arms"]
           for o in arm["ops"] + arm.get("scaling_ops", []) + arm.get("traced", [])]
    precision, recall, checks = output_checks(a.workload, raw, a.seed)
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    phases["checks"] = time.time() - t
    if not all(ok for _, ok, _ in checks):
        # every operation produced the checked output (the harness compares
        # each with the first), so a failed reference check fails them all
        failed = attempted

    if a.trace:
        catalogue = metrics.PER_LAYER
        values = layers.per_layer(raw, [n for n, _ in catalogue])
    else:
        catalogue = metrics.END_TO_END
        values = end_to_end(raw, (precision, recall))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": values[n], "unit": u} for n, u in catalogue}}

    env = dict(raw["env"], loadavg_at_start=[round(x, 2) for x in load])
    end = cpu_jiffies()
    if jiffies and end and end[1] > jiffies[1]:
        env["cpu_steal_share"] = round((end[0] - jiffies[0]) / (end[1] - jiffies[1]), 4)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"env {json.dumps(env)}")
    for arm in raw["arms"]:
        for c in dict.fromkeys(o["name"] for o in arm["ops"]):
            s = stats.summary([o["ms"] for o in arm["ops"] if o["name"] == c])
            print(f"  {arm['threads']} thread(s) {c}: p50 {s['p50']:.1f} ms  "
                  f"p90 {s['p90']:.1f} ms  n={s['n']}")
        for c in dict.fromkeys(o["name"] for o in arm.get("scaling_ops", [])):
            s = stats.summary([o["ms"] for o in arm["ops"] + arm["scaling_ops"]
                               if o["name"] == c])
            print(f"  {arm['threads']} thread(s) {c}, for scaling_eff: "
                  f"p50 {s['p50']:.1f} ms  "
                  f"p90 {s['p90']:.1f} ms  n={s['n']}")
    print(f"  cold set-up: {', '.join(f'{x:.2f} s' for x in raw['setup_s'])}  "
          f"later session starts: "
          f"{', '.join(f'{x:.2f} s' for x in env['session_start_s']) or '-'}  "
          f"run phases: {', '.join(f'{k} {v:.1f} s' for k, v in phases.items())}")
    for o in ops:
        if not o["ok"]:
            print(f"  FAILED {o['name']}: {o['detail']}")
    for name, ok, detail in checks:
        print(f"  check {'ok' if ok else 'FAILED'}: {name}: {detail}")
    if a.trace:
        print("  per-layer self time (median over traced cycles):")
        for name, calls, wall, self_s in layers.self_time_table(raw):
            print(f"    {name:<45} calls {calls:>3}  wall {wall:8.3f} s  "
                  f"self {self_s:8.3f} s")
        print(f"  tracing overhead: {values['trace.overhead_s']:.3f} s per cycle "
              "(the traced spans that redo a cycle's operations minus an untraced "
              "cycle, medians)")
    for n, u in catalogue:
        if values[n] != 0 or not a.trace:
            print(f"  {n} = {values[n]:.6g} {u}")

    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}" + ("-trace" if a.trace else "")
    with open(os.path.join(OUT, tag + ".json"), "w") as f:
        json.dump({"result": result, "env": env, "setup_s": raw["setup_s"],
                   "checks": checks, "arms": raw["arms"]}, f, indent=1)
    if a.trace:
        with open(os.path.join(OUT, tag + "-spans.json"), "w") as f:
            json.dump({"trace": raw["trace"],
                       "spans": layers.occurrences(raw["trace"])}, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
