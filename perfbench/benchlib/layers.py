"""Per-layer numbers from a traced run's raw record.

Every span is one call into a layer. Its counters (jobs, task time,
shuffle, spill, failed tasks) include the jobs of its descendant spans, as
its wall time does; self time is the part of its wall time no child span
covers; idle time is the part during which no task of its jobs ran
(planning, scheduling, collecting results).
"""

from collections import defaultdict

from . import stats


def occurrences(trace):
    """One dict of measures per span."""
    spans = trace["spans"]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def descendants(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x["id"])
            todo.extend(children[x["id"]])
        return out

    jobs_of_span = defaultdict(list)
    for job, span, _start, _end in trace["jobs"]:
        jobs_of_span[span].append(job)
    tasks_of_job = defaultdict(list)
    for t in trace["tasks"]:
        tasks_of_job[t[0]].append(t)

    result = []
    for s in spans:
        start, end = s["start_ms"], s["end_ms"]
        jobs = [j for d in descendants(s) for j in jobs_of_span[d]]
        tasks = [t for j in jobs for t in tasks_of_job[j]]
        by_stage = defaultdict(list)
        for t in tasks:
            by_stage[t[1]].append(t[3] - t[2])
        worst = max(by_stage.values(), key=sum) if by_stage else None
        kids = [(c["start_ms"], c["end_ms"]) for c in children[s["id"]]]
        o = {
            "name": s["name"], "run": s["run"], "parent": s["parent"],
            "wall_s": (end - start) / 1000.0,
            "self_s": stats.self_time((start, end), kids) / 1000.0,
            "task_s": sum(t[3] - t[2] for t in tasks) / 1000.0,
            "idle_s": stats.idle_time((start, end),
                                      [(t[2], t[3]) for t in tasks]) / 1000.0,
            "jobs": len(jobs),
            "shuffle_write_bytes": sum(t[4] for t in tasks),
            "shuffle_records": sum(t[5] for t in tasks),
            "spill_bytes": sum(t[6] for t in tasks),
            "tasks_failed": sum(t[7] for t in tasks),
            "skew": stats.skew(worst) if worst else 0.0,
        }
        o.update(s["notes"])
        result.append(o)
    return result


def _ratio(a, b):
    return a / b if b else 0.0


def per_layer(raw, names):
    """Value of every per-layer metric in `names`; 0 for a layer this
    workload does not reach. Per-call measures are the median over the
    traced cycles; `p50_ms` / `p90_ms` are percentiles of the call's wall
    time over every call made."""
    occ_all = occurrences(raw["trace"])
    by_name = defaultdict(list)
    for o in occ_all:
        o["yield"] = _ratio(o.get("rows_out", 0), o["shuffle_records"])
        o["keep"] = _ratio(o.get("rows_out", 0), o.get("rows_in", 0))
        by_name[o["name"]].append(o)

    arm = raw["arms"][0]
    mix = raw["mix"]
    untraced = [op["ms"] for op in arm["ops"]]
    cycles = [sum(untraced[i:i + len(mix)])
              for i in range(0, len(untraced) - len(mix) + 1, len(mix))]
    # the traced spans that redo an untraced cycle's work (the harness
    # marks them "mirror"); the direct calls and kernel timings a traced
    # cycle adds are not tracing overhead
    mirrored = defaultdict(float)
    for o in occ_all:
        if o.get("mirror"):
            mirrored[o["run"]] += o["wall_s"] * 1000.0
    derived = {
        "jvm.gc_s": stats.median(arm["gc_s"]),
        "jvm.heap_peak_mb": arm["heap_peak_mb"],
        "trace.overhead_s":
            (stats.median(list(mirrored.values())) - stats.median(cycles))
            / 1000.0,
        "trace.tasks_failed": sum(t[7] for t in raw["trace"]["tasks"]),
    }

    values = {}
    for name in names:
        if name in derived:
            values[name] = derived[name]
            continue
        span, _, measure = name.rpartition(".")
        occ = by_name.get(span, [])
        if not occ:
            values[name] = 0.0
        elif measure in ("p50_ms", "p90_ms"):
            walls = [o["wall_s"] * 1000.0 for o in occ]
            values[name] = stats.percentile(walls, 50 if measure == "p50_ms" else 90)
        else:
            values[name] = stats.median([o.get(measure, 0.0) for o in occ])
    return values


def self_time_table(raw):
    """(span name, calls, median wall s, median self s), slowest self first."""
    by_name = defaultdict(list)
    for o in occurrences(raw["trace"]):
        by_name[o["name"]].append(o)
    rows = [(n, len(v), stats.median([o["wall_s"] for o in v]),
             stats.median([o["self_s"] for o in v])) for n, v in by_name.items()]
    return sorted(rows, key=lambda r: -r[3])
