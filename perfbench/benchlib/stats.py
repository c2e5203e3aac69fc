"""Statistics the benchmark reports. Pure functions, no I/O."""

import statistics


def median(xs):
    """Median of a non-empty sample."""
    return statistics.median(xs)


def percentile(xs, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks, the definition numpy uses by default."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def summary(xs):
    """Median, p90 and the sample count they rest on."""
    return {"p50": median(xs), "p90": percentile(xs, 90), "n": len(xs)}


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if e > start and s < end]


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover.
    Spans are (start, end) pairs."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def idle_time(span, busy):
    """Time inside a span during which none of the `busy` intervals (task
    run times) was running."""
    s, e = span
    return (e - s) - union_length(clip(busy, s, e))


def skew(task_times):
    """Max over median task time; 1.0 for a stage without spread."""
    m = median(task_times)
    return max(task_times) / m if m > 0 else 1.0


def precision_recall(got, ref):
    """Precision and recall of the set `got` against the reference `ref`.
    Nothing emitted is vacuously precise, and nothing to find is vacuously
    recalled."""
    got, ref = set(got), set(ref)
    common = len(got & ref)
    precision = common / len(got) if got else 1.0
    recall = common / len(ref) if ref else 1.0
    return precision, recall


def scaling_eff(seconds_nproc, seconds_one, nproc):
    """(throughput at nproc threads / throughput at one thread) / nproc for
    the same work timed at both levels."""
    return (seconds_one / seconds_nproc) / nproc
