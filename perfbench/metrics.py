"""Metric arithmetic of the graft benchmark: percentiles with a sample-count
rule, Spark-job coverage of spans, failure shares and run-to-run spread.
Pure functions over the JSON run records the JVM side writes."""

import statistics

# Percentiles a timing may be reported at, lowest first.
PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest percentile with at least ten of `n` samples beyond it,
    or None when even the median has fewer than ten beyond it."""
    best = None
    for p in PERCENTILES:
        # count in thousandths: 100 - 99.9 is not exactly 0.1 in binary
        if n * (100000 - round(p * 1000)) >= 10 * 100000:
            best = p
    return best


def timing_summary(values):
    """Median, the highest percentile with ten samples beyond it, and the
    sample count."""
    out = {"n": len(values), "median": statistics.median(values) if values else None}
    p = tail_percentile(len(values))
    out["pct"] = p
    out["pct_value"] = quantile(values, p / 100.0) if p is not None else None
    return out


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_time(span_start, span_end, job_intervals):
    """Span time not covered by any running Spark job."""
    return (span_end - span_start) - covered(job_intervals, span_start, span_end)


def failed_share(attempted, failed):
    if attempted <= 0:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed operations must be between 0 and attempted")
    return failed / attempted


def measured_ops(ops, phase):
    """The operations of `phase` that succeeded: a failed operation (thrown,
    timed out, or failed its check) never contributes a sample."""
    return [o for o in ops if o["phase"] == phase and o["ok"]]


def op_samples(ops, name):
    """The values the given operations recorded under `name`, in order."""
    return [v for o in ops for v in o.get("samples", {}).get(name, [])]


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def span_jobs(span, jobs):
    """Jobs that started inside the span (job stamps are whole ms)."""
    lo = int(span["start"])
    return [j for j in jobs if lo <= j["start"] <= span["end"]]


def span_stats(span, jobs, stages):
    """wall_s, driver_s, jobs, shuffle_bytes, input_bytes and skew of one
    span. Skew is slowest task / median task of the span's longest-running
    stage; 0 when the span ran no stage."""
    mine = span_jobs(span, jobs)
    ivals = [(j["start"], j["end"] if j["end"] >= 0 else span["end"]) for j in mine]
    wall_ms = span["end"] - span["start"]
    st = [stages[s] for j in mine for s in j["stages"] if s in stages]
    worst = max((s for s in st if s["tasks"] > 0), key=lambda s: s["completed"] - s["submitted"], default=None)
    skew = 0.0
    if worst is not None:
        skew = worst["task_max_ms"] / worst["task_median_ms"] if worst["task_median_ms"] > 0 else 1.0
    return {
        "wall_s": wall_ms / 1000.0,
        "driver_s": driver_time(span["start"], span["end"], ivals) / 1000.0,
        "jobs": float(len(mine)),
        "shuffle_bytes": float(sum(s["shuffle_write"] for s in st)),
        "input_bytes": float(sum(s["input_bytes"] for s in st)),
        "skew": skew,
    }
