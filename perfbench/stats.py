"""Arithmetic shared by every workload: percentiles, span self time and
closed-loop accounting. Kept free of I/O so tests/test_stats.py can pin it.

Times are epoch milliseconds (floats); a span or job is any mapping with
"start" and "end".
"""

import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolation percentile (numpy's default), p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, beyond=10):
    """Highest percentile on the ladder with at least `beyond` of the n
    samples above it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:
            return p
    return None


def summary(values):
    """Median, the rule's tail percentile and the sample count."""
    out = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        p = tail_percentile(len(values))
        if p is not None and p > 50.0:
            out["tail_p"] = p
            out["tail"] = percentile(values, p)
    return out


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """The span's duration minus the part of it its children cover.
    Overlapping children (concurrent jobs) are counted once."""
    cover = union_ms([(c["start"], c["end"]) for c in children],
                     span["start"], span["end"])
    return (span["end"] - span["start"]) - cover


def contained(span, items):
    """Items that start inside the span: its children by time."""
    return [x for x in items if span["start"] <= x["start"] <= span["end"]]


def op_rollup(spans, jobs):
    """Per-call medians of one op: wall, jobs started in it, time covered
    by jobs, and driver time (wall minus job coverage)."""
    walls, counts, job_ms, driver = [], [], [], []
    for s in spans:
        overlapping = [j for j in jobs if j["end"] > s["start"] and j["start"] < s["end"]]
        wall = s["end"] - s["start"]
        walls.append(wall)
        counts.append(len(contained(s, jobs)))
        d = self_time(s, overlapping)
        driver.append(d)
        job_ms.append(wall - d)
    if not walls:
        return {"ms": 0.0, "jobs": 0.0, "job_ms": 0.0, "driver_ms": 0.0, "calls": 0}
    return {"ms": statistics.median(walls), "jobs": statistics.median(counts),
            "job_ms": statistics.median(job_ms), "driver_ms": statistics.median(driver),
            "calls": len(walls)}


def closed_loop(results, window_start, window_end):
    """Throughput and failure share of a closed loop.

    `results` holds one (start, end, ok) per request. A request counts
    toward throughput when it completed OK inside the window; every
    request started inside the window counts as attempted, and a failed
    or refused one counts as failed.
    """
    attempted = [r for r in results if window_start <= r[0] < window_end]
    failed = sum(1 for r in attempted if not r[2])
    done = sum(1 for r in attempted if r[2] and r[1] <= window_end)
    secs = (window_end - window_start) / 1000.0
    return {"attempted": len(attempted), "failed": failed,
            "ops_per_s": done / secs if secs > 0 else 0.0,
            "failed_frac": failed / len(attempted) if attempted else 0.0}


def spark_layer(jobs, plans, window, passes, cpus):
    """Spark and Catalyst totals over the window, per pass."""
    lo, hi = window
    js = [j for j in jobs if lo <= j["start"] < hi]
    per = max(passes, 1)
    wall = hi - lo
    task_ms = sum(j["task_ms"] for j in js)
    out = {
        "spark.jobs": len(js) / per,
        "spark.tasks": sum(j["tasks"] for j in js) / per,
        "spark.task_ms": task_ms / per,
        "spark.cpu_ms": sum(j["cpu_ms"] for j in js) / per,
        "spark.gc_ms": sum(j["gc_ms"] for j in js) / per,
        "spark.shuffle_write_mb": sum(j["shuffle_write_b"] for j in js) / 1048576.0 / per,
        "spark.shuffle_read_mb": sum(j["shuffle_read_b"] for j in js) / 1048576.0 / per,
        "spark.spill_mb": sum(j["spill_b"] for j in js) / 1048576.0 / per,
        "spark.input_mb": sum(j["input_b"] for j in js) / 1048576.0 / per,
        "spark.core_util": task_ms / (wall * cpus) if wall > 0 else 0.0,
        "spark.driver_gap_ms":
            (wall - union_ms([(j["start"], j["end"]) for j in js], lo, hi)) / per,
    }
    ps = [p for p in plans if lo <= p.get("analysis_start", p.get("planning_start", lo)) < hi]
    out["plan.actions"] = len(ps) / per
    for phase in ("analysis", "optimization", "planning"):
        out[f"plan.{phase}_ms"] = sum(
            p[f"{phase}_end"] - p[f"{phase}_start"] for p in ps if f"{phase}_start" in p) / per
    return out


def in_window(spans, window):
    """Spans that start inside the (start, end) window."""
    return [s for s in spans if window[0] <= s["start"] < window[1]]


def accounting(spans, jobs, window):
    """How much of the window the per-op rollups explain.

    Every op's wall is its job coverage plus its driver time by definition,
    so the question is what falls outside the op spans: the share of the
    window's job time in jobs that start in no span (work the per-op numbers
    do not attribute), and the share of the window no span covers (time
    between calls)."""
    lo, hi = window
    js = [j for j in jobs if lo <= j["start"] < hi]
    loose = [j for j in js if not any(s["start"] <= j["start"] <= s["end"] for s in spans)]
    job_ms = sum(j["end"] - j["start"] for j in js)
    wall = hi - lo
    between = wall - union_ms([(s["start"], s["end"]) for s in spans], lo, hi)
    return {"spans": len(spans), "jobs": len(js), "unattributed_jobs": len(loose),
            "unattributed_job_share":
                sum(j["end"] - j["start"] for j in loose) / job_ms if job_ms else 0.0,
            "between_spans_ms": between,
            "between_spans_share": between / wall if wall > 0 else 0.0}
