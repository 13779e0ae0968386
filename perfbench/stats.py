"""The benchmark's own arithmetic: percentiles, interval unions, emit
attribution and span self time. Pure functions, unit-tested in tests/.
"""
import bisect
import math
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 90.0, 75.0, 50.0)


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - math.ceil(n * p / 100.0)


def tail_percentile(n):
    """The highest ladder percentile with at least ten samples beyond it
    (None when even the median has fewer)."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * p / 100.0) - 1)]


def summarize(values):
    """Median plus the rule-chosen tail, with the counts behind it."""
    p = tail_percentile(len(values))
    return {"n": len(values), "p50": statistics.median(values),
            "tail_p": p, "tail": percentile(values, p) if p else max(values),
            "beyond_tail": beyond(len(values), p) if p else 0}


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end) intervals,
    optionally clipped to [lo, hi]."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(spans):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def gap(start, end, stage_intervals):
    """Op wall time not covered by any stage: driver and scheduling time."""
    return (end - start) - union_length(stage_intervals, start, end)


def emit_times(first_event, n_events, emits):
    """Emit time of each event from a sink's cumulative totals.

    `emits` are (time, running total of events folded in) per batch, in
    batch order. Files are consumed in write order, so event i (counted
    from the stream's start) is emitted in the first batch whose total
    exceeds i. Events never emitted get None.
    """
    totals = [t for _, t in emits]
    out = []
    for i in range(first_event, first_event + n_events):
        k = bisect.bisect_right(totals, i)
        out.append(emits[k][0] if k < len(emits) else None)
    return out


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of it
    its child spans cover. Spans are dicts with id, layer, start_ms,
    end_ms and parent (-1 for a root)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        own = (s["end_ms"] - s["start_ms"]) - union_length(
            children.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["layer"]] = out.get(s["layer"], 0) + own
    return out
