"""Order statistics and span arithmetic for the benchmark's metrics."""
import math
import statistics


def tail(values):
    """The highest percentile with at least 10 samples beyond it.

    Returns (p, value, beyond), p on a 0.1% grid. With 10 samples or fewer
    no percentile qualifies; then p is 0, the value is the smallest sample
    and beyond counts the rest.
    """
    n = len(values)
    p = math.floor(1000.0 * (1.0 - 10.0 / n)) / 10.0 if n > 10 else 0.0
    if p <= 0.0:
        return 0.0, min(values), n - 1
    rank = max(1, math.ceil(p / 100.0 * n))
    return p, sorted(values)[rank - 1], n - rank


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values):
    """The median, or 0 for a layer no op touched."""
    return statistics.median(values) if values else 0.0


def covered(interval, others):
    """Length of `interval` that the union of `others` covers."""
    lo, hi = interval
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in others if a < hi and b > lo)
    total, end = 0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part its direct children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - covered((s["start_us"], s["end_us"]), kids.get(s["id"], []))
            for s in spans}
