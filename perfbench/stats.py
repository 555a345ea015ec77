"""The benchmark's arithmetic: percentiles, the tail rule, interval
unions, span self time and the spread used to judge steadiness. Pure
functions over plain lists, tested in perfbench/tests/test_stats.py."""
import math
import statistics

# the tail percentile is the highest of these with >= TAIL_BEYOND samples beyond it
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def beyond(n, p):
    """Samples ranked above the p-th percentile position of n samples."""
    return n - math.ceil(n * p / 100.0)


def tail(values):
    """(value, percentile, samples beyond it, rule met). The highest
    ladder percentile with at least TAIL_BEYOND samples beyond it; with
    fewer than 2 * TAIL_BEYOND samples no percentile qualifies and the
    median is reported with the rule marked unmet."""
    n = len(values)
    for p in TAIL_LADDER:
        if beyond(n, p) >= TAIL_BEYOND:
            return percentile(values, p), p, beyond(n, p), True
    return percentile(values, 50.0), 50.0, beyond(n, 50.0), False


def interval_union(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
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


def self_times(op_ms, spans):
    """Self time per span of one operation: its duration minus its
    direct children's. `spans` are dicts with id, parent (-1 = the
    operation), name, start_ms, end_ms. The operation's own self time
    (its wall time minus its top-level spans) is keyed by id -1."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end_ms"] - s["start_ms"])
    out = {-1: op_ms - child.get(-1, 0.0)}
    for s in spans:
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - child.get(s["id"], 0.0)
    return out


def failed_frac(attempted, failed):
    """Share of attempted operations that threw or failed their check."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    return failed / attempted


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def median(values):
    return statistics.median(values) if values else 0.0
