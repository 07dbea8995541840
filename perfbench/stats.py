"""Statistics the benchmark reports: medians, the tail percentile rule,
interval unions and span self time. Pure functions, unit-tested in
test_perfbench.py."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above
    it: (value, percentile, sample count), or None when the sample is too
    small to support one (n <= beyond)."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    i = n - beyond - 1
    return s[i], 100.0 * (i + 1) / n, n


def tail_ms(xs):
    """The reported tail: the `tail` value, but never below the median.
    Up to 20 samples the rule reaches under the median (or, at 10 or
    fewer, finds no percentile at all) and the median is reported.
    Returns (value, label), the label naming the percentile."""
    t = tail(xs)
    if t is None or t[0] < median(xs):
        return median(xs), "p50"
    return t[0], f"p{t[1]:.1f}"


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. `spans` are dicts with id, parent,
    start_us and end_us; returns {id: self_us}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        covered = union_length(
            (max(c["start_us"], a), min(c["end_us"], b))
            for c in children.get(s["id"], ())
            if c["end_us"] > a and c["start_us"] < b)
        out[s["id"]] = (b - a) - covered
    return out


def spread(xs):
    """Distance between the first and third quartile as a share of the
    median, as the acceptance check computes it."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
