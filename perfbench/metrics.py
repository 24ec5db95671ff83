"""Arithmetic of the benchmark: medians, the tail-percentile rule,
interval unions, span self time, and ratios with their bases.

Pure Python with no Spark and no DuckDB, so `test_bench.py` can check
it on its own."""


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no values")
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(xs, min_beyond=10):
    """The highest percentile in TAIL_CANDIDATES that has at least
    `min_beyond` samples above its rank. Returns (percentile, value,
    samples); percentile is None when even the median has fewer than
    `min_beyond` samples beyond it, and the value is then the maximum."""
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no values")
    for p in TAIL_CANDIDATES:
        rank = -(-n * p // 100)
        if n - rank >= min_beyond:
            return p, percentile(xs, p), n
    return None, max(xs), n


def frac(num, den):
    """A ratio reported with its base: (num / den, num, den); the ratio
    is 0.0 when the base is 0."""
    return (num / den if den else 0.0), num, den


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    return sum(e - s for s, e in merged(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def covered_by(intervals, cover):
    """Length of the union of `intervals` that `cover` also covers."""
    a, b = merged(intervals), merged(cover)
    i = j = 0
    total = 0.0
    while i < len(a) and j < len(b):
        lo, hi = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if hi > lo:
            total += hi - lo
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return total


def merged(intervals):
    out = []
    for s, e in sorted((float(a), float(b)) for a, b in intervals if b > a):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. `spans` are dicts with id,
    parent, start_s and end_s; returns {id: self_s}."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    out = {}
    for s in spans:
        kids = clip(children.get(s["id"], []), s["start_s"], s["end_s"])
        out[s["id"]] = (s["end_s"] - s["start_s"]) - union_length(kids)
    return out


def by_name(spans, self_s=None):
    """Total duration per span name; with `self_s`, total self time."""
    out = {}
    for s in spans:
        v = self_s[s["id"]] if self_s is not None else s["end_s"] - s["start_s"]
        out[s["name"]] = out.get(s["name"], 0.0) + v
    return out
