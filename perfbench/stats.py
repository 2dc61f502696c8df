"""Statistics shared by run.py and the self-tests."""
import math

LADDER = (50.0, 90.0, 99.0, 99.9)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        return float("nan")
    return s[_rank(len(s), p) - 1]


def _rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples (the small
    epsilon keeps 99.9% of 10000 at rank 9990 despite float rounding)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - _rank(n, p)


def highest_percentile(n, min_beyond=10):
    """The highest percentile of LADDER with at least `min_beyond` samples
    beyond it, or None when even the median has fewer."""
    ok = [p for p in LADDER if beyond(n, p) >= min_beyond]
    return max(ok) if ok else None


def median(values):
    s = sorted(values)
    if not s:
        return float("nan")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def geomean(values):
    v = [x for x in values if x > 0]
    return math.exp(sum(math.log(x) for x in v) / len(v)) if v else float("nan")


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children count
    once). `spans` are dicts with id, parent, start_ns and end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered, cur = 0, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(a, c["start_ns"]), min(b, c["end_ns"])
            if hi <= lo:
                continue
            if cur is None or lo > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [lo, hi]
            else:
                cur[1] = max(cur[1], hi)
        if cur:
            covered += cur[1] - cur[0]
        out[s["id"]] = (b - a) - covered
    return out
