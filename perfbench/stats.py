"""The benchmark's own arithmetic: medians, the tail-percentile rule,
span self time and the failure share. Kept free of I/O so it is tested
on its own (test_stats.py)."""
import math

# Tail percentiles considered, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples (the epsilon
    keeps e.g. 99.9% of 10000 at rank 9990 despite float rounding)."""
    return max(1, math.ceil(p * n / 100 - 1e-9))


def nearest_rank(xs, p):
    """The p-th percentile by the nearest-rank method."""
    xs = sorted(xs)
    k = _rank(p, len(xs))
    return xs[k - 1]


def tail_percentile(n):
    """The highest ladder percentile that leaves at least MIN_BEYOND of
    ``n`` samples strictly beyond it; 50 when even the median does not."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return 50.0


def tail(xs):
    """(value, percentile) of the tail-percentile rule over ``xs``."""
    p = tail_percentile(len(xs))
    return nearest_rank(xs, p), p


def failure_share(attempted, failed):
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must be between 0 and attempted")
    return failed / attempted


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover (children clipped to the parent).
    ``spans`` are dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        inner = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        inner = [(a, b) for a, b in inner if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - covered(inner)
    return out


def adopt_orphans(spans, phase_kinds=("build", "plan", "exec")):
    """Give spans without a parent (-1) the innermost phase span that
    contains their start, in place; spans outside every phase stay -1."""
    phases = sorted((s for s in spans if s["kind"] in phase_kinds),
                    key=lambda s: s["start"])
    for s in spans:
        if s["parent"] != -1 or s["kind"] in phase_kinds or s["kind"] == "op":
            continue
        best = None
        for p in phases:
            if p["start"] <= s["start"] <= p["end"] and (
                    best is None or p["start"] >= best["start"]):
                best = p
        if best is not None:
            s["parent"] = best["id"]
    return spans

