"""Statistics the benchmark reports: percentiles, failure accounting and
span arithmetic. Kept free of I/O so `test_stats.py` can check it alone."""
import math


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(values, p):
    """How many samples lie strictly above the p-th percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def tail_percentile(n, candidates=(99, 95, 90, 75, 50), min_beyond=10):
    """The highest candidate percentile that n samples support with at
    least `min_beyond` samples above it, or None when none does."""
    for p in candidates:
        if n - max(1, math.ceil(p / 100.0 * n)) >= min_beyond:
            return p
    return None


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


class Ledger:
    """Counts ops attempted and failed over one run.

    A run plans its ops in whole cycles. Each op is recorded as done
    (with its latency), wrong (it ran but its result failed the check)
    or failed (it raised). When the program dies mid-cycle, `crash`
    counts every op still planned in that cycle as attempted and failed.
    Only ops that completed with a correct result contribute latencies.
    """

    def __init__(self):
        self.latencies = []
        self.attempted = 0
        self.failed = 0

    def done(self, latency_ms, correct=True):
        self.attempted += 1
        if correct:
            self.latencies.append(latency_ms)
        else:
            self.failed += 1

    def crash(self, remaining):
        self.attempted += remaining
        self.failed += remaining

    @property
    def failed_frac(self):
        return self.failed / self.attempted if self.attempted else 1.0


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - union_length(children, start, end)
