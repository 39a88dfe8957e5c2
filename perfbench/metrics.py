"""Metric math for the benchmark: medians, tail percentiles, span self time
and failure shares. Kept free of I/O so perfbench/test_metrics.py can pin it."""

import math
import statistics


def median(values):
    """Median of a non-empty sequence; the mean of the two middle values
    when the count is even."""
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def tail_percentile(values, min_beyond=10, candidates=(99.9, 99, 95, 90, 75)):
    """The highest candidate percentile with at least `min_beyond` samples
    strictly above its rank, as (percentile, value); None when even the
    lowest candidate has too few samples beyond it. Nearest-rank method."""
    s = sorted(values)
    n = len(s)
    for p in candidates:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, s[rank - 1]
    return None


def self_time(span, children):
    """Seconds of `span` not covered by any of its `children`. Spans are
    (start, end) pairs; children may overlap each other and may stick out
    of the parent, so their union is clipped to the parent first."""
    start, end = span
    clipped = sorted((max(s, start), min(e, end)) for s, e in children if e > start and s < end)
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def failed_frac(attempted, failed):
    """Failed operations as a share of attempted ones."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted

