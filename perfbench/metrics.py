"""Metric arithmetic for the benchmark, kept apart from the harness so it
can be tested on its own (`python3 -m unittest discover perfbench`).

Times are in the unit the caller passes; intervals are (start, end) pairs.
"""
import math
import statistics


def median(values):
    """Median with its sample count."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values), len(values)


def percentile(values, q, min_beyond=10):
    """Nearest-rank q-quantile with its sample count.

    A tail percentile (q > 0.5) is refused unless at least `min_beyond`
    samples lie beyond it: with fewer, it is an extreme value, not a
    percentile.
    """
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q * n))
    if q > 0.5 and n - rank < min_beyond:
        raise ValueError(f"p{q * 100:g} needs {min_beyond} samples beyond it; "
                         f"{n} samples leave {n - rank}")
    return xs[rank - 1], n


def freshness(commits, first, last, live_at, per_version):
    """Per source version, the time from when it came due to the return of
    the first watermark commit that covers it.

    `commits` are (watermark version, return time) in commit order; version
    v came due at live_at + (v - first + 1) * per_version. Versions no
    commit covers are left out.
    """
    out = []
    i = 0
    for v in range(first, last + 1):
        while i < len(commits) and commits[i][0] < v:
            i += 1
        if i == len(commits):
            break
        due = live_at + (v - first + 1) * per_version
        out.append(commits[i][1] - due)
    return out


def covered(start, end, intervals):
    """Length of [start, end) covered by the union of `intervals`, which may
    overlap each other and reach outside the window."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if e > start and s < end)
    total = 0
    cur_s = cur_e = None
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


def uncovered(window, busy):
    """Time in `window` when none of the `busy` intervals ran. For a span
    and its child spans this is the span's self time; for a batch and its
    Spark jobs, the time only the Spark driver was working."""
    s, e = window
    return (e - s) - covered(s, e, busy)
