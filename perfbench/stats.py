"""The benchmark's arithmetic: latency summaries and throughput."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (value, percentile): the value is the (beyond+1)-th largest
    sample, so exactly ``beyond`` samples lie beyond it (ties aside).
    Needs more than ``beyond`` samples.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    return sorted(samples)[n - beyond - 1], 100.0 * (n - beyond) / n


def slice_rate(ops: list[tuple[float, float]], start: float, stop: float,
               n_slices: int) -> float:
    """Median over ``n_slices`` equal slices of [start, stop) of the ops
    completed per second in each slice.

    Each op is a (begin, end) interval and counts in a slice by the share
    of its interval that falls inside it, so a slice holding 33.5 ops
    reads 33.5, not 33 or 34. One slow burst moves one slice, not the
    median.
    """
    if stop <= start or n_slices < 1:
        raise ValueError("empty interval")
    width = (stop - start) / n_slices
    done = [0.0] * n_slices
    for b, e in ops:
        if e <= b:
            continue
        first = max(0, int((b - start) // width))
        last = min(n_slices - 1, int((e - start) // width))
        for i in range(first, last + 1):
            lo = max(b, start + i * width)
            hi = min(e, start + (i + 1) * width)
            if hi > lo:
                done[i] += (hi - lo) / (e - b)
    return statistics.median(done) / width
