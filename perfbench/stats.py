"""The benchmark's own statistics (tested in ``test_stats.py``)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def median(xs: Iterable[float]) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, int, int]:
    """The highest whole percentile with at least ``beyond`` samples
    above it, as ``(value, percentile, samples_beyond)``.

    Percentiles are nearest-rank: the p-th is the ``ceil(p*n/100)``-th
    smallest sample, and the samples beyond it are the ``n - rank``
    larger ones. With ``n <= beyond`` no percentile qualifies; the
    maximum is returned as percentile 100 with 0 samples beyond, so a
    short run still reports a value and says how thin it is.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= beyond:
            return s[rank - 1], p, n - rank
    return s[-1], 100, 0


def geomean(xs: Iterable[float]) -> float:
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def geomean_of_medians(by_kind: Mapping[str, Sequence[float]]) -> float:
    """Geometric mean, over op kinds, of each kind's median latency —
    every kind weighs the same however often it ran."""
    return geomean(median(v) for v in by_kind.values() if v)


def failed_frac(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return failed / attempted
