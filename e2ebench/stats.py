"""Percentiles the benchmark is allowed to report.

A median and a mean are always reported. A tail percentile is reported
only when at least ten samples lie beyond it; otherwise the run did not
measure it.
"""

import statistics

MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def mean(values):
    return statistics.fmean(values) if values else None


def tail_beyond(values, beyond=MIN_BEYOND):
    """The highest percentile with `beyond` samples past it, as (q, value).

    That is the (beyond + 1)-th largest sample; None when there are fewer.
    """
    n = len(values)
    if n <= beyond:
        return None
    return (n - beyond) / n, sorted(values)[n - beyond - 1]
