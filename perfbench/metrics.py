"""Metric arithmetic: pure functions of measured op times and counts, so a
synthetic op-time list can test them (tests/test_perfbench.py). Nothing
here reads a clock, a schedule or a configured rate."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest of p75/p90/p95/p99 that leaves at least
    ten samples beyond it, or None when not even p75 does (< 40 ops)."""
    n = len(xs)
    best = None
    for p in (75, 90, 95, 99):
        if n * (100 - p) / 100 >= TAIL_MIN_BEYOND:
            best = (p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1])
    return best


def job_median_sum(values: list[tuple[str, float]]) -> float:
    """Sum over jobs of the median of each job's values, given as (job,
    value): the figure for one round, which is one op of every job."""
    by_job: dict[str, list[float]] = {}
    for job, v in values:
        by_job.setdefault(job, []).append(v)
    return sum(median(v) for v in by_job.values())


def round_figures(ops: list[tuple[str, float, int]]) -> tuple[float, float]:
    """(round cost, items / cost) for one run's timed ops, each given as
    (job, measured cost, items).

    The round cost is each job's median op cost, summed over jobs. The
    rate divides the items the ops did by the SUM of their measured costs,
    so it moves exactly inversely with op cost."""
    if not ops:
        raise ValueError("no timed ops")
    return (job_median_sum([(job, cost) for job, cost, _ in ops]),
            sum(n for _, _, n in ops) / sum(c for _, c, _ in ops))
