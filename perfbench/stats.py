"""Order statistics and the crawl's commit-clock arithmetic.

Pure functions over plain numbers, so the rules the metrics rest on are
unit-tested without a Spark session.
"""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition that
    numpy calls 'linear'); p in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> dict | None:
    """The highest candidate percentile with at least TAIL_MIN_BEYOND
    samples beyond it, or None when there are too few
    samples for any of them."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) >= TAIL_MIN_BEYOND * 100.0:
            return {"percentile": p, "value": percentile(values, p), "n": n}
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def crawl_clock(t_call: float, t_start: float, t_end: float,
                commits: list[tuple[int, float]],
                scheduled: dict[int, int]) -> dict:
    """Crawl end-to-end figures from the commit clock.

    t_start: before seed_frontier; t_call: the crawl() call;
    t_end: crawl() returned; commits: (round, time) in commit order;
    scheduled: round -> URLs scheduled (and fetched) in that round.

    Round intervals are commit-to-commit for rounds >= 1; the steady
    window runs from round 0's commit to the last commit and counts the
    URLs of the rounds it contains.
    """
    if not commits or commits[0][0] != 0:
        raise ValueError("crawl committed no round 0")
    by_round = dict(commits)
    rounds = sorted(by_round)
    if rounds != list(range(len(rounds))):
        raise ValueError(f"commit rounds not contiguous: {rounds}")
    total = sum(scheduled[r] for r in rounds)
    out = {
        "wall_s": t_end - t_start,
        "urls": total,
        "urls_per_s": total / (t_end - t_start),
        "first_commit_s": by_round[0] - t_call,
        "round_s": [by_round[r] - by_round[r - 1] for r in rounds[1:]],
    }
    if len(rounds) > 1:
        window = by_round[rounds[-1]] - by_round[0]
        out["steady_urls_per_s"] = sum(scheduled[r] for r in rounds[1:]) / window
    return out


def overlap(a: tuple[float, float], b: tuple[float, float]) -> float:
    """Length of the intersection of two closed intervals."""
    return max(0.0, min(a[1], b[1]) - max(a[0], b[0]))
