"""Summaries of timing samples, and the seeded draws every workload uses.

Everything here is pure Python with no Spark import, so the unit tests in
``creditbench/tests`` run without a session.
"""

from __future__ import annotations

import math
import random
import statistics
from collections.abc import Sequence


def median(values: Sequence[float]) -> float:
    """Median of a non-empty sample."""
    if not values:
        raise ValueError("median of an empty sample")
    return float(statistics.median(values))


def mean_of_group_minima(values: Sequence[float], groups: Sequence) -> float:
    """Mean over the groups of each group's minimum, where ``groups[i]``
    names the group of ``values[i]``: every group weighs the same however
    many samples it has."""
    if not values or len(values) != len(groups):
        raise ValueError("need one group name per value, and at least one value")
    by_group: dict = {}
    for v, g in zip(values, groups):
        by_group.setdefault(g, []).append(v)
    return float(statistics.fmean(min(vs) for vs in by_group.values()))


def counters_since(before: dict, after: dict) -> float:
    """CPU used between two per-thread counter snapshots: each thread's
    growth, a thread started in between counting from 0. A thread that
    ended in between drops out, with the little it ran in between."""
    return float(sum(v - before.get(k, 0) for k, v in after.items()))


def percentile(values: Sequence[float], q: float) -> float:
    """Percentile ``q`` (0-100) by linear interpolation between closest
    ranks, the NumPy default; a single sample is its own percentile."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0-100")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def refresh_months(seed: int, months: Sequence, k: int) -> list:
    """``k`` distinct months drawn by ``seed`` from ``months`` (the months
    that hold data), in draw order. The refresh workload cycles through
    them."""
    pool = sorted(months)
    if not pool:
        raise ValueError("no months to draw from")
    return random.Random(f"refresh:{seed}").sample(pool, min(k, len(pool)))


READ_KINDS = (
    "npl_trend",
    "roll_rate_matrix",
    "cure_rate_year",
    "vintage_curve",
    "loan_dpd_history",
    "exposure_by_bucket",
)


def read_params(seed: int, domains: dict, per_kind: int) -> list[tuple[str, tuple]]:
    """The analyst query pool: ``per_kind`` parameter draws for each kind
    in ``READ_KINDS``, interleaved kind by kind so any prefix of the pool
    mixes every kind evenly.

    ``domains`` holds the sorted values each parameter is drawn from:
    ``months`` (month starts with data), ``years``, ``cohorts``,
    ``days`` and ``loans`` as ``(loan_id, first_month, last_month)``."""
    rng = random.Random(f"reads:{seed}")
    rounds = []
    for _ in range(per_kind):
        loan_id, first, last = rng.choice(domains["loans"])
        loan_months = [m for m in domains["months"] if first <= m <= last]
        rounds.append([
            ("npl_trend", (rng.choice(domains["months"]),)),
            ("roll_rate_matrix", (rng.choice(domains["months"]),)),
            ("cure_rate_year", (rng.choice(domains["years"]),)),
            ("vintage_curve", (rng.choice(domains["cohorts"]),)),
            ("loan_dpd_history", (loan_id, rng.choice(loan_months or [first]))),
            ("exposure_by_bucket", (rng.choice(domains["days"]),)),
        ])
    return [q for r in rounds for q in r]


def read_round(pool: Sequence, i: int) -> list:
    """The reads of iteration ``i``: one query of each kind, taking the
    pool's rounds in turn."""
    rounds = len(pool) // len(READ_KINDS)
    k = i % rounds
    return list(pool[k * len(READ_KINDS):(k + 1) * len(READ_KINDS)])


def normalize_rows(rows) -> list[tuple]:
    """Rows as sorted tuples, floats cut to 10 significant digits, so two
    answers that differ only in summation order compare equal."""
    def cell(v):
        if isinstance(v, float):
            return float(f"{v:.10g}")
        return v

    return sorted(
        (tuple(cell(v) for v in r) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
