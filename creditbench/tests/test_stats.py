import datetime as dt
import random

import pytest

import stats

MONTHS = [dt.date(2025, m, 1) for m in range(1, 13)]
DOMAINS = {
    "months": MONTHS,
    "years": [2025],
    "cohorts": [dt.date(2025, 1, 1), dt.date(2025, 4, 1)],
    "days": [dt.date(2025, 1, d) for d in range(1, 29)],
    "loans": [(7, MONTHS[0], MONTHS[5]), (9, MONTHS[3], MONTHS[11])],
}


def test_median_and_percentile():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.median(xs) == 3.0
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile([7.0], 90) == 7.0


def test_mean_of_group_minima_weighs_groups_equally():
    xs = [3.0, 2.0, 9.0, 10.0, 12.0, 11.0, 100.0]
    kinds = ["a", "a", "a", "b", "b", "b", "b"]
    assert stats.mean_of_group_minima(xs, kinds) == pytest.approx((2.0 + 10.0) / 2)
    assert stats.mean_of_group_minima([4.0], ["a"]) == 4.0


def test_counters_since_counts_new_threads_and_drops_ended_ones():
    before = {"1": 100, "2": 50, "python": 75}
    after = {"1": 130, "3": 20, "python": 95}
    assert stats.counters_since(before, after) == 30 + 20 + 20


def test_summaries_reject_empty_samples():
    with pytest.raises(ValueError):
        stats.median([])
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)
    with pytest.raises(ValueError):
        stats.mean_of_group_minima([], [])
    with pytest.raises(ValueError):
        stats.mean_of_group_minima([1.0], ["a", "b"])


def test_one_seed_gives_the_same_refresh_months():
    a = stats.refresh_months(5, MONTHS, 4)
    assert a == stats.refresh_months(5, list(reversed(MONTHS)), 4)
    assert len(set(a)) == 4 and set(a) <= set(MONTHS)
    assert any(stats.refresh_months(s, MONTHS, 4) != a for s in range(6, 12))


def test_refresh_months_caps_at_the_months_there_are():
    assert sorted(stats.refresh_months(1, MONTHS[:2], 4)) == MONTHS[:2]
    with pytest.raises(ValueError):
        stats.refresh_months(1, [], 4)


def test_one_seed_gives_the_same_read_parameters():
    a = stats.read_params(3, DOMAINS, 2)
    assert a == stats.read_params(3, DOMAINS, 2)
    assert any(stats.read_params(s, DOMAINS, 2) != a for s in range(4, 10))
    # every round holds one query of each kind, in READ_KINDS order
    assert [k for k, _ in a] == list(stats.READ_KINDS) * 2


def test_read_rounds_cycle_through_the_pool():
    pool = stats.read_params(3, DOMAINS, 2)
    assert stats.read_round(pool, 0) == pool[:6]
    assert stats.read_round(pool, 1) == pool[6:]
    assert stats.read_round(pool, 2) == pool[:6]


def test_loan_history_month_lies_in_the_loans_life():
    for seed in range(20):
        for kind, params in stats.read_params(seed, DOMAINS, 3):
            if kind == "loan_dpd_history":
                loan, month = params
                _, first, last = next(x for x in DOMAINS["loans"] if x[0] == loan)
                assert first <= month <= last


def test_normalized_rows_ignore_order_and_summation_noise():
    rows = [(1, "a", 0.1 + 0.2), (2, None, 1.5), (0, "b", None)]
    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    assert stats.normalize_rows(rows) == stats.normalize_rows(shuffled)
    assert stats.normalize_rows([(1, "a", 0.3)]) == stats.normalize_rows([(1, "a", 0.1 + 0.2)])
    assert stats.normalize_rows([(1, "a", 0.3)]) != stats.normalize_rows([(1, "a", 0.31)])
