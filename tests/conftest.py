"""Shared fixtures: one SparkSession and one generated OLTP lake per session.

The generated lake (seed=42, pinned date bounds for determinism) is written
to a tmp dir once and read back by tests — the same flow a user runs.
"""

from __future__ import annotations

from dataclasses import replace
from datetime import date

import pytest

from credit_abs_oltp_to_mart_spark.generator import OLTPSynthConfig, run_credit_oltp_synth
from credit_abs_oltp_to_mart_spark.plans.pipeline import build_marts, build_staging
from credit_abs_oltp_to_mart_spark.session import get_spark
from credit_abs_oltp_to_mart_spark.sources.readers import read_oltp_table

TEST_CFG = OLTPSynthConfig(
    n_borrowers=200,
    n_applications=300,
    n_loans=150,
    start_date_max=date(2025, 12, 31),  # pin so tests don't move with the clock
    seed=42,
)
# the benchmark's lake shape at half its volume: a year of originations
# with terms of up to a year, so its last six months each carry a full book
# of loans (and, for seeds 7 and 101, a write-off)
BAND_CFG = replace(
    TEST_CFG,
    start_date_min=date(2025, 7, 1),
    start_date_max=date(2026, 6, 30),
    max_term_months=12,
)
BAND_MONTHS = [date(2026, m, 1) for m in range(1, 7)]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(scope="session")
def oltp_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("oltp_lake"))
    run_credit_oltp_synth(spark, TEST_CFG, out_dir=out)
    return out


@pytest.fixture(scope="session")
def oltp(spark, oltp_dir):
    from credit_abs_oltp_to_mart_spark.schemas import ALL_OLTP_TABLES

    return {t: read_oltp_table(spark, oltp_dir, t) for t in ALL_OLTP_TABLES}


@pytest.fixture(scope="session")
def staging(oltp):
    return build_staging(oltp)


@pytest.fixture(scope="session")
def marts(staging):
    return build_marts(staging)


@pytest.fixture(scope="session")
def band_lake(spark, tmp_path_factory):
    """``band_lake(seed)``: the ``BAND_CFG`` lake for ``seed``, generated on
    first use."""
    made: dict[int, str] = {}

    def lake(seed: int) -> str:
        if seed not in made:
            made[seed] = str(tmp_path_factory.mktemp(f"band_lake_{seed}"))
            run_credit_oltp_synth(spark, replace(BAND_CFG, seed=seed), out_dir=made[seed])
        return made[seed]

    return lake
