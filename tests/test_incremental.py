"""Incremental partition-wise mart refresh == full rebuild.

Build the full mart, corrupt one month's partition, refresh ONLY that
month, and check (a) the slice equals the full-build slice, (b) untouched
partitions' files were not rewritten."""

from __future__ import annotations

import pytest

import datetime as dt
import os

from pyspark.sql import functions as F

from credit_abs_oltp_to_mart_spark.operators.marts import MARTS
from credit_abs_oltp_to_mart_spark.plans import incremental
from credit_abs_oltp_to_mart_spark.plans.pipeline import run_pipeline
from credit_abs_oltp_to_mart_spark.sources.writers import write_mart
from tests.conftest import BAND_MONTHS


def _files(path: str) -> set[str]:
    out = set()
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                out.add(os.path.join(root, n))
    return out


def _pick_mid_month(df, col="month") -> dt.date:
    months = sorted(r[0] for r in df.select(col).distinct().collect())
    return months[len(months) // 2]


def test_refresh_npl_month_equals_full_build(spark, oltp_dir, marts, tmp_path):
    out = str(tmp_path / "marts")
    full = marts["fct_npl_monthly"]
    write_mart(full, out, "fct_npl_monthly")
    target = _pick_mid_month(full)

    before = _files(f"{out}/fct_npl_monthly.parquet")
    refreshed = incremental.refresh_npl_monthly(spark, oltp_dir, out, [target])
    after = _files(f"{out}/fct_npl_monthly.parquet")

    # only the target month's files changed
    changed_dirs = {
        os.path.dirname(p) for p in before.symmetric_difference(after)
    }
    assert changed_dirs == {
        f"{out}/fct_npl_monthly.parquet/month={target.isoformat()}"
    }

    # refreshed slice == full-build slice (both from the same sources)
    cols = ["month", "product_type", "currency"]
    exp = full.where(F.col("month") == target)
    got = spark.read.parquet(f"{out}/fct_npl_monthly.parquet").where(
        F.col("month").cast("date") == target
    )
    exp_rows = sorted(
        tuple(r)
        for r in exp.select(*cols, F.col("npl_ratio").cast("double")).collect()
    )
    got_rows = sorted(
        tuple(r)
        for r in got.select(
            F.col("month").cast("date").alias("month"),
            "product_type",
            "currency",
            F.col("npl_ratio").cast("double"),
        ).collect()
    )
    assert exp_rows == got_rows
    assert refreshed.count() == len(exp_rows)


def test_refresh_roll_rate_month_equals_full_build(spark, oltp_dir, marts, tmp_path):
    out = str(tmp_path / "marts")
    full = marts["fct_roll_rate_monthly"]
    write_mart(full, out, "fct_roll_rate_monthly")
    target = _pick_mid_month(full)

    incremental.refresh_roll_rate_monthly(spark, oltp_dir, out, [target])

    cols = ["month", "prev_bucket", "curr_bucket", "loans_cnt"]
    exp = sorted(
        tuple(r) for r in full.where(F.col("month") == target).select(*cols).collect()
    )
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/fct_roll_rate_monthly.parquet")
        .where(F.col("month").cast("date") == target)
        .select(
            F.col("month").cast("date").alias("month"),
            "prev_bucket",
            "curr_bucket",
            "loans_cnt",
        )
        .collect()
    )
    assert exp == got


def _read_mart_as(spark, path, like):
    """Read a written mart back with ``like``'s column order and dtypes
    (hive partition columns come back last and possibly re-typed)."""
    dtypes = dict(like.dtypes)
    return spark.read.parquet(path).select(
        *[F.col(c).cast(dtypes[c]).alias(c) for c in like.columns]
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("seed", [7, 101])
def test_refresh_every_band_month_equals_full_build(spark, band_lake, tmp_path, seed):
    """The nightly entrypoint, month after month: refresh each band month
    across all 7 marts in place on a full build, and every mart must still
    row-equal the full build (refresh == rebuild for the refreshed slice,
    identity for the rest) — including fct_vintage_mob, whose quarter
    cohorts mix snapshot months M-3 .. M+3 in the cells month M feeds."""
    lake, out = band_lake(seed), str(tmp_path / "marts")
    full = run_pipeline(spark, lake, out_dir=out)
    want = {name: _rows(full[name]) for name in MARTS}
    cache = spark._jsparkSession.sharedState().cacheManager()
    entries = cache.numCachedEntries()

    for month in BAND_MONTHS:
        before = _files(out)
        refreshed = incremental.refresh_month(spark, lake, out, [month])
        assert set(refreshed) == set(MARTS)
        assert cache.numCachedEntries() == entries, month  # staged inputs released
        # the refresh actually recomputed rows for the month (an all-no-op
        # refresh would pass the equality below vacuously): a partition
        # gets new files only when it has rows
        rewritten = {os.path.relpath(os.path.dirname(p), out)
                     for p in _files(out) - before}
        for part in (f"fct_dpd_daily.parquet/as_of_month={month}",
                     f"fct_npl_monthly.parquet/month={month}",
                     f"fct_roll_rate_monthly.parquet/month={month}"):
            assert part in rewritten, (part, rewritten)
        assert any(d.startswith("fct_vintage_mob.parquet/") for d in rewritten)
        for name in MARTS:
            got = _read_mart_as(spark, f"{out}/{name}.parquet", full[name])
            assert _rows(got) == want[name], (name, month)


def test_refresh_vintage_untouched_cohort_files_not_rewritten(
    spark, oltp_dir, marts, tmp_path
):
    """Vintage refresh must rewrite ONLY the cohort_q partitions month M
    touches; cohorts fully on-book before the window keep their files."""
    out = str(tmp_path / "marts")
    full = marts["fct_vintage_mob"]
    write_mart(full, out, "fct_vintage_mob")
    target = _pick_mid_month(marts["fct_npl_monthly"])

    before = _files(f"{out}/fct_vintage_mob.parquet")
    cells = incremental.refresh_vintage_mob(spark, oltp_dir, out, [target])
    after = _files(f"{out}/fct_vintage_mob.parquet")

    touched = {
        f"{out}/fct_vintage_mob.parquet/cohort_q={r['cohort_q'].isoformat()}"
        for r in cells.select("cohort_q").distinct().collect()
    }
    changed_dirs = {
        os.path.dirname(p) for p in before.symmetric_difference(after)
    }
    assert changed_dirs and changed_dirs <= touched
    # and the merged mart still equals the full build
    got = _read_mart_as(spark, f"{out}/fct_vintage_mob.parquet", full)
    assert _rows(got) == _rows(full)


def test_refresh_vintage_cell_mixing_is_real(spark, staging):
    """Guard the premise the vintage key merge and its +-3-month window
    exist for: at least one (cohort_q, mob) cell in this dataset
    aggregates snapshots from DIFFERENT calendar months (quarter cohorts
    mix three origination months). If the generator ever made cohorts
    month-grained, the naive month-only vintage refresh would become valid
    and this test flags the refresh design for simplification."""
    from credit_abs_oltp_to_mart_spark.functions.dates import (
        months_on_book,
        quarter_start,
    )
    from credit_abs_oltp_to_mart_spark.operators import marts as M

    snap = M.int_month_end_snapshot(staging["stg_arrears_daily"])
    loans = staging["stg_loan_contract"].select("loan_id", "origination_date")
    mixing = (
        snap.join(F.broadcast(loans), "loan_id")
        .select(
            quarter_start("origination_date").alias("cohort_q"),
            months_on_book(F.col("month"), F.col("origination_date")).alias(
                "mob"
            ),
            "month",
        )
        .where(F.col("mob") >= 0)
        .groupBy("cohort_q", "mob")
        .agg(F.countDistinct("month").alias("n_months"))
        .where(F.col("n_months") > 1)
        .count()
    )
    assert mixing > 0
