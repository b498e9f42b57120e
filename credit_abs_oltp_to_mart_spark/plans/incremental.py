"""Incremental (partition-wise) mart refresh.

The reference rebuilds every mart with `dbt run` full-refresh (no
`is_incremental()` anywhere). That is fine at 1,500 loans and fatal at
100 TB: one new day of `arrears_dpd_status` would recompute years of
history. ``refresh_month`` is the lakehouse-standard alternative:

1. stage each source ONCE, reading only the source months the refreshed
   marts need (row-group pruning through pushed date ranges);
2. build the marts from them with the same ``build_marts`` — the same
   ``operators.marts`` functions — as the full build;
3. keep only the rows the refreshed months own, and replace just those
   output partitions via dynamic partition overwrite
   (`spark.sql.sources.partitionOverwriteMode=dynamic`) — untouched
   partitions keep their files.

Correctness boundary: each mart's ``window`` in ``operators.marts.MARTS``,
the source months around a refreshed month M that M's rows read.

- `fct_dpd_daily`, `fct_npl_monthly`, `fct_collections_monthly`: (0, 0),
  month rows depend only on same-month source rows.
- `fct_writeoff_recovery_monthly`: (0, 0) over month(coalesce(
  recovery_date, writeoff_date)). A coalesce cannot reach the parquet
  reader, so the scan reads the pushable superset: either raw date in M.
- `fct_roll_rate_monthly` / `fct_cure_rate_monthly`: (1, 0), month M
  compares against the PREVIOUS OBSERVED month's snapshot, M-1 in a
  gap-free daily feed. A loan with an observation gap longer than the
  window pairs with nothing instead of its last observed month.
- `fct_vintage_mob`: (3, 3). Cohorts are QUARTERS, so one cohort_q
  partition mixes many snapshot months, and a refresh replaces only the
  (cohort_q, mob) cells that draw on M, keeping the partition's other
  cells as written. A cell draws months cohort_q+mob .. cohort_q+mob+3:
  loans originated in the quarter's three months reach mob k in months
  cohort_q+k .. cohort_q+k+2, and ``months_on_book`` floors, so one
  originated after the 1st reaches it a month later still. A cell that
  draws on M therefore starts no earlier than M-3 and ends no later than
  M+3.

Same append-only boundary throughout: source rows of an unrefreshed month
that change leave their marts stale until a full rebuild.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from credit_abs_oltp_to_mart_spark.operators.marts import MARTS
from credit_abs_oltp_to_mart_spark.plans.pipeline import (
    build_marts,
    build_staging,
    release,
)
from credit_abs_oltp_to_mart_spark.sources.readers import read_oltp_table
from credit_abs_oltp_to_mart_spark.sources.writers import write_mart

# the date columns through which a month window reaches each source's scan
_SOURCE_DATES = {
    "arrears_dpd_status": ("as_of_date",),
    "repayment_payment": ("payment_date",),
    "write_off_and_recovery": ("recovery_date", "writeoff_date"),
}

_CACHED = ("stg_arrears_daily", "stg_loan_contract")


def _shift_month(m: dt.date, delta: int) -> dt.date:
    """First-of-month shifted by ``delta`` calendar months."""
    y, mo = divmod(m.year * 12 + (m.month - 1) + delta, 12)
    return dt.date(y, mo + 1, 1)


def _month_filter(col: str, months):
    """Rows whose ``col`` falls in one of ``months``, as plain DATE
    RANGES, not trunc(col).isin(...): a predicate on a FUNCTION of the
    column cannot reach the parquet reader, so the isin form scans every
    row group of a 100 TB arrears table just to refresh one month. Range
    comparisons push down (``PushedFilters:
    [GreaterThanOrEqual(as_of_date,...), LessThan(...)]``, plan-gated in
    test_plan_quality) and row-group min/max stats prune the scan to those
    months."""
    return reduce(or_, [
        (F.col(col) >= F.lit(lo)) & (F.col(col) < F.lit(_shift_month(lo, 1)))
        for lo in sorted({m.replace(day=1) for m in months})
    ])


def _stage(
    spark: SparkSession, src_dir: str, months: list[dt.date],
    names: tuple[str, ...],
) -> dict[str, DataFrame]:
    """The staging models, each source read once over the union of the
    windows the marts ``names`` need around ``months``. The arrears and
    the loans, which most marts read, are cached; the other two feed one
    mart each, and materializing a cache costs a Spark job of its own."""
    need = {table: set(months) for table in _SOURCE_DATES}
    for name in names:
        back, ahead = MARTS[name].window
        need[MARTS[name].source] |= {
            _shift_month(m, d) for m in months for d in range(-back, ahead + 1)
        }
    sources = {
        table: read_oltp_table(spark, src_dir, table).where(
            reduce(or_, [_month_filter(c, need[table]) for c in cols])
        )
        for table, cols in _SOURCE_DATES.items()
    }
    sources["loan_contract"] = read_oltp_table(spark, src_dir, "loan_contract")
    staged = build_staging(sources)
    for name in _CACHED:
        staged[name] = staged[name].cache()
    return staged


def _merge_written(
    spark: SparkSession, fresh: DataFrame, out_dir: str, name: str,
    months: list[dt.date],
) -> DataFrame:
    """``fresh`` plus the written cells of the partitions it rewrites
    that ``months`` do not own."""
    spec = MARTS[name]
    written = (
        spark.read.parquet(f"{out_dir.rstrip('/')}/{name}.parquet")
        .select(*[F.col(c).cast(t).alias(c) for c, t in fresh.dtypes])
        .join(F.broadcast(fresh.select(spec.key).distinct()), spec.key,
              "left_semi")
        .where(~spec.owned(months))
    )
    # localCheckpoint severs lineage: the merged frame is about to
    # OVERWRITE partitions it was just read from
    return written.unionByName(fresh).localCheckpoint()


def _refresh(
    spark: SparkSession, src_dir: str, out_dir: str, months: list[dt.date],
    *names: str,
) -> dict[str, DataFrame]:
    """Recompute the marts ``names`` for ``months`` and overwrite exactly
    the partitions those months own. Returns each mart's refreshed rows."""
    months = sorted({m.replace(day=1) for m in months})
    staged = _stage(spark, src_dir, months, names)
    frames = build_marts(staged)
    mode = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode, "static")
    spark.conf.set(mode, "dynamic")
    out = {}
    try:
        for name in names:
            out[name] = frames[name].where(MARTS[name].owned(months))
            rows = out[name]
            if MARTS[name].merge:
                rows = _merge_written(spark, rows, out_dir, name, months)
            write_mart(rows, out_dir, name)
    finally:
        spark.conf.set(mode, prev)
        release(frames)
        for name in _CACHED:
            staged[name].unpersist()
    return out


def refresh_month(
    spark: SparkSession, src_dir: str, out_dir: str, months: list[dt.date]
) -> dict[str, DataFrame]:
    """The nightly entrypoint: refresh ``months`` across ALL 7 marts — the
    incremental analogue of ``run_pipeline`` (the dbt full-refresh
    analogue). Returns each mart's refreshed rows."""
    return _refresh(spark, src_dir, out_dir, months, *MARTS)


# one mart at a time, through the same path
def refresh_dpd_daily(spark, src_dir, out_dir, months) -> DataFrame:
    return _refresh(spark, src_dir, out_dir, months, "fct_dpd_daily")["fct_dpd_daily"]


def refresh_npl_monthly(spark, src_dir, out_dir, months) -> DataFrame:
    return _refresh(spark, src_dir, out_dir, months, "fct_npl_monthly")["fct_npl_monthly"]


def refresh_roll_rate_monthly(spark, src_dir, out_dir, months) -> DataFrame:
    return _refresh(spark, src_dir, out_dir, months, "fct_roll_rate_monthly")[
        "fct_roll_rate_monthly"]


def refresh_cure_rate_monthly(spark, src_dir, out_dir, months) -> DataFrame:
    return _refresh(spark, src_dir, out_dir, months, "fct_cure_rate_monthly")[
        "fct_cure_rate_monthly"]


def refresh_vintage_mob(spark, src_dir, out_dir, months) -> DataFrame:
    return _refresh(spark, src_dir, out_dir, months, "fct_vintage_mob")["fct_vintage_mob"]


def refresh_collections_monthly(spark, src_dir, out_dir, months) -> DataFrame:
    return _refresh(spark, src_dir, out_dir, months, "fct_collections_monthly")[
        "fct_collections_monthly"]


def refresh_writeoff_recovery_monthly(spark, src_dir, out_dir, months) -> DataFrame:
    return _refresh(spark, src_dir, out_dir, months, "fct_writeoff_recovery_monthly")[
        "fct_writeoff_recovery_monthly"]
