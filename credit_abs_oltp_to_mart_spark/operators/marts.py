"""Marts layer — the 7 reference fact models as DataFrame transforms.

Reference: dbt/credit_mart/models/marts/*.sql. Grains (SURVEY.md §1.3):

- fct_dpd_daily                loan x day          (fct_dpd_daily.sql)
- fct_npl_monthly              month x product x ccy (fct_npl_monthly.sql)
- fct_roll_rate_monthly        month x prev x curr (fct_roll_rate_monthly.sql)
- fct_cure_rate_monthly        month               (fct_cure_rate_monthly.sql)
- fct_vintage_mob              cohort_q x mob      (fct_vintage_mob.sql)
- fct_collections_monthly      month x product x ccy (fct_collections_monthly.sql)
- fct_writeoff_recovery_monthly month              (fct_writeoff_recovery_monthly.sql)

Scale design (100 TB posture, SURVEY.md §4):

- The identical month-end CTE appears verbatim in roll-rate, cure-rate and
  vintage (fct_roll_rate_monthly.sql:1-12 = fct_cure_rate_monthly.sql:1-12 =
  fct_vintage_mob.sql:1-11 modulo columns) — here it is built ONCE
  (``int_month_end_snapshot``) and shared; callers should ``.cache()`` or
  persist it when materializing all marts.
- Both window ops partition by ``loan_id`` (W1 by (loan_id, month), W2 by
  loan_id). ``int_month_end_snapshot`` repartitions the snapshot table by
  ``loan_id`` once; hash-partitioning on ``loan_id`` satisfies the clustered
  distribution of BOTH windows (subset-of-keys rule), so the lag window in
  ``int_bucket_transitions`` runs shuffle-free on top of it. One shuffle of
  the dominant table total.
- The loan dimension is tiny relative to the snapshot fact (1.5k vs O(1e6)
  rows at reference scale; same ratio at 100 TB) — joins J1-J3 are
  broadcast-pinned with ``F.broadcast``.
- ``MARTS`` at the end of this module describes each mart once: its
  function and inputs, its partition column, and the source months one
  refreshed partition reads. The full build (plans/pipeline.py), the
  writer (sources/writers.py) and the month refresh (plans/incremental.py)
  all read it.

Numeric note: Postgres unconstrained ``numeric`` ratios are computed here in
``double`` from exact integer/decimal inputs — IEEE division is deterministic
and engine-portable, while decimal division scale rules differ per engine.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from credit_abs_oltp_to_mart_spark.functions.dates import (
    month_start,
    months_on_book,
    quarter_start,
)


def fct_dpd_daily(stg_arrears_daily: DataFrame, stg_loan_contract: DataFrame) -> DataFrame:
    """fct_dpd_daily.sql:1-14 — snapshot fact enriched with loan dims (J1).

    ``using (loan_id)`` join — Spark's string-key join gives the same
    single-loan_id-column semantics. Loan dim broadcast: the snapshot side
    is the dominant table and must not shuffle for this join.
    """
    l = F.broadcast(
        stg_loan_contract.select(
            "loan_id",
            "borrower_id",
            "product_type",
            "currency",
            "origination_date",
            F.col("principal_current").alias("exposure"),
        )
    )
    return stg_arrears_daily.join(l, "loan_id", "inner").select(
        "as_of_date",
        "loan_id",
        "borrower_id",
        "product_type",
        "currency",
        "origination_date",
        "exposure",
        "days_past_due",
        "dpd_bucket",
        "npl_flag",
        "past_due_amount_total",
    )


def fct_npl_monthly(fct_dpd_daily: DataFrame) -> DataFrame:
    """fct_npl_monthly.sql:1-16 — monthly NPL exposure and ratio (A1, A2, P8).

    Exposure is summed over loan-DAYS (every daily row contributes), exactly
    as the reference aggregates fct_dpd_daily — not a month-end-only sum
    (SURVEY.md §7f).
    """
    m = fct_dpd_daily.groupBy(
        month_start("as_of_date").alias("month"),
        "product_type",
        "currency",
    ).agg(
        F.sum("exposure").alias("total_exposure"),
        F.sum(F.when(F.col("npl_flag"), F.col("exposure")).otherwise(F.lit(0))).alias(
            "npl_exposure"
        ),
    )
    return m.select(
        "month",
        "product_type",
        "currency",
        "total_exposure",
        "npl_exposure",
        F.when(F.col("total_exposure") == 0, F.lit(None))
        .otherwise(
            F.col("npl_exposure").cast("double") / F.col("total_exposure").cast("double")
        )
        .alias("npl_ratio"),
    )


def int_month_end_snapshot(stg_arrears_daily: DataFrame) -> DataFrame:
    """Shared month-end CTE (W1 + F1): last snapshot per loan per month.

    Reference inlines this three times (fct_roll_rate_monthly.sql:1-12,
    fct_cure_rate_monthly.sql:1-12, fct_vintage_mob.sql:1-11). The
    ``repartition("loan_id")`` is the single shuffle of the dominant table;
    every downstream window (this row_number AND the transitions lag) is
    satisfied by it.
    """
    w = Window.partitionBy("loan_id", month_start("as_of_date")).orderBy(
        F.col("as_of_date").desc()
    )
    return (
        stg_arrears_daily.select(
            "loan_id",
            "as_of_date",
            "days_past_due",
            "dpd_bucket",
            month_start("as_of_date").alias("month"),
        )
        .repartition("loan_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def int_bucket_transitions(month_end_snapshot: DataFrame) -> DataFrame:
    """Shared lag CTE (W2): previous observed month's bucket per loan.

    ``lag`` is by ROW ordinal over observed months, not calendar month — a
    loan with a gap month pairs with its last observed month, faithfully
    reproducing fct_roll_rate_monthly.sql:17 (SURVEY.md §2.6 note; do not
    "fix" with a calendar join).
    """
    w = Window.partitionBy("loan_id").orderBy("month")
    return month_end_snapshot.select(
        "loan_id",
        "month",
        F.lag("dpd_bucket").over(w).alias("prev_bucket"),
        F.col("dpd_bucket").alias("curr_bucket"),
    )


def fct_roll_rate_monthly(bucket_transitions: DataFrame) -> DataFrame:
    """fct_roll_rate_monthly.sql:21-28 — bucket-to-bucket transition counts
    (F2, A3)."""
    return (
        bucket_transitions.where(F.col("prev_bucket").isNotNull())
        .groupBy("month", "prev_bucket", "curr_bucket")
        .agg(F.count(F.lit(1)).alias("loans_cnt"))
    )


def fct_cure_rate_monthly(bucket_transitions: DataFrame) -> DataFrame:
    """fct_cure_rate_monthly.sql:21-29 — monthly cure rate (A4 filtered
    counts, P12 nullif guard)."""
    prev_delinq = F.col("prev_bucket") != "0"
    cured = prev_delinq & (F.col("curr_bucket") == "0")
    agg = (
        bucket_transitions.where(F.col("prev_bucket").isNotNull())
        .groupBy("month")
        .agg(
            F.count(F.when(prev_delinq, 1)).alias("prev_delinquent_cnt"),
            F.count(F.when(cured, 1)).alias("cured_cnt"),
        )
    )
    return agg.select(
        "month",
        "prev_delinquent_cnt",
        "cured_cnt",
        (
            F.col("cured_cnt").cast("double")
            / F.nullif(F.col("prev_delinquent_cnt"), F.lit(0)).cast("double")
        ).alias("cure_rate"),
    )


def fct_vintage_mob(
    month_end_snapshot: DataFrame, stg_loan_contract: DataFrame
) -> DataFrame:
    """fct_vintage_mob.sql:12-33 — origination-quarter cohort curves
    (J3 broadcast join, D2/D3 date math, A5 flag sums, F3 mob filter)."""
    l = F.broadcast(stg_loan_contract.select("loan_id", "origination_date"))
    base = month_end_snapshot.join(l, "loan_id", "inner").select(
        quarter_start("origination_date").alias("cohort_q"),
        months_on_book(F.col("month"), F.col("origination_date")).alias("mob"),
        (F.col("days_past_due") > 0).cast("int").alias("delinquent_flag"),
        (F.col("days_past_due") > 90).cast("int").alias("npl_flag"),
    )
    agg = (
        base.where(F.col("mob") >= 0)
        .groupBy("cohort_q", "mob")
        .agg(
            F.count(F.lit(1)).alias("loans_cnt"),
            F.sum("delinquent_flag").alias("delinquent_cnt"),
            F.sum("npl_flag").alias("npl_cnt"),
        )
    )
    return agg.select(
        "cohort_q",
        "mob",
        "loans_cnt",
        "delinquent_cnt",
        "npl_cnt",
        (
            F.col("delinquent_cnt").cast("double")
            / F.nullif(F.col("loans_cnt"), F.lit(0)).cast("double")
        ).alias("delinquent_rate"),
        (
            F.col("npl_cnt").cast("double")
            / F.nullif(F.col("loans_cnt"), F.lit(0)).cast("double")
        ).alias("npl_rate"),
    )


def fct_collections_monthly(
    stg_payments: DataFrame, stg_loan_contract: DataFrame
) -> DataFrame:
    """fct_collections_monthly.sql:1-8 — monthly collected cash by product x
    currency (J2 broadcast join, D1, A1). ``p.currency`` (payment currency)
    is grouped, per the reference."""
    l = F.broadcast(stg_loan_contract.select("loan_id", "product_type"))
    return (
        stg_payments.join(l, "loan_id", "inner")
        .groupBy(
            month_start("payment_date").alias("month"),
            "product_type",
            "currency",
        )
        .agg(F.sum("amount_received").alias("collected_amount"))
    )


def fct_writeoff_recovery_monthly(stg_writeoff_recovery: DataFrame) -> DataFrame:
    """fct_writeoff_recovery_monthly.sql:1-6 — monthly write-off vs recovery
    (P11 coalesce, P13 arithmetic, D1, A1)."""
    z = F.lit(0).cast("decimal(18,2)")
    return stg_writeoff_recovery.groupBy(
        month_start(F.coalesce("recovery_date", "writeoff_date")).alias("month")
    ).agg(
        F.sum(
            F.coalesce(F.col("writeoff_amount_principal"), z)
            + F.coalesce(F.col("writeoff_amount_interest"), z)
            + F.coalesce(F.col("writeoff_amount_fees"), z)
        ).alias("writeoff_total"),
        F.sum(F.coalesce(F.col("recovery_amount"), z)).alias("recovery_total"),
    )


# A (cohort_q, mob) cell draws the snapshot months cohort_q+mob ..
# cohort_q+mob+3: its loans originate over the three months of the quarter,
# and ``months_on_book`` floors, so a loan originated after the 1st of its
# month reaches each mob one month later than one originated on the 1st.
VINTAGE_CELL_MONTHS = 3


def vintage_cells_drawing_on(months: list[dt.date]) -> Column:
    """The (cohort_q, mob) cells whose snapshot months include one of
    ``months`` (month starts)."""
    first = F.add_months("cohort_q", F.col("mob"))
    last = F.add_months(first, VINTAGE_CELL_MONTHS)
    return reduce(or_, [F.lit(m).between(first, last) for m in months])


@dataclass(frozen=True)
class MartSpec:
    """How one mart is built, laid out and refreshed.

    - ``build`` is its function above, called with the frames named in
      ``inputs``: staging models, the shared ``int_*`` intermediates, or a
      mart listed before it.
    - ``key`` is the partition column of the written mart. ``key_of`` names
      the date column whose month it is, when the mart has no such column.
    - ``source`` is the OLTP table whose months the mart's rows come from;
      ``window`` is how many months of it before and after a refreshed
      month the refreshed rows read.
    - ``merge`` is set when one partition mixes source months. It selects
      the grain cells that draw on given months; a refresh rewrites those
      and keeps the partition's other cells as written.
    """

    build: Callable[..., DataFrame]
    inputs: tuple[str, ...]
    key: str
    source: str
    window: tuple[int, int] = (0, 0)
    key_of: str | None = None
    merge: Callable[[list[dt.date]], Column] | None = None

    def keyed(self, df: DataFrame) -> DataFrame:
        """``df`` with its partition column."""
        return df.withColumn(self.key, month_start(self.key_of)) if self.key_of else df

    def owned(self, months: list[dt.date]) -> Column:
        """The rows a refresh of ``months`` (month starts) rewrites: those
        months' partitions, or the cells that draw on them."""
        if self.merge:
            return self.merge(months)
        return (month_start(self.key_of) if self.key_of else F.col(self.key)).isin(months)


_ARREARS = "arrears_dpd_status"
MARTS: dict[str, MartSpec] = {
    # row-wise over arrears x loans
    "fct_dpd_daily": MartSpec(
        fct_dpd_daily, ("stg_arrears_daily", "stg_loan_contract"),
        key="as_of_month", key_of="as_of_date", source=_ARREARS,
    ),
    "fct_npl_monthly": MartSpec(
        fct_npl_monthly, ("fct_dpd_daily",), key="month", source=_ARREARS,
    ),
    # month M pairs each loan's month-end bucket with its previous observed
    # month's: M-1 in a gap-free daily feed
    "fct_roll_rate_monthly": MartSpec(
        fct_roll_rate_monthly, ("int_bucket_transitions",),
        key="month", source=_ARREARS, window=(1, 0),
    ),
    "fct_cure_rate_monthly": MartSpec(
        fct_cure_rate_monthly, ("int_bucket_transitions",),
        key="month", source=_ARREARS, window=(1, 0),
    ),
    # every cell that draws on month M draws only on M-3 .. M+3
    "fct_vintage_mob": MartSpec(
        fct_vintage_mob, ("int_month_end_snapshot", "stg_loan_contract"),
        key="cohort_q", source=_ARREARS,
        window=(VINTAGE_CELL_MONTHS, VINTAGE_CELL_MONTHS),
        merge=vintage_cells_drawing_on,
    ),
    "fct_collections_monthly": MartSpec(
        fct_collections_monthly, ("stg_payments", "stg_loan_contract"),
        key="month", source="repayment_payment",
    ),
    # a row's month is that of coalesce(recovery_date, writeoff_date)
    "fct_writeoff_recovery_monthly": MartSpec(
        fct_writeoff_recovery_monthly, ("stg_writeoff_recovery",),
        key="month", source="write_off_and_recovery",
    ),
}
