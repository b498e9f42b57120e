"""Generator invariant tests (SURVEY.md §5 item 2; reference invariants from
pg_oltp_synth.py and README.MD:31-45)."""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import functions as F

from credit_abs_oltp_to_mart_spark.plans.checks import run_audit_checks, run_schema_tests
from tests.conftest import TEST_CFG


def test_schedule_balance_recurrence(oltp):
    """closing == opening - principal_due (pg_oltp_synth.py:442-445);
    rounding each side independently allows <= 1 cent drift."""
    sched = oltp["repayment_schedule"]
    bad = sched.where(
        F.abs(
            F.col("closing_principal_balance")
            - (F.col("opening_principal_balance") - F.col("principal_due"))
        )
        > 0.011
    ).count()
    assert bad == 0


def test_schedule_total_due(oltp):
    """total_due = principal_due + interest_due + fees (fees always 0)."""
    sched = oltp["repayment_schedule"]
    bad = sched.where(
        F.abs(
            F.col("total_due") - (F.col("principal_due") + F.col("interest_due"))
        )
        > 0.011
    ).count()
    assert bad == 0
    assert sched.where(F.col("fees_due") != 0).count() == 0


def test_schedule_terminal_balance(oltp):
    """Final installment closes the loan: closing balance of inst=term ~ 0
    for amortizing methods; = principal for interest_only."""
    sched = oltp["repayment_schedule"].alias("s")
    loans = oltp["loan_contract"].alias("l")
    last = sched.join(loans, "loan_id").where(
        F.col("installment_no") == F.col("term_months")
    )
    assert (
        last.where(F.col("repayment_method").isin("annuity", "linear", "balloon"))
        .where(F.col("closing_principal_balance") > 0.02)
        .count()
        == 0
    )
    assert (
        last.where(F.col("repayment_method") == "interest_only")
        .where(
            F.abs(F.col("closing_principal_balance") - F.col("principal_original")) > 0.011
        )
        .count()
        == 0
    )


def test_payments_never_early(oltp):
    """payment_date >= due_date (pg_oltp_synth.py:594-601). payment_id encodes
    loan*1000+installment -> join back to the schedule."""
    pay = oltp["repayment_payment"]
    sched = oltp["repayment_schedule"].select(
        F.col("schedule_id").alias("payment_id"), "due_date"
    )
    joined = pay.join(sched, "payment_id", "inner")
    assert joined.count() == pay.count()  # every payment maps to an installment
    assert joined.where(F.col("payment_date") < F.col("due_date")).count() == 0
    # late cap: never more than 90 days after due (pg_oltp_synth.py:596)
    assert joined.where(F.datediff("payment_date", "due_date") > 90).count() == 0


def test_arrears_bucket_dpd_consistency(oltp):
    """Generator-side bucket (with its '>90' spelling) must match dpd
    (pg_oltp_synth.py:76-85)."""
    a = oltp["arrears_dpd_status"]
    expected = (
        F.when(F.col("days_past_due") <= 0, "0")
        .when(F.col("days_past_due") <= 30, "1-30")
        .when(F.col("days_past_due") <= 60, "31-60")
        .when(F.col("days_past_due") <= 90, "61-90")
        .otherwise(">90")
    )
    assert a.where(F.col("arrears_bucket") != expected).count() == 0
    # flags (pg_oltp_synth.py:686-688)
    assert a.where(
        F.col("early_arrears_flag") != F.col("days_past_due").between(5, 30)
    ).count() == 0
    assert a.where(
        F.col("nonperforming_flag") != (F.col("days_past_due") > 90)
    ).count() == 0


def test_arrears_zero_dpd_zero_amounts(oltp):
    a = oltp["arrears_dpd_status"]
    assert a.where(
        (F.col("days_past_due") == 0) & (F.col("past_due_amount_total") != 0)
    ).count() == 0
    assert a.where(
        (F.col("days_past_due") > 0) & (F.col("past_due_amount_total") <= 0)
    ).count() == 0


def test_writeoff_dates_pinned_to_lake_end(oltp):
    """writeoff_date is the lake's end minus 1-180 days, whatever day the
    lake is generated on (pg_oltp_synth.py dates it from today; here
    ``start_date_max`` is today)."""
    end = TEST_CFG.start_date_max
    dates = [r[0] for r in oltp["write_off_and_recovery"].select("writeoff_date").collect()]
    assert dates
    assert [d for d in dates if not end - timedelta(days=180) <= d <= end - timedelta(days=1)] == []


def test_id_floors(oltp):
    """borrower ids >= 10000, application ids >= 1e8 (pg_oltp_synth.py:36-37)."""
    assert oltp["borrower"].where(F.col("borrower_id") < 10_000).count() == 0
    assert (
        oltp["application"].where(F.col("application_id") < 100_000_000).count() == 0
    )
    loans = oltp["loan_contract"]
    assert loans.where(F.col("borrower_id") < 10_000).count() == 0
    assert loans.where(F.col("application_id") < 100_000_000).count() == 0


def test_default_cohort_size(oltp):
    """Exactly max(1, int(n*p_default)) loans default (pg_oltp_synth.py:496)."""
    n_default = (
        oltp["arrears_dpd_status"].where("default_flag").select("loan_id").distinct().count()
    )
    expected = max(1, int(TEST_CFG.n_loans * TEST_CFG.p_default))
    # loans whose snapshots never reach default_at may show fewer flagged rows
    assert n_default <= expected
    assert oltp["collections_case"].count() == expected


def test_value_domains(oltp):
    from credit_abs_oltp_to_mart_spark.schemas import (
        CURRENCIES,
        PRODUCT_TYPES,
        REPAYMENT_METHODS,
    )

    loans = oltp["loan_contract"]
    assert loans.where(~F.col("currency").isin(CURRENCIES)).count() == 0
    assert loans.where(~F.col("product_type").isin(PRODUCT_TYPES)).count() == 0
    assert loans.where(~F.col("repayment_method").isin(REPAYMENT_METHODS)).count() == 0
    assert loans.where(
        (F.col("term_months") < 6) | (F.col("term_months") > TEST_CFG.max_term_months)
    ).count() == 0
    assert loans.where(
        (F.col("principal_original") < 500) | (F.col("principal_original") > 50000)
    ).count() == 0
    assert loans.where(
        (F.col("interest_rate_current") < 0.03) | (F.col("interest_rate_current") > 0.22)
    ).count() == 0


def test_variable_rate_schedule_shape(oltp):
    """Only variable loans; 1-3 events; effective_to = next_from - 1 or NULL
    (pg_oltp_synth.py:344-371)."""
    irs = oltp["interest_rate_schedule"]
    loans = oltp["loan_contract"].select("loan_id", "interest_rate_type")
    j = irs.join(loans, "loan_id")
    assert j.where(F.col("interest_rate_type") != "variable").count() == 0
    per_loan = irs.groupBy("loan_id").count()
    assert per_loan.where((F.col("count") < 1) | (F.col("count") > 3)).count() == 0
    # exactly one open-ended period per loan, and it is the max effective_from
    open_ended = irs.where(F.col("effective_to_date").isNull())
    assert open_ended.groupBy("loan_id").count().where("count != 1").count() == 0


def test_schema_and_audit_checks_pass(staging, oltp):
    assert all(v == 0 for v in run_schema_tests(staging).values())
    audit = run_audit_checks(oltp)
    assert audit["loan_contract.chronology"] == 0
    assert audit["arrears.natural_key_unique"] == 0


def test_checks_detect_violations(spark, staging):
    """The check functions must actually fire on corrupted data."""
    from credit_abs_oltp_to_mart_spark.plans import checks

    loan = staging["stg_loan_contract"]
    dup = loan.limit(1).unionByName(loan.limit(1))
    assert checks.unique(dup, "loan_id") == 1
    nulled = loan.limit(1).select(
        F.lit(None).cast("long").alias("loan_id"),
        *[c for c in loan.columns if c != "loan_id"],
    )
    assert checks.not_null(nulled, "loan_id") == 1
    orphan = spark.createDataFrame([(999999999,)], "loan_id long")
    assert checks.relationships(orphan, "loan_id", loan, "loan_id") == 1


def test_behavior_distributions_match_reference_probabilities(oltp):
    """Statistical parity (SURVEY.md §2.11): simulated behavior frequencies
    track the reference's configured probabilities. Tolerances are ~4 sigma
    for the generated volumes, so the test is deterministic for the pinned
    seed yet detects broken draw plumbing."""
    sched = oltp["repayment_schedule"]
    pays = oltp["repayment_payment"]
    n_inst = sched.count()

    # late fraction among paid installments: p_late (0.18) plus the small
    # near-default forced-late contribution -> band around it
    sched_k = sched.select(
        F.col("loan_id").alias("s_loan_id"),
        F.col("installment_no").alias("inst"),
        "due_date",
    )
    late = (
        pays.join(
            sched_k,
            (pays.loan_id == F.col("s_loan_id"))
            & ((pays.payment_id % 1000) == F.col("inst")),
            "inner",
        )
        .where(F.col("payment_date") > F.col("due_date"))
        .count()
    )
    frac_late = late / pays.count()
    assert 0.12 <= frac_late <= 0.28, frac_late

    # direct-debit mandate rate: p_direct_debit = 0.55 over n_loans=150
    n_dd = oltp["direct_debit_mandate"].select("loan_id").distinct().count()
    frac_dd = n_dd / TEST_CFG.n_loans
    assert 0.40 <= frac_dd <= 0.70, frac_dd

    # principal uniform(500, 50000): mean within 4 sigma of midpoint
    mean_p = float(
        oltp["loan_contract"].agg(F.avg("principal_original")).first()[0]
    )
    sigma = (50000 - 500) / (12 ** 0.5) / (TEST_CFG.n_loans ** 0.5)
    assert abs(mean_p - 25250) < 4 * sigma, mean_p

    # forbearance sample: exactly int(n*p) rows
    assert oltp["forbearance_restructure_event"].count() == int(
        TEST_CFG.n_loans * TEST_CFG.p_forbearance
    )
