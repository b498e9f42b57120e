"""The synthetic credit-OLTP generator as a distributed Spark dataflow.

Re-expression of the reference generator (pg_oltp_synth.py:144-966,
blocks G1-G11 in SURVEY.md §2.11). The reference builds Python lists row by
row and pages them into Postgres; here every block is a DataFrame derived
from ``spark.range`` + hash-based draws (generator/rand.py), so the job
scales horizontally: no driver-side loops, no collect, no sequential RNG
state. Amortization balances use closed forms instead of the reference's
per-row recurrence (pg_oltp_synth.py:423-445) — same output shape, fully
vectorized.

Parity contract (SURVEY.md §2.11): statistical, not byte-identical —
identical schemas, value domains, distributions and invariants
(closing = opening - principal_due; pay_date >= due_date; bucket/dpd
consistency; FK resolution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from credit_abs_oltp_to_mart_spark.generator.config import OLTPSynthConfig
from credit_abs_oltp_to_mart_spark.generator.rand import (
    bernoulli,
    choice,
    randint,
    uniform,
    unit,
)
from credit_abs_oltp_to_mart_spark.schemas import (
    CURRENCIES,
    MONEY,
    PRODUCT_TYPES,
    RATE,
    REPAYMENT_METHODS,
    conform,
)

_DAY_COUNTS = ["ACT/365", "ACT/360", "30/360"]  # pg_oltp_synth.py:230
_PAY_FREQS = ["monthly", "weekly"]  # pg_oltp_synth.py:232
_DISB_METHODS = ["bank_transfer", "cash", "internal"]  # pg_oltp_synth.py:314
_NON_DD_CHANNELS = ["bank_transfer", "cash", "card", "internal"]  # :639
_IBAN_MASK = "DE** **** **** **** **** **"  # :327
_CREDITOR_ID = "DE98ZZZ00000000000"  # :511


def _money(c: F.Column) -> F.Column:
    return F.round(c, 2).cast(MONEY)


def _rate(c: F.Column) -> F.Column:
    return F.round(c, 6).cast(RATE)


def _date_between(seed: int, salt: str, lo, hi, *keys) -> F.Column:
    """Uniform date in [lo, hi] inclusive (Faker date_between_dates)."""
    span = F.datediff(hi, lo) + F.lit(1)
    return F.date_add(lo, F.floor(unit(seed, salt, *keys) * span.cast("double")).cast("int"))


def _with_smallest_k_flag(
    df: DataFrame, u: F.Column, k: int, flag_name: str
) -> DataFrame:
    """Adds boolean ``flag_name``: row is among the exact-k smallest values
    of draw ``u``.

    The reference samples an exact k (random.sample, pg_oltp_synth.py:496,
    :852); a global row_number window would reproduce that but sorts ALL
    rows in ONE partition. Instead: per-partition top-k merge
    (TakeOrderedAndProject via orderBy+limit — moves k rows, never the
    table) yields the kth-smallest threshold, broadcast back as a 1-row
    join. Hash draws are collision-free in practice, so exactly k rows
    satisfy u <= threshold, deterministically. For k too large for the
    driver, swap the threshold computation for an exact distributed
    quantile.
    """
    thresh = (
        df.select(u.alias("_u"))
        .orderBy("_u")
        .limit(k)
        .agg(F.max("_u").alias("_u_thresh"))
    )
    return (
        df.crossJoin(F.broadcast(thresh))
        .withColumn(flag_name, F.coalesce(u <= F.col("_u_thresh"), F.lit(False)))
        .drop("_u_thresh")
    )


def _end_date(cfg: OLTPSynthConfig) -> F.Column:
    return (
        F.lit(cfg.start_date_max).cast("date")
        if cfg.start_date_max is not None
        else F.current_date()
    )


# ---------------------------------------------------------------------------
# G2 — borrowers & applications (pg_oltp_synth.py:200-224)
# ---------------------------------------------------------------------------

def gen_borrowers(spark: SparkSession, cfg: OLTPSynthConfig) -> DataFrame:
    """Reference inserts only created_at and lets identity assign ids from
    the floored sequence (:99-115, :200-209); other columns stay NULL."""
    return spark.range(cfg.n_borrowers).select(
        (F.col("id") + cfg.min_borrower_id).alias("borrower_id"),
        F.current_timestamp().alias("created_at"),
    )


def gen_applications(spark: SparkSession, cfg: OLTPSynthConfig) -> DataFrame:
    """application_date uniform in [start_min, today] (:212-224)."""
    s = cfg.seed
    lo = F.lit(cfg.start_date_min).cast("date")
    return spark.range(cfg.n_applications).select(
        (F.col("id") + cfg.min_application_id).alias("application_id"),
        _date_between(s, "app.date", lo, _end_date(cfg), F.col("id")).alias(
            "application_date"
        ),
        F.current_timestamp().alias("created_at"),
    )


# ---------------------------------------------------------------------------
# G3 — loan contracts (pg_oltp_synth.py:227-310)
# ---------------------------------------------------------------------------

def gen_loan_contract(spark: SparkSession, cfg: OLTPSynthConfig) -> DataFrame:
    s = cfg.seed
    k = F.col("id")
    lo = F.lit(cfg.start_date_min).cast("date")

    origination = _date_between(s, "loan.orig", lo, _end_date(cfg), k)
    term = randint(s, "loan.term", 6, cfg.max_term_months, k)
    principal = uniform(s, "loan.principal", 500.0, 50000.0, k)
    annual_rate = uniform(s, "loan.rate", cfg.annual_rate_min, cfg.annual_rate_max, k)
    rate_type = F.when(
        bernoulli(s, "loan.vrate", cfg.p_variable_rate, k), F.lit("variable")
    ).otherwise(F.lit("fixed"))
    repay_method = choice(s, "loan.method", REPAYMENT_METHODS, k)
    pay_freq = F.when(
        bernoulli(s, "loan.freq_flip", 0.10, k), choice(s, "loan.freq", _PAY_FREQS, k)
    ).otherwise(F.lit("monthly"))  # :254-256
    grace = F.when(bernoulli(s, "loan.grace0", 0.85, k), F.lit(0)).otherwise(
        randint(s, "loan.grace", 1, 3, k)
    )

    # annuity formula P*r(1+r)^n/((1+r)^n - 1) (:88-92); linear rough (:266)
    r_m = annual_rate / F.lit(12.0)
    pow_term = F.pow(F.lit(1.0) + r_m, term.cast("double"))
    annuity_pmt = principal * (r_m * pow_term) / (pow_term - F.lit(1.0))
    installment = (
        F.when(repay_method == "annuity", annuity_pmt)
        .when(repay_method == "linear", principal / term + principal * r_m)
        .otherwise(F.lit(None))
    )

    df = spark.range(cfg.n_loans).select(
        (k + 1).alias("loan_id"),
        (
            cfg.min_application_id
            + F.floor(unit(s, "loan.app", k) * F.lit(float(cfg.n_applications)))
        ).cast("long").alias("application_id"),
        (
            cfg.min_borrower_id
            + F.floor(unit(s, "loan.borrower", k) * F.lit(float(cfg.n_borrowers)))
        ).cast("long").alias("borrower_id"),
        choice(s, "loan.product", PRODUCT_TYPES, k).alias("product_type"),
        choice(s, "loan.ccy", CURRENCIES, k).alias("currency"),
        origination.alias("origination_date"),
        F.date_add(origination, randint(s, "loan.disb", 0, 7, k)).alias(
            "disbursement_date"
        ),
        F.add_months(origination, term).alias("maturity_date"),  # clamped day, :66-73
        _money(principal).alias("principal_original"),
        _money(principal).alias("principal_current"),  # = original at load (:277)
        term.alias("term_months"),
        rate_type.alias("interest_rate_type"),
        F.when(rate_type == "variable", F.lit("EURIBOR")).alias("interest_rate_index"),
        F.when(
            rate_type == "variable", _rate(uniform(s, "loan.margin", 0.005, 0.05, k))
        ).alias("interest_rate_margin"),
        _rate(annual_rate).alias("interest_rate_current"),
        _rate(annual_rate + uniform(s, "loan.apr", 0.0, 0.03, k)).alias("apr_effective"),
        choice(s, "loan.daycount", _DAY_COUNTS, k).alias("day_count_convention"),
        pay_freq.alias("payment_frequency"),
        repay_method.alias("repayment_method"),
        _money(installment).alias("installment_amount"),
        randint(s, "loan.payday", 1, 28, k).alias("payment_day_of_month"),
        grace.alias("grace_period_months"),
        F.lit("active").alias("status"),
        F.current_timestamp().alias("created_at"),
        # carried for downstream generation only (dropped before write)
        annual_rate.alias("_annual_rate"),
        principal.alias("_principal_raw"),
    )
    return df


# ---------------------------------------------------------------------------
# G4 — disbursements (pg_oltp_synth.py:313-341)
# ---------------------------------------------------------------------------

def gen_loan_disbursement(loans: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    s = cfg.seed
    k = F.col("loan_id")
    return loans.select(
        k.alias("loan_id"),
        F.lit(1).alias("disbursement_seq_no"),
        F.col("disbursement_date"),
        F.col("principal_original").alias("disbursement_amount"),
        F.col("currency"),
        choice(s, "disb.method", _DISB_METHODS, k).alias("disbursement_method"),
        F.lit(_IBAN_MASK).alias("payout_account_iban_masked"),
        F.lit("settled").alias("status"),
    )


# ---------------------------------------------------------------------------
# G5 — variable-rate schedule (pg_oltp_synth.py:344-388)
# ---------------------------------------------------------------------------

def gen_interest_rate_schedule(loans: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    """1-3 rate events per variable loan; sorted dates;
    effective_to = next_from - 1 day (open-ended last). The reference's
    sort-then-loop becomes array_sort + posexplode + lead."""
    s = cfg.seed
    k = F.col("loan_id")
    var = loans.where(F.col("interest_rate_type") == "variable")
    end = F.least(F.col("maturity_date"), _end_date(cfg))
    n_events = randint(s, "irs.n", 1, 3, k)

    dated = var.select(
        "loan_id",
        "_annual_rate",
        F.array_sort(
            F.slice(
                F.array(
                    *[
                        _date_between(s, f"irs.d{i}", F.col("origination_date"), end, k)
                        for i in range(3)
                    ]
                ),
                1,
                n_events,
            )
        ).alias("event_dates"),
    ).select("loan_id", "_annual_rate", F.posexplode("event_dates").alias("pos", "eff_from"))

    w = Window.partitionBy("loan_id").orderBy("pos")
    nominal = F.greatest(
        F.lit(0.0), F.col("_annual_rate") + uniform(s, "irs.delta", -0.02, 0.03, k, F.col("pos"))
    )
    return dated.select(
        "loan_id",
        F.col("eff_from").alias("effective_from_date"),
        F.date_sub(F.lead("eff_from").over(w), 1).alias("effective_to_date"),
        F.lit("variable").alias("rate_type"),
        F.lit("EURIBOR").alias("index_name"),
        choice(s, "irs.tenor", ["1M", "3M", "6M"], k, F.col("pos")).alias("index_tenor"),
        _rate(uniform(s, "irs.margin", 0.005, 0.05, k, F.col("pos"))).alias("margin"),
        _rate(nominal).alias("nominal_rate"),
        F.lit("market").alias("rate_source"),
    )


# ---------------------------------------------------------------------------
# G6 — amortization schedule, closed-form (pg_oltp_synth.py:391-473)
# ---------------------------------------------------------------------------

def gen_repayment_schedule(loans: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    """Explode term installments per loan with closed-form balances.

    Reference recurrence (:423-445): bal' = bal - principal_due with
    principal_due per method; rounding applied only at write, raw balance
    carried. Closed forms (n = installment_no, r = annual/12, P = principal):

    - annuity:       opening_n = P(1+r)^(n-1) - pmt((1+r)^(n-1)-1)/r
    - linear:        opening_n = P - (n-1)P/term, principal = P/term
    - interest_only: opening_n = P, principal = 0
    - balloon:       opening_n = P, principal = 0 until n=term then P
    """
    n = F.col("installment_no").cast("double")
    term = F.col("term_months")
    p = F.col("_principal_raw")
    r = F.col("_annual_rate") / F.lit(12.0)
    method = F.col("repayment_method")

    pow_n1 = F.pow(F.lit(1.0) + r, n - F.lit(1.0))
    pow_t = F.pow(F.lit(1.0) + r, term.cast("double"))
    pmt = p * (r * pow_t) / (pow_t - F.lit(1.0))

    opening = (
        F.when(method == "annuity", p * pow_n1 - pmt * (pow_n1 - F.lit(1.0)) / r)
        .when(method == "linear", p - (n - F.lit(1.0)) * p / term)
        .otherwise(p)  # interest_only, balloon
    )
    interest = opening * r
    principal_due = (
        F.when(method == "annuity", F.greatest(F.lit(0.0), pmt - interest))
        .when(method == "linear", p / term)
        .when(method == "balloon", F.when(n < term, F.lit(0.0)).otherwise(opening))
        .otherwise(F.lit(0.0))  # interest_only
    )
    closing = F.greatest(F.lit(0.0), opening - principal_due)
    total = principal_due + interest  # fees = 0.0 (:439)

    first_due = F.add_months(
        F.col("origination_date"), F.lit(1) + F.col("grace_period_months")
    )  # :409

    return (
        loans.select(
            "loan_id",
            "currency",
            "origination_date",
            "term_months",
            "grace_period_months",
            "repayment_method",
            "_annual_rate",
            "_principal_raw",
            F.explode(F.sequence(F.lit(1), F.col("term_months"))).alias("installment_no"),
        )
        .select(
            (F.col("loan_id") * 1000 + F.col("installment_no")).alias("schedule_id"),
            "loan_id",
            "installment_no",
            F.add_months(first_due, F.col("installment_no") - 1).alias("due_date"),
            "currency",
            _money(principal_due).alias("principal_due"),
            _money(interest).alias("interest_due"),
            _money(F.lit(0.0)).alias("fees_due"),
            _money(F.lit(0.0)).alias("penalty_interest_due"),
            _money(total).alias("total_due"),
            _money(opening).alias("opening_principal_balance"),
            _money(closing).alias("closing_principal_balance"),
            F.lit("planned").alias("schedule_status"),
            F.lit(1).alias("schedule_version"),
        )
    )


# ---------------------------------------------------------------------------
# G7/G8/G9 — payment simulation, allocations, daily arrears
# (pg_oltp_synth.py:476-793)
# ---------------------------------------------------------------------------

def _loan_sim_attrs(loans: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    """Per-loan simulation attributes: default flag/date (:494-557) and
    direct-debit mandate (:498-536).

    Defaulted loans: the reference samples an exact k = max(1, int(n*p))
    (:496); mirrored with a rank over a per-loan hash draw so the count is
    exact and deterministic.
    """
    s = cfg.seed
    k_default = max(1, int(cfg.n_loans * cfg.p_default))
    first_due = F.add_months(
        F.col("origination_date"), F.lit(1) + F.col("grace_period_months")
    )
    default_line = randint(
        s,
        "sim.default_line",
        F.greatest(F.lit(1), F.floor(F.col("term_months") * 0.3).cast("int")),
        F.col("term_months"),
        F.col("loan_id"),
    )  # :556
    default_at = F.date_add(
        F.add_months(first_due, default_line - 1),
        randint(s, "sim.default_delay", 60, 150, F.col("loan_id")),
    )  # :557
    picked = _with_smallest_k_flag(
        loans, unit(s, "sim.default_pick", F.col("loan_id")), k_default, "in_default"
    )
    return picked.select(
        "loan_id",
        "borrower_id",
        "origination_date",
        "in_default",
        default_at.alias("_default_at_raw"),
        bernoulli(s, "sim.dd", cfg.p_direct_debit, F.col("loan_id")).alias("has_mandate"),
    ).select(
        "loan_id",
        "borrower_id",
        "origination_date",
        "in_default",
        "has_mandate",
        F.when(F.col("in_default"), F.col("_default_at_raw")).alias("default_at"),
    )


def gen_direct_debit_mandate(sim_attrs: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    s = cfg.seed
    k = F.col("loan_id")
    return sim_attrs.where("has_mandate").select(
        k.alias("mandate_id"),  # deterministic surrogate (reference: identity seq)
        "borrower_id",
        "loan_id",
        F.concat(
            F.lit("DD-"), k, F.lit("-"), randint(s, "dd.ref", 1000, 9999, k)
        ).alias("mandate_reference"),
        F.col("origination_date").alias("mandate_signature_date"),
        F.lit("active").alias("mandate_status"),
        F.lit("RCUR").alias("sequence_type"),
        F.concat(F.lit("Debtor "), F.col("borrower_id")).alias("debtor_name"),
        F.lit(_IBAN_MASK).alias("debtor_iban_masked"),
        F.lit(_CREDITOR_ID).alias("creditor_id"),
        F.lit("Demo Bank").alias("creditor_name"),
        randint(s, "dd.day", 1, 28, k).alias("requested_collection_day"),
    )


def build_payment_sim(
    schedule: DataFrame, sim_attrs: DataFrame, cfg: OLTPSynthConfig
) -> DataFrame:
    """One row per (loan, installment) with all simulated behavior columns.

    Reference control flow (:562-694) mapped to column logic — ``due`` is
    monotone per loan so the loop ``break``/``continue`` become filters:

    - kept      = NOT (in_default AND due > default_at)          [break :564]
    - late      = draw(0.18) OR (in_default AND due > default_at - 120) [:586-592]
    - pay_date  = due + randint(1,90) if late else due            [:594-601]
    - skipped   = in_default AND pay_date >= default_at           [continue :604]
    """
    s = cfg.seed
    k, inst = F.col("loan_id"), F.col("installment_no")
    df = schedule.join(F.broadcast(sim_attrs), "loan_id")

    near_default = F.col("in_default") & (
        F.col("due_date") > F.date_sub(F.col("default_at"), 120)
    )
    late_draw = bernoulli(s, "pay.late", cfg.p_late_installment, k, inst)
    partial_draw = bernoulli(s, "pay.partial", cfg.p_partial_payment, k, inst) & ~late_draw
    late = late_draw | near_default
    partial = partial_draw & ~near_default
    days_late = randint(s, "pay.days_late", 1, 90, k, inst)
    pay_date = F.when(late, F.date_add(F.col("due_date"), days_late)).otherwise(
        F.col("due_date")
    )

    amount = F.when(
        partial,
        F.round(
            F.col("total_due").cast("double") * uniform(s, "pay.frac", 0.3, 0.8, k, inst),
            2,
        ),
    ).otherwise(F.col("total_due").cast("double"))

    late_fee = F.when(
        late,
        F.round(
            uniform(s, "pay.fee", cfg.late_fee_amount_min, cfg.late_fee_amount_max, k, inst),
            2,
        ),
    ).otherwise(F.lit(0.0))
    penalty = F.when(
        late,
        F.round(
            F.col("total_due").cast("double")
            * F.lit(cfg.penalty_rate_annual / 365.0)
            * F.greatest(F.lit(1), F.datediff(pay_date, F.col("due_date"))).cast("double"),
            2,
        ),
    ).otherwise(F.lit(0.0))

    return (
        df.withColumn(
            "kept",
            ~(F.col("in_default") & (F.col("due_date") > F.col("default_at"))),
        )
        .withColumn("late", late)
        .withColumn("partial", partial)
        .withColumn("pay_date", pay_date)
        .withColumn(
            "skipped",
            F.col("in_default") & (F.col("pay_date") >= F.col("default_at")),
        )
        .withColumn("paid", F.col("kept") & ~F.col("skipped"))
        .withColumn("amount_received", amount)
        .withColumn("late_fee", late_fee)
        .withColumn("penalty", penalty)
        .withColumn("payment_id", k * 1000 + inst)
    )


def gen_repayment_payment(sim: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    s = cfg.seed
    k, inst = F.col("loan_id"), F.col("installment_no")
    return sim.where("paid").select(
        F.col("payment_id"),
        "loan_id",
        F.col("pay_date").alias("payment_date"),
        F.col("pay_date").alias("value_date"),
        "currency",
        _money(F.col("amount_received")).alias("amount_received"),
        F.when(F.col("has_mandate"), F.lit("direct_debit"))
        .otherwise(choice(s, "pay.channel", _NON_DD_CHANNELS, k, inst))
        .alias("payment_channel"),
        F.concat(
            F.lit("EXT-"), k, F.lit("-"), inst, F.lit("-"),
            randint(s, "pay.extref", 100000, 999999, k, inst),
        ).alias("external_reference"),
        F.lit("received").alias("status"),
    )


def gen_payment_allocation(sim: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    """The reference WRITES the approximate percentage split (:735-755), not
    the waterfall it computes earlier (:647-661) — replicate what is written
    (SURVEY.md §7f)."""
    s = cfg.seed
    k, inst = F.col("loan_id"), F.col("installment_no")
    amt = F.col("amount_received")
    fees = F.round(amt * uniform(s, "alloc.fees", 0.0, 0.08, k, inst), 2)
    interest = F.round(amt * uniform(s, "alloc.int", 0.05, 0.25, k, inst), 2)
    pen = F.round(amt * uniform(s, "alloc.pen", 0.0, 0.05, k, inst), 2)
    principal = F.greatest(F.lit(0.0), F.round(amt - (fees + interest + pen), 2))
    return sim.where("paid").select(
        "payment_id",
        "loan_id",
        _money(principal).alias("allocated_principal"),
        _money(interest).alias("allocated_interest"),
        _money(fees).alias("allocated_fees"),
        _money(pen).alias("allocated_penalty_interest"),
        _money(F.lit(0.0)).alias("allocated_other"),
        F.lit("system").alias("allocation_rule"),
    )


def gen_arrears_dpd_status(sim: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    """G9 — the dominant fan-out: one row per day from due to
    min(pay_date, due + snapshot_days) per paid installment (:667-692).

    (loan_id, as_of_date) collisions across installment windows keep the
    FIRST installment's row, matching Postgres ON CONFLICT DO NOTHING with
    insertion in installment order (:791). This window is the idempotent
    natural-key upsert (S7), so the writer does not deduplicate; the
    ``arrears.natural_key_unique`` audit checks the key on every build.
    """
    if not cfg.build_daily_snapshots:
        return sim.sparkSession.createDataFrame([], schema="loan_id long")

    end = F.least(
        F.col("pay_date"), F.date_add(F.col("due_date"), cfg.snapshot_days_per_loan)
    )
    days = sim.where("paid").select(
        "loan_id",
        "installment_no",
        "due_date",
        "late",
        "late_fee",
        "penalty",
        "total_due",
        "principal_due",
        "interest_due",
        "default_at",
        F.explode(F.sequence(F.col("due_date"), end)).alias("as_of_date"),
    )
    dpd = F.when(
        F.col("late") & (F.col("as_of_date") > F.col("due_date")),
        F.greatest(F.lit(0), F.datediff("as_of_date", "due_date")),
    ).otherwise(F.lit(0))
    in_arrears = dpd > 0

    rows = days.select(
        "loan_id",
        "installment_no",
        "as_of_date",
        dpd.alias("days_past_due"),
        _money(F.when(in_arrears, F.col("total_due")).otherwise(F.lit(0.0))).alias(
            "past_due_amount_total"
        ),
        _money(F.when(in_arrears, F.col("principal_due")).otherwise(F.lit(0.0))).alias(
            "past_due_principal"
        ),
        _money(F.when(in_arrears, F.col("interest_due")).otherwise(F.lit(0.0))).alias(
            "past_due_interest"
        ),
        _money(
            F.when(in_arrears, F.col("late_fee") + F.col("penalty")).otherwise(F.lit(0.0))
        ).alias("past_due_fees"),
        F.when(F.col("late"), F.col("due_date")).alias("oldest_unpaid_due_date"),
        # generator-side bucket spells '>90' (:76-85); staging recomputes '90+'
        F.when(dpd <= 0, "0")
        .when(dpd <= 30, "1-30")
        .when(dpd <= 60, "31-60")
        .when(dpd <= 90, "61-90")
        .otherwise(">90")
        .alias("arrears_bucket"),
        dpd.between(5, 30).alias("early_arrears_flag"),
        F.coalesce(F.col("as_of_date") >= F.col("default_at"), F.lit(False)).alias(
            "default_flag"
        ),
        (dpd > 90).alias("nonperforming_flag"),
        F.lit(False).alias("probation_flag"),
    )

    w = Window.partitionBy("loan_id", "as_of_date").orderBy("installment_no")
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .withColumn("arrears_id", F.xxhash64("loan_id", "as_of_date"))
        .drop("_rn", "installment_no")
    )


def gen_fees_and_charges(sim: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    return sim.where(F.col("paid") & F.col("late")).select(
        "loan_id",
        F.lit("late_fee").alias("fee_type"),
        F.col("due_date").alias("assessed_date"),
        F.col("pay_date").alias("due_date"),
        "currency",
        _money(F.col("late_fee")).alias("amount"),
        F.lit("assessed").alias("status"),
    )


def gen_penalty_interest_events(sim: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    return sim.where(F.col("paid") & F.col("late")).select(
        "loan_id",
        F.col("due_date").alias("accrual_from_date"),
        F.col("pay_date").alias("accrual_to_date"),
        _rate(F.lit(cfg.penalty_rate_annual)).alias("penalty_rate"),
        "currency",
        _money(F.col("penalty")).alias("penalty_amount_accrued"),
        F.lit(False).alias("posted_flag"),
    )


def gen_collection_instructions(sim: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    """Instructions are appended BEFORE the skip-check (:568-583), so they
    exist for skipped-payment installments too — but not past the break.
    ``schedule_id`` stays NULL: the reference does not fetch it (:571)."""
    k, inst = F.col("loan_id"), F.col("installment_no")
    return sim.where(F.col("kept") & F.col("has_mandate")).select(
        "loan_id",
        F.col("loan_id").alias("mandate_id"),
        F.concat(F.lit("MSG-"), k, F.lit("-"), inst).alias("message_id"),
        F.concat(F.lit("PINF-"), k, F.lit("-"), inst).alias("payment_info_id"),
        F.col("due_date").alias("requested_collection_date"),
        F.col("total_due").alias("instructed_amount"),
        "currency",
        F.lit(_IBAN_MASK).alias("debtor_iban_masked"),
        F.lit(_CREDITOR_ID).alias("creditor_id"),
        F.concat(F.lit("E2E-"), k, F.lit("-"), inst).alias("end_to_end_id"),
        F.concat(F.lit("Installment "), inst).alias("remittance_information"),
        F.lit("sent").alias("instruction_status"),
    )


# ---------------------------------------------------------------------------
# G10 — forbearance / collections / write-offs (pg_oltp_synth.py:696-939)
# ---------------------------------------------------------------------------

def gen_forbearance(loans: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    s = cfg.seed
    k = F.col("loan_id")
    n_pick = int(cfg.n_loans * cfg.p_forbearance)  # :852 exact sample size
    return (
        _with_smallest_k_flag(
            loans.select("loan_id", "origination_date"),
            unit(s, "forb.pick", k),
            n_pick,
            "_picked",
        )
        .where(F.col("_picked"))
        .select(
            "loan_id",
            F.date_add(
                F.col("origination_date"), randint(s, "forb.delay", 30, 365, k)
            ).alias("event_date"),
            choice(
                s, "forb.type",
                ["payment_holiday", "term_extension", "rate_change", "refinance"], k,
            ).alias("event_type"),
            choice(
                s, "forb.reason",
                ["income_shock", "temporary_unemployment", "medical_expense", "other"], k,
            ).alias("reason_code"),
            F.lit(1).alias("old_schedule_version"),
            F.lit(2).alias("new_schedule_version"),
            bernoulli(s, "forb.cap", 0.5, k).alias("capitalization_flag"),
            F.lit("applied").alias("status"),
            F.lit("system").alias("approved_by"),
            F.current_timestamp().alias("approved_at"),
            F.lit("synthetic forbearance").alias("notes"),
        )
    )


def gen_collections_case(sim_attrs: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    s = cfg.seed
    k = F.col("loan_id")
    case_open = F.date_add(F.col("default_at"), randint(s, "case.open", 10, 40, k))
    return sim_attrs.where(F.col("in_default") & F.col("default_at").isNotNull()).select(
        k.alias("case_id"),  # deterministic surrogate
        "loan_id",
        case_open.alias("opened_date"),
        choice(s, "case.agent", ["agent_1", "agent_2", "legal_team"], k).alias(
            "assigned_to"
        ),
        choice(s, "case.stage", ["soft", "hard", "legal"], k).alias("stage"),
        F.date_add(case_open, randint(s, "case.contact", 5, 20, k)).alias(
            "last_contact_date"
        ),
        F.date_add(case_open, randint(s, "case.next", 21, 45, k)).alias(
            "next_action_date"
        ),
        choice(
            s, "case.outcome", ["promise_to_pay", "no_contact", "legal_notice"], k
        ).alias("outcome_code"),
    )


def gen_write_off_and_recovery(cases: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    s = cfg.seed
    k = F.col("loan_id")
    return cases.where(bernoulli(s, "wo.pick", 0.35, k)).select(
        k.alias("writeoff_id"),
        "loan_id",
        F.date_sub(_end_date(cfg), randint(s, "wo.age", 1, 180, k)).alias(
            "writeoff_date"
        ),
        _money(uniform(s, "wo.prin", 100.0, 2000.0, k)).alias(
            "writeoff_amount_principal"
        ),
        _money(uniform(s, "wo.int", 0.0, 300.0, k)).alias("writeoff_amount_interest"),
        _money(uniform(s, "wo.fees", 0.0, 200.0, k)).alias("writeoff_amount_fees"),
        bernoulli(s, "wo.expected", 0.5, k).alias("recovery_expected_flag"),
        F.col("case_id").alias("recovery_case_id"),
    )


def gen_audit_log(sim: DataFrame, mandates: DataFrame, cfg: OLTPSynthConfig) -> DataFrame:
    """G11 — mandate-created + installment-processed events (:491-492, :515, :694)."""
    mandate_events = mandates.select(
        F.lit("mandate").alias("entity_type"),
        F.col("mandate_reference").alias("entity_id"),
        F.lit("created").alias("event_type"),
        F.current_timestamp().alias("event_timestamp"),
        F.lit("system").alias("actor_id"),
        F.lit("synth").alias("source_system"),
        F.lit("direct debit mandate").alias("notes"),
    )
    inst_events = sim.where("paid").select(
        F.lit("loan").alias("entity_type"),
        F.col("loan_id").cast("string").alias("entity_id"),
        F.lit("installment_processed").alias("event_type"),
        F.current_timestamp().alias("event_timestamp"),
        F.lit("system").alias("actor_id"),
        F.lit("synth").alias("source_system"),
        F.format_string(
            "inst=%s due=%s pay=%s late=%s",
            F.col("installment_no").cast("string"),
            F.col("due_date").cast("string"),
            F.col("pay_date").cast("string"),
            F.col("late").cast("string"),
        ).alias("notes"),
    )
    return mandate_events.unionByName(inst_events)


# ---------------------------------------------------------------------------
# Entry point — phases in the reference's dependency order (:144-194)
# ---------------------------------------------------------------------------

def run_credit_oltp_synth(
    spark: SparkSession,
    cfg: OLTPSynthConfig | None = None,
    out_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Generate all 17 OLTP tables, each ``conform``ed to its declared
    schema; optionally persist as a parquet lake.

    The reference's per-phase commits become table writes; RETURNING-based id
    capture becomes deterministic id columns (S6/S8, SURVEY.md §2.1). With
    ``out_dir`` the generator's caches are released after the writes;
    without, they stay cached for the caller.
    """
    cfg = cfg or OLTPSynthConfig()

    loans = gen_loan_contract(spark, cfg).cache()
    sim_attrs = _loan_sim_attrs(loans, cfg).cache()
    schedule = gen_repayment_schedule(loans, cfg)
    sim = build_payment_sim(schedule, sim_attrs, cfg).cache()
    mandates = gen_direct_debit_mandate(sim_attrs, cfg)
    cases = gen_collections_case(sim_attrs, cfg)

    generated = {
        "borrower": gen_borrowers(spark, cfg),
        "application": gen_applications(spark, cfg),
        "loan_contract": loans.drop("_annual_rate", "_principal_raw"),
        "loan_disbursement": gen_loan_disbursement(loans, cfg),
        "interest_rate_schedule": gen_interest_rate_schedule(loans, cfg),
        "repayment_schedule": schedule,
        "repayment_payment": gen_repayment_payment(sim, cfg),
        "payment_allocation": gen_payment_allocation(sim, cfg),
        "arrears_dpd_status": gen_arrears_dpd_status(sim, cfg),
        "fees_and_charges": gen_fees_and_charges(sim, cfg),
        "penalty_interest_events": gen_penalty_interest_events(sim, cfg),
        "direct_debit_mandate": mandates,
        "repayment_collection_instruction": gen_collection_instructions(sim, cfg),
        "forbearance_restructure_event": gen_forbearance(loans, cfg),
        "collections_case": cases,
        "write_off_and_recovery": gen_write_off_and_recovery(cases, cfg),
        "audit_decision_and_ops_log": gen_audit_log(sim, mandates, cfg),
    }
    tables = {name: conform(df, name) for name, df in generated.items()}

    if out_dir:
        from credit_abs_oltp_to_mart_spark.sources.writers import write_oltp_tables

        try:
            write_oltp_tables(tables, out_dir)
        finally:
            for cached in (sim, sim_attrs, loans):
                cached.unpersist()
    return tables


if __name__ == "__main__":
    import argparse

    from credit_abs_oltp_to_mart_spark.session import get_spark

    ap = argparse.ArgumentParser(description="Generate synthetic credit OLTP parquet")
    ap.add_argument("out_dir")
    ap.add_argument("--loans", type=int, default=1500)
    ap.add_argument("--borrowers", type=int, default=2000)
    ap.add_argument("--applications", type=int, default=3000)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    cfg = OLTPSynthConfig(
        n_borrowers=args.borrowers,
        n_applications=args.applications,
        n_loans=args.loans,
        seed=args.seed,
    )
    run_credit_oltp_synth(get_spark(), cfg, args.out_dir)
