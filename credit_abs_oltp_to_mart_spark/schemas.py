"""Fixed StructType schemas for the credit-OLTP data model.

The reference keeps its DDL in Postgres (ER diagrams
``postgres/credit_oltp/oltp_source_table.png`` and
``postgres/credit_marts/fact_dim.png``); column lists/types here are
reconstructed from the generator INSERT lists
(``airflows/generator/pg_oltp_synth.py``) and the staging casts
(``dbt/credit_mart/models/staging/*.sql``).

Type mapping (SURVEY.md §1.2): bigint→Long, int→Integer,
numeric(money)→Decimal(18,2), numeric(rate)→Decimal(10,6), date→Date,
timestamp→Timestamp, boolean→Boolean, text→String.

These StructTypes are the only description of the 17 tables: the generator
``conform``s every table it writes to them, and the readers read with them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MONEY = T.DecimalType(18, 2)
RATE = T.DecimalType(10, 6)


def _s(fields: list[tuple[str, T.DataType, bool]]) -> T.StructType:
    return T.StructType([T.StructField(n, t, nullable) for n, t, nullable in fields])


# ---------------------------------------------------------------------------
# enums / constants (pg_oltp_synth.py:21-60, 228-232, 314, 857-858)
# ---------------------------------------------------------------------------

CURRENCIES = ["EUR", "USD", "GBP", "CHF", "SEK", "NOK", "DKK", "PLN", "CZK"]
PRODUCT_TYPES = [
    "consumer_loan",
    "secured_consumer_loan",
    "home_improvement",
    "buy_to_let",
    "auto_loan",
    "education_loan",
]
REPAYMENT_METHODS = ["annuity", "linear", "interest_only", "balloon"]
PAYMENT_CHANNELS = ["direct_debit", "bank_transfer", "cash", "card", "internal"]
DPD_BUCKETS = ["0", "1-30", "31-60", "61-90", "90+"]
COLLECTION_STAGES = ["soft", "hard", "legal"]
COLLECTION_OUTCOMES = ["promise_to_pay", "no_contact", "legal_notice"]
BORROWER_ID_FLOOR = 10_000          # pg_oltp_synth.py:36
APPLICATION_ID_FLOOR = 100_000_000  # pg_oltp_synth.py:37

# ---------------------------------------------------------------------------
# the 6 analytics source tables (sources.yml:5-11)
# ---------------------------------------------------------------------------

LOAN_CONTRACT = _s([
    ("loan_id", T.LongType(), False),
    ("application_id", T.LongType(), True),
    ("borrower_id", T.LongType(), True),
    ("product_type", T.StringType(), True),
    ("currency", T.StringType(), True),
    ("origination_date", T.DateType(), True),
    ("disbursement_date", T.DateType(), True),
    ("maturity_date", T.DateType(), True),
    ("principal_original", MONEY, True),
    ("principal_current", MONEY, True),
    ("term_months", T.IntegerType(), True),
    ("interest_rate_type", T.StringType(), True),
    ("interest_rate_index", T.StringType(), True),
    ("interest_rate_margin", RATE, True),
    ("interest_rate_current", RATE, True),
    ("apr_effective", RATE, True),
    ("day_count_convention", T.StringType(), True),
    ("payment_frequency", T.StringType(), True),
    ("repayment_method", T.StringType(), True),
    ("installment_amount", MONEY, True),
    ("payment_day_of_month", T.IntegerType(), True),
    ("grace_period_months", T.IntegerType(), True),
    ("status", T.StringType(), True),
    ("created_at", T.TimestampType(), True),
])

ARREARS_DPD_STATUS = _s([
    ("arrears_id", T.LongType(), True),
    ("loan_id", T.LongType(), False),
    ("as_of_date", T.DateType(), False),
    ("days_past_due", T.IntegerType(), True),
    ("past_due_amount_total", MONEY, True),
    ("past_due_principal", MONEY, True),
    ("past_due_interest", MONEY, True),
    ("past_due_fees", MONEY, True),
    ("oldest_unpaid_due_date", T.DateType(), True),
    ("arrears_bucket", T.StringType(), True),
    ("early_arrears_flag", T.BooleanType(), True),
    ("default_flag", T.BooleanType(), True),
    ("nonperforming_flag", T.BooleanType(), True),
    ("probation_flag", T.BooleanType(), True),
    ("cure_date", T.DateType(), True),
])

REPAYMENT_PAYMENT = _s([
    ("payment_id", T.LongType(), False),
    ("loan_id", T.LongType(), False),
    ("payment_date", T.DateType(), True),
    ("value_date", T.DateType(), True),
    ("currency", T.StringType(), True),
    ("amount_received", MONEY, True),
    ("payment_channel", T.StringType(), True),
    ("external_reference", T.StringType(), True),
    ("bank_statement_entry_id", T.StringType(), True),
    ("status", T.StringType(), True),
    ("return_reason_code", T.StringType(), True),
    ("reversal_reference", T.StringType(), True),
])

REPAYMENT_SCHEDULE = _s([
    ("schedule_id", T.LongType(), True),
    ("loan_id", T.LongType(), False),
    ("installment_no", T.IntegerType(), False),
    ("due_date", T.DateType(), False),
    ("currency", T.StringType(), True),
    ("principal_due", MONEY, True),
    ("interest_due", MONEY, True),
    ("fees_due", MONEY, True),
    ("penalty_interest_due", MONEY, True),
    ("total_due", MONEY, True),
    ("opening_principal_balance", MONEY, True),
    ("closing_principal_balance", MONEY, True),
    ("schedule_status", T.StringType(), True),
    ("schedule_version", T.IntegerType(), True),
])

WRITE_OFF_AND_RECOVERY = _s([
    ("writeoff_id", T.LongType(), True),
    ("loan_id", T.LongType(), False),
    ("writeoff_date", T.DateType(), True),
    ("writeoff_amount_principal", MONEY, True),
    ("writeoff_amount_interest", MONEY, True),
    ("writeoff_amount_fees", MONEY, True),
    ("recovery_expected_flag", T.BooleanType(), True),
    ("recovery_case_id", T.LongType(), True),
    ("recovery_payment_id", T.LongType(), True),
    ("recovery_amount", MONEY, True),
    ("recovery_date", T.DateType(), True),
])

COLLECTIONS_CASE = _s([
    ("case_id", T.LongType(), True),
    ("loan_id", T.LongType(), False),
    ("opened_date", T.DateType(), True),
    ("assigned_to", T.StringType(), True),
    ("stage", T.StringType(), True),
    ("last_contact_date", T.DateType(), True),
    ("next_action_date", T.DateType(), True),
    ("outcome_code", T.StringType(), True),
    ("closed_date", T.DateType(), True),
    ("close_reason", T.StringType(), True),
])

# ---------------------------------------------------------------------------
# remaining OLTP tables (generator-only surface; pg_oltp_synth.py INSERT lists)
# ---------------------------------------------------------------------------

BORROWER = _s([
    ("borrower_id", T.LongType(), False),
    ("full_name", T.StringType(), True),
    ("date_of_birth", T.DateType(), True),
    ("national_id_masked", T.StringType(), True),
    ("email", T.StringType(), True),
    ("phone", T.StringType(), True),
    ("address_line", T.StringType(), True),
    ("city", T.StringType(), True),
    ("country_code", T.StringType(), True),
    ("created_at", T.TimestampType(), True),
])

APPLICATION = _s([
    ("application_id", T.LongType(), False),
    ("borrower_id", T.LongType(), True),
    ("application_date", T.DateType(), True),
    ("requested_amount", MONEY, True),
    ("requested_term_months", T.IntegerType(), True),
    ("product_type", T.StringType(), True),
    ("channel", T.StringType(), True),
    ("status", T.StringType(), True),
    ("decision_date", T.DateType(), True),
    ("created_at", T.TimestampType(), True),
])

LOAN_DISBURSEMENT = _s([
    ("loan_id", T.LongType(), False),
    ("disbursement_seq_no", T.IntegerType(), True),
    ("disbursement_date", T.DateType(), True),
    ("disbursement_amount", MONEY, True),
    ("currency", T.StringType(), True),
    ("disbursement_method", T.StringType(), True),
    ("payout_account_iban_masked", T.StringType(), True),
    ("status", T.StringType(), True),
])

INTEREST_RATE_SCHEDULE = _s([
    ("loan_id", T.LongType(), False),
    ("effective_from_date", T.DateType(), True),
    ("effective_to_date", T.DateType(), True),
    ("rate_type", T.StringType(), True),
    ("index_name", T.StringType(), True),
    ("index_tenor", T.StringType(), True),
    ("margin", RATE, True),
    ("nominal_rate", RATE, True),
    ("rate_source", T.StringType(), True),
])

PAYMENT_ALLOCATION = _s([
    ("payment_id", T.LongType(), False),
    ("loan_id", T.LongType(), False),
    ("allocated_principal", MONEY, True),
    ("allocated_interest", MONEY, True),
    ("allocated_fees", MONEY, True),
    ("allocated_penalty_interest", MONEY, True),
    ("allocated_other", MONEY, True),
    ("allocation_rule", T.StringType(), True),
])

FEES_AND_CHARGES = _s([
    ("loan_id", T.LongType(), False),
    ("fee_type", T.StringType(), True),
    ("assessed_date", T.DateType(), True),
    ("due_date", T.DateType(), True),
    ("currency", T.StringType(), True),
    ("amount", MONEY, True),
    ("tax_amount", MONEY, True),
    ("status", T.StringType(), True),
    ("related_payment_id", T.LongType(), True),
    ("waiver_reason_code", T.StringType(), True),
])

PENALTY_INTEREST_EVENTS = _s([
    ("loan_id", T.LongType(), False),
    ("accrual_from_date", T.DateType(), True),
    ("accrual_to_date", T.DateType(), True),
    ("penalty_rate", RATE, True),
    ("currency", T.StringType(), True),
    ("penalty_amount_accrued", MONEY, True),
    ("posted_flag", T.BooleanType(), True),
    ("posted_at", T.TimestampType(), True),
])

DIRECT_DEBIT_MANDATE = _s([
    ("mandate_id", T.LongType(), False),
    ("borrower_id", T.LongType(), True),
    ("loan_id", T.LongType(), True),
    ("mandate_reference", T.StringType(), True),
    ("mandate_signature_date", T.DateType(), True),
    ("mandate_status", T.StringType(), True),
    ("sequence_type", T.StringType(), True),
    ("debtor_name", T.StringType(), True),
    ("debtor_iban_masked", T.StringType(), True),
    ("debtor_bic", T.StringType(), True),
    ("creditor_id", T.StringType(), True),
    ("creditor_name", T.StringType(), True),
    ("requested_collection_day", T.IntegerType(), True),
])

REPAYMENT_COLLECTION_INSTRUCTION = _s([
    ("loan_id", T.LongType(), False),
    ("schedule_id", T.LongType(), True),
    ("mandate_id", T.LongType(), True),
    ("message_id", T.StringType(), True),
    ("payment_info_id", T.StringType(), True),
    ("requested_collection_date", T.DateType(), True),
    ("instructed_amount", MONEY, True),
    ("currency", T.StringType(), True),
    ("debtor_iban_masked", T.StringType(), True),
    ("creditor_id", T.StringType(), True),
    ("end_to_end_id", T.StringType(), True),
    ("remittance_information", T.StringType(), True),
    ("instruction_status", T.StringType(), True),
])

FORBEARANCE_RESTRUCTURE_EVENT = _s([
    ("loan_id", T.LongType(), False),
    ("event_date", T.DateType(), True),
    ("event_type", T.StringType(), True),
    ("reason_code", T.StringType(), True),
    ("old_schedule_version", T.IntegerType(), True),
    ("new_schedule_version", T.IntegerType(), True),
    ("capitalization_flag", T.BooleanType(), True),
    ("status", T.StringType(), True),
    ("approved_by", T.StringType(), True),
    ("approved_at", T.TimestampType(), True),
    ("notes", T.StringType(), True),
])

AUDIT_DECISION_AND_OPS_LOG = _s([
    ("entity_type", T.StringType(), True),
    ("entity_id", T.StringType(), True),
    ("event_type", T.StringType(), True),
    ("event_timestamp", T.TimestampType(), True),
    ("actor_id", T.StringType(), True),
    ("source_system", T.StringType(), True),
    ("before_hash", T.StringType(), True),
    ("after_hash", T.StringType(), True),
    ("notes", T.StringType(), True),
])

# analytics sources keyed by name (sources.yml:5-11)
ANALYTICS_SOURCES = {
    "loan_contract": LOAN_CONTRACT,
    "arrears_dpd_status": ARREARS_DPD_STATUS,
    "repayment_payment": REPAYMENT_PAYMENT,
    "repayment_schedule": REPAYMENT_SCHEDULE,
    "write_off_and_recovery": WRITE_OFF_AND_RECOVERY,
    "collections_case": COLLECTIONS_CASE,
}

ALL_OLTP_TABLES = {
    **ANALYTICS_SOURCES,
    "borrower": BORROWER,
    "application": APPLICATION,
    "loan_disbursement": LOAN_DISBURSEMENT,
    "interest_rate_schedule": INTEREST_RATE_SCHEDULE,
    "payment_allocation": PAYMENT_ALLOCATION,
    "fees_and_charges": FEES_AND_CHARGES,
    "penalty_interest_events": PENALTY_INTEREST_EVENTS,
    "direct_debit_mandate": DIRECT_DEBIT_MANDATE,
    "repayment_collection_instruction": REPAYMENT_COLLECTION_INSTRUCTION,
    "forbearance_restructure_event": FORBEARANCE_RESTRUCTURE_EVENT,
    "audit_decision_and_ops_log": AUDIT_DECISION_AND_OPS_LOG,
}


def conform(df: DataFrame, table: str) -> DataFrame:
    """``df`` in ``table``'s declared shape: the declared columns in declared
    order, each cast to its declared type, and a typed NULL for each
    declared column ``df`` lacks (the columns the reference leaves empty).
    A column the schema does not declare raises ``ValueError``."""
    schema, have = ALL_OLTP_TABLES[table], df.columns
    undeclared = [c for c in have if c not in schema.fieldNames()]
    if undeclared:
        raise ValueError(f"{table}: undeclared columns {undeclared}")
    return df.select(*[
        (F.col(f.name) if f.name in have else F.lit(None))
        .cast(f.dataType)
        .alias(f.name)
        for f in schema.fields
    ])
