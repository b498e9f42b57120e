"""The dbt model DAG as explicit composition (reference E2, SURVEY.md §3).

dbt topologically orders stg_* -> fct_dpd_daily -> fct_npl_monthly (the other
fct_* depend only on stg_*); here the order is that of the mart table
``operators.marts.MARTS``, which names each mart's build function and inputs.
Catalyst replaces the Postgres planner end-to-end.

``build_marts`` caches the two reused intermediates (``SHARED``):
- the month-end snapshot (consumed by roll-rate, cure-rate AND vintage — the
  reference recomputes it 3x);
- the bucket transitions (consumed by roll-rate AND cure-rate).
``run_pipeline`` unpersists them once its writes are done, so a long-lived
session keeps no cached data from a build. At 100 TB, swap ``.cache()``
for a persisted intermediate table; the function composition is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from credit_abs_oltp_to_mart_spark.operators import marts as M
from credit_abs_oltp_to_mart_spark.operators import staging as S
from credit_abs_oltp_to_mart_spark.sources.readers import read_sources
from credit_abs_oltp_to_mart_spark.sources.writers import write_mart


def build_staging(sources: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """All 4 staging models from raw source DataFrames."""
    return {
        "stg_loan_contract": S.stg_loan_contract(sources["loan_contract"]),
        "stg_arrears_daily": S.stg_arrears_daily(sources["arrears_dpd_status"]),
        "stg_payments": S.stg_payments(sources["repayment_payment"]),
        "stg_writeoff_recovery": S.stg_writeoff_recovery(
            sources["write_off_and_recovery"]
        ),
    }


SHARED = ("int_month_end_snapshot", "int_bucket_transitions")


def build_marts(staging: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """All 7 fact models from the staging layer, one per ``M.MARTS`` entry,
    followed by the intermediates they share (``SHARED``). Those are
    cached lazily; ``release`` unpersists them."""
    month_end = M.int_month_end_snapshot(staging["stg_arrears_daily"]).cache()
    frames = {
        **staging,
        "int_month_end_snapshot": month_end,
        "int_bucket_transitions": M.int_bucket_transitions(month_end).cache(),
    }
    for name, spec in M.MARTS.items():
        frames[name] = spec.build(*(frames[i] for i in spec.inputs))
    return {name: frames[name] for name in (*M.MARTS, *SHARED)}


def release(frames: dict[str, DataFrame]) -> None:
    """Unpersist the intermediates ``build_marts`` cached, dependents first."""
    for name in reversed(SHARED):
        frames[name].unpersist()


def run_pipeline(
    spark: SparkSession,
    src_dir: str,
    out_dir: str | None = None,
    collect_metrics: dict[str, dict[str, float]] | None = None,
) -> dict[str, DataFrame]:
    """End-to-end: read OLTP sources -> staging -> marts (-> optional write).

    The Spark analogue of ``dbt run`` against the project
    (dbt/credit_mart/models/). Pass a dict as ``collect_metrics`` to
    receive per-mart in-flight quality metrics (row counts, key nulls) —
    ``df.observe`` accumulates them DURING the write, so monitoring costs
    zero extra passes over 100 TB. With ``out_dir`` the shared
    intermediates are released after the writes; without, they stay cached
    for the caller."""
    staging = build_staging(read_sources(spark, src_dir))
    mart_dfs = build_marts(staging)
    if out_dir:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        observations: dict[str, Observation] = {}
        try:
            for name in M.MARTS:
                df = mart_dfs[name]
                if collect_metrics is not None:
                    obs = Observation(name)
                    first_col = df.columns[0]
                    df = df.observe(
                        obs,
                        F.count(F.lit(1)).alias("n_rows"),
                        F.coalesce(
                            F.sum(F.col(first_col).isNull().cast("int")),
                            F.lit(0),
                        ).alias("first_col_nulls"),
                    )
                    observations[name] = obs
                write_mart(df, out_dir, name)
        finally:
            release(mart_dfs)
        for name, obs in observations.items():
            collect_metrics[name] = dict(obs.get)
    return {**staging, **mart_dfs}


if __name__ == "__main__":
    import argparse

    from credit_abs_oltp_to_mart_spark.session import get_spark

    ap = argparse.ArgumentParser(
        description="Run staging + marts over an OLTP parquet lake "
        "(the Spark analogue of `dbt run`)"
    )
    ap.add_argument("src_dir", help="OLTP lake directory (17 *.parquet tables)")
    ap.add_argument("out_dir", help="output directory for the 7 fact tables")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    metrics: dict[str, dict[str, float]] = {}
    run_pipeline(
        get_spark(master=args.master),
        args.src_dir,
        out_dir=args.out_dir,
        collect_metrics=metrics,
    )
    for name, m in sorted(metrics.items()):
        print(f"{name}: rows={int(m['n_rows'])} key_nulls={int(m['first_col_nulls'])}")
