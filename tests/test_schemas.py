"""The OLTP contract: ``schemas.py`` is the only description of the 17
tables. The generator writes exactly the declared shapes, and reading the
declared sources plans without running a Spark job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from credit_abs_oltp_to_mart_spark.generator import run_credit_oltp_synth
from credit_abs_oltp_to_mart_spark.schemas import ALL_OLTP_TABLES, conform
from credit_abs_oltp_to_mart_spark.sources.readers import read_sources
from tests.conftest import TEST_CFG


def _shape(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_written_lake_has_declared_shapes(spark, oltp_dir):
    got = {
        t: _shape(spark.read.parquet(f"{oltp_dir}/{t}.parquet").schema)
        for t in ALL_OLTP_TABLES
    }
    assert got == {t: _shape(s) for t, s in ALL_OLTP_TABLES.items()}


def test_generated_tables_have_declared_shapes(spark):
    tables = run_credit_oltp_synth(spark, TEST_CFG)
    got = {t: _shape(df.schema) for t, df in tables.items()}
    assert got == {t: _shape(s) for t, s in ALL_OLTP_TABLES.items()}


def test_read_sources_runs_no_job(spark, oltp_dir):
    sc = spark.sparkContext
    group = "test_read_sources_runs_no_job"
    sc.setJobGroup(group, "read_sources without an action")
    try:
        read_sources(spark, oltp_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_conform_rejects_undeclared_column(spark):
    df = spark.range(1).select(
        F.col("id").alias("borrower_id"), F.lit("x").alias("nickname")
    )
    with pytest.raises(ValueError, match="nickname"):
        conform(df, "borrower")
