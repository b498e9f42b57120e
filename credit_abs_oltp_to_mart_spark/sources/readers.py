"""Readers — the reference's dbt ``source()`` scans (S1) re-expressed.

Storage is a parquet lake (one directory per OLTP table); dbt compiles
``source('credit_oltp', t)`` to a scan of ``credit_oltp.t``
(sources.yml:5-11), here a scan of ``<lake>/t.parquet``.

Schemas are enforced explicitly (schemas.py) — fixed DDL, never inferred,
matching the reference's Postgres DDL posture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from credit_abs_oltp_to_mart_spark import schemas


def read_oltp_table(
    spark: SparkSession, base_dir: str, table: str, file_format: str = "parquet"
) -> DataFrame:
    """Scan one table (S1); Catalyst pushes filters/pruning into the scan.

    A table ``schemas.ALL_OLTP_TABLES`` declares is read with that schema,
    so planning the read runs no Spark job; any other name (a mart, say)
    is inferred from its files. ``file_format`` may be any registered
    columnar source ("parquet", "orc" — both ship with Spark and both
    support predicate pushdown + column pruning); table directories carry
    the format as their extension.
    """
    reader = spark.read.format(file_format)
    if table in schemas.ALL_OLTP_TABLES:
        reader = reader.schema(schemas.ALL_OLTP_TABLES[table])
    return reader.load(f"{base_dir.rstrip('/')}/{table}.{file_format}")


def _landing_schema(table: str):
    """Table DDL plus a ``_corrupt_record`` capture column for quarantine."""
    import pyspark.sql.types as T

    schema = schemas.ALL_OLTP_TABLES[table]
    return T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )


def read_landing_csv(
    spark: SparkSession, path: str, table: str, header: bool = True
) -> DataFrame:
    """CSV landing-zone ingestion (S1 ext): explicit DDL, never inferSchema
    (inference is a second full scan at 100 TB), PERMISSIVE mode with
    malformed rows captured in ``_corrupt_record`` so bad data quarantines
    instead of failing the job. Splittable: uncompressed/bzip2 CSV reads in
    parallel per HDFS block."""
    return (
        spark.read.schema(_landing_schema(table))
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def read_landing_json(spark: SparkSession, path: str, table: str) -> DataFrame:
    """JSON-lines landing ingestion with the same explicit-schema +
    quarantine posture as the CSV path."""
    return (
        spark.read.schema(_landing_schema(table))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows, quarantined_rows) from a landing read — clean rows drop
    the capture column; quarantined rows keep only it (for replay).

    The parsed scan is persisted first: Spark disallows queries that touch
    only the corrupt-record column of a raw file scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the split
    reads the parse twice anyway."""
    from pyspark.sql import functions as F

    df = df.persist()
    clean = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.where(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return clean, bad


def read_sources(
    spark: SparkSession, base_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the analytics source tables (sources.yml:5-11) as a dict keyed by
    table name — the Spark analogue of dbt's source graph."""
    names = tables or list(schemas.ANALYTICS_SOURCES)
    return {t: read_oltp_table(spark, base_dir, t) for t in names}
