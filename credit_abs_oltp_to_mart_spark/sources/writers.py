"""Writers — model materialization (S3) and the batched-INSERT sink (S4).

The reference materializes every dbt model as a table in ``credit_mart`` and
loads OLTP rows with paged ``execute_values`` INSERTs
(pg_oltp_synth.py:118-139). Spark-side: ``df.write.parquet`` (Spark batches
and parallelizes natively); each mart is partitioned by the key its
``operators.marts.MARTS`` entry declares (``month`` for the monthly marts)
so downstream reads partition-prune — the 100 TB analogue of an index on the
month column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from credit_abs_oltp_to_mart_spark.operators.marts import MARTS


def write_mart(df: DataFrame, out_dir: str, name: str) -> None:
    """Materialize one model (S3); a mart is partitioned by its ``MARTS``
    key, derived when the mart lacks it (``fct_dpd_daily``'s
    ``as_of_month``, so time-bounded reads prune directories and DPP fires
    on joins)."""
    spec = MARTS.get(name)
    writer = df.write if spec is None else spec.keyed(df).write.partitionBy(spec.key)
    writer.mode("overwrite").parquet(f"{out_dir.rstrip('/')}/{name}.parquet")


def write_oltp_tables(
    tables: dict[str, DataFrame], out_dir: str, file_format: str = "parquet"
) -> None:
    """Persist generated OLTP tables (S4)."""
    for name, df in tables.items():
        df.write.mode("overwrite").format(file_format).save(
            f"{out_dir.rstrip('/')}/{name}.{file_format}"
        )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize as a BUCKETED managed table (co-located join layout).

    Bucketing pre-shuffles the table ONCE at write time: every later
    equi-join or aggregation on ``bucket_cols`` between tables bucketed the
    same way runs with zero exchanges (Spark trusts HashPartitioning from
    the bucket spec). This is the 100 TB answer for the recurring
    ``arrears_dpd_status ⋈ loan_contract`` / payments joins: bucket both
    sides by ``loan_id`` at ingestion, and every mart build afterwards
    skips the dominant-table shuffle. ``sort_cols`` additionally pre-sorts
    within buckets so window functions over (bucket_col, sort_col) skip
    their sort.

    Requires a session with a warehouse (``saveAsTable``); plain
    directory-parquet cannot carry the bucket spec.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def write_range_partitioned(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_files: int = 32,
    file_format: str = "parquet",
) -> None:
    """Range-partitioned, within-file-sorted layout for data skipping.

    ``repartitionByRange`` samples the sort column and assigns disjoint
    value ranges to output files; ``sortWithinPartitions`` orders rows
    inside each. The result: every file's footer min/max for ``sort_col``
    is a tight disjoint range, so a point or range predicate prunes to
    the one file (and row groups within it) that can match — the poor
    man's Z-order for single-column access paths, free at read time (scan
    skipping uses the stats that parquet/ORC already write). Typical
    target: ``as_of_date`` on the daily-arrears fact, event time on
    telemetry."""
    (
        df.repartitionByRange(n_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .format(file_format)
        .save(path)
    )


def write_zorder(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 32,
    bits: int = 16,
    file_format: str = "parquet",
) -> None:
    """Z-order (bit-interleaved) multi-column layout for data skipping.

    ``write_range_partitioned`` gives tight per-file min/max on ONE
    column; a second column's stats stay global-width, so only one access
    path prunes. Z-ordering interleaves the bits of each column's rank so
    files are clustered in ALL listed dimensions at once: a predicate on
    any single column still skips ~(1 - 1/2^(bits_used/n_cols)) of files.

    Each column scales to a ``bits``-bit integer via one global min/max
    aggregation (a cheap partial-aggregated pass; no global sort, no
    single-partition window — this must work on a 100 TB write). Uniform
    scaling is distribution-sensitive: heavy skew wastes high bits, which
    degrades pruning but never correctness; swap in approxQuantile
    boundaries per column if a production table needs rank scaling. The
    z-value itself is a pure column expression (shiftleft/or folds) — no
    UDF on the write path.
    """
    # keep every interleaved bit position inside a signed 64-bit long:
    # bits*len(cols) > 63 would silently wrap shiftleft and collide high
    # bits, degrading pruning without any error
    bits = min(bits, 63 // max(len(cols), 1))
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx{i}") for i, c in enumerate(cols)],
    ).first()
    zdf = df
    rank_cols = []
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn{i}"], stats[f"mx{i}"]
        span = (mx - mn) or 1.0
        q = F.least(
            F.floor(
                (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * (1 << bits)
            ).cast("long"),
            F.lit((1 << bits) - 1),
        )
        rank_cols.append(f"__r{i}")
        zdf = zdf.withColumn(f"__r{i}", F.greatest(q, F.lit(0)))
    # interleave: bit b of rank i lands at position b*n_cols + i
    n = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i in range(n):
            bit = F.shiftright(F.col(f"__r{i}"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    zdf = zdf.withColumn("__z", z)
    (
        zdf.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *rank_cols)
        .write.mode("overwrite")
        .format(file_format)
        .save(path)
    )
