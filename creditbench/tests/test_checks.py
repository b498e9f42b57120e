import datetime as dt
import os

import pytest

import checks


def test_rewritten_counts_added_removed_and_changed_files():
    before = {"m.parquet/month=1/a": (10, 1), "m.parquet/month=2/b": (10, 1),
              "m.parquet/month=3/c": (10, 1)}
    after = {"m.parquet/month=1/a": (10, 1), "m.parquet/month=2/b": (10, 2),
             "m.parquet/month=3/d": (12, 3)}
    assert checks.rewritten(before, after) == (3, 2)
    assert checks.rewritten(before, before) == (0, 0)


def test_listing_skips_markers_and_checksums(tmp_path):
    part = tmp_path / "t.parquet" / "month=2025-01-01"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x" * 5)
    (part / ".part-0.parquet.crc").write_bytes(b"c")
    (tmp_path / "t.parquet" / "_SUCCESS").write_bytes(b"")
    files = checks.listing(str(tmp_path))
    assert list(files) == [os.path.join("t.parquet", "month=2025-01-01", "part-0.parquet")]
    assert checks.per_table(files) == {"t": (1, 5)}


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("creditbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_fingerprint_ignores_row_order_and_timestamps(spark):
    rows = [(i, f"l{i % 3}", float(i) / 7, dt.date(2025, 1 + i % 12, 1), None)
            for i in range(50)]
    schema = "loan_id long, bucket string, rate double, month date, note string"
    a = spark.createDataFrame(rows, schema)
    b = spark.createDataFrame(list(reversed(rows)), schema).repartition(3)
    stamped = b.withColumn("created_at", b["month"].cast("timestamp"))
    fa = checks.fingerprints({"m": a})["m"]
    assert fa[0] == 50
    assert checks.fingerprints({"m": b})["m"] == fa
    assert checks.fingerprints({"m": stamped})["m"] == fa

    changed = spark.createDataFrame(rows[:-1] + [(49, "l1", 7.0, dt.date(2025, 2, 1), "x")], schema)
    assert checks.fingerprints({"m": changed})["m"] != fa


def test_fingerprint_tells_shifted_nulls_apart(spark):
    schema = "a string, b string"
    one = spark.createDataFrame([("x", None)], schema)
    other = spark.createDataFrame([(None, "x")], schema)
    got = checks.fingerprints({"one": one, "other": other})
    assert got["one"] != got["other"]
