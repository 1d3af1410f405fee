"""Footer-statistics bounds for the two-pass prefix-sum scans:
parquet_col_minmax must agree with the data, _bucket_col must produce
the identical result with footer bounds, with a WIDER covering
interval, and with no bounds at all (offsets come from actual counts,
so bucket bounds only affect task sizing)."""

import os

import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.operators.scan import (
    _bucket_col, global_cumsum, parquet_col_minmax)
from compressed_vec_spark.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-scan-bounds", cores=4, chunk_rows=2048)
    yield s
    s.stop()


def test_footer_minmax_matches_aggregate(spark):
    path = os.path.join(SF_DIR, "orders.parquet")
    got = parquet_col_minmax(path, "o_orderkey")
    assert got is not None
    df = spark.read.parquet(path)
    row = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    assert got == (int(row[0]), int(row[1]))


def test_footer_minmax_missing_column_returns_none():
    path = os.path.join(SF_DIR, "orders.parquet")
    assert parquet_col_minmax(path, "no_such_column") is None
    assert parquet_col_minmax("s3://nowhere/x.parquet", "c") is None


def test_cumsum_identical_for_exact_wide_and_absent_bounds(spark):
    path = os.path.join(SF_DIR, "orders.parquet")
    df = (spark.read.parquet(path)
          .select("o_orderkey", F.col("o_custkey").cast("long").alias("v"))
          .limit(5000))
    exact = parquet_col_minmax(path, "o_orderkey")
    wide = (exact[0] - 1000, exact[1] + 100000)  # any covering interval

    def run(bounds):
        out = global_cumsum(df, ["o_orderkey"], "v", n_buckets=8,
                            bounds=bounds)
        return sorted((r["o_orderkey"], r["running_total"])
                      for r in out.collect())

    base = run(None)
    assert run(exact) == base
    assert run(wide) == base


def test_bucket_col_skips_aggregate_when_bounds_given(spark, monkeypatch):
    df = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))

    def boom(*a, **k):  # any aggregate action would call collect
        raise AssertionError("bounds given: no aggregate job expected")

    monkeypatch.setattr(type(df), "collect", boom, raising=True)
    bucket, n = _bucket_col(df, "o_orderkey", 16, bounds=(0, 159999))
    assert n >= 1  # expression built without touching the data


def test_footer_num_rows_matches_count(spark):
    from compressed_vec_spark.operators.scan import parquet_num_rows
    path = os.path.join(SF_DIR, "orders.parquet")
    got = parquet_num_rows(path)
    assert got == spark.read.parquet(path).count()
    assert parquet_num_rows("s3://nowhere/x.parquet") is None
