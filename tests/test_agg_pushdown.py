"""Aggregation pushdown over the encoded store: manifest sum_val answers
fully-covered chunks with zero blob reads; boundary chunks sum through
masked_sum's header-only Const/Null fast paths."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from compressed_vec_spark import vector as vec
from compressed_vec_spark.operators import filters
from compressed_vec_spark.sources import encoded_table
from compressed_vec_spark.sources.encoded_table import Leaf, chunk_stats_for
from compressed_vec_spark.spark import encode_job
from compressed_vec_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-aggpush-tests", cores=4, chunk_rows=1024)
    yield s
    s.stop()


def test_masked_sum_matches_numpy():
    rng = np.random.default_rng(11)
    v = np.concatenate([
        np.full(512, 42, np.uint64),                    # Const sections
        rng.integers(0, 1 << 16, 1000).astype(np.uint64),
        np.zeros(300, np.uint64),                       # Null sections
        (np.uint64(1) << np.uint64(63))
        + rng.integers(0, 1000, 700).astype(np.uint64),  # > int64 values
    ])
    buf = vec.encode_vector(v, "u64")
    lo, hi = 10, (1 << 63) + 500
    masks = filters.range_mask(buf, "u64", lo, hi)
    got, st = filters.masked_sum(buf, "u64", masks, return_stats=True)
    expect = int(v[(v >= lo) & (v <= hi)].astype(object).sum())
    assert got == expect          # exact beyond int64 range
    assert st["summed_without_decode"] >= 1  # Const/Null answered from header


def test_masked_sum_const_header_only():
    v = np.full(2048, 7, np.uint64)
    buf = vec.encode_vector(v, "u64")
    masks = filters.equals_mask(buf, "u64", 7)
    got, st = filters.masked_sum(buf, "u64", masks, return_stats=True)
    assert got == 7 * 2048
    assert st["summed_without_decode"] == st["sections"]  # zero decodes


def test_chunk_stats_sum_and_nulls():
    assert chunk_stats_for(pd.Series([1, 2, None, 4], dtype="Int64")) \
        == (1, 4, 7, 1)
    # int64 overflow -> sum recorded as unknown, never wrong
    big = pd.Series(np.array([(1 << 63) - 1, 1 << 62], dtype=np.int64))
    assert chunk_stats_for(big)[2] is None
    assert chunk_stats_for(pd.Series(["a", None]))[2] is None
    assert chunk_stats_for(pd.Series(["a", None]))[3] == 1


def test_pruned_sum_three_levels(spark, tmp_path):
    out = str(tmp_path / "enc")
    n = 20000
    df = (spark.range(0, n, 1, 8).select(
        F.col("id").alias("k"),
        (F.col("id") * 3 % 1000).alias("v"))
        .repartitionByRange(8, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None)

    lo, hi = 2500, 17000
    total, stats = encoded_table.pruned_sum(
        spark, out, [Leaf("k", "int64", "range", lo, hi)], "v")
    expect = sum(i * 3 % 1000 for i in range(lo, hi + 1))
    assert total == expect
    # all three levels engaged on a sorted id column
    assert stats["pruned_chunks"] > 0
    assert stats["covered_chunks"] > 0
    assert stats["scanned_chunks"] > 0
    assert (stats["pruned_chunks"] + stats["covered_chunks"]
            + stats["scanned_chunks"]) == stats["total_chunks"]

    # disjoint range: nothing read at all, and SQL's SUM of no rows
    total, stats = encoded_table.pruned_sum(
        spark, out, [Leaf("k", "int64", "range", 10**9, 2 * 10**9)], "v")
    assert total is None
    assert stats["covered_chunks"] == 0
    assert stats["scanned_chunks"] == 0


def test_pruned_sum_nullable(spark, tmp_path):
    out = str(tmp_path / "encn")
    n = 5000
    df = spark.range(0, n, 1, 4).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") % 100).alias("v"))
    encode_job.encode_table(spark, df, out, url_col=None, num_partitions=4)
    lo, hi = 1000, 4000
    total, _ = encoded_table.pruned_sum(
        spark, out, [Leaf("k", "int64", "range", lo, hi)], "v")
    expect = sum(i % 100 for i in range(lo, hi + 1) if i % 10 != 0)
    assert total == expect  # SQL SUM semantics: nulls contribute nothing


def test_decode_column_pruning(spark, tmp_path):
    """A projected decode must only read/shuffle the requested columns'
    blobs: the column-name filter reaches the chunks parquet scan."""
    out = str(tmp_path / "encp")
    df = spark.range(0, 4000, 1, 4).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b"),
        (F.col("id") % 5).alias("c"))
    encode_job.encode_table(spark, df, out, url_col=None, num_partitions=4)
    from compressed_vec_spark.spark import decode_job
    chunks = spark.read.parquet(out + "/chunks")
    dec = decode_job.decode_chunks(chunks, "a long, c long")
    assert dec.columns == ["a", "c"]
    agg = dec.agg(F.sum("a").alias("sa"), F.sum("c").alias("sc")).collect()[0]
    assert agg["sa"] == sum(range(4000))
    assert agg["sc"] == sum(i % 5 for i in range(4000))
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "column" in plan.split("PushedFilters")[1][:200]  # pruned at scan


def test_pruned_topk(spark, tmp_path):
    out = str(tmp_path / "enct")
    n = 20000
    df = (spark.range(0, n, 1, 8).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 9973).alias("v"))
        .repartitionByRange(8, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None)
    top, stats = encoded_table.pruned_topk(spark, out, "v", 10)
    expect = sorted((i * 7 % 9973 for i in range(n)), reverse=True)[:10]
    assert top == expect
    assert stats["scanned_chunks"] + stats["pruned_chunks"] \
        == stats["total_chunks"]
    # sorted column: only the tail chunk(s) can hold the top-k
    top_k, stats_k = encoded_table.pruned_topk(spark, out, "k", 5)
    assert top_k == list(range(n - 1, n - 6, -1))
    assert stats_k["pruned_chunks"] > 0


def test_manifest_min_max(spark, tmp_path):
    out = str(tmp_path / "encm")
    df = spark.range(0, 3000, 1, 4).select(
        F.col("id").alias("k"), (F.col("id") % 97 + 5).alias("v"))
    encode_job.encode_table(spark, df, out, url_col=None, num_partitions=4)
    assert encoded_table.manifest_min_max(spark, out, "v") == (5, 101)
    assert encoded_table.manifest_min_max(spark, out, "k") == (0, 2999)


def test_pruned_topk_refuses_non_int_columns(spark, tmp_path):
    import pandas as pd
    out = str(tmp_path / "topk_guard")
    pdf = pd.DataFrame({"k": range(500)})
    pdf["f"] = pdf["k"] / 3.0
    pdf["s"] = "x"
    encode_job.encode_table(spark, spark.createDataFrame(pdf).coalesce(1),
                            out, url_col=None)
    for col in ("f", "s"):
        with pytest.raises(ValueError, match="integer columns only"):
            encoded_table.pruned_topk(spark, out, col, 3)
