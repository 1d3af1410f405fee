"""Distributed order-dependent scans: running totals without a
single-partition bottleneck.

Pattern (the classic two-pass prefix sum, Spark-shaped):
  1. pick explicit range boundaries for the order key (approxQuantile,
     collected once as literals — deterministic across the two passes,
     unlike repartitionByRange's per-job sampling),
  2. pass 1: tiny per-bucket aggregate (count / sum) -> exclusive
     prefix offsets on the driver (B rows),
  3. pass 2: per-bucket applyInPandas adds the bucket offset to the
     within-bucket cumsum.

Scales as one shuffle on the bucket key + a B-row collect; B ~ number
of partitions, so a 1000-executor run uses B=4096 buckets and the
driver never sees more than that.
"""

from __future__ import annotations

import os
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _footers(path: str):
    """pyarrow ParquetFile handles for a local parquet file or
    directory of part files, for metadata-only reads (the
    Iceberg-metadata pattern _schema_rows/_log_rows already use for
    store metadata).  None for non-local paths or an empty directory —
    callers fall back to a Spark job."""
    import pyarrow.parquet as pq
    local = path[7:] if path.startswith("file://") else path
    if "://" in local:
        return None
    files = (sorted(os.path.join(local, f) for f in os.listdir(local)
                    if f.endswith(".parquet"))
             if os.path.isdir(local) else [local])
    return [pq.ParquetFile(f) for f in files] or None


def parquet_col_minmax(path: str, col: str) -> tuple[int, int] | None:
    """(min, max) of an integer column from parquet ROW-GROUP FOOTER
    statistics — no Spark job, no data read.  Returns None when any
    row group lacks stats, the column is absent or the path is not
    local — callers fall back to an aggregate.  Footer stats are exact
    bounds per the parquet spec, and bucket bounds only need to COVER
    the data (offsets always come from actual counts)."""
    try:
        mn = mx = None
        for pf in _footers(path) or ():
            if col not in pf.schema_arrow.names:
                return None
            ci = pf.schema_arrow.names.index(col)
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        return None if mn is None else (int(mn), int(mx))
    except Exception:
        return None


def parquet_num_rows(path: str) -> int | None:
    """Total row count from parquet file footers — no Spark job, no
    data read.  Returns None for non-local paths or on any metadata
    error; callers fall back to a default."""
    try:
        pfs = _footers(path)
        return None if pfs is None else sum(pf.metadata.num_rows
                                            for pf in pfs)
    except Exception:
        return None


def _bucket_col(df: DataFrame, order_col: str, n_buckets: int,
                mode: str = "minmax",
                bounds: tuple[int, int] | None = None):
    """Monotonic bucket expression over order_col.

    mode="minmax" (default): equal-WIDTH buckets from one narrow
    min/max aggregate — a single cheap JVM pass and a one-division
    bucket expression.  Bucket balance only affects task sizing, never
    correctness (offsets come from actual per-bucket counts), and the
    engine's order keys are near-uniform; pass mode="quantile" for
    heavily skewed keys to get equal-HEIGHT buckets from an
    approxQuantile sketch (an extra pass + an O(n_buckets) comparison
    chain per row).  `bounds=(mn, mx)` skips the aggregate entirely —
    e.g. from parquet_col_minmax's footer stats; any covering interval
    is valid."""
    if mode == "minmax":
        if bounds is not None:
            mn, mx = bounds
        else:
            r = df.agg(F.min(order_col).alias("mn"),
                       F.max(order_col).alias("mx")).collect()[0]
            mn, mx = r["mn"], r["mx"]
        if mn is None or mx is None or mx <= mn:
            return F.lit(0).alias("__bucket"), 1
        mn_i, mx_i = int(mn), int(mx)
        # integer ceil-div width: exact, monotonic, overflow-free
        width = max((mx_i - mn_i + n_buckets) // n_buckets, 1)
        bucket = F.expr(f"CAST((CAST({order_col} AS BIGINT) - {mn_i}) "
                        f"DIV {width} AS INT)")
        return bucket.alias("__bucket"), (mx_i - mn_i) // width + 1
    bounds = df.approxQuantile(
        order_col, [i / n_buckets for i in range(1, n_buckets)], 0.001)
    bounds = sorted(set(bounds))
    col = F.col(order_col)
    bucket = reduce(lambda acc, ib: acc + (col > F.lit(ib[1])).cast("int"),
                    enumerate(bounds), F.lit(0))
    return bucket.alias("__bucket"), len(bounds) + 1


def global_cumsum(df: DataFrame, order_cols: list[str], value_col: str,
                  n_buckets: int = 64, out_col: str = "running_total",
                  bounds: tuple[int, int] | None = None) -> DataFrame:
    """Adds `out_col`: running sum of value_col in (order_cols) order —
    DeltaSink's cumulative restore (reference src/nibblepacking.rs:
    239-279) as a distributed scan."""
    bucket, _ = _bucket_col(df, order_cols[0], n_buckets, bounds=bounds)
    d = df.withColumn("__bucket", bucket)
    sums = {r["__bucket"]: r["s"] for r in
            d.groupBy("__bucket").agg(F.sum(value_col).alias("s")).collect()}
    offsets = {}
    acc = 0
    for b in sorted(sums):
        offsets[b] = acc
        acc += sums[b] or 0

    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in df.schema.fields) + f", {out_col} long"

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").drop(columns="__bucket")
        pdf[out_col] = pdf[value_col].to_numpy(np.int64).cumsum() + offsets[key[0]]
        return pdf

    return d.groupBy("__bucket").applyInPandas(fn, out_schema)
