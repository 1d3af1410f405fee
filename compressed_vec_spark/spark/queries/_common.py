"""Helpers every query family shares: input reads, the session-cached
encoded stores, the write-once generated fixtures and the one-row
scalar result."""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _table_minmax(sf_dir: str, table: str, col: str):
    """(min, max) of an input table's integer column from parquet
    footer statistics — saves the two-pass scans' bounds-probe job (no
    data read); None (missing stats / remote path) falls back to the
    aggregate inside _bucket_col."""
    from ...operators.scan import parquet_col_minmax
    return parquet_col_minmax(
        os.path.join(sf_dir, f"{table}.parquet"), col)


_SCAN_UNITS_CACHE: dict[str, int] = {}


def _scan_units(path: str, cap: int = 256) -> int:
    """Number of independently readable units (files x row groups) of a
    parquet table — the TRUE upper bound on scan parallelism (byte-range
    splits of a single-row-group file all collapse onto one reader).
    Bounded metadata walk, memoized per path (input LAYOUT, not data)."""
    if path in _SCAN_UNITS_CACHE:
        return _SCAN_UNITS_CACHE[path]
    import glob as _glob
    import pyarrow.parquet as _pq
    files = (_glob.glob(os.path.join(path, "*.parquet"))
             if os.path.isdir(path) else [path])
    total = 0
    for f in files:
        if total >= cap:
            break
        try:
            total += _pq.ParquetFile(f).metadata.num_row_groups
        except Exception:
            total += 1
    _SCAN_UNITS_CACHE[path] = total
    return total


def _read_spread(spark: SparkSession, sf_dir: str, table: str,
                 keys: list[str] | None = None,
                 min_units: int | None = None) -> DataFrame:
    """Read for PER-ROW (order-free) kernels, with the guide §2.5
    unsplittable-input remedy: when the table's real scan parallelism
    (files x row groups) is below the gate — the single-file,
    single-row-group shape of the local test tables gives ONE reader
    regardless of byte-range splits — one repartition of the
    (column-pruned) rows spreads the Python kernel over every core.

    Default gate (min_units=3) spreads only near-serial scans: a
    measured 6-unit 6M-row table LOST time to the round-robin spread
    (sort-before-repartition, §2.5) while 1-unit tables gained 2-4x.
    Pass `keys` to use hash partitioning (no pre-sort — cheaper for
    wide tables) and a higher `min_units` gate when the kernel is
    expensive enough to want the full grid.  A production layout with
    enough files/row groups skips the shuffle entirely, so this is
    layout-adaptive, not a local-mode constant.  Never use for
    order- or grouping-sensitive kernels (RLE runs, bucketed scans)."""
    df = _read(spark, sf_dir, table)
    path = os.path.join(sf_dir, f"{table}.parquet")
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    gate = 3 if min_units is None else min_units
    if _scan_units(path) < min(gate, target):
        if keys:
            return df.repartition(target, *[F.col(k) for k in keys])
        return df.repartition(target)
    return df


def _scratch_dir(spark: SparkSession, prefix: str) -> str:
    """Scratch path for queries that materialize an encoded store.
    On a cluster set `spark.cvx.scratchDir` (or $CVX_SCRATCH_DIR) to a
    shared filesystem (HDFS/S3A); local tempdirs only work in local
    mode where driver and executors share a machine."""
    base = (spark.conf.get("spark.cvx.scratchDir", None)
            or os.environ.get("CVX_SCRATCH_DIR"))
    if base:
        import uuid
        return os.path.join(base, f"{prefix}{uuid.uuid4().hex[:12]}")
    import tempfile
    return tempfile.mkdtemp(prefix=prefix)


_STORE_CACHE: dict[tuple, str] = {}


def _store(spark: SparkSession, sf_dir: str, name: str,
           build: Callable[[str], object]) -> str:
    """Session-cached encoded store: `build(out)` writes it once per
    (SparkContext, sf_dir, name) into a `cvx_<name>_` scratch dir, and
    every later query of the session reads that build (temp dirs live
    until process exit, like any Spark scratch)."""
    key = (id(spark.sparkContext), sf_dir, name)
    if key not in _STORE_CACHE:
        out = _scratch_dir(spark, f"cvx_{name}_")
        build(out)
        _STORE_CACHE[key] = out
    return _STORE_CACHE[key]


def _sorted_store(spark: SparkSession, sf_dir: str, name: str, table: str,
                  cols: list[str], by: list[str],
                  sort: list[str] | None = None, parts: int = 8,
                  codecs: dict[str, str] | None = None) -> str:
    """`_store` of `cols` of an input table, range-partitioned on `by`
    into `parts` parts and sorted within each on `sort` (default `by`),
    encoded with `codecs` forced per column."""
    def build(out: str) -> None:
        from .. import encode_job
        df = (_read(spark, sf_dir, table).select(*cols)
              .repartitionByRange(parts, *by)
              .sortWithinPartitions(*(sort or by)))
        encode_job.encode_table(spark, df, out, url_col=None, resume=False,
                                codec_overrides=codecs)
    return _store(spark, sf_dir, name, build)


def _oracle_dir(name: str, version: int, rows: int) -> str:
    """Directory of a generated fixture, shared by the Spark query and
    its DuckDB oracle SQL (which has no SparkSession):
    $CVX_SCRATCH_DIR if set (a shared filesystem on a real cluster),
    else the system temp dir.  Keyed on generator version + row count,
    so a changed generator can never silently reuse a stale parquet
    written by an older build."""
    import tempfile
    base = os.environ.get("CVX_SCRATCH_DIR") or tempfile.gettempdir()
    return os.path.join(base, f"cvx_{name}_oracle_v{version}_r{rows}")


def _fixture(spark: SparkSession, name: str, version: int, rows: int,
             table: str, make: Callable[[], DataFrame]) -> DataFrame:
    """The generated fixture `<_oracle_dir>/<table>.parquet`, written
    once from `make()`.  Its content is a pure function of the
    (version, rows) that key the path, so a completed write never needs
    refreshing, and skipping the rewrite means the oracle can never
    race a mode("overwrite") that briefly deletes the files it reads."""
    pq = os.path.join(_oracle_dir(name, version, rows), f"{table}.parquet")
    if not os.path.exists(os.path.join(pq, "_SUCCESS")):
        make().coalesce(1).write.mode("overwrite").parquet(pq)
    return spark.read.parquet(pq)


def _row(spark: SparkSession, **values) -> DataFrame:
    """One-row result of integer scalars (None stays NULL), every
    column a long, in keyword order."""
    return spark.range(0, 1, 1, 1).select(
        *[F.lit(None if v is None else int(v)).cast("long").alias(k)
          for k, v in values.items()])
