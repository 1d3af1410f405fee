"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "compressed-vec-spark", cores: int | None = None,
              chunk_rows: int = 65536) -> SparkSession:
    """local[N] session tuned for Arrow-batched encode pipelines.

    chunk_rows bounds the Arrow batch fed to mapInPandas, which is the
    encode chunk size — sections are 256 elements, so 65536 rows = 256
    sections per chunk.  On a real cluster the same settings apply; only
    master/resources change (the job ships via spark-submit --py-files).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        # scan parallelism floor DERIVED from the worker grid (not a
        # byte constant tuned to one input size): a single ~128 MB
        # parquet file is otherwise ONE split (maxPartitionBytes), so
        # every no-shuffle mapInPandas kernel over it would run on one
        # task regardless of cores.  minPartitionNum shrinks split
        # sizes only when files are large enough (openCostInBytes
        # still floors tiny tables), so many-small-file scans are
        # unaffected; on a real cluster the same expression scales
        # with the executor grid (guide §6).
        .config("spark.sql.files.minPartitionNum", str(max(cores * 2, 8)))
        # openCostInBytes models per-file open/seek cost; the 4 MB
        # default floors split sizes so a small-but-expensive input
        # (e.g. a 6 MB zstd documents table feeding a Python kernel)
        # lands on ~2 tasks.  512 KB matches local/NVMe reality and is
        # a no-op for the >=128 MB files of a production layout.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(chunk_rows))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()

