"""An encoded store's on-disk layout, declared once (as the reference
declares its wire format, vector_format.md:5): each table's directory,
ordered (column, Spark type) fields and partition column, from which
the Spark DDL and the pyarrow schema derive, and the format version.
Imports nothing else from the package."""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# Bumped whenever a declared schema changes shape.  v2 added sum_val +
# null_count; v3 added min_str/max_str (string-column chunk stats
# enabling string-predicate chunk pruning over the store); v4 added
# min_f64/max_f64 (float-column chunk stats — range predicates over
# xor_f64/vec_f32 columns prune at the manifest level); v5 added bloom
# (per-chunk Bloom filters on key-like string/binary columns —
# point-lookup pruning where zone maps can't help, codecs/bloom.py); v6
# added part_summary and partitions every chunks dataset by part_id; v7
# keeps one live deletion vector per chunk, committed by a delete_log
# row (spark/delete_job.py).  Stores written before versioning existed
# have no store_meta directory and read as None.
FORMAT_VERSION = 7

_ARROW = {"int": "int32", "long": "int64", "string": "string",
          "double": "float64", "binary": "binary"}


@dataclass(frozen=True)
class Table:
    name: str
    fields: tuple[tuple[str, str], ...]
    partition: str | None = None  # a directory level, not a file column

    @property
    def columns(self) -> list[str]:
        return [c for c, _ in self.fields]

    @property
    def ddl(self) -> str:
        return ", ".join(f"{c} {t}" for c, t in self.fields)

    def arrow_schema(self):
        """Built with no Spark session, so task code may call it."""
        import pyarrow as pa
        return pa.schema([(c, getattr(pa, _ARROW[t])())
                          for c, t in self.fields])

    def path(self, out_dir: str) -> str:
        return os.path.join(out_dir, self.name)


_MANIFEST_FIELDS = (
    ("part_id", "int"), ("chunk_seq", "int"), ("chunk_id", "string"),
    ("column", "string"), ("codec", "string"), ("num_elements", "long"),
    ("raw_bytes", "long"), ("encoded_bytes", "long"), ("sha256", "string"),
    ("min_val", "long"), ("max_val", "long"), ("sum_val", "long"),
    ("null_count", "long"), ("min_str", "string"), ("max_str", "string"),
    ("min_f64", "double"), ("max_f64", "double"), ("bloom", "binary"),
    ("encode_sec", "double"))

# one row per (chunk, column), the data of record
CHUNKS = Table("chunks", _MANIFEST_FIELDS + (("blob", "binary"),),
               partition="part_id")
MANIFEST = Table("manifest", _MANIFEST_FIELDS)
# one row per (part_id, column), derived from the manifest
PART_SUMMARY = Table("part_summary", (
    ("part_id", "int"), ("column", "string"), ("chunks", "long"),
    ("dict_chunks", "long"), ("rows", "long"), ("nulls", "long"),
    ("min_val", "long"), ("max_val", "long"), ("min_str", "string"),
    ("max_str", "string"), ("min_f64", "double"), ("max_f64", "double"),
    ("sum_val", "long")))
STORE_META = Table("store_meta", (("format_version", "int"),))
TABLE_SCHEMA = Table("table_schema", (
    ("position", "int"), ("name", "string"), ("dtype", "string")))
APPEND_LOG = Table("append_log", (
    ("batch_id", "string"), ("part_offset", "int"), ("n_parts", "int")))
APPEND_COMMITS = Table("append_commits", (("batch_id", "string"),))
CURSOR = Table("cursor", (("batch_id", "string"), ("part_hi", "int")))
# partition delete_id=<id>: the whole live set after that delete
DELETES = Table("deletes", (
    ("delete_id", "string"), ("part_id", "int"), ("chunk_seq", "int"),
    ("chunk_id", "string"), ("n_rows", "long"), ("n_deleted", "long"),
    ("mask", "binary")), partition="delete_id")
DELETE_LOG = Table("delete_log", (
    ("delete_id", "string"), ("seq", "int"), ("rows_deleted", "long"),
    ("affected_chunks", "long"), ("deleted_rows", "long")))

TABLES = (CHUNKS, MANIFEST, PART_SUMMARY, STORE_META, TABLE_SCHEMA,
          APPEND_LOG, APPEND_COMMITS, CURSOR, DELETES, DELETE_LOG)


_CONSUMERS = "consumers"


def consumer_dir(out_dir: str, consumer_id: str) -> str:
    """The directory holding a consumer's CURSOR table."""
    return os.path.join(out_dir, _CONSUMERS, consumer_id)


def consumer_ids(spark: SparkSession, out_dir: str) -> list[str]:
    return children(spark, os.path.join(out_dir, _CONSUMERS))


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path): works on HDFS/S3A/GCS paths too."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def children(spark: SparkSession, path: str) -> list[str]:
    """Names of the entries directly under `path`, [] if absent."""
    fs, hpath = _fs(spark, path)
    return ([st.getPath().getName() for st in fs.listStatus(hpath)]
            if fs.exists(hpath) else [])


def remove(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def read_meta(spark: SparkSession, out_dir: str, table: Table) -> list[dict]:
    """Rows of a metadata table ([] if missing), read by pyarrow on the
    driver.  Non-local URIs, or a local read pyarrow cannot make (a
    racing rewrite), fall back to Spark, raising what Spark raises."""
    path = table.path(out_dir)
    if not exists(spark, path):
        return []
    local = path[7:] if path.startswith("file://") else path
    if "://" not in local:
        import pyarrow as pa
        import pyarrow.parquet as pq
        try:
            return pq.read_table(local,
                                 schema=table.arrow_schema()).to_pylist()
        except (OSError, pa.ArrowException):
            pass
    return [r.asDict() for r in
            spark.read.schema(table.ddl).parquet(path).collect()]


def write_meta(spark: SparkSession, out_dir: str, table: Table, rows,
               mode: str = "overwrite") -> None:
    """`rows` (tuples in declared order, or dicts) as one file of
    `table`.  From pandas they are a local relation; a list of tuples
    would start Python workers."""
    import pandas as pd
    pdf = pd.DataFrame(list(rows), columns=table.columns)
    (spark.createDataFrame(pdf, table.ddl).coalesce(1).write.mode(mode)
        .parquet(table.path(out_dir)))


def read(spark: SparkSession, out_dir: str, table: Table,
         *partitions: str) -> DataFrame:
    """Spark read of `table` with its declared schema, limited to the
    `partitions` directories (such as 'part_id=3') when given."""
    root = table.path(out_dir)
    return (spark.read.schema(table.ddl).option("basePath", root)
            .parquet(*([f"{root}/{p}" for p in partitions] or [root])))


def version(spark: SparkSession, out_dir: str) -> int | None:
    """The store_meta format_version, None when there is none."""
    rows = read_meta(spark, out_dir, STORE_META)
    return int(rows[0]["format_version"]) if rows else None


def require_current(spark: SparkSession, out_dir: str, op: str) -> None:
    """Refuse (ValueError) a store of any other format version."""
    ver = version(spark, out_dir)
    if ver != FORMAT_VERSION:
        raise ValueError(
            f"{op}: store at {out_dir} has format_version={ver} (format "
            f"v{ver}); this build handles v{FORMAT_VERSION} only — "
            "re-encode it (encode_table with resume=False) or read it "
            "with a matching build")
