"""Distributed encode pipeline: DataFrame -> encoded column chunks + manifest.

Spark-first design: the reference's whole query/encode lifecycle is a
single-threaded appender loop (reference src/vector.rs:238-246
encode_all; no thread/process/node boundary exists anywhere in the
crate) — its caller loop becomes Spark's executor grid, and one chunk
here plays the role of one finished BinaryVector there:

  read parquet/Iceberg
    -> derive url host, detect heavy-hitter hosts on a sample
    -> salted repartition on (host, salt)   # defuses Zipf domain skew;
                                            # salt fan-out only for hot hosts
    -> sortWithinPartitions(host, warc_ts)  # locality => long RLE runs,
                                            # small FoR deltas
    -> mapInArrow(encode)                   # one Arrow batch = one chunk;
                                            # all codecs vectorized numpy,
                                            # strings never become Python objects
    -> chunks parquet (binary blobs) + manifest parquet

Scale notes (100 TB / 1000 executors): the only shuffle is the single
repartition; chunk encode is embarrassingly parallel afterwards; chunk
size (Arrow maxRecordsPerBatch) bounds executor memory at
~chunk_rows x row_width; the heavy-hitter sample is a broadcast of at
most `max_hot_hosts` strings.  Resume skips completed partitions via a
broadcast set of part_ids read from the manifest — re-encoding is
idempotent because generation, partitioning and chunk ids are all
deterministic.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..codecs import bloom as bloom_codec
from ..codecs import chunk as chunk_codec
from ..sources.encoded_table import (_small_table, chunk_stats_for,
                                     float_chunk_stats)

CHUNK_SCHEMA = (
    "part_id int, chunk_seq int, chunk_id string, column string, codec string, "
    "num_elements long, raw_bytes long, encoded_bytes long, sha256 string, "
    "min_val long, max_val long, sum_val long, null_count long, "
    "min_str string, max_str string, "
    "min_f64 double, max_f64 double, "
    "bloom binary, "
    "encode_sec double, blob binary"
)

MANIFEST_COLS = ["part_id", "chunk_seq", "chunk_id", "column", "codec",
                 "num_elements", "raw_bytes", "encoded_bytes", "sha256",
                 "min_val", "max_val", "sum_val", "null_count",
                 "min_str", "max_str", "min_f64", "max_f64", "bloom",
                 "encode_sec"]

MANIFEST_SCHEMA = ", ".join(f for f in CHUNK_SCHEMA.split(", ")
                            if f.split()[0] in MANIFEST_COLS)

# The part-level zone maps and counts the driver reads with no Spark job
# (encoded_table.part_summary): each manifest write adds one row per
# (part_id, column) it wrote (write_manifest).  sum_val is NULL when some
# chunk's is, or when the total leaves int64.
PART_SUMMARY_SCHEMA = (
    "part_id int, column string, chunks long, dict_chunks long, "
    "rows long, nulls long, min_val long, max_val long, "
    "min_str string, max_str string, min_f64 double, max_f64 double, "
    "sum_val long"
)

# Bumped whenever CHUNK_SCHEMA / MANIFEST_COLS change shape.  v2 added
# sum_val + null_count; v3 added min_str/max_str (string-column chunk
# stats enabling string-predicate chunk pruning over the store); v4
# added min_f64/max_f64 (float-column chunk stats — range predicates
# over xor_f64/vec_f32 columns prune at the manifest level); v5 added
# bloom (per-chunk Bloom filters on key-like string/binary columns —
# point-lookup pruning where zone maps can't help, codecs/bloom.py); v6
# added part_summary (PART_SUMMARY_SCHEMA) and partitions every chunks
# dataset, streamed ones too, by part_id; v7 keeps one live deletion
# vector per chunk, committed by a delete_log row (spark/delete_job.py).
# Stores written before versioning existed have no store_meta directory
# and read as None.
STORE_FORMAT_VERSION = 7
APPEND_LOG_SCHEMA = "batch_id string, part_offset int, n_parts int"

_I64 = (1 << 63) - 1


def summarize_parts(manifest: DataFrame) -> DataFrame:
    """PART_SUMMARY_SCHEMA rows of a manifest DataFrame: per (part_id,
    column) the chunk and dict-chunk counts, rows, nulls, the bounds of
    every zone-map pair and the sum.  The rows are metadata (one per
    chunk and column), so one task folds them: a single partition
    already meets the grouping, and the aggregate runs with no shuffle."""
    total = F.sum(F.col("sum_val").cast("decimal(38,0)"))
    return manifest.coalesce(1).groupBy("part_id", "column").agg(
        F.count(F.lit(1)).alias("chunks"),
        F.count(F.when(F.col("codec") == "dict", 1)).alias("dict_chunks"),
        F.sum("num_elements").alias("rows"),
        F.sum("null_count").alias("nulls"),
        *[(F.min if c.startswith("min") else F.max)(c).alias(c)
          for c in ("min_val", "max_val", "min_str", "max_str",
                    "min_f64", "max_f64")],
        F.when((F.count("sum_val") == F.count(F.lit(1)))
               & total.between(-_I64 - 1, _I64),
               total.cast("long")).alias("sum_val"))


def write_manifest(spark: SparkSession, out_dir: str, chunks_df: DataFrame,
                   mode: str = "overwrite") -> None:
    """The one manifest writer: `chunks_df`'s manifest rows to
    {out_dir}/manifest and their per-part summary to
    {out_dir}/part_summary, both in `mode` ("overwrite" re-derives the
    whole store's metadata from its chunks; "append" adds a stream
    micro-batch's, whose part ids repeat earlier batches' — readers
    combine summary rows per (part_id, column))."""
    man = chunks_df.select(*MANIFEST_COLS)
    man.write.mode(mode).parquet(os.path.join(out_dir, "manifest"))
    (summarize_parts(man).write.mode(mode)
        .parquet(os.path.join(out_dir, "part_summary")))


def _store_version(spark: SparkSession, out_dir: str) -> int | None:
    """The store_meta format_version, read with no Spark job."""
    try:
        rows = _small_table(spark, os.path.join(out_dir, "store_meta"),
                            "format_version int")
        return int(rows[0]["format_version"]) if rows else None
    except Exception:
        return None


def require_current(spark: SparkSession, out_dir: str, op: str) -> None:
    """Refuse (ValueError) a store of any other format version."""
    ver = _store_version(spark, out_dir)
    if ver != STORE_FORMAT_VERSION:
        raise ValueError(f"{op}: {out_dir} has store format v{ver}; "
                         f"this build handles v{STORE_FORMAT_VERSION} only")


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through Spark's Hadoop FileSystem API — works on
    HDFS/S3A/GCS paths where a driver-local os.path.exists would not."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _raw_size(series: pd.Series) -> int:
    k = series.dtype.kind
    if k in "iufM":
        return len(series) * (8 if k == "M" else series.dtype.itemsize)
    if len(series) == 0:
        return 0
    import pyarrow as pa
    nonnull = series.dropna()
    typ = (pa.large_binary()
           if isinstance(nonnull.iloc[0] if len(nonnull) else "", (bytes, bytearray))
           else pa.large_utf8())
    arr = pa.array(series.where(series.notna(), b"" if typ == pa.large_binary() else ""),
                   type=typ).cast(pa.large_binary())
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=len(arr) + 1,
                         offset=arr.offset * 8)
    return int(offs[-1] - offs[0])


def with_salted_partitioning(df: DataFrame, url_col: str = "url",
                             num_partitions: int | None = None,
                             salt_buckets: int = 16,
                             hot_threshold: float = 0.01,
                             sample_fraction: float = 0.05,
                             max_hot_hosts: int = 1000) -> DataFrame:
    """Repartition on (host, salt) where only heavy-hitter hosts fan out.

    A sampled groupBy finds hosts holding > hot_threshold of the sample;
    those get salt in [0, salt_buckets) (spread over many partitions),
    everything else salts to 0 (stays co-located for compression
    locality).  The hot list is broadcast — no extra shuffle of the
    main table beyond the one repartition.
    """
    spark = df.sparkSession
    host = F.expr(f"parse_url({url_col}, 'HOST')")
    # ONE sampling job: top host counts; the total is derived driver-side.
    # The sample is taken on the bare url column BEFORE deriving the
    # host, so parse_url runs on sample_fraction of the rows — written
    # the other way round, Sample sits above the Project and the regex
    # runs on 100% of the table (verified in the physical plan).
    sampled = (df.select(F.col(url_col))
                 .sample(fraction=sample_fraction, seed=42)
                 .select(host.alias("__host"))
                 .groupBy("__host").count()
                 .orderBy(F.desc("count")).limit(max_hot_hosts * 4).collect())
    df = df.withColumn("__host", host)
    total = sum(r["count"] for r in sampled) or 1
    hot = [r["__host"] for r in sampled
           if r["count"] > hot_threshold * total][:max_hot_hosts]
    salt = F.when(F.col("__host").isin(hot),
                  F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
                  ).otherwise(F.lit(0))
    df = df.withColumn("__salt", salt.cast("int"))
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    return (df.repartition(n, F.col("__host"), F.col("__salt"))
              .sortWithinPartitions("__host", *(
                  ["warc_ts"] if "warc_ts" in df.columns else [])))


def _raw_size_arrow(arr) -> int:
    """Raw byte size of an arrow column: value-buffer bytes for
    strings/binary (matches _raw_size's utf-8 accounting), width*n for
    fixed-size types (timestamps count as 8, like the pandas path)."""
    import pyarrow as pa
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_binary(t) \
            or pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        from ..codecs.fsst import _string_buffers
        data, _ = _string_buffers(arr)
        return int(len(data))
    if pa.types.is_timestamp(t):
        return len(arr) * 8
    return len(arr) * (t.bit_width // 8)


_CHUNK_PA_FIELDS = [
    ("part_id", "int32"), ("chunk_seq", "int32"), ("chunk_id", "string"),
    ("column", "string"), ("codec", "string"), ("num_elements", "int64"),
    ("raw_bytes", "int64"), ("encoded_bytes", "int64"), ("sha256", "string"),
    ("min_val", "int64"), ("max_val", "int64"), ("sum_val", "int64"),
    ("null_count", "int64"), ("min_str", "string"), ("max_str", "string"),
    ("min_f64", "float64"), ("max_f64", "float64"),
    ("bloom", "binary"),
    ("encode_sec", "float64"),
    ("blob", "binary"),
]


def _string_min_max(arr) -> tuple[str | None, str | None]:
    """(min, max) of a pyarrow STRING array, nulls skipped — the chunk
    stats that make string predicates prunable at the manifest level
    (pyarrow's min_max compares UTF-8 bytewise, the same order Spark
    and the sorted dictionary heap use).  Binary columns return (None,
    None): their bytes need not be valid UTF-8 for the parquet string
    manifest column."""
    import pyarrow as pa
    import pyarrow.compute as pc
    if not (pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type)):
        return None, None
    if arr.null_count == len(arr):
        return None, None
    mm = pc.min_max(arr)
    return mm["min"].as_py(), mm["max"].as_py()


def _encode_iter_arrow(columns: list[str], codec_overrides: dict[str, str],
                       skip_parts: set[int], part_offset: int = 0):
    """mapInArrow encode worker: one arrow RecordBatch = one chunk.
    String/binary codecs run straight on the arrow buffers (zero per-row
    Python); numeric/dict columns take one cheap pandas conversion.
    `part_offset` shifts part ids past an existing store's parts so an
    append lands in fresh partition directories (append_table)."""
    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext
        out_schema = pa.schema([(n, getattr(pa, t)()) for n, t in _CHUNK_PA_FIELDS])
        part_id = part_offset + TaskContext.get().partitionId()
        if part_id in skip_parts:
            return
        seq = 0
        for batch in batches:
            rows = []
            chunk_id = f"p{part_id:05d}-c{seq:05d}"
            for col in columns:
                arr = batch.column(batch.schema.get_field_index(col))
                t0 = time.perf_counter()
                str_like = (pa.types.is_string(arr.type) or pa.types.is_binary(arr.type)
                            or pa.types.is_large_string(arr.type)
                            or pa.types.is_large_binary(arr.type))
                if str_like:
                    codec, blob, _meta = chunk_codec.encode_column_arrow(
                        arr, codec_overrides.get(col))
                    mn = mx = sm = None
                    mn_s, mx_s = _string_min_max(arr)
                    mn_f = mx_f = None
                    blm = bloom_codec.build(arr)
                    nulls = arr.null_count
                    raw = _raw_size_arrow(arr)
                else:
                    series = chunk_codec.arrow_to_pandas_sparklike(arr)
                    codec, blob, _meta = chunk_codec.encode_column(
                        series, codec_overrides.get(col))
                    mn, mx, sm, nulls = chunk_stats_for(series)
                    mn_s = mx_s = None
                    mn_f, mx_f = float_chunk_stats(series)
                    blm = None
                    raw = _raw_size(series)
                dt = time.perf_counter() - t0
                rows.append({
                    "part_id": part_id, "chunk_seq": seq, "chunk_id": chunk_id,
                    "column": col, "codec": codec,
                    "num_elements": batch.num_rows,
                    "raw_bytes": raw,
                    "encoded_bytes": len(blob),
                    "sha256": hashlib.sha256(blob).hexdigest(),
                    "min_val": mn, "max_val": mx,
                    "sum_val": sm, "null_count": nulls,
                    "min_str": mn_s, "max_str": mx_s,
                    "min_f64": mn_f, "max_f64": mx_f,
                    "bloom": blm,
                    "encode_sec": dt, "blob": blob,
                })
            seq += 1
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)
    return fn


def encode_table(spark: SparkSession, df: DataFrame, out_dir: str,
                 columns: list[str] | None = None,
                 codec_overrides: dict[str, str] | None = None,
                 url_col: str | None = "url",
                 num_partitions: int | None = None,
                 resume: bool = True,
                 write: bool = True) -> DataFrame:
    """Run the encode pipeline; returns the chunks DataFrame.

    When write=True, chunks land at {out_dir}/chunks (parquet,
    partitioned by part_id for per-partition commit granularity) and the
    manifest at {out_dir}/manifest.
    """
    columns = columns or [c for c in df.columns if not c.startswith("__")]
    codec_overrides = codec_overrides or {}

    if url_col and url_col in df.columns:
        df = with_salted_partitioning(df, url_col, num_partitions)
    elif num_partitions:
        df = df.repartition(num_partitions)

    skip_parts: set[int] = set()
    chunks_path = os.path.join(out_dir, "chunks")
    if resume and write and _fs_exists(spark, chunks_path):
        # a resume APPENDS to the existing chunks dataset, so the
        # on-disk format must match what this build writes — mixing
        # schemas (e.g. a pre-v2 store without sum_val/null_count)
        # would corrupt the dataset for every reader
        ver = _store_version(spark, out_dir)
        if ver != STORE_FORMAT_VERSION:
            # store_meta is written BEFORE the chunks, so any store this
            # build started — even one that crashed mid-chunks, the exact
            # scenario resume exists for — carries its version marker.
            # A missing marker therefore means a pre-versioning build
            # wrote (or was writing) this store: refuse to mix schemas.
            raise ValueError(
                f"store at {out_dir} has format_version={ver}, this build "
                f"writes v{STORE_FORMAT_VERSION}; rerun with resume=False "
                "to re-encode, or read the old store with a matching build")
        # resume state is derived from the CHUNKS directory (the data of
        # record), not the manifest: a failure between the chunk write
        # and the manifest write would otherwise leave committed chunks
        # invisible to resume and re-append duplicates.  part_id is the
        # partition column, so this reads only the directory listing.
        try:
            done = (spark.read.parquet(chunks_path)
                    .select("part_id").distinct().collect())
            skip_parts = {r["part_id"] for r in done}
        except Exception:
            skip_parts = set()  # empty/partial dir: re-encode everything

    enc = df.mapInArrow(_encode_iter_arrow(columns, codec_overrides, skip_parts),
                        schema=CHUNK_SCHEMA)
    if not write:
        return enc

    # version marker + schema go down BEFORE the long chunks write: a
    # crash during the chunks stage (the scenario resume exists for)
    # must leave a store whose format_version identifies it, or the next
    # resume=True run would refuse it and force a full re-encode.  Both
    # writes are tiny and overwrite-idempotent.
    (spark.createDataFrame([(STORE_FORMAT_VERSION,)], "format_version int")
        .coalesce(1).write.mode("overwrite")
        .parquet(os.path.join(out_dir, "store_meta")))
    # self-describing store: persist the source column types so readers
    # can rebuild the decoded view without being handed a DDL string
    # (written through Spark => works on any shared FS)
    schema_rows = [(i, f.name, f.dataType.simpleString())
                   for i, f in enumerate(df.schema.fields)
                   if f.name in columns]
    (spark.createDataFrame(schema_rows, "position int, name string, dtype string")
        .coalesce(1).write.mode("overwrite")
        .parquet(os.path.join(out_dir, "table_schema")))
    # dynamic partition overwrite: a replayed partition REPLACES its
    # directory instead of appending a duplicate — encode is
    # deterministic, so replace is idempotent
    (enc.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id").parquet(chunks_path))
    # manifest derived from the written chunks (no double encode)
    write_manifest(spark, out_dir, spark.read.parquet(chunks_path))
    from ..sources.snapshot import BASE_SNAPSHOT
    _write_commit_marker(spark, out_dir, BASE_SNAPSHOT)
    return spark.read.parquet(chunks_path)


def append_table(spark: SparkSession, df: DataFrame, out_dir: str,
                 batch_id: str,
                 codec_overrides: dict[str, str] | None = None,
                 url_col: str | None = "url",
                 num_partitions: int | None = None,
                 allow_new_columns: bool = False) -> DataFrame:
    """Append a new batch of rows to an EXISTING store — the ingest half
    of the living-corpus loop (store_membership finds the novel
    documents of a crawl batch; append_table lands them) without
    touching any existing chunk.

    Idempotence contract: `batch_id` names the batch (a crawl id, a
    date).  The batch's part-id range is recorded in {out_dir}/append_log
    BEFORE any chunk is written, so a retry of a crashed append reuses
    the same range and its dynamic partition overwrite REPLACES the
    partial parts instead of duplicating them; re-running a completed
    batch rewrites the same parts with the same deterministic bytes.  A
    batch_id must always carry the same rows — appending different data
    under a reused id overwrites the earlier batch's parts.

    Scale shape: one repartition of the new batch only (the existing
    store is never read beyond its manifest row-count-free part listing
    and never rewritten), then the same embarrassingly-parallel encode
    as encode_table.  The manifest is re-derived from the full chunks
    dataset afterwards — one metadata-sized rewrite, kept in favor of a
    dual-source manifest that could drift from the data of record.

    Schema evolution: with allow_new_columns=True a batch may CARRY
    COLUMNS THE STORE LACKS — they're appended to table_schema (at the
    end, original positions stable) and encoded for this batch's parts
    only.  Earlier parts simply have no chunks for the new column, and
    decode back-fills them as NULL (decode_job.decode_chunks); pruned
    readers stay exact for free — old parts have no manifest rows for
    the column, so they're pruned, and NULL never matches an
    equality/range predicate anyway.  The schema write lands BEFORE the
    chunks write, so a crashed evolving append still leaves a
    self-describing store.  Columns present in both must still match
    types exactly.

    Refuses: a store of a different format version (mixing chunk
    schemas corrupts every reader) or a batch whose columns/types don't
    match the store's own table_schema (an appended column the old
    chunks lack would decode as misaligned rows)."""
    ver = _store_version(spark, out_dir)
    if ver != STORE_FORMAT_VERSION:
        raise ValueError(
            f"append_table: store at {out_dir} has format_version={ver}, "
            f"this build writes v{STORE_FORMAT_VERSION}; re-encode or "
            "compact the store with a matching build first")
    schema_rows = (spark.read.parquet(os.path.join(out_dir, "table_schema"))
                   .orderBy("position").collect())
    store_schema = [(r["name"], r["dtype"]) for r in schema_rows]
    columns = [n for n, _ in store_schema]
    batch_schema = [(f.name, f.dataType.simpleString())
                    for f in df.schema.fields if f.name in columns]
    if sorted(batch_schema) != sorted(store_schema):
        raise ValueError(
            f"append_table: batch schema {sorted(batch_schema)} does not "
            f"match store schema {sorted(store_schema)}")
    new_cols = [(f.name, f.dataType.simpleString())
                for f in df.schema.fields
                if f.name not in columns and not f.name.startswith("__")]
    if new_cols and not allow_new_columns:
        raise ValueError(
            f"append_table: batch carries columns the store lacks "
            f"{[n for n, _ in new_cols]}; pass allow_new_columns=True to "
            "evolve the schema (old parts decode them as NULL)")
    if new_cols:
        next_pos = max(int(r["position"]) for r in schema_rows) + 1
        (spark.createDataFrame(
            [(next_pos + i, n, t) for i, (n, t) in enumerate(new_cols)],
            "position int, name string, dtype string")
            .coalesce(1).write.mode("append")
            .parquet(os.path.join(out_dir, "table_schema")))
        columns = columns + [n for n, _ in new_cols]

    if url_col and url_col in df.columns:
        df = with_salted_partitioning(df, url_col, num_partitions)
    elif num_partitions:
        df = df.repartition(num_partitions)
    n_parts = df.rdd.getNumPartitions()

    from ..sources.snapshot import _log_rows
    chunks_path = os.path.join(out_dir, "chunks")
    log_path = os.path.join(out_dir, "append_log")
    prior = {r["batch_id"]: (r["part_offset"], r["n_parts"])
             for r in _log_rows(spark, out_dir)}
    if batch_id in prior:
        part_offset, reserved = prior[batch_id]
        if n_parts > reserved:
            raise ValueError(
                f"append_table: retry of batch {batch_id!r} has {n_parts} "
                f"partitions but its reserved range holds {reserved}; "
                "retry with num_partitions <= the original, or use a new "
                "batch_id")
    else:
        # the next free part id must clear BOTH the parts on disk and
        # every RESERVED range (a logged batch that crashed before
        # writing any chunk still owns its range — its retry will fill
        # it)
        max_part = (spark.read.parquet(chunks_path)
                    .agg(F.max("part_id")).collect()[0][0])
        part_offset = max(
            [(max_part + 1) if max_part is not None else 0]
            + [off + n for off, n in prior.values()])
        # intent recorded BEFORE any chunk write: a crashed append's
        # retry finds its range here instead of colliding past the
        # partial parts
        (spark.createDataFrame([(batch_id, part_offset, n_parts)],
                               APPEND_LOG_SCHEMA)
            .coalesce(1).write.mode("append").parquet(log_path))

    enc = df.mapInArrow(
        _encode_iter_arrow(columns, codec_overrides or {}, set(),
                           part_offset=int(part_offset)),
        schema=CHUNK_SCHEMA)
    (enc.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id").parquet(chunks_path))
    written = spark.read.parquet(chunks_path)
    write_manifest(spark, out_dir, written)
    _write_commit_marker(spark, out_dir, batch_id)
    return written


def _write_commit_marker(spark: SparkSession, out_dir: str,
                         batch_id: str) -> None:
    """Record that a batch's chunks are FULLY committed — written after
    the chunks + manifest land, so incremental consumers
    (sources/snapshot.py pending_batches) can tell a committed batch
    whose every Spark partition was empty (no part directory at all)
    from an append that crashed before its chunks.  Retries append a
    duplicate row; readers treat the log as a set."""
    (spark.createDataFrame([(batch_id,)], "batch_id string")
        .coalesce(1).write.mode("append")
        .parquet(os.path.join(out_dir, "append_commits")))


def copy_store_history(spark: SparkSession, src_dir: str,
                       dst_dir: str) -> None:
    """Carry a store's append history (append_log part reservations +
    append_commits markers) AND its consumer cursors into a rewritten
    copy whose part ids are preserved (compaction, delete
    materialization).  Losing a cursor would re-deliver the whole
    history to an exactly-once consumer; losing the log would erase
    snapshot time travel.  NOT for cluster_store, which moves rows
    across parts and so resets history by design."""
    for hist in ("append_log", "append_commits"):
        src_log = os.path.join(src_dir, hist)
        if _fs_exists(spark, src_log):
            (spark.read.parquet(src_log).coalesce(1).write
                .mode("overwrite").parquet(os.path.join(dst_dir, hist)))
    src_cons = os.path.join(src_dir, "consumers")
    if _fs_exists(spark, src_cons):
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(src_cons).getFileSystem(
            spark._jsc.hadoopConfiguration())
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(src_cons)):
            cid = st.getPath().getName()
            (spark.read.schema("batch_id string, part_hi int")
                .parquet(os.path.join(src_cons, cid, "cursor"))
                .coalesce(1).write.mode("overwrite")
                .parquet(os.path.join(dst_dir, "consumers", cid,
                                      "cursor")))


def store_stats(spark: SparkSession, out_dir: str) -> dict:
    """DESCRIBE/ANALYZE for an encoded store from METADATA alone — no
    chunk blob is read at any store size.  Per column: declared type,
    codecs in use, chunk count, raw/encoded bytes + ratio, rows, null
    count, encode seconds summed over its chunks (encode_s; the
    manifest keeps each chunk's), and the type-matched global [min,
    max] bounds (int columns min_val/max_val, strings
    min_str/max_str, floats min_f64/max_f64 —
    the same zone-map columns the pruned readers consult, so the output
    doubles as a pruning-health check: a scattered column shows
    domain-wide bounds on every chunk).  Plus store format version,
    part and snapshot counts, and live-delete totals."""
    from ..sources import snapshot as snap
    from ..sources.encoded_table import part_summary, stored_schema
    from . import delete_job
    # older manifests lack stats columns this aggregation reads
    require_current(spark, out_dir, "store_stats")
    m = spark.read.parquet(os.path.join(out_dir, "manifest"))
    rows = (m.groupBy("column")
            .agg(F.collect_set("codec").alias("codecs"),
                 F.count("*").alias("chunks"),
                 F.sum("raw_bytes").alias("raw"),
                 F.sum("encoded_bytes").alias("enc"),
                 F.sum("num_elements").alias("rows"),
                 F.sum("null_count").alias("nulls"),
                 F.sum("encode_sec").alias("encode_s"),
                 F.min("min_val").alias("mn_i"), F.max("max_val").alias("mx_i"),
                 F.min("min_str").alias("mn_s"), F.max("max_str").alias("mx_s"),
                 F.min("min_f64").alias("mn_f"), F.max("max_f64").alias("mx_f"))
            .collect())
    ddl, _ = stored_schema(spark, out_dir)
    dtypes = dict(f.split(None, 1) for f in ddl.split(", "))
    cols = {}
    for r in rows:
        mn, mx = r["mn_i"], r["mx_i"]
        if mn is None and r["mn_s"] is not None:
            mn, mx = r["mn_s"], r["mx_s"]
        if mn is None and r["mn_f"] is not None:
            mn, mx = r["mn_f"], r["mx_f"]
        cols[r["column"]] = {
            "dtype": dtypes.get(r["column"]),
            "codecs": sorted(r["codecs"]),
            "chunks": int(r["chunks"]),
            "raw_bytes": int(r["raw"]), "encoded_bytes": int(r["enc"]),
            "ratio": (r["raw"] / r["enc"]) if r["enc"] else None,
            "rows": int(r["rows"]), "nulls": int(r["nulls"] or 0),
            "min": mn, "max": mx, "encode_s": float(r["encode_s"] or 0.0),
        }
    # schema-evolved columns: parts encoded before a column existed
    # carry no manifest rows for it, yet every one of their rows
    # decodes as a back-filled NULL — count those against the column
    # (total rows = the position-0 column, which every part has)
    first = ddl.split(", ")[0].split()[0]
    total = cols[first]["rows"] if first in cols else 0
    for c in cols.values():
        virtual = total - c["rows"]
        if virtual > 0:
            c["rows"] = total
            c["nulls"] += virtual
    raw = sum(c["raw_bytes"] for c in cols.values())
    enc = sum(c["encoded_bytes"] for c in cols.values())
    return {
        "format_version": STORE_FORMAT_VERSION,
        "columns": cols,
        "raw_bytes": raw, "encoded_bytes": enc,
        "ratio": raw / enc if enc else None,
        "parts": len({p for p, _ in part_summary(spark, out_dir)}),
        "snapshots": len(snap.list_snapshots(spark, out_dir)),
        **delete_job.delete_stats(spark, out_dir),
    }
