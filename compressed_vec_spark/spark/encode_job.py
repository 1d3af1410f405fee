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
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..codecs import bloom as bloom_codec
from ..codecs import chunk as chunk_codec
from ..codecs.fsst import _string_buffers
from ..sources import layout
from ..sources.encoded_table import _schema_rows

_I64 = (1 << 63) - 1


def summarize_parts(manifest: DataFrame) -> DataFrame:
    """layout.PART_SUMMARY rows of a manifest DataFrame: per (part_id,
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


def write_manifest(spark: SparkSession, out_dir: str,
                   chunks_df: DataFrame) -> None:
    """The one manifest writer: `chunks_df`'s manifest rows overwrite
    the store's manifest and their per-part summary its part summary,
    so both are re-derived from the whole store's chunks."""
    man = chunks_df.select(*layout.MANIFEST.columns)
    man.write.mode("overwrite").parquet(layout.MANIFEST.path(out_dir))
    (summarize_parts(man).write.mode("overwrite")
        .parquet(layout.PART_SUMMARY.path(out_dir)))


def table_rows(df: DataFrame, columns: list[str] | None = None) -> list[tuple]:
    """layout.TABLE_SCHEMA rows of `df`'s encoded columns — `columns`,
    or every column not named '__*' — at their positions in df."""
    return [(i, f.name, f.dataType.simpleString())
            for i, f in enumerate(df.schema.fields)
            if (f.name in columns if columns
                else not f.name.startswith("__"))]


def start_store(spark: SparkSession, out_dir: str, schema_rows) -> None:
    """The version marker, then the column types, BEFORE any chunk: a
    crash mid-chunks (what resume is for) leaves a store that identifies
    and describes itself.  Both writes are overwrite-idempotent."""
    layout.write_meta(spark, out_dir, layout.STORE_META,
                      [(layout.FORMAT_VERSION,)])
    layout.write_meta(spark, out_dir, layout.TABLE_SCHEMA, schema_rows)


def commit_chunks(spark: SparkSession, out_dir: str,
                  chunks_df: DataFrame) -> DataFrame:
    """Write `chunks_df`'s parts, then the manifest of every written
    chunk; returns the chunks table.  Dynamic partition overwrite: a
    replayed part REPLACES its directory, idempotent because encode is
    deterministic."""
    (chunks_df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(layout.CHUNKS.partition)
        .parquet(layout.CHUNKS.path(out_dir)))
    written = layout.read(spark, out_dir, layout.CHUNKS)
    write_manifest(spark, out_dir, written)
    return written


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


def chunk_stats_for(series: pd.Series) \
        -> tuple[int | None, int | None, int | None, int]:
    """(min, max, sum, null_count) for numeric/timestamp chunks
    ((None, None, None, nulls) otherwise).  The sum enables manifest-only
    aggregation pushdown (`pruned_sum`): a chunk fully covered
    by the predicate contributes its manifest sum with zero blob reads —
    the storage-layer analog of the reference's header-only section
    short-circuits (reference src/filter.rs:53-107).  Sum is over
    non-null values (SQL SUM semantics); None if it exceeds int64."""
    nulls = int(series.isna().sum())
    if series.dtype.kind == "M":
        v = series.dropna().astype("datetime64[us]").to_numpy().view(np.int64)
    elif series.dtype.kind in "iu":
        v = series.dropna().to_numpy()
    else:
        return None, None, None, nulls
    if not len(v):
        return None, None, None, nulls
    # exact overflow-free sum: elements split into hi/lo 32-bit halves
    # (v == (v >> 32) * 2^32 + (v & 0xFFFFFFFF) for arithmetic shift),
    # each partial sum fits its 64-bit dtype for any chunk <= 2^31
    # elements; recombined in Python ints
    if v.dtype.kind == "u":
        vv = v.astype(np.uint64)
        total = (int((vv & np.uint64(0xFFFFFFFF)).sum(dtype=np.uint64))
                 + (int((vv >> np.uint64(32)).sum(dtype=np.uint64)) << 32))
    else:
        vv = v.astype(np.int64)
        total = (int((vv & 0xFFFFFFFF).sum(dtype=np.int64))
                 + (int((vv >> 32).sum(dtype=np.int64)) << 32))
    if not (-_I64 - 1 <= total <= _I64):
        total = None
    return int(v.min()), int(v.max()), total, nulls


def float_chunk_stats(series: pd.Series) -> tuple[float | None, float | None]:
    """(min, max) for FLOAT chunks, (None, None) otherwise — the
    manifest stats that make float range predicates prunable at the
    chunk level.  Nulls and NaN payloads are excluded (SQL comparison
    semantics: NaN matches no range predicate, so it cannot tighten or
    poison the bounds)."""
    if series.dtype.kind != "f":
        return None, None
    v = series.dropna().to_numpy(dtype=np.float64)
    v = v[~np.isnan(v)]
    if not len(v):
        return None, None
    return float(v.min()), float(v.max())


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


def chunk_row(part_id: int, chunk_seq: int, chunk_id: str, column: str,
              arr, override: str | None) -> dict:
    """The one builder of a layout.CHUNKS row: the arrow array `arr`
    encoded as one chunk (codec `override`, or the stats-driven
    selection), with its blob, byte counts, sha256, zone maps, sum,
    null count, Bloom filter and encode seconds.  The encode worker,
    compaction merges and delete materialization all call it, so a
    rewritten chunk gets exactly the row a fresh encode of its rows
    would get.  String/binary codecs run straight on the arrow buffers
    (zero per-row Python); numeric/dict columns take one cheap pandas
    conversion."""
    import pyarrow as pa
    t0 = time.perf_counter()
    str_like = (pa.types.is_string(arr.type) or pa.types.is_binary(arr.type)
                or pa.types.is_large_string(arr.type)
                or pa.types.is_large_binary(arr.type))
    if str_like:
        codec, blob, _ = chunk_codec.encode_column_arrow(arr, override)
        mn = mx = sm = None
        mn_s, mx_s = _string_min_max(arr)
        mn_f = mx_f = None
        blm = bloom_codec.build(arr)
        nulls = arr.null_count
        raw = len(_string_buffers(arr)[0])   # the UTF-8/binary value bytes
    else:
        series = chunk_codec.arrow_to_pandas_sparklike(arr)
        codec, blob, _ = chunk_codec.encode_column(series, override)
        mn, mx, sm, nulls = chunk_stats_for(series)
        mn_s = mx_s = None
        mn_f, mx_f = float_chunk_stats(series)
        blm = None
        raw = len(series) * (8 if series.dtype.kind == "M"
                             else series.dtype.itemsize)
    dt = time.perf_counter() - t0
    return {
        "part_id": part_id, "chunk_seq": chunk_seq, "chunk_id": chunk_id,
        "column": column, "codec": codec,
        "num_elements": len(arr),
        "raw_bytes": raw,
        "encoded_bytes": len(blob),
        "sha256": hashlib.sha256(blob).hexdigest(),
        "min_val": mn, "max_val": mx,
        "sum_val": sm, "null_count": nulls,
        "min_str": mn_s, "max_str": mx_s,
        "min_f64": mn_f, "max_f64": mx_f,
        "bloom": blm,
        "encode_sec": dt, "blob": blob,
    }


def _encode_iter_arrow(columns: list[str], codec_overrides: dict[str, str],
                       skip_parts: set[int], part_offset: int = 0):
    """mapInArrow encode worker: one arrow RecordBatch = one chunk, one
    `chunk_row` per column.  `part_offset` shifts part ids past an
    existing store's parts so an append lands in fresh partition
    directories (append_table)."""
    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext
        out_schema = layout.CHUNKS.arrow_schema()
        part_id = part_offset + TaskContext.get().partitionId()
        if part_id in skip_parts:
            return
        for seq, batch in enumerate(batches):
            chunk_id = f"p{part_id:05d}-c{seq:05d}"
            rows = [chunk_row(part_id, seq, chunk_id, col,
                              batch.column(batch.schema.get_field_index(col)),
                              codec_overrides.get(col))
                    for col in columns]
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
    schema_rows = table_rows(df, columns)
    columns = columns or [n for _, n, _ in schema_rows]
    codec_overrides = codec_overrides or {}

    if url_col and url_col in df.columns:
        df = with_salted_partitioning(df, url_col, num_partitions)
    elif num_partitions:
        df = df.repartition(num_partitions)

    skip_parts: set[int] = set()
    if resume and write and layout.exists(spark,
                                          layout.CHUNKS.path(out_dir)):
        # a resume APPENDS to the existing chunks, so the store must be
        # in this build's format (mixed schemas corrupt every reader).
        # store_meta goes down before any chunk, so even a crashed
        # encode of this build carries it; a missing one means an
        # older build wrote the store.
        layout.require_current(spark, out_dir, "encode_table")
        # the parts on disk come from the chunks (the data of record),
        # not the manifest: a crash between the two writes must not
        # hide committed parts from resume and re-append them
        skip_parts = {r["part_id"] for r in
                      layout.read(spark, out_dir, layout.CHUNKS)
                      .select("part_id").distinct().collect()}

    enc = df.mapInArrow(_encode_iter_arrow(columns, codec_overrides, skip_parts),
                        schema=layout.CHUNKS.ddl)
    if not write:
        return enc

    start_store(spark, out_dir, schema_rows)
    written = commit_chunks(spark, out_dir, enc)
    from ..sources.snapshot import BASE_SNAPSHOT
    _write_commit_marker(spark, out_dir, BASE_SNAPSHOT)
    return written


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
    layout.require_current(spark, out_dir, "append_table")
    schema_rows = _schema_rows(spark, out_dir)
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
        layout.write_meta(
            spark, out_dir, layout.TABLE_SCHEMA,
            [(next_pos + i, n, t) for i, (n, t) in enumerate(new_cols)],
            "append")
        columns = columns + [n for n, _ in new_cols]

    if url_col and url_col in df.columns:
        df = with_salted_partitioning(df, url_col, num_partitions)
    elif num_partitions:
        df = df.repartition(num_partitions)
    n_parts = df.rdd.getNumPartitions()

    from ..sources.snapshot import _log_rows
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
        max_part = (layout.read(spark, out_dir, layout.CHUNKS)
                    .agg(F.max("part_id")).collect()[0][0])
        part_offset = max(
            [(max_part + 1) if max_part is not None else 0]
            + [off + n for off, n in prior.values()])
        # intent recorded BEFORE any chunk write: a crashed append's
        # retry finds its range here instead of colliding past the
        # partial parts
        layout.write_meta(spark, out_dir, layout.APPEND_LOG,
                          [(batch_id, part_offset, n_parts)], "append")

    enc = df.mapInArrow(
        _encode_iter_arrow(columns, codec_overrides or {}, set(),
                           part_offset=int(part_offset)),
        schema=layout.CHUNKS.ddl)
    written = commit_chunks(spark, out_dir, enc)
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
    layout.write_meta(spark, out_dir, layout.APPEND_COMMITS, [(batch_id,)],
                      "append")


def copy_store_history(spark: SparkSession, src_dir: str,
                       dst_dir: str) -> None:
    """Carry a store's append history (append_log part reservations +
    append_commits markers) AND its consumer cursors into a rewritten
    copy whose part ids are preserved (compaction, delete
    materialization).  Losing a cursor would re-deliver the whole
    history to an exactly-once consumer; losing the log would erase
    snapshot time travel.  NOT for cluster_store, which moves rows
    across parts and so resets history by design."""
    copies = [(src_dir, dst_dir, t)
              for t in (layout.APPEND_LOG, layout.APPEND_COMMITS)]
    copies += [(layout.consumer_dir(src_dir, cid),
                layout.consumer_dir(dst_dir, cid), layout.CURSOR)
               for cid in layout.consumer_ids(spark, src_dir)]
    for src, dst, table in copies:
        rows = layout.read_meta(spark, src, table)
        if rows:
            layout.write_meta(spark, dst, table, rows)


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
    layout.require_current(spark, out_dir, "store_stats")
    m = layout.read(spark, out_dir, layout.MANIFEST)
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
        "format_version": layout.FORMAT_VERSION,
        "columns": cols,
        "raw_bytes": raw, "encoded_bytes": enc,
        "ratio": raw / enc if enc else None,
        "parts": len({p for p, _ in part_summary(spark, out_dir)}),
        "snapshots": len(snap.list_snapshots(spark, out_dir)),
        **delete_job.delete_stats(spark, out_dir),
    }
