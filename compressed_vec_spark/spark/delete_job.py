"""Row-level DELETE over an encoded store: position deletion vectors.

A DELETE never rewrites a chunk.  It writes a tiny sidecar dataset
{out_dir}/deletes — one packed bitmask per affected chunk, partitioned
by delete_id — and reads subtract the OR of the masks:

  chunks/                          immutable encoded blobs (data of record)
  deletes/delete_id=<id>/*.parquet (chunk_id, n_rows, n_deleted, mask)

This is Iceberg-v2 position-delete semantics (Iceberg spec, "Position
Delete Files" / deletion vectors) applied to this engine's own format.
The reference has no mutation story at all — its vectors are write-once
appenders (reference src/vector.rs:238-246) — so the design derives
from the public Iceberg/Delta deletion-vector model, not from a
reference operator.

Scale shape (100 TB): the predicate scan reuses the same manifest-prune
-> compressed-code kernel path as every pruned_* read (zone maps +
Bloom drop chunks before any blob I/O; dict columns mask on u32 codes
without materializing a string).  The sidecar is O(affected chunks)
bytes (ceil(n/8) per chunk); live-row counts come from manifest +
sidecar metadata alone — no chunk is ever read for them.

Consistency contract (mirrors append_table's):
  * idempotent by delete_id — a retry recomputes its masks
    deterministically and REPLACES its own partition via dynamic
    partition overwrite, so replay never double-counts;
  * a new delete's masks EXCLUDE positions already deleted by OTHER
    batches, so sum(n_deleted) is exact under overlapping predicates;
  * retry a failed delete before issuing the next one (a later batch
    subtracts whatever the failed batch managed to commit);
  * deletes apply to the CURRENT table — snapshot (time-travel) reads
    predate them by design; materialize_deletes() rewrites only the
    affected chunks when a clean store is needed;
  * compact_store refuses a store with live deletes (merged chunk ids
    would orphan the sidecar): materialize first.
"""

from __future__ import annotations

import math
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..codecs import chunk as chunk_codec
from . import encode_job

DELETE_SCHEMA = ("delete_id string, part_id int, chunk_seq int, "
                 "chunk_id string, n_rows long, n_deleted long, mask binary")


def _deletes_path(out_dir: str) -> str:
    return os.path.join(out_dir, "deletes")


def has_deletes(spark: SparkSession, out_dir: str) -> bool:
    return encode_job._fs_exists(spark, _deletes_path(out_dir))


def _read_deletes(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The raw sidecar rows, or None when the store has no deletes.
    Read with an EXPLICIT schema: an all-empty delete (predicate hit
    nothing) leaves a directory parquet schema inference rejects."""
    if not has_deletes(spark, out_dir):
        return None
    return spark.read.schema(DELETE_SCHEMA).parquet(_deletes_path(out_dir))


def merged_masks(spark: SparkSession, out_dir: str,
                 exclude_delete_id: str | None = None,
                 check_empty: bool = True) -> DataFrame | None:
    """(chunk_id, n_rows, n_deleted, mask) with every delete batch
    OR-merged per chunk; None when no delete rows exist.  The merge is
    a groupBy on chunk_id over a dataset whose size is bytes-per-
    affected-chunk — negligible next to any chunk read it guards.

    `check_empty=False` skips the eager zero-row probe (one Spark job
    per call): a store whose deletes directory exists but holds no rows
    then returns an EMPTY DataFrame instead of None — equivalent for
    readers that left-join or aggregate it (NULL masks / zero sums),
    one job cheaper on every delete-bearing store read."""
    d = _read_deletes(spark, out_dir)
    if d is None:
        return None
    if exclude_delete_id is not None:
        d = d.where(F.col("delete_id") != exclude_delete_id)
    if check_empty and not d.take(1):
        return None

    def _or(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.frombuffer(bytes(pdf["mask"].iloc[0]), np.uint8).copy()
        for m in pdf["mask"].iloc[1:]:
            np.bitwise_or(acc, np.frombuffer(bytes(m), np.uint8), out=acc)
        n_rows = int(pdf["n_rows"].iloc[0])
        n_del = int(np.unpackbits(acc, count=n_rows).sum())
        return pd.DataFrame({"chunk_id": [key[0]],
                             "part_id": [int(pdf["part_id"].iloc[0])],
                             "n_rows": [n_rows],
                             "n_deleted": [n_del], "mask": [acc.tobytes()]})

    return (d.select("chunk_id", "part_id", "n_rows", "mask")
            .groupBy("chunk_id")
            .applyInPandas(_or, "chunk_id string, part_id int, "
                                "n_rows long, "
                                "n_deleted long, mask binary"))


def _keep_mask(mask_bytes: bytes, n_rows: int) -> np.ndarray:
    """Packed sidecar mask -> boolean keep vector of length n_rows."""
    dele = np.unpackbits(np.frombuffer(mask_bytes, np.uint8),
                         count=n_rows).astype(bool)
    return ~dele


def delete_rows(spark: SparkSession, out_dir: str, leaves: list,
                delete_id: str,
                exclude_parts: tuple[int, int] | None = None) -> dict:
    """Core of every DELETE: the store's pruning front (zone maps and
    Bloom probes drop chunks before any blob read) and its leaf masks
    on the surviving chunks (`encoded_table.Leaf`, AND-ed) -> packed-bit
    sidecar rows, one per chunk that actually lost rows.
    `exclude_parts` (lo, hi exclusive) leaves that part range alone.
    Returns the pruned-read stats record plus affected_chunks and
    rows_deleted."""
    from ..sources import encoded_table
    lo, hi = exclude_parts or (0, 0)
    # rows other batches already deleted are the scan's keep mask, so
    # sum(n_deleted) across the sidecar is exact under overlapping
    # predicates; the CURRENT delete_id is left out of that view so a
    # retry recomputes the identical result it then overwrites
    prior = merged_masks(spark, out_dir, exclude_delete_id=delete_id,
                         check_empty=False)
    cols = list(dict.fromkeys(leaf.col for leaf in leaves))
    front = encoded_table._front(
        spark, out_dir, leaves, cols,
        None if prior is None
        else prior.select("chunk_id", F.col("mask").alias("keep_mask")),
        lambda p: not lo <= p < hi)
    paired = front.leaves  # task closures must not capture DataFrames

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                m = encoded_table._chunk_mask(paired, row)[0]
                if m is None:
                    continue
                n = int(row.num_elements)
                m = m.reshape(-1)[:n]
                out.append((delete_id, int(row.part_id),
                            int(row.chunk_seq), row.chunk_id, n,
                            int(m.sum()), np.packbits(m).tobytes()))
            if out:
                yield pd.DataFrame(out, columns=[
                    "delete_id", "part_id", "chunk_seq", "chunk_id",
                    "n_rows", "n_deleted", "mask"])

    def write():
        # dynamic partition overwrite: this delete_id's partition is
        # replaced wholesale (idempotent retry), other batches untouched
        (front.scan.mapInPandas(fn, DELETE_SCHEMA).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("delete_id").parquet(_deletes_path(out_dir)))

    # the prune counts and the mask write are independent jobs
    (total, zone, scanned), _ = encoded_table._overlap(front.counts, write)
    written = (_read_deletes(spark, out_dir)
               .where(F.col("delete_id") == delete_id)
               .agg(F.count("*").alias("chunks"),
                    F.sum("n_deleted").alias("rows")).collect()[0])
    return {**encoded_table._stats(total, zone, scanned, parts=front.parts),
            "affected_chunks": int(written["chunks"] or 0),
            "rows_deleted": int(written["rows"] or 0)}


def delete_where_equals(spark: SparkSession, out_dir: str, column: str,
                        value: str, delete_id: str) -> dict:
    """DELETE WHERE column == value for a STRING column.  Zone maps
    ([min_str, max_str]) and the chunk Bloom prune first; surviving
    dict chunks mask on the compressed u32 code vector (code_of — the
    string is never materialized); non-dict chunks decode and compare.
    NULL values never match (SQL equality semantics)."""
    return delete_where_in(spark, out_dir, column, [value], delete_id)


def _require_string_column(spark: SparkSession, out_dir: str,
                           column: str, op: str) -> None:
    """The string-key paths (equality/IN deletes, upserts) hash keys as
    UTF-8 and prune on [min_str, max_str]; an int column would crash in
    the Bloom probe on v5 stores and SILENTLY no-op on pre-v5 ones
    (NULL string zone maps admit no chunk) — refuse loudly instead,
    like delete_where_range does for its numeric contract."""
    from ..sources.encoded_table import stored_schema
    _, dtypes = stored_schema(spark, out_dir)
    if dtypes.get(column) != "string":
        raise ValueError(
            f"{op}: column {column!r} has dtype {dtypes.get(column)!r}; "
            "string columns only (use delete_where_range for numerics)")


def delete_where_in(spark: SparkSession, out_dir: str, column: str,
                    values: list[str], delete_id: str,
                    exclude_parts: tuple[int, int] | None = None) -> dict:
    """DELETE WHERE column IN (values) for a STRING column.  The zone
    maps collapse to ONE interval test (a chunk survives only if
    [min_str, max_str] overlaps [min(values), max(values)] — per-value
    OR predicates would not scale to an upsert batch's key list), the
    Bloom probe then prunes precisely (all values hashed once, one
    contains_many pass per chunk), and surviving dict chunks mask on
    the compressed u32 code vector (absent values drop out free at the
    heap search).  An empty or all-NULL list deletes nothing and
    touches nothing."""
    from ..sources.encoded_table import Leaf, _stats
    vals = [v for v in values if v is not None]
    if not vals:
        return {**_stats(0, 0, 0, parts=(0, 0)), "affected_chunks": 0,
                "rows_deleted": 0}
    _require_string_column(spark, out_dir, column, "delete_where_in")
    return delete_rows(spark, out_dir,
                       [Leaf(column, "string", "in", values=tuple(vals))],
                       delete_id, exclude_parts)


def upsert_table(spark: SparkSession, df, out_dir: str, key_col: str,
                 batch_id: str, url_col: str | None = None,
                 num_partitions: int | None = None) -> dict:
    """MERGE-INTO by key (Delta/Iceberg MERGE semantics, matched ->
    replace, not-matched -> insert): position-delete every stored row
    whose key appears in the batch, then append the batch — no
    existing chunk is rewritten on either step.

    Idempotent per batch_id end-to-end: the delete batch is keyed
    'upsert:<batch_id>' (retry recomputes + replaces its own sidecar
    partition) and append_table replays into its reserved part range.

    Contract: the batch must be key-unique (duplicate keys both land,
    like duplicate-match MERGE errors elsewhere); NULL keys never
    match and simply append.  The key list rides to executors via the
    same broadcast bound as store_membership's probe set — micro-batch
    ingest scale (millions of keys), not full-table backfill (use a
    re-encode for that)."""
    keys = [r[0] for r in df.select(key_col).distinct().collect()
            if r[0] is not None]
    # a RETRY finds the batch's own rows already appended in its
    # reserved part range — the delete must not turn the merge into a
    # self-delete, so that range (from the append_log reservation the
    # first attempt committed) is excluded from the matched scan
    exclude = None
    log_path = os.path.join(out_dir, "append_log")
    if encode_job._fs_exists(spark, log_path):
        mine = (spark.read.parquet(log_path)
                .where(F.col("batch_id") == batch_id).collect())
        if mine:
            off, n = int(mine[0]["part_offset"]), int(mine[0]["n_parts"])
            exclude = (off, off + n)
    dstats = delete_where_in(spark, out_dir, key_col, keys,
                             f"upsert:{batch_id}", exclude_parts=exclude)
    encode_job.append_table(spark, df, out_dir, batch_id=batch_id,
                            url_col=url_col,
                            num_partitions=num_partitions)
    return {"matched_deleted": dstats["rows_deleted"],
            "batch_rows": df.count(), **{f"delete_{k}": v
                                         for k, v in dstats.items()}}


def delete_where_range(spark: SparkSession, out_dir: str, column: str,
                       lo, hi, delete_id: str) -> dict:
    """DELETE WHERE column BETWEEN lo AND hi for a NUMERIC column;
    manifest interval stats matched to the column's type prune chunks
    wholly outside [lo, hi].  NULLs never match."""
    from ..sources.encoded_table import Leaf, stored_schema
    _, dtypes = stored_schema(spark, out_dir)
    dt = dtypes.get(column)
    if dt not in ("int64", "double", "float"):
        raise ValueError(
            f"delete_where_range: column {column!r} has dtype {dt!r}; "
            "int and float columns are supported (delete_where_equals "
            "for string predicates)")
    if dt == "int64":  # fractional bounds select the same integers
        lo, hi = math.ceil(lo), math.floor(hi)
    return delete_rows(spark, out_dir, [Leaf(column, dt, "range", lo, hi)],
                       delete_id)


def delete_stats(spark: SparkSession, out_dir: str) -> dict:
    """{total_rows, deleted_rows, live_rows} from part summary +
    sidecar METADATA alone — no chunk blob is read at any store size,
    and a store with no deletes runs no Spark job.  Row totals come
    from the store's position-0 column, which every part carries
    (schema evolution only ever adds columns)."""
    from ..sources.encoded_table import _schema_rows, part_summary
    first_col = _schema_rows(spark, out_dir)[0]["name"]
    total = sum(r["rows"] for (_, c), r in
                part_summary(spark, out_dir).items() if c == first_col)
    d = _read_deletes(spark, out_dir)
    deleted = (0 if d is None
               else int(d.agg(F.sum("n_deleted")).collect()[0][0] or 0))
    return {"total_rows": total, "deleted_rows": deleted,
            "live_rows": total - deleted}


def materialize_deletes(spark: SparkSession, src_dir: str, dst_dir: str,
                        codec_overrides: dict[str, str] | None = None) -> dict:
    """Rewrite ONLY the delete-affected chunks of src into a fresh dst
    store with the deleted rows physically removed; untouched chunks
    pass through byte-identical (never decoded).  Chunk ids, parts and
    the append log carry over, so the dst is a drop-in replacement —
    with history rewritten: a snapshot read of dst shows post-delete
    rows for pre-delete batches (documented Iceberg rewrite semantics).
    """
    from ..sources.encoded_table import stored_schema
    from .compact_job import encoded_manifest_row

    ver = encode_job._store_version(spark, src_dir)
    if ver != encode_job.STORE_FORMAT_VERSION:
        raise ValueError(
            f"materialize_deletes: {src_dir} has store format v{ver}; "
            f"this build handles v{encode_job.STORE_FORMAT_VERSION} only")
    if encode_job._fs_exists(spark, os.path.join(dst_dir, "chunks")):
        raise ValueError(
            f"materialize_deletes: {dst_dir} already has chunks; this "
            "pass writes a fresh store — use a new/empty output dir")
    masks = merged_masks(spark, src_dir)
    if masks is None:
        raise ValueError(
            f"materialize_deletes: {src_dir} has no delete rows — "
            "nothing to materialize")
    _, dtypes = stored_schema(spark, src_dir)
    overrides = codec_overrides or {}

    chunks = spark.read.parquet(os.path.join(src_dir, "chunks"))
    joined = chunks.join(
        masks.select("chunk_id", F.col("mask").alias("del_mask")),
        "chunk_id", "left")
    out_cols = [f.split()[0] for f in encode_job.CHUNK_SCHEMA.split(", ")]

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                if row.del_mask is None:  # untouched: byte-identical
                    rows.append({c: getattr(row, c) for c in out_cols})
                    continue
                n = int(row.num_elements)
                keep = _keep_mask(bytes(row.del_mask), n)
                if not keep.any():  # fully deleted chunk: drop it
                    continue
                dt = dtypes.get(row.column)
                s = pd.Series(chunk_codec.decode_column(bytes(row.blob), dt))
                s = s[keep].reset_index(drop=True)
                rows.append(encoded_manifest_row(
                    int(row.part_id), int(row.chunk_seq), row.chunk_id,
                    row.column, s, dt, overrides.get(row.column)))
            if rows:
                yield pd.DataFrame(rows)[out_cols]

    out = joined.select(*out_cols, "del_mask").mapInPandas(
        rewrite, encode_job.CHUNK_SCHEMA)

    (spark.createDataFrame([(encode_job.STORE_FORMAT_VERSION,)],
                           "format_version int")
        .coalesce(1).write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "store_meta")))
    (spark.read.parquet(os.path.join(src_dir, "table_schema"))
        .coalesce(1).write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "table_schema")))
    # parts are preserved, so history AND consumer cursors stay valid:
    # dst is documented as a drop-in replacement, and losing a cursor
    # re-delivers the whole history to an exactly-once consumer
    encode_job.copy_store_history(spark, src_dir, dst_dir)
    (out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id").parquet(os.path.join(dst_dir, "chunks")))
    written = spark.read.parquet(os.path.join(dst_dir, "chunks"))
    encode_job.write_manifest(spark, dst_dir, written)

    n_aff = masks.count()
    return {"affected_chunk_groups": int(n_aff),
            "dst_chunks": int(written.count())}
