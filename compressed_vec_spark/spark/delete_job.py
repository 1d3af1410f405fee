"""Row-level DELETE over an encoded store: one live deletion vector per
chunk (Iceberg v3's rule, on this engine's own format).

A DELETE never rewrites a chunk.  It writes the next sidecar generation
and commits it with one log row (tables declared in sources/layout.py):

  chunks/                          immutable encoded blobs (data of record)
  deletes/delete_id=<id>/*.parquet (chunk_id, n_rows, n_deleted, mask)
  delete_log/*.parquet             (delete_id, seq, rows_deleted,
                                    affected_chunks, deleted_rows)

Partition <id> holds the WHOLE live set after that delete: one row per
chunk with any deleted row, its packed mask the OR of every delete so
far.  The highest-seq log row names the live partition, so readers read
one generation with no merge (`live_masks`, unpacked by `_keep_mask`;
no other module knows the format) and live counts come from that row
alone (`delete_stats`).  After its log row, a delete removes every
other partition (superseded generations, crashed deletes'), so a
DataFrame or view built before a delete must be built again after it.
The reference's vectors are write-once
(reference src/vector.rs:238-246), so the design follows the public
Iceberg/Delta deletion-vector model, not a reference operator.

Consistency contract:
  * the log row is the commit point: a delete that crashes before it
    leaves the parent generation live and untouched, and its retry
    recomputes from it, replacing its own partition (dynamic overwrite);
  * a delete_id already in the log writes nothing and returns its
    logged counts;
  * rows_deleted counts only rows no earlier delete removed, so the
    log's deleted_rows is exact under overlapping predicates;
  * deletes apply to the CURRENT table — snapshot (time-travel) reads
    predate them; materialize_deletes() rewrites only the affected
    chunks when a clean store is needed, and compact_store refuses a
    store with live deletes (merged chunk ids would orphan the masks);
  * sidecars of stores before format v7 (one mask per delete batch)
    are refused, not read.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..codecs import chunk as chunk_codec
from ..sources import layout
from . import encode_job


def _log(spark: SparkSession, out_dir: str) -> list[dict]:
    """The committed delete_log rows, read with no Spark job.  A sidecar
    with no log is a crashed first delete (nothing committed) or a
    pre-v7 store's per-batch masks, which are refused: ignoring them
    would bring deleted rows back."""
    log = layout.read_meta(spark, out_dir, layout.DELETE_LOG)
    if not log and layout.exists(spark, layout.DELETES.path(out_dir)):
        layout.require_current(spark, out_dir, "delete sidecar")
    return log


def _live(spark: SparkSession, out_dir: str) -> dict | None:
    """The delete_log row of the live generation (highest seq)."""
    return max(_log(spark, out_dir), key=lambda r: r["seq"], default=None)


def has_deletes(spark: SparkSession, out_dir: str) -> bool:
    """True once a delete has committed on the store."""
    return _live(spark, out_dir) is not None


def _partition(spark: SparkSession, delete_id: str) -> str:
    """The partition directory of `delete_id`, Spark-escaped (':' is %3A)."""
    return f"{layout.DELETES.partition}=" + (
        spark._jvm.org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(delete_id))


def _generation(spark: SparkSession, out_dir: str,
                live: dict | None) -> DataFrame | None:
    """layout.DELETES rows of the partition `live` names, read with the
    declared schema; None when it deletes no row."""
    if live is None or not live["deleted_rows"]:
        return None
    return layout.read(spark, out_dir, layout.DELETES,
                       _partition(spark, live["delete_id"]))


def live_masks(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """(chunk_id, part_id, n_rows, n_deleted, keep_mask) of the live
    generation, one row per chunk with any deleted row (keep_mask: the
    packed deleted-row bits, `_keep_mask` unpacks them), or None when
    no row is deleted.  The sidecar's one reader: no merge, no job."""
    gen = _generation(spark, out_dir, _live(spark, out_dir))
    return None if gen is None else gen.select(
        "chunk_id", "part_id", "n_rows", "n_deleted",
        F.col("mask").alias("keep_mask"))


def _keep_mask(mask_bytes: bytes, n_rows: int) -> np.ndarray:
    """Packed sidecar mask -> boolean keep vector of length n_rows."""
    dele = np.unpackbits(np.frombuffer(mask_bytes, np.uint8),
                         count=n_rows).astype(bool)
    return ~dele


def _commit(spark: SparkSession, out_dir: str, row: tuple) -> None:
    """Append one layout.DELETE_LOG row, the commit point of a delete."""
    layout.write_meta(spark, out_dir, layout.DELETE_LOG, [row], "append")


def _vacuum(spark: SparkSession, out_dir: str, live_id: str) -> None:
    """Remove every deletes partition but `live_id`'s, which holds the
    whole live set: the others are never read again."""
    root = layout.DELETES.path(out_dir)
    keep = _partition(spark, live_id)
    for name in layout.children(spark, root):
        if name.startswith(f"{layout.DELETES.partition}=") and name != keep:
            layout.remove(spark, f"{root}/{name}")


def delete_rows(spark: SparkSession, out_dir: str, leaves: list,
                delete_id: str,
                exclude_parts: tuple[int, int] | None = None) -> dict:
    """Core of every DELETE: the pruning front and the AND-ed leaf
    masks (`encoded_table.Leaf`) with the live generation as keep mask,
    so only rows no earlier delete removed are new.  One
    dynamic-overwrite write of partition `delete_id` holds prior | new
    for every scanned chunk with either, plus the prior rows of
    unscanned chunks; one delete_log row commits it.  A logged
    delete_id writes nothing.  `exclude_parts` (lo, hi exclusive) is
    left alone.  Returns the pruned-read stats record plus
    affected_chunks and rows_deleted (the new rows and their chunks)."""
    from ..sources import encoded_table
    layout.require_current(spark, out_dir, "delete_rows")
    log = _log(spark, out_dir)
    live = max(log, key=lambda r: r["seq"], default=None)
    prior = _generation(spark, out_dir, live)
    lo, hi = exclude_parts or (0, 0)
    cols = list(dict.fromkeys(leaf.col for leaf in leaves))
    front = encoded_table._front(
        spark, out_dir, leaves, cols,
        None if prior is None else prior.withColumnRenamed("mask",
                                                           "keep_mask"),
        lambda p: not lo <= p < hi)
    done = [r for r in log if r["delete_id"] == delete_id]
    if done:
        return {**encoded_table._stats(*front.counts(), parts=front.parts),
                "affected_chunks": done[0]["affected_chunks"],
                "rows_deleted": done[0]["rows_deleted"]}

    def generation(row, new) -> tuple | None:
        # `new`: the live rows the leaves match, this delete's own
        if new is None and row.keep_mask is None:
            return None
        n = int(row.num_elements)
        new = np.zeros(n, dtype=bool) if new is None else new.reshape(-1)[:n]
        mask = np.packbits(new)
        if row.keep_mask is not None:
            mask |= np.frombuffer(bytes(row.keep_mask), np.uint8)
        return (delete_id, int(row.part_id), int(row.chunk_seq),
                row.chunk_id, n, int(np.unpackbits(mask).sum()),
                mask.tobytes(), int(new.sum()))

    def rows(parts: list, _) -> pd.DataFrame:
        return pd.DataFrame(parts, columns=[
            "delete_id", "part_id", "chunk_seq", "chunk_id", "n_rows",
            "n_deleted", "mask", "n_new"])

    # the new-row counts are aggregated as the write runs, with no job
    # of their own
    obs = Observation()
    gen = (encoded_table._run(front, generation,
                              layout.DELETES.ddl + ", n_new long", rows)
           .observe(obs, F.sum("n_new").alias("rows"),
                    F.count(F.when(F.col("n_new") > 0, 1)).alias("chunks"))
           .drop("n_new"))
    if prior is not None:
        gen = gen.unionByName(
            prior.join(front.ids, "chunk_id", "left_anti")
            .withColumn("delete_id", F.lit(delete_id)))

    def write():
        # dynamic partition overwrite: a retry replaces this delete_id's
        # partition wholesale, other generations untouched
        (gen.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(layout.DELETES.partition)
            .parquet(layout.DELETES.path(out_dir)))

    # the prune counts and the generation write are independent jobs
    (total, zone, scanned), _ = encoded_table._overlap(front.counts, write)
    rows, chunks = int(obs.get["rows"] or 0), int(obs.get["chunks"])
    seq, before = (live["seq"], live["deleted_rows"]) if live else (-1, 0)
    _commit(spark, out_dir, (delete_id, seq + 1, rows, chunks, before + rows))
    _vacuum(spark, out_dir, delete_id)
    return {**encoded_table._stats(total, zone, scanned, parts=front.parts),
            "affected_chunks": chunks, "rows_deleted": rows}


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
    'upsert:<batch_id>' (a committed delete is not redone, a crashed
    one recomputes) and append_table replays into its reserved part
    range.

    Contract: the batch must be key-unique (duplicate keys both land,
    like duplicate-match MERGE errors elsewhere); NULL keys never
    match and simply append.  The key list rides to executors via the
    same broadcast bound as store_membership's probe set — crawl-batch
    ingest scale (millions of keys), not full-table backfill (use a
    re-encode for that)."""
    from ..sources.snapshot import _log_rows
    layout.require_current(spark, out_dir, "upsert_table")
    keys = [r[0] for r in df.select(key_col).distinct().collect()
            if r[0] is not None]
    # a RETRY finds the batch's own rows already appended in its
    # reserved part range — the delete must not turn the merge into a
    # self-delete, so that range (from the append_log reservation the
    # first attempt committed) is excluded from the matched scan
    mine = [(r["part_offset"], r["part_offset"] + r["n_parts"])
            for r in _log_rows(spark, out_dir) if r["batch_id"] == batch_id]
    dstats = delete_where_in(spark, out_dir, key_col, keys,
                             f"upsert:{batch_id}",
                             exclude_parts=mine[0] if mine else None)
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
    """{total_rows, deleted_rows, live_rows} from the part summary and
    the live delete_log row alone, with no Spark job at any store
    size.  Row totals come from the store's position-0 column, which
    every part carries (schema evolution only ever adds columns)."""
    from ..sources.encoded_table import _schema_rows, part_summary
    first_col = _schema_rows(spark, out_dir)[0]["name"]
    total = sum(r["rows"] for (_, c), r in
                part_summary(spark, out_dir).items() if c == first_col)
    live = _live(spark, out_dir)
    deleted = live["deleted_rows"] if live else 0
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

    layout.require_current(spark, src_dir, "materialize_deletes")
    if layout.exists(spark, layout.CHUNKS.path(dst_dir)):
        raise ValueError(
            f"materialize_deletes: {dst_dir} already has chunks; this "
            "pass writes a fresh store — use a new/empty output dir")
    masks = live_masks(spark, src_dir)
    if masks is None:
        raise ValueError(
            f"materialize_deletes: {src_dir} has no delete rows — "
            "nothing to materialize")
    _, dtypes = stored_schema(spark, src_dir)
    overrides = codec_overrides or {}

    chunks = layout.read(spark, src_dir, layout.CHUNKS)
    joined = chunks.join(
        masks.select("chunk_id", F.col("keep_mask").alias("del_mask")),
        "chunk_id", "left")
    out_cols = layout.CHUNKS.columns

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
        rewrite, layout.CHUNKS.ddl)

    encode_job.start_store(
        spark, dst_dir, layout.read_meta(spark, src_dir, layout.TABLE_SCHEMA))
    # parts are preserved, so history AND consumer cursors stay valid:
    # dst is documented as a drop-in replacement, and losing a cursor
    # re-delivers the whole history to an exactly-once consumer
    encode_job.copy_store_history(spark, src_dir, dst_dir)
    written = encode_job.commit_chunks(spark, dst_dir, out)

    n_aff = masks.count()
    return {"affected_chunk_groups": int(n_aff),
            "dst_chunks": int(written.count())}
