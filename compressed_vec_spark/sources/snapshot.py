"""Snapshot (time-travel) reads over an encoded store's append log.

Every append_table batch reserves a CONTIGUOUS, MONOTONICALLY INCREASING
part-id range, recorded in {out_dir}/append_log BEFORE any chunk is
written (spark/encode_job.py append_table), and compaction never moves
rows across parts — so the store's history is totally ordered by part
id, and "the table as of batch B" is exactly the chunk partitions with
part_id < part_offset_B + n_parts_B.

That turns a snapshot read into pure parquet PARTITION PRUNING: the
chunks dataset is partitioned by part_id, so `part_id < cutoff` is
resolved from directory listings alone and no chunk outside the
snapshot is ever opened, at any store size.  Iceberg-style time travel
on the engine's own metadata, with zero extra state: the append log the
ingest loop already writes for idempotence doubles as the snapshot
history.

Semantics mirror Iceberg's snapshot reads (reference: the north rule's
Iceberg-table framing; Apache Iceberg spec "Snapshots"):
 - list_snapshots: ordered history — the base encode plus each batch.
 - read_snapshot:  decoded DataFrame as of a batch (or the base table).
 - snapshot_diff:  only the rows a batch ADDED (incremental consumers).

Caveat (documented, enforced): a RETRIED append rewrites its reserved
parts in place, so history is immutable only per committed batch_id —
the same contract append_table itself states.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import layout

#: Pseudo batch id naming the original encode_table output (every part
#: below the first append's reserved range).
BASE_SNAPSHOT = "<base>"


def _log_rows(spark: SparkSession, out_dir: str) -> list[dict]:
    """append_log rows ordered by part_offset (== commit order: each
    new batch reserves strictly above every earlier reservation).

    The log is store METADATA — one row per append batch — so the
    driver reads it with no Spark job (layout.read_meta)."""
    return sorted(layout.read_meta(spark, out_dir, layout.APPEND_LOG),
                  key=lambda d: d["part_offset"])


def list_snapshots(spark: SparkSession, out_dir: str) -> list[dict]:
    """Ordered snapshot history: [{batch_id, part_lo, part_hi}] with
    part_hi EXCLUSIVE.  First entry is always BASE_SNAPSHOT (the
    original encode), even when no batch was ever appended."""
    log = _log_rows(spark, out_dir)
    base_hi = log[0]["part_offset"] if log else None
    if base_hi is None:
        mx = (layout.read(spark, out_dir, layout.CHUNKS)
              .agg(F.max("part_id")).collect()[0][0])
        base_hi = (int(mx) + 1) if mx is not None else 0
    snaps = [{"batch_id": BASE_SNAPSHOT, "part_lo": 0, "part_hi": base_hi}]
    snaps += [{"batch_id": r["batch_id"], "part_lo": r["part_offset"],
               "part_hi": r["part_offset"] + r["n_parts"]} for r in log]
    return snaps


def _snapshot_bounds(spark: SparkSession, out_dir: str,
                     batch_id: str) -> dict:
    for s in list_snapshots(spark, out_dir):
        if s["batch_id"] == batch_id:
            return s
    known = [s["batch_id"] for s in list_snapshots(spark, out_dir)]
    raise ValueError(
        f"read_snapshot: unknown batch_id {batch_id!r}; store history is "
        f"{known}")


def snapshot_chunks(spark: SparkSession, out_dir: str,
                    as_of: str | None = None) -> DataFrame:
    """The store's chunk rows as of a batch — the raw (still-encoded)
    surface every pruned reader consumes.  as_of=None returns the
    current table; the part_id predicate is partition pruning on the
    chunks parquet, so out-of-snapshot chunks are never listed as
    input files, let alone decoded."""
    chunks = layout.read(spark, out_dir, layout.CHUNKS)
    if as_of is None:
        return chunks
    cutoff = _snapshot_bounds(spark, out_dir, as_of)["part_hi"]
    return chunks.where(F.col("part_id") < F.lit(cutoff))


def read_snapshot(spark: SparkSession, out_dir: str,
                  as_of: str | None = None) -> DataFrame:
    """Decoded view of the store as of a batch (None = current,
    BASE_SNAPSHOT = the original encode before any append)."""
    from ..spark import decode_job
    from .encoded_table import stored_schema
    schema, dtypes = stored_schema(spark, out_dir)
    return decode_job.decode_chunks(
        snapshot_chunks(spark, out_dir, as_of), schema, dtypes)


def consumer_position(spark: SparkSession, out_dir: str,
                      consumer_id: str) -> int:
    """The consumer's committed cursor: every part_id below it has been
    processed.  0 = nothing consumed yet (the base snapshot pending).
    The cursor is read with an EXPLICIT schema and any unreadable state
    degrades to 0: the commit is a non-atomic parquet overwrite, so a
    crash mid-commit may leave an empty/partial directory — degrading
    re-delivers earlier batches (at-least-once, safe under the
    idempotent-fn contract) instead of wedging the consumer on a
    schema-inference error.  Read on the driver, with no Spark job."""
    from pyspark.errors import AnalysisException
    where = layout.consumer_dir(out_dir, consumer_id)
    try:
        row = layout.read_meta(spark, where, layout.CURSOR)
    except AnalysisException as e:
        # structural: empty/partial cursor dir from a crashed commit —
        # the case the degrade exists for
        warnings.warn(f"consumer cursor unreadable at {where} ({e}); "
                      "degrading to position 0 (full replay)")
        return 0
    # anything else (transient FS fault, permissions, corrupt footer)
    # propagates: silently replaying the entire store history on an
    # I/O hiccup is safe but potentially enormous at scale — the
    # caller should see the fault and retry the read instead
    return int(row[0]["part_hi"]) if row else 0


def pending_batches(spark: SparkSession, out_dir: str,
                    consumer_id: str) -> list[dict]:
    """Snapshots this consumer has not committed yet, in commit order,
    STOPPING at the first incomplete batch: append_table reserves its
    part range in the append_log BEFORE writing chunks, so a crashed or
    in-flight append is visible in the history with part directories
    missing — consuming it would silently drop its rows forever once
    the cursor moves past.  Completeness is a directory-listing check
    (part_id is the partition column), no chunk is opened."""
    pos = consumer_position(spark, out_dir, consumer_id)
    pend = [s for s in list_snapshots(spark, out_dir)
            if s["part_hi"] > pos]
    if not pend:
        return []
    committed_ids = {r["batch_id"] for r in
                     layout.read_meta(spark, out_dir, layout.APPEND_COMMITS)}
    present = {int(r["part_id"]) for r in
               layout.read(spark, out_dir, layout.CHUNKS)
               .select("part_id").distinct().collect()}
    out = []
    for s in pend:
        # a batch is proven complete by its COMMIT MARKER (written by
        # encode/append AFTER the chunks land — covers batches whose
        # every Spark partition was empty and so left no part dir at
        # all).  Pre-marker stores fall back to part presence: the
        # chunks write is one job (its non-empty partitions commit
        # together), so any part of the range present, or an empty
        # reserved range, means committed; ZERO parts present with a
        # non-empty range means the append crashed before its chunks —
        # halt, its retry will fill the range.
        #
        # COMMIT-PROTOCOL ASSUMPTION (pre-marker fallback only): the
        # "partitions commit together" step requires an atomic job
        # commit — FileOutputCommitter algorithm v1 (the Spark
        # default) or an S3A/magic-style atomic committer.  Under a
        # DIRECT or v2 committer on an object store, task outputs
        # become visible one by one, so a crashed append could be half
        # visible and this fallback would consume it, skipping its
        # missing rows forever once the cursor passes part_hi.  Stores
        # written by this library always carry markers (encode_job
        # writes append_commits after the chunks), so the fallback is
        # only reached for stores predating them — migrate those with
        # one no-op append, or avoid non-atomic committers for them.
        committed = (s["batch_id"] in committed_ids
                     or s["part_lo"] >= s["part_hi"]
                     or any(p in present
                            for p in range(s["part_lo"], s["part_hi"])))
        if committed:
            out.append(s)
        else:
            break
    return out


def consume_new_batches(spark: SparkSession, out_dir: str,
                        consumer_id: str, fn) -> dict:
    """Exactly-once incremental consumption of the store's history —
    the read-side completion of the living-corpus loop whose write side
    is append_table (ingest) and store_membership (dedup): each call
    hands every not-yet-consumed batch's decoded rows to
    `fn(batch_id, DataFrame)` in commit order and commits the cursor
    AFTER fn returns, one batch at a time.  A crash mid-batch therefore
    replays exactly that batch on retry (at-least-once per batch;
    exactly-once end-to-end when fn is idempotent per batch_id — the
    same contract Structured Streaming's foreachBatch gives, without a
    streaming runtime: the append log IS the offset log).  The cursor
    lives under {out_dir}/consumers/{consumer_id} on the store's own
    filesystem, so independent consumers track independent positions.

    Returns {'processed': [batch_ids], 'position': part_hi}."""
    processed = []
    for s in pending_batches(spark, out_dir, consumer_id):
        fn(s["batch_id"], snapshot_diff(spark, out_dir, s["batch_id"]))
        layout.write_meta(spark, layout.consumer_dir(out_dir, consumer_id),
                          layout.CURSOR, [(s["batch_id"], s["part_hi"])])
        processed.append(s["batch_id"])
    return {"processed": processed,
            "position": consumer_position(spark, out_dir, consumer_id)}


def snapshot_diff(spark: SparkSession, out_dir: str,
                  batch_id: str) -> DataFrame:
    """Only the decoded rows `batch_id` ADDED — the incremental-consumer
    read (process each crawl batch exactly once, straight off the
    store).  For BASE_SNAPSHOT this is the base table itself."""
    from ..spark import decode_job
    from .encoded_table import stored_schema
    b = _snapshot_bounds(spark, out_dir, batch_id)
    chunks = (layout.read(spark, out_dir, layout.CHUNKS)
              .where((F.col("part_id") >= F.lit(b["part_lo"]))
                     & (F.col("part_id") < F.lit(b["part_hi"]))))
    schema, dtypes = stored_schema(spark, out_dir)
    return decode_job.decode_chunks(chunks, schema, dtypes)
