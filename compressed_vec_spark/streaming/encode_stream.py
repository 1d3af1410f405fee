"""Structured Streaming encode: continuously compress arriving pages.

The reference has no streaming (SURVEY.md §2.6) — its appender is an
incremental single-thread builder (reference src/vector.rs:298-307).
The Spark-native generalization: a readStream source feeds micro-batches
through the SAME batch encode pipeline via foreachBatch, appending
encoded chunks + manifest rows per micro-batch.  Checkpointing gives
exactly-once chunk output (chunk ids carry the batch id), which is the
streaming form of the north rule's idempotent-resume requirement.

Late data: the encode is order-insensitive across chunks (each chunk is
self-contained), so watermarking is only needed for the optional
warc_ts-windowed stats aggregation, demonstrated in `windowed_stats`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources import layout
from ..spark import encode_job


def start_encode_stream(spark: SparkSession, source: DataFrame, out_dir: str,
                        trigger_seconds: int = 5,
                        columns: list[str] | None = None):
    """source: a streaming DataFrame with web-table schema.  Returns the
    StreamingQuery; encoded chunks land under the store's chunks, and
    the store describes itself like a batch-encoded one."""
    # the batch resume guard: appending onto another format version
    # would mix schemas.  A fresh dir is started before the first batch,
    # so a crash mid-stream leaves a self-describing store.
    if layout.version(spark, out_dir) is not None:
        layout.require_current(spark, out_dir, "start_encode_stream")
    elif layout.exists(spark, layout.CHUNKS.path(out_dir)):
        raise ValueError(
            f"stream target {out_dir} has chunks but no store_meta "
            "(pre-versioning store); appending would mix manifest "
            "schemas. Use a new output dir.")
    else:
        encode_job.start_store(spark, out_dir,
                               encode_job.table_rows(source, columns))

    def process_batch(batch_df: DataFrame, batch_id: int):
        encode_micro_batch(spark, batch_df, batch_id, out_dir, columns)

    return (source.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start())


def encode_micro_batch(spark: SparkSession, batch_df: DataFrame,
                       batch_id: int, out_dir: str,
                       columns: list[str] | None = None) -> None:
    """Encode one micro-batch and append its chunks (under the store's
    chunks/part_id=N directories), manifest rows and part summary rows.
    Every batch restarts part ids at 0, so chunk ids carry the batch id
    (idempotent replay), and readers combine a part's summary rows.
    The encoded batch is persisted for its three writes, so it is
    encoded once."""
    if batch_df.isEmpty():
        return
    enc = encode_job.encode_table(
        spark, batch_df, out_dir="", write=False, columns=columns,
        num_partitions=max(spark.sparkContext.defaultParallelism, 2))
    enc = enc.withColumn(
        "chunk_id", F.concat(F.lit(f"b{batch_id:08d}-"), F.col("chunk_id"))
    ).persist()
    try:
        (enc.write.mode("append").partitionBy(layout.CHUNKS.partition)
            .parquet(layout.CHUNKS.path(out_dir)))
        encode_job.write_manifest(spark, out_dir, enc, mode="append")
    finally:
        enc.unpersist()


def streaming_dedup(source: DataFrame, hash_col: str = "text") -> DataFrame:
    """Custom stateful streaming operator: global exact-content dedup
    across micro-batches via applyInPandasWithState.

    The content hash is computed in the PLAN (JVM sha2 — no Python in
    the hash path).  State is keyed PER DIGEST: each distinct content
    hash owns one tiny boolean state row, so a micro-batch writes state
    only for the digests it actually contains — O(new digests per
    batch), never a rewrite of the full seen-set (the state store,
    RocksDB-backed on a real cluster, is exactly one row per distinct
    content ever seen, uniformly hash-distributed across executors)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import functions as F

    keyed = source.withColumn(
        "__h", F.sha2(F.col(hash_col).cast("binary"), 256))
    out_schema = keyed.schema

    def dedup_fn(key, pdfs, state: GroupState):
        if state.exists:
            # digest already emitted in a previous batch: drop everything
            for _ in pdfs:
                pass
            return
        emitted = False
        for pdf in pdfs:
            if not emitted and len(pdf):
                # first occurrence wins; later rows in the same batch
                # (and group) are duplicates by construction
                yield pdf.iloc[[0]]
                emitted = True
        if emitted:
            state.update((True,))

    return keyed.groupBy("__h").applyInPandasWithState(
        dedup_fn, outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout).drop("__h")


def sessionize(source: DataFrame, key_col: str, ts_col: str,
               gap_seconds: int = 1800,
               watermark: str = "30 minutes") -> DataFrame:
    """Gap-based sessionization with EVENT-TIME close semantics: events
    of one key belong to one session while the event-time gap between
    them stays under `gap_seconds`; a session closes only once the
    watermark guarantees no event can extend it (watermark >
    session_end + gap).  Backpressure / processing-time stalls can no
    longer split a session, and out-of-order events (within the
    watermark delay) merge into the right session with correct bounds:
    state holds ALL open intervals per key and each batch re-merges
    stored intervals with the batch's sorted segments, taking min/max
    bounds.  State is O(active keys x open intervals), each batch writes
    only the keys it saw (same per-key design as streaming_dedup).
    Events older than the watermark are dropped (standard late-data
    contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs, state: GroupState):
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            firsts, lasts, counts = state.get
            ivals = [[int(f), int(l), int(c)]
                     for f, l, c in zip(firsts, lasts, counts)]
        else:
            ivals = []
        parts = [pd.to_datetime(pdf[ts_col]).astype("int64").to_numpy() // 1000
                 for pdf in pdfs if len(pdf)]
        if parts:
            ts = np.sort(np.concatenate(parts))
            if wm_us > 0:  # drop data later than the watermark allows
                ts = ts[ts >= wm_us]
            # vectorized segmentation: a session break wherever the gap
            # exceeds the threshold (per-SESSION work below, never
            # per-event)
            if len(ts):
                brk = np.flatnonzero(np.diff(ts) > gap_us) + 1
                seg_a = np.concatenate(([0], brk))
                seg_b = np.concatenate((brk, [len(ts)]))
                ivals += [[int(ts[a]), int(ts[b - 1]), int(b - a)]
                          for a, b in zip(seg_a, seg_b)]
        # interval merge with gap threshold — out-of-order segments
        # (earlier than a stored session's start) extend bounds via
        # min/max instead of corrupting them
        ivals.sort(key=lambda iv: iv[0])
        merged: list[list[int]] = []
        for iv in ivals:
            if merged and iv[0] - merged[-1][1] <= gap_us:
                merged[-1][1] = max(merged[-1][1], iv[1])
                merged[-1][2] += iv[2]
            else:
                merged.append(iv)
        # STRICT close: our own late filter keeps ts >= wm_us, and an
        # event with ts - iv[1] == gap_us extends the session, so a
        # session is only provably complete once iv[1] + gap_us < wm_us.
        # (Spark's internal stateful-op late filter is stricter — it
        # drops ts <= wm before the UDF, verified empirically, under
        # which <= close would also be safe — but strict close is
        # correct under EITHER filter semantics at the cost of one
        # extra batch of latency in the exact-equality corner.)
        closed = [iv for iv in merged if iv[1] + gap_us < wm_us]
        still_open = [iv for iv in merged if iv[1] + gap_us >= wm_us]
        if closed:
            yield pd.DataFrame(
                [(key[0], f, l, c) for f, l, c in closed],
                columns=["key", "session_start_us", "session_end_us",
                         "events"])
        if still_open:
            state.update(([iv[0] for iv in still_open],
                          [iv[1] for iv in still_open],
                          [iv[2] for iv in still_open]))
            # fire when the watermark passes the earliest possible close
            t_ms = min(iv[1] + gap_us for iv in still_open) // 1000
            state.setTimeoutTimestamp(max(t_ms, wm_us // 1000 + 1))
        elif state.exists:
            state.remove()

    return (source.withWatermark(ts_col, watermark)
            .groupBy(F.col(key_col))
            .applyInPandasWithState(
                fn,
                outputStructType="key long, session_start_us long, "
                                 "session_end_us long, events long",
                stateStructType="firsts array<long>, lasts array<long>, "
                                "counts array<long>",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def windowed_stats(source: DataFrame, ts_col: str = "warc_ts",
                   watermark: str = "10 minutes",
                   window: str = "5 minutes") -> DataFrame:
    """Watermarked tumbling-window page statistics (late data dropped
    after the watermark) — the streaming analog of the per-chunk
    manifest metrics."""
    return (source
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window), F.col("lang"))
            .agg(F.count("*").alias("pages"),
                 F.sum(F.length("text")).alias("chars")))
