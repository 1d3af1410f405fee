"""Store compaction: merge runs of adjacent small chunks into
target-sized ones — the maintenance pass every chunked store needs at
scale (small appends and fine-grained encode partitions both leave
many tiny chunks, and per-chunk overheads — manifest rows, codec
headers, dictionary heaps, task scheduling — are amortized by chunk
size).  The reference is a single-process library and has no storage
layer at all (SURVEY.md §2.1 "file formats / connectors: none"); this
is the Spark-scale completion of its vector format, alongside
encode/decode/resume/versioning/pruning.

Design:
  * The merge PLAN comes from the manifest alone (num_elements per
    (part_id, chunk_seq) — all columns of a row group share it); the
    plan is tiny and broadcast.
  * Groups with a single member PASS THROUGH byte-identical — an
    already-large chunk is never decoded, so compacting a mostly-good
    store touches only the tail of small chunks.
  * Multi-member groups decode to arrow (typed by the store's own
    schema) in chunk_seq order, concatenate, and re-encode through the
    encode worker's own chunk builder (`encode_job.chunk_row`): the
    merged chunk gets exactly the blob and manifest row a fresh encode
    of its rows would get (it may legitimately pick a different codec —
    e.g. dict over more values, or RLE once runs get long enough).
  * Parts stay independent (they are the parallelism and resume unit),
    so compaction never moves rows across parts and the (part_id,
    new_seq) order preserves row order exactly.
  * Output is a NEW store directory (same format version) — swap-in is
    an atomic rename at the catalog level, and the source store stays
    readable throughout, like Iceberg's rewrite_data_files.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession, functions as F

from ..codecs import chunk as chunk_codec
from ..sources import layout
from . import decode_job, encode_job


def _plan_groups(plan_pdf: pd.DataFrame, target_elements: int) -> pd.DataFrame:
    """Assign each (part_id, chunk_id) a new_seq: walk a part's chunks
    in row order (chunk_seq, which identifies a chunk within its part),
    closing a group once it holds >= target_elements."""
    rows = []
    for part_id, grp in plan_pdf.groupby("part_id"):
        acc = seq = 0
        for r in grp.sort_values("chunk_seq").itertuples():
            if acc >= target_elements:
                seq += 1
                acc = 0
            rows.append((int(part_id), str(r.chunk_id), int(seq)))
            acc += int(r.num_elements)
    return pd.DataFrame(rows, columns=["part_id", "chunk_id", "new_seq"])


def compact_store(spark: SparkSession, src_dir: str, dst_dir: str,
                  target_elements: int = 65536,
                  codec_overrides: dict[str, str] | None = None) -> dict:
    """Compact src_dir into dst_dir (a new store, same format version).
    Pass the same `codec_overrides` the store was encoded with to keep
    forced codecs on merged chunks (re-encode otherwise re-runs the
    stats-driven selection, which may legitimately choose differently
    over the larger merged sample).  Returns {'chunks_before',
    'chunks_after', 'merged_groups', 'passthrough_chunks'} per the
    executed plan."""
    layout.require_current(spark, src_dir, "compact_store")
    # compaction has no resume, so dst must be fresh: dynamic partition
    # overwrite only replaces part_ids present in THIS run — stale
    # partitions from previous contents would survive and be re-listed
    # by the manifest rebuild below as if they belonged to this store
    if layout.exists(spark, layout.CHUNKS.path(dst_dir)):
        raise ValueError(
            f"compact_store: {dst_dir} already has chunks; compaction "
            "writes a fresh store — use a new/empty output dir")
    # a delete sidecar references SOURCE chunk ids; merged chunks would
    # orphan its masks and silently resurrect deleted rows in dst
    from .delete_job import has_deletes
    if has_deletes(spark, src_dir):
        raise ValueError(
            f"compact_store: {src_dir} has live position deletes; run "
            "delete_job.materialize_deletes first (it rewrites only the "
            "affected chunks), then compact the materialized store")
    from ..sources.encoded_table import stored_schema
    types = dict(decode_job.arrow_fields(stored_schema(spark, src_dir)[0]))
    overrides = codec_overrides or {}

    # plan from the CHUNKS data itself, not the manifest: chunks/ is
    # the data of record (a crash between the chunks write and the
    # manifest write leaves committed chunks the manifest doesn't list
    # — encode_job's resume treats them the same way); planning off the
    # manifest would silently drop those rows from the compacted store
    chunks = layout.read(spark, src_dir, layout.CHUNKS)
    plan_pdf = (chunks.select("part_id", "chunk_seq", "chunk_id",
                              "num_elements")
                .distinct().toPandas())
    mapping_pdf = _plan_groups(plan_pdf, target_elements)
    mapping = spark.createDataFrame(
        mapping_pdf, "part_id int, chunk_id string, new_seq int")
    joined = chunks.join(F.broadcast(mapping), ["part_id", "chunk_id"])
    out_cols = layout.CHUNKS.columns

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa
        part_id, nseq, col = int(key[0]), int(key[1]), str(key[2])
        pdf = pdf.sort_values("chunk_seq")
        chunk_id = f"p{part_id:05d}-c{nseq:05d}"
        if len(pdf) == 1:
            row = {c: pdf.iloc[0][c] for c in out_cols}
            row["chunk_seq"] = nseq
            row["chunk_id"] = chunk_id
        else:
            # no session zone: a timestamp's stored wall-clock µs pass
            # through the UTC decode and re-encode unchanged
            arr = pa.concat_arrays(
                [chunk_codec.decode_column_arrow(bytes(b), types[col])
                 for b in pdf["blob"]])
            row = encode_job.chunk_row(part_id, nseq, chunk_id, col, arr,
                                       overrides.get(col))
        return pd.DataFrame([row])[out_cols]

    out = (joined.groupBy("part_id", "new_seq", "column")
           .applyInPandas(merge, layout.CHUNKS.ddl))

    encode_job.start_store(
        spark, dst_dir, layout.read_meta(spark, src_dir, layout.TABLE_SCHEMA))
    # the append_log's reserved part ranges stay valid verbatim —
    # compaction merges chunks WITHIN parts only — so snapshot history
    # (sources/snapshot.py) carries over to the compacted store
    encode_job.copy_store_history(spark, src_dir, dst_dir)
    encode_job.commit_chunks(spark, dst_dir, out)

    sizes = mapping_pdf.groupby(["part_id", "new_seq"]).size()
    return {
        "chunks_before": int(len(mapping_pdf)),
        "chunks_after": int(len(sizes)),
        "merged_groups": int((sizes > 1).sum()),
        "passthrough_chunks": int((sizes == 1).sum()),
    }


def cluster_store(spark: SparkSession, src_dir: str, dst_dir: str,
                  cluster_by: list[str] | str,
                  target_part_rows: int = 262144,
                  num_parts: int | None = None,
                  codec_overrides: dict[str, str] | None = None) -> dict:
    """Re-layout src_dir into dst_dir GLOBALLY SORTED on `cluster_by` —
    the sort-order rewrite every zone-map store needs when queries
    filter a column the ingest order scattered (Iceberg's
    rewrite_data_files with a sort order; Delta's OPTIMIZE ZORDER for
    the single-key case).  Compaction (above) merges chunks WITHIN the
    existing row order; clustering moves rows ACROSS parts so that each
    chunk covers a narrow [min, max] slice of the sort key and the
    manifest prune — useless on a scattered column, where every chunk's
    range spans the domain — starts skipping almost everything.

    Mechanics: decoded view -> `repartitionByRange` on the sort key
    (one range-exchange shuffle; Spark samples the key distribution, so
    skewed keys still split into balanced parts) -> sortWithinPartitions
    -> the SAME encode pipeline as the original ingest (stats-driven
    codec selection per chunk; re-sorted data may legitimately pick
    cheaper codecs — long runs become RLE/Const, deltas shrink).

    Contract differences from compact_store, both inherent to moving
    rows across parts:
      * live position deletes are MATERIALIZED (the decoded view
        already subtracts them), not refused — dst is born clean;
      * the append_log does NOT carry over: snapshot history is keyed
        on part ranges, which a global re-sort redefines.  dst is a
        fresh single-snapshot store, like any engine's rewrite commit.

    Returns {'rows', 'parts', 'cluster_by'}."""
    import math
    layout.require_current(spark, src_dir, "cluster_store")
    if layout.exists(spark, layout.CHUNKS.path(dst_dir)):
        raise ValueError(
            f"cluster_store: {dst_dir} already has chunks; clustering "
            "writes a fresh store — use a new/empty output dir")
    from ..sources.encoded_table import read_decoded, stored_schema
    ddl, _ = stored_schema(spark, src_dir)
    names = [f.split()[0] for f in ddl.split(", ")]
    cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    missing = [c for c in cols if c not in names]
    if missing:
        raise ValueError(f"cluster_store: sort key(s) {missing} not in "
                         f"store columns {names}")

    # part sizing from metadata alone: LIVE rows (deletes are
    # materialized by this rewrite, so dst holds exactly these)
    from .delete_job import delete_stats
    rows = delete_stats(spark, src_dir)["live_rows"]
    n_parts = num_parts or max(1, math.ceil(rows / target_part_rows))

    clustered = (read_decoded(spark, src_dir)
                 .repartitionByRange(n_parts, *[F.col(c) for c in cols])
                 .sortWithinPartitions(*cols))
    encode_job.encode_table(spark, clustered, dst_dir, url_col=None,
                            resume=False, codec_overrides=codec_overrides)
    return {"rows": int(rows), "parts": int(n_parts), "cluster_by": cols}
