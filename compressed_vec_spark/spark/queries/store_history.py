"""Queries over a store's write history: snapshot (time-travel) reads
over the append log, schema evolution on append, row-level DELETE
through position deletion vectors, and MERGE-by-key upserts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ...sources import encoded_table
from ...sources.encoded_table import Leaf, _overlap, pruned_count
from ._common import _read, _row, _store


# --- snapshot (time-travel) reads over the store's append log ----------------

def _snapshot_store(spark: SparkSession, sf_dir: str) -> str:
    """Store built as base encode + two appended crawl batches
    (documents split by doc_id % 4: base carries 0 and 1, batch b1
    carries 2, batch b2 carries 3) — the living-corpus ingest history
    the snapshot reads replay."""
    def build(out: str) -> None:
        from .. import encode_job
        docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
        base = docs.where(F.col("doc_id") % 4 <= 1)
        encode_job.encode_table(spark, base, out, url_col=None,
                                resume=False, num_partitions=4)
        for i, bid in ((2, "b1"), (3, "b2")):
            encode_job.append_table(
                spark, docs.where(F.col("doc_id") % 4 == i), out,
                batch_id=bid, url_col=None, num_partitions=2)
    return _store(spark, sf_dir, "snap", build)


def snapshot_as_of_count(spark, sf_dir) -> DataFrame:
    """Time-travel read: the documents store AS OF append batch b1 —
    base rows plus b1's rows, b2 invisible.  The as-of cutoff is pure
    part_id partition pruning on the chunks parquet (no post-b1 chunk
    file is even listed), derived from the append_log the ingest loop
    already writes (sources/snapshot.py; Iceberg-spec snapshot-read
    semantics on the engine's own metadata)."""
    from ...sources import snapshot
    out = _snapshot_store(spark, sf_dir)
    df = snapshot.read_snapshot(spark, out, as_of="b1")
    return df.agg(F.count("*").alias("n_docs"),
                  F.sum("n_chars").alias("sum_chars"))


def snapshot_diff_count(spark, sf_dir) -> DataFrame:
    """Incremental-consumer read: ONLY the rows batch b2 added — the
    exactly-once per-crawl-batch processing surface, answered from the
    batch's reserved part range without touching earlier history."""
    from ...sources import snapshot
    out = _snapshot_store(spark, sf_dir)
    df = snapshot.snapshot_diff(spark, out, "b2")
    return df.agg(F.count("*").alias("n_docs"),
                  F.sum("n_chars").alias("sum_chars"))


def snapshot_pruned_range_count(spark, sf_dir) -> DataFrame:
    """Time travel COMPOSED with compressed-domain pushdown: a range
    count over the store AS OF batch b1, where the snapshot's part_id
    cutoff filters both the manifest prune and the chunks scan — b2's
    chunk files are partition-pruned away and the surviving chunks
    still get zone-map pruning + header-only section skipping.  The
    query a living-corpus consumer runs to reproduce yesterday's
    numbers after today's crawl landed."""
    out = _snapshot_store(spark, sf_dir)
    leaves = [Leaf("n_chars", "int64", "range", 100, 400)]
    # the as-of and current-table counts are independent reads of one
    # immutable store: overlap them (guide §2.6)
    (hits, stats), (full_hits, _) = _overlap(
        lambda: pruned_count(spark, out, leaves, as_of="b1"),
        lambda: pruned_count(spark, out, leaves))
    assert stats["pruned_chunks"] >= 0
    assert full_hits >= hits  # b2's rows are invisible as of b1
    return _row(spark, hits=hits)


def schema_evolution_nulls(spark, sf_dir) -> DataFrame:
    """Schema evolution on append (allow_new_columns): base parts were
    encoded WITHOUT `source`; the appended batch carries it.  Decode
    back-fills NULL for pre-evolution rows, so count(source) sees only
    the evolved batch and the conditional sum aggregates only its
    rows — the add-a-column migration a living corpus performs without
    rewriting a single existing chunk."""
    def build(out: str) -> None:
        from .. import encode_job
        docs = _read(spark, sf_dir, "documents")
        encode_job.encode_table(
            spark, docs.where(F.col("doc_id") % 2 == 0)
                       .select("doc_id", "n_chars"),
            out, url_col=None, resume=False, num_partitions=4)
        encode_job.append_table(
            spark, docs.where(F.col("doc_id") % 2 == 1)
                       .select("doc_id", "n_chars", "source"),
            out, batch_id="ev1", url_col=None, num_partitions=2,
            allow_new_columns=True)

    decoded = encoded_table.read_decoded(
        spark, _store(spark, sf_dir, "evo", build))
    return decoded.agg(
        F.count("*").alias("total"),
        F.count("source").alias("with_source"),
        F.sum(F.when(F.col("source").isNotNull(),
                     F.col("n_chars"))).alias("sum_chars_new"))


# --- row-level DELETE: position deletion vectors over the store --------------

def _deleted_store(spark: SparkSession, sf_dir: str) -> str:
    """Documents store (sorted on lang so equality deletes prune
    chunks; dict-coded lang) with two committed delete batches:
    DELETE WHERE lang='en', then an OVERLAPPING
    DELETE WHERE n_chars BETWEEN 0 AND 150 — the overlap exercises the
    exact-count contract (a row deleted by both batches is counted
    once)."""
    def build(out: str) -> None:
        from .. import delete_job, encode_job
        df = (_read(spark, sf_dir, "documents")
              .select("doc_id", "lang", "n_chars")
              .repartitionByRange(8, "lang", "doc_id")
              .sortWithinPartitions("lang", "doc_id"))
        encode_job.encode_table(spark, df, out, url_col=None, resume=False,
                                codec_overrides={"lang": "dict"})
        s1 = delete_job.delete_where_equals(spark, out, "lang", "en", "d1")
        assert s1["pruned_chunks"] >= 0
        delete_job.delete_where_range(spark, out, "n_chars", 0, 150, "d2")
    return _store(spark, sf_dir, "del", build)


def encoded_table_delete_count(spark, sf_dir) -> DataFrame:
    """Row-level DELETE via position deletion vectors (Iceberg-v2
    position-delete semantics on the engine's own format,
    spark/delete_job.py): no chunk is rewritten — the live sidecar
    generation holds one packed bitmask per affected chunk, the delete
    scan reuses the manifest-prune + compressed-code mask kernels, and
    the decoded read subtracts the masks in-task.  Returns the LIVE row
    count and a live value aggregate; the count is additionally
    cross-checked against the metadata-only answer (part summary +
    delete log, no Spark job)."""
    from .. import delete_job
    out = _deleted_store(spark, sf_dir)
    # the metadata-only stats and the decoded aggregate are independent
    # reads of one immutable store: overlap them (guide §2.6)
    meta, res = _overlap(
        lambda: delete_job.delete_stats(spark, out),
        lambda: (encoded_table.read_decoded(spark, out)
                 .agg(F.count("*").alias("live_rows"),
                      F.sum("n_chars").alias("sum_chars")).collect()[0]))
    assert int(res["live_rows"]) == meta["live_rows"]  # data == metadata
    return _row(spark, live_rows=res["live_rows"],
                sum_chars=res["sum_chars"])


def encoded_table_delete_materialize(spark, sf_dir) -> DataFrame:
    """materialize_deletes: rewrite ONLY the delete-affected chunks
    into a fresh store (untouched chunks pass through byte-identical),
    then answer count + sum from the NEW store's part summary ALONE
    (no Spark job) — green only if the rewrite removed exactly the
    deleted rows AND recomputed every chunk stat (num_elements,
    sum_val) correctly."""
    from .. import delete_job
    dst = _store(spark, sf_dir, "mat", lambda out: (
        delete_job.materialize_deletes(
            spark, _deleted_store(spark, sf_dir), out)))
    assert not delete_job.has_deletes(spark, dst)
    summary = encoded_table.part_summary(spark, dst)
    return _row(
        spark,
        live_rows=sum(r["rows"] for (_, c), r in summary.items()
                      if c == "doc_id"),
        sum_chars=sum(r["sum_val"] for (_, c), r in summary.items()
                      if c == "n_chars"))


def encoded_table_delete_pushdown(spark, sf_dir) -> DataFrame:
    """Pruned fast-path reads over a store with LIVE position deletes
    (spark/delete_job.py live_masks): every chunk keeps its compressed
    kernels, a delete-affected chunk AND-ing its live deletion vector
    in, and manifest-answer shortcuts (covered-chunk sums,
    top-k thresholds) exclude affected chunks whose stats may describe
    deleted rows.  Green only if the dict-code string equality count,
    the section-skip numeric range count, the three-level filtered SUM
    and the threshold-pruned top-k all equal the oracle's live view."""
    out = _deleted_store(spark, sf_dir)
    n_chars = [Leaf("n_chars", "int64", "range", 200, 400)]
    # the four kernels are independent reads of one store: overlap
    # them so each kernel's straggler tail backfills with the next
    # kernel's tasks instead of serializing four job round-trips
    # (guide §2.6 "overlap independent jobs")
    (cnt_de, _), (cnt_rng, _), (sum_ids, st_sum), (top5, _) = _overlap(
        lambda: pruned_count(spark, out, [
            Leaf("lang", "string", "in", values=("de",))]),
        lambda: pruned_count(spark, out, n_chars),
        lambda: encoded_table.pruned_sum(spark, out, n_chars, "doc_id"),
        lambda: encoded_table.pruned_topk(spark, out, "n_chars", 5))
    # the delete-affected chunks must NOT have taken the manifest
    # shortcut: their stats describe pre-delete rows
    assert st_sum["covered_chunks"] + st_sum["scanned_chunks"] \
        <= st_sum["total_chunks"]
    return _row(spark, cnt_lang_de=cnt_de, cnt_range=cnt_rng,
                sum_ids=sum_ids, top5_sum=sum(top5))


def encoded_table_upsert_count(spark, sf_dir) -> DataFrame:
    """MERGE-INTO by key (delete_job.upsert_table): matched keys are
    position-deleted (Bloom-pruned IN-mask over the stored key column
    — high-cardinality and unsorted, the case zone maps can't carry),
    the batch appends into fresh parts, and the live view shows
    replaced values for matched keys plus the inserted rows.  The
    batch ingest-with-corrections loop a living corpus runs."""
    def build(out: str) -> None:
        from .. import delete_job, encode_job
        docs = _read(spark, sf_dir, "documents")
        kcol = F.concat_ws("-", F.col("source"),
                           F.col("doc_id").cast("string")).alias("key")
        base = docs.select(kcol, "doc_id", "n_chars")
        encode_job.encode_table(spark, base, out, url_col=None,
                                resume=False, num_partitions=4)
        updates = (docs.where(F.col("doc_id") % 7 == 3)
                   .select(kcol, "doc_id",
                           (F.col("n_chars") + 1000000).alias("n_chars")))
        inserts = (docs.where(F.col("doc_id") % 10 == 4)
                   .select(F.concat(kcol, F.lit("#new")).alias("key"),
                           (F.col("doc_id") + 10000000).alias("doc_id"),
                           (F.col("n_chars") + 5).alias("n_chars")))
        st = delete_job.upsert_table(
            spark, updates.unionByName(inserts), out, "key", "u1",
            num_partitions=2)
        assert st["matched_deleted"] > 0

    out = _store(spark, sf_dir, "ups", build)
    return (encoded_table.read_decoded(spark, out)
            .agg(F.count("*").alias("live_rows"),
                 F.sum("n_chars").alias("sum_chars"))
            .select(F.col("live_rows").cast("long"),
                    F.col("sum_chars").cast("long")))
