"""Snapshot (time-travel) reads: the append_log's reserved part ranges
double as an ordered snapshot history, so `read as of batch B` is a
partition-pruning filter over the chunks parquet (sources/snapshot.py).
Covers history listing, as-of reads, per-batch diffs, survival across
compaction, and the unknown-batch refusal."""

import os

import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.sources import encoded_table, snapshot
from compressed_vec_spark.sources.encoded_table import Leaf
from compressed_vec_spark.spark import compact_job, encode_job, webtable
from compressed_vec_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-snapshot-tests", cores=4, chunk_rows=1024)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Base encode + two appended batches over disjoint url-hash
    thirds; yields (out_dir, {split: url set})."""
    out = str(tmp_path_factory.mktemp("snap") / "store")
    web = webtable.webpages(spark, 3000, partitions=4)
    splits = {i: web.where(F.crc32(F.col("url")) % 3 == i)
              for i in range(3)}
    urls = {i: {r["url"] for r in s.select("url").collect()}
            for i, s in splits.items()}
    assert all(urls.values())
    encode_job.encode_table(spark, splits[0], out, num_partitions=3)
    encode_job.append_table(spark, splits[1], out, batch_id="crawl-b1",
                            num_partitions=3)
    encode_job.append_table(spark, splits[2], out, batch_id="crawl-b2",
                            num_partitions=3)
    return out, urls


def _urls(df):
    return {r["url"] for r in df.select("url").collect()}


def test_history_is_ordered_and_disjoint(spark, store):
    out, _ = store
    snaps = snapshot.list_snapshots(spark, out)
    assert [s["batch_id"] for s in snaps] == \
        [snapshot.BASE_SNAPSHOT, "crawl-b1", "crawl-b2"]
    for prev, nxt in zip(snaps, snaps[1:]):
        assert prev["part_hi"] <= nxt["part_lo"]  # disjoint, ordered


def test_read_as_of_each_batch(spark, store):
    out, urls = store
    assert _urls(snapshot.read_snapshot(spark, out,
                                        snapshot.BASE_SNAPSHOT)) == urls[0]
    assert _urls(snapshot.read_snapshot(spark, out, "crawl-b1")) == \
        urls[0] | urls[1]
    assert _urls(snapshot.read_snapshot(spark, out, "crawl-b2")) == \
        urls[0] | urls[1] | urls[2]
    # as_of=None is the current table
    assert _urls(snapshot.read_snapshot(spark, out)) == \
        urls[0] | urls[1] | urls[2]


def test_snapshot_diff_is_exactly_the_batch(spark, store):
    out, urls = store
    assert _urls(snapshot.snapshot_diff(spark, out, "crawl-b1")) == urls[1]
    assert _urls(snapshot.snapshot_diff(spark, out,
                                        snapshot.BASE_SNAPSHOT)) == urls[0]


def test_snapshot_prunes_chunk_partitions(spark, store):
    """The as-of filter must reach the parquet source as part_id
    partition pruning — out-of-snapshot chunk files never read."""
    out, _ = store
    df = snapshot.snapshot_chunks(spark, out, "crawl-b1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "part_id" in plan  # partition filter present in the scan
    hi = [s for s in snapshot.list_snapshots(spark, out)
          if s["batch_id"] == "crawl-b1"][0]["part_hi"]
    assert df.agg(F.max("part_id")).collect()[0][0] < hi


def test_unknown_batch_refused(spark, store):
    out, _ = store
    with pytest.raises(ValueError, match="unknown batch_id"):
        snapshot.read_snapshot(spark, out, "no-such-batch")


def test_snapshots_survive_compaction(spark, store, tmp_path):
    """Compaction merges small chunks WITHIN parts and carries the
    append_log and consumer cursors over, so part-range snapshots stay
    exact on the compacted store and a caught-up consumer stays caught
    up."""
    out, urls = store
    dst = str(tmp_path / "compacted")
    snapshot.consume_new_batches(spark, out, "c-compact", lambda b, df: None)
    stats = compact_job.compact_store(spark, out, dst,
                                      target_elements=4096)
    assert stats["chunks_after"] <= stats["chunks_before"]
    assert os.path.exists(os.path.join(dst, "append_log"))
    assert [s["batch_id"] for s in snapshot.list_snapshots(spark, dst)] \
        == [snapshot.BASE_SNAPSHOT, "crawl-b1", "crawl-b2"]
    assert _urls(snapshot.read_snapshot(spark, dst, "crawl-b1")) == \
        urls[0] | urls[1]
    assert _urls(snapshot.snapshot_diff(spark, dst, "crawl-b2")) == urls[2]
    # the consumer's cursor carries over: nothing re-delivers
    assert (snapshot.consumer_position(spark, dst, "c-compact")
            == snapshot.consumer_position(spark, out, "c-compact") > 0)
    assert snapshot.pending_batches(spark, dst, "c-compact") == []


def test_pruned_range_count_as_of(spark, tmp_path):
    """Snapshot cutoff composes with the pushdown reader: counts as of
    each batch see exactly that prefix of the history."""
    out = str(tmp_path / "num_store")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    encode_job.encode_table(spark, mk(0, 100), out, url_col=None,
                            num_partitions=2)
    encode_job.append_table(spark, mk(100, 250), out, batch_id="b1",
                            url_col=None, num_partitions=2)
    encode_job.append_table(spark, mk(250, 400), out, batch_id="b2",
                            url_col=None, num_partitions=2)
    every_k = [Leaf("k", "int64", "range", 0, 10**6)]
    count = lambda **kw: encoded_table.pruned_count(
        spark, out, every_k, **kw)[0]
    assert count(as_of=snapshot.BASE_SNAPSHOT) == 100
    assert count(as_of="b1") == 250
    assert count(as_of="b2") == 400
    assert count() == 400
    # the cutoff reaches the manifest prune too: total_chunks shrinks
    _, st_asof = encoded_table.pruned_count(
        spark, out, every_k, as_of=snapshot.BASE_SNAPSHOT)
    _, st_full = encoded_table.pruned_count(spark, out, every_k)
    assert st_asof["total_chunks"] < st_full["total_chunks"]
    with pytest.raises(ValueError, match="unknown batch_id"):
        count(as_of="nope")


def test_schema_evolution_on_append(spark, tmp_path):
    """allow_new_columns: the batch's extra column lands for its parts
    only; old parts decode it as NULL; pruned readers on the new
    column stay exact (old parts have no manifest rows for it and NULL
    matches nothing); retries don't duplicate schema rows."""
    out = str(tmp_path / "evolve")
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    encode_job.encode_table(spark, base, out, url_col=None,
                            num_partitions=2)
    batch = spark.range(200, 350).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"),
        (F.col("id") * 10).alias("score"))
    # refused without the flag
    with pytest.raises(ValueError, match="allow_new_columns"):
        encode_job.append_table(spark, batch, out, batch_id="ev1",
                                url_col=None, num_partitions=2)
    encode_job.append_table(spark, batch, out, batch_id="ev1",
                            url_col=None, num_partitions=2,
                            allow_new_columns=True)

    decoded = encoded_table.read_decoded(spark, out)
    assert set(decoded.columns) == {"k", "v", "score"}
    assert decoded.count() == 350
    assert decoded.where(F.col("score").isNull()).count() == 200
    got = {r["k"]: r["score"]
           for r in decoded.where(F.col("score").isNotNull()).collect()}
    assert got == {k: k * 10 for k in range(200, 350)}

    # pruned range count on the evolved column: only batch rows match
    hits, stats = encoded_table.pruned_count(
        spark, out, [Leaf("score", "int64", "range", 2000, 2490)])
    assert hits == 50  # k in [200, 249]
    assert stats["total_chunks"] >= 1

    # retry of the same evolving batch: no duplicate schema rows, no
    # duplicate data
    encode_job.append_table(spark, batch, out, batch_id="ev1",
                            url_col=None, num_partitions=2,
                            allow_new_columns=True)
    schema_rows = spark.read.parquet(
        os.path.join(out, "table_schema")).collect()
    assert sorted((r["name"], r["position"]) for r in schema_rows) == \
        [("k", 0), ("score", 2), ("v", 1)]
    assert encoded_table.read_decoded(spark, out).count() == 350

    # snapshot semantics: the base snapshot predates the column — its
    # decoded view carries it as all-NULL; the diff carries the values
    base_view = snapshot.read_snapshot(spark, out, snapshot.BASE_SNAPSHOT)
    assert base_view.where(F.col("score").isNotNull()).count() == 0
    diff = snapshot.snapshot_diff(spark, out, "ev1")
    assert diff.where(F.col("score").isNull()).count() == 0
    assert diff.count() == 150


def test_manifest_null_count_on_evolved_store(spark, tmp_path):
    """The manifest-only null count stays exact across schema
    evolution: pre-evolution parts contribute all their rows as
    back-filled NULLs, counted without reading a blob."""
    out = str(tmp_path / "evolve_nulls")
    encode_job.encode_table(
        spark, spark.range(0, 120).select(F.col("id").alias("k")),
        out, url_col=None, num_partitions=2)
    batch = spark.range(120, 200).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 == 0, None)
         .otherwise(F.col("id")).alias("extra"))
    encode_job.append_table(spark, batch, out, batch_id="ev",
                            url_col=None, num_partitions=2,
                            allow_new_columns=True)
    nulls, non_nulls = encoded_table.manifest_null_count(spark, out,
                                                         "extra")
    # 120 back-filled + 16 explicit (k in 120..199 with k%5==0)
    assert (nulls, non_nulls) == (136, 64)
    # sanity against the decoded view
    dec = encoded_table.read_decoded(spark, out)
    assert dec.where(F.col("extra").isNull()).count() == 136
    # non-evolved column: plain manifest stats
    assert encoded_table.manifest_null_count(spark, out, "k") == (0, 200)


def test_consume_new_batches_exactly_once(spark, store):
    out, urls = store
    seen = {}
    res = snapshot.consume_new_batches(
        spark, out, "trainer", lambda b, df: seen.__setitem__(b, _urls(df)))
    assert res["processed"] == [snapshot.BASE_SNAPSHOT,
                                "crawl-b1", "crawl-b2"]
    assert seen[snapshot.BASE_SNAPSHOT] == urls[0]
    assert seen["crawl-b1"] == urls[1]
    assert seen["crawl-b2"] == urls[2]

    # nothing pending on the next call; fn must not run
    def never(b, df):
        raise AssertionError("no batch should be pending")
    assert snapshot.consume_new_batches(
        spark, out, "trainer", never)["processed"] == []
    # an independent consumer has its own cursor
    assert snapshot.consumer_position(spark, out, "other-consumer") == 0


def test_consume_crash_replays_only_failed_batch(spark, store):
    out, _ = store
    calls = []

    def boom(b, df):
        calls.append(b)
        if b == "crawl-b1":
            raise RuntimeError("downstream crash")

    with pytest.raises(RuntimeError, match="downstream crash"):
        snapshot.consume_new_batches(spark, out, "c-crash", boom)
    assert calls == [snapshot.BASE_SNAPSHOT, "crawl-b1"]
    # cursor committed through BASE only -> retry replays exactly the
    # failed batch, then continues
    replay = []
    snapshot.consume_new_batches(spark, out, "c-crash",
                                 lambda b, df: replay.append(b))
    assert replay == ["crawl-b1", "crawl-b2"]


def test_pending_stops_at_incomplete_batch(spark, tmp_path):
    from compressed_vec_spark.spark import webtable as wt
    out = str(tmp_path / "store_inc")
    web = wt.webpages(spark, 600, partitions=2)
    encode_job.encode_table(spark, web, out, num_partitions=2)
    # a reserved-but-unwritten append (crash before any chunk write):
    # the log row exists, its part directories don't
    (spark.createDataFrame(
        [("ghost", 2, 2)],
        "batch_id string, part_offset int, n_parts int")
        .coalesce(1).write.mode("append")
        .parquet(os.path.join(out, "append_log")))
    pend = snapshot.pending_batches(spark, out, "c-inc")
    assert [s["batch_id"] for s in pend] == [snapshot.BASE_SNAPSHOT]
    res = snapshot.consume_new_batches(spark, out, "c-inc",
                                       lambda b, df: None)
    assert res["processed"] == [snapshot.BASE_SNAPSHOT]
    # the cursor stops BELOW the ghost range: its rows are consumed
    # after the retry fills them, never skipped over
    assert res["position"] == 2


def test_consume_batch_with_empty_partitions(spark, tmp_path):
    """A committed batch whose reserved range includes EMPTY Spark
    partitions leaves no part directory for them; the commit marker
    (append_commits) must still let consumers take it — previously the
    all-parts-present check wedged every consumer forever."""
    from compressed_vec_spark.spark import webtable as wt
    out = str(tmp_path / "store_empt")
    encode_job.encode_table(spark, wt.webpages(spark, 400, partitions=2),
                            out, num_partitions=2)
    tiny = wt.webpages(spark, 3, partitions=1)
    encode_job.append_table(spark, tiny, out, batch_id="tiny",
                            num_partitions=6)
    t = {s["batch_id"]: s for s in
         snapshot.list_snapshots(spark, out)}["tiny"]
    present = {r["part_id"] for r in
               spark.read.parquet(os.path.join(out, "chunks"))
               .select("part_id").distinct().collect()}
    missing = [p for p in range(t["part_lo"], t["part_hi"])
               if p not in present]
    assert missing, "fixture must include at least one empty partition"
    got = {}
    res = snapshot.consume_new_batches(
        spark, out, "c-empty", lambda b, df: got.__setitem__(b, df.count()))
    assert res["processed"] == [snapshot.BASE_SNAPSHOT, "tiny"]
    assert got["tiny"] == 3
    assert res["position"] == t["part_hi"]


def test_consumer_cursor_corruption_degrades_to_replay(spark, tmp_path):
    """A crash mid-cursor-commit can leave an empty/partial cursor dir;
    the consumer must degrade to position 0 (at-least-once replay, safe
    under the idempotent-fn contract) instead of wedging on a
    schema-inference error."""
    import shutil
    from compressed_vec_spark.spark import webtable as wt
    out = str(tmp_path / "store_cur")
    encode_job.encode_table(spark, wt.webpages(spark, 300, partitions=2),
                            out, num_partitions=2)
    first = snapshot.consume_new_batches(spark, out, "c-wreck",
                                         lambda b, df: None)
    assert first["processed"] == [snapshot.BASE_SNAPSHOT]
    cursor = os.path.join(out, "consumers", "c-wreck", "cursor")
    shutil.rmtree(cursor)
    os.makedirs(cursor)  # dir exists, no parquet inside
    assert snapshot.consumer_position(spark, out, "c-wreck") == 0
    replay = snapshot.consume_new_batches(spark, out, "c-wreck",
                                          lambda b, df: None)
    assert replay["processed"] == [snapshot.BASE_SNAPSHOT]
