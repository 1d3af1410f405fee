"""Structured Streaming encode tests: micro-batch encode with
exactly-once chunk output, and watermarked windowed stats."""

import os
import time

import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.sources import encoded_table
from compressed_vec_spark.spark import decode_job, webtable
from compressed_vec_spark.spark.session import get_spark
from compressed_vec_spark.streaming import encode_stream


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-stream-tests", cores=4, chunk_rows=2048)
    yield s
    s.stop()


def test_stream_encode_file_source(spark, tmp_path):
    src_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "stream_out")
    os.makedirs(src_dir)

    # drop parquet part-files of deterministic pages into the watched dir
    # (the file stream source lists top-level files only)
    import glob
    import shutil
    web = webtable.webpages(spark, 1200, partitions=2)
    for i, pred in enumerate([F.col("url") < "https://site-2",
                              F.col("url") >= "https://site-2"]):
        staging = str(tmp_path / f"stage{i}")
        web.where(pred).coalesce(1).write.parquet(staging)
        for j, f in enumerate(glob.glob(staging + "/part-*.parquet")):
            shutil.move(f, os.path.join(src_dir, f"in{i}_{j}.parquet"))

    stream = (spark.readStream.schema(webtable.SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = encode_stream.start_encode_stream(spark, stream, out_dir,
                                          trigger_seconds=1)
    try:
        deadline = time.time() + 120
        chunks_path = os.path.join(out_dir, "chunks")
        total = web.count()
        while time.time() < deadline:
            try:
                got = spark.read.parquet(chunks_path) \
                    .where(F.col("column") == "url") \
                    .agg(F.sum("num_elements")).collect()[0][0]
                if got == total:
                    break
            except Exception:
                pass
            time.sleep(2)
    finally:
        q.stop()

    chunks = spark.read.parquet(os.path.join(out_dir, "chunks"))
    assert chunks.where(F.col("column") == "url") \
        .agg(F.sum("num_elements")).collect()[0][0] == total
    # decoded rows must be bit-identical to the source
    decoded = decode_job.decode_chunks(chunks, schema=webtable.SCHEMA,
                                       dtypes={"warc_ts": "timestamp"})
    res = decode_job.verify_bit_identical(web, decoded, key="url")
    assert all(v == 0 for v in res["mismatches"].values()), res
    # the stream store describes itself: its own decoded view matches
    res = decode_job.verify_bit_identical(
        web, encoded_table.read_decoded(spark, out_dir), key="url")
    assert all(v == 0 for v in res["mismatches"].values()), res


def test_stream_rejects_foreign_format_version(spark, tmp_path):
    """The streaming append path refuses a store written by a different
    format version (or a pre-versioning store with chunks present) —
    the same mixed-manifest-schema guard the batch resume path has."""
    import pytest

    out_dir = str(tmp_path / "stream_v_out")
    (spark.createDataFrame([(1,)], "format_version int")
        .write.parquet(os.path.join(out_dir, "store_meta")))
    src_dir = str(tmp_path / "in_v")
    os.makedirs(src_dir)
    stream = (spark.readStream.schema(webtable.SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    with pytest.raises(ValueError, match="format v1"):
        encode_stream.start_encode_stream(spark, stream, out_dir)

    # pre-versioning store: chunks exist, no store_meta
    out_dir2 = str(tmp_path / "stream_pre_out")
    webtable.webpages(spark, 10, partitions=1).write.parquet(
        os.path.join(out_dir2, "chunks"))
    with pytest.raises(ValueError, match="no store_meta"):
        encode_stream.start_encode_stream(spark, stream, out_dir2)


def test_windowed_stats_plan(spark):
    stream = (spark.readStream.format("rate").option("rowsPerSecond", "10").load()
              .select(F.col("timestamp").alias("warc_ts"),
                      F.lit("en").alias("lang"),
                      F.lit("hello world").alias("text")))
    agg = encode_stream.windowed_stats(stream)
    assert agg.isStreaming
    plan = agg._jdf.queryExecution().analyzed().toString()
    assert "watermark" in plan.lower()


def test_streaming_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState exact dedup across micro-batches: the
    second file repeats the first file's pages; only fresh rows pass."""
    import glob
    import shutil
    src_dir = str(tmp_path / "dd_in")
    os.makedirs(src_dir)
    web = webtable.webpages(spark, 400, partitions=1)

    staging = str(tmp_path / "dd_stage")
    web.coalesce(1).write.parquet(staging)
    part = glob.glob(staging + "/part-*.parquet")[0]
    shutil.copy(part, os.path.join(src_dir, "f1.parquet"))

    stream = (spark.readStream.schema(webtable.SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    deduped = encode_stream.streaming_dedup(stream, hash_col="text")
    q = (deduped.writeStream.format("memory").queryName("dd_out")
         .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
         .outputMode("append").trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM dd_out").first()["c"]
            if n >= web.select("text").distinct().count():
                break
            time.sleep(2)
        first_count = spark.sql("SELECT count(*) c FROM dd_out").first()["c"]
        # drop the SAME file again -> everything is a duplicate
        shutil.copy(part, os.path.join(src_dir, "f2.parquet"))
        time.sleep(12)
        second_count = spark.sql("SELECT count(*) c FROM dd_out").first()["c"]
        progress = list(q.recentProgress)
    finally:
        q.stop()
    n_distinct = web.select("text").distinct().count()
    assert first_count == n_distinct
    assert second_count == first_count  # duplicates suppressed by state

    # state growth is O(new digests): total state rows == distinct
    # contents, and the all-duplicate batch wrote ZERO state rows
    stats = [(p["numInputRows"], p["stateOperators"][0]["numRowsUpdated"],
              p["stateOperators"][0]["numRowsTotal"])
             for p in progress if p.get("stateOperators")]
    assert stats, "no state operator progress recorded"
    assert max(t for _, _, t in stats) == n_distinct
    dup_batches = [(i, u, t) for i, u, t in stats if i > 0 and u == 0]
    assert dup_batches, f"replayed batch should update 0 state rows: {stats}"


def test_sessionize_gap_sessions(spark, tmp_path):
    """Event-time sessionization: sessions close when the WATERMARK
    passes session_end + gap, independent of wall-clock."""
    import glob
    import shutil
    import pandas as pd
    src_dir = str(tmp_path / "ss_in")
    os.makedirs(src_dir)

    base = pd.Timestamp("2026-01-01 00:00:00")
    gap = 600  # seconds
    # key 7: events at t=0..2min (session A), then t=60min (session B);
    # key 9: one event at t=5s.  Watermark delay 30min => wm after this
    # batch = t0+30min: A (end+gap = 12min) and key 9 (end+gap = 10min
    # 5s) are provably complete and close; B (end+gap = 70min) stays
    # open.
    rows1 = pd.DataFrame({
        "user_id": [7, 7, 7, 7, 9],
        "ts": [base, base + pd.Timedelta("60s"), base + pd.Timedelta("120s"),
               base + pd.Timedelta("60min"), base + pd.Timedelta("5s")],
    })
    staging = str(tmp_path / "ss_stage")
    spark.createDataFrame(rows1).coalesce(1).write.parquet(staging)
    part = glob.glob(staging + "/part-*.parquet")[0]
    shutil.copy(part, os.path.join(src_dir, "f1.parquet"))

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    sessions = encode_stream.sessionize(stream, "user_id", "ts",
                                        gap_seconds=gap,
                                        watermark="30 minutes")
    q = (sessions.writeStream.format("memory").queryName("ss_out")
         .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
         .outputMode("append").trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM ss_out").first()["c"] >= 2:
                break
            time.sleep(2)
        got = spark.sql(
            "SELECT * FROM ss_out ORDER BY key, session_start_us").collect()
    finally:
        q.stop()
    assert len(got) == 2
    r7, r9 = got
    assert r7["key"] == 7 and r7["events"] == 3
    assert (r7["session_end_us"] - r7["session_start_us"]) == 120_000_000
    assert r9["key"] == 9 and r9["events"] == 1
    # key 7's t=60min session must NOT have closed (wm = t0+30min)
    assert r7["session_start_us"] == int(base.value // 1000)


def test_sessionize_out_of_order_merge(spark, tmp_path):
    """An event arriving in a LATER micro-batch with an EARLIER
    event-time (within the watermark) merges into the open session and
    extends session_start backwards — the processing-time/ordering bug
    class from round 2."""
    import glob
    import shutil
    import pandas as pd
    src_dir = str(tmp_path / "so_in")
    os.makedirs(src_dir)

    base = pd.Timestamp("2026-02-01 00:00:00")
    gap = 600  # 10 min

    def drop_file(df_rows: dict, name: str):
        stage = str(tmp_path / ("so_stage_" + name))
        spark.createDataFrame(pd.DataFrame(df_rows)) \
            .coalesce(1).write.parquet(stage)
        p = glob.glob(stage + "/part-*.parquet")[0]
        shutil.move(p, os.path.join(src_dir, name + ".parquet"))

    # batch 1: key 5 at t=10min and t=12min
    drop_file({"user_id": [5, 5],
               "ts": [base + pd.Timedelta("10min"),
                      base + pd.Timedelta("12min")]}, "f1")

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    sessions = encode_stream.sessionize(stream, "user_id", "ts",
                                        gap_seconds=gap,
                                        watermark="30 minutes")
    q = (sessions.writeStream.format("memory").queryName("so_out")
         .option("checkpointLocation", str(tmp_path / "so_ckpt"))
         .outputMode("append").trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not q.recentProgress:
            time.sleep(2)
        # batch 2: an OUT-OF-ORDER event at t=9min (before the stored
        # session's start, within gap) plus t=70min to advance the
        # watermark to t0+40min > 12min+gap so the merged session closes
        drop_file({"user_id": [5, 5],
                   "ts": [base + pd.Timedelta("9min"),
                          base + pd.Timedelta("70min")]}, "f2")
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM so_out").first()["c"] >= 1:
                break
            time.sleep(2)
        got = spark.sql(
            "SELECT * FROM so_out ORDER BY session_start_us").collect()
    finally:
        q.stop()
    assert len(got) == 1
    r = got[0]
    assert r["key"] == 5 and r["events"] == 3
    # bounds must span the out-of-order event: start = t0+9min
    assert r["session_start_us"] == int(
        (base + pd.Timedelta("9min")).value // 1000)
    assert r["session_end_us"] == int(
        (base + pd.Timedelta("12min")).value // 1000)


def test_sessionize_watermark_boundary_semantics(spark, tmp_path):
    """Watermark-boundary semantics pin (ADVICE r3 off-by-one): Spark's
    internal stateful-op late filter drops events with ts <= watermark
    BEFORE the state function (verified here), so an event at exactly
    ts == wm can never extend a stored session — and the strict close
    (end + gap < wm) keeps a boundary session open one extra batch
    instead of ever splitting it.  This test asserts (a) the boundary
    event is dropped, (b) the t=0 session still closes exactly once
    with its original bounds, (c) no spurious extra session appears."""
    import glob
    import shutil
    import pandas as pd
    src_dir = str(tmp_path / "sb_in")
    os.makedirs(src_dir)

    base = pd.Timestamp("2026-03-01 00:00:00")
    gap = 600  # 10 min; watermark delay 30 min

    def drop_file(df_rows: dict, name: str):
        stage = str(tmp_path / ("sb_stage_" + name))
        spark.createDataFrame(pd.DataFrame(df_rows)) \
            .coalesce(1).write.parquet(stage)
        p = glob.glob(stage + "/part-*.parquet")[0]
        shutil.move(p, os.path.join(src_dir, name + ".parquet"))

    def wait_batches(q, n, timeout=120):
        deadline = time.time() + timeout
        while time.time() < deadline:
            done = sum(p["numInputRows"] > 0 for p in q.recentProgress)
            if done >= n:
                return
            time.sleep(2)

    # batch 1: key 1 at t=0; key 99 at t=40min -> wm becomes exactly
    # 10min (= 0 + gap) after this batch
    drop_file({"user_id": [1, 99],
               "ts": [base, base + pd.Timedelta("40min")]}, "f1")
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    sessions = encode_stream.sessionize(stream, "user_id", "ts",
                                        gap_seconds=gap,
                                        watermark="30 minutes")
    q = (sessions.writeStream.format("memory").queryName("sb_out")
         .option("checkpointLocation", str(tmp_path / "sb_ckpt"))
         .outputMode("append").trigger(processingTime="1 seconds").start())
    try:
        wait_batches(q, 1)
        # batch 2: boundary event at ts == wm == 10min, exactly gap
        # after the stored session's end — Spark's late filter drops it
        drop_file({"user_id": [1],
                   "ts": [base + pd.Timedelta("10min")]}, "f2")
        wait_batches(q, 2)
        # batch 3: advance wm to 90min so everything still open closes
        drop_file({"user_id": [99],
                   "ts": [base + pd.Timedelta("2h")]}, "f3")
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM sb_out WHERE key = 1"
                         ).first()["c"] >= 1:
                break
            time.sleep(2)
        got = spark.sql("SELECT * FROM sb_out WHERE key = 1 "
                        "ORDER BY session_start_us").collect()
    finally:
        q.stop()
    # exactly ONE key-1 session, with its original [t0, t0] bounds: the
    # dropped boundary event neither extended it, split it, nor seeded
    # a spurious second session
    assert len(got) == 1, got
    assert got[0]["events"] == 1
    assert got[0]["session_start_us"] == int(base.value // 1000)
    assert got[0]["session_end_us"] == int(base.value // 1000)
