"""Store compaction: merge plans, passthrough identity, decode
equality, recomputed stats, and prune behavior on the compacted copy."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.sources import encoded_table, layout
from compressed_vec_spark.sources.encoded_table import Leaf
from compressed_vec_spark.spark import compact_job, decode_job, encode_job
from compressed_vec_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    # small arrow batches => many small chunks to compact
    s = get_spark("cvx-test-compact", cores=4, chunk_rows=500)
    yield s
    s.stop()


def _mixed_df(spark, n=4000):
    pdf = pd.DataFrame({"k": range(n)})
    pdf["host"] = ["h%02d" % (k // 200) for k in range(n)]
    pdf["v"] = pdf["k"].astype(float) / 4.0
    pdf.loc[pdf.index % 50 == 3, "v"] = None
    return (spark.createDataFrame(pdf)
            .repartitionByRange(4, "k").sortWithinPartitions("k"))


def test_plan_groups_shapes():
    ids0 = [f"p00000-c{i:05d}" for i in range(4)]
    ids1 = [f"p00001-c{i:05d}" for i in range(2)]
    plan = pd.DataFrame({
        "part_id": [0] * 4 + [1] * 2,
        "chunk_seq": [0, 1, 2, 3, 0, 1],
        "chunk_id": ids0 + ids1,
        "num_elements": [500, 500, 500, 500, 2000, 100],
    })
    # rows arrive in any order; a part's chunks are walked by chunk_seq
    m = compact_job._plan_groups(plan.iloc[::-1], target_elements=1000)
    got = {(r.part_id, r.chunk_id): r.new_seq for r in m.itertuples()}
    # part 0: 500+500 close a group, next 500+500 the second
    assert got[(0, ids0[0])] == 0 and got[(0, ids0[1])] == 0
    assert got[(0, ids0[2])] == 1 and got[(0, ids0[3])] == 1
    # part 1: the 2000-chunk already meets the target alone; the 100
    # tail starts a new group (parts never merge across the boundary)
    assert got[(1, ids1[0])] == 0 and got[(1, ids1[1])] == 1


def test_plan_groups_walk_chunk_seq_in_numeric_order():
    """Past 99999 chunks a part's zero-padded chunk ids no longer sort
    in row order ("c100000" < "c99999"); the walk follows the integer
    chunk_seq."""
    seqs = [99_997, 99_998, 99_999, 100_000, 100_001, 100_002]
    ids = [f"p00003-c{s:05d}" for s in seqs]
    assert sorted(ids) != ids
    plan = pd.DataFrame({"part_id": [3] * 6, "chunk_seq": seqs,
                         "chunk_id": ids, "num_elements": [400] * 6})
    m = compact_job._plan_groups(plan.sample(frac=1, random_state=1),
                                 target_elements=1000)
    got = dict(zip(m["chunk_id"], m["new_seq"]))
    # 400-row chunks close a group every third chunk, in chunk_seq order
    assert [got[i] for i in ids] == [0, 0, 0, 1, 1, 1]


def test_compact_keeps_chunks_the_manifest_misses(spark, tmp_path):
    """chunks/ is the data of record: a crash between the chunks write
    and the manifest write leaves committed chunks the manifest does
    not list, and compaction must still carry their rows."""
    src = str(tmp_path / "src_crash")
    pdf = pd.DataFrame({"k": range(4000)})
    pdf["v"] = pdf["k"] * 7
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(4, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, src, url_col=None)

    def listed(out):
        return sum(r["num_elements"]
                   for r in layout.read_meta(spark, out, layout.MANIFEST)
                   if r["column"] == "k")

    manifest = layout.read_meta(spark, src, layout.MANIFEST)
    lost = max(r["part_id"] for r in manifest)
    layout.write_meta(spark, src, layout.MANIFEST,
                      [r for r in manifest if r["part_id"] != lost])
    assert listed(src) < 4000

    dst = str(tmp_path / "dst_crash")
    stats = compact_job.compact_store(spark, src, dst,
                                      target_elements=10**6)
    assert stats["merged_groups"] > 0
    assert listed(dst) == 4000
    ddl, _ = encoded_table.stored_schema(spark, dst)
    got = decode_job.decode_chunks(
        spark.read.parquet(os.path.join(dst, "chunks")), ddl) \
        .toPandas().sort_values("k").reset_index(drop=True)
    assert got["k"].tolist() == list(range(4000))
    assert got["v"].tolist() == [7 * k for k in range(4000)]


def test_compact_store_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    encode_job.encode_table(spark, _mixed_df(spark), src, url_col=None,
                            codec_overrides={"host": "dict"})

    stats = compact_job.compact_store(spark, src, dst,
                                      target_elements=1000,
                                      codec_overrides={"host": "dict"})
    assert stats["chunks_after"] < stats["chunks_before"]
    assert stats["merged_groups"] > 0

    # the forced codec survives the merge re-encode
    host_codecs = {r["codec"] for r in spark.read.parquet(
        os.path.join(dst, "manifest"))
        .where(F.col("column") == "host").collect()}
    assert host_codecs == {"dict"}

    # same format version, fewer manifest rows, same total elements
    assert layout.version(spark, dst) == \
        layout.FORMAT_VERSION
    src_m = spark.read.parquet(os.path.join(src, "manifest"))
    dst_m = spark.read.parquet(os.path.join(dst, "manifest"))
    for col in ("k", "host", "v"):
        s_n = src_m.where(F.col("column") == col) \
            .agg(F.sum("num_elements")).collect()[0][0]
        d_n = dst_m.where(F.col("column") == col) \
            .agg(F.sum("num_elements")).collect()[0][0]
        assert s_n == d_n
    assert dst_m.count() < src_m.count()

    # decoded rows identical (order-insensitive compare on key)
    ddl, _ = encoded_table.stored_schema(spark, dst)
    src_rows = decode_job.decode_chunks(
        spark.read.parquet(os.path.join(src, "chunks")), ddl) \
        .toPandas().sort_values("k").reset_index(drop=True)
    dst_rows = decode_job.decode_chunks(
        spark.read.parquet(os.path.join(dst, "chunks")), ddl) \
        .toPandas().sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(src_rows, dst_rows)

    # recomputed stats still answer pruned queries exactly
    cnt, st = encoded_table.pruned_count(
        spark, dst, [Leaf("k", "int64", "range", 100, 300)])
    assert cnt == 201
    cnt, _ = encoded_table.pruned_count(
        spark, dst, [Leaf("host", "string", "in", values=("h05",))])
    assert cnt == 200
    expect = sum(1 for k in range(400, 801) if k % 50 != 3)
    cnt, _ = encoded_table.pruned_count(
        spark, dst, [Leaf("v", "double", "range", 100.0, 200.0)])
    assert cnt == expect


def test_compact_passthrough_is_byte_identical(spark, tmp_path):
    src = str(tmp_path / "src2")
    dst = str(tmp_path / "dst2")
    encode_job.encode_table(spark, _mixed_df(spark), src, url_col=None)
    # target below every chunk size => every group is single-member
    stats = compact_job.compact_store(spark, src, dst, target_elements=1)
    assert stats["merged_groups"] == 0
    assert stats["passthrough_chunks"] == stats["chunks_before"]
    src_sha = {r["chunk_id"] + "|" + r["column"]: r["sha256"]
               for r in spark.read.parquet(os.path.join(src, "manifest"))
               .collect()}
    dst_sha = {r["chunk_id"] + "|" + r["column"]: r["sha256"]
               for r in spark.read.parquet(os.path.join(dst, "manifest"))
               .collect()}
    assert src_sha == dst_sha  # blobs untouched, ids stable


def test_compact_keeps_string_stats_on_binary_codec_chunks(spark, tmp_path):
    """A string column stored under a binary codec (deflate override)
    decodes to bytes in the merge; its min_str/max_str must still be
    recomputed (decoded back from the UTF-8 bytes) or string predicates
    on the compacted store NULL-prune the merged chunks and silently
    return 0."""
    src = str(tmp_path / "src_sb")
    dst = str(tmp_path / "dst_sb")
    df = spark.range(0, 3000, 1, 2).select(
        F.col("id").alias("k"),
        F.concat(F.lit("val-"),
                 F.lpad((F.col("id") / 1000).cast("int").cast("string"),
                        2, "0")).alias("s"))
    df = df.repartitionByRange(2, "s", "k").sortWithinPartitions("s", "k")
    encode_job.encode_table(spark, df, src, url_col=None,
                            codec_overrides={"s": "deflate"})
    stats = compact_job.compact_store(spark, src, dst, target_elements=10**6,
                                      codec_overrides={"s": "deflate"})
    assert stats["merged_groups"] > 0
    m = spark.read.parquet(os.path.join(dst, "manifest"))
    s_rows = m.where(F.col("column") == "s").collect()
    assert all(r["min_str"] is not None for r in s_rows), s_rows
    cnt, st = encoded_table.pruned_count(
        spark, dst, [Leaf("s", "string", "in", values=("val-01",))])
    assert cnt == 1000, st


def test_compact_refuses_nonempty_dst(spark, tmp_path):
    src = str(tmp_path / "src_ne")
    encode_job.encode_table(spark, _mixed_df(spark, 500), src, url_col=None)
    dst = str(tmp_path / "dst_ne")
    compact_job.compact_store(spark, src, dst, target_elements=10**6)
    with pytest.raises(ValueError, match="already has chunks"):
        compact_job.compact_store(spark, src, dst, target_elements=10**6)


def test_compact_rejects_foreign_version(spark, tmp_path):
    src = str(tmp_path / "src3")
    (spark.createDataFrame([(1,)], "format_version int")
        .write.parquet(os.path.join(src, "store_meta")))
    with pytest.raises(ValueError, match="format v1"):
        compact_job.compact_store(spark, src, str(tmp_path / "dst3"))


def _scrambled_df(spark, n=4000):
    """k-sorted rows whose v2 column is value-scrambled: every chunk of
    a k-ordered store spans nearly the whole v2 domain, so zone maps on
    v2 prune nothing until the store is re-clustered on it."""
    pdf = pd.DataFrame({"k": range(n)})
    pdf["v2"] = (pdf["k"] * 2654435761) % n
    pdf["host"] = ["h%02d" % (k % 20) for k in range(n)]
    return (spark.createDataFrame(pdf)
            .repartitionByRange(4, "k").sortWithinPartitions("k"))


def test_cluster_store_tightens_zone_maps(spark, tmp_path):
    src = str(tmp_path / "src_cl")
    dst = str(tmp_path / "dst_cl")
    encode_job.encode_table(spark, _scrambled_df(spark), src, url_col=None,
                            codec_overrides={"host": "dict"})

    # scattered layout: the [100, 300] slice of v2 appears in nearly
    # every chunk's [min, max], so the manifest prune skips ~nothing
    # (repartitionByRange samples with a random seed, so a tiny tail
    # chunk can occasionally dodge the slice — allow one)
    v2_slice = [Leaf("v2", "int64", "range", 100, 300)]
    cnt_src, st_src = encoded_table.pruned_count(spark, src, v2_slice)
    assert st_src["pruned_chunks"] <= 1, st_src

    stats = compact_job.cluster_store(spark, src, dst, "v2", num_parts=4,
                                      codec_overrides={"host": "dict"})
    assert stats == {"rows": 4000, "parts": 4, "cluster_by": ["v2"]}

    cnt_dst, st_dst = encoded_table.pruned_count(spark, dst, v2_slice)
    expect = sum(1 for k in range(4000)
                 if 100 <= (k * 2654435761) % 4000 <= 300)
    assert cnt_src == cnt_dst == expect
    # clustered layout: most chunks' v2 ranges miss [100, 300] entirely
    assert st_dst["pruned_chunks"] > st_dst["total_chunks"] // 2, st_dst

    # same rows, new order; forced codec survives the rewrite
    ddl, _ = encoded_table.stored_schema(spark, dst)
    src_rows = decode_job.decode_chunks(
        spark.read.parquet(os.path.join(src, "chunks")), ddl) \
        .toPandas().sort_values("k").reset_index(drop=True)
    dst_rows = decode_job.decode_chunks(
        spark.read.parquet(os.path.join(dst, "chunks")), ddl) \
        .toPandas().sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(src_rows, dst_rows)
    host_codecs = {r["codec"] for r in spark.read.parquet(
        os.path.join(dst, "manifest"))
        .where(F.col("column") == "host").collect()}
    assert host_codecs == {"dict"}


def test_cluster_store_materializes_deletes(spark, tmp_path):
    from compressed_vec_spark.spark import delete_job
    src = str(tmp_path / "src_cld")
    dst = str(tmp_path / "dst_cld")
    encode_job.encode_table(spark, _scrambled_df(spark, 2000), src,
                            url_col=None, codec_overrides={"host": "dict"})
    d = delete_job.delete_where_equals(spark, src, "host", "h03", "d1")
    assert d["rows_deleted"] == 100
    stats = compact_job.cluster_store(spark, src, dst, "v2", num_parts=2)
    assert stats["parts"] == 2
    # dst is born clean: deleted rows gone from the data, no sidecar
    assert not delete_job.has_deletes(spark, dst)
    ddl, _ = encoded_table.stored_schema(spark, dst)
    dst_rows = decode_job.decode_chunks(
        spark.read.parquet(os.path.join(dst, "chunks")), ddl).toPandas()
    assert len(dst_rows) == 1900
    assert not (dst_rows["host"] == "h03").any()


def test_cluster_store_guards(spark, tmp_path):
    src = str(tmp_path / "src_clg")
    encode_job.encode_table(spark, _scrambled_df(spark, 500), src,
                            url_col=None)
    with pytest.raises(ValueError, match="not in store columns"):
        compact_job.cluster_store(spark, src, str(tmp_path / "dst_clg"),
                                  "no_such_col")
    dst = str(tmp_path / "dst_clg2")
    compact_job.cluster_store(spark, src, dst, "v2", num_parts=1)
    with pytest.raises(ValueError, match="already has chunks"):
        compact_job.cluster_store(spark, src, dst, "v2")
