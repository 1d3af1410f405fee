"""End-to-end Spark tests: synthetic web table -> salted encode ->
manifest -> decode -> bit-identical per url (the north-rule gate)."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.sources import layout
from compressed_vec_spark.spark import decode_job, encode_job, webtable
from compressed_vec_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-tests", cores=4, chunk_rows=2048)
    yield s
    s.stop()


def test_webtable_deterministic(spark):
    a = webtable.webpages(spark, 500, partitions=2).orderBy("url").collect()
    b = webtable.webpages(spark, 500, partitions=7).orderBy("url").collect()
    assert a == b
    assert len(a) == 500
    langs = {r["lang"] for r in a}
    assert "en" in langs and len(langs) > 3
    r0 = a[0]
    assert r0["html"] == f"<!DOCTYPE html><html><body><p>{r0['text']}</p></body></html>".encode()


def test_encode_decode_bit_identical(spark, tmp_path):
    out = str(tmp_path / "enc")
    web = webtable.webpages(spark, 3000, partitions=4)
    chunks = encode_job.encode_table(spark, web, out, num_partitions=4)
    assert chunks.count() > 0

    summary = encode_job.store_stats(spark, out)
    assert summary["ratio"] is not None and summary["ratio"] > 1.0

    decoded = decode_job.decode_chunks(
        spark.read.parquet(os.path.join(out, "chunks")),
        schema=webtable.SCHEMA)
    res = decode_job.verify_bit_identical(web, decoded, key="url")
    assert res["rows"] == 3000
    assert all(v == 0 for v in res["mismatches"].values()), res


def test_codec_choices_match_north_rule(spark, tmp_path):
    out = str(tmp_path / "enc2")
    web = webtable.webpages(spark, 2000, partitions=2)
    encode_job.encode_table(spark, web, out, num_partitions=2)
    m = spark.read.parquet(os.path.join(out, "manifest"))
    codec_by_col = {r["column"]: r["codec"] for r in
                    m.select("column", "codec").distinct().collect()}
    assert codec_by_col["lang"] == "dict"          # low-card -> dictionary
    assert codec_by_col["text"] == "fsst"          # high-card text -> FSST
    # after host-partitioning, ts runs shorten: RLE only if runs survive,
    # else sectioned FoR/Delta vector (stats-driven, like AutoEncoder)
    assert codec_by_col["warc_ts"] in ("rle", "vec_u64")
    assert codec_by_col["url"] in ("fsst", "dict")
    # text-like binary (printable + spacey) routes through the
    # word-symbol FSST front end; opaque binary would take deflate
    assert codec_by_col["html"] == "binary_fsst"


def test_resume_skips_completed_partitions(spark, tmp_path):
    out = str(tmp_path / "enc3")
    web = webtable.webpages(spark, 1000, partitions=2)
    encode_job.encode_table(spark, web, out, num_partitions=2)
    n1 = spark.read.parquet(os.path.join(out, "chunks")).count()
    # re-run: all partitions already in the manifest -> nothing re-encoded
    encode_job.encode_table(spark, web, out, num_partitions=2)
    n2 = spark.read.parquet(os.path.join(out, "chunks")).count()
    assert n1 == n2


def test_resume_completes_after_partial_failure(spark, tmp_path):
    """Simulated mid-job failure: one partition's chunks + manifest rows
    vanish; the resumed run re-encodes ONLY that partition and the final
    table is complete and bit-identical."""
    out = str(tmp_path / "enc4")
    web = webtable.webpages(spark, 2000, partitions=2)
    encode_job.encode_table(spark, web, out, num_partitions=4)
    chunks_path = os.path.join(out, "chunks")
    manifest_path = os.path.join(out, "manifest")
    full = spark.read.parquet(chunks_path).count()

    # kill partition 0's output and its manifest rows
    victim = [d for d in os.listdir(chunks_path) if d == "part_id=0"]
    assert victim, os.listdir(chunks_path)
    shutil.rmtree(os.path.join(chunks_path, victim[0]))
    m = spark.read.parquet(manifest_path).where(F.col("part_id") != 0).toPandas()
    shutil.rmtree(manifest_path)
    spark.createDataFrame(m).write.parquet(manifest_path)

    survivors = spark.read.parquet(chunks_path) \
        .select("chunk_id", "column", "sha256").toPandas()

    encode_job.encode_table(spark, web, out, num_partitions=4)
    after = spark.read.parquet(chunks_path)
    assert after.count() == full
    # untouched partitions kept their exact blobs (sha unchanged)
    again = after.select("chunk_id", "column", "sha256").toPandas()
    merged = survivors.merge(again, on=["chunk_id", "column"], how="left")
    assert (merged["sha256_x"] == merged["sha256_y"]).all()
    # and the whole table still decodes bit-identical
    decoded = decode_job.decode_chunks(after, schema=webtable.SCHEMA)
    res = decode_job.verify_bit_identical(web, decoded, key="url")
    assert all(v == 0 for v in res["mismatches"].values()), res


def test_resume_rejects_foreign_format_version(spark, tmp_path):
    """Resume onto a store written by a different format version (or a
    pre-versioning store with no store_meta) must fail loudly instead of
    appending chunks with a mismatched schema."""
    import pytest
    out = str(tmp_path / "enc6")
    web = webtable.webpages(spark, 500, partitions=2)
    encode_job.encode_table(spark, web, out, num_partitions=2)
    # pre-versioning store: no store_meta at all
    shutil.rmtree(os.path.join(out, "store_meta"))
    with pytest.raises(ValueError, match="format_version"):
        encode_job.encode_table(spark, web, out, num_partitions=2)
    # wrong version number
    spark.createDataFrame([(99,)], "format_version int") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(out, "store_meta"))
    with pytest.raises(ValueError, match="format_version"):
        encode_job.encode_table(spark, web, out, num_partitions=2)
    # resume=False re-encodes and heals the version marker
    encode_job.encode_table(spark, web, out, num_partitions=2, resume=False)
    assert layout.version(spark, out) \
        == layout.FORMAT_VERSION


def test_resume_after_manifest_write_failure(spark, tmp_path):
    """Failure BETWEEN the chunk write and the manifest write: chunks
    are fully committed but no manifest exists.  The re-run must not
    append duplicate chunks (resume state derives from the chunks dir,
    and replays use dynamic partition overwrite)."""
    out = str(tmp_path / "enc5")
    web = webtable.webpages(spark, 1000, partitions=2)
    encode_job.encode_table(spark, web, out, num_partitions=2)
    chunks_path = os.path.join(out, "chunks")
    manifest_path = os.path.join(out, "manifest")
    n1 = spark.read.parquet(chunks_path).count()
    shutil.rmtree(manifest_path)  # simulate dying before the manifest write

    encode_job.encode_table(spark, web, out, num_partitions=2)
    after = spark.read.parquet(chunks_path)
    assert after.count() == n1  # no duplicate chunks
    dup = (after.groupBy("chunk_id", "column").count()
           .where(F.col("count") > 1).count())
    assert dup == 0
    assert os.path.exists(manifest_path)  # manifest restored


def test_salted_partitioning_spreads_hot_host(spark):
    # one host dominating the table must not land on a single partition
    web = webtable.webpages(spark, 4000, partitions=4)
    hot = web.withColumn("__h", F.expr("parse_url(url, 'HOST')"))
    top = hot.groupBy("__h").count().orderBy(F.desc("count")).first()
    assert top["count"] > 400  # the Zipf head is actually hot
    parts = encode_job.with_salted_partitioning(web, num_partitions=8)
    dist = (parts.withColumn("pid", F.spark_partition_id())
            .filter(F.col("__host") == top["__h"])
            .select("pid").distinct().count())
    assert dist > 1  # hot host fanned out across partitions


def test_append_table_extends_store(spark, tmp_path):
    """Append lands a second batch in fresh parts: decoded view is the
    union, existing chunks untouched (sha-identical), manifest covers
    everything, and queries see both batches."""
    from compressed_vec_spark.sources import encoded_table
    out = str(tmp_path / "enc_app")
    web = webtable.webpages(spark, 4000, partitions=4)
    a = web.where(F.crc32(F.col("url")) % 2 == 0)
    b = web.where(F.crc32(F.col("url")) % 2 == 1)
    n_a, n_b = a.count(), b.count()
    assert n_a > 0 and n_b > 0
    encode_job.encode_table(spark, a, out, num_partitions=4)
    before = {r["chunk_id"] + "|" + r["column"]: r["sha256"]
              for r in spark.read.parquet(os.path.join(out, "manifest"))
              .select("chunk_id", "column", "sha256").collect()}

    encode_job.append_table(spark, b, out, batch_id="b1", num_partitions=4)

    decoded = encoded_table.read_decoded(spark, out)
    assert decoded.count() == n_a + n_b
    res = decode_job.verify_bit_identical(web, decoded, key="url")
    assert all(v == 0 for v in res["mismatches"].values()), res
    man = spark.read.parquet(os.path.join(out, "manifest"))
    after = {r["chunk_id"] + "|" + r["column"]: r["sha256"]
             for r in man.select("chunk_id", "column", "sha256").collect()}
    assert set(before) < set(after)
    assert all(after[k] == v for k, v in before.items())
    # appended parts occupy a disjoint id range
    parts_a = {int(k.split("-")[0][1:]) for k in before}
    parts_b = {int(k.split("-")[0][1:]) for k in set(after) - set(before)}
    assert max(parts_a) < min(parts_b)


def test_append_table_idempotent_retry(spark, tmp_path):
    """Re-running a batch_id replaces its own parts: row count and
    manifest stay stable, and a SECOND batch starts past the reserved
    range even if the first batch logged but crashed."""
    from compressed_vec_spark.sources import encoded_table
    out = str(tmp_path / "enc_retry")
    web = webtable.webpages(spark, 3000, partitions=4)
    a, b = web.limit(2000), web.subtract(web.limit(2000))
    encode_job.encode_table(spark, a, out, num_partitions=4)
    encode_job.append_table(spark, b, out, batch_id="b1", num_partitions=2)
    n1 = encoded_table.read_decoded(spark, out).count()
    chunks1 = spark.read.parquet(os.path.join(out, "chunks")).count()
    # retry the SAME batch: nothing duplicates
    encode_job.append_table(spark, b, out, batch_id="b1", num_partitions=2)
    assert encoded_table.read_decoded(spark, out).count() == n1
    assert spark.read.parquet(os.path.join(out, "chunks")).count() == chunks1
    # a retry needing MORE parts than reserved refuses instead of
    # spilling into a neighbor batch's range
    with pytest.raises(ValueError, match="reserved"):
        encode_job.append_table(spark, b, out, batch_id="b1",
                                num_partitions=8)


def test_append_table_refuses_mismatches(spark, tmp_path):
    out = str(tmp_path / "enc_refuse")
    web = webtable.webpages(spark, 500, partitions=2)
    encode_job.encode_table(spark, web, out, num_partitions=2)
    # schema drift
    with pytest.raises(ValueError, match="schema"):
        encode_job.append_table(
            spark, web.withColumn("warc_ts", F.lit(1).cast("long")),
            out, batch_id="bad")
    # foreign format version
    (spark.createDataFrame([(2,)], "format_version int").coalesce(1)
     .write.mode("overwrite").parquet(os.path.join(out, "store_meta")))
    with pytest.raises(ValueError, match="format_version"):
        encode_job.append_table(spark, web, out, batch_id="b2")


def test_store_stats_metadata_only(spark, tmp_path):
    """DESCRIBE/ANALYZE from the manifest alone: per-column codecs,
    bytes, rows, nulls, and type-matched zone-map bounds."""
    import pandas as pd
    from pyspark.sql import functions as F
    out = str(tmp_path / "stats_store")
    pdf = pd.DataFrame({"k": range(2000)})
    pdf["s"] = ["s%02d" % (i % 30) for i in range(2000)]
    pdf["f"] = pdf["k"] / 8.0
    pdf["n"] = pdf["k"].astype("Int64")
    pdf.loc[pdf.index % 5 == 0, "n"] = None
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(2, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None,
                            codec_overrides={"s": "dict"})
    st = encode_job.store_stats(spark, out)
    assert st["format_version"] == layout.FORMAT_VERSION
    assert st["parts"] == 2 and st["snapshots"] == 1
    assert st["total_rows"] == 2000 and st["deleted_rows"] == 0
    k = st["columns"]["k"]
    assert k["dtype"] == "bigint" and (k["min"], k["max"]) == (0, 1999)
    assert k["rows"] == 2000 and k["nulls"] == 0
    s = st["columns"]["s"]
    assert s["codecs"] == ["dict"]
    assert (s["min"], s["max"]) == ("s00", "s29")
    f = st["columns"]["f"]
    assert (f["min"], f["max"]) == (0.0, 1999 / 8.0)
    assert st["columns"]["n"]["nulls"] == 400
    assert st["ratio"] and st["ratio"] > 1.0


def test_store_stats_guards_and_evolved_columns(spark, tmp_path):
    import pandas as pd
    # foreign version: clean refusal, not an opaque column error
    old = str(tmp_path / "stats_old")
    (spark.createDataFrame([(1,)], "format_version int")
        .write.parquet(os.path.join(old, "store_meta")))
    with pytest.raises(ValueError, match="format v1"):
        encode_job.store_stats(spark, old)

    # schema-evolved column: pre-evolution rows are virtual NULLs and
    # must appear in the column's rows/nulls
    out = str(tmp_path / "stats_evo")
    base = spark.createDataFrame(
        pd.DataFrame({"k": range(1000)})).coalesce(1)
    encode_job.encode_table(spark, base, out, url_col=None)
    batch = spark.createDataFrame(
        pd.DataFrame({"k": range(1000, 1100),
                      "extra": range(100)})).coalesce(1)
    encode_job.append_table(spark, batch, out, batch_id="evo",
                            allow_new_columns=True)
    st = encode_job.store_stats(spark, out)
    assert st["columns"]["k"]["rows"] == 1100
    e = st["columns"]["extra"]
    assert e["rows"] == 1100 and e["nulls"] == 1000
