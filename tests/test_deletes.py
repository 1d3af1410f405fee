"""Position deletion vectors: mask correctness, idempotent retry,
overlap-exact metadata counts, chunk pruning on the delete scan,
live reads, materialization, and the compaction guard."""

import os
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.codecs import chunk as chunk_codec
from compressed_vec_spark.sources import encoded_table, layout
from compressed_vec_spark.sources.encoded_table import Leaf
from compressed_vec_spark.spark import (compact_job, delete_job,
                                        encode_job)
from compressed_vec_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-test-deletes", cores=4, chunk_rows=500)
    yield s
    s.stop()


def _pdf(n=4000):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({"k": np.arange(n, dtype=np.int64)})
    pdf["lang"] = np.array(["en", "de", "fr", "zh"])[
        rng.integers(0, 4, n)]
    pdf["nch"] = rng.integers(10, 5000, n).astype(np.int64)
    pdf.loc[pdf.index % 37 == 5, "lang"] = None
    return pdf


def _lang_sorted_store(spark, out):
    """Store SORTED on lang so equality deletes get real chunk
    pruning, with a dict-coded lang column (the compressed-code mask
    path)."""
    pdf = _pdf()
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(4, "lang", "k")
          .sortWithinPartitions("lang", "k"))
    encode_job.encode_table(spark, df, out, url_col=None, resume=False,
                            codec_overrides={"lang": "dict"})
    return out, pdf


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """The lang-sorted store after delete d1 (lang = 'en').  Tests that
    re-issue d1 take the idempotent retry path, so the store reads the
    same whichever tests ran before."""
    out, pdf = _lang_sorted_store(
        spark, str(tmp_path_factory.mktemp("delstore")))
    delete_job.delete_where_equals(spark, out, "lang", "en", "d1")
    return out, pdf


@pytest.fixture(scope="module")
def store2(spark, tmp_path_factory):
    """A second lang-sorted store after d1 and then d2 (nch in
    [0, 2500]) — the `_live2` view."""
    out, pdf = _lang_sorted_store(
        spark, str(tmp_path_factory.mktemp("delstore2")))
    delete_job.delete_where_equals(spark, out, "lang", "en", "d1")
    delete_job.delete_where_range(spark, out, "nch", 0, 2500, "d2")
    return out, pdf


def _live_pdf(pdf):
    m = ~(pdf["lang"] == "en")
    return pdf[m.fillna(True)]


def test_delete_equals_masks_and_prune(spark, store):
    out, pdf = store
    stats = delete_job.delete_where_equals(spark, out, "lang", "en", "d1")
    expect = int((pdf["lang"] == "en").sum())
    assert stats["rows_deleted"] == expect
    # sorted-on-lang store: chunks wholly outside 'en' never scanned
    assert stats["pruned_chunks"] > 0
    assert stats["affected_chunks"] <= stats["scanned_chunks"]

    got = delete_job.delete_stats(spark, out)
    assert got["total_rows"] == len(pdf)
    assert got["deleted_rows"] == expect
    assert got["live_rows"] == len(pdf) - expect


def test_live_read_matches_filter(spark, store):
    out, pdf = store
    live = encoded_table.read_decoded(spark, out).toPandas()
    want = _live_pdf(pdf)
    assert len(live) == len(want)
    assert sorted(live["k"]) == sorted(want["k"])
    # raw (pre-delete) view still complete
    raw = encoded_table.read_decoded(spark, out, apply_deletes=False)
    assert raw.count() == len(pdf)
    # value-level identity on a live row sample
    merged = live.sort_values("k").reset_index(drop=True)
    wanted = want.sort_values("k").reset_index(drop=True)
    assert (merged["nch"].to_numpy() == wanted["nch"].to_numpy()).all()


def test_retry_is_idempotent(spark, store):
    out, pdf = store
    before = delete_job.delete_stats(spark, out)
    stats = delete_job.delete_where_equals(spark, out, "lang", "en", "d1")
    assert stats["rows_deleted"] == before["deleted_rows"]
    assert delete_job.delete_stats(spark, out) == before


def test_overlapping_delete_counts_exact(spark, store2):
    out, pdf = store2
    # range predicate overlapping many already-deleted 'en' rows
    stats = delete_job.delete_where_range(spark, out, "nch", 0, 2500, "d2")
    live = _live_pdf(pdf)
    expect_new = int((live["nch"] <= 2500).sum())
    assert stats["rows_deleted"] == expect_new

    got = delete_job.delete_stats(spark, out)
    want_live = len(live) - expect_new
    assert got["live_rows"] == want_live
    assert encoded_table.manifest_row_count(spark, out) == want_live
    assert encoded_table.read_decoded(spark, out).count() == want_live


def test_absent_value_deletes_nothing(spark, store):
    out, pdf = store
    stats = delete_job.delete_where_equals(spark, out, "lang", "xx", "d3")
    assert stats["rows_deleted"] == 0
    assert stats["affected_chunks"] == 0


def test_compact_refuses_live_deletes(spark, store, tmp_path):
    out, _ = store
    with pytest.raises(ValueError, match="position deletes"):
        compact_job.compact_store(spark, out, str(tmp_path / "c"))


def test_materialize_then_identity(spark, store, tmp_path):
    out, pdf = store
    dst = str(tmp_path / "mat")
    res = delete_job.materialize_deletes(spark, out, dst)
    assert res["affected_chunk_groups"] > 0
    assert not delete_job.has_deletes(spark, dst)

    live_src = encoded_table.read_decoded(spark, out).toPandas()
    live_dst = encoded_table.read_decoded(spark, dst).toPandas()
    assert len(live_dst) == len(live_src)
    a = live_src.sort_values("k").reset_index(drop=True)
    b = live_dst.sort_values("k").reset_index(drop=True)
    for c in ("k", "nch"):
        assert (a[c].to_numpy() == b[c].to_numpy()).all()
    assert list(a["lang"].fillna("~")) == list(b["lang"].fillna("~"))

    # manifest of dst is self-consistent: stats recomputed on live rows
    m = spark.read.parquet(os.path.join(dst, "manifest"))
    first = (m.where(F.col("column") == "k")
             .agg(F.sum("num_elements")).collect()[0][0])
    assert int(first) == len(live_src)
    # untouched chunks passed through byte-identical: every dst sha
    # for never-affected chunks appears in src manifest verbatim
    msrc = spark.read.parquet(os.path.join(out, "manifest"))
    src_shas = {r["sha256"] for r in msrc.select("sha256").collect()}
    dst_rows = m.select("chunk_id", "sha256").collect()
    touched = {r["chunk_id"] for r in
               delete_job.live_masks(spark, out).select(
                   "chunk_id").collect()}
    for r in dst_rows:
        if r["chunk_id"] not in touched:
            assert r["sha256"] in src_shas

    # compaction accepts the materialized store
    cst = compact_job.compact_store(spark, dst, str(tmp_path / "c2"))
    assert cst["chunks_after"] <= cst["chunks_before"]


@pytest.fixture(scope="module")
def kv_store(spark, tmp_path_factory):
    """High-cardinality unsorted string-key store for IN-deletes and
    upserts — the layout where zone maps can't prune and the Bloom
    probe is the working level."""
    out = str(tmp_path_factory.mktemp("kvstore"))
    n = 3000
    pdf = pd.DataFrame({
        "key": [f"doc-{(i * 2654435761) % 100000:06d}" for i in range(n)],
        "val": np.arange(n, dtype=np.int64) * 3,
    })
    df = spark.createDataFrame(pdf).repartition(4)
    encode_job.encode_table(spark, df, out, url_col=None, resume=False)
    return out, pdf


def test_delete_where_in(spark, kv_store):
    out, pdf = kv_store
    victims = list(pdf["key"].iloc[::17])
    stats = delete_job.delete_where_in(spark, out, "key", victims, "in1")
    assert stats["rows_deleted"] == len(set(victims))
    live = encoded_table.read_decoded(spark, out).toPandas()
    assert set(live["key"]) == set(pdf["key"]) - set(victims)
    # empty / all-absent lists are no-ops
    assert delete_job.delete_where_in(spark, out, "key", [], "in2") \
        ["rows_deleted"] == 0
    s3 = delete_job.delete_where_in(spark, out, "key",
                                    ["zz-absent"], "in3")
    assert s3["rows_deleted"] == 0


def test_upsert_matched_replace_unmatched_insert(spark, tmp_path):
    out = str(tmp_path / "ups")
    n = 2000
    pdf = pd.DataFrame({
        "key": [f"k{i:05d}" for i in range(n)],
        "val": np.arange(n, dtype=np.int64),
    })
    encode_job.encode_table(
        spark, spark.createDataFrame(pdf).repartition(4), out,
        url_col=None, resume=False)

    batch = pd.DataFrame({
        "key": [f"k{i:05d}" for i in range(0, n, 10)]          # updates
               + [f"new{i}" for i in range(50)],               # inserts
        "val": [int(i) + 1000000 for i in range(0, n, 10)]
               + [int(-i) for i in range(50)],
    })
    st = delete_job.upsert_table(
        spark, spark.createDataFrame(batch), out, "key", "b1",
        num_partitions=2)
    assert st["matched_deleted"] == n // 10
    assert st["batch_rows"] == len(batch)

    live = (encoded_table.read_decoded(spark, out).toPandas()
            .sort_values("key").reset_index(drop=True))
    want = pd.concat([
        pdf[~pdf["key"].isin(set(batch["key"]))],
        batch,
    ]).sort_values("key").reset_index(drop=True)
    assert len(live) == len(want)
    assert (live["key"].to_numpy() == want["key"].to_numpy()).all()
    assert (live["val"].to_numpy() == want["val"].to_numpy()).all()

    # end-to-end retry with the same batch_id changes nothing
    st2 = delete_job.upsert_table(
        spark, spark.createDataFrame(batch), out, "key", "b1",
        num_partitions=2)
    assert st2["matched_deleted"] == st["matched_deleted"]
    live2 = (encoded_table.read_decoded(spark, out).toPandas()
             .sort_values("key").reset_index(drop=True))
    assert (live2["val"].to_numpy() == want["val"].to_numpy()).all()

    # a LATER upsert must replace rows the previous batch inserted
    batch2 = pd.DataFrame({"key": ["new0", "new1", "brand"],
                           "val": [7, 8, 9]})
    st3 = delete_job.upsert_table(
        spark, spark.createDataFrame(batch2), out, "key", "b2",
        num_partitions=1)
    assert st3["matched_deleted"] == 2  # new0/new1 from b1
    live3 = encoded_table.read_decoded(spark, out).toPandas()
    got = live3[live3["key"].isin(["new0", "new1", "brand"])]
    assert dict(zip(got["key"], got["val"])) == \
        {"new0": 7, "new1": 8, "brand": 9}
    assert len(live3) == len(want) + 1  # only 'brand' is net-new


def _live2(pdf):
    """Logical live view after d1 (lang='en') and d2 (nch in [0, 2500]):
    NULL predicates never delete."""
    en = (pdf["lang"] == "en").fillna(False)
    rng = (pdf["nch"] >= 0) & (pdf["nch"] <= 2500)
    return pdf[~en & ~rng]


def test_pruned_counts_subtract_deletes(spark, store2):
    """Every pruned fast-path count reflects committed deletes: every
    chunk keeps the compressed kernel, affected chunks AND-ing in their
    live mask."""
    out, pdf = store2
    live = _live2(pdf)

    def count(*args, **kw):
        return encoded_table.pruned_count(spark, out, [Leaf(*args, **kw)])

    hits, stats = count("lang", "string", "in", values=("de",))
    assert hits == int((live["lang"] == "de").sum())
    # affected chunks stay on the compressed path too: lang is
    # dict-coded in every chunk, and the live mask is AND-ed in
    assert stats["decoded_chunks"] == 0
    assert stats["compressed_chunks"] == stats["scanned_chunks"]
    # the dict fast path; clean chunks stayed on it
    assert stats["compressed_chunks"] >= 0

    hits, _ = count("lang", "string", "in", values=("de", "fr"))
    assert hits == int(live["lang"].isin(["de", "fr"]).sum())

    hits, _ = count("lang", "string", "prefix", values=("d",))
    assert hits == int(live["lang"].fillna("").str.startswith("d").sum())

    hits, _ = count("lang", "string", "range", "de", "fr")
    assert hits == int(live["lang"].between("de", "fr").sum())

    hits, _ = count("nch", "int64", "range", 3000, 4000)
    assert hits == int(live["nch"].between(3000, 4000).sum())

    v = int(live["nch"].iloc[0])
    hits, _ = count("nch", "int64", "in", values=(v,))
    assert hits == int((live["nch"] == v).sum())


def test_pruned_sum_topk_select_subtract_deletes(spark, store2):
    out, pdf = store2
    live = _live2(pdf)

    total, st = encoded_table.pruned_sum(
        spark, out, [Leaf("nch", "int64", "range", 3000, 4000)], "k")
    m = live["nch"].between(3000, 4000)
    assert total == int(live.loc[m, "k"].sum())

    top, _ = encoded_table.pruned_topk(spark, out, "nch", 3)
    want = sorted(live["nch"].nlargest(3).tolist(), reverse=True)
    assert top == want

    rows = encoded_table.pruned_select(
        spark, out, [Leaf("lang", "string", "in", values=("de",))],
        ["k"])[0].toPandas()
    assert sorted(rows["k"]) == sorted(
        live.loc[live["lang"] == "de", "k"].tolist())

    k_dead = int(pdf.loc[(pdf["lang"] == "en").fillna(False), "k"].iloc[0])
    k_live = int(live["k"].iloc[0])
    nch_any = Leaf("nch", "int64", "range", 0, 10**9)
    hits, _ = encoded_table.pruned_count(
        spark, out, [nch_any, Leaf("k", "int64", "in", values=(k_dead,))])
    assert hits == 0  # the row exists in storage but is deleted
    hits, _ = encoded_table.pruned_count(
        spark, out, [nch_any, Leaf("k", "int64", "in", values=(k_live,))])
    assert hits == 1


def test_membership_and_null_count_subtract_deletes(spark, store2):
    out, pdf = store2
    live = _live2(pdf)

    # 'en' rows all deleted (d1): membership over the live view is
    # FALSE even though every 'en' chunk still stores the value
    probes = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2], "v": ["en", "de"]}))
    res, _ = encoded_table.store_membership(
        spark, out, "lang", probes, "v", "pid")
    got = {r["pid"]: r["present"] for r in res.collect()}
    assert got == {1: False, 2: True}

    n, nn = encoded_table.manifest_null_count(spark, out, "lang")
    assert n == int(live["lang"].isna().sum())
    assert nn == int(live["lang"].notna().sum())


def test_string_key_ops_refuse_int_columns(spark, store):
    out, _ = store
    with pytest.raises(ValueError, match="string columns only"):
        delete_job.delete_where_equals(spark, out, "k", "5", "dk1")
    with pytest.raises(ValueError, match="string columns only"):
        delete_job.delete_where_in(spark, out, "k", ["5"], "dk2")


def test_materialize_preserves_consumer_cursor(spark, tmp_path):
    """dst is a drop-in replacement: an exactly-once consumer's cursor
    must carry over, or the whole history re-delivers."""
    import pandas as pd
    from compressed_vec_spark.sources import snapshot
    src = str(tmp_path / "mat_src")
    dst = str(tmp_path / "mat_dst")
    pdf = pd.DataFrame({"k": range(1000),
                        "lang": ["l%d" % (i % 5) for i in range(1000)]})
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(2, "lang", "k")
          .sortWithinPartitions("lang", "k"))
    encode_job.encode_table(spark, df, src, url_col=None,
                            codec_overrides={"lang": "dict"})
    seen = []
    snapshot.consume_new_batches(spark, src, "c-mat",
                                 lambda b, d: seen.append(b))
    assert seen == [snapshot.BASE_SNAPSHOT]
    delete_job.delete_where_equals(spark, src, "lang", "l3", "dm1")
    delete_job.materialize_deletes(spark, src, dst)
    assert (snapshot.consumer_position(spark, dst, "c-mat")
            == snapshot.consumer_position(spark, src, "c-mat") > 0)
    res = snapshot.consume_new_batches(spark, dst, "c-mat",
                                       lambda b, d: seen.append(b))
    assert res["processed"] == []  # nothing re-delivered


def test_wide_delete_every_chunk_distributed_masks(spark, tmp_path,
                                                   monkeypatch):
    """Corpus-wide DELETE: the mask sidecar covers EVERY chunk, and the
    pruned readers must still be exact — with the masks applied via a
    distributed chunk_id join, never a driver-side collect (the old
    dict put O(affected_chunks x rows/8) on the driver; a corpus-wide
    delete at 10^12 rows would be ~125 GB there)."""
    import inspect
    try:  # Spark 4: concrete class lives in sql.classic
        import pyspark.sql.classic.dataframe as df_mod
    except ImportError:  # pragma: no cover - Spark 3.x fallback
        import pyspark.sql.dataframe as df_mod

    out = str(tmp_path / "widedel")
    n = 3000
    pdf = pd.DataFrame({"k": np.arange(n, dtype=np.int64),
                        "v": (np.arange(n, dtype=np.int64) * 7) % 1000})
    df = spark.createDataFrame(pdf).coalesce(2)
    encode_job.encode_table(spark, df, out, url_col=None, resume=False)

    # k % 3 == 0 hits every 500-row chunk
    every_third = Leaf("k", "int64", "in", values=tuple(range(0, n, 3)))
    stats = delete_job.delete_rows(spark, out, [every_third], "wd1")
    assert stats["rows_deleted"] == int(((pdf["k"] % 3) == 0).sum())

    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    k_chunks = manifest.where(F.col("column") == "k").count()
    masks = delete_job.live_masks(spark, out)
    assert masks is not None and masks.count() == k_chunks  # all wide

    live = pdf[(pdf["k"] % 3) != 0]
    hits, _ = encoded_table.pruned_count(
        spark, out, [Leaf("k", "int64", "range", 0, n)])
    assert hits == len(live)
    hits, _ = encoded_table.pruned_count(
        spark, out, [Leaf("v", "int64", "in",
                          values=(int(live["v"].iloc[0]),))])
    assert hits == int((live["v"] == live["v"].iloc[0]).sum())

    # masks stay distributed: the reader-side mask plumbing has no
    # driver collect; application is a chunk_id join (left) per scan
    assert ".collect()" not in inspect.getsource(delete_job.live_masks)
    assert 'join(masks, "chunk_id", "left")' in inspect.getsource(
        encoded_table._front)
    # and no collect the pruned count makes carries a mask
    collected = []
    orig_collect = df_mod.DataFrame.collect

    def spy(self):
        collected.append([f.name for f in self.schema.fields])
        return orig_collect(self)

    monkeypatch.setattr(df_mod.DataFrame, "collect", spy)
    hits, _ = encoded_table.pruned_count(
        spark, out, [Leaf("k", "int64", "range", 0, n)])
    monkeypatch.undo()
    assert hits == len(live) and collected
    for cols in collected:
        assert "mask" not in cols and "keep_mask" not in cols, cols


def test_wide_delete_null_count_no_driver_masks(spark, tmp_path, monkeypatch):
    """manifest_null_count on a store where EVERY chunk carries live
    deletes: the answer must stay exact AND the delete masks must ride
    the distributed chunk_id join — no driver-side collect of any
    mask-carrying row set (the pre-r6 path collected the whole sidecar
    into a dict captured by every task closure)."""
    try:  # Spark 4: concrete class lives in sql.classic
        import pyspark.sql.classic.dataframe as df_mod
    except ImportError:  # pragma: no cover - Spark 3.x fallback
        import pyspark.sql.dataframe as df_mod

    out = str(tmp_path / "widedelnull")
    n = 3000
    vals = pd.array([None if i % 5 == 0 else (i * 7) % 1000
                     for i in range(n)], dtype="Int64")
    pdf = pd.DataFrame({"k": np.arange(n, dtype=np.int64), "v": vals})
    df = spark.createDataFrame(pdf).coalesce(2)
    encode_job.encode_table(spark, df, out, url_col=None, resume=False)

    # k % 3 == 0 hits every 500-row chunk
    every_third = Leaf("k", "int64", "in", values=tuple(range(0, n, 3)))
    stats = delete_job.delete_rows(spark, out, [every_third], "wdn1")
    assert stats["rows_deleted"] == int(((pdf["k"] % 3) == 0).sum())
    masks = delete_job.live_masks(spark, out)
    k_chunks = (spark.read.parquet(os.path.join(out, "manifest"))
                .where(F.col("column") == "k").count())
    assert masks is not None and masks.count() == k_chunks  # all wide

    collected_schemas = []
    orig_collect = df_mod.DataFrame.collect

    def spy(self):
        collected_schemas.append([f.name for f in self.schema.fields])
        return orig_collect(self)

    monkeypatch.setattr(df_mod.DataFrame, "collect", spy)
    n_null, n_nn = encoded_table.manifest_null_count(spark, out, "v")
    monkeypatch.undo()

    live = pdf[(pdf["k"].to_numpy() % 3) != 0]
    assert n_null == int(live["v"].isna().sum())
    assert n_nn == int(live["v"].notna().sum())
    # every driver collect on the null-count path is a tiny aggregate —
    # never a row set carrying the packed masks
    assert collected_schemas, "spy never engaged"
    for cols in collected_schemas:
        assert "mask" not in cols and "keep_mask" not in cols, cols


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    result = fn()
    return result, len(set(tracker.getJobIdsForGroup(None)) - before)


def _masks(spark, out):
    """{chunk_id: (n_deleted, packed mask)} of the live generation."""
    rows = delete_job.live_masks(spark, out).collect()
    got = {r["chunk_id"]: (r["n_deleted"], bytes(r["keep_mask"]))
           for r in rows}
    assert len(got) == len(rows)  # one row per chunk
    return got


def _dead_keys(spark, out):
    """k of every row the live generation deletes, whatever the chunk
    layout."""
    masks = {c: m for c, (_, m) in _masks(spark, out).items()}
    dead = set()
    for r in (spark.read.parquet(os.path.join(out, "chunks"))
              .where(F.col("column") == "k")
              .select("chunk_id", "blob").collect()):
        if r["chunk_id"] in masks:
            ks = np.asarray(chunk_codec.decode_column(bytes(r["blob"])))
            bits = np.unpackbits(np.frombuffer(masks[r["chunk_id"]],
                                               np.uint8), count=len(ks))
            dead.update(ks[bits.astype(bool)].tolist())
    return dead


def _files(root):
    """{path: (size, mtime)} of every file under root."""
    return {os.path.join(d, f): (os.stat(os.path.join(d, f)).st_size,
                                 os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, fs in os.walk(root) for f in fs}


def test_live_reads_plan_no_mask_merge(spark, store2):
    """The decoded read and the pruning front's scan read the one live
    generation as is: no grouped Python stage merges masks."""
    out, _ = store2
    front = encoded_table._front(
        spark, out, [Leaf("lang", "string", "in", values=("de",))],
        ["lang"], delete_job.live_masks(spark, out))
    for df in (encoded_table.read_decoded(spark, out), front.scan):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "mask:binary" in plan  # the live generation is read
        assert "FlatMapGroupsInPandas" not in plan


def test_delete_stats_submit_no_jobs(spark, store2):
    out, pdf = store2
    (st, rows), jobs = _jobs(spark, lambda: (
        delete_job.delete_stats(spark, out),
        encoded_table.manifest_row_count(spark, out)))
    assert jobs == 0
    assert st["live_rows"] == rows == len(_live2(pdf))
    assert st["deleted_rows"] == len(pdf) - len(_live2(pdf))


def test_generation_is_or_of_deletes(spark, store2):
    """After d1 and then d2 the live generation holds one row per
    affected chunk whose mask is the OR of both deletes' positions,
    found from the raw rows and the two predicates."""
    out, _ = store2
    raw = encoded_table.read_decoded(spark, out,
                                     apply_deletes=False).toPandas()
    d1 = (raw["lang"] == "en").fillna(False)
    d2 = raw["nch"].between(0, 2500)
    dead = set(raw.loc[d1 | d2, "k"])
    want = {}
    for r in (spark.read.parquet(os.path.join(out, "chunks"))
              .where(F.col("column") == "k")
              .select("chunk_id", "blob").collect()):
        ks = np.asarray(chunk_codec.decode_column(bytes(r["blob"])))
        m = np.isin(ks, list(dead))
        if m.any():
            want[r["chunk_id"]] = (int(m.sum()), np.packbits(m).tobytes())
    assert want and _masks(spark, out) == want


def test_vacuum_keeps_only_live_generation(spark, tmp_path):
    """After three deletes `deletes/` holds one partition, the last
    delete's (its id escaped in the directory name), and it is the OR
    of the three deletes' positions."""
    out, _ = _lang_sorted_store(spark, str(tmp_path / "vac"))
    raw = encoded_table.read_decoded(spark, out,
                                     apply_deletes=False).toPandas()
    delete_job.delete_where_equals(spark, out, "lang", "en", "v1")
    delete_job.delete_where_range(spark, out, "nch", 0, 1000, "v2")
    delete_job.delete_where_in(spark, out, "lang", ["fr"], "v:3")
    parts = [n for n in os.listdir(layout.DELETES.path(out))
             if n.startswith("delete_id=")]
    assert parts == ["delete_id=v%3A3"]

    d = ((raw["lang"] == "en").fillna(False)
         | raw["nch"].between(0, 1000)
         | (raw["lang"] == "fr").fillna(False))
    dead = set(raw.loc[d, "k"])
    want = {}
    for r in (spark.read.parquet(os.path.join(out, "chunks"))
              .where(F.col("column") == "k")
              .select("chunk_id", "blob").collect()):
        ks = np.asarray(chunk_codec.decode_column(bytes(r["blob"])))
        m = np.isin(ks, list(dead))
        if m.any():
            want[r["chunk_id"]] = (int(m.sum()), np.packbits(m).tobytes())
    assert want and _masks(spark, out) == want
    st = delete_job.delete_stats(spark, out)
    assert st["deleted_rows"] == len(dead)
    assert st["live_rows"] == len(raw) - len(dead)
    live = encoded_table.read_decoded(spark, out).toPandas()
    assert len(live) == len(raw) - len(dead)
    assert set(live["k"]) == set(raw["k"]) - dead


def test_crash_before_commit_keeps_parent(spark, store2, tmp_path,
                                          monkeypatch):
    """A delete that dies after writing its generation but before its
    delete_log row leaves the parent generation live; the retry
    converges to a run with no crash (store2: d1, then d2)."""
    out, pdf = _lang_sorted_store(spark, str(tmp_path / "crash"))
    delete_job.delete_where_equals(spark, out, "lang", "en", "d1")
    parent = delete_job.delete_stats(spark, out)
    parent_masks = _masks(spark, out)

    def crash(*args):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(delete_job, "_commit", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        delete_job.delete_where_range(spark, out, "nch", 0, 2500, "d2")
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(out, "deletes", "delete_id=d2"))

    live1 = _live_pdf(pdf)
    assert delete_job.delete_stats(spark, out) == parent
    assert _masks(spark, out) == parent_masks
    hits, _ = encoded_table.pruned_count(
        spark, out, [Leaf("nch", "int64", "range", 0, 2500)])
    assert hits == int(live1["nch"].between(0, 2500).sum())
    assert encoded_table.read_decoded(spark, out).count() == len(live1)

    st = delete_job.delete_where_range(spark, out, "nch", 0, 2500, "d2")
    assert st["rows_deleted"] == hits
    clean, _ = store2
    assert delete_job.delete_stats(spark, out) == \
        delete_job.delete_stats(spark, clean)
    assert _dead_keys(spark, out) == _dead_keys(spark, clean)


def test_committed_delete_id_writes_nothing(spark, store2):
    """Re-issuing d1 after d2 committed returns d1's logged count and
    leaves the sidecar and the log untouched."""
    out, pdf = store2
    before = _files(os.path.join(out, "deletes"))
    log = _files(os.path.join(out, "delete_log"))
    stats = delete_job.delete_stats(spark, out)
    st = delete_job.delete_where_equals(spark, out, "lang", "en", "d1")
    assert st["rows_deleted"] == int((pdf["lang"] == "en").sum())
    assert _files(os.path.join(out, "deletes")) == before
    assert _files(os.path.join(out, "delete_log")) == log
    assert delete_job.delete_stats(spark, out) == stats


def test_pre_v7_sidecar_refused(spark, tmp_path):
    """A store before format v7 kept one mask per delete batch; its
    sidecar is refused, never read as a live generation."""
    out, _ = _lang_sorted_store(spark, str(tmp_path / "v6"))
    (spark.createDataFrame([(6,)], "format_version int").coalesce(1)
        .write.mode("overwrite").parquet(os.path.join(out, "store_meta")))
    (spark.createDataFrame([("d1", 0, 0, "p00000-c00000", 500, 1,
                             bytes(63))], layout.DELETES.ddl)
        .write.partitionBy("delete_id")
        .parquet(os.path.join(out, "deletes")))
    for fn in (delete_job.has_deletes, delete_job.live_masks):
        with pytest.raises(ValueError, match="format v6"):
            fn(spark, out)
    with pytest.raises(ValueError, match="format v6"):
        delete_job.delete_where_equals(spark, out, "lang", "en", "d2")
