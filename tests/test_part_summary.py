"""Part summary tests: the per-(part, column) rows every manifest write
derives, the driver-side part pruning built on them, and the metadata
answers they give without a Spark job."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.sources import encoded_table, layout, sql_router
from compressed_vec_spark.sources.encoded_table import Leaf
from compressed_vec_spark.spark import compact_job, delete_job, encode_job
from compressed_vec_spark.spark.session import get_spark

PARTS = 16
ROWS = 24_000


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-part-summary-tests", cores=4, chunk_rows=1024)
    yield s
    s.stop()


def _frame(n: int, start: int = 0) -> pd.DataFrame:
    k = np.arange(start, start + n, dtype=np.int64)
    return pd.DataFrame({"k": k * 3, "g": [f"g{i % 5}" for i in k]})


def _df(spark, pdf):
    """pdf plus a float column f = k / 12 holding a NaN (not a NULL)
    in every 13th row."""
    return spark.createDataFrame(pdf).withColumn(
        "f", F.when(F.col("k") % 39 == 0, F.lit(float("nan")))
        .otherwise(F.col("k") / 12.0))


def _sorted_store(spark, out, pdf=None):
    """A PARTS-part store sorted on k (so each part holds one k slice)."""
    pdf = _frame(ROWS) if pdf is None else pdf
    df = (_df(spark, pdf)
          .repartitionByRange(PARTS, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None, resume=False,
                            codec_overrides={"g": "dict"})
    return pdf


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ps") / "store")
    pdf = _sorted_store(spark, out)
    encoded_table.register_encoded_table(spark, out, "ps_t")
    return out, pdf


def _expected_summary(spark, out) -> dict:
    """The part summary recomputed from the manifest by a Spark groupBy."""
    m = spark.read.parquet(os.path.join(out, "manifest"))
    rows = m.groupBy("part_id", "column").agg(
        F.count(F.lit(1)).alias("chunks"),
        F.sum((F.col("codec") == "dict").cast("long")).alias("dict_chunks"),
        F.sum("num_elements").alias("rows"),
        F.sum("null_count").alias("nulls"),
        F.min("min_val").alias("min_val"), F.max("max_val").alias("max_val"),
        F.min("min_str").alias("min_str"), F.max("max_str").alias("max_str"),
        F.min("min_f64").alias("min_f64"), F.max("max_f64").alias("max_f64"),
        F.sum("sum_val").alias("sum_val"),
        F.count("sum_val").alias("n_sum")).collect()
    out_rows = {}
    for r in rows:
        d = r.asDict()
        if d.pop("n_sum") != d["chunks"]:
            d["sum_val"] = None
        out_rows[(d.pop("part_id"), d.pop("column"))] = d
    return out_rows


def _assert_summary_matches_manifest(spark, out):
    got = encoded_table.part_summary(spark, out)
    want = _expected_summary(spark, out)
    assert set(got) == set(want)
    for key, w in want.items():
        g = {k: got[key][k] for k in w}
        assert g == w, (key, g, w)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    result = fn()
    return result, len(set(tracker.getJobIdsForGroup(None)) - before)


def test_point_count_scans_one_part(spark, store):
    out, pdf = store
    key = int(pdf["k"].iloc[ROWS // 3])
    hits, st = encoded_table.pruned_count(
        spark, out, [Leaf("k", "int64", "in", values=(key,))])
    assert st["total_parts"] == PARTS
    assert st["scanned_parts"] == 1, st
    want = spark.sql(f"SELECT count(*) FROM ps_t WHERE k = {key}").first()[0]
    assert hits == want == 1
    # the chunks of the 15 pruned parts count as zone-pruned
    assert st["pruned_chunks"] == st["total_chunks"] - st["scanned_chunks"]
    assert st["total_chunks"] == sum(
        r["chunks"] for (_, c), r in
        encoded_table.part_summary(spark, out).items() if c == "k")

    # a key past every part: no part read, nothing counted
    hits, st = encoded_table.pruned_count(
        spark, out, [Leaf("k", "int64", "in", values=(10**12,))])
    assert (hits, st["scanned_parts"], st["scanned_chunks"]) == (0, 0, 0)


def test_routed_counts_equal_spark(spark, store):
    out, pdf = store
    lo, hi = int(pdf["k"].iloc[5000]), int(pdf["k"].iloc[5400])
    for q in (f"SELECT count(*) AS c FROM ps_t WHERE k BETWEEN {lo} AND {hi}",
              f"SELECT sum(k) AS s FROM ps_t WHERE k BETWEEN {lo} AND {hi}",
              f"SELECT g, count(*) AS c FROM ps_t WHERE k BETWEEN {lo} AND "
              f"{hi} GROUP BY g",
              f"SELECT k, g FROM ps_t WHERE k BETWEEN {lo} AND {lo + 30}"):
        df, st = sql_router.route_sql(spark, out, q, view="ps_t")
        assert st["routed"], q
        assert st["scanned_parts"] <= 2, (q, st)
        assert sorted(map(tuple, df.collect())) == \
            sorted(map(tuple, spark.sql(q).collect())), q


def test_nan_bounds_never_part_prune_a_kept_chunk(spark, store):
    """Spark orders NaN above every number, so a NaN bound keeps chunks
    a Python comparison (always False against NaN) would drop; the part
    test must keep every part holding a chunk Spark's zone test keeps."""
    out, _ = store
    man = (spark.read.parquet(os.path.join(out, "manifest"))
           .where(F.col("column") == "f"))
    summary = encoded_table.part_summary(spark, out)
    nan, inf = float("nan"), float("inf")
    for lo, hi in ((None, nan), (nan, None), (nan, nan), (-inf, nan),
                   (0.0, nan), (100.0, 200.0), (5000.0, None), (None, -1.0)):
        leaf = Leaf("f", "double", "range", lo, hi)
        spark_parts = {r["part_id"] for r in
                       man.where(leaf.zone()).select("part_id").collect()}
        admitted = {p for (p, c), r in summary.items()
                    if c == "f" and leaf.admits(r)}
        assert spark_parts <= admitted, (lo, hi, spark_parts, admitted)
        _, st = encoded_table.pruned_count(spark, out, [leaf])
        assert st["scanned_parts"] == len(admitted), (lo, hi, st)
    assert len({p for (p, c), r in summary.items() if c == "f"
                and Leaf("f", "double", "range", None, nan).admits(r)}) \
        == PARTS
    # a finite range answers as Spark does over the decoded view (NaN
    # matches no finite range there either)
    hits, st = encoded_table.pruned_count(
        spark, out, [Leaf("f", "double", "range", 100.0, 200.0)])
    want = spark.sql("SELECT count(*) FROM ps_t "
                     "WHERE f BETWEEN 100.0 AND 200.0").first()[0]
    assert hits == want and st["scanned_parts"] < PARTS


def test_metadata_statement_runs_one_job(spark, store):
    out, pdf = store
    q = "SELECT count(*) AS c, min(k) AS lo, max(k) AS hi FROM ps_t"

    def statement():
        df, st = sql_router.route_sql(spark, out, q, view="ps_t")
        return [tuple(r) for r in df.collect()], st
    (rows, st), jobs = _jobs(spark, statement)
    assert st["routed"] and st["metadata_only"]
    assert rows == [(ROWS, int(pdf["k"].min()), int(pdf["k"].max()))]
    assert jobs == 1, jobs  # the one-row result's collect
    # the metadata answers alone submit none
    (_, mm, nc), jobs = _jobs(spark, lambda: (
        encoded_table.manifest_row_count(spark, out),
        encoded_table.manifest_min_max(spark, out, "k"),
        encoded_table.manifest_null_count(spark, out, "f")))
    assert jobs == 0
    assert mm == (int(pdf["k"].min()), int(pdf["k"].max()))
    m = (spark.read.parquet(os.path.join(out, "manifest"))
         .where(F.col("column") == "f")
         .agg(F.sum("null_count"), F.sum("num_elements")).first())
    assert nc == (m[0], m[1] - m[0])


def test_schema_evolved_store_metadata(spark, tmp_path):
    """Old parts have no summary rows for an evolved column: every one
    of their rows counts as a NULL of it, and a leaf on it prunes them."""
    out = str(tmp_path / "evo")
    _sorted_store(spark, out, _frame(4000))
    batch = _df(spark, pd.DataFrame({
        "k": np.arange(4000, 4500, dtype=np.int64) * 3,
        "g": ["g9"] * 500,
        "extra": pd.array([None if i % 4 == 0 else i for i in range(500)],
                          dtype="Int64")})).coalesce(1)
    encode_job.append_table(spark, batch, out, batch_id="evo",
                            allow_new_columns=True)
    summary = encoded_table.part_summary(spark, out)
    assert {p for p, c in summary if c == "extra"} == {PARTS}
    encoded_table.register_encoded_table(spark, out, "ps_evo")
    want_nulls = spark.sql(
        "SELECT count(*) FROM ps_evo WHERE extra IS NULL").first()[0]
    assert want_nulls == 4000 + 125
    assert encoded_table.manifest_null_count(spark, out, "extra") == \
        (want_nulls, 375)
    st = encode_job.store_stats(spark, out)
    assert st["columns"]["extra"]["rows"] == 4500
    assert st["columns"]["extra"]["nulls"] == want_nulls
    assert st["columns"]["k"]["rows"] == 4500
    assert st["parts"] == PARTS + 1
    assert all(c["encode_s"] > 0 for c in st["columns"].values())
    hits, pst = encoded_table.pruned_count(
        spark, out, [Leaf("extra", "int64", "range", 0, 100)])
    assert hits == spark.sql("SELECT count(*) FROM ps_evo "
                             "WHERE extra BETWEEN 0 AND 100").first()[0]
    assert pst["scanned_parts"] == 1
    # the old parts hold no row of the column: the chunk totals match
    # the manifest's (their chunks were never candidates)
    assert pst["total_chunks"] == summary[PARTS, "extra"]["chunks"]


def test_summary_matches_manifest_after_every_write(spark, tmp_path):
    out = str(tmp_path / "w")
    _sorted_store(spark, out, _frame(6000))
    _assert_summary_matches_manifest(spark, out)

    encode_job.append_table(
        spark, _df(spark, _frame(1500, start=6000)).coalesce(2),
        out, batch_id="b1", url_col=None)
    _assert_summary_matches_manifest(spark, out)

    compacted = str(tmp_path / "w_compact")
    compact_job.compact_store(spark, out, compacted, target_elements=4096,
                              codec_overrides={"g": "dict"})
    _assert_summary_matches_manifest(spark, compacted)

    delete_job.delete_where_range(spark, out, "k", 300, 9000, "d1")
    materialized = str(tmp_path / "w_mat")
    delete_job.materialize_deletes(spark, out, materialized)
    _assert_summary_matches_manifest(spark, materialized)
    assert encoded_table.manifest_row_count(spark, materialized) == \
        7500 - len(range(300, 9001, 3))

    # a store older than format v6 has no part summary: readers derive
    # the same rows from its manifest
    before = encoded_table.part_summary(spark, materialized)
    shutil.rmtree(os.path.join(materialized, "part_summary"))
    assert encoded_table.part_summary(spark, materialized) == before


def test_appends_commit_fresh_part_ids(spark, tmp_path):
    """Each commit takes part ids no earlier commit holds: the part
    summary keeps one row per (part_id, column), and every chunk id is
    the p<part>-c<seq> of its own manifest row."""
    out = str(tmp_path / "fresh")
    _sorted_store(spark, out, _frame(3000))
    for i, start in enumerate((3000, 4000)):
        encode_job.append_table(
            spark, _df(spark, _frame(1000, start=start)).coalesce(2),
            out, batch_id=f"b{i}", url_col=None)
    log = sorted((r["part_offset"], r["n_parts"])
                 for r in layout.read_meta(spark, out, layout.APPEND_LOG))
    assert log == [(PARTS, 2), (PARTS + 2, 2)]

    man = layout.read_meta(spark, out, layout.MANIFEST)
    assert {r["part_id"] for r in man} == set(range(PARTS + 4))
    assert all(r["chunk_id"] == f"p{r['part_id']:05d}-c{r['chunk_seq']:05d}"
               for r in man)
    keys = [(r["part_id"], r["column"])
            for r in layout.read_meta(spark, out, layout.PART_SUMMARY)]
    assert len(keys) == len(set(keys))
    assert set(keys) == {(r["part_id"], r["column"]) for r in man}
    _assert_summary_matches_manifest(spark, out)


def test_write_manifest_overwrites_manifest_and_summary(spark, tmp_path):
    out = str(tmp_path / "rewrite")
    _sorted_store(spark, out, _frame(3000))
    chunks = layout.read(spark, out, layout.CHUNKS)

    def parts():
        man = {r["part_id"]
               for r in layout.read_meta(spark, out, layout.MANIFEST)}
        summary = {p for p, _ in encoded_table.part_summary(spark, out)}
        assert man == summary
        return man

    encode_job.write_manifest(spark, out, chunks.where(F.col("part_id") < 3))
    assert parts() == {0, 1, 2}
    _assert_summary_matches_manifest(spark, out)
    encode_job.write_manifest(spark, out, chunks)
    assert parts() == set(range(PARTS))
    _assert_summary_matches_manifest(spark, out)


def test_summary_sum_is_null_past_int64(spark, tmp_path):
    """Each chunk's sum fits int64 but the part's does not: the part
    sum_val is NULL, as a chunk's is when its own sum overflows."""
    out = str(tmp_path / "big")
    pdf = pd.DataFrame({"k": np.arange(4096, dtype=np.int64),
                        "v": np.full(4096, 2**52, dtype=np.int64)})
    encode_job.encode_table(spark, spark.createDataFrame(pdf).coalesce(1),
                            out, url_col=None, resume=False)
    man = (spark.read.parquet(os.path.join(out, "manifest"))
           .where(F.col("column") == "v").collect())
    assert len(man) == 4 and all(r["sum_val"] == 2**62 for r in man)
    summary = encoded_table.part_summary(spark, out)
    assert summary[0, "v"]["sum_val"] is None
    assert summary[0, "k"]["sum_val"] == sum(range(4096))


def test_no_leaf_counts_come_from_the_summary(spark, store):
    """A front with no leaf reads every chunk of its column: counts()
    is that chunk total three times, from the part summary with no
    Spark job."""
    out, _ = store
    chunks = (spark.read.parquet(os.path.join(out, "manifest"))
              .where(F.col("column") == "g").count())
    front = encoded_table._front(spark, out, [], ["g"], None)
    counts, jobs = _jobs(spark, front.counts)
    assert counts == (chunks, chunks, chunks)
    assert jobs == 0


TERMINALS = ("pruned_count", "pruned_sum", "pruned_select", "pruned_topk",
             "grouped_dict_agg", "dict_distinct", "delete_rows",
             "store_membership")


@pytest.mark.parametrize("terminal", TERMINALS)
def test_terminal_returns_the_stats_record(spark, store, tmp_path, terminal):
    """Every store terminal returns each key of the one stats record,
    and its chunk counts add up: a chunk in scope is pruned, scanned or
    answered from the manifest (covered), and no more parts are read
    than are in scope."""
    out, pdf = store
    lo, hi = int(pdf["k"].iloc[5000]), int(pdf["k"].iloc[9000])
    where = [Leaf("k", "int64", "range", lo, hi)]

    def delete():
        dst = str(tmp_path / "store")
        shutil.copytree(out, dst)
        return delete_job.delete_rows(spark, dst, where, "stats-d1")

    def membership():
        probes = spark.createDataFrame(pd.DataFrame(
            {"pid": [1, 2], "v": ["g1", "absent"]}))
        res, st = encoded_table.store_membership(spark, out, "g", probes,
                                                 "v", "pid")
        assert sorted(map(tuple, res.collect())) == [(1, True), (2, False)]
        return st

    run = {
        "pruned_count": lambda: encoded_table.pruned_count(
            spark, out, where)[1],
        "pruned_sum": lambda: encoded_table.pruned_sum(
            spark, out, where, "k")[1],
        "pruned_select": lambda: encoded_table.pruned_select(
            spark, out, where, ["k", "g"])[1],
        "pruned_topk": lambda: encoded_table.pruned_topk(
            spark, out, "k", 5)[1],
        "grouped_dict_agg": lambda: encoded_table.grouped_dict_agg(
            spark, out, "g", [{"fn": "count", "alias": "c"}], where)[1],
        "dict_distinct": lambda: encoded_table.dict_distinct(
            spark, out, "g")[1],
        "delete_rows": delete,
        "store_membership": membership,
    }
    st = run[terminal]()
    base = encoded_table._stats(0, 0, 0, parts=(0, 0))
    assert set(base) <= set(st), (terminal, st)
    assert st["total_chunks"] > 0
    assert (st["pruned_chunks"] + st["scanned_chunks"]
            + st.get("covered_chunks", 0) == st["total_chunks"]), st
    assert 0 <= st["scanned_parts"] <= st["total_parts"], st
