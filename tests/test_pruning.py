"""Chunk-stats pruning tests: manifest min/max must skip chunks before
any decode happens."""

import os

import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.spark import encode_job
from compressed_vec_spark.spark.session import get_spark
from compressed_vec_spark.sources import encoded_table
from compressed_vec_spark.sources.encoded_table import Leaf


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-prune-tests", cores=4, chunk_rows=1024)
    yield s
    s.stop()


def test_pruned_equals_count(spark, tmp_path):
    out = str(tmp_path / "enc")
    # a sorted id column => tight per-chunk [min,max] windows
    df = spark.range(0, 20000, 1, 8).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"))
    encode_job.encode_table(spark, df, out, url_col=None, num_partitions=8)

    count, stats = encoded_table.pruned_count(
        spark, out, [Leaf("k", "int64", "in", values=(12345,))])
    assert count == 1
    assert stats["pruned_chunks"] > 0
    assert stats["scanned_chunks"] < stats["total_chunks"]

    # value outside every chunk range: zero chunks touched
    count, stats = encoded_table.pruned_count(
        spark, out, [Leaf("k", "int64", "in", values=(10**12,))])
    assert count == 0
    assert stats["scanned_chunks"] == 0


def test_pruned_range_count_two_levels(spark, tmp_path):
    """Range over the encoded store prunes at BOTH levels: whole chunks
    via manifest [min,max] AND sections inside surviving chunks via the
    Delta headers (no decode of disjoint sections)."""
    out = str(tmp_path / "enc3")
    # keep the range's naturally ordered partitions (no repartition):
    # locally sorted chunks give tight section [base, base+2^bits) spans
    df = spark.range(0, 40000, 1, 8).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    encode_job.encode_table(spark, df, out, url_col=None)

    # range strictly inside one 1024-row chunk: manifest prunes all the
    # other chunks, and inside the survivor only the one overlapping
    # 256-section decodes — the rest skip on their Delta headers
    count, stats = encoded_table.pruned_count(
        spark, out, [Leaf("k", "int64", "range", 10400, 10499)])
    assert count == 100
    assert stats["pruned_chunks"] > 0  # manifest-level skip
    assert stats["sections_skipped"] > 0

    count, stats = encoded_table.pruned_count(
        spark, out, [Leaf("k", "int64", "range", 10**12, 10**12 + 5)])
    assert count == 0 and stats["scanned_chunks"] == 0


def test_pruned_multi_and_short_circuits(spark, tmp_path):
    """Two-column AND over the store: chunk candidates intersect across
    both predicates, and range-dead sections skip the equality column's
    decode entirely (MultiVectorFilter short-circuit on storage)."""
    out = str(tmp_path / "enc_mv")
    df = spark.range(0, 40000, 1, 8).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    encode_job.encode_table(spark, df, out, url_col=None)

    count, stats = encoded_table.pruned_count(
        spark, out, [Leaf("k", "int64", "range", 10400, 10499),
                     Leaf("v", "int64", "in", values=(3,))])
    want = sum(1 for i in range(10400, 10500) if i % 7 == 3)
    assert count == want
    assert stats["pruned_chunks"] > 0
    # the equality leaf skips the sections the range leaf left dead:
    # beyond the range leaf's own header skips
    _, range_only = encoded_table.pruned_count(
        spark, out, [Leaf("k", "int64", "range", 10400, 10499)])
    assert stats["sections_skipped"] > range_only["sections_skipped"] > 0


def test_register_encoded_table_sql(spark, tmp_path):
    """An encoded store is self-describing: register it as a temp view
    (no schema handed over) and run plain SQL over the decoded rows."""
    from compressed_vec_spark.spark import webtable
    out = str(tmp_path / "enc_sql")
    web = webtable.webpages(spark, 800, partitions=2)
    encode_job.encode_table(spark, web, out, num_partitions=2)

    encoded_table.register_encoded_table(spark, out, "pages")
    got = {r["lang"]: r["n"] for r in spark.sql(
        "SELECT lang, count(*) AS n FROM pages GROUP BY lang").collect()}
    want = {r["lang"]: r["n"] for r in
            web.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == want
    # timestamps come back typed (not epoch ints)
    row = spark.sql("SELECT max(warc_ts) AS ts FROM pages").first()
    assert row["ts"] == web.agg(F.max("warc_ts")).first()[0]


def test_manifest_filter_is_pushed_down(spark, tmp_path):
    out = str(tmp_path / "enc2")
    df = spark.range(0, 5000, 1, 4).select(F.col("id").alias("k"))
    encode_job.encode_table(spark, df, out, url_col=None, num_partitions=4)
    m = spark.read.parquet(os.path.join(out, "manifest"))
    plan = m.where((F.col("column") == "k") & (F.col("min_val") <= 10)
                   & (F.col("max_val") >= 10)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "min_val" in plan.split("PushedFilters")[1][:300]


def test_pruned_string_equals_and_prefix(spark, tmp_path):
    """String predicates over the persisted store: manifest
    [min_str, max_str] pruning + equality/prefix on the compressed dict
    code vector, never materializing strings on the fast path."""
    out = str(tmp_path / "enc_str")
    # 26 hosts aaa..zzz-ish, sorted => tight per-chunk string ranges
    df = spark.range(0, 13000, 1, 8).select(
        F.col("id").alias("k"),
        F.concat(F.lit("host-"),
                 F.lpad((F.col("id") / 500).cast("int").cast("string"),
                        3, "0")).alias("host"))
    df = df.repartitionByRange(8, "host", "k").sortWithinPartitions("host", "k")
    encode_job.encode_table(spark, df, out, url_col=None,
                            codec_overrides={"host": "dict"})

    def count(op, *args, **kw):
        return encoded_table.pruned_count(
            spark, out, [Leaf("host", "string", op, *args, **kw)])

    cnt, st = count("in", values=("host-007",))
    assert cnt == 500
    assert st["pruned_chunks"] > 0
    assert st["decoded_chunks"] == 0  # all dict fast path

    # absent value inside some chunk's range: zero hits, cheap heap probe
    cnt, st = count("in", values=("host-007x",))
    assert cnt == 0

    # value outside every chunk's range: no chunk read at all
    cnt, st = count("in", values=("zzz",))
    assert cnt == 0 and st["scanned_chunks"] == 0

    cnt, st = count("prefix", values=("host-01",))
    assert cnt == 5000  # host-010..host-019
    assert st["pruned_chunks"] > 0
    assert st["decoded_chunks"] == 0

    cnt, st = count("prefix", values=("nomatch",))
    assert cnt == 0 and st["scanned_chunks"] == 0

    # BETWEEN over the store: code_range on the sorted dictionary +
    # range_mask on the compressed codes
    cnt, st = count("range", "host-003", "host-005")
    assert cnt == 1500  # host-003, host-004, host-005
    assert st["pruned_chunks"] > 0
    assert st["decoded_chunks"] == 0

    # bounds that are not dictionary members still bracket correctly
    cnt, st = count("range", "host-003a", "host-005a")
    assert cnt == 1000  # host-004, host-005

    # disjoint range: pruned to zero chunk reads
    cnt, st = count("range", "zz-a", "zz-b")
    assert cnt == 0 and st["scanned_chunks"] == 0


def test_pruned_float_range_count(spark, tmp_path):
    """Float range over the store: manifest [min_f64, max_f64] pruning
    on a value-sorted layout; nulls and NaN payloads match nothing and
    never poison the chunk stats."""
    import pandas as pd

    out = str(tmp_path / "enc_f64")
    pdf = pd.DataFrame({"k": range(8000)})
    pdf["v"] = pdf["k"].astype(float) / 10.0     # 0.0 .. 799.9
    pdf.loc[pdf.index % 100 == 7, "v"] = None    # nulls ride NULM
    pdf.loc[pdf.index % 100 == 13, "v"] = float("nan")
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(8, "v", "k").sortWithinPartitions("v", "k"))
    encode_job.encode_table(spark, df, out, url_col=None)

    # [100.0, 150.0] covers k in 1000..1500 minus the null/NaN slots
    expect = sum(1 for k in range(1000, 1501)
                 if k % 100 != 7 and k % 100 != 13)
    in_range = [Leaf("v", "double", "range", 100.0, 150.0)]
    cnt, st = encoded_table.pruned_count(spark, out, in_range)
    assert cnt == expect
    assert st["pruned_chunks"] > 0

    # range beyond every chunk's stats: zero reads
    cnt, st = encoded_table.pruned_count(
        spark, out, [Leaf("v", "double", "range", 5000.0, 6000.0)])
    assert cnt == 0 and st["scanned_chunks"] == 0

    # row-returning select on a FLOAT filter column must route through
    # the min_f64/max_f64 stats (the int stats are NULL for float
    # chunks and would silently prune everything)
    got = encoded_table.pruned_select(
        spark, out, in_range, ["k"])[0].toPandas()
    assert sorted(got["k"]) == [k for k in range(1000, 1501)
                                if k % 100 != 7 and k % 100 != 13]


def test_pruned_string_fallback_fsst_chunks(spark, tmp_path):
    """Non-dict string chunks (fsst) still answer string predicates
    correctly through the decode fallback, and the manifest stats are
    codec-independent so pruning still applies."""
    out = str(tmp_path / "enc_str_fsst")
    df = spark.range(0, 4000, 1, 4).select(
        F.col("id").alias("k"),
        F.concat(F.lit("prefix the quick brown fox jumps "),
                 F.lpad((F.col("id") / 1000).cast("int").cast("string"),
                        2, "0")).alias("s"))
    df = df.repartitionByRange(4, "s", "k").sortWithinPartitions("s", "k")
    encode_job.encode_table(spark, df, out, url_col=None,
                            codec_overrides={"s": "fsst"})
    cnt, st = encoded_table.pruned_count(spark, out, [Leaf(
        "s", "string", "in", values=("prefix the quick brown fox jumps 02",))])
    assert cnt == 1000
    assert st["compressed_chunks"] == 0 and st["decoded_chunks"] > 0
    assert st["pruned_chunks"] > 0

    # string range through the same str-decoding fallback
    cnt, st = encoded_table.pruned_count(spark, out, [Leaf(
        "s", "string", "range", "prefix the quick brown fox jumps 01",
        "prefix the quick brown fox jumps 02")])
    assert cnt == 2000 and st["decoded_chunks"] > 0


def test_pruned_string_predicates_bytes_chunks(spark, tmp_path):
    """A string column forced to a binary codec (deflate) decodes to
    BYTES values; every string predicate's fallback must align its str
    bounds to UTF-8 bytes instead of raising (or silently counting 0)
    on the mixed comparison."""
    out = str(tmp_path / "enc_str_bytes")
    df = spark.range(0, 3000, 1, 4).select(
        F.col("id").alias("k"),
        F.concat(F.lit("val-"),
                 F.lpad((F.col("id") / 1000).cast("int").cast("string"),
                        2, "0")).alias("s"))
    df = df.repartitionByRange(4, "s", "k").sortWithinPartitions("s", "k")
    encode_job.encode_table(spark, df, out, url_col=None,
                            codec_overrides={"s": "deflate"})

    def count(op, *args, **kw):
        return encoded_table.pruned_count(
            spark, out, [Leaf("s", "string", op, *args, **kw)])

    cnt, st = count("in", values=("val-01",))
    assert cnt == 1000 and st["decoded_chunks"] > 0

    cnt, _ = count("prefix", values=("val-0",))
    assert cnt == 3000

    cnt, _ = count("range", "val-00", "val-01")
    assert cnt == 2000


def test_pruned_filter_select_rows(spark, tmp_path):
    """Row-returning filtered read: predicate on compressed dict codes,
    projection decoded only in surviving chunks, values exact."""
    out = str(tmp_path / "enc_sel")
    df = spark.range(0, 8000, 1, 4).select(
        F.col("id").alias("k"),
        F.concat(F.lit("h"), F.lpad((F.col("id") / 400).cast("int")
                                    .cast("string"), 2, "0")).alias("host"),
        (F.col("id") * 3).alias("v"))
    df = df.repartitionByRange(4, "host", "k").sortWithinPartitions("host", "k")
    encode_job.encode_table(spark, df, out, url_col=None,
                            codec_overrides={"host": "dict"})
    def select(leaf, project):
        return encoded_table.pruned_select(spark, out, [leaf], project)[0]

    got = select(Leaf("host", "string", "in", values=("h07",)),
                 ["k", "v"]).toPandas()
    got = got.sort_values("k").reset_index(drop=True)
    assert len(got) == 400
    assert got["k"].tolist() == list(range(2800, 3200))
    assert got["v"].tolist() == [3 * k for k in range(2800, 3200)]
    # absent value: empty result, schema intact
    empty = select(Leaf("host", "string", "in", values=("zzz",)),
                   ["k", "v"])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "v"]

    # numeric-range sibling over the same store
    got = select(Leaf("k", "int64", "range", 3000, 3099),
                 ["k", "host", "v"]).toPandas()
    got = got.sort_values("k").reset_index(drop=True)
    assert got["k"].tolist() == list(range(3000, 3100))
    assert set(got["host"]) == {"h07"}
    assert got["v"].tolist() == [3 * k for k in range(3000, 3100)]
    empty = select(Leaf("k", "int64", "range", 10**7, 2 * 10**7),
                   ["k", "v"])
    assert empty.count() == 0

    # a string range prunes on the string stats, never the int pair
    # (whose NULLs would prune every chunk to an empty answer)
    got = select(Leaf("host", "string", "range", "h05", "h06"),
                 ["k"]).toPandas()
    assert sorted(got["k"]) == list(range(2000, 2800))


def test_nullable_int_column_stays_integer(spark, tmp_path):
    """A nullable int64 column must encode as an INT codec with zone
    maps, round-trip 2^62-scale values exactly (a float64 detour would
    be lossy above 2^53 and unprunable), and its nulls must never
    satisfy a range or equality predicate even though the compressed
    payload carries them as zeros."""
    import numpy as np
    import pandas as pd

    big = 2**62 + 12345
    pdf = pd.DataFrame({
        "a": pd.array([0, 1, 2, None, None, 5, 600, big] * 50,
                      dtype="Int64"),
        "b": np.arange(400, dtype=np.int64)})
    out = str(tmp_path / "nullable_int")
    encode_job.encode_table(
        spark, spark.createDataFrame(pdf).repartition(2), out,
        url_col=None, resume=False)

    man = (spark.read.parquet(os.path.join(out, "manifest"))
           .where(F.col("column") == "a").collect())
    assert all(r["codec"] in ("vec_u64", "vec_u32", "rle") for r in man)
    assert all(r["min_val"] == 0 and r["max_val"] == big for r in man)

    # exact JVM-side round trip of the 2^62-scale value
    dec = encoded_table.read_decoded(spark, out)
    assert dec.where(F.col("a") == big).count() == 50
    assert dec.where(F.col("a").isNull()).count() == 100

    # range admitting 0: nulls (payload zeros) must not count
    def count(*leaves):
        return encoded_table.pruned_count(spark, out, list(leaves))[0]

    hits = count(Leaf("a", "int64", "range", 0, 10))
    assert hits == int(pdf["a"].between(0, 10).sum())
    hits = count(Leaf("a", "int64", "range", 1, 10))
    assert hits == int(pdf["a"].between(1, 10).sum())

    # equality against 0 on the nullable column inside multi-AND
    h = count(Leaf("b", "int64", "range", 0, 10**6),
              Leaf("a", "int64", "in", values=(0,)))
    assert h == int((pdf["a"] == 0).sum())
    h = count(Leaf("a", "int64", "range", 0, 10),
              Leaf("b", "int64", "in", values=(8,)))
    assert h == 1


def test_pruned_counts_on_rle_coded_store(spark, tmp_path):
    """A clustered/sorted store legitimately RLE-codes its sort column;
    the pruned readers must answer from the runs (or decode), never
    silently drop non-vec chunks from the scan."""
    import pandas as pd
    out = str(tmp_path / "enc_rle")
    pdf = pd.DataFrame({"k": [i // 100 for i in range(10000)],
                        "v": list(range(10000))})
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(4, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None,
                            codec_overrides={"k": "rle"})
    codecs = {r["codec"] for r in spark.read.parquet(
        os.path.join(out, "manifest"))
        .where(F.col("column") == "k").collect()}
    assert codecs == {"rle"}

    # run-level range count over the rle column (was silently 0)
    k_range = Leaf("k", "int64", "range", 17, 23)
    cnt, st = encoded_table.pruned_count(spark, out, [k_range])
    assert cnt == 700, st
    assert st["pruned_chunks"] > 0, st

    # AND across (rle range col, vec equality col)
    cnt, st = encoded_table.pruned_count(
        spark, out, [k_range, Leaf("v", "int64", "in", values=(1750,))])
    assert cnt == 1, st

    # rle under NULM with a 0-admitting range: nulls must not count
    out2 = str(tmp_path / "enc_rle_null")
    pdf2 = pd.DataFrame({"k": [i // 50 for i in range(2000)]})
    pdf2["n"] = pdf2["k"].astype("Int64")
    pdf2.loc[pdf2.index % 10 == 0, "n"] = None
    df2 = spark.createDataFrame(pdf2).coalesce(1)
    encode_job.encode_table(spark, df2, out2, url_col=None,
                            codec_overrides={"n": "rle"})
    cnt, _ = encoded_table.pruned_count(
        spark, out2, [Leaf("n", "int64", "range", 0, 3)])
    expect = sum(1 for i in range(2000)
                 if i % 10 != 0 and 0 <= i // 50 <= 3)
    assert cnt == expect


def test_pruned_equals_count_compressed_kernels(spark, tmp_path):
    """Equality counts answer from the compressed bytes: vec chunks via
    EqualsSink section masks, rle chunks at run granularity; decode only
    where the compressed domain can't answer (0-probe on a nullable
    chunk)."""
    import pandas as pd
    out = str(tmp_path / "enc_eqk")
    pdf = pd.DataFrame({"k": [i // 100 for i in range(8000)],
                        "v": list(range(8000))})
    pdf["n"] = pdf["v"].astype("Int64")
    pdf.loc[pdf.index % 10 == 0, "n"] = 0
    pdf.loc[pdf.index % 20 == 5, "n"] = None
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(4, "v").sortWithinPartitions("v"))
    encode_job.encode_table(spark, df, out, url_col=None,
                            codec_overrides={"k": "rle"})

    def count(col, value):
        return encoded_table.pruned_count(
            spark, out, [Leaf(col, "int64", "in", values=(value,))])

    # vec column: compressed kernel, no decode
    cnt, st = count("v", 4321)
    assert cnt == 1, st
    assert st["compressed_chunks"] >= 1, st
    assert st["decoded_chunks"] == 0, st

    # rle column: run-level equality
    cnt, st = count("k", 17)
    assert cnt == 100, st
    assert st["decoded_chunks"] == 0, st

    # 0-probe against the nullable column: nulls ride as payload zeros,
    # and the chunk's NULM validity bits mask them out without a
    # decode — NULLs never count as hits
    cnt, st = count("n", 0)
    expect = sum(1 for i in range(8000)
                 if i % 20 != 5 and (i % 10 == 0 or i == 0))
    assert cnt == expect, (cnt, expect, st)
    assert st["decoded_chunks"] == 0, st

    # non-zero probe on the same nullable column stays compressed
    cnt, st = count("n", 4321)
    assert cnt == 1, st
    assert st["decoded_chunks"] == 0, st
