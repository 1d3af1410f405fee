"""Reference-parity queries: the reference's filters, sinks, codecs
and section writer run INSIDE Spark over each batch of an input table
(encode the column vectorized in mapInPandas, then filter / count /
transform the compressed bytes) and aggregate with DataFrame ops, so
the DuckDB oracle comparison exercises the whole engine path.
Per-batch partials keep everything distributed — no driver-side loops
over rows."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ... import vector as vec
from ...codecs import dictionary, rle
from ...operators import filters
from ._common import _read, _read_spread, _row, _table_minmax


# --- compressed-domain filter family -----------------------------------------

def _hits(df: DataFrame, count) -> DataFrame:
    """`count(pdf)` of each Arrow batch of df, summed as `hits`."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"hits": [count(pdf)]})

    return (df.mapInPandas(fn, "hits long")
              .agg(F.sum("hits").cast("long").alias("hits")))


def count_hits_equals(spark, sf_dir) -> DataFrame:
    """EqualsSink + count_hits over an encoded u32 vector."""
    def count(pdf):
        buf = vec.encode_vector(pdf["l_linenumber"].to_numpy(np.uint64), "u32")
        return filters.count_hits(filters.equals_mask(buf, "u32", 3))

    return _hits(_read(spark, sf_dir, "lineitem").select("l_linenumber"),
                 count)


def count_hits_one_of(spark, sf_dir) -> DataFrame:
    """OneOfSink (IN-list) over an encoded u64 vector."""
    def count(pdf):
        buf = vec.encode_vector(pdf["q"].to_numpy(np.uint64), "u64")
        return filters.count_hits(filters.one_of_mask(buf, "u64", [1, 5, 9]))

    return _hits(_read(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q")), count)


def multi_vector_and_count(spark, sf_dir) -> DataFrame:
    """MultiVectorFilter: AND of two column predicates with section
    short-circuit, sparse-first."""
    def count(pdf):
        b1 = vec.encode_vector(pdf["q"].to_numpy(np.uint64), "u64")
        b2 = vec.encode_vector(pdf["l_linenumber"].to_numpy(np.uint64), "u32")
        return filters.count_hits(
            filters.multi_vector_and([(b1, "u64", [5]), (b2, "u32", [3])]))

    return _hits(_read(spark, sf_dir, "lineitem").select(
        "l_linenumber", F.col("l_quantity").cast("long").alias("q")), count)


def range_filter_count(spark, sf_dir) -> DataFrame:
    """Range predicate over compressed vectors with Delta-header
    section skipping (operators.filters.range_mask) + a string range
    pushed to order-preserving dictionary codes."""
    def count(pdf):
        buf = vec.encode_vector(pdf["l_partkey"].to_numpy(np.uint64), "u64")
        m1 = filters.range_mask(buf, "u64", 100, 500)
        blob = dictionary.encode(pdf["l_returnflag"])
        lo_c, hi_c = dictionary.code_range(blob, "A", "N")
        m2 = (filters.range_mask(dictionary.codes_vector(blob), "u32", lo_c, hi_c)
              if lo_c <= hi_c else np.zeros_like(m1))
        return filters.count_hits(m1 & m2)

    return _hits(_read(spark, sf_dir, "lineitem")
                 .select("l_partkey", "l_returnflag"), count)


def prefix_filter_count(spark, sf_dir) -> DataFrame:
    """LIKE 'prefix%' pushed to the order-preserving dictionary: the
    predicate becomes a code-range scan on the compressed u32 codes."""
    def count(pdf):
        blob = dictionary.encode(pdf["source"])
        lo, hi = dictionary.prefix_range(blob, "src1")
        return (filters.count_hits(filters.range_mask(
            dictionary.codes_vector(blob), "u32", lo, hi))
            if lo <= hi else 0)

    return _hits(_read(spark, sf_dir, "documents").select("source"), count)


def _bucket_offsets(d: DataFrame, total) -> tuple[dict, int]:
    """First pass of the two-pass scan: the exclusive prefix sum of
    the `total` aggregate over d's `__bucket` ids in bucket order, and
    the grand total."""
    per = {r["__bucket"]: r["t"] or 0 for r in
           d.groupBy("__bucket").agg(total.alias("t")).collect()}
    offsets, acc = {}, 0
    for b in sorted(per):
        offsets[b] = acc
        acc += per[b]
    return offsets, acc


def match_positions_query(spark, sf_dir) -> DataFrame:
    """match_positions: global row ordinals (ordered by o_orderkey) whose
    o_orderstatus dict-code equals 'F' — filtering runs on compressed
    dictionary codes; ordinals come from the distributed two-pass
    prefix-sum scan (no single-partition bottleneck).

    The dict-encode + equals-mask kernel is FUSED into the same
    applyInPandas task that assigns the bucket's ordinals (one Python
    crossing instead of two, and only the hit positions — not every
    row — leave the task), so the two-pass scan's second pass is also
    the filter pass."""
    from ...operators.scan import _bucket_col
    df = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    bucket, _ = _bucket_col(df, "o_orderkey", 64,
                            bounds=_table_minmax(sf_dir, "orders",
                                                 "o_orderkey"))
    d = df.withColumn("__bucket", bucket)
    offsets, _ = _bucket_offsets(d, F.count("*"))

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["o_orderkey"], kind="mergesort")
        blob = dictionary.encode(pdf["o_orderstatus"])
        code = dictionary.code_of(blob, "F")
        masks = filters.equals_mask(dictionary.codes_vector(blob), "u32", code)
        hits = filters.match_positions(masks)
        return pd.DataFrame(
            {"pos": hits.astype(np.int64) + offsets[key[0]]})

    return d.groupBy("__bucket").applyInPandas(fn, "pos long")

# --- sink / transform family --------------------------------------------------

def add_const_sum(spark, sf_dir) -> DataFrame:
    """AddConstSink fused on decode, then a distributed sum."""
    df = _read(spark, sf_dir, "lineitem").select("l_partkey")

    def fn(batches):
        for pdf in batches:
            buf = vec.encode_vector(pdf["l_partkey"].to_numpy(np.uint64), "u64")
            vals = vec.decode_vector(buf, "u64") + np.uint64(1000)
            yield pd.DataFrame({"s": [int(vals.sum())], "n": [len(vals)]})

    return (df.mapInPandas(fn, "s long, n long")
              .agg(F.sum("s").cast("long").alias("sum_plus_const"),
                   F.sum("n").cast("long").alias("n_rows")))


def delta_cumsum_query(spark, sf_dir) -> DataFrame:
    """DeltaSink: encode per-group values, decode through cumulative-sum
    restore; global running totals via the distributed two-pass scan
    (per-bucket sums -> prefix offsets -> in-bucket codec cumsum)."""
    from ...operators.scan import _bucket_col
    df = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").cast("long").alias("q"))
    bucket, _ = _bucket_col(df, "l_orderkey", 64,
                            bounds=_table_minmax(sf_dir, "lineitem",
                                                 "l_orderkey"))
    # (l_orderkey, l_linenumber) is NOT a total order (~24% duplicate
    # pairs in the generated table): without a tiebreak, tied rows
    # take the running sum in shuffle-arrival order, which stops being
    # file order once the scan has >1 partition — the scan-order
    # ordinal pins tie order to FILE order at every scale, matching
    # the oracle window's observed tie behavior
    d = (df.withColumn("__mid", F.monotonically_increasing_id())
         .withColumn("__bucket", bucket))
    offsets, _ = _bucket_offsets(d, F.sum("q"))

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["l_orderkey", "l_linenumber", "__mid"],
                              kind="mergesort")
        buf = vec.encode_vector(pdf["q"].to_numpy(np.uint64), "u64")
        run = np.cumsum(vec.decode_vector(buf, "u64")) + np.uint64(offsets[key[0]])
        return pd.DataFrame({
            "l_orderkey": pdf["l_orderkey"].to_numpy(),
            "l_linenumber": pdf["l_linenumber"].to_numpy(),
            "running_qty": run.astype(np.int64),
        })

    return d.groupBy("__bucket").applyInPandas(
        fn, "l_orderkey long, l_linenumber int, running_qty long")


def minmax_stats(spark, sf_dir) -> DataFrame:
    """SectionWriterStats min/max pass over the encoded vector."""
    df = _read(spark, sf_dir, "lineitem").select("l_suppkey")

    def fn(batches):
        for pdf in batches:
            buf = vec.encode_vector(pdf["l_suppkey"].to_numpy(np.uint64), "u64")
            vals = vec.decode_vector(buf, "u64")
            yield pd.DataFrame({"mn": [int(vals.min())], "mx": [int(vals.max())]})

    return (df.mapInPandas(fn, "mn long, mx long")
              .agg(F.min("mn").cast("long").alias("min_suppkey"),
                   F.max("mx").cast("long").alias("max_suppkey")))


def codec_histogram(spark, sf_dir) -> DataFrame:
    """AutoEncoder section-type histogram of l_partkey in
    (l_orderkey, l_linenumber) order — the oracle SQL re-derives the
    same decision from per-256-block min/max, so this checks the codec
    chooser end to end.

    Distributed with GLOBALLY ALIGNED 256-blocks, FUSED into the
    prefix-sum scan's second pass (one wide shuffle + one Python
    crossing, not two of each): each order-key bucket knows its global
    row offset, encodes the 256-aligned interior of its own rows
    directly, and emits only the <=255-row head/tail fragments of the
    blocks that straddle bucket boundaries; a tiny second stage
    reassembles those straddling blocks by global block id.  The
    globally-last (partial) block is absorbed by the last bucket, whose
    encode zero-pads it — exactly the oracle's padding rule.  No
    single-partition stage anywhere."""
    from ...operators.scan import _bucket_col
    df = _read(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_linenumber")
    bucket, _ = _bucket_col(df, "l_orderkey", 64,
                            bounds=_table_minmax(sf_dir, "lineitem",
                                                 "l_orderkey"))
    # scan-order ordinal as the tiebreak for duplicate
    # (l_orderkey, l_linenumber) pairs — same reasoning as
    # delta_cumsum: block membership must not depend on shuffle
    # arrival order
    d = (df.withColumn("__mid", F.monotonically_increasing_id())
         .withColumn("__bucket", bucket))
    offsets, total_rows = _bucket_offsets(d, F.count("*"))

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["l_orderkey", "l_linenumber", "__mid"],
                              kind="mergesort")
        vals = pdf["l_partkey"].to_numpy(np.uint64)
        off = offsets[key[0]]
        end = off + len(vals)
        astart = min(-(-off // 256) * 256, end)   # first aligned boundary
        aend = end if end == total_rows else max((end // 256) * 256, astart)
        parts = []
        if aend > astart:
            buf = vec.encode_vector(vals[astart - off:aend - off], "u64")
            hist = vec.vector_stats(buf, "u64")["sect_types_histogram"]
            parts.append(pd.DataFrame(
                {"codec": list(hist.keys()),
                 "sections": np.asarray(list(hist.values()), np.int64),
                 "pos": np.int64(-1), "v": np.int64(0)}))
        for lo, hi in ((off, astart), (aend, end)):
            if hi > lo:
                parts.append(pd.DataFrame(
                    {"codec": None, "sections": np.int64(0),
                     "pos": np.arange(lo, hi, dtype=np.int64),
                     "v": vals[lo - off:hi - off].astype(np.int64)}))
        if not parts:
            return pd.DataFrame({"codec": pd.Series([], dtype=object),
                                 "sections": pd.Series([], dtype=np.int64),
                                 "pos": pd.Series([], dtype=np.int64),
                                 "v": pd.Series([], dtype=np.int64)})
        return pd.concat(parts, ignore_index=True)

    # the (small) partial output feeds two branches; localCheckpoint
    # materializes the wide pass ONCE so neither branch re-runs it
    out = d.groupBy("__bucket").applyInPandas(
        fn, "codec string, sections long, pos long, v long") \
        .localCheckpoint(eager=True)
    hists = (out.where(F.col("codec").isNotNull())
             .select("codec", "sections"))
    frags = out.where(F.col("codec").isNull()).select("pos", "v")

    def frag_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos", kind="mergesort")
        buf = vec.encode_vector(pdf["v"].to_numpy(np.uint64), "u64")
        hist = vec.vector_stats(buf, "u64")["sect_types_histogram"]
        return pd.DataFrame({"codec": list(hist.keys()),
                             "sections": np.asarray(list(hist.values()),
                                                    np.int64)})

    frag_hists = (frags.withColumn("__blk", F.expr("pos div 256"))
                  .groupBy("__blk")
                  .applyInPandas(frag_fn, "codec string, sections long"))
    return (hists.unionByName(frag_hists)
            .groupBy("codec")
            .agg(F.sum("sections").cast("long").alias("sections")))


# --- north-rule codec family --------------------------------------------------

def dict_filter_count(spark, sf_dir) -> DataFrame:
    """Dictionary codec: equality filter on compressed codes ('en')."""
    def count(pdf):
        blob = dictionary.encode(pdf["lang"])
        code = dictionary.code_of(blob, "en")
        return filters.count_hits(filters.equals_mask(
            dictionary.codes_vector(blob), "u32", code)) if code else 0

    return _hits(_read(spark, sf_dir, "documents").select("lang"), count)


def rle_run_count(spark, sf_dir) -> DataFrame:
    """RLE codec: number of runs in o_custkey ordered by o_orderkey,
    computed distributed: per range-bucket RLE + a driver-side merge of
    bucket-boundary runs (first/last value per bucket — B rows)."""
    from ...operators.scan import _bucket_col
    df = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bucket, _ = _bucket_col(df, "o_orderkey", 32,
                            bounds=_table_minmax(sf_dir, "orders",
                                                 "o_orderkey"))
    d = df.withColumn("__bucket", bucket)

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("o_orderkey", kind="mergesort")
        arr = pdf["o_custkey"].to_numpy(np.uint64)
        blob = rle.encode(arr)
        return pd.DataFrame({
            "bucket": [key[0]], "runs": [rle.num_runs(blob)],
            "first_val": [int(arr[0]) if len(arr) else -1],
            "last_val": [int(arr[-1]) if len(arr) else -1],
        })

    parts = d.groupBy("__bucket").applyInPandas(
        fn, "bucket int, runs long, first_val long, last_val long").collect()
    parts.sort(key=lambda r: r["bucket"])
    runs = 0
    prev_last = None
    for r in parts:
        adj = r["runs"]
        if prev_last is not None and r["first_val"] == prev_last and r["runs"] > 0:
            adj -= 1  # run continues across the bucket boundary
        runs += adj
        if r["runs"] > 0:
            prev_last = r["last_val"]
    return _row(spark, n_runs=runs)


def fsst_text_roundtrip(spark, sf_dir) -> DataFrame:
    """FSST codec: encode+decode documents.text, prove losslessness by
    aggregating over the DECODED strings."""
    from ...codecs import fsst
    import pyarrow as pa
    df = _read_spread(spark, sf_dir, "documents").select("text")

    def fn(batches):
        import pyarrow.compute as pc
        for pdf in batches:
            blob = fsst.encode(pa.array(pdf["text"].fillna(""), type=pa.large_utf8()))
            decoded = fsst.decode(blob)
            total = pc.sum(pc.binary_length(decoded)).as_py() or 0
            yield pd.DataFrame({"chars": [int(total)], "docs": [len(decoded)]})

    return (df.mapInPandas(fn, "chars long, docs long")
              .agg(F.sum("chars").cast("long").alias("total_chars"),
                   F.sum("docs").cast("long").alias("n_docs")))


def xor_f64_sum(spark, sf_dir) -> DataFrame:
    """f64 XOR-chain codec (reference pack_f64_xor,
    src/nibblepacking.rs:29-45): encode, decode, aggregate — the decode
    is bit-exact so the double sum matches the oracle exactly."""
    from ... import nibblepack as npk
    df = _read(spark, sf_dir, "lineitem").select("l_extendedprice")

    def fn(batches):
        for pdf in batches:
            arr = pdf["l_extendedprice"].to_numpy(np.float64)
            if not len(arr):
                continue
            blob = npk.pack_f64_xor(arr)
            out = npk.unpack_f64_xor(blob, len(arr))
            # XOR decode is bit-exact; integer cents make the
            # aggregation float-order-independent for the oracle
            cents = np.rint(out * 100).astype(np.int64)
            yield pd.DataFrame({"s": [int(cents.sum())], "n": [len(out)],
                                "exact": [bool((out == arr).all())]})

    return (df.mapInPandas(fn, "s long, n long, exact boolean")
              .agg(F.sum("s").cast("long").alias("total_price_cents"),
                   F.sum("n").cast("long").alias("n_rows"),
                   F.min("exact").alias("bit_exact")))


def histogram_2d_delta(spark, sf_dir) -> DataFrame:
    """2D-delta histogram pipeline (reference src/histogram.rs
    DeltaDiffPackSink): per-order cumulative l_linenumber histograms ->
    2D-delta encode -> decode -> per-bucket totals.

    No pre-shuffle: bucket totals are ADDITIVE across any partitioning
    of the rows, so each scan task 2D-delta-encodes its own cumulative
    counter series straight off the parquet split (an order whose rows
    straddle two tasks contributes two partial counter series — the
    codec round-trip is exercised identically and the totals are
    unchanged).  The former range-bucket exchange shuffled the full
    6M-row projection only to re-group rows the sum never needed
    grouped (guide §2.4: remove shuffles outright)."""
    from ...codecs import histogram2d as h2d
    df = _read_spread(spark, sf_dir, "lineitem", keys=["l_orderkey"],
                      min_units=32).select("l_orderkey", "l_linenumber")

    def fn(batches):
        for pdf in batches:
            orders, inv = np.unique(pdf["l_orderkey"].to_numpy(),
                                    return_inverse=True)
            lns = pdf["l_linenumber"].to_numpy(np.int64)
            B = 8
            hists = np.zeros((max(len(orders), 1), B), dtype=np.uint64)
            if len(pdf):
                np.add.at(hists, (inv, np.minimum(lns - 1, B - 1)), 1)
            # cumulative counters across orders (increasing counters feed
            # the 2D-delta path like Prometheus-style histograms)
            cum = np.cumsum(hists, axis=0, dtype=np.uint64)
            blob = h2d.encode(cum)
            dec = h2d.decode(blob)
            assert (dec == cum).all()
            per_bucket = dec[-1] if len(dec) else np.zeros(B, np.uint64)
            yield pd.DataFrame({"bucket": np.arange(1, B + 1),
                                "total": per_bucket.astype(np.int64)})

    return (df.mapInPandas(fn, "bucket int, total long")
             .groupBy("bucket").agg(F.sum("total").cast("long").alias("total"))
             .where(F.col("total") > 0))


def flagship_encode_summary(spark, sf_dir) -> DataFrame:
    """Flagship: encode the documents table with auto-selected codecs
    (dict for lang/source, FSST for text, sectioned vectors for ints),
    decode, verify bit-identity in-flight, and report per-column codec +
    compression metrics."""
    from ...codecs import chunk as chunk_codec
    df = _read(spark, sf_dir, "documents")
    cols = df.columns

    def fn(batches):
        for pdf in batches:
            rows = []
            for c in cols:
                codec, blob, _ = chunk_codec.encode_column(pdf[c])
                out = chunk_codec.decode_column(
                    blob, "int64" if pdf[c].dtype.kind == "i" else None)
                if pdf[c].dtype.kind in "iuf":
                    identical = bool((np.asarray(out) == pdf[c].to_numpy()).all())
                    raw = len(pdf) * 8
                else:
                    identical = list(out) == pdf[c].fillna("").tolist()
                    raw = int(pdf[c].fillna("").map(
                        lambda v: len(v if isinstance(v, bytes) else str(v).encode())).sum())
                rows.append({"column": c, "codec": codec, "raw_bytes": raw,
                             "encoded_bytes": len(blob),
                             "bit_identical": identical})
            yield pd.DataFrame(rows)

    agg = (df.mapInPandas(
               fn, "column string, codec string, raw_bytes long, "
                   "encoded_bytes long, bit_identical boolean")
             .groupBy("column", "codec")
             .agg(F.sum("raw_bytes").alias("raw_bytes"),
                  F.sum("encoded_bytes").alias("encoded_bytes"),
                  F.min("bit_identical").alias("bit_identical")))
    return agg.withColumn(
        "ratio", F.round(F.col("raw_bytes") / F.col("encoded_bytes"), 3))



def var_section_histogram(spark, sf_dir) -> DataFrame:
    """Variable-length SectionWriter pipeline (reference src/section.rs:83-180
    `SectionWriter::add_64kb` + :71-80 `SectionHeader`): per-order
    l_linenumber histograms are NibblePacked a batch at a time through
    SectionHeader-based sections (rollover at 256 elements / 64 KB), then
    decoded back through the section iterator -> per-bucket totals.

    Scale shape: every scan task encodes its own independent section
    stream in parallel straight off its parquet split — totals are
    ADDITIVE across any partitioning, so the former range-bucket
    exchange (a full shuffle of the 6M-row projection) is removed
    outright (guide §2.4) and the final aggregate is a tiny 8-row
    shuffle."""
    from ...codecs.section_writer import (
        HEADER_LEN, SectionWriter, NotEnoughSpace, iter_sections)
    from ...sections import SECT_NP_MED
    from ... import nibblepack as npk

    B = 8
    df = _read_spread(spark, sf_dir, "lineitem", keys=["l_orderkey"],
                      min_units=32).select("l_orderkey", "l_linenumber")

    def _decode_stream(stream: bytes) -> np.ndarray:
        """All rows back out of a var-section stream, (N, 8) uint64.
        Wavefront across sections: O(max groups/section) python steps."""
        sects = [(typ, n, len(p)) for typ, n, p in iter_sections(stream)]
        if not sects:
            return np.zeros((0, B), np.uint64)
        body = np.frombuffer(stream, dtype=np.uint8)
        starts, counts, pos = [], [], 0
        for typ, n, plen in sects:
            assert typ == SECT_NP_MED
            starts.append(pos + HEADER_LEN)
            counts.append(n)
            pos += HEADER_LEN + plen
        starts = np.asarray(starts, np.int64)
        counts = np.asarray(counts, np.int64)
        offs = np.full((len(sects), int(counts.max())), -1, np.int64)
        cur = starts.copy()
        for g in range(offs.shape[1]):
            active = counts > g
            offs[active, g] = cur[active]
            cur[active] += npk.group_sizes(body, cur[active])
        flat = offs.ravel()
        vals, _ = npk.unpack_groups(body, flat[flat >= 0])
        return vals

    def fn(batches):
        for pdf in batches:
            orders, inv = np.unique(pdf["l_orderkey"].to_numpy(),
                                    return_inverse=True)
            lns = pdf["l_linenumber"].to_numpy(np.int64)
            hists = np.zeros((len(orders), B), dtype=np.uint64)
            if len(pdf):
                np.add.at(hists, (inv, np.minimum(lns - 1, B - 1)), 1)
            R = len(hists)
            buf = bytearray(R * 70 + (R // 256 + 2) * HEADER_LEN + 64)
            writer = SectionWriter(buf, max_elements_per_sect=256)
            pos = 0
            while pos < R:
                def filler(writable, elements_left, _pos=pos):
                    take = min(elements_left, R - _pos)
                    payload, _ = npk.pack_groups(hists[_pos:_pos + take])
                    if len(payload) > len(writable):
                        raise NotEnoughSpace
                    writable[:len(payload)] = payload.tobytes()
                    return len(payload), take
                _, ne = writer.add(SECT_NP_MED, filler)
                pos += ne
            dec = _decode_stream(writer.finish())
            assert dec.shape == hists.shape and (dec == hists).all()
            per_bucket = dec.sum(axis=0) if len(dec) else np.zeros(B, np.uint64)
            yield pd.DataFrame({"bucket": np.arange(1, B + 1),
                                "total": per_bucket.astype(np.int64)})

    return (df.mapInPandas(fn, "bucket int, total long")
             .groupBy("bucket").agg(F.sum("total").cast("long").alias("total"))
             .where(F.col("total") > 0))
