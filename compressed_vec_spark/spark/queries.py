"""Engine-backed query implementations for the driver contract.

Each query runs the compressed-vec engine INSIDE Spark (encode the
column vectorized in mapInPandas, then operate on the compressed bytes:
filter/count/positions/transform) and aggregates with DataFrame ops, so
the DuckDB oracle comparison exercises the whole engine path, not just
Spark built-ins.  Per-batch partials keep everything distributed — no
driver-side loops over rows.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import vector as vec
from ..codecs import dictionary, rle
from ..operators import filters


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _table_minmax(sf_dir: str, table: str, col: str):
    """(min, max) of an input table's integer column from parquet
    footer statistics — saves the two-pass scans' bounds-probe job (no
    data read); None (missing stats / remote path) falls back to the
    aggregate inside _bucket_col."""
    from ..operators.scan import parquet_col_minmax
    return parquet_col_minmax(
        os.path.join(sf_dir, f"{table}.parquet"), col)


_SCAN_UNITS_CACHE: dict[str, int] = {}


def _scan_units(path: str, cap: int = 256) -> int:
    """Number of independently readable units (files x row groups) of a
    parquet table — the TRUE upper bound on scan parallelism (byte-range
    splits of a single-row-group file all collapse onto one reader).
    Bounded metadata walk, memoized per path (input LAYOUT, not data)."""
    if path in _SCAN_UNITS_CACHE:
        return _SCAN_UNITS_CACHE[path]
    import glob as _glob
    import pyarrow.parquet as _pq
    files = (_glob.glob(os.path.join(path, "*.parquet"))
             if os.path.isdir(path) else [path])
    total = 0
    for f in files:
        if total >= cap:
            break
        try:
            total += _pq.ParquetFile(f).metadata.num_row_groups
        except Exception:
            total += 1
    _SCAN_UNITS_CACHE[path] = total
    return total


def _read_spread(spark: SparkSession, sf_dir: str, table: str,
                 keys: list[str] | None = None,
                 min_units: int | None = None) -> DataFrame:
    """Read for PER-ROW (order-free) kernels, with the guide §2.5
    unsplittable-input remedy: when the table's real scan parallelism
    (files x row groups) is below the gate — the single-file,
    single-row-group shape of the local test tables gives ONE reader
    regardless of byte-range splits — one repartition of the
    (column-pruned) rows spreads the Python kernel over every core.

    Default gate (min_units=3) spreads only near-serial scans: a
    measured 6-unit 6M-row table LOST time to the round-robin spread
    (sort-before-repartition, §2.5) while 1-unit tables gained 2-4x.
    Pass `keys` to use hash partitioning (no pre-sort — cheaper for
    wide tables) and a higher `min_units` gate when the kernel is
    expensive enough to want the full grid.  A production layout with
    enough files/row groups skips the shuffle entirely, so this is
    layout-adaptive, not a local-mode constant.  Never use for
    order- or grouping-sensitive kernels (RLE runs, bucketed scans)."""
    df = _read(spark, sf_dir, table)
    path = os.path.join(sf_dir, f"{table}.parquet")
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    gate = 3 if min_units is None else min_units
    if _scan_units(path) < min(gate, target):
        if keys:
            return df.repartition(target, *[F.col(k) for k in keys])
        return df.repartition(target)
    return df


def _scratch_dir(spark: SparkSession, prefix: str) -> str:
    """Scratch path for queries that materialize an encoded store.
    On a cluster set `spark.cvx.scratchDir` (or $CVX_SCRATCH_DIR) to a
    shared filesystem (HDFS/S3A); local tempdirs only work in local
    mode where driver and executors share a machine."""
    base = (spark.conf.get("spark.cvx.scratchDir", None)
            or os.environ.get("CVX_SCRATCH_DIR"))
    if base:
        import uuid
        return os.path.join(base, f"{prefix}{uuid.uuid4().hex[:12]}")
    import tempfile
    return tempfile.mkdtemp(prefix=prefix)


# --- compressed-domain filter family -----------------------------------------

def count_hits_equals(spark, sf_dir) -> DataFrame:
    """EqualsSink + count_hits over an encoded u32 vector."""
    df = _read(spark, sf_dir, "lineitem").select("l_linenumber")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            buf = vec.encode_vector(pdf["l_linenumber"].to_numpy(np.uint64), "u32")
            n = filters.count_hits(filters.equals_mask(buf, "u32", 3))
            yield pd.DataFrame({"hits": [n]})

    return (df.mapInPandas(fn, "hits long")
              .agg(F.sum("hits").cast("long").alias("hits")))


def count_hits_one_of(spark, sf_dir) -> DataFrame:
    """OneOfSink (IN-list) over an encoded u64 vector."""
    df = _read(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"))

    def fn(batches):
        for pdf in batches:
            buf = vec.encode_vector(pdf["q"].to_numpy(np.uint64), "u64")
            n = filters.count_hits(filters.one_of_mask(buf, "u64", [1, 5, 9]))
            yield pd.DataFrame({"hits": [n]})

    return df.mapInPandas(fn, "hits long").agg(F.sum("hits").cast("long").alias("hits"))


def multi_vector_and_count(spark, sf_dir) -> DataFrame:
    """MultiVectorFilter: AND of two column predicates with section
    short-circuit, sparse-first."""
    df = _read(spark, sf_dir, "lineitem").select(
        "l_linenumber", F.col("l_quantity").cast("long").alias("q"))

    def fn(batches):
        for pdf in batches:
            b1 = vec.encode_vector(pdf["q"].to_numpy(np.uint64), "u64")
            b2 = vec.encode_vector(pdf["l_linenumber"].to_numpy(np.uint64), "u32")
            masks = filters.multi_vector_and([(b1, "u64", [5]), (b2, "u32", [3])])
            yield pd.DataFrame({"hits": [filters.count_hits(masks)]})

    return df.mapInPandas(fn, "hits long").agg(F.sum("hits").cast("long").alias("hits"))


def range_filter_count(spark, sf_dir) -> DataFrame:
    """Range predicate over compressed vectors with Delta-header
    section skipping (operators.filters.range_mask) + a string range
    pushed to order-preserving dictionary codes."""
    df = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")

    def fn(batches):
        for pdf in batches:
            buf = vec.encode_vector(pdf["l_partkey"].to_numpy(np.uint64), "u64")
            m1 = filters.range_mask(buf, "u64", 100, 500)
            blob = dictionary.encode(pdf["l_returnflag"])
            lo_c, hi_c = dictionary.code_range(blob, "A", "N")
            m2 = (filters.range_mask(dictionary.codes_vector(blob), "u32", lo_c, hi_c)
                  if lo_c <= hi_c else np.zeros_like(m1))
            yield pd.DataFrame({"hits": [filters.count_hits(m1 & m2)]})

    return df.mapInPandas(fn, "hits long").agg(F.sum("hits").cast("long").alias("hits"))


def prefix_filter_count(spark, sf_dir) -> DataFrame:
    """LIKE 'prefix%' pushed to the order-preserving dictionary: the
    predicate becomes a code-range scan on the compressed u32 codes."""
    df = _read(spark, sf_dir, "documents").select("source")

    def fn(batches):
        for pdf in batches:
            blob = dictionary.encode(pdf["source"])
            lo, hi = dictionary.prefix_range(blob, "src1")
            n = (filters.count_hits(filters.range_mask(
                dictionary.codes_vector(blob), "u32", lo, hi))
                if lo <= hi else 0)
            yield pd.DataFrame({"hits": [n]})

    return df.mapInPandas(fn, "hits long").agg(F.sum("hits").cast("long").alias("hits"))


def encoded_table_pruned_count(spark, sf_dir) -> DataFrame:
    """Full storage cycle inside one query: encode the orders table to
    an encoded-chunk store (salting off, sorted keys), then answer an
    equality count through manifest min/max chunk pruning — only the
    chunks whose [min,max] admits the value are decoded."""
    from ..sources.encoded_table import Leaf, pruned_count
    out = _orders_store(spark, sf_dir)
    hits, stats = pruned_count(
        spark, out, [Leaf("o_orderkey", "int64", "in", values=(1,))])
    assert stats["pruned_chunks"] >= 0
    return spark.createDataFrame(
        pd.DataFrame({"hits": [hits]})).select(F.col("hits").cast("long"))


_STORE_CACHE: dict[tuple, str] = {}


def _orders_store(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached encoded store of orders sorted by o_orderkey —
    the two pruned-count queries share one build (temp dirs live until
    process exit, like any Spark scratch)."""
    key = (id(spark.sparkContext), sf_dir, "orders")
    if key not in _STORE_CACHE:
        from ..spark import encode_job
        out = _scratch_dir(spark, "cvx_q_")
        df = (_read(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey")
              .repartitionByRange(8, "o_orderkey")
              .sortWithinPartitions("o_orderkey"))
        encode_job.encode_table(spark, df, out, url_col=None, resume=False)
        _STORE_CACHE[key] = out
    return _STORE_CACHE[key]


def encoded_table_range_count(spark, sf_dir) -> DataFrame:
    """Range predicate over the PERSISTED encoded store with both prune
    levels: manifest [min,max] chunk pruning (broadcast join), then
    range_mask's header-only section skipping inside surviving chunks —
    the compressed-domain range filter applied to the storage layer."""
    from ..sources.encoded_table import Leaf, pruned_count
    out = _orders_store(spark, sf_dir)
    hits, stats = pruned_count(
        spark, out, [Leaf("o_orderkey", "int64", "range", 1000, 5000)])
    assert stats["pruned_chunks"] >= 0
    assert stats["sections_skipped"] >= 0
    return spark.createDataFrame(
        pd.DataFrame({"hits": [hits]})).select(F.col("hits").cast("long"))


def encoded_table_cluster_layout(spark, sf_dir) -> DataFrame:
    """Sort-order rewrite (compact_job.cluster_store) making zone maps
    effective on a column the ingest order scattered: the orders store
    is sorted on o_orderkey, so every chunk's o_custkey [min, max]
    spans nearly the whole domain and a custkey range prunes ~nothing;
    clustering on o_custkey (range-exchange + sort + the same encode
    pipeline) gives each chunk a narrow custkey slice and the SAME
    pruned_count machinery skips most chunks — the Iceberg
    rewrite_data_files(sort_order) / Delta OPTIMIZE ZORDER step of a
    100-TB layout lifecycle, verified in-query by comparing prune
    counts across the two layouts of identical rows."""
    from ..sources.encoded_table import Leaf, pruned_count
    from . import compact_job
    src = _orders_store(spark, sf_dir)
    key = (id(spark.sparkContext), sf_dir, "orders_by_custkey")
    if key not in _STORE_CACHE:
        dst = _scratch_dir(spark, "cvx_clu_")
        compact_job.cluster_store(spark, src, dst, "o_custkey", num_parts=8)
        _STORE_CACHE[key] = dst
    dst = _STORE_CACHE[key]
    leaves = [Leaf("o_custkey", "int64", "range", 100, 160)]
    # the two layouts' counts are independent reads: overlap them
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_src = pool.submit(pruned_count, spark, src, leaves)
        f_dst = pool.submit(pruned_count, spark, dst, leaves)
        hits_src, st_src = f_src.result()
        hits, st = f_dst.result()
    # identical answer from both layouts; the clustered one must prune
    # strictly more chunks than the scattered one AND a real fraction
    assert hits == hits_src, (hits, hits_src)
    assert st["pruned_chunks"] > st_src["pruned_chunks"], (st, st_src)
    assert st["pruned_chunks"] > st["total_chunks"] // 3, st
    return spark.createDataFrame(
        pd.DataFrame({"hits": [hits]})).select(F.col("hits").cast("long"))


def encoded_table_multi_and_count(spark, sf_dir) -> DataFrame:
    """MultiVectorFilter over the persisted store: range AND equality
    across two columns' chunks with manifest pruning intersected across
    BOTH predicates and per-section short-circuit of the second column
    (reference src/filter.rs:239-286 applied to storage)."""
    from ..sources.encoded_table import Leaf, pruned_count
    out = _orders_store(spark, sf_dir)
    hits, stats = pruned_count(
        spark, out, [Leaf("o_orderkey", "int64", "range", 1000, 20000),
                     Leaf("o_custkey", "int64", "in", values=(605,))])
    assert stats["pruned_chunks"] >= 0
    return spark.createDataFrame(
        pd.DataFrame({"hits": [hits]})).select(F.col("hits").cast("long"))


def _documents_store(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached encoded store of documents (doc_id, dict-coded
    source, n_chars as a sectioned int vector)."""
    key = (id(spark.sparkContext), sf_dir, "documents_src")
    if key not in _STORE_CACHE:
        from ..spark import encode_job
        out = _scratch_dir(spark, "cvx_doc_")
        df = (_read(spark, sf_dir, "documents")
              .select("doc_id", "source", "n_chars")
              .repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id"))
        encode_job.encode_table(spark, df, out, url_col=None, resume=False,
                                codec_overrides={"source": "dict"})
        _STORE_CACHE[key] = out
    return _STORE_CACHE[key]


def _documents_by_source_store(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached encoded store of documents RANGE-PARTITIONED AND
    SORTED on source: each chunk covers a narrow [min_str, max_str]
    slice, so string predicates prune chunks at the manifest level —
    the string analog of the orders store's sorted numeric layout."""
    key = (id(spark.sparkContext), sf_dir, "documents_by_source")
    if key not in _STORE_CACHE:
        from ..spark import encode_job
        out = _scratch_dir(spark, "cvx_docsrc_")
        df = (_read(spark, sf_dir, "documents")
              .select("doc_id", "source", "n_chars")
              .repartitionByRange(8, "source", "doc_id")
              .sortWithinPartitions("source", "doc_id"))
        encode_job.encode_table(spark, df, out, url_col=None, resume=False,
                                codec_overrides={"source": "dict"})
        _STORE_CACHE[key] = out
    return _STORE_CACHE[key]


def encoded_table_string_filter_count(spark, sf_dir) -> DataFrame:
    """String predicates over the PERSISTED store — the missing half of
    the reference's defining capability (filter compressed strings in
    storage, reference README.md:77-78, src/filter.rs:112-139): manifest
    [min_str, max_str] stats prune whole chunks, surviving dict chunks
    answer equality via code_of + equals_mask and LIKE-prefix via
    prefix_range + range_mask on the compressed u32 code vector — no
    string is ever materialized on the fast path."""
    from concurrent.futures import ThreadPoolExecutor
    from ..sources.encoded_table import Leaf, pruned_count
    out = _documents_by_source_store(spark, sf_dir)
    # two independent kernels over one store: overlap them (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_eq = pool.submit(pruned_count, spark, out, [
            Leaf("source", "string", "in", values=("src12",))])
        f_pre = pool.submit(pruned_count, spark, out, [
            Leaf("source", "string", "prefix", values=("src1",))])
        eq_hits, st_eq = f_eq.result()
        pre_hits, st_pre = f_pre.result()
    # the source-sorted layout must actually prune: with 8 range
    # partitions over 20 source values most chunks exclude 'src12'
    assert st_eq["pruned_chunks"] > 0, st_eq
    assert st_eq["compressed_chunks"] == st_eq["scanned_chunks"], st_eq
    assert st_pre["pruned_chunks"] >= 0, st_pre
    return spark.createDataFrame(
        pd.DataFrame({"eq_hits": [eq_hits], "prefix_hits": [pre_hits]})) \
        .select(F.col("eq_hits").cast("long"),
                F.col("prefix_hits").cast("long"))


def encoded_table_string_range_count(spark, sf_dir) -> DataFrame:
    """String BETWEEN over the PERSISTED store — the third string
    predicate shape (equality / prefix / range): manifest
    [min_str, max_str] interval-intersection pruning, then the range
    mapped to an inclusive CODE range on the sorted dictionary
    (order-preserving codes, `code_range`) and scanned on the
    compressed u32 vector with `range_mask`'s header-only section
    skipping (reference EqualsSink src/filter.rs:112-139 generalized
    to ranges at the storage layer)."""
    from ..sources.encoded_table import Leaf, pruned_count
    out = _documents_by_source_store(spark, sf_dir)
    hits, st = pruned_count(
        spark, out, [Leaf("source", "string", "range", "src12", "src17")])
    # the source-sorted layout must prune chunks outside [src12, src17]
    assert st["pruned_chunks"] > 0, st
    assert st["compressed_chunks"] == st["scanned_chunks"], st
    return spark.createDataFrame(
        pd.DataFrame({"range_hits": [hits]})) \
        .select(F.col("range_hits").cast("long"))


def encoded_table_sql_pushdown(spark, sf_dir) -> DataFrame:
    """Plain `spark.sql()` TEXT answered through the pruned storage
    fast paths (r4 verdict's largest real-user hole): sql_router
    parses the SQL with Spark's own parser and routes the supported
    equality/range/IN shapes to the manifest-prune + compressed-code
    kernels — the SQL user now gets the same plan the Python API gets,
    with everything else falling back to the decoded view.  In-query
    asserts prove routing AND real chunk pruning happened (sorted
    layouts; holds at every SF: the predicate covers a fixed small
    fraction of a sorted key/dict space spread over 8+ chunks)."""
    from concurrent.futures import ThreadPoolExecutor
    from ..sources import encoded_table, sql_router
    out_o = _orders_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out_o, "cvx_sql_orders")
    out_d = _documents_by_source_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out_d, "cvx_sql_docs")
    # five independent routed statements over two stores: submit them
    # from a thread pool so their small kernel jobs overlap instead of
    # serializing five driver round-trips (guide §2.6 "overlap
    # independent jobs"); results and asserts are unchanged
    with ThreadPoolExecutor(max_workers=5) as pool:
        f_r = pool.submit(
            sql_router.route_sql, spark, out_o,
            "SELECT count(*) AS range_hits FROM cvx_sql_orders "
            "WHERE o_orderkey BETWEEN 1 AND 1000", view="cvx_sql_orders")
        f_e = pool.submit(
            sql_router.route_sql, spark, out_d,
            "SELECT count(*) AS eq_hits FROM cvx_sql_docs "
            "WHERE source = 'src12'", view="cvx_sql_docs")
        f_i = pool.submit(
            sql_router.route_sql, spark, out_d,
            "SELECT count(*) AS in_hits FROM cvx_sql_docs "
            "WHERE source IN ('src3', 'src17')", view="cvx_sql_docs")
        # aggregate pushdown from SQL text: SUM routed through the
        # three-level manifest-sum kernel, count(*) metadata-only
        f_s = pool.submit(
            sql_router.route_sql, spark, out_o,
            "SELECT sum(o_custkey) AS sum_cust FROM cvx_sql_orders "
            "WHERE o_orderkey BETWEEN 1 AND 20000", view="cvx_sql_orders")
        f_c = pool.submit(
            sql_router.route_sql, spark, out_o,
            "SELECT count(*) AS n_rows FROM cvx_sql_orders",
            view="cvx_sql_orders")
        r_df, r_st = f_r.result()
        e_df, e_st = f_e.result()
        i_df, i_st = f_i.result()
        s_df, s_st = f_s.result()
        c_df, c_st = f_c.result()
    assert r_st["routed"] and r_st["pruned_chunks"] > 0, r_st
    assert e_st["routed"] and e_st["pruned_chunks"] > 0, e_st
    assert e_st["compressed_chunks"] == e_st["scanned_chunks"], e_st
    assert i_st["routed"], i_st
    assert s_st["routed"], s_st
    assert c_st["routed"] and c_st["metadata_only"], c_st
    # the kernels ran eagerly; each df is a 1-row local relation —
    # assemble ONE row rather than chaining crossJoins (a 5-way
    # cartesian of local relations plans hundreds of tiny tasks)
    row = {}
    for d in (r_df, e_df, i_df, s_df, c_df):
        row.update(d.first().asDict())
    return spark.range(0, 1, 1, 1).select(
        *[F.lit(int(row[c])).cast("long").alias(c)
          for c in ("range_hits", "eq_hits", "in_hits", "sum_cust",
                    "n_rows")])


def encoded_table_sql_pushdown_oracle() -> str:
    return (
        "SELECT"
        " (SELECT count(*) FROM orders"
        "  WHERE o_orderkey BETWEEN 1 AND 1000) AS range_hits,"
        " (SELECT count(*) FROM documents WHERE source = 'src12')"
        "  AS eq_hits,"
        " (SELECT count(*) FROM documents"
        "  WHERE source IN ('src3', 'src17')) AS in_hits,"
        " (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders"
        "  WHERE o_orderkey BETWEEN 1 AND 20000) AS sum_cust,"
        " (SELECT count(*) FROM orders) AS n_rows")


def encoded_table_sql_group(spark, sf_dir) -> DataFrame:
    """Plain-SQL GROUP BY answered from the compressed store: the
    router recognizes `SELECT g, aggs FROM v GROUP BY g ORDER BY g`
    and dispatches to grouped_dict_agg — one bincount per chunk over
    the u32 dict codes (count), one exact hi/lo weighted bincount for
    SUM, with the shuffle carrying (distinct sources x chunks) tiny
    partials instead of N decoded strings.  Extends the reference's
    filter-on-codes design (reference README.md:83-86) to SQL-text
    aggregation.  In-query asserts prove the kernel (not the decoded
    view) answered."""
    from ..sources import encoded_table, sql_router
    out = _documents_by_source_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out, "cvx_sqlg_docs")
    df, st = sql_router.route_sql(
        spark, out,
        "SELECT source, count(*) AS doc_count,"
        " sum(n_chars) AS sum_chars, count(n_chars) AS chars_seen"
        " FROM cvx_sqlg_docs GROUP BY source ORDER BY source",
        view="cvx_sqlg_docs")
    assert st["routed"] and st.get("group_kernel"), st
    assert st["compressed_chunks"] == st["total_chunks"], st
    return df


def encoded_table_sql_group_oracle() -> str:
    return ("SELECT source, count(*) AS doc_count,"
            " CAST(sum(n_chars) AS BIGINT) AS sum_chars,"
            " count(n_chars) AS chars_seen"
            " FROM documents GROUP BY source ORDER BY source")


def encoded_table_sql_where_group(spark, sf_dir) -> DataFrame:
    """Plain-SQL `WHERE ... GROUP BY ...` composed onto the compressed
    kernels: the router extracts the AND-of-leaves predicate, maps each
    leaf to a (manifest chunk-prune, compressed-domain row mask) pair
    — string IN answered on u32 dict codes, int range on the decoded
    filter vector — and runs the group bincount only over surviving
    masked rows; per-group MIN/MAX partials and the HAVING's
    post-aggregation filter ride the same kernel.  The pushdown layers
    the count kernels and the group kernel each had separately now
    compose in one statement.
    In-query asserts prove the kernel routed AND the sorted-on-source
    layout actually pruned chunks (holds at every SF: three of twenty
    sources spread over 8 range partitions)."""
    from ..sources import encoded_table, sql_router
    out = _documents_by_source_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out, "cvx_sqlwg_docs")
    df, st = sql_router.route_sql(
        spark, out,
        "SELECT source, count(*) AS doc_count,"
        " sum(n_chars) AS sum_chars, min(n_chars) AS min_chars,"
        " max(n_chars) AS max_chars FROM cvx_sqlwg_docs"
        " WHERE source IN ('src3', 'src12', 'src17')"
        " AND n_chars >= 100 GROUP BY source"
        " HAVING count(*) >= 5 ORDER BY source",
        view="cvx_sqlwg_docs")
    assert st["routed"] and st.get("group_kernel"), st
    assert st["where_specs"] == 2 and st["pruned_chunks"] > 0, st
    assert st["having_filters"] == 1, st
    return df


def encoded_table_sql_where_group_oracle() -> str:
    return ("SELECT source, count(*) AS doc_count,"
            " CAST(sum(n_chars) AS BIGINT) AS sum_chars,"
            " CAST(min(n_chars) AS BIGINT) AS min_chars,"
            " CAST(max(n_chars) AS BIGINT) AS max_chars FROM documents"
            " WHERE source IN ('src3', 'src12', 'src17')"
            " AND n_chars >= 100 GROUP BY source"
            " HAVING count(*) >= 5 ORDER BY source")


def encoded_table_sql_distinct(spark, sf_dir) -> DataFrame:
    """`SELECT DISTINCT col` answered from the per-chunk dictionary
    HEAPS: a chunk's sorted symbol table holds exactly the values
    present in that chunk, so the union of heaps (plus manifest null
    membership) IS the distinct set — code vectors are never decoded
    on a delete-free store, and each task ships <= |dict| values
    instead of N rows.  ORDER BY + LIMIT compose on top.  In-query
    assert proves the heap kernel (not a row scan) answered."""
    from ..sources import encoded_table, sql_router
    out = _documents_by_source_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out, "cvx_sqld_docs")
    df, st = sql_router.route_sql(
        spark, out,
        "SELECT DISTINCT source FROM cvx_sqld_docs"
        " ORDER BY source LIMIT 12",
        view="cvx_sqld_docs")
    assert st["routed"] and st.get("distinct_kernel"), st
    return df


def encoded_table_sql_distinct_oracle() -> str:
    return ("SELECT DISTINCT source FROM documents"
            " ORDER BY source LIMIT 12")


def encoded_table_sql_join(spark, sf_dir) -> DataFrame:
    """Dimension-join SQL text with the aggregate pushed BELOW the
    join: the router recognizes `SELECT d.attr, aggs FROM store JOIN
    dim ON store.key = dim.key [WHERE p] GROUP BY d.attr`, collapses
    the store side to per-join-key partials on the group kernel (one
    bincount per chunk over dict codes; the WHERE as chunk-prune +
    row masks), and joins only that (distinct keys)-sized result to
    the broadcast dimension before re-aggregating per attribute — at
    100 TB the join input is the key domain, not N rows.  Exact for
    1:N dimensions (partials duplicated per match IS inner-join
    multiplicity).  In-query asserts prove the rewrite ran."""
    from ..sources import encoded_table, sql_router
    out = _documents_by_source_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out, "cvx_sqlj_docs")
    spark.createDataFrame(
        [("src%d" % i, "even" if i % 2 == 0 else "odd")
         for i in range(30)], "source string, tier string") \
        .createOrReplaceTempView("cvx_sqlj_dim")
    df, st = sql_router.route_sql(
        spark, out,
        "SELECT d.tier, count(*) AS doc_count,"
        " sum(n_chars) AS sum_chars, max(n_chars) AS max_chars"
        " FROM cvx_sqlj_docs f JOIN cvx_sqlj_dim d"
        " ON f.source = d.source WHERE n_chars >= 50"
        " GROUP BY d.tier ORDER BY d.tier",
        view="cvx_sqlj_docs")
    assert st["routed"] and st.get("join_pushdown"), st
    assert st.get("group_kernel") and st["where_specs"] == 1, st
    return df


def encoded_table_sql_join_oracle() -> str:
    return (
        "WITH dim AS (SELECT 'src' || CAST(i AS VARCHAR) AS source,"
        " CASE WHEN i % 2 = 0 THEN 'even' ELSE 'odd' END AS tier"
        " FROM range(30) t(i))"
        " SELECT d.tier, count(*) AS doc_count,"
        " CAST(sum(n_chars) AS BIGINT) AS sum_chars,"
        " CAST(max(n_chars) AS BIGINT) AS max_chars"
        " FROM documents f JOIN dim d ON f.source = d.source"
        " WHERE n_chars >= 50 GROUP BY d.tier ORDER BY d.tier")


def _documents_text_store(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached encoded store of documents (doc_id, text) sorted
    on doc_id — so TEXT values scatter across chunks and every chunk's
    [min_str, max_str] admits any probe: the layout where zone maps are
    useless and only the per-chunk Bloom filters can prune."""
    key = (id(spark.sparkContext), sf_dir, "documents_text")
    if key not in _STORE_CACHE:
        from ..spark import encode_job
        out = _scratch_dir(spark, "cvx_doctext_")
        df = (_read(spark, sf_dir, "documents")
              .select("doc_id", "text")
              .repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id"))
        encode_job.encode_table(spark, df, out, url_col=None, resume=False)
        _STORE_CACHE[key] = out
    return _STORE_CACHE[key]


def encoded_table_point_lookup(spark, sf_dir) -> DataFrame:
    """Exact-text point lookup over the PERSISTED store — the
    membership probe every dedup pipeline issues ("is this document
    already in the corpus?"), and the predicate shape zone maps cannot
    serve: the store sorts on doc_id, so every chunk's
    [min_str, max_str] covers the probe text and min/max pruning
    admits ALL chunks.  The manifest's per-chunk Bloom filters
    (codecs/bloom.py, format v5) answer "definitely absent" from the
    manifest alone, so only ~FPR of the chunks are read; surviving
    chunks verify exactly (decode + compare), so false positives cost
    I/O, never wrong counts.  The probed value is doc 42's text, so
    hits >= 1 by construction and the planted exact duplicates keep
    the count interesting."""
    from ..sources.encoded_table import Leaf, pruned_count
    probe = (_read(spark, sf_dir, "documents")
             .where(F.col("doc_id") == 42).select("text").first()[0])
    out = _documents_text_store(spark, sf_dir)
    hits, st = pruned_count(
        spark, out, [Leaf("text", "string", "in", values=(probe,))])
    # zone maps admit everything (doc_id-sorted layout) — the Bloom
    # level must be doing the pruning
    if st["total_chunks"] > 1:
        assert st["bloom_pruned_chunks"] > 0, st
    assert st["scanned_chunks"] < st["total_chunks"] or st["total_chunks"] == 1, st
    return spark.createDataFrame(
        pd.DataFrame({"hits": [hits]})).select(F.col("hits").cast("long"))


def store_membership_antijoin(spark, sf_dir) -> DataFrame:
    """Incremental-crawl dedup against the PERSISTED corpus: a batch of
    probe documents — half of them already in the store, half genuinely
    new — is anti-joined against the encoded documents store, returning
    the probe ids that are NOT yet in the corpus (the ones worth
    ingesting).  This is THE recurring query of a living 100-TB corpus:
    every new crawl batch must answer "which of these have we already
    got?" without re-reading the corpus.

    The store sorts on doc_id, the probe is the text value, so zone
    maps admit every chunk; the per-chunk Bloom filters answer most
    (probe, chunk) pairs from the manifest alone
    (`encoded_table.store_membership`): a new document is PROVEN absent
    with zero blob reads, and only true hits + ~FPR false positives
    decode a chunk for exact verification.

    Probe construction is deterministic and SQL-re-derivable: docs with
    doc_id % 10 == 3 probe their own text (present by construction);
    docs with doc_id % 10 == 4 probe text || '#NEW#' under probe_id
    doc_id + 10000000 (absent — membership still COMPUTED, not
    assumed: the oracle would catch a store that lied)."""
    from ..sources import encoded_table
    docs = _read(spark, sf_dir, "documents")
    probes = (docs.where(F.col("doc_id") % 10 == 3)
              .select(F.col("doc_id").alias("probe_id"), "text")
              .unionByName(
                  docs.where(F.col("doc_id") % 10 == 4)
                  .select((F.col("doc_id") + 10000000).alias("probe_id"),
                          F.concat(F.col("text"),
                                   F.lit("#NEW#")).alias("text"))))
    out = _documents_text_store(spark, sf_dir)
    result, st = encoded_table.store_membership(
        spark, out, "text", probes, value_col="text", id_col="probe_id")
    # the Bloom level must be doing real work: most (probe, chunk)
    # pairs answered from the manifest alone
    if st["total_chunks"] > 1:
        assert st["pairs_bloom_pruned"] > st["candidate_pairs"], st
    return (result.where(~F.col("present"))
            .select(F.col("probe_id").cast("long")))


def encoded_table_string_in_count(spark, sf_dir) -> DataFrame:
    """IN-list probe over the PERSISTED store — OneOfSink (reference
    src/filter.rs:143-177) at the storage layer, on the layout where
    zone maps can't help (doc_id-sorted store, text probes): two texts
    present (docs 7 and 101), one absent variant.  The per-chunk Bloom
    filters hash all three values once and drop every chunk where all
    three are provably absent; surviving dict chunks run OneOf on the
    compressed code vector, fsst chunks decode once against the set."""
    from ..sources.encoded_table import Leaf, pruned_count
    texts = {r["doc_id"]: r["text"]
             for r in (_read(spark, sf_dir, "documents")
                       .where(F.col("doc_id").isin([7, 101]))
                       .select("doc_id", "text").collect())}
    values = [texts[7], texts[101], texts[7] + "#ABSENT#"]
    out = _documents_text_store(spark, sf_dir)
    hits, st = pruned_count(
        spark, out, [Leaf("text", "string", "in", values=tuple(values))])
    if st["total_chunks"] > 2:
        assert st["bloom_pruned_chunks"] > 0, st
    return spark.createDataFrame(
        pd.DataFrame({"hits": [hits]})).select(F.col("hits").cast("long"))


def _events_by_value_store(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached encoded store of events (event_id, value)
    range-partitioned AND sorted on value, so each chunk covers a
    narrow [min_f64, max_f64] slice — the float analog of the
    source-sorted documents store."""
    key = (id(spark.sparkContext), sf_dir, "events_by_value")
    if key not in _STORE_CACHE:
        from ..spark import encode_job
        out = _scratch_dir(spark, "cvx_evval_")
        df = (_read(spark, sf_dir, "events")
              .select("event_id", "value")
              .repartitionByRange(8, "value", "event_id")
              .sortWithinPartitions("value", "event_id"))
        encode_job.encode_table(spark, df, out, url_col=None, resume=False)
        _STORE_CACHE[key] = out
    return _STORE_CACHE[key]


def encoded_table_float_range_count(spark, sf_dir) -> DataFrame:
    """Float range predicate over the PERSISTED store: manifest
    [min_f64, max_f64] chunk stats (store format v4) prune chunks whose
    value range misses [10, 20]; only surviving XOR-packed chunks are
    decoded and compared.  Completes the predicate-pushdown family over
    the store's own format: int (range/equality/IN), string
    (equality/prefix/range), and now float range."""
    from ..sources.encoded_table import Leaf, pruned_count
    out = _events_by_value_store(spark, sf_dir)
    hits, st = pruned_count(
        spark, out, [Leaf("value", "double", "range", 10.0, 20.0)])
    # the value-sorted layout must prune chunks outside [10, 20]
    assert st["pruned_chunks"] > 0, st
    return spark.createDataFrame(
        pd.DataFrame({"range_hits": [hits]})) \
        .select(F.col("range_hits").cast("long"))


NULLS_ORACLE_ROWS = 2000
NULLS_GEN_VERSION = 1


def _nulls_oracle_dir() -> str:
    import tempfile
    base = os.environ.get("CVX_SCRATCH_DIR") or tempfile.gettempdir()
    return os.path.join(
        base, f"cvx_nulls_oracle_v{NULLS_GEN_VERSION}_r{NULLS_ORACLE_ROWS}")


def encoded_table_null_count(spark, sf_dir) -> DataFrame:
    """COUNT(col IS NULL) and COUNT(col IS NOT NULL) answered from the
    manifest ALONE — every chunk records its null_count at encode, so
    null-predicate aggregates never read a blob (the storage analog of
    the reference's 1-byte Null sections answering filters without
    decode, src/filter.rs:218-224).  The fixture table plants nulls in
    an int and a string column deterministically (testdata carries no
    NULLs, which would make this row vacuous)."""
    from ..spark import encode_job
    pq = os.path.join(_nulls_oracle_dir(), "rows.parquet")
    # Write-once fixture: the content is a pure function of
    # (NULLS_GEN_VERSION, NULLS_ORACLE_ROWS), which key the path — so a
    # completed write never needs refreshing, and skipping the rewrite
    # means the oracle can never race a mode("overwrite") that briefly
    # deletes the files it is reading (r4's only hash-mismatch row).
    if not os.path.exists(os.path.join(pq, "_SUCCESS")):
        pdf = pd.DataFrame({"k": range(NULLS_ORACLE_ROWS)})
        pdf["v"] = pdf["k"] * 3
        pdf.loc[pdf.index % 7 == 0, "v"] = None
        pdf["s"] = ["s%02d" % (k % 40) for k in range(NULLS_ORACLE_ROWS)]
        pdf.loc[pdf.index % 11 == 0, "s"] = None
        spark.createDataFrame(pdf).coalesce(1).write \
            .mode("overwrite").parquet(pq)

    key = (id(spark.sparkContext), "nulls_store")
    if key not in _STORE_CACHE:
        out = _scratch_dir(spark, "cvx_nulls_")
        df = (spark.read.parquet(pq)
              .repartitionByRange(4, "k").sortWithinPartitions("k"))
        encode_job.encode_table(spark, df, out, url_col=None, resume=False)
        _STORE_CACHE[key] = out
    manifest = spark.read.parquet(
        os.path.join(_STORE_CACHE[key], "manifest"))
    agg = (manifest.groupBy("column")
           .agg(F.sum("null_count").cast("long").alias("null_rows"),
                (F.sum("num_elements") - F.sum("null_count"))
                .cast("long").alias("non_null_rows")))
    # deterministic row order on BOTH sides (oracle ORDER BY column):
    # a 2-row unordered groupBy can hash differently run to run
    return agg.where(F.col("column").isin("v", "s")).orderBy("column")


def encoded_table_null_count_oracle() -> str:
    return f"""
SELECT col AS column,
       CAST(sum(CASE WHEN val_is_null THEN 1 ELSE 0 END) AS BIGINT)
         AS null_rows,
       CAST(sum(CASE WHEN val_is_null THEN 0 ELSE 1 END) AS BIGINT)
         AS non_null_rows
FROM (
  SELECT 'v' AS col, v IS NULL AS val_is_null
  FROM '{_nulls_oracle_dir()}/rows.parquet/*.parquet'
  UNION ALL
  SELECT 's' AS col, s IS NULL AS val_is_null
  FROM '{_nulls_oracle_dir()}/rows.parquet/*.parquet'
)
GROUP BY col
ORDER BY col
"""


def encoded_table_filter_select(spark, sf_dir) -> DataFrame:
    """Row-returning storage query: SELECT doc_id, n_chars WHERE
    source = 'src12' with manifest string-stats chunk pruning, the
    filter evaluated on compressed dict codes, and the projection
    columns decoded only in surviving chunks (sources/encoded_table
    pruned_select) — predicate pushdown + column pruning over
    this engine's own format.  Since r5 the statement enters as plain
    SQL TEXT through sql_router (row-returning shapes route to the
    same kernel; in-query asserts prove it)."""
    from ..sources import encoded_table, sql_router
    out = _documents_by_source_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out, "cvx_fsel_docs")
    df, st = sql_router.route_sql(
        spark, out,
        "SELECT doc_id, n_chars FROM cvx_fsel_docs"
        " WHERE source = 'src12'", view="cvx_fsel_docs")
    assert st["routed"] and st.get("select_kernel"), st
    assert st["pruned_chunks"] > 0, st
    return df


def encoded_table_range_select(spark, sf_dir) -> DataFrame:
    """Row-returning NUMERIC range read over the persisted store:
    SELECT o_orderkey, o_custkey WHERE o_orderkey BETWEEN 1000 AND 3000
    — manifest [min_val, max_val] chunk pruning, the range evaluated on
    compressed filter vectors of surviving chunks only, projections
    decoded only where the mask passes (the numeric sibling of
    `encoded_table_filter_select`).  Since r5 the statement enters as
    plain SQL TEXT through sql_router."""
    from ..sources import encoded_table, sql_router
    out = _orders_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out, "cvx_rsel_orders")
    df, st = sql_router.route_sql(
        spark, out,
        "SELECT o_orderkey, o_custkey FROM cvx_rsel_orders"
        " WHERE o_orderkey BETWEEN 1000 AND 3000", view="cvx_rsel_orders")
    assert st["routed"] and st.get("select_kernel"), st
    assert st["pruned_chunks"] > 0, st
    return df


def _documents_dict_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The source column's dict chunks of the documents store."""
    out = _documents_store(spark, sf_dir)
    return (spark.read.parquet(os.path.join(out, "chunks"))
            .where((F.col("column") == "source") & (F.col("codec") == "dict")))


def encoded_table_distinct_pushdown(spark, sf_dir) -> DataFrame:
    """COUNT(DISTINCT dict_column) answered from the dictionary HEAPS
    alone — the per-chunk symbol tables are unioned and the code
    vectors are never decoded (a chunk's heap holds exactly the values
    present in that chunk, so the union is the exact distinct set)."""
    from ..codecs import dictionary as dict_codec

    chunks = _documents_dict_chunks(spark, sf_dir)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vals: set[str] = set()
        for pdf in batches:
            for blob in pdf["blob"]:
                vals.update(dict_codec.dictionary(bytes(blob)[4:]))
        yield pd.DataFrame({"source": pd.Series(sorted(vals), dtype=object)})

    return (chunks.select("blob").mapInPandas(fn, "source string")
            .agg(F.count_distinct(F.col("source")).cast("long")
                 .alias("distinct_sources")))


def encoded_table_group_count(spark, sf_dir) -> DataFrame:
    """GROUP BY + COUNT over a dict-coded column straight from the
    compressed store: per chunk, one bincount over the u32 code vector
    (never materializing per-row strings) + a |dict|-sized code->value
    map; the shuffle then moves (distinct values x chunks) tiny rows
    instead of N decoded strings.  Extends the reference's
    filter-on-codes design goal (reference README.md:83-86) to
    aggregation."""
    chunks = _documents_dict_chunks(spark, sf_dir)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals_out, cnts_out = [], []
            for blob in pdf["blob"]:
                payload = bytes(blob)[4:]  # strip chunk codec tag
                c = dictionary.codes(payload).astype(np.int64)
                counts = np.bincount(c)
                vals = dictionary.dictionary(payload)
                # code 0 is the null sentinel; SQL GROUP BY would emit a
                # NULL group, which the caller can add back if needed
                for code in np.flatnonzero(counts):
                    if code > 0:
                        vals_out.append(vals[code - 1])
                        cnts_out.append(int(counts[code]))
            yield pd.DataFrame({"source": pd.Series(vals_out, dtype=object),
                                "cnt": pd.Series(cnts_out, dtype="int64")})

    return (chunks.select("blob").mapInPandas(fn, "source string, cnt long")
            .groupBy("source")
            .agg(F.sum("cnt").cast("long").alias("doc_count")))


def encoded_table_dim_join_count(spark, sf_dir) -> DataFrame:
    """Dimension join over the compressed store with the aggregate
    pushed BELOW the join: the per-chunk bincount over dict codes
    (encoded_table_group_count's kernel) first collapses the corpus to
    (distinct source x chunk) tiny rows, and only THAT aggregate joins
    the broadcast dimension (source -> tier) before re-aggregating per
    tier.  The classic group-below-join rewrite at the storage layer:
    at 100 TB the join input is the distinct-value domain, not N rows,
    and the dimension rides one broadcast — no corpus shuffle, no
    per-row string ever materialized."""
    per_source = encoded_table_group_count(spark, sf_dir)
    # static lookup dimension (superset of the source domain), the
    # table a warehouse would broadcast-join against the fact scan
    dim = spark.createDataFrame(
        [("src%02d" % i, "even" if i % 2 == 0 else "odd")
         for i in range(100)], "source string, tier string")
    return (per_source.join(F.broadcast(dim), "source")
            .groupBy("tier")
            .agg(F.sum("doc_count").cast("long").alias("docs"))
            .orderBy("tier"))


# canonical home is the storage layer (the SQL router's GROUP BY kernel
# shares it); re-exported here for the existing query/test importers
from ..sources.encoded_table import exact_weighted_bincount  # noqa: E402


def encoded_table_group_sum(spark, sf_dir) -> DataFrame:
    """GROUP BY dict-column + SUM(numeric) straight off the compressed
    store: one bincount over the u32 code vector weighted by the decoded
    int column — per-group partials per chunk, so the shuffle carries
    (groups x chunks) rows; no row-level string ever exists."""
    from ..codecs import chunk as chunk_codec
    out = _documents_store(spark, sf_dir)
    chunks = (spark.read.parquet(os.path.join(out, "chunks"))
              .where(F.col("column").isin(["source", "n_chars"])))
    a = (chunks.where(F.col("column") == "source")
         .select("chunk_id", F.col("blob").alias("blob_s")))
    b = (chunks.where(F.col("column") == "n_chars")
         .select("chunk_id", F.col("blob").alias("blob_n")))
    paired = a.join(b, "chunk_id")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals_out, sums_out = [], []
            for bs, bn in zip(pdf["blob_s"], pdf["blob_n"]):
                payload = bytes(bs)[4:]
                codes = dictionary.codes(payload).astype(np.int64)
                # exact for ANY int64 weights (hi/lo split), NULL adds 0
                acc = exact_weighted_bincount(
                    codes, chunk_codec.decode_column(bytes(bn)))
                vals = dictionary.dictionary(payload)
                for code in np.flatnonzero(acc):
                    if code > 0:  # 0 = null sentinel
                        vals_out.append(vals[code - 1])
                        sums_out.append(int(acc[code]))
            yield pd.DataFrame({"source": pd.Series(vals_out, dtype=object),
                                "s": pd.Series(sums_out, dtype="int64")})

    return (paired.mapInPandas(fn, "source string, s long")
            .groupBy("source")
            .agg(F.sum("s").cast("long").alias("sum_chars")))


def encoded_table_sum_pushdown(spark, sf_dir) -> DataFrame:
    """Aggregation pushdown over the persisted store (beyond the
    reference, which stops at count/positions — src/filter.rs:296-321):
    SUM(o_custkey) WHERE o_orderkey BETWEEN lo AND hi answered with
    three levels — manifest prune, manifest per-chunk sum_val for fully
    covered chunks (zero blob reads), and header-skipping masked_sum
    for the boundary chunks."""
    from ..sources import encoded_table
    from ..sources.encoded_table import Leaf
    out = _orders_store(spark, sf_dir)
    total, stats = encoded_table.pruned_sum(
        spark, out, [Leaf("o_orderkey", "int64", "range", 1000, 20000)],
        "o_custkey")
    assert (stats["pruned_chunks"] + stats["covered_chunks"]
            + stats["scanned_chunks"]) == stats["total_chunks"]
    return spark.createDataFrame(
        pd.DataFrame({"sum_custkey": [total]})) \
        .select(F.col("sum_custkey").cast("long"))


def encoded_table_topk_pushdown(spark, sf_dir) -> DataFrame:
    """Top-10 values of a column over the store with manifest-threshold
    pruning: chunks whose max_val is below the k-th largest chunk max
    are never read, surviving chunks ship only a k-row partial top-k."""
    from ..sources import encoded_table
    out = _orders_store(spark, sf_dir)
    top, stats = encoded_table.pruned_topk(spark, out, "o_custkey", 10)
    assert stats["scanned_chunks"] + stats["pruned_chunks"] \
        == stats["total_chunks"]
    return spark.createDataFrame(
        pd.DataFrame({"v": pd.Series(top, dtype="int64")})) \
        .select(F.col("v").cast("long"))


def encoded_table_minmax_pushdown(spark, sf_dir) -> DataFrame:
    """Global MIN/MAX answered from the manifest ALONE — no chunk blob
    is read (the storage-layer analog of the reference's VectorStats,
    src/vector.rs:343-359, persisted at encode time)."""
    from ..sources import encoded_table
    out = _orders_store(spark, sf_dir)
    mn, mx = encoded_table.manifest_min_max(spark, out, "o_custkey")
    return spark.createDataFrame(
        pd.DataFrame({"min_custkey": [mn], "max_custkey": [mx]})) \
        .select(F.col("min_custkey").cast("long"),
                F.col("max_custkey").cast("long"))


def rle_range_count(spark, sf_dir) -> DataFrame:
    """COUNT over an RLE-coded stored column without expansion: orders
    sorted by o_custkey makes o_custkey runs long, the rle codec stores
    (values, lengths) as two NibblePacked vectors, and the range count
    sums run lengths whose value lands in [lo, hi] — touching R runs,
    never n rows (rle.count_in_range).  Manifest min/max still prunes
    whole chunks first."""
    from ..spark import encode_job
    key = (id(spark.sparkContext), sf_dir, "orders_by_cust")
    if key not in _STORE_CACHE:
        out = _scratch_dir(spark, "cvx_rle_")
        df = (_read(spark, sf_dir, "orders")
              .select("o_custkey", "o_orderkey")
              .repartitionByRange(8, "o_custkey")
              .sortWithinPartitions("o_custkey", "o_orderkey"))
        encode_job.encode_table(spark, df, out, url_col=None, resume=False,
                                codec_overrides={"o_custkey": "rle"})
        _STORE_CACHE[key] = out
    lo, hi = 100, 700
    manifest = spark.read.parquet(os.path.join(_STORE_CACHE[key], "manifest"))
    cand = (manifest.where((F.col("column") == "o_custkey")
                           & (F.col("codec") == "rle")
                           & (F.col("min_val") <= hi)
                           & (F.col("max_val") >= lo))
            .select("chunk_id"))
    chunks = (spark.read.parquet(os.path.join(_STORE_CACHE[key], "chunks"))
              .where(F.col("column") == "o_custkey")
              .join(F.broadcast(cand), "chunk_id"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hits = 0
        for pdf in batches:
            for blob in pdf["blob"]:
                hits += rle.count_in_range(bytes(blob)[4:], lo, hi)
        yield pd.DataFrame({"hits": [hits]})

    return (chunks.select("blob").mapInPandas(fn, "hits long")
            .agg(F.sum("hits").cast("long").alias("hits")))


def analytics_over_encoded(spark, sf_dir) -> DataFrame:
    """TPC-H-Q1-style aggregation running on the DECODED view of an
    encoded store: encode -> decode_chunks -> groupBy/agg — the proof
    that standard DataFrame analytics work over the engine's format
    (decoded view is a normal DataFrame; Catalyst owns the agg plan)."""
    from ..operators.scan import parquet_num_rows
    from ..spark import decode_job, encode_job
    key = (id(spark.sparkContext), sf_dir, "lineitem_q1")
    if key not in _STORE_CACHE:
        out = _scratch_dir(spark, "cvx_q1_")
        df = _read(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus",
            F.col("l_quantity").cast("long").alias("qty"))
        # chunk count is a property of the DATA, not the worker grid:
        # one chunk per Arrow encode batch (footer row count, no
        # job), bounded by 4x the grid so huge tables don't explode
        # the chunk table.  A fixed 8 capped the TIMED decode at
        # 8-way: 1.9 -> 1.4 s at the 6M-row replica, unchanged at
        # sf0.1 (600k rows -> 9 chunks).
        rows = parquet_num_rows(
            os.path.join(sf_dir, "lineitem.parquet")) or 0
        batch = int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "65536"))
        parts = int(min(max(rows // batch, 8),
                        4 * spark.sparkContext.defaultParallelism))
        encode_job.encode_table(spark, df, out, url_col=None,
                                num_partitions=parts, resume=False)
        _STORE_CACHE[key] = out
    chunks = spark.read.parquet(f"{_STORE_CACHE[key]}/chunks")
    decoded = decode_job.decode_chunks(
        chunks, "l_returnflag string, l_linestatus string, qty long")
    return (decoded.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("qty").cast("long").alias("sum_qty"),
                 F.count("*").alias("count_order")))


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
    from ..operators.scan import _bucket_col
    df = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    bucket, _ = _bucket_col(df, "o_orderkey", 64,
                            bounds=_table_minmax(sf_dir, "orders",
                                                 "o_orderkey"))
    d = df.withColumn("__bucket", bucket)
    counts = {r["__bucket"]: r["n"] for r in
              d.groupBy("__bucket").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]

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
    from functools import reduce
    from ..operators.scan import _bucket_col
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
    sums = {r["__bucket"]: r["s"] for r in
            d.groupBy("__bucket").agg(F.sum("q").alias("s")).collect()}
    offsets, acc = {}, 0
    for b in sorted(sums):
        offsets[b] = acc
        acc += sums[b] or 0

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
    from ..operators.scan import _bucket_col
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
    counts = {r["__bucket"]: r["n"] for r in
              d.groupBy("__bucket").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    total_rows = acc

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
    df = _read(spark, sf_dir, "documents").select("lang")

    def fn(batches):
        for pdf in batches:
            blob = dictionary.encode(pdf["lang"])
            code = dictionary.code_of(blob, "en")
            n = filters.count_hits(
                filters.equals_mask(dictionary.codes_vector(blob), "u32", code)) if code else 0
            yield pd.DataFrame({"hits": [n]})

    return df.mapInPandas(fn, "hits long").agg(F.sum("hits").cast("long").alias("hits"))


def rle_run_count(spark, sf_dir) -> DataFrame:
    """RLE codec: number of runs in o_custkey ordered by o_orderkey,
    computed distributed: per range-bucket RLE + a driver-side merge of
    bucket-boundary runs (first/last value per bucket — B rows)."""
    from ..operators.scan import _bucket_col
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
    return spark.createDataFrame(pd.DataFrame({"n_runs": [runs]})) \
        .select(F.col("n_runs").cast("long"))


def fsst_text_roundtrip(spark, sf_dir) -> DataFrame:
    """FSST codec: encode+decode documents.text, prove losslessness by
    aggregating over the DECODED strings."""
    from ..codecs import fsst
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
    from .. import nibblepack as npk
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
    from ..codecs import histogram2d as h2d
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
    from ..codecs import chunk as chunk_codec
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


# --- training-data pipeline operators ----------------------------------------

def minhash_near_dup(spark, sf_dir) -> DataFrame:
    """MinHash+LSH candidate generation, exact-Jaccard verified pairs
    (k=5 shingles, threshold 0.7).  Bands chosen so recall at the
    threshold is ~1-1e-19; the oracle computes exact all-pairs Jaccard
    in SQL."""
    from ..operators import dedup
    df = _read(spark, sf_dir, "documents")
    return dedup.minhash_near_dups(df, "doc_id", "text", threshold=0.7,
                                   n_hashes=128, rows_per_band=2, k=5)


def near_dup_clusters(spark, sf_dir) -> DataFrame:
    """Transitive duplicate clusters: MinHash+LSH verified pairs ->
    alternating large-star/small-star connected components
    (dedup.connected_components) -> (doc_id, cluster_rep, cluster_size)
    for every clustered doc.  This is the step a real dedup pipeline
    runs after pair finding — near-dup is not transitive, so
    keep-one-per-cluster needs the closure, not the pairs.  The oracle
    re-derives the exact pair set in SQL and resolves components with a
    recursive min-label CTE."""
    from ..operators import dedup
    df = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(df, "doc_id", "text", threshold=0.7,
                                    n_hashes=128, rows_per_band=2, k=5)
    cc = dedup.connected_components(pairs, "d1", "d2")
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    # no forced broadcast: at 100 TB the label set is proportional to
    # the clustered corpus — AQE broadcasts when it actually fits
    return (cc.join(sizes, "component")
            .select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_rep"),
                    F.col("cluster_size")))


def dedup_keep_best(spark, sf_dir) -> DataFrame:
    """Keep-one-per-cluster — the step that actually SHRINKS the
    corpus: near-dup clusters (near_dup_clusters pipeline) -> keep the
    longest doc per cluster (ties: lowest doc_id) -> emit
    (cluster_rep, kept_doc_id, dropped).  At 100 TB the extra cost over
    clustering is one join of the cluster labels against a
    metadata-only corpus scan (labels are proportional to the clustered
    subset — no forced broadcast hint, AQE broadcasts when they fit)
    plus one groupBy on cluster id."""
    from ..operators import dedup
    df = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(df, "doc_id", "text", threshold=0.7,
                                    n_hashes=128, rows_per_band=2, k=5)
    cc = dedup.connected_components(pairs, "d1", "d2")
    meta = df.select(F.col("doc_id").alias("node"), "n_chars")
    labeled = meta.join(cc, "node")
    best = (labeled.groupBy("component")
            .agg(F.max(F.struct(F.col("n_chars"),
                                (-F.col("node")).alias("neg_id")))
                 .alias("b"),
                 F.count("*").alias("sz"))
            .select(F.col("component").alias("cluster_rep"),
                    (-F.col("b.neg_id")).alias("kept_doc_id"),
                    (F.col("sz") - 1).alias("dropped")))
    return best


def simhash_signatures_query(spark, sf_dir) -> DataFrame:
    """31-bit SimHash per document (dedup.simhash32) — the feature hash
    is a 4-byte windowed polynomial mod 2^31 chosen to be ANSI-SQL
    expressible, so the DuckDB oracle re-derives the full signature
    (votes per bit over every window occurrence)."""
    import pyarrow as pa
    from ..operators import dedup
    df = _read_spread(spark, sf_dir, "documents").select("doc_id", "text")

    def fn(batches):
        for pdf in batches:
            sig = dedup.simhash32(pa.array(pdf["text"].fillna(""), type=pa.large_utf8()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                "simhash": sig})

    return df.mapInPandas(fn, "doc_id long, simhash long")


def ann_cosine_topk(spark, sf_dir) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0 (exact baseline
    of the similarity-search family)."""
    from ..operators import similarity
    df = _read(spark, sf_dir, "embeddings")
    qvec = np.array(df.where(F.col("vec_id") == 0)
                    .select("embedding").first()[0], dtype=np.float64)
    top = similarity.cosine_topk(df, "vec_id", "embedding", qvec, k=10,
                                 exclude_ids=(0,))
    return top.select("vec_id")


def ann_ivf_topk(spark, sf_dir) -> DataFrame:
    """IVF ANN under the oracle gate: with nprobe == n_centroids every
    inverted list is probed, so the result is EXACTLY the brute-force
    top-k — the oracle checks the whole IVF machinery (deterministic
    k-means training, bucket assignment, candidate scan, tie-broken
    partial top-k) end to end.  Production recall/latency trades come
    from lowering nprobe, exercised in test_similarity."""
    from concurrent.futures import ThreadPoolExecutor
    from ..operators import similarity
    df = _read(spark, sf_dir, "embeddings")
    # the query-vector fetch and the centroid training sample are
    # independent driver jobs: overlap them (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_q = pool.submit(lambda: np.array(
            df.where(F.col("vec_id") == 0)
            .select("embedding").first()[0], dtype=np.float64))
        f_c = pool.submit(similarity.train_ivf_centroids, df, "embedding",
                          n_centroids=8, id_col="vec_id")
        qvec, cents = f_q.result(), f_c.result()
    top = similarity.ivf_topk(df, "vec_id", "embedding", cents, qvec,
                              k=10, nprobe=len(cents), exclude_ids=(0,))
    return top.select("vec_id")


def lang_id_stopword(spark, sf_dir) -> DataFrame:
    """Language-ID heuristic: English stopword ppm per document."""
    from ..operators import text_analysis as ta
    df = _read_spread(spark, sf_dir, "documents")
    return df.select("doc_id",
                     ta.stopword_ratio_ppm(F.col("text")).alias("stopword_ppm"))


def doc_fingerprint(spark, sf_dir) -> DataFrame:
    """Rolling-hash document fingerprint (integer-exact, oracle-checked).

    Same formula as text_analysis.rolling_fingerprint (position-weighted
    codepoint sum, period-8 weights, mod 2^31) but computed as one
    vectorized numpy pass over the batch's Arrow string buffer instead
    of a per-character JVM transform/aggregate lambda chain (guide §4.2:
    hand whole batches to native code) — byte fast path for ASCII docs,
    exact UTF-32 codepoint path for any doc carrying non-ASCII bytes,
    NULL text stays NULL."""
    import pyarrow as pa
    from ..codecs.fsst import _string_buffers
    from ..operators.text_analysis import FP_WEIGHTS
    df = _read_spread(spark, sf_dir, "documents").select("doc_id", "text")
    W = np.array(FP_WEIGHTS, dtype=np.int64)
    MOD = np.int64(1 << 31)

    def fn(batches):
        for pdf in batches:
            texts = pdf["text"]
            isnull = texts.isna().to_numpy()
            arr = pa.array(texts.fillna(""), type=pa.large_utf8())
            data, offsets = _string_buffers(arr)
            lens = np.diff(offsets)
            starts = offsets[:-1]
            sums = np.zeros(len(lens), dtype=np.int64)
            ne = lens > 0
            if ne.any():
                pos = (np.arange(len(data), dtype=np.int64)
                       - np.repeat(starts, lens))
                contrib = data.astype(np.int64) * W[pos & 7]
                sums[ne] = np.add.reduceat(contrib, starts[ne])
                hibyte = data >= 0x80
                if hibyte.any():
                    hi = np.zeros(len(lens), bool)
                    hi[ne] = np.add.reduceat(
                        hibyte.astype(np.int64), starts[ne]) > 0
                    for j in np.flatnonzero(hi):
                        cp = np.frombuffer(
                            str(texts.iloc[j]).encode("utf-32-le"),
                            dtype=np.uint32).astype(np.int64)
                        sums[j] = int(
                            (cp * W[np.arange(len(cp)) & 7]).sum())
            fp = pd.Series(sums % MOD, dtype="Int64")
            fp[isnull] = pd.NA
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                "fingerprint": fp})

    return df.mapInPandas(fn, "doc_id long, fingerprint long")


def events_windowed_stats(spark, sf_dir) -> DataFrame:
    """Tumbling-window event stats (the batch twin of
    streaming.windowed_stats): hourly counts + integer-cent value sums
    per event type — pure built-ins, whole-stage codegen end to end."""
    df = _read(spark, sf_dir, "events")
    return (df.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr"),
                       F.col("event_type"))
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .cast("long").alias("value_cents")))


def top_users_by_value(spark, sf_dir) -> DataFrame:
    """Top-k aggregation (TakeOrderedAndProject — no global sort)."""
    df = _read(spark, sf_dir, "events")
    return (df.groupBy("user_id")
            .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
                 .cast("long").alias("value_cents"))
            .orderBy(F.desc("value_cents"), F.asc("user_id"))
            .limit(20))


NGRAM_DF_CAP = 64  # shingles in more docs than this generate no candidates


def ngram_jaccard_pairs(spark, sf_dir) -> DataFrame:
    """Exact n-gram (5-char shingle) Jaccard dedup, skew-safe:

      1. candidate generation self-joins ONLY shingles whose document
         frequency <= NGRAM_DF_CAP — natural-text stop-shingles
         ('the ', ' and') would otherwise be quadratic hot keys at
         scale; a df-cap bounds every join group to cap*(cap-1)/2 pairs,
      2. each candidate PAIR is verified with the vectorized exact
         batch-Jaccard kernel (operators.dedup.batch_jaccard) over the
         pair's two texts — the same verify stage MinHash uses.  Only
         the id-pair list moves (broadcast when it fits, AQE-planned
         beyond the gate); the corpus text column
         is never shuffled when the list broadcasts, and no join downstream of
         candidate generation is keyed on a shingle — a stop-shingle
         shared by every candidate doc can no longer make any join
         group quadratic.  The reported pairs are the same exact
         >= 0.5 pairs as the all-pairs oracle — a true pair is only
         missed if EVERY shared shingle is hotter than the cap, which
         a >= 0.5-Jaccard pair of real documents never is.
    """
    import pyarrow as pa
    from .. import functions as cvf
    from ..operators.dedup import batch_jaccard
    df = _read(spark, sf_dir, "documents").where(F.length("text") >= 5)
    sh = (df.select(F.col("doc_id"),
                    F.explode(F.array_distinct(
                        cvf.char_shingles(F.col("text"), 5))).alias("s")))

    # 1. df-capped candidate generation (bounded join groups)
    rare = (sh.groupBy("s").agg(F.count("*").alias("df"))
            .where(F.col("df") <= NGRAM_DF_CAP).select("s"))
    sh_rare = sh.join(rare, "s")
    ra, rb = sh_rare.alias("a"), sh_rare.alias("b")
    cand = (ra.join(rb, "s")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"))
            .distinct())

    # 2. exact per-pair Jaccard: texts attached by joining the id-pair
    # list into two corpus scans, scored batch-at-a-time.  The list is
    # materialized once (it feeds both scans) and the broadcast hint is
    # gated on its measured size — same rule as minhash_near_dups
    from ..operators.dedup import CAND_BROADCAST_MAX_PAIRS
    cand = cand.localCheckpoint(eager=True)
    cand_hint = (F.broadcast(cand)
                 if cand.count() <= CAND_BROADCAST_MAX_PAIRS else cand)
    t1 = df.select(F.col("doc_id").alias("d1"), F.col("text").alias("t1"))
    t2 = df.select(F.col("doc_id").alias("d2"), F.col("text").alias("t2"))
    withtext = (t1.join(cand_hint, "d1")
                .join(t2.join(cand_hint, "d2"), ["d1", "d2"]))

    def verify_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            a1 = pa.array(pdf["t1"].fillna(""), type=pa.large_utf8())
            a2 = pa.array(pdf["t2"].fillna(""), type=pa.large_utf8())
            j = batch_jaccard(a1, a2, 5)
            keep = j >= 0.5
            yield pd.DataFrame({
                "d1": pdf["d1"].to_numpy()[keep].astype(np.int64),
                "d2": pdf["d2"].to_numpy()[keep].astype(np.int64)})

    return withtext.mapInPandas(verify_fn, "d1 long, d2 long")


def embedding_near_dup(spark, sf_dir) -> DataFrame:
    """Embedding-cosine near-dup WITHOUT an all-pairs join: multi-table
    hyperplane-LSH bucketing with exact in-bucket numpy cosine verify
    (operators.similarity.cosine_near_dup_lsh) — scale-adaptive plane /
    table counts keep candidate work ~linear in N.  No cross /
    broadcast-nested-loop join appears in the plan; the only large
    shuffle keys on uniform (table, bucket).

    The fixture's random embeddings have max pairwise cosine ~0.51, so
    the corpus is augmented with DETERMINISTIC planted twins (every
    50th vec_id scaled by exactly 2.0 — a power of two, so the float32
    values are exact and the twin's direction is identical): the oracle
    row is then non-vacuous (one true pair per planted twin), and the
    LSH path must actually FIND them — a parallel twin lands in the
    same hyperplane bucket in every table, so 100% recall is guaranteed
    structurally, and the verify stage's exact cosine (=1.0) is far
    from the 0.95 threshold on both engines."""
    from ..operators import similarity
    base = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = (base.where(F.col("vec_id") % 50 == 0)
             .select((F.col("vec_id") + 10000000).alias("vec_id"),
                     F.expr("transform(embedding, x -> "
                            "CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))")
                     .alias("embedding")))
    df = base.unionByName(twins)
    return similarity.cosine_near_dup_lsh(df, "vec_id", "embedding",
                                          threshold_ppm=950000)


def semantic_dedup_clusters(spark, sf_dir) -> DataFrame:
    """Semantic (embedding-space) dedup clusters — the SemDeDup-style
    pipeline step: hyperplane-LSH cosine pairs (same plan as
    embedding_near_dup, >= 0.95 cosine, planted deterministic twins) ->
    large-star/small-star connected components -> (vec_id, cluster_rep,
    cluster_size).  Same closure operator as text near-dup clusters;
    only the pair-finding modality differs."""
    from ..operators import dedup, similarity
    base = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = (base.where(F.col("vec_id") % 50 == 0)
             .select((F.col("vec_id") + 10000000).alias("vec_id"),
                     F.expr("transform(embedding, x -> "
                            "CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))")
                     .alias("embedding")))
    df = base.unionByName(twins)
    pairs = similarity.cosine_near_dup_lsh(df, "vec_id", "embedding",
                                           threshold_ppm=950000)
    cc = dedup.connected_components(pairs, "v1", "v2")
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (cc.join(sizes, "component")
            .select(F.col("node").alias("vec_id"),
                    F.col("component").alias("cluster_rep"),
                    F.col("cluster_size")))


def exact_dedup(spark, sf_dir) -> DataFrame:
    """Exact dedup via hash-groupBy (map-side partial agg, one shuffle
    of (hash, count) pairs only)."""
    df = _read(spark, sf_dir, "documents")
    return (df.groupBy(F.md5(F.col("text")).alias("h")).count()
              .agg(F.count("*").cast("long").alias("n_unique"),
                   F.sum(F.col("count") - 1).cast("long").alias("n_dups")))


def token_count_per_doc(spark, sf_dir) -> DataFrame:
    """Whitespace token counting (text analysis family)."""
    df = _read_spread(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    cnt = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1)
    return df.select("doc_id", cnt.cast("long").alias("n_tokens"))


def token_budget_shards(spark, sf_dir) -> DataFrame:
    """Token-budget sharding for training-data packing: docs in doc_id
    order are assigned contiguous shard ids so each shard holds ~BUDGET
    tokens (shard = floor(exclusive-prefix-tokens / BUDGET)).  Runs on
    the distributed two-pass prefix-sum scan (operators.scan
    global_cumsum) — no single-partition window, no driver data."""
    from ..operators.scan import global_cumsum
    BUDGET = 4096
    df = _read(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    n_tokens = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1).cast("long")
    d = df.select("doc_id", n_tokens.alias("n_tokens"))
    with_run = global_cumsum(d, ["doc_id"], "n_tokens", out_col="run_tokens",
                             bounds=_table_minmax(sf_dir, "documents",
                                                  "doc_id"))
    return with_run.select(
        "doc_id", "n_tokens",
        F.floor((F.col("run_tokens") - F.col("n_tokens")) / BUDGET)
        .cast("long").alias("shard_id"))


def stratified_sample(spark, sf_dir) -> DataFrame:
    """Deterministic per-language stratified sampling: keep a doc iff
    md5(text) falls under its language's hex threshold (en 50%, others
    25%).  Pure map — content-hash thresholds reproduce exactly on any
    engine and any cluster size, no RNG state."""
    df = _read(spark, sf_dir, "documents")
    h = F.md5(F.col("text"))
    threshold = F.when(F.col("lang") == "en", F.lit("8")).otherwise(F.lit("4"))
    return (df.where(F.substring(h, 1, 1) < threshold)
            .select("doc_id", "lang"))


def corpus_clean_pipeline(spark, sf_dir) -> DataFrame:
    """Composed training-data cleaning pipeline, all JVM built-ins
    (whole-stage codegen end to end): language filter -> quality gates
    (token count, space-ratio band) -> keep-first exact dedup
    (min doc_id per content hash).  One groupBy shuffle on the content
    hash with map-side partial agg; every other stage is a narrow scan.
    The unit operators it composes (lang_id, quality_score,
    token_count, exact_dedup) are each oracle-checked separately."""
    df = _read(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    n_tokens = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1).cast("long")
    length = F.length(F.col("text"))
    spaces = length - F.length(F.regexp_replace(F.col("text"), " ", ""))
    ppm = F.floor(spaces.cast("double") * 1000000.0
                  / F.greatest(length, F.lit(1))).cast("long")
    scored = df.select("doc_id", "lang", "text",
                       n_tokens.alias("n_tokens"), ppm.alias("space_ppm"))
    filtered = scored.where((F.col("lang") == "en")
                            & (F.col("n_tokens") >= 40)
                            & F.col("space_ppm").between(150000, 200000))
    return (filtered.groupBy(F.md5(F.col("text")).alias("h"))
            .agg(F.min("doc_id").cast("long").alias("doc_id"),
                 F.min("n_tokens").cast("long").alias("n_tokens"))
            .select("doc_id", "n_tokens"))


def quality_score(spark, sf_dir) -> DataFrame:
    """Quality metrics: length / space ratio / uppercase-start share."""
    df = _read_spread(spark, sf_dir, "documents")
    length = F.length(F.col("text"))
    spaces = length - F.length(F.regexp_replace(F.col("text"), " ", ""))
    # ppm as floor(double) is bit-deterministic across engines, unlike round()
    ppm = F.floor(spaces.cast("double") * 1000000.0 / F.greatest(length, F.lit(1)))
    return df.select(
        "doc_id",
        length.cast("long").alias("n_chars"),
        ppm.cast("long").alias("space_ratio_ppm"),
    )


MEDIA_ORACLE_ROWS = 300
# bump when synthetic_media's generator or schema changes: the path is
# keyed on (version, rows) so a changed generator can never silently
# reuse a stale parquet written by an older build
MEDIA_GEN_VERSION = 4  # v4: images rotate ppm / png / baseline jpeg


def _media_oracle_dir() -> str:
    """Deterministic scratch dir shared by the Spark query and the
    DuckDB oracle SQL (which has no SparkSession): $CVX_SCRATCH_DIR if
    set (a shared filesystem on a real cluster), else the system temp
    dir.  Keyed on generator version + row count (never a bare
    hard-coded path), and the query always rewrites it (300 rows is
    cheap), so stale or concurrently-written files cannot diverge."""
    import tempfile
    base = os.environ.get("CVX_SCRATCH_DIR") or tempfile.gettempdir()
    return os.path.join(
        base, f"cvx_media_oracle_v{MEDIA_GEN_VERSION}_r{MEDIA_ORACLE_ROWS}")


def media_inventory(spark, sf_dir) -> DataFrame:
    """Multimodal inventory under the oracle gate: the Spark side
    PARSES every payload with the real container parsers (P6 PPM
    pixels, RIFF/WAVE samples, RGB24-AVI frames —
    operators/multimodal.py) and aggregates per kind; the DuckDB oracle
    re-derives the same numbers from the parquet METADATA columns + its
    own sha256/octet_length over the payload blobs (video pixels =
    duration_ms * VIDEO_FPS / 1000 frames x width x height).  A parser
    drifting from the container contract (or a payload corrupted
    anywhere in the pipeline) breaks the hash match.
    The media table is deterministic synthetic parquet both engines
    read from the same version-keyed scratch path; the write is
    unconditional (mode=overwrite) so generator changes always take
    effect."""
    import hashlib
    from ..operators import multimodal as mm
    pq = os.path.join(_media_oracle_dir(), "media.parquet")
    if not os.path.exists(os.path.join(pq, "_SUCCESS")):  # write-once
        mm.synthetic_media(spark, MEDIA_ORACLE_ROWS).write \
            .mode("overwrite").parquet(pq)
    df = spark.read.parquet(pq)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for kind, payload, codec in zip(pdf["kind"], pdf["payload"],
                                            pdf["codec"]):
                b = bytes(payload)
                px = samples = 0
                if kind == "image":
                    img = mm.decode_image(b, str(codec))
                    px = int(img.shape[0]) * int(img.shape[1])
                elif kind == "audio":
                    s, sr = mm.decode_wav(b)
                    assert sr == mm.AUDIO_SR
                    samples = len(s)
                elif kind == "video":
                    frames, fps = mm.decode_avi(b)
                    assert fps == mm.VIDEO_FPS
                    px = int(frames.shape[0]) * int(frames.shape[1]) \
                        * int(frames.shape[2])
                rows.append((str(kind), len(b),
                             hashlib.sha256(b).hexdigest(), px, samples))
            yield pd.DataFrame(rows, columns=["kind", "nbytes", "sha",
                                              "px", "samples"])

    parsed = df.select("kind", "payload", "codec").mapInPandas(
        fn, "kind string, nbytes long, sha string, px long, samples long")
    return (parsed.groupBy("kind")
            .agg(F.count("*").cast("long").alias("cnt"),
                 F.sum("nbytes").cast("long").alias("payload_bytes"),
                 F.count_distinct("sha").cast("long").alias("distinct_payloads"),
                 F.sum("px").cast("long").alias("pixels"),
                 F.sum("samples").cast("long").alias("samples")))


def media_inventory_oracle() -> str:
    """Oracle SQL built at CALL time so it resolves the same
    version-keyed scratch path as the Spark query."""
    return f"""
SELECT kind,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(octet_length(payload)) AS BIGINT) AS payload_bytes,
       CAST(count(DISTINCT payload) AS BIGINT) AS distinct_payloads,
       CAST(sum(CASE WHEN kind = 'image' THEN width * height
                     WHEN kind = 'video'
                       THEN (duration_ms * 4 // 1000) * width * height
                     ELSE 0 END)
            AS BIGINT) AS pixels,
       CAST(sum(CASE WHEN kind = 'audio' THEN duration_ms * 8 ELSE 0 END)
            AS BIGINT) AS samples
FROM '{_media_oracle_dir()}/media.parquet/*.parquet'
GROUP BY kind
"""


URL_ORACLE_ROWS = 600
# bump when the messy-url generator changes; the scratch path is keyed
# on (version, rows) and the write is unconditional, so a stale parquet
# can never silently satisfy the gate
URL_GEN_VERSION = 1


def _url_oracle_dir() -> str:
    import tempfile
    base = os.environ.get("CVX_SCRATCH_DIR") or tempfile.gettempdir()
    return os.path.join(
        base, f"cvx_url_oracle_v{URL_GEN_VERSION}_r{URL_ORACLE_ROWS}")


def _messy_urls() -> pd.DataFrame:
    """Deterministic Common-Crawl-shaped URL mess: every canonical page
    appears as 4 surface variants (scheme, www, case, query, fragment,
    trailing slash) — index arithmetic only, no RNG."""
    rows = []
    n_canon = URL_ORACLE_ROWS // 4
    for i in range(URL_ORACLE_ROWS):
        b = i % n_canon
        host = f"site{b % 25}.example.com"
        path = f"/a{b}/b{b % 7}"
        v = i // n_canon
        if v == 0:
            url = f"https://{host}{path}"
        elif v == 1:
            url = f"http://www.{host}{path}/"
        elif v == 2:
            url = f"https://{host.upper()}{path}?utm_source=feed&ref=rss"
        else:
            url = f"https://{host}{path}/#section2"
        rows.append((i, url))
    return pd.DataFrame(rows, columns=["page_id", "url"])


def url_canonical_dedup(spark, sf_dir) -> DataFrame:
    """URL canonicalization dedup — the first pass of every web-corpus
    pipeline: strip fragment and query string, fold http->https and
    www., lowercase the host (never the path), drop trailing slashes,
    then group.  Returns (canon_url, n_variants) for groups with >= 2
    surface forms.  All transforms are JVM regexp built-ins (zero
    Python rows); the oracle re-derives the same canonicalization in
    DuckDB SQL over the same deterministic parquet."""
    pq = os.path.join(_url_oracle_dir(), "urls.parquet")
    # write-once fixture (same rule as the nulls oracle): content is a
    # pure function of the version-keyed path, so a completed write
    # never needs refreshing and the oracle can never race an overwrite
    if not os.path.exists(os.path.join(pq, "_SUCCESS")):
        spark.createDataFrame(_messy_urls()).coalesce(1).write \
            .mode("overwrite").parquet(pq)
    df = spark.read.parquet(pq)
    c = F.regexp_replace("url", "#.*", "")
    c = F.regexp_replace(c, r"\?.*", "")
    c = F.regexp_replace(c, "^http://", "https://")
    c = F.regexp_replace(c, r"^https://www\.", "https://")
    host = F.lower(F.regexp_extract(c, "^https://([^/]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract(c, "^https://[^/]+(/.*)?", 1), "/+$", "")
    canon = F.concat(F.lit("https://"), host, path)
    return (df.select(canon.alias("canon_url"))
            .groupBy("canon_url")
            .agg(F.count("*").cast("long").alias("n_variants"))
            .where(F.col("n_variants") >= 2))


def url_canonical_dedup_oracle() -> str:
    """Oracle SQL built at call time so it resolves the same
    version-keyed scratch path as the Spark query."""
    return f"""
WITH c AS (
  SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             url, '#.*', ''), '\\?.*', ''),
             '^http://', 'https://'), '^https://www\\.', 'https://') AS u
  FROM '{_url_oracle_dir()}/urls.parquet/*.parquet'
), k AS (
  SELECT 'https://' || lower(regexp_extract(u, '^https://([^/]+)', 1))
         || regexp_replace(regexp_extract(u, '^https://[^/]+(/.*)?', 1),
                           '/+$', '') AS canon_url
  FROM c
)
SELECT canon_url, CAST(count(*) AS BIGINT) AS n_variants
FROM k GROUP BY canon_url HAVING count(*) >= 2
"""


PII_ORACLE_ROWS = 300
PII_GEN_VERSION = 1

# identical semantics in Java regex (Spark) and RE2 (DuckDB): character
# classes, bounded repetition, \b word boundaries only
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def _pii_oracle_dir() -> str:
    import tempfile
    base = os.environ.get("CVX_SCRATCH_DIR") or tempfile.gettempdir()
    return os.path.join(
        base, f"cvx_pii_oracle_v{PII_GEN_VERSION}_r{PII_ORACLE_ROWS}")


def _pii_docs() -> pd.DataFrame:
    """Deterministic docs, 2/3 carrying planted emails+phones (index
    arithmetic only, no RNG)."""
    rows = []
    for i in range(PII_ORACLE_ROWS):
        if i % 3 == 0:
            text = f"doc {i} has no contact info, just words w{i % 11}."
        else:
            text = (f"doc {i}: reach user{i}@mail{i % 7}.org or "
                    f"backup.{i}@sub.example.co, call "
                    f"555-{100 + i % 900:03d}-{1000 + i:04d} today.")
        rows.append((i, text))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def pii_scrub(spark, sf_dir) -> DataFrame:
    """PII scrubbing pass — redact emails and NANP-style phone numbers
    to typed placeholders, returning every doc's scrubbed text.  All
    JVM `regexp_replace` (replace-all), zero Python rows; the oracle
    applies the same two regexes in DuckDB (RE2, 'g' flag) and the
    scrubbed text must match byte-for-byte."""
    pq = os.path.join(_pii_oracle_dir(), "docs.parquet")
    if not os.path.exists(os.path.join(pq, "_SUCCESS")):  # write-once
        spark.createDataFrame(_pii_docs()).coalesce(1).write \
            .mode("overwrite").parquet(pq)
    df = spark.read.parquet(pq)
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE, "<PHONE>")
    return df.select("doc_id", scrubbed.alias("scrubbed"))


def pii_scrub_oracle() -> str:
    return f"""
SELECT doc_id,
       regexp_replace(regexp_replace(text,
           '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM '{_pii_oracle_dir()}/docs.parquet/*.parquet'
"""


def repetition_ratio(spark, sf_dir) -> DataFrame:
    """Within-doc token-repetition ratio (the Gopher-rules quality
    signal: heavily repetitive docs are boilerplate/spam).  The counts
    are per-document array functions (size / array_distinct), so the
    whole query is a narrow JVM map over the corpus — no explode, no
    shuffle at all (the former explode + count_distinct groupBy
    shuffled one row per (doc, distinct token)); the ratio is exact
    integer ppm so both engines agree bit-for-bit."""
    df = (_read_spread(spark, sf_dir, "documents")
          .where(F.col("text").isNotNull())
          .select("doc_id", F.split("text", " ").alias("toks")))
    agg = df.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"))
    # integer `div`, not float `/`: DuckDB's `//` is exact integer
    # floor division and float rounding could differ at the boundary
    dup_ppm = F.expr(
        "(n_tokens - n_distinct) * 1000000L div n_tokens").cast("long")
    return agg.select("doc_id", "n_tokens", "n_distinct",
                      dup_ppm.alias("dup_ppm"))


def events_asof_join(spark, sf_dir) -> DataFrame:
    """AS-OF join — each click matched to the same user's latest view
    at or before it (attribution, the canonical time-series join Spark
    lacks as a built-in).  Implemented the scalable way: tag both
    sides, UNION, and carry the last view forward with a running
    `last(ignorenulls)` window over (user, ts) — ONE hash shuffle on
    user_id and a linear sorted scan, instead of a per-row range join
    (quadratic in events-per-user) or a per-key lookup table.  Same-ts
    view+click pairs order the view first (is_click sorts after), so
    'at or before' is inclusive, matching the oracle's native
    ASOF JOIN `c.ts >= v.ts`."""
    from pyspark.sql import Window

    # NULL user_ids are dropped to match SQL join semantics (the window
    # would otherwise group all null users into one key); among tied
    # view timestamps Spark picks the largest event_id (the window
    # order is fully deterministic) — the oracle's ASOF pick among
    # right-side ts ties is unspecified, so inputs with duplicate
    # (user, ts) view pairs are outside the byte-exact gate (none
    # exist at any test SF).
    ev = (_read(spark, sf_dir, "events")
          .where(F.col("event_type").isin("view", "click")
                 & F.col("user_id").isNotNull())
          .select("event_id", "ts", "user_id",
                  (F.col("event_type") == "click").cast("int")
                  .alias("is_click")))
    view_ref = F.when(F.col("is_click") == 0,
                      F.struct("ts", "event_id"))
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "is_click", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = ev.withColumn("prior_view",
                            F.last(view_ref, ignorenulls=True).over(w))
    return (carried
            .where((F.col("is_click") == 1)
                   & F.col("prior_view").isNotNull())
            .select(F.col("event_id").alias("click_id"),
                    "user_id",
                    F.col("prior_view.event_id").alias("prior_view_id"),
                    # timestampdiff is wall-clock on TIMESTAMP_NTZ —
                    # no session-timezone dependence
                    F.expr("timestampdiff(MICROSECOND, prior_view.ts, ts)")
                    .cast("long").alias("gap_us")))


def events_asof_join_oracle() -> str:
    return """
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
     v AS (SELECT * FROM events WHERE event_type = 'view')
SELECT c.event_id AS click_id, c.user_id, v.event_id AS prior_view_id,
       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM c ASOF JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
"""


# Gopher quality-rule thresholds (Rae et al. 2021 table A1).  Word-count
# bounds are scaled to this corpus's 10-99-token docs so the flag is
# non-vacuous at test SFs; production uses (50, 100000).
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL_MILLI = 3000     # mean word length in [3, 10] chars
GOPHER_MAX_MWL_MILLI = 10000
GOPHER_MIN_STOPWORDS = 2        # >= 2 distinct stop words present
GOPHER_MIN_ALPHA_PPM = 800_000  # >= 80% of words contain a letter
_GOPHER_STOPS = ("the", "a", "of", "to", "in", "and")


def gopher_quality_flags(spark, sf_dir) -> DataFrame:
    """The Gopher document-quality rule set as exact integer signals:
    word count, mean word length (milli-chars), distinct-stopword hits,
    alphabetic-word fraction (ppm), and the combined pass flag.  Every
    signal is a JVM higher-order function over the split token array
    (aggregate / array_intersect / filter) — no explode, no shuffle, a
    pure map over the corpus; ratios are integer `div` so both engines
    agree bit-for-bit."""
    stops = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)
    df = (_read_spread(spark, sf_dir, "documents")
          .where(F.col("text").isNotNull())
          .select("doc_id", F.split("text", " ").alias("toks")))
    s = df.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))")
        .alias("charsum"),
        F.expr(f"size(array_intersect(array_distinct(toks), "
               f"array({stops})))").cast("long").alias("stopword_hits"),
        F.expr("size(filter(toks, x -> x rlike '[a-zA-Z]'))")
        .cast("long").alias("alphacnt"))
    mwl = F.expr("charsum * 1000L div n_words")
    appm = F.expr("alphacnt * 1000000L div n_words")
    passes = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (mwl >= GOPHER_MIN_MWL_MILLI) & (mwl <= GOPHER_MAX_MWL_MILLI)
        & (F.col("stopword_hits") >= GOPHER_MIN_STOPWORDS)
        & (appm >= GOPHER_MIN_ALPHA_PPM))
    return s.select(
        "doc_id", "n_words",
        mwl.cast("long").alias("mean_word_len_milli"),
        "stopword_hits",
        appm.cast("long").alias("alpha_word_ppm"),
        passes.cast("long").alias("passes"))


def gopher_quality_flags_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
         AS BIGINT) AS charsum,
    CAST(len(list_intersect(list_distinct(toks), [{stops}]))
         AS BIGINT) AS stopword_hits,
    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
         AS BIGINT) AS alphacnt
  FROM t
)
SELECT doc_id, n_words,
  charsum * 1000 // n_words AS mean_word_len_milli,
  stopword_hits,
  alphacnt * 1000000 // n_words AS alpha_word_ppm,
  CAST(CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND charsum * 1000 // n_words
            BETWEEN {GOPHER_MIN_MWL_MILLI} AND {GOPHER_MAX_MWL_MILLI}
        AND stopword_hits >= {GOPHER_MIN_STOPWORDS}
        AND alphacnt * 1000000 // n_words >= {GOPHER_MIN_ALPHA_PPM}
       THEN 1 ELSE 0 END AS BIGINT) AS passes
FROM s
"""


C4_ORACLE_ROWS = 240
C4_GEN_VERSION = 1
C4_MIN_WORDS = 5      # C4: drop lines with fewer than 5 words
C4_MIN_LINES = 3      # C4: drop pages with fewer than 3 kept sentences


def _c4_oracle_dir() -> str:
    import tempfile
    base = os.environ.get("CVX_SCRATCH_DIR") or tempfile.gettempdir()
    return os.path.join(
        base, f"cvx_c4_oracle_v{C4_GEN_VERSION}_r{C4_ORACLE_ROWS}")


def _c4_docs() -> pd.DataFrame:
    """Deterministic web-page-shaped docs mixing C4-keepable sentences
    with every class of droppable line (short, unterminated nav,
    javascript notices, lorem-ipsum filler, code braces).  Every 10th
    doc has only one good line, exercising the <3-kept page drop."""
    rows = []
    for i in range(C4_ORACLE_ROWS):
        lines = [
            f"This is paragraph {i} about topic t{i % 7} with several words.",
            f"Short line {i}.",
            "home | about | contact",
            f"Please enable JavaScript to view doc {i} content.",
            f"Lorem ipsum dolor sit amet doc {i} filler text.",
            f"function f{i}() {{ return {i}; }}",
        ]
        if i % 10 != 0:
            lines += [
                f"Another valid sentence number {i} appears right here.",
                f"Document {i} closes with a final complete sentence!",
            ]
        rows.append((i, "\n".join(lines)))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def c4_line_filter(spark, sf_dir) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep
    only lines that end in terminal punctuation, have >= 5 words, and
    contain no 'javascript' notice, no 'lorem ipsum', and no curly
    brace; then drop pages left with < 3 kept lines.  The whole pass is
    one JVM `filter` lambda over the split line array — no explode, no
    shuffle, a pure map over the corpus (the cheapest possible shape at
    100 TB).  Byte-exact cleaned text vs the DuckDB oracle's
    list_filter over the same deterministic parquet."""
    pq = os.path.join(_c4_oracle_dir(), "docs.parquet")
    if not os.path.exists(os.path.join(pq, "_SUCCESS")):  # write-once
        spark.createDataFrame(_c4_docs()).coalesce(1).write \
            .mode("overwrite").parquet(pq)
    df = spark.read.parquet(pq)
    kept = F.expr(
        "filter(split(text, '\n'), x -> "
        "x rlike '[.!?\"]$' AND size(split(x, ' ')) >= "
        f"{C4_MIN_WORDS} "
        "AND NOT contains(lower(x), 'javascript') "
        "AND NOT contains(lower(x), 'lorem ipsum') "
        "AND NOT contains(x, '{'))").alias("kept")
    total = F.size(F.split("text", "\n"))
    out = df.select("doc_id", kept, total.alias("total"))
    return (out.where(F.size("kept") >= C4_MIN_LINES)
            .select("doc_id",
                    F.array_join("kept", "\n").alias("cleaned"),
                    F.size("kept").cast("long").alias("kept_lines"),
                    (F.col("total") - F.size("kept")).cast("long")
                    .alias("dropped_lines")))


def c4_line_filter_oracle() -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, text FROM '{_c4_oracle_dir()}/docs.parquet/*.parquet'
), k AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x ->
           regexp_matches(x, '[.!?"]$')
           AND len(string_split(x, ' ')) >= {C4_MIN_WORDS}
           AND NOT contains(lower(x), 'javascript')
           AND NOT contains(lower(x), 'lorem ipsum')
           AND NOT contains(x, '{{')) AS kept,
         len(string_split(text, chr(10))) AS total
  FROM docs
)
SELECT doc_id, array_to_string(kept, chr(10)) AS cleaned,
       CAST(len(kept) AS BIGINT) AS kept_lines,
       CAST(total - len(kept) AS BIGINT) AS dropped_lines
FROM k WHERE len(kept) >= {C4_MIN_LINES}
"""


DUPSPAN_K = 13   # repeated-span width in tokens (Lee et al. use 50 at
                 # web scale; scaled to this corpus's 10-99-token docs)


def duplicate_span_removal(spark, sf_dir) -> DataFrame:
    """Exact repeated-span removal — the corpus-level substring dedup
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), as a distributed approximation: a token position
    is covered if any K-gram through it occurs >= 2 times ANYWHERE in
    the corpus (across or within docs), and covered positions are
    removed from the rebuilt text.  Maximal repeated spans >= K tokens
    are removed in full, exactly like the suffix-array formulation;
    spans shorter than K survive (the approximation).

    Scale shape: K-grams shuffle ONCE on the gram hash for the global
    df count (this is the known cost of substring dedup at scale — the
    distributed replacement for a single-machine suffix array); the
    duplicate-gram join is an ordinary hash join (AQE may broadcast
    when the duplicate set is small), coverage positions aggregate
    per-doc with map-side combine, and the rebuild is a JVM indexed
    `transform`/`filter` over the token array.  Returns
    (doc_id, n_removed, cleaned) for affected docs only."""
    k = DUPSPAN_K
    docs_txt = (_read_spread(spark, sf_dir, "documents")
                .where(F.col("text").isNotNull())
                .select("doc_id", "text"))
    docs = docs_txt.select("doc_id", F.split("text", " ").alias("toks"))
    # gram identity = 64-bit span hash from ONE vectorized numpy pass
    # (operators.dedup.token_gram_hashes): equal iff the k-token slices
    # are equal, so the covered position set is unchanged (collisions
    # ~1e-6 at 10^6 distinct grams).  The global-df shuffle and the
    # duplicate-gram join carry 8-byte keys instead of ~(k * token)
    # gram STRINGS (guide §2.3), and the former per-position JVM
    # transform/slice/hash chain — the single most expensive stage of
    # this query, re-run once per consumer — is gone.  The gram table
    # is NOT checkpointed: both consumers (the df count and the cov
    # join) regenerate it in one pipelined DAG — with the cheap numpy
    # kernel the second pass costs less than the blocking localCheckpoint
    # materialization did (fresh-session A/B at the 6M-row replica:
    # 4.9 s checkpointed vs 3.15 s pipelined; a wash at sf0.1).
    # token_gram_hashes is deterministic, so recomputation under task
    # retry yields identical grams.
    from ..operators.dedup import token_gram_hashes

    def gram_fn(batches):
        import pyarrow as pa
        for pdf in batches:
            arr = pa.array(pdf["text"], type=pa.large_utf8())
            di, pos, gh = token_gram_hashes(arr, k)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[di],
                "i": pos,
                "gram": gh.view(np.int64)})

    grams = docs_txt.mapInPandas(gram_fn, "doc_id long, i int, gram long")
    dup = (grams.groupBy("gram").agg(F.count("*").alias("n"))
           .where(F.col("n") >= 2).select("gram"))
    # no .distinct() before collect_set: the set aggregate already
    # dedups with map-side partial aggregation — a distinct here would
    # add a second full shuffle of the widest dataset in the job
    cov = (grams.join(dup, "gram")
           .select("doc_id",
                   F.explode(F.expr(f"sequence(i, i + {k - 1})"))
                   .alias("p")))
    covset = cov.groupBy("doc_id").agg(F.collect_set("p").alias("cov"))
    cleaned = F.expr(
        "array_join(filter(transform(toks, (x, j) -> "
        "IF(array_contains(cov, j + 1), NULL, x)), "
        "x -> x IS NOT NULL), ' ')")
    return (docs.join(covset, "doc_id")
            .select("doc_id",
                    F.size("cov").cast("long").alias("n_removed"),
                    cleaned.alias("cleaned")))


def duplicate_span_removal_oracle() -> str:
    k = DUPSPAN_K
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
), dg AS (
  SELECT doc_id, i, array_to_string(t[i:i+{k - 1}], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - {k - 2})) AS u(i)
  WHERE len(t) >= {k}
), dup AS (
  SELECT gram FROM dg GROUP BY gram HAVING count(*) >= 2
), cov AS (
  SELECT DISTINCT dg.doc_id, u2.p
  FROM dg JOIN dup USING (gram), unnest(range(dg.i, dg.i + {k})) AS u2(p)
), cs AS (
  SELECT doc_id, list(p) AS cov FROM cov GROUP BY doc_id
)
SELECT toks.doc_id,
       CAST(len(cs.cov) AS BIGINT) AS n_removed,
       coalesce(array_to_string(
         list_filter(toks.t, (x, j) -> NOT list_contains(cs.cov, j)),
         ' '), '') AS cleaned
FROM toks JOIN cs ON toks.doc_id = cs.doc_id
"""


DECONTAM_N = 13          # n-gram width (Lee et al. / GPT-3 appendix use 13)
DECONTAM_EVAL_MOD = 37   # doc_id % 37 == 0 docs donate an eval-set gram


def decontaminate_ngram_overlap(spark, sf_dir) -> DataFrame:
    """Benchmark decontamination — flag training docs sharing any
    13-gram with the eval set, the standard pre-training hygiene pass
    (GPT-3 appendix C / Lee et al. 2022).  The eval set here is derived
    deterministically (one 13-gram from every doc_id % 37 == 0 doc) so
    both engines construct it identically; in production it would be a
    broadcast side table of benchmark n-grams.  Scale shape: the eval
    gram set is tiny and BROADCAST; doc 13-grams are generated
    per-partition with JVM `transform`/`slice` (never materialized as a
    corpus-wide shuffle of text) and hash-joined in place; the per-doc
    hit count is a partial-aggregated groupBy on doc_id.  Returns
    (doc_id, n_contaminated) for contaminated docs only — the removal
    list."""
    n = DECONTAM_N
    docs_txt = (_read_spread(spark, sf_dir, "documents")
                .where(F.col("text").isNotNull())
                .select("doc_id", "text"))
    # gram identity = 64-bit span hash from ONE vectorized numpy pass
    # (operators.dedup.token_gram_hashes, shared with the dup-span
    # query): no gram string is ever materialized, the broadcast probe
    # and per-doc aggregation work on 8-byte keys, and the eval set is
    # a filter of the SAME gram table (a position-4 gram exists exactly
    # when size(toks) >= n + 3), so one pass feeds both sides
    from ..operators.dedup import token_gram_hashes

    def gram_fn(batches):
        import pyarrow as pa
        for pdf in batches:
            arr = pa.array(pdf["text"], type=pa.large_utf8())
            di, pos, gh = token_gram_hashes(arr, n)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[di],
                "i": pos,
                "gram": gh.view(np.int64)})

    grams = (docs_txt.mapInPandas(gram_fn, "doc_id long, i int, gram long")
             .localCheckpoint(eager=True))
    eval_grams = (grams.where((F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
                              & (F.col("i") == 4))
                  .select("gram").distinct())
    return (grams.select("doc_id", "gram")
            .join(F.broadcast(eval_grams), "gram")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_contaminated")))


def decontaminate_ngram_overlap_oracle() -> str:
    n = DECONTAM_N
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
), ev AS (
  SELECT DISTINCT array_to_string(t[4:{4 + n - 1}], ' ') AS gram
  FROM toks WHERE doc_id % {DECONTAM_EVAL_MOD} = 0 AND len(t) >= {n + 3}
), dg AS (
  SELECT doc_id, array_to_string(t[i:i+{n - 1}], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - {n - 2})) AS u(i)
  WHERE len(t) >= {n}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
FROM dg JOIN ev USING (gram) GROUP BY doc_id
"""


BOILER_ORACLE_ROWS = 200
BOILER_GEN_VERSION = 1
BOILER_DF_THRESHOLD = 5   # a line in >= 5 distinct docs is boilerplate


def _boiler_oracle_dir() -> str:
    import tempfile
    base = os.environ.get("CVX_SCRATCH_DIR") or tempfile.gettempdir()
    return os.path.join(
        base, f"cvx_boiler_oracle_v{BOILER_GEN_VERSION}_r{BOILER_ORACLE_ROWS}")


def _boiler_docs() -> pd.DataFrame:
    """Deterministic multi-line docs: shared nav/footer lines (each in
    ~20 docs) around unique body lines."""
    rows = []
    for i in range(BOILER_ORACLE_ROWS):
        site = i % 10
        lines = [f"welcome to site s{site}",
                 f"body {i} first line w{i % 13}",
                 f"body {i} second line w{i % 17}",
                 f"copyright site s{site}"]
        rows.append((i, "\n".join(lines)))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def boilerplate_removal(spark, sf_dir) -> DataFrame:
    """Corpus-frequency boilerplate removal — drop every line that
    appears in >= threshold distinct docs (nav bars, footers), keeping
    the remaining lines in original order.  The frequent-line set is
    tiny BY CONSTRUCTION (high doc-frequency means few distinct
    templates), so it rides a broadcast cross-join and the per-doc
    rebuild is one JVM `filter` lambda over the split array — no
    explode/re-sort shuffle of the corpus text.  The oracle re-derives
    the same cleaned text in DuckDB (list_filter over the same
    frequent-line list); cleaned docs must match byte-for-byte."""
    pq = os.path.join(_boiler_oracle_dir(), "docs.parquet")
    if not os.path.exists(os.path.join(pq, "_SUCCESS")):  # write-once
        spark.createDataFrame(_boiler_docs()).coalesce(1).write \
            .mode("overwrite").parquet(pq)
    df = spark.read.parquet(pq)
    lines = df.select("doc_id",
                      F.explode(F.array_distinct(F.split("text", "\n")))
                      .alias("line"))
    freq = (lines.groupBy("line").agg(F.count("*").alias("df"))
            .where(F.col("df") >= BOILER_DF_THRESHOLD)
            .agg(F.collect_list("line").alias("freq_lines")))
    cleaned = F.expr(
        "array_join(filter(split(text, '\n'), "
        "x -> NOT array_contains(freq_lines, x)), '\n')")
    return (df.crossJoin(F.broadcast(freq))
            .select("doc_id", cleaned.alias("cleaned")))


def boilerplate_removal_oracle() -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, text
  FROM '{_boiler_oracle_dir()}/docs.parquet/*.parquet'
), freq AS (
  SELECT line FROM (
    SELECT DISTINCT doc_id, unnest(string_split(text, chr(10))) AS line
    FROM docs
  ) GROUP BY line HAVING count(*) >= {BOILER_DF_THRESHOLD}
), fl AS (
  SELECT coalesce(list(line), []) AS freq_lines FROM freq
)
SELECT doc_id,
       array_to_string(
         list_filter(string_split(text, chr(10)),
                     x -> NOT list_contains(freq_lines, x)),
         chr(10)) AS cleaned
FROM docs, fl
"""


# ---------------------------------------------------------------------------
# Snapshot (time-travel) reads over the store's append log
# ---------------------------------------------------------------------------

def _snapshot_store(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached store built as base encode + two appended crawl
    batches (documents split by doc_id % 4: base carries 0 and 1,
    batch b1 carries 2, batch b2 carries 3) — the living-corpus ingest
    history the snapshot reads replay."""
    key = (id(spark.sparkContext), sf_dir, "snapshot_docs")
    if key not in _STORE_CACHE:
        from ..spark import encode_job
        out = _scratch_dir(spark, "cvx_snap_")
        docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
        base = docs.where(F.col("doc_id") % 4 <= 1)
        encode_job.encode_table(spark, base, out, url_col=None,
                                resume=False, num_partitions=4)
        for i, bid in ((2, "b1"), (3, "b2")):
            encode_job.append_table(
                spark, docs.where(F.col("doc_id") % 4 == i), out,
                batch_id=bid, url_col=None, num_partitions=2)
        _STORE_CACHE[key] = out
    return _STORE_CACHE[key]


def snapshot_as_of_count(spark, sf_dir) -> DataFrame:
    """Time-travel read: the documents store AS OF append batch b1 —
    base rows plus b1's rows, b2 invisible.  The as-of cutoff is pure
    part_id partition pruning on the chunks parquet (no post-b1 chunk
    file is even listed), derived from the append_log the ingest loop
    already writes (sources/snapshot.py; Iceberg-spec snapshot-read
    semantics on the engine's own metadata)."""
    from ..sources import snapshot
    out = _snapshot_store(spark, sf_dir)
    df = snapshot.read_snapshot(spark, out, as_of="b1")
    return df.agg(F.count("*").alias("n_docs"),
                  F.sum("n_chars").alias("sum_chars"))


def snapshot_diff_count(spark, sf_dir) -> DataFrame:
    """Incremental-consumer read: ONLY the rows batch b2 added — the
    exactly-once per-crawl-batch processing surface, answered from the
    batch's reserved part range without touching earlier history."""
    from ..sources import snapshot
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
    from concurrent.futures import ThreadPoolExecutor
    from ..sources.encoded_table import Leaf, pruned_count
    out = _snapshot_store(spark, sf_dir)
    leaves = [Leaf("n_chars", "int64", "range", 100, 400)]
    # the as-of and current-table counts are independent reads of one
    # immutable store: overlap them (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_asof = pool.submit(pruned_count, spark, out, leaves, as_of="b1")
        f_full = pool.submit(pruned_count, spark, out, leaves)
        hits, stats = f_asof.result()
        full_hits, _ = f_full.result()
    assert stats["pruned_chunks"] >= 0
    assert full_hits >= hits  # b2's rows are invisible as of b1
    return spark.createDataFrame(
        pd.DataFrame({"hits": [hits]})).select(F.col("hits").cast("long"))


def schema_evolution_nulls(spark, sf_dir) -> DataFrame:
    """Schema evolution on append (allow_new_columns): base parts were
    encoded WITHOUT `source`; the appended batch carries it.  Decode
    back-fills NULL for pre-evolution rows, so count(source) sees only
    the evolved batch and the conditional sum aggregates only its
    rows — the add-a-column migration a living corpus performs without
    rewriting a single existing chunk."""
    from ..spark import encode_job
    from ..sources import encoded_table
    key = (id(spark.sparkContext), sf_dir, "evolved_docs")
    if key not in _STORE_CACHE:
        out = _scratch_dir(spark, "cvx_evo_")
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
        _STORE_CACHE[key] = out
    decoded = encoded_table.read_decoded(spark, _STORE_CACHE[key])
    return decoded.agg(
        F.count("*").alias("total"),
        F.count("source").alias("with_source"),
        F.sum(F.when(F.col("source").isNotNull(),
                     F.col("n_chars"))).alias("sum_chars_new"))


# ---------------------------------------------------------------------------
# Row-level DELETE: position deletion vectors over the store
# ---------------------------------------------------------------------------

def _deleted_store(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached documents store (sorted on lang so equality
    deletes prune chunks; dict-coded lang) with two committed delete
    batches: DELETE WHERE lang='en', then an OVERLAPPING
    DELETE WHERE n_chars BETWEEN 0 AND 150 — the overlap exercises the
    exact-count contract (a row deleted by both batches is counted
    once)."""
    key = (id(spark.sparkContext), sf_dir, "deleted_docs")
    if key not in _STORE_CACHE:
        from ..spark import delete_job, encode_job
        out = _scratch_dir(spark, "cvx_del_")
        df = (_read(spark, sf_dir, "documents")
              .select("doc_id", "lang", "n_chars")
              .repartitionByRange(8, "lang", "doc_id")
              .sortWithinPartitions("lang", "doc_id"))
        encode_job.encode_table(spark, df, out, url_col=None, resume=False,
                                codec_overrides={"lang": "dict"})
        s1 = delete_job.delete_where_equals(spark, out, "lang", "en", "d1")
        assert s1["pruned_chunks"] >= 0
        delete_job.delete_where_range(spark, out, "n_chars", 0, 150, "d2")
        _STORE_CACHE[key] = out
    return _STORE_CACHE[key]


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
    from concurrent.futures import ThreadPoolExecutor
    from ..spark import delete_job
    from ..sources import encoded_table
    out = _deleted_store(spark, sf_dir)
    # the metadata-only stats and the decoded aggregate are independent
    # reads of one immutable store: overlap them (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_meta = pool.submit(delete_job.delete_stats, spark, out)
        f_res = pool.submit(
            lambda: (encoded_table.read_decoded(spark, out)
                     .agg(F.count("*").alias("live_rows"),
                          F.sum("n_chars").alias("sum_chars")).collect()[0]))
        meta, res = f_meta.result(), f_res.result()
    assert int(res["live_rows"]) == meta["live_rows"]  # data == metadata
    return spark.createDataFrame(
        pd.DataFrame({"live_rows": [int(res["live_rows"])],
                      "sum_chars": [int(res["sum_chars"])]})) \
        .select(F.col("live_rows").cast("long"),
                F.col("sum_chars").cast("long"))


def encoded_table_delete_materialize(spark, sf_dir) -> DataFrame:
    """materialize_deletes: rewrite ONLY the delete-affected chunks
    into a fresh store (untouched chunks pass through byte-identical),
    then answer count + sum from the NEW manifest ALONE — green only if
    the rewrite removed exactly the deleted rows AND recomputed every
    chunk stat (num_elements, sum_val) correctly."""
    from ..spark import delete_job
    key = (id(spark.sparkContext), sf_dir, "materialized_docs")
    if key not in _STORE_CACHE:
        src = _deleted_store(spark, sf_dir)
        dst = _scratch_dir(spark, "cvx_mat_")
        delete_job.materialize_deletes(spark, src, dst)
        _STORE_CACHE[key] = dst
    dst = _STORE_CACHE[key]
    assert not delete_job.has_deletes(spark, dst)
    m = spark.read.parquet(os.path.join(dst, "manifest"))
    # both answers from ONE manifest aggregate (was two sequential jobs)
    row = m.agg(
        F.sum(F.when(F.col("column") == "doc_id",
                     F.col("num_elements"))).alias("live"),
        F.sum(F.when(F.col("column") == "n_chars",
                     F.col("sum_val"))).alias("sum_chars")).collect()[0]
    live, sum_chars = row["live"], row["sum_chars"]
    return spark.createDataFrame(
        pd.DataFrame({"live_rows": [int(live)],
                      "sum_chars": [int(sum_chars)]})) \
        .select(F.col("live_rows").cast("long"),
                F.col("sum_chars").cast("long"))


def encoded_table_delete_pushdown(spark, sf_dir) -> DataFrame:
    """Pruned fast-path reads over a store with LIVE position deletes
    (spark/delete_job.py live_masks): every chunk keeps its compressed
    kernels, a delete-affected chunk AND-ing its live deletion vector
    in, and manifest-answer shortcuts (covered-chunk sums,
    top-k thresholds) exclude affected chunks whose stats may describe
    deleted rows.  Green only if the dict-code string equality count,
    the section-skip numeric range count, the three-level filtered SUM
    and the threshold-pruned top-k all equal the oracle's live view."""
    from concurrent.futures import ThreadPoolExecutor
    from ..sources import encoded_table
    from ..sources.encoded_table import Leaf
    out = _deleted_store(spark, sf_dir)
    # the four kernels are independent reads of one store: submit them
    # from a small thread pool so each kernel's straggler tail
    # backfills with the next kernel's tasks instead of serializing
    # four job round-trips (guide §2.6 "overlap independent jobs")
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_eq = pool.submit(encoded_table.pruned_count, spark, out, [
            Leaf("lang", "string", "in", values=("de",))])
        f_rng = pool.submit(encoded_table.pruned_count, spark, out, [
            Leaf("n_chars", "int64", "range", 200, 400)])
        f_sum = pool.submit(encoded_table.pruned_sum, spark, out, [
            Leaf("n_chars", "int64", "range", 200, 400)], "doc_id")
        f_top = pool.submit(encoded_table.pruned_topk,
                            spark, out, "n_chars", 5)
        cnt_de, st_eq = f_eq.result()
        cnt_rng, _ = f_rng.result()
        sum_ids, st_sum = f_sum.result()
        top5, _ = f_top.result()
    # the delete-affected chunks must NOT have taken the manifest
    # shortcut: their stats describe pre-delete rows
    assert st_sum["covered_chunks"] + st_sum["scanned_chunks"] \
        <= st_sum["total_chunks"]
    return spark.createDataFrame(
        pd.DataFrame({"cnt_lang_de": [int(cnt_de)],
                      "cnt_range": [int(cnt_rng)],
                      "sum_ids": [int(sum_ids)],
                      "top5_sum": [int(sum(top5))]})) \
        .select(F.col("cnt_lang_de").cast("long"),
                F.col("cnt_range").cast("long"),
                F.col("sum_ids").cast("long"),
                F.col("top5_sum").cast("long"))


def encoded_table_upsert_count(spark, sf_dir) -> DataFrame:
    """MERGE-INTO by key (delete_job.upsert_table): matched keys are
    position-deleted (Bloom-pruned IN-mask over the stored key column
    — high-cardinality and unsorted, the case zone maps can't carry),
    the batch appends into fresh parts, and the live view shows
    replaced values for matched keys plus the inserted rows.  The
    micro-batch ingest-with-corrections loop a living corpus runs."""
    from ..spark import delete_job
    from ..sources import encoded_table
    key_ = (id(spark.sparkContext), sf_dir, "upserted_docs")
    if key_ not in _STORE_CACHE:
        from ..spark import encode_job
        out = _scratch_dir(spark, "cvx_ups_")
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
        _STORE_CACHE[key_] = out
    out = _STORE_CACHE[key_]
    return (encoded_table.read_decoded(spark, out)
            .agg(F.count("*").alias("live_rows"),
                 F.sum("n_chars").alias("sum_chars"))
            .select(F.col("live_rows").cast("long"),
                    F.col("sum_chars").cast("long")))


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
    from ..codecs.section_writer import (
        HEADER_LEN, SectionWriter, NotEnoughSpace, iter_sections)
    from ..sections import SECT_NP_MED
    from .. import nibblepack as npk

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
