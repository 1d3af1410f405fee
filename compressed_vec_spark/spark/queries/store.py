"""Encoded-store queries: each builds (once per session) a store of an
input table with the engine's own encode pipeline, then answers
through the store's one kernel for the job — the pruned count / sum /
top-k / select front (`encoded_table.Leaf`), the dict-code group and
distinct kernels, the SQL router, or the manifest and part-summary
metadata."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ...sources import encoded_table, sql_router
from ...sources.encoded_table import Leaf, _overlap, pruned_count
from ._common import (_fixture, _oracle_dir, _read, _row, _sorted_store,
                      _store)


def _orders_store(spark: SparkSession, sf_dir: str) -> str:
    """Encoded store of orders sorted by o_orderkey — every orders
    query below shares one build."""
    return _sorted_store(spark, sf_dir, "q", "orders",
                         ["o_orderkey", "o_custkey"], ["o_orderkey"])


def _documents_store(spark: SparkSession, sf_dir: str) -> str:
    """Encoded store of documents (doc_id, dict-coded source, n_chars
    as a sectioned int vector) sorted on doc_id."""
    return _sorted_store(spark, sf_dir, "doc", "documents",
                         ["doc_id", "source", "n_chars"], ["doc_id"],
                         codecs={"source": "dict"})


def _documents_by_source_store(spark: SparkSession, sf_dir: str) -> str:
    """Encoded store of documents RANGE-PARTITIONED AND SORTED on
    source: each chunk covers a narrow [min_str, max_str] slice, so
    string predicates prune chunks at the manifest level — the string
    analog of the orders store's sorted numeric layout."""
    return _sorted_store(spark, sf_dir, "docsrc", "documents",
                         ["doc_id", "source", "n_chars"],
                         ["source", "doc_id"], codecs={"source": "dict"})


def _documents_text_store(spark: SparkSession, sf_dir: str) -> str:
    """Encoded store of documents (doc_id, text) sorted on doc_id — so
    TEXT values scatter across chunks and every chunk's
    [min_str, max_str] admits any probe: the layout where zone maps are
    useless and only the per-chunk Bloom filters can prune."""
    return _sorted_store(spark, sf_dir, "doctext", "documents",
                         ["doc_id", "text"], ["doc_id"])


# --- pruned count / sum / top-k over the store -------------------------------

def encoded_table_pruned_count(spark, sf_dir) -> DataFrame:
    """Full storage cycle inside one query: encode the orders table to
    an encoded-chunk store (salting off, sorted keys), then answer an
    equality count through manifest min/max chunk pruning — only the
    chunks whose [min,max] admits the value are decoded."""
    out = _orders_store(spark, sf_dir)
    hits, stats = pruned_count(
        spark, out, [Leaf("o_orderkey", "int64", "in", values=(1,))])
    assert stats["pruned_chunks"] >= 0
    return _row(spark, hits=hits)


def encoded_table_range_count(spark, sf_dir) -> DataFrame:
    """Range predicate over the PERSISTED encoded store with both prune
    levels: manifest [min,max] chunk pruning (broadcast join), then
    range_mask's header-only section skipping inside surviving chunks —
    the compressed-domain range filter applied to the storage layer."""
    out = _orders_store(spark, sf_dir)
    hits, stats = pruned_count(
        spark, out, [Leaf("o_orderkey", "int64", "range", 1000, 5000)])
    assert stats["pruned_chunks"] >= 0
    assert stats["sections_skipped"] >= 0
    return _row(spark, hits=hits)


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
    from .. import compact_job
    src = _orders_store(spark, sf_dir)
    dst = _store(spark, sf_dir, "clu", lambda out: compact_job.cluster_store(
        spark, src, out, "o_custkey", num_parts=8))
    leaves = [Leaf("o_custkey", "int64", "range", 100, 160)]
    # the two layouts' counts are independent reads: overlap them
    (hits_src, st_src), (hits, st) = _overlap(
        lambda: pruned_count(spark, src, leaves),
        lambda: pruned_count(spark, dst, leaves))
    # identical answer from both layouts; the clustered one must prune
    # strictly more chunks than the scattered one AND a real fraction
    assert hits == hits_src, (hits, hits_src)
    assert st["pruned_chunks"] > st_src["pruned_chunks"], (st, st_src)
    assert st["pruned_chunks"] > st["total_chunks"] // 3, st
    return _row(spark, hits=hits)


def encoded_table_multi_and_count(spark, sf_dir) -> DataFrame:
    """MultiVectorFilter over the persisted store: range AND equality
    across two columns' chunks with manifest pruning intersected across
    BOTH predicates and per-section short-circuit of the second column
    (reference src/filter.rs:239-286 applied to storage)."""
    out = _orders_store(spark, sf_dir)
    hits, stats = pruned_count(
        spark, out, [Leaf("o_orderkey", "int64", "range", 1000, 20000),
                     Leaf("o_custkey", "int64", "in", values=(605,))])
    assert stats["pruned_chunks"] >= 0
    return _row(spark, hits=hits)


def encoded_table_string_filter_count(spark, sf_dir) -> DataFrame:
    """String predicates over the PERSISTED store — the missing half of
    the reference's defining capability (filter compressed strings in
    storage, reference README.md:77-78, src/filter.rs:112-139): manifest
    [min_str, max_str] stats prune whole chunks, surviving dict chunks
    answer equality via code_of + equals_mask and LIKE-prefix via
    prefix_range + range_mask on the compressed u32 code vector — no
    string is ever materialized on the fast path."""
    out = _documents_by_source_store(spark, sf_dir)
    # two independent kernels over one store: overlap them (guide §2.6)
    (eq_hits, st_eq), (pre_hits, st_pre) = _overlap(
        lambda: pruned_count(spark, out, [
            Leaf("source", "string", "in", values=("src12",))]),
        lambda: pruned_count(spark, out, [
            Leaf("source", "string", "prefix", values=("src1",))]))
    # the source-sorted layout must actually prune: with 8 range
    # partitions over 20 source values most chunks exclude 'src12'
    assert st_eq["pruned_chunks"] > 0, st_eq
    assert st_eq["compressed_chunks"] == st_eq["scanned_chunks"], st_eq
    assert st_pre["pruned_chunks"] >= 0, st_pre
    return _row(spark, eq_hits=eq_hits, prefix_hits=pre_hits)


def encoded_table_string_range_count(spark, sf_dir) -> DataFrame:
    """String BETWEEN over the PERSISTED store — the third string
    predicate shape (equality / prefix / range): manifest
    [min_str, max_str] interval-intersection pruning, then the range
    mapped to an inclusive CODE range on the sorted dictionary
    (order-preserving codes, `code_range`) and scanned on the
    compressed u32 vector with `range_mask`'s header-only section
    skipping (reference EqualsSink src/filter.rs:112-139 generalized
    to ranges at the storage layer)."""
    out = _documents_by_source_store(spark, sf_dir)
    hits, st = pruned_count(
        spark, out, [Leaf("source", "string", "range", "src12", "src17")])
    # the source-sorted layout must prune chunks outside [src12, src17]
    assert st["pruned_chunks"] > 0, st
    assert st["compressed_chunks"] == st["scanned_chunks"], st
    return _row(spark, range_hits=hits)


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
    return _row(spark, hits=hits)


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
    return _row(spark, hits=hits)


def encoded_table_float_range_count(spark, sf_dir) -> DataFrame:
    """Float range predicate over the PERSISTED store: manifest
    [min_f64, max_f64] chunk stats (store format v4) prune chunks whose
    value range misses [10, 20]; only surviving XOR-packed chunks are
    decoded and compared.  Completes the predicate-pushdown family over
    the store's own format: int (range/equality/IN), string
    (equality/prefix/range), and now float range.  The events store is
    range-partitioned AND sorted on value, so each chunk covers a
    narrow [min_f64, max_f64] slice."""
    out = _sorted_store(spark, sf_dir, "evval", "events",
                        ["event_id", "value"], ["value", "event_id"])
    hits, st = pruned_count(
        spark, out, [Leaf("value", "double", "range", 10.0, 20.0)])
    # the value-sorted layout must prune chunks outside [10, 20]
    assert st["pruned_chunks"] > 0, st
    return _row(spark, range_hits=hits)


def rle_range_count(spark, sf_dir) -> DataFrame:
    """COUNT over an RLE-coded stored column without expansion: orders
    sorted by o_custkey makes o_custkey runs long, the rle codec stores
    (values, lengths) as two NibblePacked vectors, and the pruned count
    (`Leaf.mask`) sums run lengths whose value lands in [lo, hi] —
    touching R runs, never n rows.  Manifest min/max still prunes
    whole chunks first."""
    out = _sorted_store(spark, sf_dir, "rle", "orders",
                        ["o_custkey", "o_orderkey"], ["o_custkey"],
                        sort=["o_custkey", "o_orderkey"],
                        codecs={"o_custkey": "rle"})
    hits, _ = pruned_count(
        spark, out, [Leaf("o_custkey", "int64", "range", 100, 700)])
    return _row(spark, hits=hits)


def encoded_table_sum_pushdown(spark, sf_dir) -> DataFrame:
    """Aggregation pushdown over the persisted store (beyond the
    reference, which stops at count/positions — src/filter.rs:296-321):
    SUM(o_custkey) WHERE o_orderkey BETWEEN lo AND hi answered with
    three levels — manifest prune, manifest per-chunk sum_val for fully
    covered chunks (zero blob reads), and header-skipping masked_sum
    for the boundary chunks."""
    out = _orders_store(spark, sf_dir)
    total, stats = encoded_table.pruned_sum(
        spark, out, [Leaf("o_orderkey", "int64", "range", 1000, 20000)],
        "o_custkey")
    assert (stats["pruned_chunks"] + stats["covered_chunks"]
            + stats["scanned_chunks"]) == stats["total_chunks"]
    return _row(spark, sum_custkey=total)


def encoded_table_topk_pushdown(spark, sf_dir) -> DataFrame:
    """Top-10 values of a column over the store with manifest-threshold
    pruning: chunks whose max_val is below the k-th largest chunk max
    are never read, surviving chunks ship only a k-row partial top-k."""
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
    out = _orders_store(spark, sf_dir)
    mn, mx = encoded_table.manifest_min_max(spark, out, "o_custkey")
    return _row(spark, min_custkey=mn, max_custkey=mx)


NULLS_ORACLE_ROWS = 2000
NULLS_GEN_VERSION = 1


def _null_rows() -> pd.DataFrame:
    """Deterministic rows with nulls planted in an int and a string
    column (index arithmetic only, no RNG)."""
    pdf = pd.DataFrame({"k": range(NULLS_ORACLE_ROWS)})
    pdf["v"] = pdf["k"] * 3
    pdf.loc[pdf.index % 7 == 0, "v"] = None
    pdf["s"] = ["s%02d" % (k % 40) for k in range(NULLS_ORACLE_ROWS)]
    pdf.loc[pdf.index % 11 == 0, "s"] = None
    return pdf


def encoded_table_null_count(spark, sf_dir) -> DataFrame:
    """COUNT(col IS NULL) and COUNT(col IS NOT NULL) answered from the
    store's metadata ALONE (`encoded_table.manifest_null_count`) —
    every chunk records its null_count at encode, so null-predicate
    aggregates never read a blob (the storage analog of the
    reference's 1-byte Null sections answering filters without decode,
    src/filter.rs:218-224).  The generated fixture plants nulls in an
    int and a string column deterministically (testdata carries no
    NULLs, which would make this row vacuous); rows come out ordered
    by column, as the oracle orders them."""
    _fixture(spark, "nulls", NULLS_GEN_VERSION, NULLS_ORACLE_ROWS, "rows",
             lambda: spark.createDataFrame(_null_rows()))
    out = _sorted_store(
        spark, _oracle_dir("nulls", NULLS_GEN_VERSION, NULLS_ORACLE_ROWS),
        "nulls", "rows", ["k", "v", "s"], ["k"], parts=4)
    counts = [(c, *encoded_table.manifest_null_count(spark, out, c))
              for c in ("s", "v")]
    return spark.createDataFrame(pd.DataFrame(
        counts, columns=["column", "null_rows", "non_null_rows"]))


def encoded_table_null_count_oracle() -> str:
    rows = _oracle_dir("nulls", NULLS_GEN_VERSION, NULLS_ORACLE_ROWS)
    return f"""
SELECT col AS column,
       CAST(sum(CASE WHEN val_is_null THEN 1 ELSE 0 END) AS BIGINT)
         AS null_rows,
       CAST(sum(CASE WHEN val_is_null THEN 0 ELSE 1 END) AS BIGINT)
         AS non_null_rows
FROM (
  SELECT 'v' AS col, v IS NULL AS val_is_null
  FROM '{rows}/rows.parquet/*.parquet'
  UNION ALL
  SELECT 's' AS col, s IS NULL AS val_is_null
  FROM '{rows}/rows.parquet/*.parquet'
)
GROUP BY col
ORDER BY col
"""


# --- dict-code group / distinct kernels --------------------------------------

def encoded_table_group_count(spark, sf_dir) -> DataFrame:
    """GROUP BY + COUNT over a dict-coded column straight from the
    compressed store through the engine's group kernel
    (`encoded_table.grouped_dict_agg`): per chunk, one bincount over
    the u32 code vector (never materializing per-row strings) + a
    |dict|-sized code->value map; the shuffle then moves (distinct
    values x chunks) tiny rows instead of N decoded strings.  Extends
    the reference's filter-on-codes design goal (reference
    README.md:83-86) to aggregation.  The kernel emits SQL's NULL
    group, which this query drops."""
    df, _ = encoded_table.grouped_dict_agg(
        spark, _documents_store(spark, sf_dir), "source",
        [{"fn": "count", "alias": "doc_count"}])
    return df.where(F.col("source").isNotNull())


def _dim(spark, name: str, n: int) -> DataFrame:
    """The (source, tier) dimension: source `name % i` for i < n, tier
    even or odd, built from pandas (a local relation, no Python
    worker)."""
    return spark.createDataFrame(pd.DataFrame({
        "source": [name % i for i in range(n)],
        "tier": ["even" if i % 2 == 0 else "odd" for i in range(n)]}),
        "source string, tier string")


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
    dim = _dim(spark, "src%02d", 100)
    return (per_source.join(F.broadcast(dim), "source")
            .groupBy("tier")
            .agg(F.sum("doc_count").cast("long").alias("docs"))
            .orderBy("tier"))


def encoded_table_group_sum(spark, sf_dir) -> DataFrame:
    """GROUP BY dict-column + SUM(numeric) straight off the compressed
    store through the same group kernel: one bincount over the u32
    code vector weighted by the decoded int column (exact hi/lo split)
    — per-group partials per chunk, so the shuffle carries (groups x
    chunks) rows; no row-level string ever exists.  The NULL group is
    dropped."""
    df, _ = encoded_table.grouped_dict_agg(
        spark, _documents_store(spark, sf_dir), "source",
        [{"fn": "sum", "col": "n_chars", "alias": "sum_chars"}])
    return df.where(F.col("source").isNotNull())


def encoded_table_distinct_pushdown(spark, sf_dir) -> DataFrame:
    """COUNT(DISTINCT dict_column) answered from the dictionary HEAPS
    alone (`encoded_table.dict_distinct`) — the per-chunk symbol tables
    are unioned and the code vectors are never decoded (a chunk's heap
    holds exactly the values present in that chunk, so the union is
    the exact distinct set)."""
    df, _ = encoded_table.dict_distinct(
        spark, _documents_store(spark, sf_dir), "source")
    return df.agg(F.count_distinct(F.col("source")).cast("long")
                  .alias("distinct_sources"))


def analytics_over_encoded(spark, sf_dir) -> DataFrame:
    """TPC-H-Q1-style aggregation running on the DECODED view of an
    encoded store: encode -> read_decoded -> groupBy/agg — the proof
    that standard DataFrame analytics work over the engine's format
    (decoded view is a normal DataFrame; Catalyst owns the agg plan)."""
    from ...operators.scan import parquet_num_rows
    from .. import encode_job

    def build(out: str) -> None:
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

    decoded = encoded_table.read_decoded(
        spark, _store(spark, sf_dir, "q1", build))
    return (decoded.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("qty").cast("long").alias("sum_qty"),
                 F.count("*").alias("count_order")))


# --- plain SQL text through the router ---------------------------------------

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
    out_o = _orders_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out_o, "cvx_sql_orders")
    out_d = _documents_by_source_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out_d, "cvx_sql_docs")

    def routed(out, view, sql):
        return lambda: sql_router.route_sql(spark, out, sql, view=view)

    # five independent routed statements over two stores: overlap them
    # so their small kernel jobs run together instead of serializing
    # five driver round-trips (guide §2.6 "overlap independent jobs")
    (r_df, r_st), (e_df, e_st), (i_df, i_st), (s_df, s_st), (c_df, c_st) = \
        _overlap(
            routed(out_o, "cvx_sql_orders",
                   "SELECT count(*) AS range_hits FROM cvx_sql_orders "
                   "WHERE o_orderkey BETWEEN 1 AND 1000"),
            routed(out_d, "cvx_sql_docs",
                   "SELECT count(*) AS eq_hits FROM cvx_sql_docs "
                   "WHERE source = 'src12'"),
            routed(out_d, "cvx_sql_docs",
                   "SELECT count(*) AS in_hits FROM cvx_sql_docs "
                   "WHERE source IN ('src3', 'src17')"),
            # aggregate pushdown from SQL text: SUM routed through the
            # three-level manifest-sum kernel, count(*) metadata-only
            routed(out_o, "cvx_sql_orders",
                   "SELECT sum(o_custkey) AS sum_cust FROM cvx_sql_orders "
                   "WHERE o_orderkey BETWEEN 1 AND 20000"),
            routed(out_o, "cvx_sql_orders",
                   "SELECT count(*) AS n_rows FROM cvx_sql_orders"))
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
    return _row(spark, **row)


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


def _routed_docs(spark, sf_dir, view: str, sql: str):
    """(df, stats) of `sql` over the source-sorted documents store
    registered as `view`."""
    out = _documents_by_source_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out, view)
    return sql_router.route_sql(spark, out, sql, view=view)


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
    df, st = _routed_docs(
        spark, sf_dir, "cvx_sqlg_docs",
        "SELECT source, count(*) AS doc_count,"
        " sum(n_chars) AS sum_chars, count(n_chars) AS chars_seen"
        " FROM cvx_sqlg_docs GROUP BY source ORDER BY source")
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
    df, st = _routed_docs(
        spark, sf_dir, "cvx_sqlwg_docs",
        "SELECT source, count(*) AS doc_count,"
        " sum(n_chars) AS sum_chars, min(n_chars) AS min_chars,"
        " max(n_chars) AS max_chars FROM cvx_sqlwg_docs"
        " WHERE source IN ('src3', 'src12', 'src17')"
        " AND n_chars >= 100 GROUP BY source"
        " HAVING count(*) >= 5 ORDER BY source")
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
    df, st = _routed_docs(
        spark, sf_dir, "cvx_sqld_docs",
        "SELECT DISTINCT source FROM cvx_sqld_docs"
        " ORDER BY source LIMIT 12")
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
    _dim(spark, "src%d", 30).createOrReplaceTempView("cvx_sqlj_dim")
    df, st = _routed_docs(
        spark, sf_dir, "cvx_sqlj_docs",
        "SELECT d.tier, count(*) AS doc_count,"
        " sum(n_chars) AS sum_chars, max(n_chars) AS max_chars"
        " FROM cvx_sqlj_docs f JOIN cvx_sqlj_dim d"
        " ON f.source = d.source WHERE n_chars >= 50"
        " GROUP BY d.tier ORDER BY d.tier")
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


def encoded_table_filter_select(spark, sf_dir) -> DataFrame:
    """Row-returning storage query: SELECT doc_id, n_chars WHERE
    source = 'src12' with manifest string-stats chunk pruning, the
    filter evaluated on compressed dict codes, and the projection
    columns decoded only in surviving chunks (sources/encoded_table
    pruned_select) — predicate pushdown + column pruning over
    this engine's own format.  Since r5 the statement enters as plain
    SQL TEXT through sql_router (row-returning shapes route to the
    same kernel; in-query asserts prove it)."""
    df, st = _routed_docs(
        spark, sf_dir, "cvx_fsel_docs",
        "SELECT doc_id, n_chars FROM cvx_fsel_docs"
        " WHERE source = 'src12'")
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
    out = _orders_store(spark, sf_dir)
    encoded_table.register_encoded_table(spark, out, "cvx_rsel_orders")
    df, st = sql_router.route_sql(
        spark, out,
        "SELECT o_orderkey, o_custkey FROM cvx_rsel_orders"
        " WHERE o_orderkey BETWEEN 1000 AND 3000", view="cvx_rsel_orders")
    assert st["routed"] and st.get("select_kernel"), st
    assert st["pruned_chunks"] > 0, st
    return df
