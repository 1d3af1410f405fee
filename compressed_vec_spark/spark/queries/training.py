"""Training-data pipeline queries: near-duplicate detection (MinHash,
SimHash, n-gram and embedding similarity, transitive clusters),
similarity search, text signals, sampling and sharding, and the
event-table windows and joins a corpus pipeline runs."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ._common import _read, _read_spread, _table_minmax


def minhash_near_dup(spark, sf_dir) -> DataFrame:
    """MinHash+LSH candidate generation, exact-Jaccard verified pairs
    (k=5 shingles, threshold 0.7).  Bands chosen so recall at the
    threshold is ~1-1e-19; the oracle computes exact all-pairs Jaccard
    in SQL."""
    from ...operators import dedup
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
    from ...operators import dedup
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
    from ...operators import dedup
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
    from ...operators import dedup
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
    from ...operators import similarity
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
    from ...operators import similarity
    from ...sources.encoded_table import _overlap
    df = _read(spark, sf_dir, "embeddings")
    # the query-vector fetch and the centroid training sample are
    # independent driver jobs: overlap them (guide §2.6)
    qvec, cents = _overlap(
        lambda: np.array(df.where(F.col("vec_id") == 0)
                         .select("embedding").first()[0], dtype=np.float64),
        lambda: similarity.train_ivf_centroids(
            df, "embedding", n_centroids=8, id_col="vec_id"))
    top = similarity.ivf_topk(df, "vec_id", "embedding", cents, qvec,
                              k=10, nprobe=len(cents), exclude_ids=(0,))
    return top.select("vec_id")


def lang_id_stopword(spark, sf_dir) -> DataFrame:
    """Language-ID heuristic: English stopword ppm per document."""
    from ...operators import text_analysis as ta
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
    from ...codecs.fsst import _string_buffers
    from ...operators.text_analysis import FP_WEIGHTS
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
    """Tumbling-window event stats: hourly counts + integer-cent value
    sums per event type — pure built-ins, whole-stage codegen end to end."""
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
    from ... import functions as cvf
    from ...operators.dedup import batch_jaccard
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
    from ...operators.dedup import CAND_BROADCAST_MAX_PAIRS
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


def _with_planted_twins(spark, sf_dir) -> DataFrame:
    """The embeddings table plus one DETERMINISTIC planted twin per
    50th vec_id: the vector scaled by exactly 2.0 (a power of two, so
    the float32 values are exact and the direction identical) under
    vec_id + 10000000."""
    base = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = (base.where(F.col("vec_id") % 50 == 0)
             .select((F.col("vec_id") + 10000000).alias("vec_id"),
                     F.expr("transform(embedding, x -> "
                            "CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))")
                     .alias("embedding")))
    return base.unionByName(twins)


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
    from ...operators import similarity
    df = _with_planted_twins(spark, sf_dir)
    return similarity.cosine_near_dup_lsh(df, "vec_id", "embedding",
                                          threshold_ppm=950000)


def semantic_dedup_clusters(spark, sf_dir) -> DataFrame:
    """Semantic (embedding-space) dedup clusters — the SemDeDup-style
    pipeline step: hyperplane-LSH cosine pairs (same plan as
    embedding_near_dup, >= 0.95 cosine, planted deterministic twins) ->
    large-star/small-star connected components -> (vec_id, cluster_rep,
    cluster_size).  Same closure operator as text near-dup clusters;
    only the pair-finding modality differs."""
    from ...operators import dedup, similarity
    df = _with_planted_twins(spark, sf_dir)
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


def _n_tokens():
    """Whitespace token count of `text` (0 when it trims to empty)."""
    t = F.trim(F.col("text"))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1).cast("long")


def _space_ppm():
    """Spaces per million characters of `text`, floored: floor(double)
    is bit-deterministic across engines, unlike round()."""
    length = F.length(F.col("text"))
    spaces = length - F.length(F.regexp_replace(F.col("text"), " ", ""))
    return F.floor(spaces.cast("double") * 1000000.0
                   / F.greatest(length, F.lit(1))).cast("long")


def token_count_per_doc(spark, sf_dir) -> DataFrame:
    """Whitespace token counting (text analysis family)."""
    df = _read_spread(spark, sf_dir, "documents")
    return df.select("doc_id", _n_tokens().alias("n_tokens"))


def token_budget_shards(spark, sf_dir) -> DataFrame:
    """Token-budget sharding for training-data packing: docs in doc_id
    order are assigned contiguous shard ids so each shard holds ~BUDGET
    tokens (shard = floor(exclusive-prefix-tokens / BUDGET)).  Runs on
    the distributed two-pass prefix-sum scan (operators.scan
    global_cumsum) — no single-partition window, no driver data."""
    from ...operators.scan import global_cumsum
    BUDGET = 4096
    df = _read(spark, sf_dir, "documents")
    d = df.select("doc_id", _n_tokens().alias("n_tokens"))
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
    scored = df.select("doc_id", "lang", "text", _n_tokens().alias("n_tokens"),
                       _space_ppm().alias("space_ppm"))
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
    return df.select("doc_id",
                     F.length(F.col("text")).cast("long").alias("n_chars"),
                     _space_ppm().alias("space_ratio_ppm"))


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

