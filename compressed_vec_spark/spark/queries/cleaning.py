"""Corpus-cleaning queries: URL canonicalization, PII scrubbing, the
Gopher and C4 quality rules, repeated-span removal, benchmark
decontamination and boilerplate-line removal.  The generated-fixture
ones read a deterministic parquet that both the query and its DuckDB
oracle resolve through `_oracle_dir`."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ._common import _fixture, _oracle_dir, _read_spread


URL_ORACLE_ROWS = 600
URL_GEN_VERSION = 1  # bump when the messy-url generator changes


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
    df = _fixture(spark, "url", URL_GEN_VERSION, URL_ORACLE_ROWS, "urls",
                  lambda: spark.createDataFrame(_messy_urls()))
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
    urls = _oracle_dir("url", URL_GEN_VERSION, URL_ORACLE_ROWS)
    return f"""
WITH c AS (
  SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             url, '#.*', ''), '\\?.*', ''),
             '^http://', 'https://'), '^https://www\\.', 'https://') AS u
  FROM '{urls}/urls.parquet/*.parquet'
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
    df = _fixture(spark, "pii", PII_GEN_VERSION, PII_ORACLE_ROWS, "docs",
                  lambda: spark.createDataFrame(_pii_docs()))
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE, "<PHONE>")
    return df.select("doc_id", scrubbed.alias("scrubbed"))


def pii_scrub_oracle() -> str:
    docs = _oracle_dir("pii", PII_GEN_VERSION, PII_ORACLE_ROWS)
    return f"""
SELECT doc_id,
       regexp_replace(regexp_replace(text,
           '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM '{docs}/docs.parquet/*.parquet'
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
    df = _fixture(spark, "c4", C4_GEN_VERSION, C4_ORACLE_ROWS, "docs",
                  lambda: spark.createDataFrame(_c4_docs()))
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
    docs = _oracle_dir("c4", C4_GEN_VERSION, C4_ORACLE_ROWS)
    return f"""
WITH docs AS (
  SELECT doc_id, text FROM '{docs}/docs.parquet/*.parquet'
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


def _texts(spark, sf_dir) -> DataFrame:
    """(doc_id, text) of every document with a text."""
    return (_read_spread(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull())
            .select("doc_id", "text"))


def _grams(docs_txt: DataFrame, k: int) -> DataFrame:
    """(doc_id, i, gram) for every k-token window of (doc_id, text)
    rows.  Gram identity is a 64-bit span hash from ONE vectorized
    numpy pass (operators.dedup.token_gram_hashes): equal iff the
    k-token slices are equal (collisions ~1e-6 at 10^6 distinct
    grams), and deterministic, so recomputation under task retry
    yields identical grams."""
    from ...operators.dedup import token_gram_hashes

    def fn(batches):
        import pyarrow as pa
        for pdf in batches:
            arr = pa.array(pdf["text"], type=pa.large_utf8())
            di, pos, gh = token_gram_hashes(arr, k)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[di],
                "i": pos,
                "gram": gh.view(np.int64)})

    return docs_txt.mapInPandas(fn, "doc_id long, i int, gram long")


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
    docs_txt = _texts(spark, sf_dir)
    docs = docs_txt.select("doc_id", F.split("text", " ").alias("toks"))
    # the global-df shuffle and the duplicate-gram join carry 8-byte
    # gram hashes instead of ~(k * token) gram STRINGS (guide §2.3),
    # and the former per-position JVM transform/slice/hash chain — the
    # single most expensive stage of this query, re-run once per
    # consumer — is gone.  The gram table is NOT checkpointed: both
    # consumers (the df count and the cov join) regenerate it in one
    # pipelined DAG — with the cheap numpy kernel the second pass
    # costs less than the blocking localCheckpoint materialization did
    # (fresh-session A/B at the 6M-row replica: 4.9 s checkpointed vs
    # 3.15 s pipelined; a wash at sf0.1).
    grams = _grams(docs_txt, k)
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
    # no gram string is ever materialized: the broadcast probe and
    # per-doc aggregation work on 8-byte gram hashes, and the eval set
    # is a filter of the SAME gram table (a position-4 gram exists
    # exactly when size(toks) >= n + 3), so one pass feeds both sides
    grams = _grams(_texts(spark, sf_dir), n).localCheckpoint(eager=True)
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
    df = _fixture(spark, "boiler", BOILER_GEN_VERSION, BOILER_ORACLE_ROWS,
                  "docs", lambda: spark.createDataFrame(_boiler_docs()))
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
    docs = _oracle_dir("boiler", BOILER_GEN_VERSION, BOILER_ORACLE_ROWS)
    return f"""
WITH docs AS (
  SELECT doc_id, text
  FROM '{docs}/docs.parquet/*.parquet'
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
