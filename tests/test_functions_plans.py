"""Column-function library + plan-hygiene tests: the scale behaviors we
rely on (pushdown, pruning, codegen, broadcast) must be visible in the
physical plan."""

import pytest
from pyspark.sql import functions as F

import plan_helpers as plans
from compressed_vec_spark import functions as cvf
from compressed_vec_spark.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-plans-tests", cores=4)
    yield s
    s.stop()


def test_char_shingles(spark):
    df = spark.createDataFrame([("abcdef",)], ["t"])
    got = df.select(cvf.char_shingles(F.col("t"), 5).alias("s")).first()["s"]
    assert got == ["abcde", "bcdef"]


def test_filter_pushdown_reaches_parquet(spark):
    df = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
          .where(F.col("l_linenumber") == 3).select("l_orderkey"))
    assert plans.has_pushed_filters(df, "l_linenumber")
    # column pruning: the scan must not read all 11 columns
    cols = plans.read_schema_columns(df)
    assert 0 < len(cols) <= 2, cols


def test_wholestage_codegen_on_function_library(spark):
    df = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
          .select(cvf.token_count(F.col("text")).alias("n"))
          .groupBy().sum("n"))
    df.collect()  # AQE: codegen spans appear only in the final plan
    assert plans.wholestage_codegen_spans(df) >= 1


def test_small_dim_join_broadcasts(spark):
    fact = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    dim = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    j = fact.join(F.broadcast(dim), fact.o_custkey == dim.c_custkey) \
        .groupBy("c_nationkey").count()
    assert plans.uses_broadcast_join(j)


def test_duplicate_span_gram_pass_is_pipelined_and_deterministic(spark):
    """The r6 optimization removed the gram-table localCheckpoint: both
    consumers (global df count + cov join) regenerate the grams inside
    one pipelined DAG.  Two contracts follow: the plan must carry the
    two MapInPandas gram subtrees with NO checkpoint RDD scan, and the
    recomputed passes must be deterministic (identical results across
    invocations — the same property that makes task retries safe)."""
    from compressed_vec_spark.spark import queries as q

    df = q.duplicate_span_removal(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan, "checkpoint crept back in"
    assert plan.count("MapInPandas") >= 2, plan[:500]

    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, q.duplicate_span_removal(spark, SF_DIR).collect()))
    assert a == b and len(a) > 0


def test_quality_metrics_and_fingerprint(spark):
    from compressed_vec_spark.operators import text_analysis as ta
    texts = ["the cat is on the mat", "Spark encodes vectors", "a", "  ",
             ""]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = {r["id"]: r.asDict() for r in
           ta.quality_metrics(df, "id", "text").collect()}
    want = {  # (n_chars, n_tokens, space_ratio_ppm, stopword_ppm, lang)
        0: (21, 6, 5_000_000 // 21, 4_000_000 // 6, "en"),
        1: (21, 3, 2_000_000 // 21, 0, "other"),
        2: (1, 1, 0, 1_000_000, "en"),
        3: (2, 0, 1_000_000, 0, "other"),
        4: (0, 0, 0, 0, "other"),
    }
    for i, w in want.items():
        g = got[i]
        assert (g["n_chars"], g["n_tokens"], g["space_ratio_ppm"],
                g["stopword_ppm"], g["lang_guess"]) == w, (i, g)
    fp = [r["fp"] for r in df.orderBy("id").select(
        ta.rolling_fingerprint("text").alias("fp")).collect()]
    assert fp == [sum(ord(c) * 31 ** (i % 8) for i, c in enumerate(t))
                  % (1 << 31) for t in texts]
