"""Mimics the driver's correctness gate: run every __spark_entry__
query on Spark and its oracle SQL on DuckDB over the same sf0.01
parquet, compare row counts and order-insensitive values."""

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod
from compressed_vec_spark.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-oracle-tests", cores=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    out = df.copy()
    for c in out.columns:
        if out[c].dtype.kind == "f":
            out[c] = out[c].round(6)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    qfn = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        # rows-only contract for non-SQL-expressible ops
        assert qfn(spark, SF_DIR).count() >= 0
        return
    got = normalize(qfn(spark, SF_DIR).toPandas())
    exp = normalize(duck.execute(sql).df())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp), f"{name}: {len(got)} vs {len(exp)} rows"
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            assert all(math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
                       for a, b in zip(g, e)), f"{name}.{c}"
        else:
            assert g.astype("int64" if e.dtype.kind in "iu" else object).tolist() == \
                e.tolist(), f"{name}.{c} mismatch"


def test_ngram_candidate_join_groups_bounded(spark):
    """The df-cap keeps every shingle join group <= NGRAM_DF_CAP: the
    quadratic stop-shingle hot key cannot exist in the candidate join."""
    from pyspark.sql import functions as F
    from compressed_vec_spark import functions as cvf
    from compressed_vec_spark.spark.queries import NGRAM_DF_CAP, _read
    df = _read(spark, SF_DIR, "documents").where(F.length("text") >= 5)
    sh = df.select("doc_id", F.explode(F.array_distinct(
        cvf.char_shingles(F.col("text"), 5))).alias("s"))
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    # the corpus genuinely HAS hot shingles the cap must exclude
    assert dfreq.agg(F.max("df")).first()[0] > NGRAM_DF_CAP
    capped_max = (dfreq.where(F.col("df") <= NGRAM_DF_CAP)
                  .agg(F.max("df")).first()[0])
    assert capped_max <= NGRAM_DF_CAP


def test_ngram_no_shingle_join_after_candidates(spark):
    """Stage 2 verifies candidate pairs with the broadcast batch-Jaccard
    kernel, so NO join downstream of candidate generation is keyed on a
    shingle: the only shingle-keyed exchanges in the whole plan are the
    two candidate-generation joins (sh x rare, rare-self-join), 2 sides
    each.  A stop-shingle shared by every candidate doc therefore cannot
    create a quadratic join group anywhere."""
    import re
    df = entrymod.queries()["ngram_jaccard_pairs"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    markers = re.findall(r"hashpartitioning\(s#\d+", plan)
    assert len(markers) <= 4, markers
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_entry_flagship(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["bit_identical"] for r in rows), rows
    by_col = {r["column"]: r for r in rows}
    assert by_col["lang"]["codec"] == "dict"
    assert by_col["text"]["codec"] == "fsst"
    # text must actually compress
    assert by_col["text"]["ratio"] > 1.2


def test_url_canonicalization_edges(spark):
    """Host case folds, path case survives, query/fragment/www/scheme/
    trailing slashes all normalize to one canonical form."""
    import pandas as pd
    from pyspark.sql import functions as F
    from compressed_vec_spark.spark import queries as q

    variants = [
        "https://site0.example.com/A0/b0",
        "http://www.site0.example.com/A0/b0/",
        "https://SITE0.EXAMPLE.COM/A0/b0?utm_source=feed",
        "https://site0.example.com/A0/b0/#frag",
    ]
    df = spark.createDataFrame(pd.DataFrame({"page_id": range(4),
                                             "url": variants}))
    c = F.regexp_replace("url", "#.*", "")
    c = F.regexp_replace(c, r"\?.*", "")
    c = F.regexp_replace(c, "^http://", "https://")
    c = F.regexp_replace(c, r"^https://www\.", "https://")
    host = F.lower(F.regexp_extract(c, "^https://([^/]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract(c, "^https://[^/]+(/.*)?", 1), "/+$", "")
    canon = F.concat(F.lit("https://"), host, path)
    got = {r[0] for r in df.select(canon).collect()}
    # one canonical form; path case 'A0' preserved, host lowered
    assert got == {"https://site0.example.com/A0/b0"}


def test_decontaminate_flags_planted_and_exact_counts(spark, tmp_path):
    """A doc sharing a 13-gram with an eval doc is flagged with the
    exact occurrence count; clean docs are absent."""
    import pandas as pd
    from compressed_vec_spark.spark import queries as q

    toks = [f"w{i}" for i in range(20)]
    eval_doc = " ".join(toks)                      # doc_id 0: eval donor
    # contaminated doc embeds eval tokens 4..16 (the donated gram) twice
    gram = " ".join(toks[3:16])
    contaminated = "x1 " + gram + " x2 x3 " + gram
    clean = " ".join(f"z{i}" for i in range(30))
    pdf = pd.DataFrame({
        "doc_id": [0, 5, 6],
        "text": [eval_doc, contaminated, clean],
        "lang": ["en"] * 3, "source": ["s"] * 3,
        "n_chars": [len(eval_doc), len(contaminated), len(clean)],
    })
    sf = str(tmp_path / "sf")
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r["n_contaminated"]
           for r in q.decontaminate_ngram_overlap(spark, sf).collect()}
    assert got[5] == 2          # both embedded copies counted
    assert got[0] >= 1          # the donor matches its own gram
    assert 6 not in got         # clean doc untouched


def test_c4_line_filter_edge_classes(spark):
    """Each droppable class goes, each keepable line stays byte-exact,
    and pages left with < 3 kept lines are dropped entirely."""
    from compressed_vec_spark.spark import queries as q

    rows = {r["doc_id"]: r for r in q.c4_line_filter(spark, "").collect()}
    # doc 1 keeps exactly its three good sentences, in order
    assert rows[1]["cleaned"] == (
        "This is paragraph 1 about topic t1 with several words.\n"
        "Another valid sentence number 1 appears right here.\n"
        "Document 1 closes with a final complete sentence!")
    assert rows[1]["kept_lines"] == 3 and rows[1]["dropped_lines"] == 5
    # every 10th doc has one good line -> dropped by the page rule
    assert 0 not in rows and 10 not in rows
    assert len(rows) == q.C4_ORACLE_ROWS - q.C4_ORACLE_ROWS // 10


def test_gopher_quality_flags_exact_arithmetic(spark, tmp_path):
    """Hand-computed signals for one crafted doc: integer div, distinct
    stopword counting, alpha fraction, and the combined flag."""
    import pandas as pd
    from compressed_vec_spark.spark import queries as q

    # 24 words: 20x 'word' (4 chars) + the a the 42
    text = " ".join(["word"] * 20 + ["the", "a", "the", "42"])
    pdf = pd.DataFrame({"doc_id": [1], "text": [text], "lang": ["en"],
                        "source": ["s"], "n_chars": [len(text)]})
    sf = str(tmp_path / "sf")
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    r = q.gopher_quality_flags(spark, sf).collect()[0]
    assert r["n_words"] == 24
    # charsum = 20*4 + 3+1+3+2 = 89 -> 89000 div 24 = 3708
    assert r["mean_word_len_milli"] == 3708
    assert r["stopword_hits"] == 2          # {'the', 'a'}, distinct
    # 23 of 24 tokens contain a letter -> 958333 ppm
    assert r["alpha_word_ppm"] == 958333
    assert r["passes"] == 1


def test_events_asof_join_semantics(spark, tmp_path):
    """Inclusive same-ts match, latest-prior selection, per-user
    isolation, and unmatched clicks dropped."""
    import datetime as dt
    import pandas as pd
    from compressed_vec_spark.spark import queries as q

    t0 = dt.datetime(2024, 1, 1)
    us = dt.timedelta(microseconds=1)
    rows = [
        # user 1: view@0, view@10, click@10 (same-ts -> inclusive),
        # click@25 (latest prior = view@10)
        (0, t0, 1, "view"), (1, t0 + 10 * us, 1, "view"),
        (2, t0 + 10 * us, 1, "click"), (3, t0 + 25 * us, 1, "click"),
        # user 2: click with NO prior view -> dropped; later view+click
        (4, t0 + 5 * us, 2, "click"), (5, t0 + 6 * us, 2, "view"),
        (6, t0 + 9 * us, 2, "click"),
        # other event types must be invisible to the join
        (7, t0 + 7 * us, 2, "error"),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type"])
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    sf = str(tmp_path / "sf")
    spark.createDataFrame(pdf).write.parquet(f"{sf}/events.parquet")
    got = {r["click_id"]: (r["prior_view_id"], r["gap_us"])
           for r in q.events_asof_join(spark, sf).collect()}
    assert got == {2: (1, 0), 3: (1, 15), 6: (5, 3)}


def test_duplicate_span_removal_semantics(spark, tmp_path):
    """A 13-token span shared by two docs is removed from BOTH with the
    surrounding unique text kept byte-exact; unaffected docs are absent
    from the output; a fully-duplicated doc cleans to ''."""
    import pandas as pd
    from compressed_vec_spark.spark import queries as q

    span = " ".join(f"s{i}" for i in range(13))
    docs = {
        1: "alpha beta " + span + " gamma delta",
        2: "x1 x2 x3 " + span + " y1",
        3: span,                                    # fully duplicated
        4: " ".join(f"u{i}" for i in range(40)),    # unique -> untouched
    }
    pdf = pd.DataFrame({"doc_id": list(docs), "text": list(docs.values()),
                        "lang": "en", "source": "s",
                        "n_chars": [len(t) for t in docs.values()]})
    sf = str(tmp_path / "sf")
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: (r["n_removed"], r["cleaned"])
           for r in q.duplicate_span_removal(spark, sf).collect()}
    assert got[1] == (13, "alpha beta gamma delta")
    assert got[2] == (13, "x1 x2 x3 y1")
    assert got[3] == (13, "")
    assert 4 not in got


def test_new_query_plans_are_scale_shaped(spark):
    """The session's new operators keep their promised physical
    shapes: the as-of join is a single window (no join operator at
    all), decontamination joins doc grams against a BROADCAST eval
    set, and neither plan contains a cartesian/BNLJ."""
    import plan_helpers as plans
    from compressed_vec_spark.spark import queries as q

    sf = "/root/testdata/sf0.001"
    asof = plans.physical_plan(q.events_asof_join(spark, sf))
    assert "Window" in asof
    for bad in ("SortMergeJoin", "BroadcastHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in asof, asof

    dec = plans.physical_plan(q.decontaminate_ngram_overlap(spark, sf))
    assert "BroadcastHashJoin" in dec, dec
    assert "CartesianProduct" not in dec
    assert "BroadcastNestedLoopJoin" not in dec


def test_membership_antijoin_plan_is_scale_shaped(spark):
    """The membership anti-join's final result must not carry a
    cartesian or nested-loop join anywhere; candidate pairs meet their
    probe values through hash joins only."""
    import plan_helpers as plans
    from compressed_vec_spark.spark import queries as q

    sf = "/root/testdata/sf0.001"
    plan = plans.physical_plan(q.store_membership_antijoin(spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_generated_fixtures_are_write_once_under_scratch_dir(
        spark, tmp_path, monkeypatch):
    """Every generated-fixture entry's oracle reads the version-keyed
    directory under $CVX_SCRATCH_DIR, and a second run of a query
    leaves its fixture files untouched (write-once)."""
    monkeypatch.setenv("CVX_SCRATCH_DIR", str(tmp_path))
    sql = entrymod.oracle_sql()
    for name, fixture in [
            ("encoded_table_null_count", "cvx_nulls_oracle_v1_r2000"),
            ("media_inventory", "cvx_media_oracle_v4_r300"),
            ("url_canonical_dedup", "cvx_url_oracle_v1_r600"),
            ("pii_scrub", "cvx_pii_oracle_v1_r300"),
            ("c4_line_filter", "cvx_c4_oracle_v1_r240"),
            ("boilerplate_removal", "cvx_boiler_oracle_v1_r200")]:
        assert f"'{tmp_path / fixture}/" in sql[name], name

    query = entrymod.queries()["url_canonical_dedup"]
    fixture = tmp_path / "cvx_url_oracle_v1_r600"

    def mtimes():
        return {p: p.stat().st_mtime_ns for p in fixture.rglob("*")}

    query(spark, SF_DIR).collect()
    first = mtimes()
    assert any(p.name == "_SUCCESS" for p in first), first
    query(spark, SF_DIR).collect()
    assert mtimes() == first
