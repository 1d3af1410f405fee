"""Plain-SQL entry into the pruned storage paths (sources/sql_router):
supported shapes route to compressed kernels with chunk pruning,
everything else falls back to the decoded view, and both paths agree
with spark.sql ground truth — including on stores with live deletes."""

import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.sources import encoded_table, sql_router
from compressed_vec_spark.spark import delete_job, encode_job
from compressed_vec_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-test-sqlrouter", cores=4, chunk_rows=500)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def store(spark):
    rng = np.random.default_rng(3)
    n = 4000
    pdf = pd.DataFrame({
        "k": np.arange(n, dtype=np.int64),
        "grp": (np.arange(n, dtype=np.int64) * 13) % 20,
        "lang": np.array(["en", "de", "fr", "zh", "pt"])[
            rng.integers(0, 5, n)],
        "score": rng.random(n)})
    out = tempfile.mkdtemp(prefix="cvx_sqlr_")
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(4, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None, resume=False,
                            codec_overrides={"lang": "dict"})
    encoded_table.register_encoded_table(spark, out, "enc_t")
    return out, pdf


ROUTED = [
    "SELECT count(*) AS c FROM enc_t WHERE k = 1234",
    "SELECT count(*) AS c FROM enc_t WHERE k BETWEEN 100 AND 900",
    "SELECT count(*) AS c FROM enc_t WHERE k > 3500",
    "SELECT count(*) AS c FROM enc_t WHERE k >= 100 AND k < 250",
    "SELECT count(*) AS c FROM enc_t WHERE lang = 'de'",
    "SELECT count(*) AS c FROM enc_t WHERE lang IN ('en','fr')",
    "SELECT count(*) AS c FROM enc_t WHERE lang LIKE 'd%'",
    "SELECT count(*) AS c FROM enc_t WHERE grp IN (3, 7, 11)",
    "SELECT count(*) AS c FROM enc_t WHERE score BETWEEN 0.25 AND 0.5",
    "SELECT count(*) AS c FROM enc_t WHERE k BETWEEN 500 AND 600 AND grp = 4",
    "SELECT count(*) AS c FROM enc_t WHERE lang BETWEEN 'de' AND 'fr'",
    "select COUNT(*) as c from enc_t where 100 <= k and k <= 900",
    "SELECT count(*) AS c FROM enc_t WHERE k IN ("
    + ", ".join(str(v) for v in range(7, 4000, 200)) + ")",
    "SELECT count(*) AS c FROM enc_t WHERE lang = 'de' AND k > 100",
    "SELECT count(*) AS c FROM enc_t WHERE k >= 3500",
]
FALLBACK = [
    "SELECT count(*) AS c FROM enc_t WHERE k % 2 = 0",
    "SELECT count(*) AS c FROM enc_t WHERE lang = 'de' OR lang = 'fr'",
    "SELECT count(*) AS c FROM enc_t WHERE lang > 'de'",      # str strict
    "SELECT count(*) AS c FROM enc_t WHERE score > 0.9",      # flt strict
    "SELECT count(*) AS c FROM enc_t WHERE lang LIKE '%de%'",  # not prefix
    "SELECT count(*) AS c FROM enc_t",                         # no WHERE...
]


@pytest.mark.parametrize("sql", ROUTED)
def test_routed_shapes_match_sparksql(spark, store, sql):
    out, _ = store
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert st["routed"] is True, st
    assert "pruned_chunks" in st or "scanned_chunks" in st
    assert got.collect()[0][0] == spark.sql(sql).collect()[0][0]
    assert got.columns == spark.sql(sql).columns  # alias preserved


@pytest.mark.parametrize("sql", FALLBACK[:-1])
def test_fallback_shapes_match_sparksql(spark, store, sql):
    out, _ = store
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert st["routed"] is False
    assert got.collect()[0][0] == spark.sql(sql).collect()[0][0]


def test_no_where_routes_or_falls_back_consistently(spark, store):
    out, _ = store
    sql = FALLBACK[-1]
    got, _ = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert got.collect()[0][0] == 4000


def test_sorted_layout_actually_prunes(spark, store):
    out, _ = store
    _, st = sql_router.route_sql(
        spark, out, "SELECT count(*) AS c FROM enc_t WHERE k BETWEEN 100"
        " AND 900", view="enc_t")
    assert st["routed"] and st["pruned_chunks"] > 0, st


def test_view_mismatch_falls_back(spark, store):
    out, _ = store
    spark.sql("SELECT 1").collect()
    _, st = sql_router.route_sql(
        spark, out, "SELECT count(*) AS c FROM enc_t WHERE k = 5",
        view="some_other_view")
    assert st["routed"] is False


AGG_ROUTED = [
    "SELECT count(*) AS c FROM enc_t",
    "SELECT count(lang) AS c FROM enc_t",
    "SELECT count(*) AS c FROM enc_t WHERE lang IS NULL",
    "SELECT count(*) AS c FROM enc_t WHERE lang IS NOT NULL",
    "SELECT sum(grp) AS s FROM enc_t",
    "SELECT min(k) AS mn, max(k) AS mx, count(*) AS c FROM enc_t",
    "SELECT sum(grp) AS s FROM enc_t WHERE k BETWEEN 100 AND 900",
    "SELECT sum(grp) AS s FROM enc_t WHERE k < 700",
    "SELECT sum(grp) AS s FROM enc_t WHERE k BETWEEN 5000 AND 6000",  # NULL
    "SELECT sum(grp) AS s FROM enc_t WHERE lang = 'de'",
    "SELECT sum(grp) AS s FROM enc_t WHERE lang IN ('de','fr') AND k < 2000",
    "SELECT sum(grp) AS s FROM enc_t WHERE k >= 3500",
    # COUNT(DISTINCT dict col) from the dictionary heaps
    "SELECT count(DISTINCT lang) AS cd FROM enc_t",
    "SELECT count(DISTINCT lang) AS cd, count(*) AS c FROM enc_t",
]
AGG_FALLBACK = [
    "SELECT avg(grp) AS a FROM enc_t",            # no avg kernel
    "SELECT min(lang) AS m FROM enc_t",           # string min/max
    "SELECT count(DISTINCT grp) AS c FROM enc_t",  # int col: no heap
    "SELECT sum(grp) AS s FROM enc_t WHERE k % 2 = 0",  # pred shape
]


@pytest.mark.parametrize("sql", AGG_ROUTED)
def test_aggregate_pushdown_matches_sparksql(spark, store, sql):
    out, _ = store
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert st["routed"] is True, (sql, st)

    def ints(row):  # SUM over no rows is NULL on both paths
        return [None if x is None else int(x) for x in row]
    assert ints(got.collect()[0]) == ints(spark.sql(sql).collect()[0]), sql
    assert got.columns == spark.sql(sql).columns


@pytest.mark.parametrize("sql", AGG_FALLBACK)
def test_aggregate_fallback_matches_sparksql(spark, store, sql):
    out, _ = store
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert st["routed"] is False
    assert [str(x) for x in got.collect()[0]] \
        == [str(x) for x in spark.sql(sql).collect()[0]]


def test_routed_respects_deletes(spark, store):
    """The kernels apply committed position deletes, so the routed
    answer must track them exactly (the decoded view applies them
    too — both sides move together)."""
    out, pdf = store
    delete_job.delete_where_equals(spark, out, "lang", "zh", "sqld1")
    for sql in ("SELECT count(*) AS c FROM enc_t WHERE lang = 'zh'",
                "SELECT count(*) AS c FROM enc_t WHERE lang IN ('zh','pt')",
                "SELECT count(*) AS c FROM enc_t WHERE k BETWEEN 0 AND 3999",
                "SELECT count(*) AS c FROM enc_t",
                "SELECT count(lang) AS c FROM enc_t",
                "SELECT sum(grp) AS s FROM enc_t"):
        got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
        assert st["routed"] is True
        # re-register: the old temp view captured the pre-delete scan
        encoded_table.register_encoded_table(spark, out, "enc_t_live")
        want = spark.sql(sql.replace("enc_t", "enc_t_live")).collect()[0][0]
        assert got.collect()[0][0] == want, sql
    # manifest min/max is only a BOUND under live deletes: refuse the
    # metadata answer and fall back to the (correct) decoded view
    got, st = sql_router.route_sql(
        spark, out, "SELECT min(k) AS mn FROM enc_t", view="enc_t")
    assert st["routed"] is False
    assert got.collect()[0][0] == 0


# --- plain-SQL GROUP BY routed to the dict-code bincount kernel ---

GROUP_ROUTED = [
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang ORDER BY lang",
    "SELECT lang, count(lang) AS cl FROM enc_t GROUP BY lang"
    " ORDER BY lang",
    "SELECT lang, sum(grp) AS s, count(*) AS c FROM enc_t"
    " GROUP BY lang ORDER BY c DESC, lang",
    "SELECT lang, count(grp) AS cg, sum(k) AS sk FROM enc_t"
    " GROUP BY lang ORDER BY lang DESC",
    "select lang, COUNT(*) as c from enc_t group by lang",  # no sort
    # WHERE composed under the group kernel: chunk prune + row mask
    "SELECT lang, count(*) AS c FROM enc_t WHERE k > 100"
    " GROUP BY lang ORDER BY lang",
    "SELECT lang, sum(grp) AS s FROM enc_t"
    " WHERE k BETWEEN 500 AND 2600 GROUP BY lang ORDER BY lang",
    "SELECT lang, count(*) AS c FROM enc_t WHERE lang IN ('de', 'fr')"
    " GROUP BY lang ORDER BY lang",
    "SELECT lang, count(grp) AS cg FROM enc_t WHERE lang = 'pt'"
    " GROUP BY lang",
    "SELECT lang, count(*) AS c FROM enc_t"
    " WHERE score BETWEEN 0.2 AND 0.7 AND grp = 4"
    " GROUP BY lang ORDER BY lang",
    # WHERE matching NOTHING: zero groups, like spark.sql
    "SELECT lang, count(*) AS c FROM enc_t WHERE k > 99999"
    " GROUP BY lang",
    "SELECT lang, count(*) AS c FROM enc_t WHERE lang = 'xx'"
    " GROUP BY lang",
    # per-group MIN/MAX answered by the kernel (exact under deletes)
    "SELECT lang, min(k) AS mn, max(k) AS mx, count(*) AS c FROM enc_t"
    " GROUP BY lang ORDER BY lang",
    "SELECT lang, min(grp) AS mn FROM enc_t"
    " WHERE k BETWEEN 50 AND 1500 GROUP BY lang ORDER BY lang",
    # HAVING: SELECT alias, bare aggregate, hidden aggregate (not in
    # the SELECT list), group column, literal-on-left, AND-combined
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang HAVING c > 700"
    " ORDER BY lang",
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang"
    " HAVING count(*) > 700 ORDER BY lang",
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang"
    " HAVING sum(grp) > 7000 ORDER BY lang",
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang"
    " HAVING lang >= 'fr' ORDER BY lang",
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang"
    " HAVING 700 < count(*) ORDER BY lang",
    "SELECT lang, sum(grp) AS s FROM enc_t WHERE grp = 4 GROUP BY lang"
    " HAVING count(*) >= 20 AND s < 5000 ORDER BY s",
    "SELECT lang, max(k) AS mk FROM enc_t GROUP BY lang"
    " HAVING min(k) < 10 ORDER BY lang",
]
GROUP_FALLBACK = [
    # int group column (not dict-coded)
    "SELECT grp, count(*) AS c FROM enc_t GROUP BY grp ORDER BY grp",
    # avg has no compressed kernel
    "SELECT lang, avg(grp) AS a FROM enc_t GROUP BY lang ORDER BY lang",
    # float SUM stays on the decoded view (exactness contract is int64)
    "SELECT lang, sum(score) AS s FROM enc_t GROUP BY lang"
    " ORDER BY lang",
    # two grouping keys
    "SELECT lang, grp, count(*) AS c FROM enc_t GROUP BY lang, grp"
    " ORDER BY lang, grp",
    # WHERE leaves outside the mask kernels fall back whole
    "SELECT lang, count(*) AS c FROM enc_t WHERE k % 2 = 0"
    " GROUP BY lang ORDER BY lang",
    "SELECT lang, count(*) AS c FROM enc_t"
    " WHERE lang = 'de' OR lang = 'fr' GROUP BY lang ORDER BY lang",
    "SELECT lang, count(*) AS c FROM enc_t WHERE score > 0.5"
    " GROUP BY lang ORDER BY lang",  # strict float bound
    # HAVING leaves outside the grammar fall back whole
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang"
    " HAVING avg(grp) > 9 ORDER BY lang",
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang"
    " HAVING c > 900 OR c < 500 ORDER BY lang",
    # string MIN/MAX of the group key stays on the decoded view
    "SELECT lang, min(lang) AS m FROM enc_t GROUP BY lang ORDER BY lang",
]
# ORDER BY a column that is neither grouped nor selected is invalid SQL
# (Spark raises UNRESOLVED_COLUMN) — the router must refuse to route it
# so the caller gets Spark's own analysis error, not a silent answer.
GROUP_INVALID = \
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang ORDER BY grp"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("sql", GROUP_ROUTED)
def test_group_routed_matches_sparksql(spark, store, sql):
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert st["routed"] is True and st.get("group_kernel"), (sql, st)
    want = spark.sql(sql)
    assert got.columns == want.columns, sql
    assert _rows(got) == _rows(want), sql
    if "ORDER BY" in sql.upper():  # sort order preserved, not just set
        assert [tuple(r) for r in got.collect()] \
            == [tuple(r) for r in want.collect()], sql


@pytest.mark.parametrize("sql", GROUP_FALLBACK)
def test_group_fallback_matches_sparksql(spark, store, sql):
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert not st.get("group_kernel"), (sql, st)
    assert _rows(got) == _rows(spark.sql(sql)), sql


def test_group_kernel_null_semantics(spark):
    """NULL group key is its own emitted group; COUNT(col) skips nulls
    inside a group; SUM over an all-null group is NULL (SQL), and the
    exact decimal accumulation survives values near int64."""
    # > 2^53: naive float64 accumulation would round each value, yet
    # 150 * big stays inside int64 — isolates the hi/lo exactness
    big = 60_000_000_000_000_001
    pdf = pd.DataFrame({
        "g": pd.Series(["a", None, "b", "a", None, "c", "b", "a"] * 50,
                       dtype=object),
        "v": pd.Series([1, 2, None, 4, 5, None, 7, 8] * 50,
                       dtype="Int64"),
        "w": pd.Series([big, 1, big, big, 2, big, big, big] * 50,
                       dtype="Int64")})
    out = tempfile.mkdtemp(prefix="cvx_sqlg_null_")
    encode_job.encode_table(
        spark, spark.createDataFrame(pdf).repartition(2), out,
        url_col=None, resume=False, codec_overrides={"g": "dict"})
    encoded_table.register_encoded_table(spark, out, "enc_gnull")
    sql = ("SELECT g, count(*) AS c, count(v) AS cv, sum(v) AS sv,"
           " sum(w) AS sw, min(v) AS mnv, max(v) AS mxv"
           " FROM enc_gnull GROUP BY g ORDER BY g")
    got, st = sql_router.route_sql(spark, out, sql, view="enc_gnull")
    assert st["routed"] is True and st.get("group_kernel"), st
    rows = {r["g"]: r for r in got.collect()}
    assert set(rows) == {"a", "b", "c", None}
    assert rows["c"]["sv"] is None          # all-null SUM group
    assert rows["c"]["mnv"] is None and rows["c"]["mxv"] is None
    assert rows["a"]["mnv"] == 1 and rows["a"]["mxv"] == 8
    assert rows["c"]["c"] == 50 and rows["c"]["cv"] == 0
    assert rows[None]["c"] == 100 and rows[None]["cv"] == 100
    assert rows["a"]["sv"] == (1 + 4 + 8) * 50
    assert rows["a"]["sw"] == 3 * 50 * big  # exact despite > 2^53 vals
    want = {r["g"]: r for r in spark.sql(sql).collect()}
    for g in rows:
        assert tuple(rows[g]) == tuple(want[g]), g


def test_group_kernel_respects_deletes(spark, store):
    """Runs after test_routed_respects_deletes in file order, so the
    store has live 'zh' position deletes — the group kernel must see
    the same live rows the re-registered decoded view sees."""
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t_live2")
    sql = ("SELECT lang, count(*) AS c, sum(grp) AS s FROM {v}"
           " GROUP BY lang ORDER BY lang")
    got, st = sql_router.route_sql(
        spark, out, sql.format(v="enc_t_live2"), view="enc_t_live2")
    assert st["routed"] is True and st.get("group_kernel"), st
    rows = _rows(got)
    assert _rows(spark.sql(sql.format(v="enc_t_live2"))) == rows
    assert not any(r[0] == "zh" for r in rows)  # deleted group gone


DISTINCT_ROUTED = [
    "SELECT DISTINCT lang FROM enc_t ORDER BY lang",
    "SELECT DISTINCT lang FROM enc_t ORDER BY lang DESC",
    "SELECT DISTINCT lang FROM enc_t ORDER BY lang LIMIT 3",
]
DISTINCT_FALLBACK = [
    "SELECT DISTINCT grp FROM enc_t ORDER BY grp",     # int column
    "SELECT DISTINCT lang, grp FROM enc_t",            # two columns
    "SELECT DISTINCT lang FROM enc_t LIMIT 2",         # limit, no order
    "SELECT DISTINCT lang FROM enc_t WHERE k < 100",   # WHERE
]
GROUP_LIMIT_ROUTED = [
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang"
    " ORDER BY c DESC, lang LIMIT 2",
    "SELECT lang, sum(grp) AS s FROM enc_t WHERE k < 2000"
    " GROUP BY lang ORDER BY lang LIMIT 3",
]


@pytest.mark.parametrize("sql", DISTINCT_ROUTED + GROUP_LIMIT_ROUTED)
def test_distinct_and_limit_routed(spark, store, sql):
    """SELECT DISTINCT answers from the dictionary heaps (store has
    live 'zh' deletes by this point: the vanished value must not
    resurface from a stale heap), and ORDER BY ... LIMIT composes on
    the group kernel."""
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert st["routed"], (sql, st)
    assert st.get("distinct_kernel") or st.get("group_kernel"), (sql, st)
    assert [tuple(r) for r in got.collect()] \
        == [tuple(r) for r in spark.sql(sql).collect()], sql
    assert got.columns == spark.sql(sql).columns, sql


@pytest.mark.parametrize("sql", DISTINCT_FALLBACK)
def test_distinct_fallback(spark, store, sql):
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert not st.get("distinct_kernel") and not st.get("group_kernel"), \
        (sql, st)
    assert got.count() == spark.sql(sql).count(), sql


SELECT_ROUTED = [
    "SELECT k, lang FROM enc_t WHERE lang = 'de' ORDER BY k",
    "SELECT k, grp, score FROM enc_t WHERE k BETWEEN 100 AND 450"
    " ORDER BY k",
    "SELECT * FROM enc_t WHERE k = 777",
    "SELECT lang, k FROM enc_t WHERE k >= 3900 ORDER BY k DESC LIMIT 10",
    "SELECT k FROM enc_t WHERE score BETWEEN 0.40 AND 0.42 ORDER BY k",
    "SELECT grp FROM enc_t WHERE grp = 11 ORDER BY grp LIMIT 5",
    # AND of routable leaves: multi-predicate select kernel
    "SELECT k, lang FROM enc_t WHERE lang = 'de' AND k < 100"
    " ORDER BY k",
    "SELECT k FROM enc_t WHERE k BETWEEN 200 AND 900"
    " AND grp = 4 AND score BETWEEN 0.1 AND 0.9 ORDER BY k",
    "SELECT * FROM enc_t WHERE lang IN ('de', 'pt') AND k >= 3800"
    " ORDER BY k",
]
SELECT_FALLBACK = [
    "SELECT k AS kk FROM enc_t WHERE k < 100",            # alias
    "SELECT k FROM enc_t WHERE score > 0.99",             # strict float
    "SELECT k FROM enc_t WHERE k < 100 LIMIT 5",          # no ORDER BY
    "SELECT upper(lang) FROM enc_t WHERE k = 5",          # expression
    # one unroutable leaf poisons the whole AND
    "SELECT k FROM enc_t WHERE lang = 'de' AND k % 2 = 0",
]


@pytest.mark.parametrize("sql", SELECT_ROUTED)
def test_select_rows_routed(spark, store, sql):
    """Row-returning filtered projections route to the pruned select
    kernels (store has live 'zh' deletes by this point — the kernel
    must apply them like the view does)."""
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert st["routed"] and st.get("select_kernel"), (sql, st)
    want = spark.sql(sql)
    assert got.columns == want.columns, sql
    g = [tuple(r) for r in got.collect()]
    w = [tuple(r) for r in want.collect()]
    if "ORDER BY k" in sql or "ORDER BY grp" in sql:
        assert g == w, sql
    else:
        assert sorted(map(str, g)) == sorted(map(str, w)), sql


@pytest.mark.parametrize("sql", SELECT_FALLBACK)
def test_select_rows_fallback(spark, store, sql):
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert not st.get("select_kernel"), (sql, st)
    assert got.count() == spark.sql(sql).count(), sql


def test_group_where_prunes_chunks(spark, store):
    """The k-sorted layout must actually chunk-prune under the group
    kernel's WHERE, and the surviving masked rows must agree with the
    decoded view (store has live 'zh' deletes by this point — both
    layers apply them)."""
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    sql = ("SELECT lang, count(*) AS c, sum(grp) AS s FROM enc_t"
           " WHERE k BETWEEN 600 AND 1150 GROUP BY lang ORDER BY lang")
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert st["routed"] and st.get("group_kernel"), st
    assert st["where_specs"] == 1 and st["pruned_chunks"] > 0, st
    assert _rows(got) == _rows(spark.sql(sql))


def test_group_invalid_order_raises_like_sparksql(spark, store):
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException):
        df, st = sql_router.route_sql(spark, out, GROUP_INVALID,
                                      view="enc_t")
        assert not st.get("group_kernel"), st  # must not route...
        df.collect()                           # ...and fallback raises


def test_grammar_fuzz_routed_or_fallback_always_matches(spark, store):
    """Deterministic fuzz over the router's whole statement space:
    random WHERE conjunctions (routable and not), random aggregate /
    GROUP BY / HAVING / DISTINCT / row-SELECT shells with optional
    ORDER BY + LIMIT.  Whatever path the router picks, the answer must
    equal spark.sql over the registered decoded view — the router's
    one contract.  Seeded: failures reproduce exactly."""
    import random
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    rng = random.Random(20260820)

    def leaf():
        return rng.choice([
            lambda: f"k = {rng.randrange(4000)}",
            lambda: f"k BETWEEN {rng.randrange(2000)}"
                    f" AND {rng.randrange(2000, 4000)}",
            lambda: f"k >= {rng.randrange(3500)}",
            lambda: f"k < {rng.randrange(500, 4000)}",
            lambda: f"lang = '{rng.choice(['en', 'de', 'xx'])}'",
            lambda: "lang IN ('en','fr')",
            lambda: f"grp = {rng.randrange(20)}",
            lambda: f"score BETWEEN 0.{rng.randrange(1, 5)}"
                    f" AND 0.{rng.randrange(5, 9)}",
            lambda: "k % 7 = 0",                 # never routable
            lambda: "lang LIKE 'd%'",
            lambda: f"lang BETWEEN '{rng.choice(['de', 'en'])}'"
                    f" AND '{rng.choice(['fr', 'zh'])}'",
            lambda: "k IN (" + ", ".join(
                str(rng.randrange(4000)) for _ in range(20)) + ")",
        ])()

    def where():
        n = rng.choice([0, 1, 1, 2, 3])
        return (" WHERE " + " AND ".join(leaf() for _ in range(n))
                if n else "")

    def statement():
        shape = rng.randrange(4)
        tail = ""
        if shape == 0:      # count or sum aggregate
            agg = rng.choice(["count(*) AS c", "sum(grp) AS s"])
            return f"SELECT {agg} FROM enc_t{where()}"
        if shape == 1:      # group by
            aggs = rng.sample(["count(*) AS c", "sum(grp) AS s",
                               "min(k) AS mn", "max(k) AS mx",
                               "count(grp) AS cg"], rng.randrange(1, 3))
            h = rng.choice(["", " HAVING count(*) >= 1",
                            " HAVING c > 100" if "count(*) AS c" in aggs
                            else ""])
            tail = " ORDER BY lang" + (
                f" LIMIT {rng.randrange(1, 6)}" if rng.random() < .3
                else "")
            return (f"SELECT lang, {', '.join(aggs)} FROM enc_t"
                    f"{where()} GROUP BY lang{h}{tail}")
        if shape == 2:      # distinct
            tail = rng.choice(["", " ORDER BY lang",
                               " ORDER BY lang LIMIT 3"])
            return f"SELECT DISTINCT lang FROM enc_t{tail}"
        cols = rng.sample(["k", "lang", "grp", "score"],
                          rng.randrange(1, 4))
        w = where() or " WHERE k < 40"
        return (f"SELECT {', '.join(cols)} FROM enc_t{w}"
                + (" ORDER BY " + cols[0] if "k" in cols else ""))

    n_routed = 0
    for i in range(60):
        sql = statement()
        got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
        want = spark.sql(sql)
        assert got.columns == want.columns, (i, sql)
        g = [tuple(r) for r in got.collect()]
        w = [tuple(r) for r in want.collect()]
        if " LIMIT " in sql and " ORDER BY lang LIMIT" in sql \
                and "GROUP BY" in sql:
            # ORDER BY lang is total (unique groups): exact compare
            assert g == w, (i, sql)
        elif " LIMIT " in sql:
            assert len(g) == len(w), (i, sql)
        else:
            assert sorted(map(str, g)) == sorted(map(str, w)), (i, sql)
        n_routed += bool(st.get("routed"))
    # the fuzz must exercise BOTH paths, or it proves nothing
    assert 10 <= n_routed <= 59, n_routed


def test_select_refuses_evolved_store_instead_of_dropping_rows(spark):
    """On a schema-evolved store, pre-evolution chunks have no blob
    for a later-added column; a routed SELECT that inner-joined those
    blobs would silently drop the old chunks' rows.  The router must
    fall back (answer == decoded view, which NULL-backfills)."""
    pdf1 = pd.DataFrame({"k": np.arange(100, dtype=np.int64),
                         "lang": ["en", "de"] * 50})
    pdf2 = pd.DataFrame({"k": np.arange(100, 200, dtype=np.int64),
                         "lang": ["fr", "pt"] * 50,
                         "extra": np.arange(100, dtype=np.int64)})
    out = tempfile.mkdtemp(prefix="cvx_sqlev_")
    encode_job.encode_table(spark, spark.createDataFrame(pdf1)
                            .repartition(2), out, url_col=None,
                            resume=False, codec_overrides={"lang": "dict"})
    encode_job.append_table(spark, spark.createDataFrame(pdf2)
                            .repartition(2), out, batch_id="ev1",
                            allow_new_columns=True)
    encoded_table.register_encoded_table(spark, out, "enc_ev")
    for sql in ("SELECT k, extra FROM enc_ev WHERE k < 150 ORDER BY k",
                "SELECT lang, sum(extra) AS s FROM enc_ev"
                " WHERE k < 150 GROUP BY lang ORDER BY lang"):
        got, st = sql_router.route_sql(spark, out, sql, view="enc_ev")
        assert not st.get("select_kernel") \
            and not st.get("group_kernel"), (sql, st)
        assert _rows(got) == _rows(spark.sql(sql)), sql
    # rows on columns every chunk has still route
    got, st = sql_router.route_sql(
        spark, out, "SELECT k, lang FROM enc_ev WHERE k < 150 ORDER BY k",
        view="enc_ev")
    assert st["routed"] and st.get("select_kernel"), st
    assert _rows(got) == _rows(spark.sql(
        "SELECT k, lang FROM enc_ev WHERE k < 150 ORDER BY k"))


def test_nulls_last_ordering_honored(spark):
    """ORDER BY ... NULLS FIRST/LAST must survive routing: the
    DISTINCT kernel appends its NULL row, so a misread null ordering
    returns differently-ordered (and with LIMIT, different) rows."""
    pdf = pd.DataFrame({
        "g": pd.Series((["a", None, "b", "c"] * 50), dtype=object),
        "v": np.arange(200, dtype=np.int64)})
    out = tempfile.mkdtemp(prefix="cvx_sqlnull_")
    encode_job.encode_table(spark, spark.createDataFrame(pdf)
                            .repartition(2), out, url_col=None,
                            resume=False, codec_overrides={"g": "dict"})
    encoded_table.register_encoded_table(spark, out, "enc_no")
    for sql in ("SELECT DISTINCT g FROM enc_no ORDER BY g NULLS LAST",
                "SELECT DISTINCT g FROM enc_no ORDER BY g DESC"
                " NULLS FIRST",
                "SELECT DISTINCT g FROM enc_no ORDER BY g NULLS LAST"
                " LIMIT 2",
                "SELECT g, count(*) AS c FROM enc_no GROUP BY g"
                " ORDER BY g NULLS LAST",
                "SELECT g, v FROM enc_no WHERE v < 50"
                " ORDER BY g NULLS LAST, v"):
        got, st = sql_router.route_sql(spark, out, sql, view="enc_no")
        assert st["routed"], (sql, st)
        assert [tuple(r) for r in got.collect()] \
            == [tuple(r) for r in spark.sql(sql).collect()], sql


def test_having_alias_shadowing_table_column_not_routed(spark, store):
    """`HAVING k > 100` where `k` is BOTH a real table column and the
    SELECT count alias: alias-vs-column resolution here is a Spark
    analyzer subtlety (this Spark resolves the alias; others have
    resolved the child column first) — the router must NOT bake in
    either choice, so it falls back and lets Spark's own resolver
    decide.  A bare aggregate over the shadowed name must still
    route (no ambiguity: aggregates always resolve the column)."""
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    sql = ("SELECT lang, count(*) AS k FROM enc_t"
           " GROUP BY lang HAVING k > 100")
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert not st.get("group_kernel"), st
    assert _rows(got) == _rows(spark.sql(sql))
    sql2 = ("SELECT lang, count(*) AS c FROM enc_t"
            " GROUP BY lang HAVING max(k) > 3900 ORDER BY lang")
    got2, st2 = sql_router.route_sql(spark, out, sql2, view="enc_t")
    assert st2["routed"] and st2.get("group_kernel"), st2
    assert _rows(got2) == _rows(spark.sql(sql2))


# --- SQL dimension join: aggregate pushed below a broadcast join ---

def _join_dims(spark):
    spark.createDataFrame(
        [("en", "west", 1), ("de", "west", 2), ("fr", "west", 3),
         ("zh", "east", 4), ("pt", "west", 5), ("xx", "none", 6)],
        "lang string, region string, rank long") \
        .createOrReplaceTempView("jdim")
    spark.createDataFrame(
        [("en", "A"), ("en", "B"), ("de", "A")],
        "lang string, tag string").createOrReplaceTempView("jdup")


JOIN_ROUTED = [
    "SELECT region, count(*) AS c FROM enc_t JOIN jdim"
    " ON enc_t.lang = jdim.lang GROUP BY region ORDER BY region",
    "SELECT d.region, count(*) AS c, sum(grp) AS s, min(k) AS mn"
    " FROM enc_t j JOIN jdim d ON j.lang = d.lang"
    " GROUP BY d.region ORDER BY c DESC, d.region",
    "SELECT region, sum(grp) AS s FROM enc_t JOIN jdim"
    " ON jdim.lang = enc_t.lang WHERE k BETWEEN 100 AND 2000"
    " GROUP BY region ORDER BY region LIMIT 2",
    "SELECT region, count(grp) AS cg FROM enc_t JOIN jdim"
    " ON enc_t.lang = jdim.lang WHERE grp = 4"
    " GROUP BY region ORDER BY region",
    # 1:N dimension: per-key partials duplicated per match IS the
    # inner-join multiplicity
    "SELECT tag, count(*) AS c FROM enc_t JOIN jdup"
    " ON enc_t.lang = jdup.lang GROUP BY tag ORDER BY tag",
]
JOIN_FALLBACK = [
    # aggregate over a dimension column
    "SELECT region, sum(rank) AS s FROM enc_t JOIN jdim"
    " ON enc_t.lang = jdim.lang GROUP BY region ORDER BY region",
    # dimension-side WHERE
    "SELECT region, count(*) AS c FROM enc_t JOIN jdim"
    " ON enc_t.lang = jdim.lang WHERE rank > 2"
    " GROUP BY region ORDER BY region",
    # outer join
    "SELECT region, count(*) AS c FROM enc_t LEFT JOIN jdim"
    " ON enc_t.lang = jdim.lang GROUP BY region ORDER BY region",
    # grouped by the store column, not a dim attribute
    "SELECT enc_t.lang, count(*) AS c FROM enc_t JOIN jdim"
    " ON enc_t.lang = jdim.lang GROUP BY enc_t.lang",
]


@pytest.mark.parametrize("sql", JOIN_ROUTED)
def test_join_pushdown_matches_sparksql(spark, store, sql):
    """Aggregate-below-join from SQL text (store has live 'zh'
    deletes by this point — partials must reflect them)."""
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    _join_dims(spark)
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert st["routed"] and st.get("join_pushdown"), (sql, st)
    assert got.columns == spark.sql(sql).columns, sql
    assert [tuple(r) for r in got.collect()] \
        == [tuple(r) for r in spark.sql(sql).collect()], sql


@pytest.mark.parametrize("sql", JOIN_FALLBACK)
def test_join_fallback_matches_sparksql(spark, store, sql):
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    _join_dims(spark)
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert not st.get("join_pushdown"), (sql, st)
    assert sorted((tuple(r) for r in got.collect()), key=str) \
        == sorted((tuple(r) for r in spark.sql(sql).collect()),
                  key=str), sql


# LIMIT without ORDER BY picks arbitrary rows: Spark's call for every
# shape, so only the row counts compare
LIMIT_FALLBACK = [
    "SELECT lang, count(*) AS c FROM enc_t GROUP BY lang LIMIT 2",
    "SELECT region, count(*) AS c FROM enc_t JOIN jdim"
    " ON enc_t.lang = jdim.lang GROUP BY region LIMIT 2",
]


@pytest.mark.parametrize("sql", LIMIT_FALLBACK)
def test_limit_without_order_falls_back(spark, store, sql):
    out, _ = store
    encoded_table.register_encoded_table(spark, out, "enc_t")
    _join_dims(spark)
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert not any(st.get(f) for f in (
        "routed", "select_kernel", "group_kernel", "join_pushdown",
        "distinct_kernel", "metadata_only")), (sql, st)
    assert got.count() == spark.sql(sql).count(), sql


@pytest.mark.parametrize("sql", [
    # agg alias shadows the group column
    "SELECT lang, count(*) AS lang FROM enc_t GROUP BY lang ORDER BY 1",
    # duplicate agg aliases
    "SELECT lang, count(*) AS c, sum(k) AS c FROM enc_t"
    " GROUP BY lang ORDER BY lang",
])
def test_group_alias_collision_not_routed(spark, store, sql):
    """An agg alias equal to the group column (or duplicated) must NOT
    route: the kernel's withColumnRenamed would produce ambiguous
    columns where plain spark.sql succeeds — the router falls back and
    still answers (r5 advice)."""
    out, _ = store
    got, st = sql_router.route_sql(spark, out, sql, view="enc_t")
    assert not st.get("group_kernel")
    want = spark.sql(sql)
    assert [r.asDict() for r in got.collect()] \
        == [r.asDict() for r in want.collect()]
