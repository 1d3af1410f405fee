"""Seeded inputs: a TPC-H-shaped lineitem table, the SQL statement stream
over it, and the answer comparison used against the DuckDB oracle.

Everything here is a pure function of the seed, so the same seed gives the
same table and the same statements.  The program under test only ever sees
the generated parquet and the SQL text.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

LINEITEM_ROWS = 50_000
LINEITEM_PARTS = 16
# float answers (SUM/AVG over doubles) may differ in summation order
FLOAT_REL_TOL = 1e-9

_EPOCH_1992 = 694_224_000  # 1992-01-01T00:00:00Z, seconds
_DAY = 86_400


def lineitem(seed: int, n: int = LINEITEM_ROWS) -> pa.Table:
    """TPC-H lineitem-shaped table (the 11 columns of the sf0.1 fixture):
    sparse order keys with 1-7 lines per order, dict-friendly flags,
    cent-rounded doubles and day-granular UTC ship dates.  Rows come out in
    seeded random order; the store build sorts them."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, n // 3 + 8)  # mean 4 lines: > n in total
    ends = np.cumsum(lines)
    lines = lines[: np.searchsorted(ends, n) + 1]
    keys = np.sort(rng.choice(4 * len(lines), len(lines), replace=False)) + 1
    orderkey = np.repeat(keys, lines)[:n].astype(np.int64)
    linenumber = (np.arange(n) - np.repeat(ends[: len(lines)] - lines, lines)[:n]
                  + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    ship_days = rng.integers(0, 2526, n)  # 1992-01-01 .. 1998-12-01
    order = rng.permutation(n)
    cols = {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, 20_001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.choice(3, n, p=[.25, .5, .25])],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": ((_EPOCH_1992 + ship_days * _DAY) * 1_000_000
                       ).astype("datetime64[us]"),
    }
    arrays = {k: (pa.array(v[order], type=pa.timestamp("us", tz="UTC"))
                  if k == "l_shipdate" else pa.array(v[order]))
              for k, v in cols.items()}
    return pa.table(arrays)


def _ts(day: int) -> tuple[str, str]:
    """(Spark literal, DuckDB literal) for midnight UTC of a day offset."""
    iso = np.datetime64(_EPOCH_1992 + day * _DAY, "s").astype(str).replace("T", " ")
    return f"TIMESTAMP '{iso}+00:00'", f"TIMESTAMPTZ '{iso}+00'"


# The last three of the twelve (a quarter) are outside the router's grammar
# and fall back to the decoded view.
TEMPLATES = ("point_count", "range_count", "range_sum", "dict_eq", "dict_in",
             "group_by", "distinct", "select_rows", "metadata",
             "or_fallback", "avg_fallback", "date_fallback")


def statement(name: str, rng: np.random.Generator, keys: np.ndarray,
              view: str) -> tuple[str, str]:
    """(Spark SQL, DuckDB SQL) for one template with seeded literals.
    `keys` are the table's sorted distinct order keys."""
    k = int(keys[rng.integers(0, len(keys))])
    span = int(keys[-1] // 100)
    lo = int(rng.integers(int(keys[0]), int(keys[-1]) - span))
    flags = ["A", "N", "R"]
    f = flags[rng.integers(0, 3)]
    g = flags[rng.integers(0, 3)]
    s = ["F", "O"][rng.integers(0, 2)]
    if name == "point_count":
        q = f"SELECT count(*) AS c FROM {{v}} WHERE l_orderkey = {k}"
    elif name == "range_count":
        q = f"SELECT count(*) AS c FROM {{v}} WHERE l_orderkey BETWEEN {lo} AND {lo + span}"
    elif name == "range_sum":
        q = (f"SELECT sum(l_partkey) AS s FROM {{v}} "
             f"WHERE l_orderkey BETWEEN {lo} AND {lo + span}")
    elif name == "dict_eq":
        q = f"SELECT count(*) AS c FROM {{v}} WHERE l_returnflag = '{f}'"
    elif name == "dict_in":
        q = f"SELECT count(*) AS c FROM {{v}} WHERE l_returnflag IN ('{f}', '{g}')"
    elif name == "group_by":
        q = (f"SELECT l_returnflag, count(*) AS c, sum(l_linenumber) AS s "
             f"FROM {{v}} WHERE l_orderkey BETWEEN {lo} AND {lo + 20 * span} "
             f"GROUP BY l_returnflag")
    elif name == "distinct":
        q = f"SELECT DISTINCT {['l_returnflag', 'l_linestatus'][k % 2]} FROM {{v}}"
    elif name == "select_rows":
        q = (f"SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag "
             f"FROM {{v}} WHERE l_orderkey BETWEEN {k} AND {k + 40}")
    elif name == "metadata":
        q = ("SELECT count(*) AS c, min(l_orderkey) AS lo, max(l_orderkey) AS hi "
             "FROM {v}")
    elif name == "or_fallback":
        q = (f"SELECT count(*) AS c FROM {{v}} "
             f"WHERE l_returnflag = '{f}' OR l_linestatus = '{s}'")
    elif name == "avg_fallback":
        q = (f"SELECT avg(l_discount) AS a FROM {{v}} "
             f"WHERE l_orderkey BETWEEN {lo} AND {lo + span}")
    elif name == "date_fallback":
        d = int(rng.integers(0, 2400))
        (s1, d1), (s2, d2) = _ts(d), _ts(d + 90)
        where = "WHERE l_shipdate >= {} AND l_shipdate < {}"
        return (f"SELECT count(*) AS c FROM {view} " + where.format(s1, s2),
                f"SELECT count(*) AS c FROM {view} " + where.format(d1, d2))
    else:
        raise ValueError(f"unknown template {name!r}")
    q = q.replace("{v}", view)
    return q, q


def sql_stream(seed: int, keys: np.ndarray, view: str, rounds: int):
    """`rounds` rounds; each is every template once, in TEMPLATES order,
    with seeded literals.  The order is fixed so the first use of each
    kernel (cold Python workers, JIT) lands on the same template on every
    seed.  Yields (round, template, spark_sql, duck_sql)."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    for r in range(rounds):
        for name in TEMPLATES:
            yield (r, name) + statement(name, rng, keys, view)


def _same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        return math.isclose(a, b, rel_tol=FLOAT_REL_TOL, abs_tol=FLOAT_REL_TOL)
    return a == b


def _sort_key(row):
    return tuple((v is None, str(type(v).__name__), v if v is not None else 0)
                 for v in row)


def same_answer(got, want) -> bool:
    """Row multisets equal; floats within FLOAT_REL_TOL."""
    got = sorted((tuple(r) for r in got), key=_sort_key)
    want = sorted((tuple(r) for r in want), key=_sort_key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same_value(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))
