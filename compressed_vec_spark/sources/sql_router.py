"""Plain-SQL entry into the pruned storage paths.

`register_encoded_table` exposes a store as a temp view, but a user
typing `spark.sql("SELECT count(*) FROM v WHERE col = x")` over that
view gets the full-decode plan — every chunk decoded, every predicate
evaluated on materialized rows.  This module closes that gap for the
predicate shapes the storage layer can answer from compressed bytes:

    SELECT count(*) AS alias FROM <view> WHERE <AND of leaves>
      leaf := col = lit | col IN (lit, ...) | col LIKE 'prefix%'
            | col BETWEEN lo AND hi     (or >= / > / <= / < bounds)
    SELECT count(*) AS alias FROM <view> WHERE col IS [NOT] NULL
                                        (manifest null counts)

    SELECT sum(col) AS a FROM <view> [WHERE <AND of leaves>]
    SELECT count(*)|count(col)|sum(col)|min(col)|max(col) AS a, ...
      FROM <view>                       (metadata-only aggregates)
    SELECT g, count(*)|count(col)|sum|min|max(int col) AS a, ...
      FROM <view>
      [WHERE <AND of leaves>]
      GROUP BY g [HAVING output-col/aggregate cmp literal, AND-comb.]
      [ORDER BY output cols] [LIMIT n] (dict-code bincount kernel
      with manifest chunk-prune + compressed-domain row masks for the
      WHERE, post-aggregation filters for the HAVING)

    SELECT DISTINCT col FROM <view> [ORDER BY col] [LIMIT n]
      (union of per-chunk dictionary heaps — code vectors never
      decoded except under live deletes; NULL membership from the
      manifest null counts)

    SELECT col, ... | * FROM <view> WHERE <AND of routable leaves>
      [ORDER BY projected cols] [LIMIT n]
      (row-returning: the pruned select — intersected manifest chunk
      candidates, ANDed row masks, projections decoded only where the
      mask passes)

    SELECT d.attr, aggs FROM <view> JOIN dim ON key = key [WHERE p]
      GROUP BY d.attr [ORDER BY output cols] [LIMIT n]
      (aggregate below the join: per-join-key group-kernel partials
      join the broadcast dimension and re-aggregate — the join input
      is the key domain, not N rows; exact for 1:N dims)

`route_sql` is the one entry.  It parses the SQL with Spark's OWN
parser (so quoting, case, comments, literal syntax all behave exactly
like spark.sql), reads the unresolved logical plan in one walk
(`_shape`), turns the WHERE into AND-ed `encoded_table.Leaf`s and runs
the store's pruned readers (sources/encoded_table.py) — manifest
zone-map/Bloom pruning plus compressed-domain evaluation, the same
fast path the Python API gets.  A LIMIT without ORDER BY picks
arbitrary rows, so it stays with Spark.  Anything outside the grammar
falls back to `spark.sql(sql)` over the registered decoded view, so
the router is never LESS capable than the view: same answer, slower
plan, `stats["routed"] = False` says which path ran.

No Catalyst rule is involved: this is a thin predicate extractor over
the parse tree (r4 verdict's suggested design).  At 100 TB the win is
the kernels' own: only manifest rows and surviving chunk blobs are
read, nothing re-shuffles, and the fallback path keeps Spark's full
optimizer for everything else.
"""

from __future__ import annotations

import json
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import encoded_table

# expression / plan class simple-names we pattern-match
_CMP = {"EqualTo": "eq", "GreaterThanOrEqual": "ge", "GreaterThan": "gt",
        "LessThanOrEqual": "le", "LessThan": "lt"}
_FLIP = {"ge": "le", "gt": "lt", "le": "ge", "lt": "gt", "eq": "eq"}


def _cls(node: dict) -> str:
    return node["class"].rsplit(".", 1)[1]


def _tree(nodes: list, pos: int = 0):
    """Rebuild one expression/plan tree from Spark's flattened
    pre-order TreeNode JSON (children follow their parent, counted by
    num-children).  Returns (tree, next_pos)."""
    n = nodes[pos]
    kids, p = [], pos + 1
    for _ in range(int(n["num-children"])):
        k, p = _tree(nodes, p)
        kids.append(k)
    return {"cls": _cls(n), "raw": n, "kids": kids}, p


def _literal(t: dict):
    """Python value of a Literal expression node, or None if not one."""
    if t["cls"] != "Literal":
        return None
    raw, dt = t["raw"].get("value"), t["raw"].get("dataType", "")
    if raw is None:
        return None
    if dt in ("integer", "long", "short", "byte"):
        return int(raw)
    if dt in ("double", "float") or dt.startswith("decimal"):
        return float(raw)
    if dt == "string":
        return str(raw)
    return None


def _qattr(t: dict) -> tuple[str | None, str | None]:
    """(qualifier, column) of an attribute — ("j", "lang") for j.lang,
    (None, "lang") for a bare reference, (None, None) if not one."""
    if t["cls"] != "UnresolvedAttribute":
        return None, None
    parts = [p for p in t["raw"].get("nameParts", "")
             .strip("[]").split(", ") if p]
    if not parts:
        return None, None
    return (parts[-2] if len(parts) > 1 else None), parts[-1]


def _attr(t: dict) -> str | None:
    return _qattr(t)[1]


def _leaves(t: dict, out: list) -> bool:
    """Flatten an AND-tree into normalized leaf predicates
    {col, op, val|vals}.  False = something unsupported seen."""
    if t["cls"] == "And":
        return _leaves(t["kids"][0], out) and _leaves(t["kids"][1], out)
    if t["cls"] in _CMP:
        l, r = t["kids"]
        col, lit = _attr(l), _literal(r)
        op = _CMP[t["cls"]]
        if col is None:  # literal-on-left form: 5 <= col
            col, lit, op = _attr(r), _literal(l), _FLIP[_CMP[t["cls"]]]
        if col is None or lit is None:
            return False
        out.append({"col": col, "op": op, "val": lit})
        return True
    if (t["cls"] == "UnresolvedFunction"
            and str(t["raw"].get("nameParts", "")).strip("[]").lower() == "between"
            and len(t["kids"]) == 3):
        col = _attr(t["kids"][0])
        lo, hi = _literal(t["kids"][1]), _literal(t["kids"][2])
        if col is None or lo is None or hi is None:
            return False
        out.append({"col": col, "op": "ge", "val": lo})
        out.append({"col": col, "op": "le", "val": hi})
        return True
    if t["cls"] == "In":
        col = _attr(t["kids"][0])
        vals = [_literal(k) for k in t["kids"][1:]]
        if col is None or any(v is None for v in vals) or not vals:
            return False
        out.append({"col": col, "op": "in", "vals": vals})
        return True
    if t["cls"] in ("IsNull", "IsNotNull"):
        col = _attr(t["kids"][0])
        if col is None:
            return False
        out.append({"col": col,
                    "op": "isnull" if t["cls"] == "IsNull" else "notnull"})
        return True
    if t["cls"] == "Like":
        col, pat = _attr(t["kids"][0]), _literal(t["kids"][1])
        if (col is None or not isinstance(pat, str) or len(pat) < 2
                or not pat.endswith("%")
                or any(c in pat[:-1] for c in "%_\\")):
            return False  # only the pure-prefix shape maps to a kernel
        out.append({"col": col, "op": "prefix", "val": pat[:-1]})
        return True
    return False


_AGG_FNS = ("count", "sum", "min", "max")


def _agg_fn_of(fn_t: dict) -> dict | None:
    """{fn, col} for an un-aliased aggregate expression tree of the
    supported shapes — count(*), count(col), sum/min/max(col) — else
    None."""
    fn = (str(fn_t["raw"].get("nameParts", "")).strip("[]").lower()
          if fn_t["cls"] == "UnresolvedFunction" else "")
    if fn not in _AGG_FNS or len(fn_t["kids"]) != 1:
        return None
    if fn_t["raw"].get("isDistinct"):
        col = _attr(fn_t["kids"][0])
        if fn != "count" or col is None:
            return None
        return {"fn": "count_distinct", "col": col}
    arg = fn_t["kids"][0]
    if fn == "count" and _literal(arg) == 1:       # count(*) / count(1)
        return {"fn": "count", "col": None}
    col = _attr(arg)
    if col is None:
        return None
    return {"fn": "count_col" if fn == "count" else fn, "col": col}


def _agg_of(t: dict) -> dict | None:
    """{alias, fn, col} for one SELECT item of the supported aggregate
    shapes, explicitly aliased — else None."""
    if t["cls"] != "Alias" or len(t["kids"]) != 1:
        return None
    a = _agg_fn_of(t["kids"][0])
    if a is None:
        return None
    return {"alias": t["raw"]["name"], **a}


def _having_leaves(t: dict, out: list) -> bool:
    """Flatten a HAVING condition into leaves {ref|agg, op, val}:
    comparisons of an output-column reference (group col or SELECT
    alias — Spark resolves aliases in HAVING) or a bare aggregate
    expression against a literal, AND-combined.  False = out of
    grammar."""
    if t["cls"] == "And":
        return (_having_leaves(t["kids"][0], out)
                and _having_leaves(t["kids"][1], out))
    if t["cls"] not in _CMP:
        return False
    l, r = t["kids"]
    op, lhs, lit = _CMP[t["cls"]], l, _literal(r)
    if lit is None:  # literal-on-left form: 5 < count(*)
        lhs, lit, op = r, _literal(l), _FLIP[_CMP[t["cls"]]]
    if lit is None:
        return False
    ref = _attr(lhs)
    if ref is not None:
        out.append({"ref": ref, "agg": None, "op": op, "val": lit})
        return True
    agg = _agg_fn_of(lhs)
    if agg is not None:
        out.append({"ref": None, "agg": agg, "op": op, "val": lit})
        return True
    return False


def _plan_nodes(spark: SparkSession, sql: str) -> list | None:
    """Flattened TreeNode JSON of the unresolved parse plan, via
    Spark's own parser (the JVM round-trip is the expensive part of
    routing)."""
    try:
        jplan = (spark._jsparkSession.sessionState().sqlParser()
                 .parsePlan(sql))
        return json.loads(jplan.toJSON())
    except Exception:
        return None


def _merge_single_col(preds: list[dict]) -> list[dict]:
    """Fuse ge/gt/le/lt bounds on one column into one range (BETWEEN
    desugars to ge+le).  Strict int bounds tighten by 1 (exact for
    integer columns; `strict_adj` records it), strict non-int bounds
    stay as they are."""
    by_col: dict[str, dict] = {}
    out = []
    for p in preds:
        if (p["op"] in ("gt", "lt")
                and not isinstance(p["val"], int)):
            out.append(p)  # strict non-int bound: no kernel, fallback
            continue
        if p["op"] in ("ge", "gt", "le", "lt"):
            b = by_col.setdefault(p["col"], {"col": p["col"], "op": "range",
                                             "lo": None, "hi": None,
                                             "strict_adj": False})
            v = p["val"]
            if p["op"] == "gt":
                v, side = v + 1, "lo"
                b["strict_adj"] = True
            elif p["op"] == "ge":
                side = "lo"
            elif p["op"] == "lt":
                v, side = v - 1, "hi"
                b["strict_adj"] = True
            else:
                side = "hi"
            # repeated bounds intersect (WHERE a >= 3 AND a >= 7)
            cur = b[side]
            b[side] = (v if cur is None
                       else max(cur, v) if side == "lo" else min(cur, v))
        else:
            out.append(p)
    out.extend(by_col.values())
    return out


def _sort_order(t: dict):
    """(col, ascending, nulls_first) of a SortOrder tree node over a
    plain column reference — else None.  nulls_first captures an
    explicit NULLS FIRST/LAST (Spark's default is first-for-asc,
    last-for-desc; the parse tree carries the resolved choice)."""
    if t["cls"] != "SortOrder" or not t["kids"]:
        return None
    col = _attr(t["kids"][0])
    if col is None:
        return None
    asc = "Desc" not in str(t["raw"].get("direction", "Ascending"))
    nulls_first = "NullsLast" not in str(t["raw"].get("nullOrdering", ""))
    return col, asc, nulls_first


def _sort_expr(col: str, asc: bool, nulls_first: bool):
    c = F.col(col)
    if asc:
        return c.asc_nulls_first() if nulls_first else c.asc_nulls_last()
    return c.desc_nulls_first() if nulls_first else c.desc_nulls_last()


def _to_leaves(dtypes: dict, preds: list[dict]) -> list | None:
    """Merged predicates (`_merge_single_col`) as AND-ed store leaves
    (`encoded_table.Leaf`), or None when any is outside them — the
    caller then falls back.  Strict bounds were tightened by one for
    ints only, so a strict non-int bound stays unrouted; a float range
    must be closed on both sides (Spark orders NaN above every number,
    so an open upper bound would admit it)."""
    Leaf = encoded_table.Leaf
    leaves = []
    for p in preds:
        c, dt, op = p["col"], dtypes.get(p["col"]), p["op"]
        vals = [p["val"]] if op == "eq" else p.get("vals")
        typ = {"int64": int, "string": str}.get(dt)
        if op in ("eq", "in") and typ and all(isinstance(v, typ)
                                              for v in vals):
            leaves.append(Leaf(c, dt, "in", values=tuple(vals)))
        elif op == "prefix" and dt == "string":
            leaves.append(Leaf(c, dt, "prefix", values=(p["val"],)))
        elif op != "range":
            return None
        elif dt == "int64" and all(isinstance(v, int)
                                   for v in (p["lo"], p["hi"])
                                   if v is not None):
            leaves.append(Leaf(c, dt, "range", p["lo"], p["hi"]))
        elif dt == "string" and all(isinstance(v, str)
                                    for v in (p["lo"], p["hi"])):
            leaves.append(Leaf(c, dt, "range", p["lo"], p["hi"]))
        elif dt == "double" and not p["strict_adj"] and all(
                isinstance(v, (int, float)) for v in (p["lo"], p["hi"])):
            leaves.append(Leaf(c, dt, "range", p["lo"], p["hi"]))
        else:
            return None
    return leaves




class _Shape(NamedTuple):
    """One statement of the routable grammar, each clause parsed once."""
    views: list          # (alias or None, view) per relation, plan order
    items: list | None   # SELECT list: column name | {alias, fn, col};
                         # None for `*`
    group: str | None    # the GROUP BY column
    distinct: bool
    where: list          # WHERE predicates (`_leaves`)
    having: list         # HAVING leaves (`_having_leaves`)
    sort: list | None    # ORDER BY [(col, ascending, nulls_first)]
    limit: int | None
    keys: tuple | None   # join ON ((qualifier, col), (qualifier, col))


def _shape(nodes: list | None) -> _Shape | None:
    """The one walk over Spark's pre-order parse plan.  A routable
    statement reads, top down,

        [GlobalLimit LocalLimit] [Sort] [UnresolvedHaving]
        (Distinct Project | Project [Filter] | Aggregate [Filter])
        (UnresolvedRelation | Join [SubqueryAlias] UnresolvedRelation
                                   [SubqueryAlias] UnresolvedRelation)

    and its clauses keep to the grammar: DISTINCT takes one bare
    column and no WHERE; a Project's items are bare columns or `*`
    (rows, WHERE required) or aliased aggregates (no ORDER BY or
    LIMIT); an Aggregate groups by one column and selects it; a join
    and a HAVING only under an Aggregate, never together; a LIMIT
    needs an ORDER BY; output names are unique.  Anything else is
    None, the fallback's job."""
    if not nodes:
        return None
    cls = [_cls(n) for n in nodes] + [None]
    i = 0

    def opt(c):  # the next plan node if it is a `c`, else None
        nonlocal i
        if cls[i] != c:
            return None
        i += 1
        return nodes[i - 1]

    glim, llim = opt("GlobalLimit"), opt("LocalLimit")
    limit = None
    if glim or llim:
        if not (glim and llim):
            return None
        limit, low = (_literal(_tree(n["limitExpr"])[0])
                      for n in (glim, llim))
        if not isinstance(limit, int) or low != limit or limit < 0:
            return None
    sort_n, hav_n = opt("Sort"), opt("UnresolvedHaving")
    distinct = opt("Distinct") is not None
    proj = opt("Project")
    agg = None if proj or distinct else opt("Aggregate")
    filt_n = opt("Filter")
    join = opt("Join") if agg else None
    views = []
    for _ in range(2 if join else 1):
        alias = opt("SubqueryAlias") if join else None
        rel = opt("UnresolvedRelation")
        if rel is None:
            return None
        views.append((alias["identifier"]["name"] if alias else None,
                      rel["multipartIdentifier"].strip("[]")
                      .split(", ")[-1]))
    if (i != len(nodes) or not (proj or agg) or (distinct and filt_n)
            or (hav_n and (join or not agg))):
        return None

    group = None
    if agg:
        grp = agg.get("groupingExpressions") or []
        group = _attr(_tree(grp[0])[0]) if len(grp) == 1 else None
        if group is None:
            return None
    exprs = [_tree(e)[0] for e in (agg.get("aggregateExpressions") if agg
                                   else proj.get("projectList")) or []]
    if proj and not distinct and [t["cls"] for t in exprs] == [
            "UnresolvedStar"]:
        items = None
    else:
        items = []
        for t in exprs:
            col = _attr(t)
            if col is None or group not in (None, col):
                col = _agg_of(t)  # any other item: an aliased aggregate
            if col is None:
                return None
            items.append(col)
    n_cols = sum(isinstance(x, str) for x in items or ())
    if distinct:
        ok = items is not None and len(items) == n_cols == 1
    elif agg:
        ok = group in items
    elif items is None or len(items) == n_cols > 0:
        ok = filt_n is not None  # rows: WHERE-less is the view's scan
    else:  # an ungrouped aggregate list is one row
        ok = bool(items) and not n_cols and not sort_n and limit is None
    if not ok:
        return None
    names = [x if isinstance(x, str) else x["alias"] for x in items or ()]
    if len(set(names)) != len(names):
        return None

    sort = None
    if sort_n:
        sort = [_sort_order(_tree(o)[0]) for o in sort_n.get("order") or []]
        if None in sort:
            return None
    if limit is not None and not sort:
        return None  # LIMIT without ORDER BY picks arbitrary rows
    where, having = [], []
    if filt_n and not _leaves(_tree(filt_n["condition"])[0], where):
        return None
    if hav_n and not _having_leaves(_tree(hav_n["havingCondition"])[0],
                                    having):
        return None
    keys = None
    if join:
        cond = join.get("condition")
        if "Inner" not in str(join.get("joinType", "")) or not cond:
            return None
        ct = _tree(cond)[0]
        if ct["cls"] != "EqualTo":
            return None
        keys = tuple(_qattr(k) for k in ct["kids"])
        if None in (keys[0][1], keys[1][1]):
            return None
    return _Shape(views, items, group, distinct, where, having, sort,
                  limit, keys)


def _having(having: list, group: str | None, aggs: list, dtypes: dict):
    """(kernel aggregates, HAVING filters) or None when a HAVING leaf
    must be left to Spark.  A filter is (output column, op, literal),
    applied after aggregation; a bare aggregate not in the SELECT list
    rides as a hidden kernel aggregate (computed, filtered on, then
    projected out)."""
    kernel, filters = list(aggs), []
    for h in having:
        if h["ref"] is not None:
            # Spark resolves HAVING attributes against the UNDERLYING
            # table before SELECT aliases — if the name is also a
            # stored column (and not the group key), an alias-shadowing
            # divergence is possible; leave those to Spark's resolver
            if h["ref"] != group and (h["ref"] in dtypes or not any(
                    a["alias"] == h["ref"] for a in aggs)):
                return None
            filters.append((h["ref"], h["op"], h["val"]))
            continue
        match = [a for a in kernel
                 if (a["fn"], a["col"]) == (h["agg"]["fn"], h["agg"]["col"])]
        if match:
            alias = match[0]["alias"]
        else:
            alias = "__hav%d" % len(kernel)
            kernel.append({"alias": alias, **h["agg"]})
        filters.append((alias, h["op"], h["val"]))
    return kernel, filters


def _agg_ok(a: dict, dtypes: dict) -> bool:
    """Whether the group kernel computes aggregate `a` over the store."""
    return (a["fn"] == "count"
            or (a["fn"] == "count_col" and a["col"] in dtypes)
            or (a["fn"] in ("sum", "min", "max")
                and dtypes.get(a["col"]) == "int64"))


def route_sql(spark: SparkSession, out_dir: str, sql: str,
              view: str | None = None) -> tuple[DataFrame, dict]:
    """Answer a SQL string over a registered encoded table through the
    store's pruned kernels when its shape allows (`_shape`), else
    through `spark.sql` over the decoded view.  Every routed statement
    ends in one tail: the HAVING filters, the SELECT-list projection,
    ORDER BY and LIMIT.

    Returns (DataFrame with the statement's own column names, stats).
    stats always carries `routed`; when True it also carries the
    kernel's stats record and its flag (`select_kernel`,
    `group_kernel`, `join_pushdown`, `distinct_kernel`,
    `metadata_only`)."""
    shape = _shape(_plan_nodes(spark, sql))
    routed = None
    if shape is not None and (view is None
                              or view in [v for _, v in shape.views]):
        routed = _terminal(spark, out_dir, shape, view)
    if routed is None:
        # out of grammar: the decoded view answers it with Spark's planner
        return spark.sql(sql), {"routed": False}
    df, stats, names, filters = routed
    for c, op, val in filters:
        e = F.col(c)
        df = df.where({"eq": e == val, "ge": e >= val, "gt": e > val,
                       "le": e <= val, "lt": e < val}[op])
    df = df.select(*names)
    if shape.sort:
        df = df.orderBy(*[_sort_expr(*o) for o in shape.sort])
    if shape.limit is not None:
        df = df.limit(shape.limit)
    return df, {**stats, "routed": True}


def _terminal(spark, out_dir, shape: _Shape, view):
    """(kernel DataFrame, stats, output names, HAVING filters) from the
    terminal the statement's shape picks — `dict_distinct`, the
    dimension join over `grouped_dict_agg`, `grouped_dict_agg`,
    `pruned_select`, or the ungrouped aggregates (`_scalar`) — or None
    when the store cannot answer it.  The store schema is read once,
    here."""
    et = encoded_table
    _, dtypes = et.stored_schema(spark, out_dir)
    names = list(dtypes) if shape.items is None else [
        x if isinstance(x, str) else x["alias"] for x in shape.items]
    aggs = [x for x in shape.items or () if isinstance(x, dict)]
    preds = _merge_single_col(shape.where)
    where = _to_leaves(dtypes, preds)
    hav = _having(shape.having, shape.group, aggs, dtypes)
    if hav is None or any(c not in names for c, *_ in shape.sort or ()):
        return None
    aggs, filters = hav
    flag = {}
    if shape.distinct:
        routed = (et.dict_distinct(spark, out_dir, names[0])
                  if dtypes.get(names[0]) == "string" else None)
    elif shape.keys is not None:
        routed = _join(spark, out_dir, shape, dtypes, aggs, where, view)
        flag = {"join_pushdown": True}
    elif shape.group is not None:
        # a hidden HAVING alias must not collide with an output name
        out = [shape.group] + [a["alias"] for a in aggs]
        ok = (dtypes.get(shape.group) == "string" and where is not None
              and len(set(out)) == len(out)
              and all(_agg_ok(a, dtypes) for a in aggs))
        routed = (et.grouped_dict_agg(spark, out_dir, shape.group, aggs,
                                      where=where) if ok else None)
        flag = {"having_filters": len(filters)}
    elif not aggs:
        # a column absent from the schema (or from some chunks, see
        # pruned_select) refuses to route rather than dropping rows
        routed = (et.pruned_select(spark, out_dir, where, names)
                  if where and all(c in dtypes for c in names) else None)
        flag = {"select_kernel": True}
    else:
        routed = _scalar(spark, out_dir, aggs, preds, where, dtypes)
    if routed is None:
        return None
    df, stats = routed
    return df, {**stats, **flag}, names, filters


def _scalar(spark, out_dir, aggs, preds, where, dtypes):
    """(one-row DataFrame, stats) for an ungrouped aggregate list, or
    None when some item is not answerable (no partial routing):

      WHERE AND(leaves):        count(*)  -> pruned_count
                                sum(int)  -> pruned_sum
      WHERE col IS [NOT] NULL:  count(*)  -> manifest_null_count
      no WHERE:  count(*)          -> manifest_row_count
                 count(col)        -> manifest_null_count (exact
                                      under deletes and evolution)
                 sum(int col)      -> pruned_sum with no leaves
                 min/max(int col)  -> manifest_min_max — but ONLY on
                                      stores without live deletes
                                      (under deletes the manifest is
                                      a bound, not the live extreme)
                 count(DISTINCT dict col) -> dict_distinct
    """
    from ..spark import delete_job
    et = encoded_table
    one = aggs[0] if len(aggs) == 1 else {"fn": None, "col": None}
    stats: dict = {"metadata_only": True}
    if len(preds) == 1 and preds[0]["op"] in ("isnull", "notnull"):
        c = preds[0]["col"]
        if one["fn"] != "count" or c not in dtypes:
            return None
        nulls, non_nulls = et.manifest_null_count(spark, out_dir, c)
        vals = [nulls if preds[0]["op"] == "isnull" else non_nulls]
    elif preds:
        if not where:
            return None
        if one["fn"] == "count":
            hits, stats = et.pruned_count(spark, out_dir, where)
            vals = [hits]
        elif one["fn"] == "sum" and dtypes.get(one["col"]) == "int64":
            total, st = et.pruned_sum(spark, out_dir, where, one["col"])
            vals, stats = [total], {**st, "metadata_only": False}
        else:
            return None
    else:
        minmax_ok = not delete_job.has_deletes(spark, out_dir)
        mm_cache: dict[str, tuple] = {}
        vals = []
        for a in aggs:
            if a["fn"] == "count":
                vals.append(et.manifest_row_count(spark, out_dir))
            elif a["fn"] == "count_col":
                if a["col"] not in dtypes:
                    return None
                vals.append(et.manifest_null_count(spark, out_dir,
                                                   a["col"])[1])
            elif a["fn"] in ("min", "max"):
                if dtypes.get(a["col"]) != "int64" or not minmax_ok:
                    return None
                if a["col"] not in mm_cache:
                    mm_cache[a["col"]] = et.manifest_min_max(
                        spark, out_dir, a["col"])
                vals.append(mm_cache[a["col"]][a["fn"] == "max"])
            elif a["fn"] == "sum":
                if dtypes.get(a["col"]) != "int64":
                    return None
                total, st = et.pruned_sum(spark, out_dir, [], a["col"])
                stats["metadata_only"] = (stats["metadata_only"]
                                          and st["scanned_chunks"] == 0)
                vals.append(total)
            else:  # count_distinct
                # COUNT(DISTINCT dict col) from the dictionary heaps —
                # the code vectors are never decoded on a delete-free
                # store; SQL semantics exclude the NULL member
                routed = (et.dict_distinct(spark, out_dir, a["col"])
                          if dtypes.get(a["col"]) == "string" else None)
                if routed is None:
                    return None
                vals.append(routed[0].where(
                    F.col(a["col"]).isNotNull()).count())
                stats["metadata_only"] = False
                stats["distinct_kernel"] = True
    # single-task 1-row plan: createDataFrame([tuple]) would
    # parallelize into defaultParallelism mostly-empty slices
    # (~0.3-1 s of scheduler noise per call at local[32])
    return spark.range(0, 1, 1, 1).select(
        *[F.lit(None if v is None else int(v)).cast("long")
          .alias(a["alias"]) for a, v in zip(aggs, vals)]), stats


def _join(spark, out_dir, shape: _Shape, dtypes, aggs, where, view):
    """Aggregate-below-join from SQL text: the store side collapses to
    per-join-key partials on the GROUP kernel (one bincount per chunk
    over dict codes, WHERE as chunk-prune + row masks), and only that
    (distinct keys)-sized result joins the broadcast dimension before
    re-aggregating per dimension attribute.  At 100 TB the join input
    is the key domain, not N rows — the classic group-below-join
    rewrite, triggered by plain SQL.  Exact for 1:N dimensions too:
    summing per-key partials once per dim match IS inner-join
    semantics.  Returns (df, stats) or None (fallback)."""
    views = [v for _, v in shape.views]
    if views[0] == views[1]:
        return None  # self-join: Spark's planner handles it
    store_ix = 0 if view is None else views.index(view)
    try:
        dimdf = spark.table(views[1 - store_ix])
    except Exception:
        return None
    dimcols = set(dimdf.columns)
    # the name each side answers to in qualified references: its alias
    # if one was written, else the bare view name
    ids = [alias if alias else v for alias, v in shape.views]

    def side(name):
        in_s, in_d = name in dtypes, name in dimcols
        if in_s == in_d:
            return None  # absent or ambiguous: Spark's resolver's job
        return "store" if in_s else "dim"

    def key_side(qual, name):
        if qual is None:
            return side(name)
        if ids[0] == ids[1]:
            return None  # both sides answer to it: ambiguous
        if qual == ids[store_ix]:
            return "store"
        if qual == ids[1 - store_ix]:
            return "dim"
        return None

    keys, gcol = shape.keys, shape.group
    sides = (key_side(*keys[0]), key_side(*keys[1]))
    if set(sides) != {"store", "dim"}:
        return None
    store_key = keys[0][1] if sides[0] == "store" else keys[1][1]
    dim_key = keys[1][1] if sides[0] == "store" else keys[0][1]
    if (dtypes.get(store_key) != "string" or dim_key not in dimcols
            or side(gcol) != "dim"):
        return None
    ok = all(_agg_ok(a, dtypes)
             and (a["fn"] == "count" or side(a["col"]) == "store")
             for a in aggs)
    # an agg alias that collides with a dim column would make the
    # re-aggregated output ambiguous to select from
    if not ok or any(a["alias"] in dimcols | {gcol} for a in aggs):
        return None
    if where is None or any(side(p["col"]) != "store" for p in shape.where):
        return None  # dim-side predicates: fallback
    routed = encoded_table.grouped_dict_agg(spark, out_dir, store_key,
                                            aggs, where=where)
    if routed is None:
        return None
    per_key, stats = routed
    reagg = {"count": F.sum, "count_col": F.sum, "sum": F.sum,
             "min": F.min, "max": F.max}
    joined = per_key.join(F.broadcast(dimdf),
                          per_key[store_key] == dimdf[dim_key])

    def _reagg_col(a):
        # SUM partials re-accumulate in decimal(38,0) and only the
        # final total casts to long — matching the single-table group
        # kernel's overflow protection (r5 advice: a long-typed re-sum
        # loses it exactly where several near-limit partials combine)
        if a["fn"] == "sum":
            return (F.sum(per_key[a["alias"]].cast("decimal(38,0)"))
                    .cast("long").alias(a["alias"]))
        return (reagg[a["fn"]](per_key[a["alias"]]).cast("long")
                .alias(a["alias"]))

    return (joined.groupBy(dimdf[gcol].alias(gcol))
            .agg(*[_reagg_col(a) for a in aggs])), stats
