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

    SELECT sum(col) AS a FROM <view> [WHERE lo <= f AND f <= hi]
    SELECT count(*)|count(col)|sum(col)|min(col)|max(col) AS a, ...
      FROM <view>                       (metadata-only aggregates)
    SELECT g, count(*)|count(col)|sum|min|max(int col) AS a, ...
      FROM <view>
      [WHERE <AND of leaves>]
      GROUP BY g [HAVING output-col/aggregate cmp literal, AND-comb.]
      [ORDER BY output cols] [LIMIT n] (dict-code bincount kernel
      with manifest chunk-prune + compressed-domain row masks for the
      WHERE, post-aggregation filters for the HAVING, route_sql entry)

    SELECT DISTINCT col FROM <view> [ORDER BY col] [LIMIT n]
      (union of per-chunk dictionary heaps — code vectors never
      decoded except under live deletes; NULL membership from the
      manifest null counts; route_sql entry)

    SELECT col, ... | * FROM <view> WHERE <AND of routable leaves>
      [ORDER BY projected cols] [LIMIT n]
      (row-returning: the pruned select — intersected manifest chunk
      candidates, ANDed row masks, projections decoded only where the
      mask passes; route_sql entry)

    SELECT d.attr, aggs FROM <view> JOIN dim ON key = key [WHERE p]
      GROUP BY d.attr [ORDER BY output cols] [LIMIT n]
      (aggregate below the join: per-join-key group-kernel partials
      join the broadcast dimension and re-aggregate — the join input
      is the key domain, not N rows; exact for 1:N dims; route_sql
      entry)

`route_sql_count` parses the SQL with Spark's OWN parser (so quoting,
case, comments, literal syntax all behave exactly like spark.sql),
pattern-matches the unresolved logical plan, turns the WHERE into
AND-ed `encoded_table.Leaf`s and runs the store's pruned readers
(sources/encoded_table.py) — manifest zone-map/Bloom pruning plus
compressed-domain evaluation, the same fast path the Python API
gets.  Anything outside the grammar falls
back to `spark.sql(sql)` over the registered decoded view, so the
router is never LESS capable than the view: same answer, slower plan,
`stats["routed"] = False` says which path ran.

No Catalyst rule is involved: this is a thin predicate extractor over
the parse tree (r4 verdict's suggested design).  At 100 TB the win is
the kernels' own: only manifest rows and surviving chunk blobs are
read, nothing re-shuffles, and the fallback path keeps Spark's full
optimizer for everything else.
"""

from __future__ import annotations

import json

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


def _attr(t: dict) -> str | None:
    if t["cls"] != "UnresolvedAttribute":
        return None
    parts = t["raw"].get("nameParts", "")
    # JSON form is "[col]" / "[tbl, col]" — take the last part
    return parts.strip("[]").split(", ")[-1] or None


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


def _agg_of(item: list) -> dict | None:
    """{alias, fn, col} for one projectList entry of the supported
    aggregate shapes, explicitly aliased — else None."""
    ptree, _ = _tree(item)
    if ptree["cls"] != "Alias" or len(ptree["kids"]) != 1:
        return None
    a = _agg_fn_of(ptree["kids"][0])
    if a is None:
        return None
    return {"alias": ptree["raw"]["name"], **a}


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
    Spark's own parser — parsed ONCE per route_sql call and threaded
    through every shape matcher (the JVM round-trip is the expensive
    part of routing)."""
    try:
        jplan = (spark._jsparkSession.sessionState().sqlParser()
                 .parsePlan(sql))
        return json.loads(jplan.toJSON())
    except Exception:
        return None


def _parse(nodes: list | None):
    """(aggs, view, predicates) for a supported aggregate query, else
    None.  Shape: Project[Alias(agg)...] <- [Filter] <-
    UnresolvedRelation, exactly — anything more is the fallback's job."""
    if nodes is None:
        return None
    classes = [_cls(n) for n in nodes if "num-children" in n]
    # plan-level nodes come first in the flat list, pre-order
    if classes[0] != "Project":
        return None
    proj = nodes[0].get("projectList")
    if not proj:
        return None
    aggs = [_agg_of(item) for item in proj]
    if any(a is None for a in aggs):
        return None

    rel = [n for n in nodes if _cls(n) == "UnresolvedRelation"]
    filt = [n for n in nodes if _cls(n) == "Filter"]
    plan_classes = {c for c in classes}
    if (len(rel) != 1
            or plan_classes - {"Project", "Filter", "UnresolvedRelation"}):
        return None
    view = rel[0]["multipartIdentifier"].strip("[]").split(", ")[-1]

    preds: list[dict] = []
    if filt:
        if len(filt) != 1:
            return None
        ftree, _ = _tree(filt[0]["condition"])
        if not _leaves(ftree, preds):
            return None
    return aggs, view, preds


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


_BAD_LIMIT = object()  # sentinel: a LIMIT clause we can't route


def _limit_of(nodes: list):
    """LIMIT value from a parsed plan: None when absent, the int when
    the usual GlobalLimit/LocalLimit literal pair is present,
    _BAD_LIMIT for anything else."""
    glim = [n for n in nodes if _cls(n) == "GlobalLimit"]
    llim = [n for n in nodes if _cls(n) == "LocalLimit"]
    if not glim and not llim:
        return None
    if len(glim) != 1 or len(llim) != 1:
        return _BAD_LIMIT
    gt, _ = _tree(glim[0]["limitExpr"])
    lt, _ = _tree(llim[0]["limitExpr"])
    v = _literal(gt)
    if not isinstance(v, int) or _literal(lt) != v or v < 0:
        return _BAD_LIMIT
    return v


def _parse_distinct(nodes: list | None):
    """(col, view, sort_asc, limit) for `SELECT DISTINCT col FROM view
    [ORDER BY col] [LIMIT n]`, single un-aliased column — else None.
    sort_asc is None (no ORDER BY) or (ascending, nulls_first)."""
    if nodes is None:
        return None
    classes = [_cls(n) for n in nodes if "num-children" in n]
    limit = _limit_of(nodes)
    if limit is _BAD_LIMIT:
        return None
    sort_nodes = [n for n in nodes if _cls(n) == "Sort"]
    expect = ((["GlobalLimit", "LocalLimit"] if limit is not None else [])
              + (["Sort"] if sort_nodes else [])
              + ["Distinct", "Project", "UnresolvedRelation"])
    if classes != expect:
        return None
    proj = next(n for n in nodes if _cls(n) == "Project")
    plist = proj.get("projectList") or []
    if len(plist) != 1:
        return None
    t, _ = _tree(plist[0])
    col = _attr(t)
    if col is None:
        return None
    rel = next(n for n in nodes if _cls(n) == "UnresolvedRelation")
    view = rel["multipartIdentifier"].strip("[]").split(", ")[-1]
    sort_asc = None
    if sort_nodes:
        order = sort_nodes[0].get("order") or []
        if len(order) != 1:
            return None
        st, _ = _tree(order[0])
        so = _sort_order(st)
        if so is None or so[0] != col:
            return None
        sort_asc = so[1:]  # (ascending, nulls_first)
    return col, view, sort_asc, limit


_STAR = object()  # sentinel: SELECT * projection


def _parse_select(nodes: list | None):
    """(cols, view, preds, sort, limit) for a plain row-returning
    filtered projection — `SELECT col, ... | * FROM view WHERE p
    [ORDER BY projected cols] [LIMIT n]`, bare un-aliased columns, the
    WHERE in the AND-of-leaves grammar — else None.  cols is _STAR or
    a list; sort is [(col, asc)] or None."""
    if nodes is None:
        return None
    classes = [_cls(n) for n in nodes if "num-children" in n]
    limit = _limit_of(nodes)
    if limit is _BAD_LIMIT:
        return None
    sort_nodes = [n for n in nodes if _cls(n) == "Sort"]
    expect = ((["GlobalLimit", "LocalLimit"] if limit is not None else [])
              + (["Sort"] if sort_nodes else [])
              + ["Project", "Filter", "UnresolvedRelation"])
    if classes != expect:
        return None
    proj = next(n for n in nodes if _cls(n) == "Project")
    plist = proj.get("projectList") or []
    items = [_tree(item)[0] for item in plist]
    if len(items) == 1 and items[0]["cls"] == "UnresolvedStar":
        cols = _STAR
    else:
        cols = [_attr(t) for t in items]
        if not cols or any(c is None for c in cols):
            return None
    rel = next(n for n in nodes if _cls(n) == "UnresolvedRelation")
    view = rel["multipartIdentifier"].strip("[]").split(", ")[-1]

    filt = next(n for n in nodes if _cls(n) == "Filter")
    preds: list[dict] = []
    ftree, _ = _tree(filt["condition"])
    if not _leaves(ftree, preds):
        return None

    sort = None
    if sort_nodes:
        sort = []
        for so in sort_nodes[0].get("order") or []:
            t, _ = _tree(so)
            o = _sort_order(t)
            if o is None:
                return None
            sort.append(o)
    return cols, view, preds, sort, limit


def _parse_group(nodes: list | None):
    """(out_spec, group_col, view, sort, preds, having, limit) for the
    supported GROUP BY shape — `SELECT <g and aggregates> FROM view
    [WHERE p] GROUP BY g [HAVING h] [ORDER BY output cols] [LIMIT n]`,
    single grouping column, WHERE limited to the same AND-of-leaves
    grammar as the count router, HAVING to comparisons of output
    columns / bare aggregates vs literals — else None.  out_spec is
    the SELECT list in order: ("group", None) or
    ("agg", {alias, fn, col}); sort is [(col, ascending)] or None;
    limit is an int or None."""
    if nodes is None:
        return None
    classes = [_cls(n) for n in nodes if "num-children" in n]
    agg_nodes = [n for n in nodes if _cls(n) == "Aggregate"]
    rel = [n for n in nodes if _cls(n) == "UnresolvedRelation"]
    sort_nodes = [n for n in nodes if _cls(n) == "Sort"]
    filt = [n for n in nodes if _cls(n) == "Filter"]
    hav_nodes = [n for n in nodes if _cls(n) == "UnresolvedHaving"]
    limit = _limit_of(nodes)
    if limit is _BAD_LIMIT:
        return None
    expect = ((["GlobalLimit", "LocalLimit"] if limit is not None else [])
              + (["Sort"] if sort_nodes else [])
              + (["UnresolvedHaving"] if hav_nodes else [])
              + ["Aggregate"]
              + (["Filter"] if filt else [])
              + ["UnresolvedRelation"])
    if classes != expect or len(agg_nodes) != 1 or len(rel) != 1 \
            or len(sort_nodes) > 1 or len(filt) > 1 or len(hav_nodes) > 1:
        return None
    view = rel[0]["multipartIdentifier"].strip("[]").split(", ")[-1]

    preds: list[dict] = []
    if filt:
        ftree, _ = _tree(filt[0]["condition"])
        if not _leaves(ftree, preds):
            return None

    having: list[dict] = []
    if hav_nodes:
        htree, _ = _tree(hav_nodes[0]["havingCondition"])
        if not _having_leaves(htree, having):
            return None

    grp = agg_nodes[0].get("groupingExpressions") or []
    if len(grp) != 1:
        return None
    gtree, _ = _tree(grp[0])
    gcol = _attr(gtree)
    if gcol is None:
        return None

    out_spec = []
    for item in agg_nodes[0].get("aggregateExpressions") or []:
        t, _ = _tree(item)
        if _attr(t) == gcol:
            out_spec.append(("group", None))
            continue
        a = _agg_of(item)
        if a is None:
            return None
        out_spec.append(("agg", a))
    if ("group", None) not in out_spec or not out_spec:
        return None

    sort = None
    if sort_nodes:
        out_names = {gcol} | {a["alias"] for k, a in out_spec
                              if k == "agg"}
        sort = []
        for so in sort_nodes[0].get("order") or []:
            t, _ = _tree(so)
            o = _sort_order(t)
            if o is None or o[0] not in out_names:
                return None
            sort.append(o)
    return out_spec, gcol, view, sort, preds, having, limit


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


def _parse_join(nodes: list | None):
    """(out_spec, gcol, views, keys, preds, sort, limit) for the
    dimension-join aggregate shape —
    `SELECT <g and aggregates> FROM v1 [a] JOIN v2 [b] ON k1 = k2
    [WHERE p] GROUP BY g [ORDER BY output cols] [LIMIT n]`,
    inner join on one equality, single grouping column — else None.
    views/keys are (left, right) pairs in plan order; names are
    UNQUALIFIED (side resolution happens against the schemas at
    route time)."""
    if nodes is None:
        return None
    classes = [_cls(n) for n in nodes if "num-children" in n]
    counts = {c: classes.count(c) for c in set(classes)}
    allowed = {"GlobalLimit", "LocalLimit", "Sort", "Aggregate",
               "Filter", "Join", "SubqueryAlias", "UnresolvedRelation"}
    if (set(classes) - allowed or counts.get("Join") != 1
            or counts.get("Aggregate") != 1
            or counts.get("UnresolvedRelation") != 2
            or counts.get("Sort", 0) > 1 or counts.get("Filter", 0) > 1):
        return None
    limit = _limit_of(nodes)
    if limit is _BAD_LIMIT:
        return None
    # Aggregate above [Filter above] Join, nothing else in between
    order = [c for c in classes
             if c in ("Aggregate", "Filter", "Join")]
    if order not in (["Aggregate", "Join"],
                     ["Aggregate", "Filter", "Join"]):
        return None

    join = next(n for n in nodes if _cls(n) == "Join")
    if "Inner" not in str(join.get("joinType", "")):
        return None
    cond = join.get("condition")
    if not cond:
        return None
    ct, _ = _tree(cond)
    if ct["cls"] != "EqualTo":
        return None
    k1, k2 = _qattr(ct["kids"][0]), _qattr(ct["kids"][1])
    if k1[1] is None or k2[1] is None:
        return None

    # (alias-or-None, view) per side, plan order: a SubqueryAlias node
    # immediately precedes the relation it names
    side_ids, pending = [], None
    for n in nodes:
        if "num-children" not in n:
            continue
        c = _cls(n)
        if c == "SubqueryAlias":
            pending = n["identifier"]["name"]
        elif c == "UnresolvedRelation":
            side_ids.append((pending, n["multipartIdentifier"]
                             .strip("[]").split(", ")[-1]))
            pending = None

    agg_node = next(n for n in nodes if _cls(n) == "Aggregate")
    grp = agg_node.get("groupingExpressions") or []
    if len(grp) != 1:
        return None
    gtree, _ = _tree(grp[0])
    gcol = _attr(gtree)
    if gcol is None:
        return None
    out_spec = []
    for item in agg_node.get("aggregateExpressions") or []:
        t, _ = _tree(item)
        if _attr(t) == gcol:
            out_spec.append(("group", None))
            continue
        a = _agg_of(item)
        if a is None:
            return None
        out_spec.append(("agg", a))
    if ("group", None) not in out_spec:
        return None

    filt = [n for n in nodes if _cls(n) == "Filter"]
    preds: list[dict] = []
    if filt:
        ftree, _ = _tree(filt[0]["condition"])
        if not _leaves(ftree, preds):
            return None

    sort_nodes = [n for n in nodes if _cls(n) == "Sort"]
    sort = None
    if sort_nodes:
        if classes.index("Sort") > classes.index("Aggregate"):
            return None  # Sort must be above the Aggregate
        out_names = {gcol} | {a["alias"] for k, a in out_spec
                              if k == "agg"}
        sort = []
        for so in sort_nodes[0].get("order") or []:
            t, _ = _tree(so)
            o = _sort_order(t)
            if o is None or o[0] not in out_names:
                return None
            sort.append(o)
    return out_spec, gcol, side_ids, (k1, k2), preds, sort, limit


def _route_join(spark, out_dir, parsed, view):
    """Aggregate-below-join from SQL text: the store side collapses to
    per-join-key partials on the GROUP kernel (one bincount per chunk
    over dict codes, WHERE as chunk-prune + row masks), and only that
    (distinct keys)-sized result joins the broadcast dimension before
    re-aggregating per dimension attribute.  At 100 TB the join input
    is the key domain, not N rows — the classic group-below-join
    rewrite, triggered by plain SQL.  Exact for 1:N dimensions too:
    summing per-key partials once per dim match IS inner-join
    semantics.  Returns (df, stats) or None (fallback)."""
    out_spec, gcol, side_ids, keys, preds, sort, limit = parsed
    views = tuple(v for _, v in side_ids)
    if view is not None and view not in views:
        return None
    if limit is not None and not sort:
        return None  # arbitrary-k group rows: Spark's call
    store_view = view if view is not None else views[0]
    if views[0] == views[1]:
        return None  # self-join: Spark's planner handles it
    store_ix = 0 if views[0] == store_view else 1
    dim_view = views[1 - store_ix]
    try:
        dimdf = spark.table(dim_view)
    except Exception:
        return None
    _, dtypes = encoded_table.stored_schema(spark, out_dir)
    dimcols = set(dimdf.columns)
    # the name each side answers to in qualified references: its alias
    # if one was written, else the bare view name
    ids = [alias if alias else v for alias, v in side_ids]

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

    sides = (key_side(*keys[0]), key_side(*keys[1]))
    if set(sides) != {"store", "dim"}:
        return None
    store_key = keys[0][1] if sides[0] == "store" else keys[1][1]
    dim_key = keys[1][1] if sides[0] == "store" else keys[0][1]
    if (dtypes.get(store_key) != "string" or dim_key not in dimcols
            or side(gcol) != "dim"):
        return None
    aggs = [a for k, a in out_spec if k == "agg"]
    ok = all(
        a["fn"] == "count"
        or (a["fn"] == "count_col" and side(a["col"]) == "store")
        or (a["fn"] in ("sum", "min", "max")
            and side(a["col"]) == "store"
            and dtypes.get(a["col"]) == "int64")
        for a in aggs)
    # an agg alias that collides with a dim column would make the
    # re-aggregated output ambiguous to select from
    if not ok or any(a["alias"] in dimcols | {gcol} for a in aggs):
        return None
    if any(side(p["col"]) != "store" for p in preds):
        return None  # dim-side predicates: fallback
    where = _to_leaves(dtypes, _merge_single_col(preds))
    if where is None:
        return None
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

    res = (joined.groupBy(dimdf[gcol].alias(gcol))
           .agg(*[_reagg_col(a) for a in aggs]))
    df = res.select(*[F.col(gcol) if k == "group" else F.col(a["alias"])
                      for k, a in out_spec])
    if sort:
        df = df.orderBy(*[_sort_expr(*o) for o in sort])
    if limit is not None:
        df = df.limit(limit)
    stats = dict(stats)
    stats["routed"] = True
    stats["join_pushdown"] = True
    return df, stats


def _dispatch_select(spark, out_dir, cols, preds, sort, limit):
    """(rows-DataFrame, stats) through the pruned select
    (`encoded_table.pruned_select`: one pruning front, AND-ed leaf
    masks, mask-gated projection decode), or None when outside the
    routable shapes — including a column absent from some chunks
    (schema evolution), which refuses to route rather than dropping
    those chunks' rows."""
    _, dtypes = encoded_table.stored_schema(spark, out_dir)
    if cols is _STAR:
        cols = list(dtypes)
    if any(c not in dtypes for c in cols):
        return None
    if len(set(cols)) != len(cols):
        return None  # SELECT k, k: pandas cols would collapse the dup
    if sort is not None and any(c not in cols for c, *_ in sort):
        return None
    if limit is not None and not sort:
        return None  # arbitrary-k rows: Spark's call
    leaves = _to_leaves(dtypes, _merge_single_col(preds))
    routed = (encoded_table.pruned_select(spark, out_dir, leaves, cols)
              if leaves else None)
    if routed is None:
        return None
    df, stats = routed
    if sort:
        df = df.orderBy(*[_sort_expr(*o) for o in sort])
    if limit is not None:
        df = df.limit(limit)
    return df, {**stats, "routed": True, "select_kernel": True}


def route_sql(spark: SparkSession, out_dir: str, sql: str,
              view: str | None = None) -> tuple[DataFrame, dict]:
    """General plain-SQL entry over a registered encoded table: GROUP
    BY statements route to the compressed-domain bincount kernel
    (`grouped_dict_agg` — dict codes are never expanded to strings),
    single-row aggregate/count statements route through
    `route_sql_count`'s pruned kernels, and anything out of grammar
    falls back to Spark's planner over the decoded view."""
    nodes = _plan_nodes(spark, sql)
    pdist = _parse_distinct(nodes)
    if pdist is not None:
        dcol, seen_view, sort_asc, limit = pdist
        _, dtypes = encoded_table.stored_schema(spark, out_dir)
        if ((view is None or seen_view == view)
                and dtypes.get(dcol) == "string"
                # LIMIT without ORDER BY picks arbitrary rows — leave
                # that arbitrariness to Spark's own planner
                and not (limit is not None and sort_asc is None)):
            routed = encoded_table.dict_distinct(spark, out_dir, dcol)
            if routed is not None:
                df, stats = routed
                if sort_asc is not None:
                    df = df.orderBy(_sort_expr(dcol, *sort_asc))
                if limit is not None:
                    df = df.limit(limit)
                stats = dict(stats)
                stats["routed"] = True
                return df, stats

    psel = _parse_select(nodes)
    if psel is not None:
        cols, seen_view, preds, sort, limit = psel
        if view is None or seen_view == view:
            routed = _dispatch_select(spark, out_dir, cols, preds,
                                      sort, limit)
            if routed is not None:
                return routed

    parsed = _parse_group(nodes)
    if parsed is not None:
        out_spec, gcol, seen_view, sort, preds, having, limit = parsed
        if view is not None and seen_view != view:
            parsed = None
        elif limit is not None and not sort:
            parsed = None  # arbitrary-k group rows: Spark's call
    if parsed is not None:
        _, dtypes = encoded_table.stored_schema(spark, out_dir)
        aggs = [a for k, a in out_spec if k == "agg"]
        # HAVING leaves become post-aggregation filters on output
        # columns; a bare aggregate not in the SELECT list rides as a
        # hidden kernel agg (computed, filtered on, then projected out)
        kernel_aggs, hav_cols = list(aggs), []
        ok = True
        for h in having:
            if h["ref"] is not None:
                # Spark resolves HAVING attributes against the
                # UNDERLYING table before SELECT aliases — if the name
                # is also a stored column (and not the group key), an
                # alias-shadowing divergence is possible; leave those
                # to Spark's own resolver via the fallback
                if h["ref"] != gcol and (
                        h["ref"] in dtypes or not any(
                            a["alias"] == h["ref"] for a in aggs)):
                    ok = False
                    break
                hav_cols.append((h["ref"], h["op"], h["val"]))
                continue
            match = [a for a in kernel_aggs
                     if (a["fn"], a["col"]) == (h["agg"]["fn"],
                                                h["agg"]["col"])]
            if match:
                alias = match[0]["alias"]
            else:
                alias = "__hav%d" % len(kernel_aggs)
                kernel_aggs.append({"alias": alias, **h["agg"]})
            hav_cols.append((alias, h["op"], h["val"]))
        # an agg alias equal to the group column, or duplicate aliases,
        # would make the post-kernel select AMBIGUOUS_REFERENCE where
        # plain spark.sql succeeds — refuse to route (mirrors the join
        # path's collision guard)
        aliases = [a["alias"] for a in kernel_aggs]
        ok = (ok and gcol not in aliases
              and len(set(aliases)) == len(aliases))
        ok = ok and dtypes.get(gcol) == "string" and all(
            a["fn"] == "count"
            or (a["fn"] == "count_col" and a["col"] in dtypes)
            or (a["fn"] in ("sum", "min", "max")
                and dtypes.get(a["col"]) == "int64")
            for a in kernel_aggs)
        where = (_to_leaves(dtypes, _merge_single_col(preds))
                 if ok else None)
        routed = (encoded_table.grouped_dict_agg(spark, out_dir, gcol,
                                                 kernel_aggs,
                                                 where=where)
                  if ok and where is not None else None)
        if routed is not None:
            df, stats = routed
            for c, op, val in hav_cols:
                e = F.col(c)
                df = df.where({"eq": e == val, "ge": e >= val,
                               "gt": e > val, "le": e <= val,
                               "lt": e < val}[op])
            df = df.select(*[F.col(gcol) if k == "group"
                             else F.col(a["alias"])
                             for k, a in out_spec])
            if sort:
                df = df.orderBy(*[_sort_expr(*o) for o in sort])
            if limit is not None:
                df = df.limit(limit)
            stats = dict(stats)
            stats["routed"] = True
            stats["having_filters"] = len(hav_cols)
            return df, stats

    pjoin = _parse_join(nodes)
    if pjoin is not None:
        routed = _route_join(spark, out_dir, pjoin, view)
        if routed is not None:
            return routed

    return route_sql_count(spark, out_dir, sql, view,
                           _nodes=nodes)


def route_sql_count(spark: SparkSession, out_dir: str, sql: str,
                    view: str | None = None,
                    _nodes: list | None = None) \
        -> tuple[DataFrame, dict]:
    """Answer a `SELECT count(*) AS a FROM view WHERE ...` SQL string
    through the store's pruned kernels when the predicate shape allows,
    else through `spark.sql` over the registered decoded view.

    Returns (one-row DataFrame with the query's own alias, stats).
    stats always carries `routed`; when True it also carries the
    kernel's prune counters (total/scanned/pruned chunks etc.)."""
    parsed = _parse(_nodes if _nodes is not None
                    else _plan_nodes(spark, sql))
    if parsed is not None:
        aggs, seen_view, preds = parsed
        if view is not None and seen_view != view:
            parsed = None
    if parsed is not None:
        _, dtypes = encoded_table.stored_schema(spark, out_dir)
        preds = _merge_single_col(preds)
        routed = (_dispatch(spark, out_dir, dtypes, preds)
                  if len(aggs) == 1 and aggs[0]["fn"] == "count"
                  else None)
        if routed is None:
            routed = _dispatch_aggs(spark, out_dir, dtypes, aggs, preds)
        if routed is not None:
            vals, stats = routed
            if not isinstance(vals, (list, tuple)):
                vals = [vals]
            stats = dict(stats)
            stats["routed"] = True
            # single-task 1-row plan: createDataFrame([tuple]) would
            # parallelize into defaultParallelism mostly-empty slices
            # (~0.3-1 s of scheduler noise per call at local[32])
            return (spark.range(0, 1, 1, 1).select(
                *[F.lit(None if v is None else int(v)).cast("long")
                  .alias(a["alias"]) for a, v in zip(aggs, vals)]),
                stats)
    # out of grammar: the decoded view answers it with Spark's planner
    return spark.sql(sql), {"routed": False}


def _dispatch(spark, out_dir, dtypes, preds):
    """(hits, stats) through the one pruned count, or None when some
    predicate is outside the store leaves."""
    leaves = _to_leaves(dtypes, preds)
    return (encoded_table.pruned_count(spark, out_dir, leaves)
            if leaves else None)


def _dispatch_aggs(spark, out_dir, dtypes, aggs, preds):
    """Aggregate pushdown beyond the count kernels: answer the
    supported shapes from the manifest (and, for SUM, the pruned sum
    terminal, which reads only the chunks its manifest cannot answer).
    Returns ([values...], stats) or None when this set is not
    answerable.

    Shapes:
      no WHERE:  count(*)            -> manifest_row_count
                 count(col)          -> manifest_null_count (exact
                                        under deletes and evolution)
                 sum(int col)        -> pruned_sum with no leaves
                 min/max(int col)    -> manifest_min_max — but ONLY on
                                        stores without live deletes
                                        (under deletes the manifest is
                                        a bound, not the live extreme)
      WHERE col IS [NOT] NULL: count(*) -> manifest_null_count
      WHERE AND(leaves): sum(int col)   -> pruned_sum
    """
    from ..spark import delete_job
    et = encoded_table
    stats: dict = {"metadata_only": True}

    if len(preds) == 1 and preds[0]["op"] in ("isnull", "notnull"):
        if len(aggs) != 1 or aggs[0]["fn"] != "count":
            return None
        c = preds[0]["col"]
        if c not in dtypes:
            return None
        nulls, non_nulls = et.manifest_null_count(spark, out_dir, c)
        return [nulls if preds[0]["op"] == "isnull" else non_nulls], stats

    if preds:
        leaves = _to_leaves(dtypes, preds)
        if (leaves is None or len(aggs) != 1 or aggs[0]["fn"] != "sum"
                or dtypes.get(aggs[0]["col"]) != "int64"):
            return None
        total, st = et.pruned_sum(spark, out_dir, leaves, aggs[0]["col"])
        return [total], {**st, "metadata_only": False}

    # WHERE-less aggregates: every item must be answerable, else the
    # whole statement falls back (no partial routing)
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
                mm_cache[a["col"]] = et.manifest_min_max(spark, out_dir,
                                                         a["col"])
            vals.append(mm_cache[a["col"]][0 if a["fn"] == "min" else 1])
        elif a["fn"] == "sum":
            if dtypes.get(a["col"]) != "int64":
                return None
            total, st = et.pruned_sum(spark, out_dir, [], a["col"])
            stats["metadata_only"] = (stats["metadata_only"]
                                      and st["scanned_chunks"] == 0)
            vals.append(total)
        elif a["fn"] == "count_distinct":
            # COUNT(DISTINCT dict col) from the dictionary heaps —
            # the code vectors are never decoded on a delete-free
            # store; SQL semantics exclude the NULL member
            if dtypes.get(a["col"]) != "string":
                return None
            routed = et.dict_distinct(spark, out_dir, a["col"])
            if routed is None:
                return None
            ddf, dst = routed
            vals.append(ddf.where(F.col(a["col"]).isNotNull()).count())
            stats["metadata_only"] = False
            stats["distinct_kernel"] = True
        else:
            return None
    return vals, stats
