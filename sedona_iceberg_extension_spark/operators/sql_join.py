"""SQL-text spatial join planning — the ``JoinQueryDetector`` front door.

The reference plans a *plain SQL* spatial join —
``SELECT ... FROM l JOIN r ON ST_Contains(r.geo, l.geo)`` — into
``BroadcastIndexJoin``/``RangeJoin`` via an injected planner strategy
(``SedonaIcebergExtensions.scala:47``, asserted by plan-string regex at
``TestSedonaIcebergExtension.scala:117-142``).  PySpark cannot inject a
Catalyst strategy, so this module does the same detection one level up, on
the SQL text itself:

1. find ``FROM <rel> [a] JOIN <rel> [b] ON ST_pred(x.geo, y.geo) [AND ...]``
   (table aliases optional — a bare table name is its own alias),
2. plan that join through :func:`operators.spatial_join.spatial_join`
   (grid cell equi-join — sort-merge/shuffled-hash + AQE, never a
   BroadcastNestedLoopJoin/CartesianProduct),
3. expose the join result as a temp view with one **struct column per table
   alias**, so every ``a.col`` / ``b.col`` reference in the rest of the
   statement keeps resolving unchanged (struct field access), and run the
   rewritten statement through ``spark.sql``.

**Chained spatial joins** (``FROM a JOIN b ON ST_p(...) JOIN c ON
ST_q(...)``) are planned left-to-right: each join's pair view becomes the
left input of the next detection pass, and geometry references like
``a.geo`` resolve through the prior view's alias-struct columns (shape-hint
metadata is re-stamped on extraction, so the Python-free exact-envelope
paths survive the chain).  Detection runs on consecutive spatial joins at
the head of the FROM clause; a trailing *non*-spatial equi-join after the
spatial chain also works, since the pair view's struct columns keep
``alias.col`` references valid in the untouched remainder.

**Comma joins** — the reference App's own headline spelling,
``SELECT ... FROM t0 l, t1 r WHERE ST_Contains(r.geo, l.geo) [AND ...]``
(App.scala:62-63,72-73,77 drives 4 of its 5 spatial-join statements this
way, incl. the CTAS) — are detected too: the FROM relation list is parsed,
the WHERE clause is split into top-level AND-conjuncts, and the first
conjunct that is a recognized ``ST_pred(a.col, b.col[, d])`` over two
distinct FROM relations is planned through the same grid join; the two
relations collapse to the pair view and the remaining conjuncts stay as the
residual WHERE.  Iterating the pass plans multi-relation comma chains
(``FROM a, b, c WHERE ST_p(..) AND ST_q(..)``) one join at a time, with
later predicates resolving through the pair view's alias-struct columns.

**SQL-text views** — ``CREATE TEMP VIEW v AS SELECT ..., ST_Point(a, b)
AS geo FROM t`` — hold constructor-built geometry with neither the shape
hint nor the ``geo_env`` struct that ``with_point_geometry`` /
``with_box_geometry`` give a DataFrame, so a join over them would build
every envelope, distance and containment test in Python.  When such a view
is a join side, the join reads its *twin* instead (:func:`_view_twin`):
the view's own SELECT text with the hint on ``geo`` and a native
``geo_env`` appended, so the statement grid join and the range-predicate
rewrite plan it with no Python.  The twin's ``geo_env`` is marked hidden
and never surfaces through ``*`` or ``alias.*``.

Statements with no spatial equi-theta join — or shapes this detector does
not recognize — fall through to ``spark.sql`` verbatim: the registered ST_*
UDFs still evaluate them correctly, just without the planner upgrade (the
same correct-but-unindexed fallback the reference has for non-join
predicates).
"""

from __future__ import annotations

import re
from typing import List, NamedTuple, Optional, Tuple

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .spatial_join import spatial_join

# SQL name -> (internal predicate, inverse when arg order is (right, left))
_PREDICATES = {
    "st_contains": ("contains", "within"),
    "st_within": ("within", "contains"),
    "st_covers": ("covers", "covered_by"),
    "st_coveredby": ("covered_by", "covers"),
    "st_covered_by": ("covered_by", "covers"),
    "st_intersects": ("intersects", "intersects"),
    "st_touches": ("touches", "touches"),
    "st_crosses": ("crosses", "crosses"),
    "st_overlaps": ("overlaps", "overlaps"),
    "st_equals": ("equals", "equals"),
    "st_dwithin": ("dwithin", "dwithin"),
}

# a bare word after a relation is an alias only if it isn't a keyword
_NOT_KW = (r"(?!ON\b|JOIN\b|INNER\b|CROSS\b|LEFT\b|RIGHT\b|FULL\b|WHERE\b"
           r"|GROUP\b|HAVING\b|ORDER\b|LIMIT\b|UNION\b|EXCEPT\b|INTERSECT\b)")

_JOIN_RE = re.compile(
    rf"""FROM\s+
        (?P<lrel>[\w.]+)(?:\s+(?:AS\s+)?{_NOT_KW}(?P<lalias>\w+))?\s+
        (?:(?P<outer>LEFT\s+(?:OUTER\s+)?)|INNER\s+)?JOIN\s+
        (?P<rrel>[\w.]+)(?:\s+(?:AS\s+)?{_NOT_KW}(?P<ralias>\w+))?\s+
        ON\s+(?P<pred>ST_\w+)\s*\(""",
    re.IGNORECASE | re.VERBOSE,
)

# end of a trailing AND-conjunct run after the ON clause: next clause,
# next JOIN (the conjuncts belong to *this* join, not the one after), or EOS
_CLAUSE_END_RE = re.compile(
    r"\b((?:INNER\s+|CROSS\s+|LEFT\s+(?:OUTER\s+)?|RIGHT\s+(?:OUTER\s+)?"
    r"|FULL\s+(?:OUTER\s+)?)?JOIN|WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT"
    r"|UNION|EXCEPT|INTERSECT)\b|$",
    re.IGNORECASE,
)

# where a deferred WHERE clause may be injected in the statement tail
_WHERE_SLOT_RE = re.compile(
    r"\b(GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION|EXCEPT|INTERSECT)\b|$",
    re.IGNORECASE,
)

_ARG_RE = re.compile(r"^(\w+)\.(\w+)$")

_VIEW_PREFIX = "__spatial_sql_join_"
_VIEW_COUNTER = [0]
# pair view -> its aliases in ORIGINAL FROM order (the predicate's arg order
# decides which side is the join's left, so the view's struct order can
# differ from the statement's FROM order — SELECT * expansion must follow
# the latter)
_VIEW_ALIAS_ORDER: dict = {}


class _Match(NamedTuple):
    span: Tuple[int, int]      # [start, end) of the full FROM..ON..(args)[AND..] text
    lrel: str
    lalias: str
    rrel: str
    ralias: str
    pred_sql: str
    args: List[str]
    extra: Optional[str]       # trailing AND-conjuncts (verbatim SQL) or None
    how: str                   # "inner" | "left"


def _balanced_args(sql: str, open_idx: int) -> Tuple[List[str], int]:
    """Split the argument list starting after ``(`` at *open_idx*; returns
    (args, index just past the closing paren)."""
    depth, i, start, args = 1, open_idx + 1, open_idx + 1, []
    while i < len(sql) and depth:
        c = sql[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                args.append(sql[start:i].strip())
        elif c == "," and depth == 1:
            args.append(sql[start:i].strip())
            start = i + 1
        i += 1
    if depth:
        raise ValueError("unbalanced parentheses in spatial predicate")
    return args, i


def _find_spatial_join(sql: str) -> Optional[_Match]:
    m = _JOIN_RE.search(sql)
    if not m:
        return None
    pred = m.group("pred").lower()
    if pred not in _PREDICATES:
        return None
    args, after = _balanced_args(sql, m.end() - 1)
    # optional trailing AND-conjuncts belong to the join condition
    extra = None
    rest = sql[after:]
    am = re.match(r"\s+AND\s+", rest, re.IGNORECASE)
    if am:
        em = _CLAUSE_END_RE.search(rest, am.end())
        extra = rest[am.end():em.start()].strip()
        after += em.start()
    lalias = m.group("lalias") or m.group("lrel").rsplit(".", 1)[-1]
    ralias = m.group("ralias") or m.group("rrel").rsplit(".", 1)[-1]
    how = "left" if m.group("outer") else "inner"
    return _Match((m.start(), after), m.group("lrel"), lalias,
                  m.group("rrel"), ralias, pred, args, extra, how)


def _resolve_geom(df: DataFrame, side_alias: str, arg_alias: str,
                  arg_col: str) -> Optional[Tuple[DataFrame, str, List[str]]]:
    """Resolve a predicate argument ``arg_alias.arg_col`` against one join
    side.  Plain case: the alias names the side and the column exists.
    Pair-view case: the alias is a struct column of a prior spatial-join
    view — extract the geometry (and its ``_env`` companion) into flat temp
    columns, re-stamping shape-hint metadata so the native envelope paths
    survive.  Returns (df, flat_geom_col, temp_cols) or None."""
    if arg_alias == side_alias and arg_col in df.columns:
        return df, arg_col, []
    if arg_alias in df.columns and isinstance(df.schema[arg_alias].dataType, StructType):
        inner: StructType = df.schema[arg_alias].dataType
        if arg_col not in inner.fieldNames():
            return None
        tmp = f"__geo_{arg_alias}_{arg_col}"
        md = inner[arg_col].metadata
        extract = [F.col(f"`{arg_alias}`.`{arg_col}`").alias(tmp, metadata=md or None)]
        tmps = [tmp]
        env = f"{arg_col}_env"
        if env in inner.fieldNames():
            extract.append(F.col(f"`{arg_alias}`.`{env}`").alias(f"{tmp}_env"))
            tmps.append(f"{tmp}_env")
        return df.select("*", *extract), tmp, tmps
    return None


# column metadata marking a field the front door added for planning only;
# star expansion skips it
_HIDDEN_MD = "sql_join_hidden"
# column metadata marking a shape hint a twin stamped; it is cleared from
# the statement's output (_drop_twin_hints)
_TWIN_MD = "sql_join_twin"

_CTOR_RE = re.compile(r"^(?P<fn>ST_Point|ST_PolygonFromEnvelope)\s*\(",
                      re.IGNORECASE)
_ITEM_NAME_RE = re.compile(r"^\s+(?:AS\s+)?`?(?P<name>\w+)`?\s*$",
                           re.IGNORECASE)
# top-level words that make adding a column to the SELECT list change
# the rows (or leave the twin's shape unproven)
_TWIN_STOP_WORDS = {"DISTINCT", "GROUP", "UNION", "EXCEPT", "INTERSECT",
                    "MINUS", "PIVOT", "UNPIVOT"}


def _toplevel_words(s: str) -> set:
    """Upper-cased words (runs of letters, digits and ``_``) at paren
    depth 0, outside quotes and backticks."""
    words, depth, i, n = set(), 0, 0, len(s)
    while i < n:
        c = s[i]
        if c in "'\"`":
            j = s.find(c, i + 1)
            i = n if j < 0 else j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and (c.isalnum() or c == "_"):
            j = i
            while j < n and (s[j].isalnum() or s[j] == "_"):
                j += 1
            words.add(s[i:j].upper())
            i = j
            continue
        i += 1
    return words


def _view_configs_current(spark: SparkSession, meta) -> bool:
    """True when every SQL conf the view captured at creation has the same
    value now, so re-parsing its text means what the view means."""
    # one round trip for the whole map: entries print as "key -> value",
    # and conf keys hold no spaces
    entries = meta.viewSQLConfigs().mkString("\x01")
    conf = spark._jsparkSession.sessionState().conf()
    try:
        for e in filter(None, entries.split("\x01")):
            k, v = e.split(" -> ", 1)
            if conf.getConfString(k) != v:
                return False
    except Py4JError:                    # a captured key unknown here
        return False
    return True


def _view_twin(spark: SparkSession, rel: str, view: DataFrame,
               geo: str) -> Optional[DataFrame]:
    """The twin of temp view *rel* for a join on its column *geo*, or None
    when the view does not qualify.  It qualifies when it is defined by SQL
    text that is one plain SELECT (no DISTINCT, GROUP BY, set operation or
    pivot) whose top-level item *geo* is ``ST_Point(a, b)`` or
    ``ST_PolygonFromEnvelope(a, b, c, d)`` over DOUBLE arguments, the view
    has no ``<geo>_env`` column, its plan is deterministic and the SQL confs
    it captured still hold.

    The twin is the same SELECT plus a native ``<geo>_env`` struct, with
    *geo* carrying the ``geom_shape`` hint the DataFrame builders stamp.
    The struct is NULL exactly where the constructor returns NULL (a NULL
    or NaN argument); a box's struct holds the least and greatest of its
    corners, the envelope of the polygon the constructor builds.  Temp
    views only: a hint on a persisted table would be a promise about rows
    a later INSERT could break."""
    env = f"{geo}_env"
    if not re.fullmatch(r"\w+", rel) \
            or env.lower() in (c.lower() for c in view.columns):
        return None
    raw = spark._jsparkSession.sessionState().catalog().getRawTempView(rel)
    if not raw.isDefined():
        return None
    meta = raw.get().tableMeta()
    text_opt = meta.viewText()
    if not text_opt.isDefined():
        return None                      # built from a DataFrame
    text = text_opt.get().strip().rstrip(";")
    hm = re.match(r"\s*SELECT\s+", text, re.IGNORECASE)
    if not hm or _toplevel_words(text) & _TWIN_STOP_WORDS:
        return None
    items_end = _find_toplevel_from(text, hm.end())
    if items_end is None:
        items_end = len(text)
    ctor = None
    for item in _split_top_level_commas(text[hm.end():items_end]):
        cm = _CTOR_RE.match(item)
        if not cm:
            continue
        try:
            args, after = _balanced_args(item, cm.end() - 1)
        except ValueError:
            continue
        nm = _ITEM_NAME_RE.match(item[after:])
        if nm and nm.group("name").lower() == geo.lower():
            ctor = (cm.group("fn").lower(), args)
            break
    if ctor is None:
        return None
    fn, args = ctor
    if len(args) != (2 if fn == "st_point" else 4):
        return None
    if not view._jdf.queryExecution().analyzed().deterministic() \
            or not _view_configs_current(spark, meta):
        return None

    a = [f"({x})" for x in args]
    missing = " OR ".join(f"{x} IS NULL OR isnan({x})" for x in a)
    if fn == "st_point":
        shape, (x0, y0, x1, y1) = "points", (a[0], a[1], a[0], a[1])
    else:
        shape = "rects"
        x0, y0 = f"least({a[0]}, {a[2]})", f"least({a[1]}, {a[3]})"
        x1, y1 = f"greatest({a[0]}, {a[2]})", f"greatest({a[1]}, {a[3]})"
    env_sql = (f"CASE WHEN {missing} THEN NULL ELSE named_struct("
               f"'xmin', {x0}, 'ymin', {y0}, 'xmax', {x1}, 'ymax', {y1}) END")
    twin = spark.sql(f"{text[:items_end].rstrip()}, {env_sql} AS `{env}` "
                     f"{text[items_end:]}")
    # same columns and types as the view, plus the DOUBLE env struct the
    # native conditions assume (other argument types keep today's plan)
    vs, ts = view.schema, twin.schema
    if ts.fieldNames() != vs.fieldNames() + [env] \
            or [f.dataType for f in ts.fields[:-1]] != [f.dataType for f in vs.fields] \
            or any(f.dataType.typeName() != "double"
                   for f in ts[env].dataType.fields):
        return None
    return twin.select(*[
        F.col(f"`{c}`").alias(c, metadata={"geom_shape": shape, _TWIN_MD: True})
        if c == geo
        else F.col(f"`{c}`").alias(c, metadata={_HIDDEN_MD: True}) if c == env
        else F.col(f"`{c}`") for c in twin.columns])


def _visible_fields(struct: StructType) -> List[str]:
    return [f.name for f in struct.fields
            if not (f.metadata or {}).get(_HIDDEN_MD)]


def _with_twin(spark: SparkSession, rel: str, res):
    """Swap a plain join side for its twin (see :func:`_view_twin`) when
    the view qualifies; any failure keeps the view as it is."""
    df, geo, tmps = res
    if tmps:
        return res                       # a prior pair view's alias struct
    try:
        twin = _view_twin(spark, rel, df, geo)
    except Exception:
        twin = None
    return res if twin is None else (twin, geo, tmps)


def plan_spatial_join_sql(
    spark: SparkSession,
    match: _Match,
    strategy: str = "grid",
    twins: bool = True,
) -> str:
    """Plan the matched spatial join; returns the temp-view name exposing the
    result as one struct column per table alias (prior-join alias structs on
    the left side pass through unchanged).  With *twins*, a side that is a
    qualifying SQL-text view is read through its twin."""
    ldf = spark.table(match.lrel)
    rdf = spark.table(match.rrel)
    l_is_pair_view = match.lrel.startswith(_VIEW_PREFIX)

    args = match.args
    d = 0.0
    if match.pred_sql == "st_dwithin":
        if len(args) != 3:
            raise ValueError("ST_DWithin requires (geomA, geomB, distance)")
        d = float(args[2])
        args = args[:2]
    refs = [_ARG_RE.match(a) for a in args]
    if not all(refs):
        raise ValueError(f"unsupported spatial join arguments {args!r}")
    (a_alias, a_col), (b_alias, b_col) = [(r.group(1), r.group(2)) for r in refs]

    fwd, inv = _PREDICATES[match.pred_sql]
    left_res = _resolve_geom(ldf, match.lalias, a_alias, a_col)
    right_res = _resolve_geom(rdf, match.ralias, b_alias, b_col)
    if left_res and right_res:
        predicate = fwd
    else:
        # args are (right, left): pred(r, l) == inverse-pred(l, r)
        left_res = _resolve_geom(ldf, match.lalias, b_alias, b_col)
        right_res = _resolve_geom(rdf, match.ralias, a_alias, a_col)
        if not (left_res and right_res):
            raise ValueError(
                f"spatial predicate references {a_alias}/{b_alias}, "
                f"join aliases are {match.lalias}/{match.ralias}")
        predicate = inv

    if twins:
        left_res = _with_twin(spark, match.lrel, left_res)
        right_res = _with_twin(spark, match.rrel, right_res)
    ldf2, lgeo, ltmps = left_res
    rdf2, rgeo, _ = right_res

    joined = spatial_join(ldf2, rdf2, predicate=predicate, on=(lgeo, rgeo),
                          how=match.how, strategy=strategy, d=d)

    lcols, rcols = ldf2.columns, rdf2.columns
    common = set(lcols) & set(rcols)
    rstruct = F.struct(*[F.col(f"`r_{c}`" if c in common else f"`{c}`").alias(c)
                         for c in rcols]).alias(match.ralias)
    if l_is_pair_view:
        # left columns are already one struct per prior alias — pass through
        keep = [F.col(f"`{c}`").alias(c) for c in lcols if c not in ltmps]
        out = joined.select(*keep, rstruct)
    else:
        out = joined.select(
            F.struct(*[F.col(f"`{c}`").alias(c) for c in lcols
                       if c not in ltmps]).alias(match.lalias),
            rstruct,
        )

    _VIEW_COUNTER[0] += 1
    view = f"{_VIEW_PREFIX}{_VIEW_COUNTER[0]}"
    out.createOrReplaceTempView(view)
    return view


_REL_RE = re.compile(
    rf"(?P<rel>[\w.]+)(?:\s+(?:AS\s+)?{_NOT_KW}(?P<alias>\w+))?\s*",
    re.IGNORECASE)

_ST_CONJ_RE = re.compile(r"^(?P<pred>ST_\w+)\s*\(", re.IGNORECASE)


def _split_conjuncts(s: str) -> List[str]:
    """Split a WHERE body on top-level ``AND`` (paren-aware)."""
    parts, depth, start, i, n = [], 0, 0, 0, len(s)
    while i < n:
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (depth == 0 and s[i:i + 3].upper() == "AND"
              and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
              and (i + 3 >= n or not (s[i + 3].isalnum() or s[i + 3] == "_"))):
            parts.append(s[start:i].strip())
            start = i + 3
            i += 3
            continue
        i += 1
    parts.append(s[start:].strip())
    return [p for p in parts if p]


def _has_toplevel_or(s: str) -> bool:
    """True if the text contains an ``OR`` keyword at paren depth 0 outside
    string literals.  AND binds tighter than OR, so a WHERE body with a
    top-level OR is NOT a pure conjunction — removing one \"conjunct\" from
    it (the comma-join rewrite) would silently change semantics
    (``ST_pred AND x OR z`` parses as ``(ST_pred AND x) OR z``)."""
    return "OR" in _toplevel_words(s)


def _parse_comma_from(sql: str):
    """Parse ``FROM rel [a], rel [b][, ...] WHERE <body>``; returns
    (from_start, where_body_start, where_body_end, rels, conjuncts) where
    each rel is (name, alias_or_None, verbatim_text), or None."""
    fm = re.search(r"\bFROM\s+", sql, re.IGNORECASE)
    if not fm:
        return None
    i, rels = fm.end(), []
    while True:
        m = _REL_RE.match(sql, i)
        if not m or not m.group("rel"):
            return None
        rels.append((m.group("rel"), m.group("alias"),
                     sql[m.start():m.end()].strip()))
        i = m.end()
        if i < len(sql) and sql[i] == ",":
            i += 1
            while i < len(sql) and sql[i].isspace():
                i += 1
            continue
        break
    if len(rels) < 2:
        return None
    wm = re.match(r"WHERE\s+", sql[i:], re.IGNORECASE)
    if not wm:
        return None
    wstart = i + wm.end()
    wend = _WHERE_SLOT_RE.search(sql, wstart).start()
    return fm.start(), wstart, wend, rels, _split_conjuncts(sql[wstart:wend])


def _rewrite_comma_join(spark: SparkSession, sql: str,
                        strategy: str, twins: bool = True) -> Optional[str]:
    """Plan ONE comma-join spatial predicate (the reference App's
    ``FROM a, b WHERE ST_pred(...)`` spelling); returns the rewritten
    statement or None if the shape doesn't apply."""
    parsed = _parse_comma_from(sql)
    if not parsed:
        return None
    from_start, wstart, wend, rels, conjs = parsed
    # a top-level OR means the WHERE body is not a pure conjunction — the
    # rewrite (which removes the spatial conjunct) would be unsound, so the
    # statement falls through to vanilla evaluation (correct, unoptimized)
    if _has_toplevel_or(sql[wstart:wend]):
        return None
    alias_of = {}
    for t in rels:
        alias_of[t[1] or t[0].rsplit(".", 1)[-1]] = t

    pick = None
    for ci, c in enumerate(conjs):
        m = _ST_CONJ_RE.match(c)
        if not m or m.group("pred").lower() not in _PREDICATES:
            continue
        try:
            args, after = _balanced_args(c, c.index("("))
        except ValueError:
            continue
        if c[after:].strip():       # not a bare predicate conjunct
            continue
        refs = [_ARG_RE.match(a) for a in args[:2]]
        if not all(refs):
            continue
        sides = []
        for r in refs:
            al = r.group(1)
            if al in alias_of:
                sides.append(alias_of[al])
                continue
            # an earlier pass's pair view holds this alias as a struct column
            holder = next((t for t in rels if t[0].startswith(_VIEW_PREFIX)
                           and al in spark.table(t[0]).columns), None)
            sides.append(holder)
        if None in sides or sides[0] is sides[1]:
            continue
        pick = (ci, m.group("pred").lower(), args, sides)
        break
    if pick is None:
        return None

    ci, pred, args, (lt, rt) = pick
    mt = _Match((0, 0), lt[0], lt[1] or lt[0].rsplit(".", 1)[-1],
                rt[0], rt[1] or rt[0].rsplit(".", 1)[-1],
                pred, args, None, "inner")
    try:
        view = plan_spatial_join_sql(spark, mt, strategy=strategy,
                                     twins=twins)
    except Exception:
        return None
    _VIEW_ALIAS_ORDER[view] = [t[1] or t[0].rsplit(".", 1)[-1]
                               for t in rels if t is lt or t is rt]
    rest_rels = [t[2] for t in rels if t is not lt and t is not rt]
    new_from = "FROM " + ", ".join([view] + rest_rels)
    rest_conjs = [c for i2, c in enumerate(conjs) if i2 != ci]
    new_where = (" WHERE " + " AND ".join(rest_conjs) + " ") if rest_conjs else " "
    return sql[:from_start] + new_from + new_where + sql[wend:]


_ENVLIT_RE = re.compile(r"^ST_PolygonFromEnvelope\s*\(", re.IGNORECASE)
_NUM_RE = re.compile(r"^-?\d+(\.\d+)?([eE]-?\d+)?$")
_COLREF_RE = re.compile(r"^(?:(\w+)\.)?(\w+)$")

_RANGE_PREDS = ("st_contains", "st_within", "st_intersects",
                "st_covers", "st_coveredby", "st_covered_by")


def _relation_list(sql: str) -> List[Tuple[str, Optional[str]]]:
    fm = re.search(r"\bFROM\s+", sql, re.IGNORECASE)
    if not fm:
        return []
    i, rels = fm.end(), []
    while True:
        m = _REL_RE.match(sql, i)
        if not m or not m.group("rel"):
            break
        rels.append((m.group("rel"), m.group("alias")))
        i = m.end()
        if i < len(sql) and sql[i] == ",":
            i += 1
            while i < len(sql) and sql[i].isspace():
                i += 1
            continue
        break
    return rels


def _resolve_env_ref(spark, rels, alias, col):
    """Resolve a geometry reference to (shape_hint, env_sql_path): the
    column's ``_env`` companion either flat in a FROM relation or inside a
    pair view's alias struct."""
    for rel, ral in rels:
        try:
            df = spark.table(rel)
        except Exception:
            continue
        rel_alias = ral or rel.rsplit(".", 1)[-1]
        if (alias is None or alias == rel_alias) and col in df.columns:
            if f"{col}_env" not in df.columns:
                return None, None
            md = df.schema[col].metadata or {}
            prefix = f"{rel_alias}." if alias else ""
            return md.get("geom_shape"), f"{prefix}{col}_env"
        if alias and alias in df.columns \
                and isinstance(df.schema[alias].dataType, StructType):
            inner: StructType = df.schema[alias].dataType
            if col in inner.fieldNames() and f"{col}_env" in inner.fieldNames():
                md = inner[col].metadata or {}
                return md.get("geom_shape"), f"{alias}.{col}_env"
    return None, None


def _envelope_literal(arg: str):
    """Parse ``ST_PolygonFromEnvelope(x1, y1, x2, y2)`` with numeric
    literals; returns (x1, y1, x2, y2) or None."""
    if not _ENVLIT_RE.match(arg):
        return None
    try:
        eargs, eafter = _balanced_args(arg, arg.index("("))
    except ValueError:
        return None
    if arg[eafter:].strip() or len(eargs) != 4:
        return None
    if not all(_NUM_RE.match(x.strip()) for x in eargs):
        return None
    return tuple(float(x) for x in eargs)


def _try_native_range(spark, rels, conj: str) -> Optional[str]:
    """Rewrite one WHERE conjunct ``ST_pred(ST_PolygonFromEnvelope(...),
    a.col)`` (either arg order) into native envelope comparisons — the SQL-
    text face of the Tier-B range pushdown (SedonaPredicatePushDown.scala
    relaxation table; exact, not relaxed, because the rewrite only fires for
    point/rect shape-hinted columns where the envelope IS the geometry)."""
    m = _ST_CONJ_RE.match(conj)
    if not m or m.group("pred").lower() not in _RANGE_PREDS:
        return None
    pred = m.group("pred").lower()
    try:
        args, after = _balanced_args(conj, conj.index("("))
    except ValueError:
        return None
    if conj[after:].strip() or len(args) != 2:
        return None
    b0, b1 = _envelope_literal(args[0]), _envelope_literal(args[1])
    if (b0 is None) == (b1 is None):      # exactly one envelope literal
        return None
    box, colarg, box_first = (b0, args[1], True) if b0 else (b1, args[0], False)
    cm = _COLREF_RE.match(colarg.strip())
    if not cm:
        return None
    shape, env_sql = _resolve_env_ref(spark, rels, cm.group(1), cm.group(2))
    if shape not in ("points", "rects"):
        return None
    x1, y1, x2, y2 = box
    if pred == "st_intersects":
        return (f"{env_sql}.xmax >= {x1!r} AND {env_sql}.xmin <= {x2!r}"
                f" AND {env_sql}.ymax >= {y1!r} AND {env_sql}.ymin <= {y2!r}")
    if pred in ("st_contains", "st_covers"):
        box_contains = box_first
    else:                                  # within / coveredby
        box_contains = not box_first
    if not box_contains:
        return None    # a point/rect column containing a box — leave to UDF
    # OGC contains puts a point in the *interior* → strict bounds
    # (functions/api.py st_contains); covers and rect operands are inclusive
    strict = shape == "points" and pred in ("st_contains", "st_within")
    lt, gt = ("<", ">") if strict else ("<=", ">=")
    return (f"{env_sql}.xmin {gt} {x1!r} AND {env_sql}.xmax {lt} {x2!r}"
            f" AND {env_sql}.ymin {gt} {y1!r} AND {env_sql}.ymax {lt} {y2!r}")


def _rewrite_range_predicates(spark: SparkSession, sql: str) -> str:
    """Rewrite every WHERE conjunct that is a constant-envelope range
    predicate over a shape-hinted geometry into native comparisons (keeps
    range filters out of Python and lets them reach the scan)."""
    try:
        rels = _relation_list(sql)
        if not rels:
            return sql
        wm = re.search(r"\bWHERE\b\s*", sql, re.IGNORECASE)
        if not wm:
            return sql
        wend = _WHERE_SLOT_RE.search(sql, wm.end()).start()
        conjs = _split_conjuncts(sql[wm.end():wend])
        changed = False
        out = []
        for c in conjs:
            native = _try_native_range(spark, rels, c)
            if native:
                changed = True
                out.append(f"({native})")
            else:
                out.append(c)
        if not changed:
            return sql
        return sql[:wm.end()] + " AND ".join(out) + " " + sql[wend:]
    except Exception:
        return sql


_SELECT_HEAD_RE = re.compile(r"^\s*SELECT\s+(?:DISTINCT\s+)?", re.IGNORECASE)


def _split_top_level_commas(s: str) -> List[str]:
    parts, depth, start, i, n = [], 0, 0, 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n and s[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
        i += 1
    parts.append(s[start:].strip())
    return [p for p in parts if p]


def _find_toplevel_from(sql: str, start: int):
    depth, i, n = 0, start, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n and sql[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (depth == 0 and c in "fF" and sql[i:i + 4].upper() == "FROM"
              and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_"))
              and (i + 4 >= n or not (sql[i + 4].isalnum() or sql[i + 4] == "_"))):
            return i
        i += 1
    return None


def _pair_view_star_items(spark: SparkSession, rel: str) -> List[str]:
    """SELECT-list items flattening a pair view back to the column set the
    unrewritten statement would return: each alias struct expands to its
    fields in order.  Any ``_env`` companion the source table itself carried
    stays — the expansion must match vanilla evaluation of the same
    statement; DDL-created reference-parity tables carry no ``_env``, so
    there the flattened set equals upstream Sedona's."""
    schema = spark.table(rel).schema
    hint = _VIEW_ALIAS_ORDER.get(rel)
    names = list(schema.fieldNames())
    if hint and set(hint) <= set(names):
        names = hint + [n for n in names if n not in hint]
    items = []
    for name in names:
        fld = schema[name]
        if isinstance(fld.dataType, StructType):
            items += [f"`{fld.name}`.`{f}` AS `{f}`"
                      for f in _visible_fields(fld.dataType)]
        else:
            items.append(f"`{fld.name}`")
    return items


def _expand_star_over_views(spark: SparkSession, sql: str) -> str:
    """After a spatial-join rewrite put a pair view (one struct column per
    original alias) in the FROM, a bare ``*`` / ``alias.*`` select list
    would surface the structs themselves.  Expand them back to the flat
    column set the statement produced before the rewrite (the reference
    App's statements are all ``SELECT * FROM t0 l, t1 r WHERE ST_...``,
    App.scala:62-73)."""
    if _VIEW_PREFIX not in sql:
        return sql
    hm = _SELECT_HEAD_RE.match(sql)
    if not hm:
        return sql
    from_idx = _find_toplevel_from(sql, hm.end())
    if from_idx is None:
        return sql
    items = _split_top_level_commas(sql[hm.end():from_idx])
    if not any(it == "*" or it.endswith(".*") for it in items):
        return sql
    # parse the comma relation list and whether it covers the whole FROM
    # clause (no JOIN tail — bare * can only be expanded when every FROM
    # relation is enumerable)
    i, n = from_idx + 4, len(sql)
    while i < n and sql[i].isspace():
        i += 1
    rels = []
    while True:
        m = _REL_RE.match(sql, i)
        if not m or not m.group("rel"):
            break
        rels.append((m.group("rel"), m.group("alias")))
        i = m.end()
        if i < n and sql[i] == ",":
            i += 1
            while i < n and sql[i].isspace():
                i += 1
            continue
        break
    covers_from = bool(re.match(
        r"(WHERE\b|GROUP\s+BY\b|HAVING\b|ORDER\s+BY\b|LIMIT\b|UNION\b"
        r"|EXCEPT\b|INTERSECT\b|$)", sql[i:].lstrip(), re.IGNORECASE))

    def alias_struct_items(alias: str):
        for rel, _ in rels:
            if not rel.startswith(_VIEW_PREFIX):
                continue
            df = spark.table(rel)
            if alias in df.columns and isinstance(df.schema[alias].dataType,
                                                  StructType):
                return [f"`{alias}`.`{f}` AS `{f}`"
                        for f in _visible_fields(df.schema[alias].dataType)]
        return None

    changed, out = False, []
    for it in items:
        if it == "*" and covers_from:
            for rel, alias in rels:
                if rel.startswith(_VIEW_PREFIX):
                    out += _pair_view_star_items(spark, rel)
                else:
                    out.append(f"{alias or rel.rsplit('.', 1)[-1]}.*")
            changed = True
        elif it.endswith(".*") and re.fullmatch(r"\w+", it[:-2]):
            expanded = alias_struct_items(it[:-2])
            if expanded is None:
                out.append(it)
            else:
                out += expanded
                changed = True
        else:
            out.append(it)
    if not changed:
        return sql
    return sql[:hm.end()] + ", ".join(out) + " " + sql[from_idx:]


def _inject_where(tail: str, extra: str) -> str:
    """Fold a join's deferred AND-conjuncts into the statement tail: into an
    existing WHERE if present, else as a new WHERE at the clause slot after
    any remaining joins (inner-join semantics make the placement exact)."""
    wm = re.search(r"\bWHERE\b", tail, re.IGNORECASE)
    if wm:
        return tail[:wm.end()] + f" ({extra}) AND" + tail[wm.end():]
    sm = _WHERE_SLOT_RE.search(tail)
    return f"{tail[:sm.start()]} WHERE {extra} {tail[sm.start():]}"


def _bare_star_over_hidden(spark: SparkSession, sql: str) -> bool:
    """True when the select list kept a bare ``*`` (star expansion could
    not enumerate the FROM clause) over a pair view holding hidden twin
    fields, which would surface inside the alias structs."""
    hm = _SELECT_HEAD_RE.match(sql)
    if not hm:
        return False
    from_idx = _find_toplevel_from(sql, hm.end())
    if from_idx is None or "*" not in _split_top_level_commas(
            sql[hm.end():from_idx]):
        return False
    for rel, _ in _relation_list(sql):
        if rel.startswith(_VIEW_PREFIX):
            for fld in spark.table(rel).schema.fields:
                if isinstance(fld.dataType, StructType) and \
                        _visible_fields(fld.dataType) != fld.dataType.fieldNames():
                    return True
    return False


def _drop_twin_hints(df: DataFrame) -> DataFrame:
    """Clear the metadata a twin stamped on the statement's output columns.
    Its shape hint describes the view's rows as read now; a CTAS persisting
    it would promise that shape for every row a later INSERT adds."""
    fields = df.schema.fields
    if not any((f.metadata or {}).get(_TWIN_MD) for f in fields):
        return df
    empty = df.sparkSession._jvm.org.apache.spark.sql.types.Metadata.empty()
    # positional names: a star output may repeat a column name
    tmp = df.toDF(*[f"_c{i}" for i in range(len(fields))])
    return tmp.select(*[
        Column(getattr(F.col(f"_c{i}")._jc, "as")(f.name, empty))
        if (f.metadata or {}).get(_TWIN_MD) else F.col(f"_c{i}").alias(f.name)
        for i, f in enumerate(fields)])


def spatial_sql(spark: SparkSession, sql: str, strategy: str = "grid") -> DataFrame:
    """Run a SQL statement, planning every recognized ``JOIN ... ON ST_pred``
    (including chains of them) through the distributed spatial join instead
    of Spark's default BroadcastNestedLoopJoin-over-UDF.

    Unrecognized statements run unchanged (correct, unoptimized)."""
    return _plan_statement(spark, sql, strategy, twins=True)


def _plan_statement(spark: SparkSession, sql: str, strategy: str,
                    twins: bool) -> DataFrame:
    original = sql
    for _ in range(8):  # bounded chain of spatial joins per statement
        match = _find_spatial_join(sql)
        if match is not None:
            try:
                view = plan_spatial_join_sql(spark, match, strategy=strategy,
                                             twins=twins)
            except Exception:
                # fall back to vanilla evaluation — the ST_* UDFs are
                # registered, so the unrewritten statement still computes
                # the right answer
                return _drop_twin_hints(spark.sql(sql))
            start, end = match.span
            head, tail = sql[:start], sql[end:]
            if tail and not tail[0].isspace():
                tail = " " + tail
            if match.extra:
                tail = _inject_where(tail, match.extra)
            sql = f"{head}FROM {view}{tail}"
            continue
        # the reference App's comma-join spelling: FROM a, b WHERE ST_pred
        rewritten = _rewrite_comma_join(spark, sql, strategy, twins)
        if rewritten is None:
            break
        sql = rewritten
    # SELECT * over a pair view must keep returning flat columns
    sql = _expand_star_over_views(spark, sql)
    if twins and _bare_star_over_hidden(spark, sql):
        return _plan_statement(spark, original, strategy, twins=False)
    # Tier-B face for SQL text: constant-envelope range predicates over
    # shape-hinted geometry go native (no Python, filter reaches the scan)
    sql = _rewrite_range_predicates(spark, sql)
    if twins and _VIEW_PREFIX in sql:
        return _drop_twin_hints(spark.sql(sql))
    return spark.sql(sql)
