"""JSON query DSL → DataFrame compiler.

Implements the reference's structured-query surface (Beacon
``beacon-core/src/query/mod.rs:84-241`` and ``query/filter/mod.rs:36-120``;
pipeline order ``query/compiler.rs:12-85``) on PySpark:

    body = {
      "select":  ["col", {"column": c, "alias": a},
                  {"function": f, "args": [...], "alias": a},
                  {"value": v, "alias": a}],        # alias: query_parameters
      "filter":  nested {and|or: [...]} / leaf predicates,
      "filters": [leaf, ...],                        # legacy flat list
      "from":    "table" | {"parquet": {"paths": [...]}} | {"csv": {...}} ...,
      "sort_by": [{"asc": c} | {"desc": c}],
      "distinct": {"on": [sel...], "select": [sel...]},
      "offset": n, "limit": n,
    }

Pinned semantics (ported from the reference's inline serde tests,
``query/filter/mod.rs:124-338`` and ``query/mod.rs:243-365``):
  - comparison leaves match by field name: eq/neq/gt/gt_eq/lt/lt_eq
  - ``gt_eq`` + ``lt_eq`` on one leaf ⇒ BETWEEN
  - legacy aliases: ``for_query_parameter``→column, ``min``→gt_eq,
    ``max``→lt_eq, ``skip_fill_values``/``skip_missing``→is_not_null
  - number literals coerce to the column's type (fractionals truncate into
    integer columns; out-of-range falls back to float) so pushdown survives
  - ISO-datetime strings become timestamp literals
  - empty ``and`` ⇒ TRUE, empty ``or`` ⇒ FALSE
  - ``= null`` is rejected; nullness uses is_null/is_not_null
  - filter applies AFTER projection (compiler.rs:39-57)
  - sort is nulls-last in both directions (query/mod.rs:333-344)
"""

from __future__ import annotations

import datetime as _dt
import math
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COMPARISONS = ("eq", "neq", "gt", "gt_eq", "lt", "lt_eq", "contains", "like")
_INT_RANGES = {
    T.ByteType(): (-(2**7), 2**7 - 1),
    T.ShortType(): (-(2**15), 2**15 - 1),
    T.IntegerType(): (-(2**31), 2**31 - 1),
    T.LongType(): (-(2**63), 2**63 - 1),
}


class DslError(ValueError):
    pass


def _col(name: str) -> Column:
    """Column ref by *literal* name. DSL column names are flat — a dot is
    part of the name (attribute columns "<var>.<attr>", arrays-to-tables.md),
    never struct access — so dotted names are backtick-quoted."""
    return F.col(f"`{name}`") if "." in name else F.col(name)


# ---------------------------------------------------------------- literals


def _parse_iso_timestamp(s: str) -> _dt.datetime | None:
    try:
        return _dt.datetime.fromisoformat(s)
    except ValueError:
        return None


def _coerce_number(value: float, dtype: T.DataType | None) -> Column:
    """Coerce a JSON number to the column's type (filter/mod.rs:94-113).

    Keeps an integer column's predicate integer-typed so parquet pushdown
    and min/max pruning stay effective. Fractional bounds truncate
    (pinned behavior); out-of-range falls back to the double literal.
    """
    if dtype is not None and dtype in _INT_RANGES:
        lo, hi = _INT_RANGES[dtype]
        trunc = math.trunc(value)
        if lo <= trunc <= hi:
            return F.lit(trunc).cast(dtype)
        return F.lit(float(value))
    if dtype == T.FloatType():
        return F.lit(float(value)).cast(T.FloatType())
    if isinstance(value, bool):
        return F.lit(value)
    if isinstance(value, int):
        return F.lit(value)
    return F.lit(float(value))


def _comparison_value(value: Any, dtype: T.DataType | None) -> Column:
    if value is None:
        raise DslError("null comparison values are rejected; use is_null/is_not_null")
    if isinstance(value, bool):
        return F.lit(value)
    if isinstance(value, (int, float)):
        return _coerce_number(value, dtype)
    if isinstance(value, str):
        ts = _parse_iso_timestamp(value)
        if ts is not None and ("T" in value or " " in value):
            # reference renders these as ns-timestamp literals
            # (filter tests: timestamp_values_become_nanosecond_literals)
            return F.lit(ts)
        return F.lit(value)
    raise DslError(f"unsupported comparison value: {value!r}")


# ---------------------------------------------------------------- select


def _select_to_column(item: Any) -> Column:
    if isinstance(item, str):
        return _col(item)
    if not isinstance(item, dict):
        raise DslError(f"bad select item: {item!r}")
    alias = item.get("alias")
    if "column" in item or "column_name" in item:
        name = item.get("column", item.get("column_name"))
        if not isinstance(name, str):
            raise DslError(f"select column must be a string, got: {name!r}")
        col = _col(name)
    elif "function" in item:
        if not isinstance(item["function"], str):
            raise DslError(
                f"select function must be a name, got: {item['function']!r}")
        args = item.get("args", [])
        if not isinstance(args, list):
            raise DslError(f"function args must be a list, got: {args!r}")
        args = [_select_to_column(a) for a in args]
        col = F.call_function(item["function"], *args)
    elif "value" in item:
        v = item["value"]
        if isinstance(v, dict):
            raise DslError(f"select value must be a literal, got: {v!r}")
        col = F.lit(v)
    else:
        raise DslError(f"bad select item: {item!r}")
    return col.alias(alias) if alias else col


def collect_columns(item: Any, out: list[str]) -> None:
    """Referenced column names of a select item (for pushdown projection,
    query/mod.rs:163-178). Non-string column payloads are skipped — the
    projection set must stay hashable strings (a malformed
    ``{"column": [1]}`` once leaked a LIST into a dict lookup); the
    select compiler rejects the item with a clear error anyway."""
    if isinstance(item, str):
        out.append(item)
    elif isinstance(item, dict):
        name = item.get("column", item.get("column_name"))
        if isinstance(name, str):
            out.append(name)
        args = item.get("args")
        for a in args if isinstance(args, list) else []:
            collect_columns(a, out)


def _output_to_source(select: list[Any]) -> dict[str, str | None]:
    """Map each select item's OUTPUT name to the source column it passes
    through, or None when it isn't a plain (possibly renamed) column —
    function/value items, and output names claimed by two different
    sources, can't drive file pruning."""
    out: dict[str, str | None] = {}

    def put(name: str, src: str | None) -> None:
        if name in out and out[name] != src:
            out[name] = None
        else:
            out[name] = src

    for item in select:
        if isinstance(item, str):
            put(item, item)
        elif isinstance(item, dict):
            name = item.get("alias")
            if not isinstance(name, str):
                name = None  # malformed alias: no pruning claim
            if "column" in item or "column_name" in item:
                src = item.get("column", item.get("column_name"))
                if isinstance(src, str):
                    put(name or src, src)
                elif name:
                    put(name, None)
            elif name:
                put(name, None)
    return out


# ---------------------------------------------------------------- filter


def _column_type(schema: T.StructType, name: str) -> T.DataType | None:
    for f_ in schema.fields:
        if f_.name == name:
            return f_.dataType
    return None


def filter_column_names(node: Any) -> set[str] | None:
    """Every column a filter node references, or ``None`` when any part
    of the shape is not fully understood — callers must then SKIP
    projection pushdown (fail-open: an under-approximated column set
    would make the scan drop a column the filter needs). Mirrors
    :func:`compile_filter`'s grammar exactly."""
    if not isinstance(node, dict):
        return None
    if "and" in node or "or" in node:
        out: set[str] = set()
        for child in node.get("and") or node.get("or") or []:
            sub = filter_column_names(child)
            if sub is None:
                return None
            out |= sub
        return out
    for key in ("is_not_null", "skip_fill_values", "skip_missing", "is_null"):
        if key in node:
            payload = node[key]
            if isinstance(payload, dict) and isinstance(
                    payload.get("column"), str):
                return {payload["column"]}
            return None
    if "geometry" in node:
        lon = node.get("longitude_column")
        lat = node.get("latitude_column")
        if isinstance(lon, str) and isinstance(lat, str):
            return {lon, lat}
        return None
    name = node.get("column", node.get("for_query_parameter"))
    return {name} if isinstance(name, str) else None


def compile_filter(node: Any, schema: T.StructType,
                   source_schema: T.StructType | None = None) -> Column:
    """``source_schema``: the PRE-projection schema. Filters apply after
    projection and name OUTPUT columns, but Spark's resolver lets them
    reach through to source columns the select dropped — the type-aware
    literal coercion must see those columns' types too, or the same
    filter silently changes semantics depending on the select list
    (``eq: 1.5`` on an unselected int column stopped truncating; found
    by the DSL↔SQL↔DuckDB differential). Lookup order mirrors Spark's:
    output schema first, source schema only for names the output lacks."""
    if not isinstance(node, dict):
        raise DslError(f"bad filter node: {node!r}")

    if "and" in node:
        expr = F.lit(True)
        for child in node["and"]:
            expr = expr & compile_filter(child, schema, source_schema)
        return expr
    if "or" in node:
        expr = F.lit(False)
        for child in node["or"]:
            expr = expr | compile_filter(child, schema, source_schema)
        return expr

    def _null_target(key: str) -> str:
        payload = node[key]
        if not (isinstance(payload, dict) and isinstance(payload.get("column"), str)):
            raise DslError(f"{key} takes {{'column': name}}, got: {payload!r}")
        return payload["column"]

    for key in ("is_not_null", "skip_fill_values", "skip_missing"):
        if key in node:
            return _col(_null_target(key)).isNotNull()
    if "is_null" in node:
        return _col(_null_target("is_null")).isNull()

    # GeoJSON spatial filter (query/filter/geo_json.rs:1-55): rewritten onto
    # the st_* functions exactly as the reference does.
    if "geometry" in node and ("longitude_column" in node or "latitude_column" in node):
        import json as _json

        if "longitude_column" not in node or "latitude_column" not in node:
            raise DslError(
                "geometry filter needs both longitude_column and latitude_column"
            )
        return F.call_function(
            "st_within_point",
            F.call_function("st_geojson_as_wkt", F.lit(_json.dumps(node["geometry"]))),
            _col(node["longitude_column"]),
            _col(node["latitude_column"]),
        )

    # comparison leaf
    name = node.get("column", node.get("for_query_parameter"))
    if name is None:
        raise DslError(f"bad filter node: {node!r}")
    ops = {k: node[k] for k in _COMPARISONS if k in node}
    # legacy min/max spellings
    if "min" in node:
        ops.setdefault("gt_eq", node["min"])
    if "max" in node:
        ops.setdefault("lt_eq", node["max"])
    if not ops:
        raise DslError(f"comparison leaf with no operator: {node!r}")

    dtype = _column_type(schema, name)
    if dtype is None and source_schema is not None:
        dtype = _column_type(source_schema, name)
    col = _col(name)
    if "gt_eq" in ops and "lt_eq" in ops:
        expr = col.between(
            _comparison_value(ops.pop("gt_eq"), dtype),
            _comparison_value(ops.pop("lt_eq"), dtype),
        )
    else:
        expr = None
    builders = {
        "eq": lambda c, v: c == v,
        "neq": lambda c, v: c != v,
        "gt": lambda c, v: c > v,
        "gt_eq": lambda c, v: c >= v,
        "lt": lambda c, v: c < v,
        "lt_eq": lambda c, v: c <= v,
    }
    for op, raw in ops.items():
        if op in ("contains", "like"):
            # text predicates (substring / SQL LIKE) — these also drive
            # inverted-index file pruning on managed tables
            s = str(raw)
            piece = col.contains(s) if op == "contains" else col.like(s)
        else:
            piece = builders[op](col, _comparison_value(raw, dtype))
        expr = piece if expr is None else (expr & piece)
    return expr


# ---------------------------------------------------------------- sort / distinct


def _sort_exprs(sort_by: list[Any]) -> list[Column]:
    out = []
    for item in sort_by:
        if not isinstance(item, dict) or len(item) != 1:
            raise DslError(f"bad sort item: {item!r}")
        (kind, colname), = item.items()
        if not isinstance(colname, str):
            raise DslError(f"sort column must be a string, got: {colname!r}")
        kind = kind.lower()
        if kind == "asc":
            out.append(_col(colname).asc_nulls_last())
        elif kind == "desc":
            out.append(_col(colname).desc_nulls_last())
        else:
            raise DslError(f"bad sort direction: {kind}")
    return out


def apply_distinct_on(
    df: DataFrame,
    on: list[Column],
    select: list[Column],
    sort_by: list[Any] | None = None,
) -> DataFrame:
    """DISTINCT ON (DataFusion ``distinct_on``, query/compiler.rs:63-77):
    one row per distinct on-value. The reference's distinct_on carries no
    sort exprs (arbitrary row per group); we refine deterministically —
    with a query ``sort_by``, the kept row is the sort-first row per group
    and the output keeps that order (Postgres DISTINCT ON semantics, a
    strict refinement of "arbitrary"); otherwise order on the ON values.

    Plan: single shuffle on the ON keys (window + row_number), then project.
    Every intermediate column gets a unique internal name so user columns
    named like another select's alias (or literally ``__rn``) can't
    collide or be clobbered; output names are restored at the end.
    """
    from pyspark.sql import Window

    # output names as a plain (possibly duplicate-named) projection sees them
    out_names = df.select(*on, *select).columns
    n_on = len(on)
    sort_items = list(sort_by or [])
    tagged = df.select(
        *[c.alias(f"__dsl_on_{i}") for i, c in enumerate(on)],
        *[c.alias(f"__dsl_sel_{i}") for i, c in enumerate(select)],
        # carry the sort columns (they resolve against the projected df,
        # query/mod.rs:333-344) so the window can pick the sort-first row
        *[
            _col(next(iter(item.values()))).alias(f"__dsl_srt_{i}")
            for i, item in enumerate(sort_items)
        ],
    )
    if sort_items:
        order = _sort_exprs(
            [{next(iter(it)): f"__dsl_srt_{i}"} for i, it in enumerate(sort_items)]
        )
    else:
        order = [F.col(f"__dsl_on_{i}") for i in range(n_on)]
    w = Window.partitionBy(*[F.col(f"__dsl_on_{i}") for i in range(n_on)]).orderBy(*order)
    kept = tagged.withColumn("__dsl_rn", F.row_number().over(w)).filter(
        F.col("__dsl_rn") == 1
    )
    if sort_items:
        kept = kept.orderBy(*order)
    return kept.select(
        *[
            F.col(f"__dsl_sel_{i}").alias(out_names[n_on + i])
            for i in range(len(select))
        ]
    )


# ---------------------------------------------------------------- entry


def compile_query(engine, body: dict[str, Any],
                  user: str | None = None) -> DataFrame:
    """Compile a JSON query body into a DataFrame (query/compiler.rs:12-85).

    ``engine`` provides ``resolve_from(from_spec, projection)``, which
    checks ``user``'s read grants; pipeline is
    project → filter → legacy filters → sort → distinct_on → offset/limit,
    matching the reference exactly (filters see the projected schema).
    """
    select = body.get("select", body.get("query_parameters"))
    if not select and isinstance(body.get("distinct"), dict):
        # the reference's builder emits `select: []` alongside a
        # distinct clause (the projection lives in distinct.select,
        # defaulting to distinct.on) — an empty top-level select is
        # legal in that shape
        d = body["distinct"]
        select = d.get("select") or d.get("on") or []
    if not select:
        raise DslError("query body needs a non-empty select")
    # shape gates: hostile/malformed bodies must fail as DslError, not
    # leak raw TypeErrors ("'bool' object is not iterable") from deep
    # inside the compiler — found by fuzzing the query surface
    if not isinstance(select, list):
        raise DslError(f"select must be a list, got: {select!r}")
    if body.get("filters") is not None and not isinstance(
            body["filters"], list):
        raise DslError(f"filters must be a list, got: {body['filters']!r}")
    if body.get("sort_by") is not None and not isinstance(
            body["sort_by"], list):
        raise DslError(f"sort_by must be a list, got: {body['sort_by']!r}")
    if body.get("distinct") is not None:
        d = body["distinct"]
        if not isinstance(d, dict) or not isinstance(d.get("on"), list):
            raise DslError(
                "distinct takes {'on': [...], 'select': [...]}, got: "
                f"{d!r}")
        if d.get("select") is not None and not isinstance(d["select"], list):
            raise DslError(f"distinct.select must be a list, got: "
                           f"{d['select']!r}")
    # convert limit/offset HERE so the consumer's int() can never raise
    # a raw ValueError ("abc") or silently truncate (10.7): ints pass,
    # integral floats convert, everything else (bool/str/fractional) is
    # a DslError
    for key in ("limit", "offset"):
        v = body.get(key)
        if v is None:
            continue
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise DslError(f"{key} must be an integer, got: {v!r}")
        if isinstance(v, float):
            if not v.is_integer():
                raise DslError(f"{key} must be an integer, got: {v!r}")
            v = int(v)
        if v < 0:
            raise DslError(f"{key} must be non-negative, got: {v!r}")
        body = {**body, key: v}

    pushdown_cols: list[str] = []
    for item in select:
        collect_columns(item, pushdown_cols)

    # planner-side file pruning: AND-ed numeric ranges from the filter reach
    # the source resolver, which drops provably-dead files via the stats
    # index before the scan (stats.py — the reference's PushdownFilter +
    # file-stats pruning pipeline). The filter applies AFTER projection, so
    # its names are OUTPUT names — translate them back to source columns
    # before pruning (an alias shadowing a different source column must not
    # prune against that source's stats), dropping untranslatable names.
    from beacon_spark.stats import (
        extract_contains_terms,
        extract_eq_clauses,
        extract_value_ranges,
    )

    prune_filter = {
        "and": ([body["filter"]] if body.get("filter") is not None else [])
        + list(body.get("filters") or [])
    }
    src_of = _output_to_source(select)

    def _to_source(name: str) -> str | None:
        # a name no select output claims resolves against the SOURCE
        # (Spark's ResolveMissingReferences lets filters reach through the
        # projection), so it prunes as itself; a claimed name prunes as
        # the column it passes through, or not at all (None)
        return src_of.get(name, name)

    ranges: dict[str, tuple] = {}
    for c, (lo, hi) in extract_value_ranges(prune_filter).items():
        if src := _to_source(c):
            plo, phi = ranges.get(src, (None, None))
            ranges[src] = (  # two outputs of one source: intersect (AND)
                plo if lo is None else (lo if plo is None else max(plo, lo)),
                phi if hi is None else (hi if phi is None else min(phi, hi)),
            )
    terms: dict[str, list] = {}
    for c, t in extract_contains_terms(prune_filter).items():
        if src := _to_source(c):
            terms.setdefault(src, []).extend(t)
    eqs: dict[str, list] = {}
    for c, e in extract_eq_clauses(prune_filter).items():
        if src := _to_source(c):
            eqs.setdefault(src, []).extend(e)

    # scan projection = select columns + every filter column (translated
    # to SOURCE names). Any filter shape the collector doesn't fully
    # understand disables the pushdown — an under-approximation would
    # drop a column the filter needs (fail-open, like the pruning path).
    scan_cols: list[str] | None = list(pushdown_cols)
    if any("*" in c for c in scan_cols):
        scan_cols = None  # star select: the scan keeps every column
    for f in (() if scan_cols is None else
              ([body["filter"]] if body.get("filter") is not None else [])
              + list(body.get("filters") or [])):
        sub = filter_column_names(f)
        if sub is None:
            scan_cols = None
            break
        for c in sub:
            src = _to_source(c)
            if src is not None:
                scan_cols.append(src)

    df = engine.resolve_from(
        body.get("from"), scan_cols or None, ranges, terms, eqs, user=user
    )
    src_schema = df.schema  # pre-projection: reach-through coercion types
    df = df.select(*[_select_to_column(s) for s in select])

    if body.get("filter") is not None:
        df = df.filter(compile_filter(body["filter"], df.schema, src_schema))
    for legacy in body.get("filters") or []:
        df = df.filter(compile_filter(legacy, df.schema, src_schema))

    sort_by = body.get("sort_by")
    sort_exprs = _sort_exprs(sort_by) if sort_by else []
    if body.get("distinct"):
        # the sort feeds the distinct (which row is kept + output order)
        # instead of a wasted pre-shuffle global sort — the window's
        # exchange would destroy it (query/compiler.rs:59-76 sorts before
        # distinct_on, whose aggregate likewise keeps no input order)
        d = body["distinct"]
        on = [_select_to_column(s) for s in d["on"]]
        sel = [_select_to_column(s) for s in d["select"]]
        df = apply_distinct_on(df, on, sel, sort_by)
    elif sort_exprs:
        df = df.orderBy(*sort_exprs)

    offset = int(body.get("offset") or 0)
    if offset:
        df = df.offset(offset)
    if body.get("limit") is not None:
        df = df.limit(int(body["limit"]))
    return df
