"""Engine — the embedded entry point (the Spark analog of Beacon's
``Database::open`` embedded mode, ``beacon-core/src/embedded.rs``).

    engine = Engine(spark, datasets_root="/data")
    engine.sql("SELECT ... FROM read_parquet('obs/*.parquet')")
    engine.query({"select": [...], "filter": {...}, "from": ...})
    engine.resolve_from({"parquet": {"paths": ["obs/*.parquet"]}})

Both the SQL and the JSON interfaces compile to the same DataFrame plans
(the reference's unified statement pipeline, ``statement_plan/mod.rs:1-13``).
The SQL path is ``spark.sql`` with a thin pre-parser for the dialect
extensions Spark lacks (SUMMARIZE, read_* table functions, try_arrow_cast
with Arrow type names), mirroring how Beacon splits "Beacon statements"
from DataFusion statements (``parser/beacon_parser.rs:33-115``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import logging
import posixpath
import re
import time
import uuid
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from beacon_spark import auth as _auth
from beacon_spark import dsl
from beacon_spark import statements as _statements
from beacon_spark.functions.core import _arrow_name_to_spark, register_functions
from beacon_spark.sources import paths as _paths
from beacon_spark.sources import tabular
from beacon_spark.sources.nd import read_nd

#: every format a ``read_<fmt>(…)`` SQL table function (and its
#: ``read_<fmt>_schema`` twin) names — the one list the SQL rewrite, the
#: embedded client's readers and HTTP /api/table-functions are built from
READ_FORMATS = ("parquet", "csv", "arrow", "netcdf", "hdf5", "zarr", "atlas",
                "tiff", "odv", "odv_ascii", "delta", "iceberg", "geoparquet")
_READ_FN_RE = re.compile(
    r"\bread_(" + "|".join(READ_FORMATS) + r")(_schema)?\s*\("
    # bare 'a', 'b' argument lists AND the reference's bracketed form
    # read_parquet(['a', 'b']) (integration-tests/test_etl_pipeline.py);
    # a trailing option tail — quoted strings, bare ints, or a bracketed
    # list — carries read_csv's (delimiter, infer_records) and the nd
    # readers' dimensions list
    r"\s*(?:\[\s*('[^']*'(?:\s*,\s*'[^']*')*)\s*\]|('[^']*'(?:\s*,\s*'[^']*')*))"
    r"((?:\s*,\s*(?:'[^']*'|\d+|\[\s*'[^']*'(?:\s*,\s*'[^']*')*\s*\]))*)\s*\)",
    re.IGNORECASE,
)
_TRY_ARROW_CAST_RE = re.compile(
    r"\btry_arrow_cast\s*\(", re.IGNORECASE
)
_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.IGNORECASE)

_log = logging.getLogger("beacon_spark.engine")

_ND_FMTS = ("netcdf", "hdf5", "zarr", "tiff", "atlas")
_DEFINES_TEMP_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?TEMP(?:ORARY)?\s+VIEW\b",
    re.IGNORECASE,
)
#: parsed roots besides a query a read-only call may run: none writes
_READ_ONLY_COMMANDS = frozenset({
    "DescribeRelation", "DescribeColumn", "DescribeQueryCommand",
    "ShowTables", "ShowViews", "ShowColumns", "ShowFunctions",
    "ShowTableProperties", "ShowCreateTable", "ExplainCommand",
})
#: parsed command node -> the field holding the query it would run
_QUERY_CHILD = {
    "CreateTableAsSelect": "query",
    "ReplaceTableAsSelect": "query",
    "InsertIntoStatement": "query",
    "CreateViewCommand": "plan",
    "ExplainCommand": "logicalPlan",
    "DescribeQueryCommand": "plan",
}
#: analyzed DESCRIBE/SHOW command -> the field naming the table it reads
_COMMAND_TABLE = {
    "DescribeTableCommand": "table",
    "DescribeColumnCommand": "table",
    "ShowColumnsCommand": "tableName",
    "ShowTablePropertiesCommand": "table",
}
#: the relations a restricted reader may reach outside any view
_LITERAL_RELATIONS = ("LocalRelation", "OneRowRelation")
#: Catalyst comparison with the attribute on the left -> (bounds it from
#: below, bounds it from above); a literal on the left swaps the pair
_ND_BOUNDS = {
    "EqualTo": (True, True),
    "GreaterThan": (True, False),
    "GreaterThanOrEqual": (True, False),
    "LessThan": (False, True),
    "LessThanOrEqual": (False, True),
}
_NUMERIC_TYPES = {"byte", "short", "integer", "long", "float", "double"}


_EXCLUDE_RE = re.compile(
    r"(\*\s+)EXCLUDE\s*(\(([^)]*)\)|(\w+))", re.IGNORECASE
)
# `FROM t WHERE (flag)`: Spark's non-reserved-keyword mode parses this
# as table alias `WHERE` with column list `(flag)` — the WHERE clause
# is SILENTLY swallowed and the query returns unfiltered rows (arity
# permitting; otherwise a baffling ASSIGNMENT_ARITY_MISMATCH). The
# reference's DataFusion dialect filters. Parens around a lone
# identifier never change expression semantics, so dropping them
# (`WHERE flag`) is a safe disambiguation — the alias parse needs the
# paren list. Multi-identifier lists are left alone: `(a, b) IN (…)`
# is a row-value predicate. Found by the DSL↔SQL↔DuckDB differential.
_WHERE_PAREN_IDENT_RE = re.compile(
    r"(?i)\b(WHERE\s*)\(\s*([A-Za-z_]\w*)\s*\)"
)


_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


_DOUBLE_EXACT = 1 << 53


def _bitmap_key(v, dt) -> str | None:
    """DSL eq value → the bitmap index's token string, or None when the
    combination can't be matched exactly (see _pruned_managed_read).

    Two traps this must refuse: (a) strings the DSL coerces into
    timestamp literals (compile_filter then compares cast-to-timestamp,
    not exact strings); (b) integers beyond 2^53, where Spark's
    string-vs-long comparison goes through double and distinct longs
    collide — exact-string posting matches would falsely prune both."""
    if isinstance(dt, T.StringType) and isinstance(v, str):
        from beacon_spark.dsl import _parse_iso_timestamp

        if ("T" in v or " " in v) and _parse_iso_timestamp(v) is not None:
            return None  # DSL renders this as a timestamp literal
        return v
    if isinstance(dt, _INTEGRAL_TYPES):
        if isinstance(v, bool):
            return None
        if isinstance(v, int):
            # python int → long literal: exact long comparison, any size
            return str(v)
        if isinstance(v, str) and re.fullmatch(r"-?[1-9]\d*|0", v):
            # string literal vs long column: Spark compares via DOUBLE,
            # so only double-exact magnitudes match exact-string postings
            return v if abs(int(v)) <= _DOUBLE_EXACT else None
    return None


def _bind_placeholders(statement: str, params: list) -> tuple[str, dict]:
    """Rewrite DataFusion-style positional placeholders ``$1..$n``
    (bound via ``with_param_values``, runtime.rs:107-116) to Spark named
    parameter markers. Non-code text (string literals honoring ``\\``
    escapes and ``''`` doubling, comments, quoted identifiers) is
    located with the ONE shared lexer (server/guard.py), exactly like
    client._qmark_to_dollar — a private quote toggle here would desync
    from the gates on ``'\\''`` and rewrite $n inside literal data."""
    args = {f"__p{i + 1}": v for i, v in enumerate(params)}
    spans = _literal_spans(statement)
    out: list[str] = []
    i, n = 0, len(statement)
    while i < n:
        ch = statement[i]
        if (
            ch == "$"
            and i + 1 < n
            and statement[i + 1].isdigit()
            and not _in_literal(spans, i + 1)
        ):
            j = i + 1
            while j < n and statement[j].isdigit():
                j += 1
            out.append(f":__p{statement[i + 1:j]}")
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out), args


def _literal_spans(statement: str) -> list[tuple[int, int]]:
    """(start, end) spans of NON-CODE text: string literals (single- and
    double-quoted, honoring Spark's ``\\x`` backslash escapes and the SQL
    ``''`` doubling), comments, and backtick identifiers — the ONE
    lexer-accurate scan (server/guard.py) shared with the auth gates, so
    dialect rewrites never fire on text that is merely *quoted* and the
    two layers can never desync on where a literal ends."""
    from beacon_spark.server.guard import sql_noncode_spans

    return sql_noncode_spans(statement)


def _in_literal(spans: list[tuple[int, int]], pos: int) -> bool:
    return any(a < pos < b for a, b in spans)


def _sub_outside_literals(pattern: re.Pattern, repl, statement: str) -> str:
    """``pattern.sub(repl, statement)`` but skipping matches that *start*
    inside a single-quoted string literal."""
    spans = _literal_spans(statement)
    out: list[str] = []
    last = 0
    for m in pattern.finditer(statement):
        if _in_literal(spans, m.start()):
            continue
        out.append(statement[last:m.start()])
        out.append(repl(m) if callable(repl) else m.expand(repl))
        last = m.end()
    out.append(statement[last:])
    return "".join(out)


def _noncode_blanked(s: str) -> str:
    """LENGTH-PRESERVING scrub: every character the shared lexer marks
    as non-code (string literals, comments, backtick identifiers)
    becomes a space. Keyword/paren position scans run on the scrub and
    slice the ORIGINAL text by the same offsets — the ONE lexer decides
    what is code, so these scans can never desync from Spark on
    ``\\'`` escapes or comments the way private quote-toggles did."""
    out = list(s)
    for a, b in _literal_spans(s):
        for i in range(a, min(b, len(s))):
            out[i] = " "
    return "".join(out)


def _top_level_blanked(s: str) -> str:
    """:func:`_noncode_blanked` plus the INTERIOR of every parenthesized
    group → spaces (the parens themselves survive). Scans for TOP-LEVEL
    keywords and commas (ORDER BY / LIMIT / WHERE splits, SET-list
    commas) run here: anything nested — a subquery's LIMIT, a function
    argument's comma — is invisible by construction."""
    out = list(_noncode_blanked(s))
    depth = 0
    for i, ch in enumerate(out):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth > 0 and ch != " ":
            out[i] = " "
    return "".join(out)


def _matching_paren_end(blanked: str, start: int) -> int:
    """``start`` = index just after an opening '(' in ``blanked`` (a
    :func:`_noncode_blanked` scrub, so literal/comment parens are
    already spaces). Returns the index just after the matching ')', or
    -1 when unbalanced."""
    depth, i, n = 1, start, len(blanked)
    while i < n and depth:
        if blanked[i] == "(":
            depth += 1
        elif blanked[i] == ")":
            depth -= 1
        i += 1
    return i if depth == 0 else -1


#: words that terminate a FROM-list (so a table alias is never confused
#: with the next clause keyword)
_SQL_CLAUSE_WORDS = frozenset(
    "on where group order having qualify window limit union intersect except "
    "join inner left right full cross natural anti semi lateral using as "
    "select values tablesample distribute cluster sort offset fetch "
    "pivot unpivot for when then else end and or not asc desc nulls".split()
)

_FROM_JOIN_RE = re.compile(r"\b(from|join)\b", re.IGNORECASE)
_IDENT_RE = re.compile(r"[A-Za-z_][\w.]*")


def _table_position_idents(
    statement: str, spans
) -> list[tuple[str, int, int]] | None:
    """``(identifier, start, end)`` triples in table position (after
    FROM/JOIN, including comma-separated FROM lists), skipping string
    literals, subqueries (their inner FROMs are scanned by the same
    pass) and ``IS [NOT] DISTINCT FROM``. Returns ``None`` when a table
    position holds something this conservative scan can't classify
    (``VALUES``, a table-function call, odd syntax) — callers must
    treat that as "may reference a local table" and fall back. The
    spans let ``_federated_pushdown`` substitute remote names ONLY at
    table positions, never at a column/alias that merely shares the
    name."""
    out: list[tuple[str, int, int]] = []
    n = len(statement)
    for m in _FROM_JOIN_RE.finditer(statement):
        if _in_literal(spans, m.start()):
            continue
        if m.group(1).lower() == "from":
            before = statement[: m.start()].rstrip()
            if re.search(r"\bdistinct$", before, re.IGNORECASE):
                continue  # IS [NOT] DISTINCT FROM — an expression, not a scan
        i = m.end()
        while True:  # one table ref, then any comma-joined siblings
            while i < n and statement[i].isspace():
                i += 1
            if i >= n:
                return None
            if statement[i] == "(":
                # subquery / parenthesized join: inner FROMs are scanned
                # by the same outer pass — but a comma-joined sibling
                # AFTER the closing paren must still be scanned
                depth, j = 0, i
                while j < n:
                    if not _in_literal(spans, j):
                        if statement[j] == "(":
                            depth += 1
                        elif statement[j] == ")":
                            depth -= 1
                            if depth == 0:
                                break
                    j += 1
                if j >= n:
                    return None  # unbalanced — don't guess
                j += 1
                while j < n and statement[j].isspace():
                    j += 1
                am = _IDENT_RE.match(statement, j)
                if am is not None and am.group(0).lower() == "as":
                    j = am.end()
                    while j < n and statement[j].isspace():
                        j += 1
                    am = _IDENT_RE.match(statement, j)
                    if am is None:
                        return None
                    j = am.end()
                elif am is not None and am.group(0).lower() not in _SQL_CLAUSE_WORDS:
                    j = am.end()
                while j < n and statement[j].isspace():
                    j += 1
                if j < n and statement[j] == ",":
                    i = j + 1
                    continue
                break
            im = _IDENT_RE.match(statement, i)
            if im is None:
                return None
            ident = im.group(0)
            if ident.lower() in _SQL_CLAUSE_WORDS or ident.lower() == "values":
                return None  # FROM VALUES …, or syntax we don't model
            i = im.end()
            j = i
            while j < n and statement[j].isspace():
                j += 1
            if j < n and statement[j] == "(":
                return None  # table function in table position — local
            out.append((ident, im.start(), im.end()))
            # optional [AS] alias
            am = _IDENT_RE.match(statement, j)
            if am is not None and am.group(0).lower() == "as":
                j = am.end()
                while j < n and statement[j].isspace():
                    j += 1
                am = _IDENT_RE.match(statement, j)
                if am is None:
                    return None
                j = am.end()
            elif am is not None and am.group(0).lower() not in _SQL_CLAUSE_WORDS:
                j = am.end()
            while j < n and statement[j].isspace():
                j += 1
            if j < n and statement[j] == ",":
                i = j + 1
                continue
            break
    return out


def _extract_star_replace(statement: str) -> tuple[str, list[tuple[str, str]]]:
    """``SELECT * REPLACE (expr AS col, ...)`` (DataFusion star options,
    docs/.../sql/index.md:46-48): strip the REPLACE clause and return the
    replacement list, applied post-projection via ``withColumn`` (which
    keeps each replaced column's position, matching DataFusion)."""
    m = re.match(
        r"(?is)^(\s*SELECT\s+(?:\w+\.)?\*(?:\s+EXCEPT\s*\([^)]*\))?\s+)REPLACE\s*\(",
        statement,
    )
    if not m:
        return statement, []
    # find the matching close paren on the shared-lexer scrub (a ')'
    # inside a replacement expression's string literal must not end
    # the REPLACE list early)
    blanked = _noncode_blanked(statement)
    i = _matching_paren_end(blanked, m.end())
    if i < 0:
        return statement, []
    inner = statement[m.end():i - 1]
    replaces: list[tuple[str, str]] = []
    for item in _split_top_level(inner):
        im = re.match(r"(?is)^(.*?)\s+AS\s+(\w+)\s*$", item)
        if not im:
            raise ValueError(f"bad REPLACE item (want 'expr AS col'): {item!r}")
        replaces.append((im.group(1).strip(), im.group(2)))
    return m.group(1) + statement[i:], replaces
def _split_order_limit(statement: str) -> tuple[str, str | None, str | None, str | None]:
    """Peel a TOP-LEVEL trailing ``ORDER BY … [LIMIT n] [OFFSET n]`` off a
    statement. Positions come from the :func:`_top_level_blanked` scrub
    (shared lexer + paren interiors blanked), so subquery ORDER BYs,
    literals containing ``order by``/``LIMIT``, comments, and backslash
    escapes can never mislead the split; extraction slices the original
    text by the scrub's offsets. Returns (core, order_clause, limit,
    offset)."""
    s = statement.rstrip().rstrip(";")
    blanked = _top_level_blanked(s)
    order_at = -1
    for m in re.finditer(r"\border\s+by\b", blanked, re.IGNORECASE):
        order_at = m.start()
    if order_at < 0:
        return statement, None, None, None
    m = re.match(
        r"(?is)^ORDER\s+BY\s+(.*?)(?:\s+LIMIT\s+(\d+))?(?:\s+OFFSET\s+(\d+))?\s*$",
        blanked[order_at:],
    )
    if not m:
        return statement, None, None, None
    a, b = m.span(1)
    order_clause = s[order_at + a:order_at + b].strip()
    return s[:order_at].rstrip(), order_clause, m.group(2), m.group(3)


def _order_columns(order_clause: str):
    """'a DESC, b, c ASC NULLS LAST' → Column sort expressions."""
    from pyspark.sql import functions as F

    cols = []
    for item in _split_top_level(order_clause):
        m = re.match(
            r"(?is)^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$", item
        )
        expr_s, direction, nulls = m.group(1).strip(), m.group(2), m.group(3)
        c = F.expr(expr_s)
        desc = direction is not None and direction.upper() == "DESC"
        if nulls is None:
            c = c.desc() if desc else c.asc()
        elif nulls.upper() == "FIRST":
            c = c.desc_nulls_first() if desc else c.asc_nulls_first()
        else:
            c = c.desc_nulls_last() if desc else c.asc_nulls_last()
        cols.append(c)
    return cols


def _split_top_level(s: str) -> list[str]:
    """Split on TOP-LEVEL commas (UPDATE SET lists, macro/secret
    argument lists): commas inside parens, string literals, comments,
    or backtick identifiers never split — positions come from the
    :func:`_top_level_blanked` scrub of the shared lexer, so a
    ``\\'``-escaped quote can't desync the split the way the old
    private quote-toggle could."""
    blanked = _top_level_blanked(s)
    parts, last = [], 0
    for i, ch in enumerate(blanked):
        if ch == ",":
            parts.append(s[last:i])
            last = i + 1
    parts.append(s[last:])
    return [p for p in (p.strip() for p in parts) if p]


class _NdCall(NamedTuple):
    """One SQL nd table-function call: the reserved view name standing
    in for it in the statement, and (once bound) its placeholder's
    schema and RDD id."""

    name: str
    fmt: str
    globs: tuple
    dims: list | None
    schema: T.StructType | None = None
    rdd_id: int | None = None


def _jseq(seq) -> list:
    """A Scala Seq over py4j as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def explain_analyze(df: DataFrame) -> str:
    """EXPLAIN ANALYZE of ``df`` (runtime.rs:444-509): execute the
    DataFrame's OWN physical plan, then render the final (post-AQE) plan
    one node per line with the SQL metrics the run filled in, walking
    into every query stage AQE ran. (Any other action — ``count()`` —
    executes a different plan and leaves this one unexecuted:
    ``isFinalPlan=false`` and no metric values.)"""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    lines: list[str] = []

    def walk(node, depth: int) -> None:
        metrics = sorted(f"{kv._1()}={kv._2().value()}"
                         for kv in _jseq(node.metrics().toSeq()))
        head = node.simpleString(25).splitlines()[0]
        lines.append("  " * depth + head
                     + (f"  [{', '.join(metrics)}]" if metrics else ""))
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif kind.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            kids = _jseq(node.children())
        for kid in kids:
            walk(kid, depth + 1)

    walk(qe.executedPlan(), 0)
    return "\n".join(lines)


def _with_dot_prefixes(names) -> list[str]:
    """Column names -> the nd variables that produce them: every dotted
    prefix joins the set ("temperature.units" needs variable
    "temperature"; a tiff's "geo.lat" is itself a variable)."""
    out = set(names)
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts)))
    return sorted(out)


def _filter_ranges(cond, attrs: dict, ranges: dict) -> None:
    """Tighten ``ranges`` (column -> (lo, hi)) by a Filter condition over
    one placeholder's attributes (``attrs``: exprId -> column name). Only
    AND-ed attribute-vs-numeric-literal comparisons count, in either
    orientation; strict bounds widen to inclusive hulls. Everything else
    (``isnotnull``, ORs, casts, NaN) is skipped: Spark re-applies the
    whole WHERE, so a range can only shrink what is read."""
    todo = [cond]
    while todo:
        e = todo.pop()
        kind = e.nodeName()
        if kind == "And":
            todo += [e.left(), e.right()]
            continue
        if kind not in _ND_BOUNDS:
            continue
        lower, upper = _ND_BOUNDS[kind]
        attr, lit = e.left(), e.right()
        if attr.nodeName() == "Literal":
            attr, lit, lower, upper = lit, attr, upper, lower
        if attr.nodeName() != "AttributeReference" or lit.nodeName() != "Literal":
            continue
        name = attrs.get(attr.exprId().id())
        if name is None or lit.dataType().typeName() not in _NUMERIC_TYPES:
            continue
        v = lit.value()
        if v is None or v != v:
            continue
        lo, hi = ranges.get(name, (None, None))
        if lower:
            lo = float(v) if lo is None else max(lo, float(v))
        if upper:
            hi = float(v) if hi is None else min(hi, float(v))
        ranges[name] = (lo, hi)


def _nd_pushdown(plan, nd_calls) -> dict:
    """Walk an optimized plan for each nd placeholder instance ->
    ``{placeholder: (ranges, columns)}``, read off the Filter and Project
    nodes stacked directly above the instance.

    ``ranges`` are the Filters' numeric bounds (:func:`_filter_ranges`).
    ``columns`` are the attributes those Filters and the first Project
    reference, widened to their variables. That Project is the one
    Catalyst's column pruning puts above a relation that outputs more
    than its consumers need; the references of nodes further up could
    under-count, since a Union consumes its children's columns by
    position without referencing them. ``columns`` is None (every
    variable) when no Project sits there (``SELECT *``), when it keeps
    everything, or when nothing is referenced (``count(1)``: a flatten
    of no variables would carry no rows).

    A placeholder used twice (a CTE joined to itself) reads the union:
    ranges only on keys every instance bounds, as the hull of the
    instances' ranges."""
    by_rdd = {c.rdd_id: c for c in nd_calls}
    found: dict[str, list] = {}
    # (node, the Filter/Project nodes stacked directly above it, nearest first)
    todo = [(plan, [])]
    while todo:
        node, above = todo.pop()
        kind = node.nodeName()
        call = by_rdd.get(node.rdd().id()) if kind == "LogicalRDD" else None
        if call is not None:
            attrs = {a.exprId().id(): a.name() for a in _jseq(node.output())}
            ranges: dict = {}
            used: set | None = None
            refs: set = set()
            for op in above:
                refs.update(a.exprId().id()
                            for a in _jseq(op.references().toSeq()))
                if op.nodeName() == "Filter":
                    _filter_ranges(op.condition(), attrs, ranges)
                else:
                    used = {n for i, n in attrs.items() if i in refs}
                    break
            found.setdefault(call.name, []).append((ranges, used))
            continue
        chain = [node] + above if kind in ("Filter", "Project") else []
        todo += [(c, chain) for c in _jseq(node.children())]
        todo += [(q, []) for q in _jseq(node.subqueries())]
    out = {}
    for call in nd_calls:
        insts = found.get(call.name)
        if not insts:
            continue
        ranges = {}
        for key in set.intersection(*(set(r) for r, _ in insts)):
            los = [r[key][0] for r, _ in insts]
            his = [r[key][1] for r, _ in insts]
            ranges[key] = (None if None in los else min(los),
                           None if None in his else max(his))
        columns = None
        if all(used for _, used in insts):
            names = set().union(*(used for _, used in insts))
            if len(names) < len(call.schema):
                columns = _with_dot_prefixes(names)
        out[call.name] = (ranges or None, columns)
    return out


class Run:
    """One statement's execution under every surface (HTTP, Flight,
    FlightSQL, MCP, the embedded client) — the reference's single
    ``Runtime::run_query`` path (runtime.rs:94-155). Built by
    :meth:`Engine.run` or around a DataFrame compiled earlier; each
    terminal (:meth:`batches`, :meth:`rows`, :meth:`write`) executes
    once under ``limits`` (server/limits.py) and, on completion, records
    one ``beacon.system.query_metrics`` row. A failed run records none."""

    def __init__(self, engine, df: DataFrame, text: str,
                 user: str | None = None, limits=None):
        self.engine = engine
        self.df = df
        self.text = text
        self.user = user
        self.limits = limits
        self.query_id = str(uuid.uuid4())
        self._t0 = time.perf_counter()

    @functools.cached_property
    def schema(self):
        """The Arrow schema of every batch (the plan does not run)."""
        from beacon_spark.outputs import arrow_schema_of

        return arrow_schema_of(self.df)

    def _guard(self):
        return (contextlib.nullcontext() if self.limits is None
                else self.limits.time_guard(self.df.sparkSession))

    def _record(self, rows: int | None) -> None:
        try:
            plan = self.df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # the row still records, plan-less
            _log.warning("query %s: no plan for node_metrics: %r",
                         self.query_id, exc)
            plan = None
        self.engine.record_query_metrics(
            query_id=self.query_id, query=self.text, username=self.user,
            result_num_rows=rows,
            execution_time_ms=int((time.perf_counter() - self._t0) * 1000),
            node_metrics=plan,
        )

    def batches(self, max_chunksize: int = 1 << 15):
        """Capped Arrow batches of :attr:`schema`, spooled one at a time
        (``outputs.iter_arrow_batches``); a zero-row result ends with an
        empty batch. Records when the batches run out."""
        import pyarrow as pa

        from beacon_spark import outputs

        schema, rows = self.schema, 0
        with self._guard():
            batches = outputs.iter_arrow_batches(self.df, max_chunksize)
            if self.limits is not None:
                batches = self.limits.guard_batches(batches)
            for b in batches:
                rows += b.num_rows
                yield b if b.schema == schema else b.cast(schema)
            if not rows:
                yield pa.RecordBatch.from_pylist([], schema=schema)
        self._record(rows)

    def rows(self) -> list:
        """The result rows: capped row dicts under ``limits``
        (``QueryLimits.collect_rows``), Spark ``Row`` tuples without."""
        rows = (self.df.collect() if self.limits is None
                else self.limits.collect_rows(self.df))
        self._record(len(rows))
        return rows

    def write(self, fmt: str, path: str, **options) -> None:
        """The result as a file (``outputs.write_output``)."""
        from beacon_spark import outputs

        with self._guard():
            rows = outputs.write_output(self.df, fmt, path, **options)
        self._record(rows)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        datasets_root: str | None = None,
        default_table: str | None = None,
    ):
        self.spark = spark
        self.datasets_root = datasets_root
        self.default_table = default_table
        register_functions(spark)
        import threading as _threading

        self.catalog = None
        self._session_secrets: dict[str, dict] = {}
        self._metrics = None
        self._reg_lock = _threading.RLock()
        #: time-travel snapshot view -> the managed table it pins
        self._pins: dict[str, str] = {}
        #: managed tables changed through this engine since registration
        self._dirty_tables: set[str] = set()
        if datasets_root is not None:
            from beacon_spark.managed import Catalog

            self.catalog = Catalog(spark, datasets_root)

    @property
    def metrics(self):
        """Per-query metrics persistence (``beacon.system.query_metrics``,
        the reference's query_metrics_store.rs). Lazy — an engine with no
        catalog root records nothing."""
        if self._metrics is None:
            if self.catalog is None:
                raise ValueError("query metrics need a datasets_root")
            from beacon_spark.system_tables import QueryMetricsStore

            self._metrics = QueryMetricsStore(self)
        return self._metrics

    def record_query_metrics(self, **kw) -> None:
        """Best-effort hook for :meth:`Run._record`: engines without a
        catalog record nothing, and a broken store is reported at
        WARNING — it must never fail the query it is recording."""
        if self.catalog is None:
            return
        try:
            self.metrics.record(**kw)
        except Exception as exc:
            _log.warning("query-metrics record failed for %s: %s: %s",
                         kw.get("query_id"), type(exc).__name__, exc,
                         exc_info=True)

    def run(self, statement: str | dict, *, params=None,
            user: str | None = None, limits=None,
            read_only: bool = False) -> Run:
        """Compile SQL text (:meth:`sql`) or a JSON-DSL body
        (:meth:`query`) into a :class:`Run` for a surface to drain.
        DDL/DML execute here; their status frame is the result."""
        if isinstance(statement, str):
            df = self.sql(statement, params=params, user=user,
                          read_only=read_only)
            return Run(self, df, statement, user, limits)
        if params is not None:
            raise ValueError("params bind SQL placeholders, not a DSL body")
        df = self.query(statement, user=user, read_only=read_only)
        return Run(self, df, json.dumps(statement, default=str), user, limits)

    def table_names(self) -> list[str]:
        """All catalog-addressable table names (managed + external +
        views + MVs), sorted — the enumeration every server transport
        serves (Flight list_tables, HTTP /api/tables, MCP)."""
        if self.catalog is None:
            return []
        cat = self.catalog._load()
        return sorted(
            list(cat.get("tables", {}))
            + list(cat.get("external_tables", {}))
            + list(cat.get("views", {}))
            + list(cat.get("materialized_views", {}))
        )

    def list_datasets(self, gate=None) -> DataFrame:
        """Every file under the datasets root + detected format
        (beacon-functions/src/file_formats/list_datasets.rs); with a
        restricted caller's ``gate``, only the files it may read."""
        if self.datasets_root is None:
            raise ValueError("Engine has no datasets_root configured")
        rows = _paths.list_datasets(self.datasets_root)
        if gate is not None:
            rows = [r for r in rows if gate.allows_path(r[0])]
        return self.spark.createDataFrame(
            rows,
            T.StructType(
                [
                    T.StructField("dataset", T.StringType(), False),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
        )

    # ------------------------------------------------------------ sql

    def sql(self, statement: str, params: list | dict | None = None,
            user: str | None = None, read_only: bool = False) -> DataFrame:
        """Spark SQL with the dialect extensions pre-compiled away.

        - dialect, auth and utility statements (SUMMARIZE, COPY, …) →
          their row in :data:`beacon_spark.statements.ROWS`
        - ``read_parquet('glob')`` etc. (and their ``read_*_schema``
          twins) in FROM → per-statement temp views over
          ``resolve_from``, dropped once the statement is analyzed
        - ``try_arrow_cast(e, 'Int32')`` → ``try_cast`` with Spark type names
        - ``params``: positional values bound to ``$1..$n`` placeholders
          (runtime.rs:107-116) or a dict for ``:name`` markers
        - ``SELECT * EXCLUDE (...)`` / ``* REPLACE (expr AS col)`` star
          options rewritten onto Spark's ``* EXCEPT`` / ``withColumn``
        - ``user``: caller identity for RBAC (auth.py). ``None`` = the
          embedded super-user (the reference's default identity); a
          named non-super user is read-only and, with enforcement on,
          gated to its roles' SELECT grants (deny-wins, default-deny —
          authz.rs:25-41, mod.rs:58-78), checked where each read
          resolves (``resolve_from``, :meth:`_authorize_plan`)
        - ``read_only``: refuse (``auth.WriteRefused``) anything but a
          query, DESCRIBE/SHOW/EXPLAIN or listing dialect statement,
          decided from Spark's parse (:meth:`_read_only_plan`)
        """
        gate = (_auth.read_gate(self, user)
                if self.catalog is not None else None)
        # the refusal a non-read-only statement gets; None = may write
        deny = (_auth.READ_ONLY if read_only
                else _auth.SUPER_ONLY if gate is not None else None)
        done = _statements.run(self, statement, gate, deny,
                               _statements.Call(params, user, read_only))
        if done is not None:
            return done
        if self.catalog is not None:
            self._register_catalog()

        # a restricted reader's grants name remote tables one by one, so
        # its statement is never pushed whole
        statement = self._resolve_remote(
            statement, whole=params is None and gate is None, deny=deny)
        statement = self._rewrite_system_tables(statement, gate)
        statement = self._rewrite_information_schema(statement, gate)
        statement = self._rewrite_time_travel(statement)
        # a SQL temp view stores its text and resolves the views it names
        # on every use, so the read views such a statement binds must
        # outlive it; every other statement's analyzed plan holds its scans
        keep_views = _DEFINES_TEMP_VIEW_RE.match(statement)
        nd_calls: list[_NdCall] = []
        views: list[str] = []
        # the metadata views this statement binds: engine facts, not reads
        meta_views: list[str] = []
        df = None
        try:
            statement = self._rewrite_read_fns(statement, nd_calls, views, user)
            statement = self._rewrite_metadata_fns(statement, meta_views, gate)
            statement = self._rewrite_try_arrow_cast(statement)
            statement = self._rewrite_macros(statement)
            statement = self._rewrite_extract_fields(statement)
            statement = self._rewrite_numeric_trunc(statement)
            statement = self._rewrite_qualify(statement)
            # Explicit spaces in the replacement: `WHERE(flag)` (no space —
            # \s* matches empty) must become `WHERE flag`, not the fused
            # token `WHEREflag` (an alias parse again); and `WHERE (a)IN(…)`
            # must become `WHERE a IN(…)`, not `WHERE aIN(…)`.
            statement = _sub_outside_literals(
                _WHERE_PAREN_IDENT_RE,
                lambda m: f"{m.group(1).rstrip()} {m.group(2)} ",
                statement,
            )
            statement = _sub_outside_literals(
                _EXCLUDE_RE,
                lambda m: f"{m.group(1)}EXCEPT ({m.group(3) or m.group(4)})",
                statement,
            )
            statement, replaces = _extract_star_replace(statement)
            order_clause = limit_clause = offset_clause = None
            if replaces:
                # ORDER BY must resolve to the REPLACED output column
                # (DataFusion/DuckDB semantics), so the trailing ORDER BY /
                # LIMIT / OFFSET are peeled off, replacements applied
                # position-preserving, then ordering applied on the output.
                statement, order_clause, limit_clause, offset_clause = (
                    _split_order_limit(statement))
            args: dict | None = None
            if isinstance(params, dict):
                args = params
            elif params is not None:
                statement, args = _bind_placeholders(statement, params)
            # one parse: a read-only call's is checked, and the plan
            # checks and the DataFrame reuse it
            plan = None if deny is None else self._read_only_plan(
                statement, deny, gate,
                {*views, *meta_views, *(c.name for c in nd_calls)})
            if nd_calls:
                statement = self._bind_nd_views(
                    statement, args, nd_calls, views, gate, meta_views, plan)
                plan = None  # the statement now names the pruned views
            elif gate is not None:
                qe, whole = self._authorize_plan(
                    statement, args, gate, views + meta_views, plan)
                if whole:  # reuse the analysis the check made
                    df = self._dataframe(qe.analyzed())
            if df is None:
                if plan is None:
                    plan = self._jvm_sql.parser.parsePlan(statement)
                df = self._dataframe(self._bind_args(plan, args))
        finally:
            # a refused or failed statement keeps none of its read views
            if not (keep_views and df is not None):
                for view in views:
                    self.spark.catalog.dropTempView(view)
        if replaces:
            from pyspark.sql import functions as F

            have = {c.lower() for c in df.columns}
            for expr_s, name in replaces:
                # REPLACE is a binder-checked rewrite of an EXISTING
                # output column (DataFusion/DuckDB error on an unknown
                # name); withColumn would silently APPEND a new column
                if name.lower() not in have:
                    raise ValueError(
                        f"* REPLACE: column {name!r} is not in the "
                        f"result (have: {sorted(df.columns)})"
                    )
                df = df.withColumn(name, F.expr(expr_s))
            if order_clause:
                df = df.orderBy(*_order_columns(order_clause))
            if offset_clause is not None:
                df = df.offset(int(offset_clause))
            if limit_clause is not None:
                df = df.limit(int(limit_clause))
        return df

    _VERSION_AS_OF_RE = re.compile(
        r"\b(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)\b", re.IGNORECASE
    )
    _TIMESTAMP_AS_OF_RE = re.compile(
        r"\b(\w+)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'", re.IGNORECASE
    )

    # (?<![\w.]) so a qualified reference like myattach.system.tbl is
    # not mistaken for the metadata schema
    _SYSTEM_TBL_RE = re.compile(
        r"(?<![\w.])(?:beacon\s*\.\s*)?system\s*\.\s*(\w+)\b", re.IGNORECASE
    )


    @property
    def _view_tag(self) -> str:
        """Short per-root tag appended to engine-scoped temp-view names:
        temp views are SESSION-global, so two engines with different
        roots on one SparkSession must not share a name (the same race
        the read_* rewrite closes by hashing the root)."""
        return f"{abs(hash(self.datasets_root)) % 10**8}"

    def _rewrite_system_tables(self, statement: str, gate=None) -> str:
        """``beacon.system.<t>`` / ``system.<t>`` → a temp view refreshed
        at reference time (system_schema/mod.rs:44-66: users, roles,
        file_stats, query_metrics). Super-user-only: a restricted
        caller (``gate``) is refused before any view is built, whatever
        the enforcement, like the reference's is_metadata_schema
        (mod.rs:50-66)."""
        if self.catalog is None or "system" not in statement.lower():
            return statement
        from beacon_spark.system_tables import SYSTEM_TABLES

        names: list[str] = []

        def sub(m: re.Match) -> str:
            if gate is not None:
                raise _auth.AuthError(_auth.METADATA_SCHEMAS)
            name = m.group(1).lower()
            if name not in SYSTEM_TABLES:
                raise ValueError(
                    f"unknown system table {name!r}; available: "
                    + ", ".join(sorted(SYSTEM_TABLES))
                )
            names.append(name)
            return f"__beacon_system_{name}_{self._view_tag}"

        out = _sub_outside_literals(self._SYSTEM_TBL_RE, sub, statement)
        for name in names:
            SYSTEM_TABLES[name](self).createOrReplaceTempView(
                f"__beacon_system_{name}_{self._view_tag}"
            )
        return out

    _INFO_SCHEMA_RE = re.compile(
        r"\binformation_schema\s*\.\s*(tables|columns)\b", re.IGNORECASE
    )

    def _rewrite_information_schema(self, statement: str, gate=None) -> str:
        """``information_schema.tables`` / ``.columns`` → temp views
        snapshotted at reference time — the reference engine exposes
        DataFusion's information_schema and its Python dialect reflects
        through it (beacon-db-py/sqlalchemy.py:143-193). Spark has no
        session information_schema, so the views are built from the
        catalog: every managed/external table and (materialized) view,
        schema 'public' / catalog 'beacon' like the reference's
        defaults. Super-user-only, as beacon.system.*: a restricted
        caller (``gate``) is refused before any view is built."""
        if self.catalog is None or "information_schema" not in statement.lower():
            return statement
        spans = _literal_spans(statement)
        wanted = {
            m.group(1).lower()
            for m in self._INFO_SCHEMA_RE.finditer(statement)
            if not _in_literal(spans, m.start())
        }
        if not wanted:
            return statement
        if gate is not None:
            raise _auth.AuthError(_auth.METADATA_SCHEMAS)
        self._register_catalog()
        cat = self.catalog._load()
        entries = (
            [(n, "BASE TABLE") for n in cat["tables"]]
            + [(n, "BASE TABLE") for n in cat["external_tables"]]
            + [(n, "VIEW") for n in cat["views"]]
            + [(n, "VIEW") for n in cat["materialized_views"]]
        )
        if "tables" in wanted:
            self.spark.createDataFrame(
                [("beacon", "public", n, t) for n, t in sorted(entries)],
                "table_catalog string, table_schema string, "
                "table_name string, table_type string",
            ).createOrReplaceTempView("__beacon_infoschema_tables")
        if "columns" in wanted:
            rows = []
            for n, _t in sorted(entries):
                try:
                    fields = self.spark.table(n).schema.fields
                except Exception:
                    continue  # e.g. an external table whose lib is absent
                rows.extend(
                    ("beacon", "public", n, f.name, i + 1,
                     f.dataType.simpleString(),
                     "YES" if f.nullable else "NO")
                    for i, f in enumerate(fields)
                )
            self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, "
                "table_name string, column_name string, "
                "ordinal_position int, data_type string, "
                "is_nullable string",
            ).createOrReplaceTempView("__beacon_infoschema_columns")
        return _sub_outside_literals(
            self._INFO_SCHEMA_RE,
            lambda m: f"__beacon_infoschema_{m.group(1).lower()}",
            statement,
        )

    def _rewrite_time_travel(self, statement: str) -> str:
        """``FROM <managed_table> VERSION AS OF <n>`` (and ``TIMESTAMP
        AS OF '<ts>'``) → a snapshot temp view pinned to that manifest.

        The reference's managed tables are versioned Lance datasets
        (actions.rs:509-795 operate on dataset versions); ours keep
        every committed COW manifest until VACUUM (managed.py), so any
        still-retained version is readable. Delta-style spelling, same
        as our ``read_delta`` time travel. TIMESTAMP AS OF resolves to
        the newest manifest committed at-or-before the timestamp
        (manifest mtime — Delta uses the log entry's timestamp the same
        way). Non-managed names pass through untouched (Spark reports
        them)."""
        low = statement.lower()
        if self.catalog is None or (
            "version" not in low and "timestamp" not in low
        ):
            return statement
        tables = self.catalog._load()["tables"]

        def _pin(name: str, ver: int) -> str:
            from beacon_spark.managed import ManagedTable

            view = f"{name}__v{ver}_{self._view_tag}"
            ManagedTable(self.spark, tables[name]).read(
                version=ver
            ).createOrReplaceTempView(view)
            self._pins[view] = name
            return view

        def repl_version(m: re.Match) -> str:
            name = m.group(1)
            if name not in tables:
                return m.group(0)
            return _pin(name, int(m.group(2)))

        def repl_timestamp(m: re.Match) -> str:
            name, ts_text = m.group(1), m.group(2)
            if name not in tables:
                return m.group(0)
            import datetime as _dt

            from beacon_spark.managed import ManagedTable
            from beacon_spark.sources import bytesource as bs

            ts = _dt.datetime.fromisoformat(ts_text)
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            t = ManagedTable(self.spark, tables[name])
            best = None
            for ver, committed in t.versions():
                if committed <= ts.timestamp():
                    best = ver
            if best is None:
                raise ValueError(
                    f"no version of {name!r} existed at {ts_text!r} "
                    "(earliest retained commit is later)"
                )
            return _pin(name, best)

        statement = _sub_outside_literals(
            self._VERSION_AS_OF_RE, repl_version, statement
        )
        return _sub_outside_literals(
            self._TIMESTAMP_AS_OF_RE, repl_timestamp, statement
        )

    def _rewrite_metadata_fns(self, statement: str, views: list,
                              gate=None) -> str:
        """Metadata table functions → temp views:
        ``list_datasets()`` (file_formats/list_datasets.rs),
        ``view_statistics_cache()`` / bare ``view_dataset_statistics()``
        (the whole index), ``view_dataset_statistics('<path>')``
        (per-column stats of one file, computed on demand when
        uncached) and ``view_external_table_statistics('<table>')``
        (cache coverage per file) — beacon-functions/src/metadata/* and
        table-functions-utility.md:52-117. A restricted caller's
        ``gate`` checks a path or table argument before anything is
        computed, and keeps only the whole-index rows of the files it
        may read. Each view's name is appended to ``views``."""

        def repl(m: re.Match) -> str:
            fn, arg = m.group(1).lower(), m.group(2)
            if fn == "list_datasets":
                df = self.list_datasets(gate)
            elif fn == "view_external_table_statistics":
                from beacon_spark.stats import external_table_statistics_df

                if arg is None:
                    raise ValueError(
                        "view_external_table_statistics takes a table name")
                if gate is not None:
                    gate.table(arg)
                df = external_table_statistics_df(self.spark, self, arg)
            elif fn == "view_dataset_statistics" and arg is not None:
                from beacon_spark.stats import dataset_statistics_df

                if gate is not None:
                    gate.path(arg)
                df = dataset_statistics_df(self.spark, self, arg)
            else:
                df = self.view_statistics(gate)
            name = f"__beacon_meta_{fn}_{self._view_tag}" + (
                f"_{abs(hash(arg)) % 10**8}" if arg else "")
            df.createOrReplaceTempView(name)
            views.append(name)
            return name

        return _sub_outside_literals(
            re.compile(
                r"\b(list_datasets|view_statistics_cache"
                r"|view_dataset_statistics|view_external_table_statistics)"
                r"\s*\(\s*(?:'([^']*)')?\s*\)",
                re.IGNORECASE,
            ),
            repl,
            statement,
        )

    # ------------------------------------------------------------ ddl/dml

    def _status(self, **cols) -> DataFrame:
        names = list(cols)
        return self.spark.createDataFrame(
            [tuple(cols[k] for k in names)],
            T.StructType([T.StructField(k, T.StringType()) for k in names]),
        )

    def _register_catalog(self) -> None:
        """Expose managed tables / views / MVs as temp views so plain
        ``spark.sql`` references resolve — the reference resolves catalog
        objects at plan time (``table_ext.rs:517-631``). Cached on a catalog
        change token; DML bumps table versions, so stale pins re-register.

        Thread-safe: concurrent requests (the threaded HTTP server) WAIT
        on the lock while one registers, then see the fresh signature
        and return — the reentrancy flag alone would let them skip ahead
        and resolve against missing views. The flag (checked under the
        RLock, so only the owning thread can observe it True) still
        short-circuits the recursive ``self.sql`` calls registration
        itself makes for views."""
        with self._reg_lock:
            self._register_catalog_locked()

    def _register_catalog_locked(self) -> None:
        if getattr(self, "_registering", False):
            return
        from beacon_spark.managed import ManagedTable

        # a failed/structural statement explicitly demanded the FULL
        # pass (_force_full): the dirty fast path must not adopt a later
        # successful DML's _noted_sig over that demand, or a partially-
        # mutated table that never entered the dirty set keeps serving a
        # stale pinned file list (ADVICE r7). Cleared only when the full
        # pass below actually completes.
        force_full = getattr(self, "_force_full", False)
        dirty = self._dirty_tables
        if dirty:
            # manifest-only DML through THIS engine: refresh just the
            # mutated tables/MVs (plus a cheap re-plan of plain views,
            # which may pin pre-mutation file lists) — never the
            # O(tables) full pass
            self._registering = True
            try:
                c = self.catalog._load()
                snapshot = sorted(dirty)
                for name in snapshot:
                    if name in c["tables"]:
                        ManagedTable(self.spark, c["tables"][name]).read() \
                            .createOrReplaceTempView(name)
                    elif name in c["materialized_views"]:
                        ManagedTable(
                            self.spark, c["materialized_views"][name]["path"]
                        ).read().createOrReplaceTempView(name)
                # only what we registered: a concurrent DML's mark between
                # the snapshot and here must survive for the next pass
                dirty.difference_update(snapshot)
                for vname, view_sql in c["views"].items():
                    self.sql(view_sql).createOrReplaceTempView(vname)
                # adopt only OUR OWN note's post-write signature — the
                # current live signature may already include a concurrent
                # writer's change, and adopting it here would silently
                # swallow that change (the check below must still see a
                # mismatch and run the full pass for it). Never adopt
                # over a pending force-full demand.
                if not force_full:
                    self._cat_sig = getattr(self, "_noted_sig", None)
            finally:
                self._registering = False
        sig = self.catalog.signature()
        if sig is None or (not force_full
                           and sig == getattr(self, "_cat_sig", object())):
            return

        self._registering = True
        try:
            cat = self.catalog._load()
            for name, path in cat["tables"].items():
                ManagedTable(self.spark, path).read().createOrReplaceTempView(name)
            remote_ext: dict[str, tuple] = {}
            for name, ext in cat["external_tables"].items():
                try:
                    spec = self._ext_spec(ext, cat)
                    if ext["format"] == "remote":
                        # registry for the federation pushdown: a join
                        # of same-endpoint STORED AS REMOTE tables ships
                        # whole (token decrypted by _ext_spec)
                        opts = spec["remote"]["options"]
                        remote_ext[name] = (
                            ext["paths"][0],
                            opts.get("token") or opts.get("password")
                            or None,
                            str(opts.get("tls", "")).lower() == "true",
                        )
                    self.resolve_from(spec).createOrReplaceTempView(name)
                except Exception as e:
                    # fail-open: a missing optional reader lib (netcdf/zarr)
                    # must not break unrelated statements — but say so
                    _log.warning("register_catalog: external table %r not "
                                 "registered: %r", name, e)
            self._remote_ext = remote_ext
            for name, mv in cat["materialized_views"].items():
                ManagedTable(self.spark, mv["path"]).read().createOrReplaceTempView(name)
            for name, view_sql in cat["views"].items():
                # plain views stay logical: re-planned at registration
                self.sql(view_sql).createOrReplaceTempView(name)
            for aname, aroot in cat.get("attachments", {}).items():
                if isinstance(aroot, dict):
                    # remote attachment: reconnect lazily (no data fetched
                    # here — table views materialize on first reference)
                    self._remotes = getattr(self, "_remotes", {})
                    if aname not in self._remotes:
                        try:
                            from beacon_spark.server.remote import RemoteBeacon

                            # token via the secret store (token_secret
                            # reference); plain "token" accepted for
                            # catalogs written before that change
                            token = aroot.get("token")
                            sname = aroot.get("token_secret")
                            if sname:
                                from beacon_spark.secretbox import (
                                    default_box,
                                )

                                sec = cat.get("secrets", {}).get(sname, {})
                                raw = sec.get("options", {}).get("token")
                                if raw:
                                    token = default_box().decrypt(raw)
                            self._remotes[aname] = RemoteBeacon(
                                aroot["url"],
                                token=token,
                                tls=aroot.get("tls", False),
                            )
                        except Exception as e:
                            _log.warning("register_catalog: remote attachment "
                                         "%r not connected: %r", aname, e)
                    continue
                try:
                    sub = Engine(self.spark, datasets_root=aroot)
                    subcat = sub.catalog._load()
                    from beacon_spark.managed import ManagedTable as _MT

                    for t, p in subcat["tables"].items():
                        _MT(self.spark, p).read().createOrReplaceTempView(f"{aname}_{t}")
                    for t, mv in subcat["materialized_views"].items():
                        _MT(self.spark, mv["path"]).read().createOrReplaceTempView(
                            f"{aname}_{t}"
                        )
                    for t, ext in subcat["external_tables"].items():
                        sub.resolve_from(
                            sub._ext_spec(ext, subcat)
                        ).createOrReplaceTempView(f"{aname}_{t}")
                except Exception as e:
                    _log.warning("register_catalog: attachment %r not "
                                 "registered: %r", aname, e)
            from beacon_spark.secretbox import default_box

            for s in cat.get("secrets", {}).values():
                box = default_box()
                self._apply_secret(
                    s,
                    {
                        k: box.decrypt(v)
                        for k, v in s.get("options", {}).items()
                    },
                )
            self._cat_sig = sig
            self._force_full = False  # the demanded full pass ran
        finally:
            self._registering = False

    @staticmethod
    def _ext_spec(ext: dict, cat: dict) -> dict:
        """The from-spec of one catalog external table: its paths, its
        OPTIONS and the password from its encrypted secret."""
        opts = dict(ext.get("options") or {})
        sname = ext.get("password_secret")
        raw = (cat.get("secrets", {}).get(sname, {}).get("options", {})
               .get("password") if sname else None)
        if raw:
            from beacon_spark.secretbox import default_box

            opts["password"] = default_box().decrypt(raw)
        return {ext["format"]: {"paths": ext["paths"], "options": opts}}

    def _apply_secret(self, entry: dict, params: dict[str, str]) -> None:
        """Wire an s3-type secret onto the Hadoop connector config (the
        reference hands credentials to object_store per URL scope). A
        `s3://bucket` scope becomes per-bucket fs.s3a config; empty scope
        is global."""
        if entry.get("type") != "s3":
            return
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        scope = entry.get("scope") or ""
        bm = re.match(r"s3a?://([^/]+)", scope)
        prefix = f"fs.s3a.bucket.{bm.group(1)}." if bm else "fs.s3a."
        keymap = {
            "key_id": "access.key",
            "secret": "secret.key",
            "region": "endpoint.region",
            "endpoint": "endpoint",
            "session_token": "session.token",
        }
        for k, v in params.items():
            if k in keymap:
                conf.set(prefix + keymap[k], v)

    def _invalidate(self, table: str | None = None,
                    version: int | None = None) -> None:
        """Drop what the catalog registration caches after a change made
        through this engine. A manifest-level change to ``table`` is
        noted (note_table_version: one small catalog write) so the next
        registration re-pins only that table — never the O(tables) full
        pass; no ``table``, or a failed note, demands the full pass
        (``_force_full`` survives a later note's signature). Under the
        registration lock: stream ingestion calls this from the
        scheduler's thread."""
        with self._reg_lock:
            if table is not None:
                try:
                    self._noted_sig = self.catalog.note_table_version(
                        table, version)
                    self._dirty_tables.add(table)
                    return
                except Exception:
                    pass
            self._cat_sig = None
            self._force_full = True

    def run_due_crawlers(self, now: float | None = None) -> list[tuple]:
        """One scheduler sweep (the reference's periodic re-discovery,
        ``beacon-core/src/crawler/discovery.rs:1-6`` + manager timer):
        run every crawler whose schedule interval has elapsed since its
        last run (never-run crawlers with a schedule are due
        immediately; crawlers without a schedule only run via RUN
        CRAWLER). Returns the combined discovery report rows."""
        import time as _time

        now = _time.time() if now is None else now
        out: list[tuple] = []
        for name, d in sorted(self.catalog._load()["crawlers"].items()):
            secs = d.get("schedule_secs")
            if secs is None:
                continue
            last = d.get("last_run")
            if last is not None and now - last < secs:
                continue
            out.extend(tuple(r) for r in self._run_crawler(name).collect())
        return out

    def start_crawler_scheduler(self, poll_secs: float = 30.0) -> None:
        """Background re-discovery: a daemon thread sweeping
        :meth:`run_due_crawlers` every ``poll_secs``. Embedded-mode analog
        of the reference's crawler manager timer. Idempotent."""
        import threading

        if getattr(self, "_crawler_thread", None) is not None:
            return
        self._crawler_stop = threading.Event()

        def _streams():
            from beacon_spark.streaming.ingest import run_due_streams

            run_due_streams(self)

        def _loop():
            while not self._crawler_stop.wait(poll_secs):
                for sweep, run in (("crawler", self.run_due_crawlers),
                                   ("stream", _streams)):
                    try:
                        run()
                    except Exception as exc:  # never kill the host app
                        _log.warning("%s sweep failed: %s: %s", sweep,
                                     type(exc).__name__, exc, exc_info=True)

        self._crawler_thread = threading.Thread(
            target=_loop, name="beacon-crawler-scheduler", daemon=True
        )
        self._crawler_thread.start()

    def stop_crawler_scheduler(self) -> None:
        t = getattr(self, "_crawler_thread", None)
        if t is not None:
            self._crawler_stop.set()
            t.join(timeout=5)
            self._crawler_thread = None

    def _run_crawler(self, name: str) -> DataFrame:
        """RUN CRAWLER: discover files under the crawler's prefix and
        auto-register recognized ones as external tables (discovery loop,
        beacon-core/src/crawler/discovery.rs). Also the unit of work for
        the run_due_crawlers() scheduler sweep. Returns the report."""
        crawlers = self.catalog._load()["crawlers"]
        if name not in crawlers:
            raise ValueError(f"unknown crawler {name!r}")
        if self.datasets_root is None:
            raise ValueError("crawler needs a datasets_root")
        spec = crawlers[name]
        prefix = spec["prefix"]
        fmt_filter = spec.get("format_filter")
        naming = spec.get("table_naming", "file")
        known = self.catalog._load()
        # every catalog category: a crawler must never auto-register a
        # name that would shadow (or be shadowed by) a view/MV
        taken = (set(known["external_tables"]) | set(known["tables"])
                 | set(known["views"]) | set(known["materialized_views"]))
        report = []
        groups: dict[tuple[str, str], list[str]] = {}
        for rel, fmt in _paths.list_datasets(self.datasets_root):
            if prefix and not rel.startswith(prefix):
                continue
            if fmt_filter is not None and (fmt or "") not in fmt_filter:
                # dropped BEFORE the extension check, so filtered files
                # are not counted as skipped (test_crawlers_advanced.py:
                # skipped_files tracks only format mismatches)
                continue
            if fmt not in ("parquet", "csv", "arrow", "netcdf", "zarr", "odv"):
                report.append((rel, fmt or "unknown", "skipped"))
                continue
            if naming == "leaf_prefix":
                # one table per (full) leaf DIRECTORY, holding every
                # file of that format in it (the reference's leaf_prefix
                # naming: mixed/part1.parquet + part2.parquet -> table
                # "mixed"). Grouping keys on the whole dirname so
                # 2023/obs and 2024/obs never merge; ROOT-level files
                # have no directory to group by and keep per-file
                # naming (falling through below).
                parent = posixpath.dirname(rel)
                if parent:
                    groups.setdefault((parent, fmt), []).append(rel)
                    continue
            tname = re.sub(r"\W+", "_", rel.rsplit(".", 1)[0]).strip("_")
            if tname in taken:
                report.append((rel, fmt, "exists"))
                continue
            self.catalog.create_external_table(tname, fmt, [rel])
            taken.add(tname)
            report.append((rel, fmt, f"registered as {tname}"))
        # a leaf name qualifies with its full path only when two
        # distinct DIRECTORIES share it (a dir holding two formats is
        # still one directory)
        leaf_counts: dict[str, int] = {}
        for parent in {p for (p, _f) in groups}:
            leaf_counts[posixpath.basename(parent)] = (
                leaf_counts.get(posixpath.basename(parent), 0) + 1
            )
        for (parent, fmt), rels in sorted(groups.items()):
            leaf = posixpath.basename(parent)
            base_name = leaf if leaf_counts[leaf] == 1 else parent
            tname = re.sub(r"\W+", "_", base_name).strip("_")
            if tname in taken:
                report.append((";".join(sorted(rels)), fmt, "exists"))
                continue
            self.catalog.create_external_table(tname, fmt, sorted(rels))
            taken.add(tname)
            report.append(
                (";".join(sorted(rels)), fmt, f"registered as {tname}"))
        import time as _time

        self.catalog.touch_crawler(name, _time.time())
        return self.spark.createDataFrame(
            report, "path string, format string, action string"
        )

    _REMOTE_QUERY_RE = re.compile(
        r"\bremote_query\s*\(\s*'(\w+)'\s*,\s*'((?:[^']|'')*)'\s*\)",
        re.IGNORECASE,
    )

    def remote_query(self, alias: str, sql: str) -> DataFrame:
        """Push ``sql`` to the attached remote engine ``alias`` and return
        the result as a DataFrame — explicit-statement federation
        (remote/catalog.rs:1-11; see server/remote.py for the pushdown
        contract)."""
        self._register_catalog()
        rb = getattr(self, "_remotes", {}).get(alias)
        if rb is None:
            raise ValueError(f"no attached remote engine {alias!r}")
        return rb.query(self.spark, sql)

    def _register_remote_datasource(self) -> None:
        """One-time session setup for the federated-scan DataSource
        (server/remote_datasource.py): register the format + enable the
        Python-DS filter-pushdown planner hook."""
        if getattr(self, "_remote_ds_ready", False):
            return
        from beacon_spark.server.remote_datasource import RemoteTableDataSource
        from beacon_spark.sources.sqldb_datasource import SqlDbDataSource

        # registering again (another Engine on this session) replaces
        # the source
        for ds in (RemoteTableDataSource, SqlDbDataSource):
            self.spark.dataSource.register(ds)
        self.spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        self._remote_ds_ready = True

    def _remote_scan_df(self, rb, tbl: str, statement: str) -> DataFrame:
        """Lazy federated scan of ``alias__tbl`` with pushdown:

        - projection: the DataSource schema is narrowed to the columns
          the statement's identifiers reference (safe over-approximation
          — ``*`` or an unparseable statement keeps the full schema), so
          the remote SELECT lists exactly those columns.
        - filters: Catalyst pushes supported predicates into the scan
          via ``pushFilters``; they execute in the remote's WHERE.

        The reference's FederationOptimizerRule does both rewrites at
        plan time (runtime_builder.rs:814-827); here Spark's own planner
        does the filter half and statement-time narrowing the column
        half."""
        from beacon_spark.server.guard import scrub_sql

        schema = rb.table_schema(tbl)
        blanked = scrub_sql(statement)
        if "*" not in blanked:
            idents = {w.lower() for w in re.findall(r"\w+", blanked)}
            narrowed = [f for f in schema.fields if f.name.lower() in idents]
            if narrowed:
                from pyspark.sql import types as _T

                schema = _T.StructType(narrowed)
        return (
            self.spark.read.format("beacon_remote")
            .schema(schema)
            .options(url=rb.location, table=tbl, token=rb._token or "")
            .load()
        )

    def _remote_table_df(self, url: str, opts: dict) -> DataFrame:
        """One remote table as a lazy federated scan — the STORED AS
        REMOTE external-table body (resolve_from). The connection is
        cached per (endpoint, token) so catalog re-registration doesn't
        reconnect; the token may arrive as ``token`` (CREATE-time
        probe) or ``password`` (the encrypted secret slot it is stored
        in)."""
        from beacon_spark.server.remote import RemoteBeacon, parse_remote_url

        base, _, tbl = url.rpartition("/")
        if parse_remote_url(base) is None or not tbl:
            raise ValueError(
                "STORED AS REMOTE location must be "
                "'beacon://host:port/<table>'"
            )
        token = opts.get("token") or opts.get("password") or None
        tls = str(opts.get("tls", "")).lower() == "true"
        cache = self._remote_tbl_conns = getattr(
            self, "_remote_tbl_conns", {})
        key = (base, token, tls)
        rb = cache.get(key)
        if rb is None:
            rb = cache[key] = RemoteBeacon(base, token=token, tls=tls)
        if tbl not in rb.list_tables():
            raise ValueError(f"remote engine has no table {tbl!r}")
        self._register_remote_datasource()
        return (
            self.spark.read.format("beacon_remote")
            .schema(rb.table_schema(tbl))
            .options(url=rb.location, table=tbl, token=token or "")
            .load()
        )

    def _sqldb_df(self, fmt: str, loc: str, opts: dict) -> DataFrame:
        """A PostgreSQL/MySQL table or query as a LIVE lazy scan (the
        reference's federated provider): a ``beacon_sqldb`` DataSource
        whose filters push into the remote WHERE and whose fetch runs on
        an executor at query time (sources/sqldb_datasource.py). Only the
        schema is probed (LIMIT 0) and cached per spec; data is never
        snapshotted. A query location (SELECT/WITH/VALUES/TABLE head) is
        read as a derived table."""
        if fmt == "postgres":
            sslmode = str(opts.get("sslmode", "disable")).lower()
            if sslmode not in ("disable", "prefer", "allow"):
                # accepted-but-ignored would be a silent security downgrade
                raise NotImplementedError(
                    f"sslmode={sslmode!r}: TLS is not implemented in this "
                    "client; use sslmode=disable (or tunnel the connection)")
        if re.match(r"(?i)^\s*(select|with|values|table)\b", loc):
            loc = f"({loc}) AS q"
        cache = self._sqldb_schemas = getattr(self, "_sqldb_schemas", {})
        key = json.dumps([fmt, loc, opts], sort_keys=True)
        schema = cache.get(key)
        if schema is None:
            if fmt == "postgres":
                from beacon_spark.sources.pglite import (
                    postgres_table_schema as probe,
                )
            else:
                from beacon_spark.sources.mysqllite import (
                    mysql_table_schema as probe,
                )
            schema = cache[key] = probe(loc, opts)
        self._register_remote_datasource()
        return (
            self.spark.read.format("beacon_sqldb")
            .schema(schema)
            .options(engine=fmt, table=loc,
                     **{k: str(v) for k, v in opts.items()})
            .load()
        )

    def _resolve_remote(self, statement: str, whole: bool = True,
                        deny: str | None = None) -> str:
        """SQL surface for attached remotes: ``remote_query('alias',
        'sql')`` pushes the statement down; a bare ``alias__table``
        reference becomes a LAZY federated scan (temp view over the
        beacon_remote DataSource) whose filters/projection push to the
        remote — never an eager SELECT * fetch. A read-only statement
        whose table references are ALL tables of ONE attached remote is
        pushed WHOLE as a single remote statement (the
        FederationOptimizerRule analog — see _federated_pushdown) unless
        ``whole`` is false. A read-only call (``deny``: its refusal) may
        not ``remote_query``: the remote runs any payload."""
        remotes = getattr(self, "_remotes", {})
        attached = remotes or getattr(self, "_remote_ext", None)
        if not attached and deny is None:
            return statement

        def repl(m: re.Match) -> str:
            if deny is not None:
                raise _auth.WriteRefused(deny)
            alias, rsql = m.group(1), m.group(2).replace("''", "'")
            rb = remotes.get(alias)
            if rb is None:
                raise ValueError(f"no attached remote engine {alias!r}")
            name = f"__remote_{alias}_{abs(hash(rsql)) % 10**10}"
            rb.query(self.spark, rsql).createOrReplaceTempView(name)
            self._remote_views = getattr(self, "_remote_views", {})
            self._remote_views.setdefault(alias, set()).add(name)
            return name

        statement = _sub_outside_literals(self._REMOTE_QUERY_RE, repl, statement)
        if not attached:
            return statement
        if whole:
            pushed = self._federated_pushdown(statement, remotes)
            if pushed is not None:
                return pushed
        # a BACKTICKED `alias__tbl` is still a reference that needs its
        # lazy view registered — skip only literals/comments here
        from beacon_spark.server.guard import sql_noncode_spans

        spans = sql_noncode_spans(statement, include_idents=False)
        for alias, rb in remotes.items():
            pat = re.compile(rf"\b{re.escape(alias)}__(\w+)\b")
            seen: set[str] = set()
            for m in pat.finditer(statement):
                tbl = m.group(1)
                if _in_literal(spans, m.start()) or tbl in seen:
                    continue
                seen.add(tbl)
                if tbl in rb.list_tables():
                    self._register_remote_datasource()
                    self._remote_scan_df(rb, tbl, statement).createOrReplaceTempView(
                        f"{alias}__{tbl}"
                    )
                    self._remote_views = getattr(self, "_remote_views", {})
                    self._remote_views.setdefault(alias, set()).add(
                        f"{alias}__{tbl}"
                    )
        return statement

    #: clauses that REDUCE rows remotely — worth pushing even a
    #: single-table statement whole (the per-table scan path already
    #: pushes filters/projection, but not aggregation or top-k); a
    #: global aggregate with no GROUP BY is the maximal reducer
    _FED_REDUCE_RE = re.compile(
        r"\b(group\s+by|order\s+by|limit|distinct)\b"
        r"|\b(count|sum|avg|min|max|approx_count_distinct|stddev|"
        r"variance|corr|first|last|percentile(?:_approx)?)\s*\(",
        re.IGNORECASE,
    )

    #: a DML body after WITH, or a second statement: never pushed (a
    #: false match only runs locally). Spark cannot parse the dialect
    #: (``* EXCLUDE``) the remote accepts, so this is lexical.
    _FED_DML_RE = re.compile(
        r"\b(insert|update|delete|merge)\b|;\s*\S", re.IGNORECASE)

    def _federated_pushdown(self, statement: str, remotes) -> str | None:
        """FederationOptimizerRule analog (reference
        beacon-core/src/runtime_builder.rs:814-827,
        statement_plan/query_planner.rs:38-45): when a read-only
        SELECT/WITH statement's table references are ALL tables of ONE
        attached remote (or statement-local CTE names), ship the WHOLE
        statement to that remote as a single lazy ``beacon_remote``
        scan — the join/aggregation executes remotely and only RESULT
        rows cross the wire, instead of two full table scans joined
        locally.

        Applies when the statement references ≥2 distinct remote tables
        (a cross-table join) or contains a row-reducing clause
        (GROUP BY / ORDER BY / LIMIT / DISTINCT); plain single-table
        filter/projection statements keep the existing per-table
        pushFilters path (plan-pinned in tests/test_plans.py).

        Remote references group by ENDPOINT (grpc location + token):
        ATTACH aliases and STORED AS REMOTE external tables of the same
        server+principal push together — including two aliases of one
        endpoint, and ext-table joins with no ATTACH at all. Returns
        the rewritten statement, or ``None`` to fall back — any mixed
        local/remote reference, multi-endpoint reference, unparseable
        table position, or remote planning failure falls back safely.
        """
        if not re.match(r"^\s*(select|with)\b", statement, re.IGNORECASE):
            return None
        spans = _literal_spans(statement)
        if any(not _in_literal(spans, m.start())
               for m in self._FED_DML_RE.finditer(statement)):
            return None
        idents = _table_position_idents(statement, spans)
        if idents is None:
            return None
        # names a WITH clause (or window list) defines inside the
        # statement travel with it — they are not local references
        ctes = {
            m.group(1).lower()
            for m in re.finditer(
                # NB: a plain \b before ',' never matches after ')', so
                # the comma alternative is spelled without it — second
                # and later CTEs (`), b AS (`) must be recognized too
                r"(?:\bwith\s+|,\s*)(\w+)\s+as\s*\(",
                statement, re.IGNORECASE,
            )
            if not _in_literal(spans, m.start())
        }
        # endpoint key = (grpc location, token): ATTACH aliases and
        # STORED AS REMOTE external tables of the SAME server+principal
        # group together — two aliases to one endpoint still push
        rext = self._remote_ext_endpoints()
        refs: list[tuple[tuple, str]] = []  # (endpoint_key, remote table)
        for ident, _s, _e in idents:
            if ident.lower() in ctes:
                continue
            hit = None
            if ident in rext:
                key, tbl = rext[ident]
                hit = (key, tbl)
            else:
                for alias, rb in remotes.items():
                    pre = alias + "__"
                    if ident.startswith(pre) and \
                            ident[len(pre):] in rb.list_tables():
                        hit = ((rb.location, rb._token), ident[len(pre):])
                        break
            if hit is None:
                return None  # a local (or unknown-remote) table — bail
            refs.append(hit)
        if not refs:
            return None
        keys = {k for k, _ in refs}
        if len(keys) != 1:
            return None  # two different endpoints/principals — join locally
        key = keys.pop()
        rb = next(
            (r for r in remotes.values() if (r.location, r._token) == key),
            None,
        )
        if rb is None:
            rb = self._remote_conn(*key)
        if any(tbl not in rb.list_tables() for _, tbl in refs):
            return None
        if len({t for _, t in refs}) < 2:
            from beacon_spark.server.guard import scrub_sql

            if not self._FED_REDUCE_RE.search(scrub_sql(statement)):
                return None
        # Span-based substitution over the ORIGINAL statement: remote
        # names are swapped in ONLY at the table-position spans the
        # scanner identified, plus qualified column prefixes
        # (``lake__t.col`` → ``t.col``). A column or SELECT alias that
        # merely shares an ext-table's name is left untouched — a
        # statement-wide \b-regex used to rename those too, and when the
        # renamed text was coincidentally valid on the remote the query
        # silently returned wrong data. All edits are computed against
        # the original text, so per-name passes can never chain
        # (x→y then y→z).
        alias_names = sorted(a for a, r in remotes.items()
                             if (r.location, r._token) == key)
        ext_map = {n: t for n, (k, t) in rext.items() if k == key}
        remote_tables = rb.list_tables()

        def _remote_name(ident: str) -> str | None:
            if ident in ext_map:
                return ext_map[ident]
            for a in alias_names:
                pre = a + "__"
                if ident.startswith(pre) and ident[len(pre):] in remote_tables:
                    return ident[len(pre):]
            return None

        edits: list[tuple[int, int, str]] = []
        renamed: set[str] = set()
        for ident, s, e in idents:
            if ident.lower() in ctes:
                # a statement-local CTE shadows any same-named remote
                # table; renaming its FROM reference (but not its WITH
                # definition) would silently read the wrong table
                continue
            t = _remote_name(ident)
            if t is not None and t != ident:
                if t.lower() in ctes:
                    # the rename TARGET collides with a statement-local
                    # CTE name: on the remote, `FROM <t>` would resolve
                    # to the shipped CTE instead of the remote table —
                    # silently wrong results. Join locally instead.
                    return None
                edits.append((s, e, t))
                renamed.add(ident)
        if renamed:
            qpat = re.compile(
                r"\b(" + "|".join(map(re.escape, sorted(renamed)))
                + r")(?=\s*\.)")
            taken = [(s, e) for s, e, _ in edits]
            for m in qpat.finditer(statement):
                if _in_literal(spans, m.start()):
                    continue
                if any(s <= m.start() < e for s, e in taken):
                    continue
                edits.append((m.start(), m.end(), _remote_name(m.group(1))))
        remote_sql = statement
        for s, e, t in sorted(edits, reverse=True):
            remote_sql = remote_sql[:s] + t + remote_sql[e:]
        try:
            schema = rb.query_schema(remote_sql)  # LIMIT-0 plan, no data
        except Exception:
            return None  # the remote can't plan it — per-table fallback
        self._register_remote_datasource()
        name = f"__fed_{abs(hash((key, remote_sql))) % 10**10}"
        (
            self.spark.read.format("beacon_remote")
            .schema(schema)
            .options(url=rb.location, sql=remote_sql, token=rb._token or "")
            .load()
            .createOrReplaceTempView(name)
        )
        self._remote_views = getattr(self, "_remote_views", {})
        self._remote_views.setdefault("__federated__", set()).add(name)
        return f"SELECT * FROM {name}"

    def _remote_ext_endpoints(self) -> dict:
        """STORED AS REMOTE external tables → {name: ((location, token),
        remote_table)} — populated from the registry _register_catalog
        maintains (tokens already decrypted there)."""
        from beacon_spark.server.remote import parse_remote_url

        out = {}
        for name, (url, token, tls) in getattr(
                self, "_remote_ext", {}).items():
            base, _, tbl = url.rpartition("/")
            loc = parse_remote_url(base)
            if loc is None or not tbl:
                continue
            if tls and loc.startswith("grpc://"):
                loc = "grpc+tls://" + loc[len("grpc://"):]
            out[name] = ((loc, token), tbl)
        return out

    def _remote_conn(self, location: str, token: str | None):
        """Cached RemoteBeacon per (endpoint, principal) for federated
        pushdown over STORED AS REMOTE tables with no ATTACH."""
        cache = self._fed_conns = getattr(self, "_fed_conns", {})
        rb = cache.get((location, token))
        if rb is None:
            from beacon_spark.server.remote import RemoteBeacon

            rb = cache[(location, token)] = RemoteBeacon(
                location, token=token)
        return rb

    def _nd_placeholder(self, call: _NdCall, gate=None) -> _NdCall:
        """Register ``call``'s schema-only placeholder view: an empty RDD
        relation, which Catalyst cannot fold away the way it folds an
        empty local relation, so the optimized plan keeps the pushed-down
        Filter and the column-pruning Project directly above it. The
        schema is read_nd's own 1-row sample, opened only after a
        restricted reader's ``gate`` passed the call's paths (the view
        :meth:`_register_nd_view` binds later reads the same paths).
        (The relation is built in the JVM, as createDataFrame does for
        an RDD, minus the Python round trip.)"""
        from beacon_spark.sources.nd import nd_sample_schema

        if gate is not None:
            gate.source({"paths": list(call.globs)})
        sample = _paths.resolve_globs(list(call.globs), self.datasets_root)[0]
        schema = tabular._arrow_to_spark_schema(
            nd_sample_schema(call.fmt, sample, call.dims))
        jdf = self.spark._jsparkSession.applySchemaToPythonRDD(
            self.spark._jsc.emptyRDD().rdd(), schema.json())
        jdf.createOrReplaceTempView(call.name)
        rdd_id = jdf.queryExecution().analyzed().rdd().id()
        return call._replace(schema=schema, rdd_id=rdd_id)

    def _register_nd_view(self, fmt, globs, dims, ranges, columns,
                          schema) -> str:
        """Temp view over the ``read_nd`` scan of one SQL nd call, pruned
        to ``ranges`` (chunk-grid and atlas dataset pruning) and
        ``columns`` (decode projection). The columns of the placeholder's
        ``schema`` that a pruned read leaves out come back as typed nulls
        above the scan, so the statement analyzes against exactly the
        schema it was optimized against (and the optimizer prunes the
        nulls again). The name hashes every value baked into the view and
        adds a per-statement suffix: no statement reads another's pruned
        region, and ``Engine.sql`` drops the view once the statement is
        analyzed."""
        from beacon_spark.sources.nd import nd_rows_per_task

        df = self.resolve_from(
            {fmt: {"paths": list(globs), "dimensions": dims}},
            projection=columns, ranges=ranges)
        if columns is not None:
            have = set(df.columns)

            def ident(name: str) -> str:
                return "`" + name.replace("`", "``") + "`"

            df = df.selectExpr(*[
                ident(f.name) if f.name in have
                else f"CAST(NULL AS {f.dataType.simpleString()}) AS {ident(f.name)}"
                for f in schema
            ])
        return self._read_view("nd", df, (
            fmt, tuple(globs), tuple(dims or ()),
            tuple(sorted((ranges or {}).items())), tuple(columns or ()),
            nd_rows_per_task(self.spark)))

    def _read_view(self, kind: str, df: DataFrame, key) -> str:
        """Register ``df`` as the temp view one SQL read call stands for.
        The name hashes the root and every value baked into the read
        (``key``) and adds a per-statement suffix, so no statement reads
        another's view; ``Engine.sql`` drops it once the statement is
        analyzed."""
        h = abs(hash((self.datasets_root, key))) % 10**10
        name = f"__beacon_{kind}_{h}_{uuid.uuid4().hex[:8]}"
        df.createOrReplaceTempView(name)
        return name

    @functools.cached_property
    def _jvm_sql(self):
        """The JVM classes the plan pass calls: py4j resolves each dotted
        name with round trips (about 2.5 ms a name)."""
        from types import SimpleNamespace

        jvm = self.spark._jvm
        return SimpleNamespace(
            parser=self.spark._jsparkSession.sessionState().sqlParser(),
            skip=jvm.org.apache.spark.sql.execution.CommandExecutionMode.SKIP(),
            params=jvm.org.apache.spark.sql.catalyst.analysis.NameParameterizedQuery,
            dataset=jvm.org.apache.spark.sql.classic.Dataset)

    def _read_only_plan(self, statement: str, deny: str, gate=None,
                        trusted=()):
        """The parse of a statement a read-only call may run, decided
        from its type as Beacon's planner does (mod.rs:58-78), else
        ``WriteRefused(deny)``: a query by Spark's ``query`` grammar
        (not ``WITH … INSERT``, ``EXECUTE IMMEDIATE``, ``CALL``, a second
        statement) or a :data:`_READ_ONLY_COMMANDS` root. One walk of the
        query (children, subqueries, CTEs) refuses ``TRANSFORM … USING``
        (it runs a program) and checks a restricted caller's (``gate``)
        names before analysis: ``__beacon*`` unless bound by this
        statement's rewrites (``trusted``) is refused whatever the
        enforcement, ``fmt.`path``` is path-checked, a snapshot
        ``t__v3`` is a read of ``t``."""
        from pyspark.errors import ParseException

        try:
            plan = self._jvm_sql.parser.parseQuery(
                re.sub(r"[\s;]+$", "", statement))
        except ParseException:
            plan = self._jvm_sql.parser.parsePlan(statement)
            if plan.nodeName() not in _READ_ONLY_COMMANDS:
                raise _auth.WriteRefused(deny) from None
        field = _QUERY_CHILD.get(plan.nodeName())
        todo = [getattr(plan, field)() if field else plan]
        while todo:
            node = todo.pop()
            kind = node.nodeName()
            if kind == "ScriptTransformation":
                raise _auth.WriteRefused(deny)
            if kind == "UnresolvedRelation" and gate is not None:
                parts = _jseq(node.multipartIdentifier())
                if parts[-1] not in trusted \
                        and parts[-1].lower().startswith("__beacon"):
                    raise _auth.AuthError(_auth.INTERNAL_NAMES)
                if len(parts) == 2:
                    gate.path(parts[1])
                base = self._snapshot_base(parts[-1])
                if base is not None:
                    gate.table(base)
            if kind == "UnresolvedWith":
                todo += [cte._2() for cte in _jseq(node.cteRelations())]
            todo += _jseq(node.children()) + _jseq(node.subqueries())
        return plan

    def _bind_args(self, plan, args: dict | None):
        """``plan`` with ``args`` bound to its ``:name`` markers."""
        if not args:
            return plan
        from pyspark.sql import functions as F
        from pyspark.sql.classic.column import _to_java_column

        jss = self.spark._jsparkSession
        seq = self.spark._jvm.PythonUtils.toSeq
        names = list(args)
        values = [jss.expression(_to_java_column(F.lit(args[n])))
                  for n in names]
        return self._jvm_sql.params(plan, seq(names), seq(values))

    def _dataframe(self, plan) -> DataFrame:
        """``plan``'s DataFrame, built as ``spark.sql`` builds one."""
        return DataFrame(self._jvm_sql.dataset.ofRows(
            self.spark._jsparkSession, plan), self.spark)

    def _query_execution(self, statement: str, args: dict | None,
                         plan=None):
        """Parse ``statement`` (unless ``plan`` is its parse), bind
        ``args`` and open a QueryExecution of the query it runs without
        running it, the way Spark's EXPLAIN does. A CTAS/INSERT/EXPLAIN/
        CREATE VIEW/DESCRIBE QUERY opens its query child (the command
        itself never runs). Returns (its QueryExecution, whether that
        query is the whole statement); analysis and optimization run
        when first asked for."""
        if plan is None:
            plan = self._jvm_sql.parser.parsePlan(statement)
        field = _QUERY_CHILD.get(plan.nodeName())
        if field is not None:
            plan = getattr(plan, field)()
        qe = self.spark._jsparkSession.sessionState().executePlan(
            self._bind_args(plan, args), self._jvm_sql.skip)
        return qe, field is None

    def _nd_optimized_plan(self, statement: str, args: dict | None):
        """The optimized plan of ``statement``'s query, not executed."""
        return self._query_execution(statement, args)[0].optimizedPlan()

    def _authorize_plan(self, statement: str, args: dict | None, gate,
                        trusted, plan=None) -> tuple:
        """Check the reads of ``statement`` for a restricted caller
        (``gate``) on its analyzed plan, as the reference checks
        ``Select`` on every TableScan of the resolved plan
        (authz.rs:25-41), walking plan children and expression
        subqueries; the names of the parse were checked by
        :meth:`_read_only_plan`. ``plan``: the statement's parse.
        Returns :meth:`_query_execution`'s QueryExecution and ``whole``
        flag.

        A ``View`` or DESCRIBE/SHOW target this statement's rewrites did
        not bind over reads they checked (``trusted``) is checked as a
        table (a snapshot as the table it pins) and not descended into,
        so granted views are definer-rights; an internal ``__beacon*``
        one is refused whatever the enforcement (``gate.enforce``). A
        file relation outside any view is path-checked (the engine's own
        files whatever the enforcement); under enforcement any other
        relation there is refused."""
        qe, whole = self._query_execution(statement, args, plan)
        todo = [qe.analyzed()]
        while todo:
            node = todo.pop()
            kind = node.nodeName()
            if kind == "View" or kind in _COMMAND_TABLE:
                ident = (node.desc().identifier() if kind == "View"
                         else getattr(node, _COMMAND_TABLE[kind])())
                name = ident.table()
                if name in trusted:
                    continue
                if name.lower().startswith("__beacon"):
                    raise _auth.AuthError(_auth.INTERNAL_NAMES)
                gate.table(self._snapshot_base(name) or name)
                continue
            if kind.endswith("Relation") and kind not in _LITERAL_RELATIONS:
                if kind == "LogicalRelation" and node.relation().getClass() \
                        .getSimpleName() == "HadoopFsRelation":
                    for root in _jseq(node.relation().location().rootPaths()):
                        uri = root.toUri()
                        gate.path(uri.getPath() if uri.getScheme() == "file"
                                  else root.toString())
                elif gate.enforce:
                    raise _auth.AuthError(f"permission denied: {kind} "
                                          "read outside a catalog table")
                continue
            todo += _jseq(node.children()) + _jseq(node.subqueries())
        return qe, whole

    def _snapshot_base(self, name: str) -> str | None:
        """The managed table a time-travel snapshot view pins, for the
        view's name or the ``t__v<n>`` it was written as."""
        return (self._pins.get(name)
                or self._pins.get(f"{name}_{self._view_tag}"))

    def _bind_nd_views(self, statement: str, args: dict | None,
                       nd_calls: list, views: list, gate=None,
                       trusted=(), plan=None) -> str:
        """Bind every nd call in ``statement`` to its pruned ``read_nd``
        view (appended to ``views``): placeholders stand in while
        Catalyst optimizes the statement, and the ranges and columns come
        from that plan (:func:`_nd_pushdown`). A call the walk cannot use
        reads unpruned — Spark still applies the WHERE, so rows stay
        exact — and is reported at WARNING (``nd_sql_pushdown``). A
        restricted reader's ``gate`` checks the statement on the same
        pass (:meth:`_authorize_plan`; ``trusted``: views bound besides
        the read views); ``plan`` is the statement's parse, when the
        caller has it."""
        bound: list[_NdCall] = []
        try:
            bound = [self._nd_placeholder(call, gate) for call in nd_calls]
            qe = None
            if gate is not None:
                qe = self._authorize_plan(
                    statement, args, gate,
                    {*views, *trusted, *(c.name for c in nd_calls)}, plan)[0]
            elif plan is not None:
                qe = self._query_execution(statement, args, plan)[0]
            reason = "not found in the optimized plan"
            try:
                pushed = _nd_pushdown(
                    qe.optimizedPlan() if qe is not None
                    else self._nd_optimized_plan(statement, args), bound)
            except Exception as exc:
                pushed = {}
                reason = f"{type(exc).__name__}: {str(exc).splitlines()[0]}"
        finally:
            for call in nd_calls:
                self.spark.catalog.dropTempView(call.name)
        for call in bound:
            if call.name not in pushed:
                _log.warning("nd_sql_pushdown: read_%s(%s) runs unpruned: %s",
                             call.fmt, ", ".join(call.globs), reason)
            ranges, columns = pushed.get(call.name, (None, None))
            views.append(self._register_nd_view(
                call.fmt, call.globs, call.dims, ranges, columns, call.schema))
            statement = statement.replace(call.name, views[-1])
        return statement

    def _rewrite_read_fns(self, statement: str, nd_calls: list,
                          views: list | None = None,
                          user: str | None = None) -> str:
        """Replace ``read_*('glob' [, 'glob'...])`` table functions with
        temp views over ``resolve_from`` of the call's from-spec (the
        reference registers these as UDTFs —
        beacon-functions/src/file_formats/mod.rs:21-107; its SQL and JSON
        surfaces share one format registry). A ``read_<fmt>_schema``
        twin parses the same arguments into the same spec and reads as
        that read's (column_name, data_type, nullable) rows. Each view's
        name is appended to ``views``. An nd call leaves a reserved name
        and appends itself to ``nd_calls`` for :meth:`_bind_nd_views`.
        ``user``'s read checks run in ``resolve_from`` (nd calls: in
        :meth:`_nd_placeholder`)."""

        def repl(m: re.Match) -> str:
            fmt = m.group(1).lower()
            schema_only = m.group(2) is not None
            bracketed = m.group(3) is not None
            arglist = m.group(3) if bracketed else m.group(4)
            tail = m.group(5) or ""
            # each glob is one quoted string — a comma INSIDE a quoted
            # path (a legal filename character) must not split it
            globs = re.findall(r"'([^']*)'", arglist)
            # a bracketed tail list = the nd readers' DIMENSIONS
            # (read_netcdf(['…'], ['time', 'pressure']))
            dims_m = re.search(r"\[(.*?)\]", tail)
            dims = (re.findall(r"'([^']*)'", dims_m.group(1))
                    if dims_m else None)
            if dims_m:
                tail = tail[:dims_m.start()] + tail[dims_m.end():]
            extras = re.findall(r"'([^']*)'|(\d+)", tail)
            if dims is not None and fmt not in _ND_FMTS:
                raise ValueError(
                    f"read_{fmt} takes no dimensions list")
            cfg: dict[str, Any] = {"paths": globs}
            if fmt == "csv":
                # read_csv(paths[, delimiter[, infer_records]])
                # (table-functions.md): in the BARE form only the first
                # string is the path list; trailing strings/ints are the
                # options
                if not bracketed and len(globs) > 1:
                    extras = [(g, "") for g in globs[1:]] + extras
                    cfg["paths"] = globs[:1]
                for s, n in extras:
                    if n:
                        cfg["infer_records"] = int(n)
                    elif "delimiter" not in cfg:
                        # the raw SQL text of '\t' is backslash+t — decode
                        # the common escapes the way Spark's lexer would
                        cfg["delimiter"] = {"\\t": "\t", "\\n": "\n",
                                            "\\r": "\r", "\\\\": "\\"}.get(s, s)
                    else:
                        raise ValueError(
                            f"read_csv: unexpected argument {s!r}")
            elif fmt in ("delta", "iceberg"):
                # read_delta(location[, version_or_timestamp]) /
                # read_iceberg(location[, snapshot_id]) — the second
                # argument used to be silently DROPPED (quoted form) so
                # time travel read the latest version instead
                tt = globs[1] if len(globs) > 1 else None
                for s, n_ in extras:
                    tt = n_ or s
                cfg["paths"] = globs[:1]
                if tt is not None and fmt == "iceberg":
                    cfg["snapshot_id"] = int(tt)
                elif tt is not None and re.fullmatch(r"\d+", str(tt)):
                    cfg["version_as_of"] = int(tt)
                elif tt is not None:
                    cfg["timestamp_as_of"] = tt
            elif extras:
                raise ValueError(
                    f"read_{fmt} takes only path arguments, got extras: "
                    f"{tail.strip()!r}")
            elif fmt in _ND_FMTS and not schema_only:
                # the nd readers plan through read_nd like the DSL does;
                # WHERE ranges and referenced columns come from Catalyst
                # (the reference's 'predicate pushdown is automatic' SQL
                # contract, docs/docs/2.0.0-rc2/sql/table-functions.md:79-83)
                name = f"__beacon_ndp_{uuid.uuid4().hex}"
                nd_calls.append(_NdCall(name, fmt, tuple(globs), dims))
                return name
            spec = {fmt: cfg}
            df = self.resolve_from(spec, user=user)
            if schema_only:
                df = tabular._schema_df(self.spark, df.schema)
            name = self._read_view(
                "read", df, (schema_only, json.dumps(spec, sort_keys=True)))
            if views is not None:
                views.append(name)
            return name

        return _sub_outside_literals(_READ_FN_RE, repl, statement)

    def _rewrite_try_arrow_cast(self, statement: str) -> str:
        """try_arrow_cast(expr, 'ArrowType') → try_cast(expr AS sparktype).

        Paren matching and the expr/type split run on the shared-lexer
        scrub: a ``)`` inside a string literal can't end the argument
        list early, and a comma inside the expr (or a parametrized type
        like ``Decimal128(10, 2)``) can't split in the wrong place —
        the TYPE is the last top-level argument, whole."""
        if "try_arrow_cast" not in statement.lower():
            return statement
        out = []
        pos = 0
        blanked = _noncode_blanked(statement)
        for m in _TRY_ARROW_CAST_RE.finditer(blanked):
            if m.start() < pos:
                continue  # nested inside an already-consumed call
            start = m.end()  # after the open paren
            i = _matching_paren_end(blanked, start)
            if i < 0:
                raise ValueError("try_arrow_cast: unbalanced parentheses")
            inner = statement[start:i - 1]
            args = _split_top_level(inner)
            if len(args) < 2:
                raise ValueError(
                    f"try_arrow_cast takes (expr, 'ArrowType'): {inner!r}")
            # a nested try_arrow_cast inside the expr rewrites too
            expr = self._rewrite_try_arrow_cast(", ".join(args[:-1]))
            type_name = args[-1].strip().strip("'\"")
            spark_type = _arrow_name_to_spark(type_name)
            out.append(statement[pos:m.start()])
            out.append(f"try_cast({expr} AS {spark_type})")
            pos = i
        out.append(statement[pos:])
        return "".join(out)

    def _rewrite_macros(self, statement: str) -> str:
        """Inline SQL macros for functions that would otherwise need a
        python UDF in the SQL path — each expands to plain arithmetic and
        stays in whole-stage codegen:

        - ``pressure_to_depth_teos_10(p, lat)``
        - ``date_bin(INTERVAL 'n unit', ts[, origin])`` (DataFusion's
          temporal binning, function-reference.md — Spark has no date_bin)
        """
        from beacon_spark.functions.domain import pressure_to_depth_sql

        def expand(name: str, render) -> None:
            nonlocal statement
            if name not in statement.lower():
                return  # cheap guard: skip the lexer pass entirely
            rx = re.compile(rf"\b{name}\s*\(", re.IGNORECASE)
            while True:
                # search + paren-match on the shared-lexer scrub: a
                # macro name or a ')' inside a string literal can
                # neither trigger an expansion nor end one early
                blanked = _noncode_blanked(statement)
                m = rx.search(blanked)
                if not m:
                    return
                start = m.end()
                i = _matching_paren_end(blanked, start)
                if i < 0:
                    raise ValueError(f"{name}: unbalanced parentheses")
                args = _split_top_level(statement[start:i - 1])
                statement = statement[: m.start()] + render(args) + statement[i:]

        def render_depth(args: list[str]) -> str:
            if len(args) != 2:
                raise ValueError("pressure_to_depth_teos_10 takes (pressure, latitude)")
            return pressure_to_depth_sql(args[0], args[1])

        def render_date_bin(args: list[str]) -> str:
            if len(args) not in (2, 3):
                raise ValueError("date_bin takes (stride, ts[, origin])")
            mi = re.match(
                r"(?i)^\s*INTERVAL\s+'(\d+)\s*(\w+?)s?'\s*$", args[0]
            )
            if not mi:
                raise ValueError(f"date_bin stride must be INTERVAL 'n unit': {args[0]}")
            n, unit = int(mi.group(1)), mi.group(2).lower()
            us_per = {
                "microsecond": 1, "millisecond": 1_000, "second": 1_000_000,
                "minute": 60_000_000, "hour": 3_600_000_000, "day": 86_400_000_000,
                "week": 7 * 86_400_000_000,
            }
            if unit not in us_per:
                raise ValueError(f"date_bin: unsupported unit {unit!r}")
            stride = n * us_per[unit]
            origin = (
                f"unix_micros(CAST({args[2]} AS TIMESTAMP))"
                if len(args) == 3
                else "0"
            )
            t = f"unix_micros(CAST({args[1]} AS TIMESTAMP))"
            return (
                f"timestamp_micros(CAST(floor(({t} - {origin}) / {stride}) AS BIGINT)"
                f" * {stride} + {origin})"
            )

        def rename_agg(spark_name: str, arity=(1,)):
            # DataFusion aggregate names Spark spells differently —
            # aggregates can't be SQL UDFs, so the SQL path renames at
            # macro time (function-reference.md inherits all DataFusion
            # aggregates: APPROX_PERCENTILE_CONT / APPROX_DISTINCT /
            # APPROX_MEDIAN)
            def render(args: list[str]) -> str:
                if len(args) not in arity:
                    raise ValueError(
                        f"{spark_name}: got {len(args)} args, want {arity}")
                return f"{spark_name}({', '.join(a.strip() for a in args)})"

            return render

        expand("pressure_to_depth_teos_10", render_depth)
        expand("date_bin", render_date_bin)
        # approx_percentile_cont's optional 3rd arg is the t-digest
        # centroid count — Spark's approx_percentile 3rd arg (accuracy)
        # plays the same precision-knob role, so it passes through
        expand("approx_percentile_cont",
               rename_agg("approx_percentile", (2, 3)))
        expand("approx_distinct", rename_agg("approx_count_distinct"))

        def render_approx_median(args: list[str]) -> str:
            if len(args) != 1:
                raise ValueError(
                    f"approx_median: got {len(args)} args, want (1,)")
            return f"approx_percentile({args[0].strip()}, 0.5)"

        expand("approx_median", render_approx_median)

        # DataFusion array functions are POLYMORPHIC (the element type
        # rides through), so they rename at macro time rather than as
        # typed SQL UDFs. array_element/list_extract map onto
        # try_element_at — DataFusion returns NULL out of bounds, and
        # Spark 4's ANSI-default element_at would error instead.
        # (DataFusion's end-exclusive range() is NOT renamed: Spark's
        # range() table function owns the name in FROM position —
        # generate_series covers the documented inclusive form.)
        def render_array_length(args: list[str]) -> str:
            if len(args) == 1:
                return f"size({args[0].strip()})"
            if len(args) == 2:
                # dimension argument: 1-D arrays only — other dims NULL
                return (f"(CASE WHEN ({args[1].strip()}) = 1 "
                        f"THEN size({args[0].strip()}) END)")
            raise ValueError(
                f"array_length: got {len(args)} args, want 1 or 2")

        def render_array_concat(args: list[str]) -> str:
            if len(args) < 2:
                raise ValueError("array_concat takes 2+ arrays")
            return f"concat({', '.join(a.strip() for a in args)})"

        expand("array_length", render_array_length)
        expand("array_has", rename_agg("array_contains", (2,)))
        expand("array_element", rename_agg("try_element_at", (2,)))
        expand("list_extract", rename_agg("try_element_at", (2,)))
        expand("array_dims",
               lambda args: f"array(size({args[0].strip()}))")
        expand("generate_series", rename_agg("sequence", (2, 3)))
        expand("array_to_string", rename_agg("array_join", (2, 3)))
        expand("array_concat", render_array_concat)
        expand("arrow_typeof",
               lambda args: f"__arrow_typename(typeof({args[0].strip()}))")
        return statement

    def _rewrite_extract_fields(self, statement: str) -> str:
        """DataFusion/Postgres EXTRACT fields Spark numbers differently
        or lacks (DIVERGENCES #15/#16, closed r14):

        - ``EXTRACT(DOW FROM x)`` / ``date_part('dow', x)`` /
          ``datepart('dow', x)`` (the reference's documented alias) —
          the reference numbers Sunday=0..Saturday=6 (Postgres),
          Spark's native DOW is Sunday=1..7 → ``dayofweek(x) - 1``;
        - ``EXTRACT(EPOCH FROM x)`` / ``date_part('epoch', x)`` /
          ``datepart('epoch', x)`` — fractional seconds since the
          epoch; not a Spark extract field →
          ``unix_micros(CAST(x AS TIMESTAMP)) / 1e6``.

        Every other field passes through to Spark's native
        EXTRACT/date_part/datepart (Spark accepts the 2-arg quoted
        form for all three spellings). Paren matching and
        string-literal blanking ride the shared lexer scrub, same as
        the macro expander."""
        low = statement.lower()
        if ("extract" not in low and "date_part" not in low
                and "datepart" not in low):
            return statement
        rx = re.compile(r"\b(extract|date_part|datepart)\s*\(",
                        re.IGNORECASE)
        pos = 0
        while True:
            blanked = _noncode_blanked(statement)
            m = rx.search(blanked, pos)
            if not m:
                return statement
            start = m.end()
            end = _matching_paren_end(blanked, start)
            if end < 0:
                return statement  # malformed — let Spark's parser raise
            inner = statement[start:end - 1]
            field = expr = None
            if m.group(1).lower() == "extract":
                fm = re.match(r"(?is)^\s*(\w+)\s+FROM\s+(.*)$", inner)
                if fm:
                    field, expr = fm.group(1).lower(), fm.group(2)
            else:
                args = _split_top_level(inner)
                if len(args) == 2:
                    am = re.match(r"(?i)^\s*'(\w+)'\s*$", args[0])
                    if am:
                        field, expr = am.group(1).lower(), args[1]
            if field == "dow":
                repl = f"(dayofweek({expr}) - 1)"
            elif field == "epoch":
                # CAST to DOUBLE first: bigint / decimal-literal would
                # yield DECIMAL where the reference returns Float64
                repl = (f"(CAST(unix_micros(CAST(({expr}) AS TIMESTAMP))"
                        f" AS DOUBLE) / 1000000.0)")
            else:
                pos = m.end()  # native Spark field (or not a field call)
                continue
            statement = statement[:m.start()] + repl + statement[end:]
            # rescan from the splice: expr itself may contain another
            # extract/date_part; the replacement text never re-matches
            pos = m.start()

    def _rewrite_numeric_trunc(self, statement: str) -> str:
        """DataFusion's numeric ``trunc(x[, d])`` (DIVERGENCES #3):
        Spark's builtin ``trunc(date, fmt)`` shadows the name, so the
        numeric form was simply unavailable. The rewrite is strictly
        ADDITIVE: it only fires on shapes Spark's trunc would REJECT
        anyway (one argument, or a non-string-literal second argument —
        Spark requires a string format), so no working query changes.
        Truncation toward zero via ``x - x % 1`` (magnitude-safe where
        a BIGINT cast would overflow ANSI-style); ``nanvl`` restores
        ±inf (inf % 1 is NaN)."""
        if "trunc" not in statement.lower():
            return statement
        rx = re.compile(r"(?<![\w.])trunc\s*\(", re.IGNORECASE)
        pos = 0
        while True:
            blanked = _noncode_blanked(statement)
            m = rx.search(blanked, pos)
            if not m:
                return statement
            start = m.end()
            end = _matching_paren_end(blanked, start)
            if end < 0:
                return statement
            args = _split_top_level(statement[start:end - 1])
            if len(args) == 2 and re.match(r"^\s*'", args[1]):
                pos = m.end()  # Spark's native trunc(date, 'fmt')
                continue
            if len(args) not in (1, 2):
                pos = m.end()
                continue
            a = f"CAST(({args[0]}) AS DOUBLE)"
            if len(args) == 1:
                repl = f"nanvl({a} - ({a} % 1), {a})"
            else:
                s = f"power(10, CAST(({args[1]}) AS INT))"
                repl = (f"nanvl(({a} * {s} - (({a} * {s}) % 1)) / {s}, "
                        f"{a})")
            statement = statement[:m.start()] + repl + statement[end:]
            pos = m.start()

    def _rewrite_qualify(self, statement: str) -> str:
        """``QUALIFY <pred>`` (docs sql/index.md:46-48 — DataFusion dialect)
        → filter over a computed window column. The predicate (which may be
        a window expression or reference select aliases) becomes an extra
        select item on the inner query, filtered then dropped:

          SELECT ... FROM t QUALIFY p [ORDER BY/LIMIT tail]
          ⇒ SELECT * EXCEPT (__q) FROM
              (SELECT __orig.*, (p) AS __q FROM (SELECT ...) __orig) __f
            WHERE __q [tail]

        A QUALIFY nested in a CTE body or subquery rewrites too: the
        enclosing paren group's body is rewritten recursively (innermost
        first), so ``WITH a AS (… QUALIFY rn=1) SELECT …`` works.

        Limitation: a window in the predicate may only reference columns
        the inner select exposes (true for alias-style and self-contained
        QUALIFY, the documented uses)."""
        blanked = _noncode_blanked(statement)
        m = _QUALIFY_RE.search(blanked)
        if not m:
            return statement
        depth = blanked[:m.start()].count("(") - blanked[:m.start()].count(")")
        if depth > 0:
            # rewrite the ENCLOSING paren group's body on its own, then
            # re-scan the whole statement (each pass consumes one
            # QUALIFY keyword, so this terminates)
            bal = 0
            open_idx = -1
            for i in range(m.start() - 1, -1, -1):
                ch = blanked[i]
                if ch == ")":
                    bal += 1
                elif ch == "(":
                    if bal == 0:
                        open_idx = i
                        break
                    bal -= 1
            if open_idx < 0:
                return statement  # unbalanced — don't guess
            end = _matching_paren_end(blanked, open_idx + 1)
            if end < 0:
                return statement
            inner_sql = self._rewrite_qualify(statement[open_idx + 1:end - 1])
            return self._rewrite_qualify(
                statement[:open_idx + 1] + inner_sql + statement[end - 1:]
            )
        inner = statement[: m.start()].rstrip()
        rest = statement[m.end():].strip().rstrip(";")
        # predicate runs until an ORDER BY / LIMIT / OFFSET at paren
        # depth 0 — found on the shared-lexer scrub, so an ORDER BY
        # inside OVER(...) and a 'LIMIT' inside a string literal both
        # belong to the predicate
        km = re.search(
            r"\b(ORDER\s+BY|LIMIT|OFFSET)\b",
            _top_level_blanked(rest), re.IGNORECASE,
        )
        split_at = km.start() if km else None
        pred = rest[:split_at].strip() if split_at is not None else rest
        tail = " " + rest[split_at:] if split_at is not None else ""
        return (
            f"SELECT * EXCEPT (__q) FROM "
            f"(SELECT __orig.*, ({pred}) AS __q FROM ({inner}) __orig) __f "
            f"WHERE __q{tail}"
        )

    # ------------------------------------------------------------ json dsl

    def query(self, body: dict[str, Any], output_path: str | None = None,
              user: str | None = None, read_only: bool = False) -> DataFrame:
        """JSON query DSL (or ``{"sql": ...}``) → DataFrame — the two forms
        compile to the same plans (README.md:117-119). An ``output`` block
        (``{"format": ..., ...options}``) plus ``output_path`` writes the
        result in the requested format (query/output.rs). ``user`` gates
        the query through RBAC: ``auth.authorize_dsl`` gates the output
        block, and ``resolve_from`` checks the ``from`` it reads;
        ``read_only`` refuses file output and reaches the ``sql`` form."""
        body = dict(body)
        if user is not None and self.catalog is not None:
            if "sql" not in body:
                _auth.authorize_dsl(self, body, user)
            elif body.get("output") or output_path:
                # the sql branch must gate output blocks exactly like
                # the DSL branch: file output is a write
                _auth.require_super(
                    self, user,
                    "operation not permitted: query file output requires "
                    "super-user privileges",
                )
        output = body.pop("output", None)
        if read_only and output is not None and output_path is not None:
            raise _auth.WriteRefused(_auth.READ_ONLY)
        df = (
            self.sql(body["sql"], user=user, read_only=read_only)
            if "sql" in body
            else dsl.compile_query(self, body, user=user)
        )
        if output is not None and output_path is not None:
            from beacon_spark.outputs import write_output

            opts = {k: v for k, v in output.items() if k != "format"}
            write_output(df, output["format"], output_path, **opts)
        return df

    def _pruned_managed_read(
        self, name: str, ranges, terms=None, eqs=None
    ) -> "DataFrame | None":
        """Index-backed file pruning for managed tables, fail-open:

        - btree index + numeric value ranges -> file-stats min/max pruning
        - inverted index + ``contains``/LIKE terms -> token-posting
          pruning (substring-of-token match: every query piece must have
          a posted token containing it for a file to survive;
          managed.py:inverted_prune)
        - bitmap index + eq / OR-of-eq clauses -> value-posting pruning
          (type-gated: string values against string columns, int values
          against integral columns — representation mismatches would
          falsely prune; managed.py:bitmap_prune)

        All prune the FILE LIST before the scan opens; when several
        apply the survivor set is the intersection. Returns None when no
        index narrows anything — caller falls back to the registered
        view."""
        if (
            (not ranges and not terms and not eqs)
            or self.datasets_root is None
            or self.catalog is None
        ):
            return None
        try:
            c = self.catalog._load()
        except Exception:
            return None
        path = c.get("tables", {}).get(name)
        if not path:
            return None
        from beacon_spark.managed import ManagedTable
        from beacon_spark.schema import align_to_schema
        from beacon_spark.stats import prune_files

        mt = ManagedTable(self.spark, path)
        files = mt.files()
        survivors = files
        if ranges and any(
            d["table"] == name
            and d["using"] == "btree"
            # multi-column (Z-order) indexes: any member column's range
            # prunes — files are value hyper-rectangles on all of them
            and any(col in ranges for col in d["column"].split(","))
            for d in c.get("indexes", {}).values()
        ):
            survivors = prune_files(self.datasets_root, survivors, ranges)
        if terms:
            for iname, d in c.get("indexes", {}).items():
                if (
                    d["table"] == name
                    and d["using"] == "inverted"
                    and d["column"] in terms
                ):
                    hit = mt.inverted_prune(iname, terms[d["column"]])
                    if hit is not None:
                        keep = set(hit)
                        survivors = [f for f in survivors if f in keep]
        if eqs:
            schema = {f.name: f.dataType for f in mt.schema().fields}
            for iname, d in c.get("indexes", {}).items():
                if (
                    d["table"] == name
                    and d["using"] == "bitmap"
                    and d["column"] in eqs
                ):
                    dt = schema.get(d["column"])
                    # type gate: only (value, column-type) combinations
                    # whose stringification matches Spark's
                    # cast-to-string exactly may prune — anything else
                    # is dropped (fail-open, never falsely prunes)
                    clauses = []
                    for cl in eqs[d["column"]]:
                        conv = [_bitmap_key(v, dt) for v in cl]
                        if all(x is not None for x in conv):
                            clauses.append(conv)
                    if not clauses:
                        continue
                    hit = mt.bitmap_prune(iname, clauses)
                    if hit is not None:
                        keep = set(hit)
                        survivors = [f for f in survivors if f in keep]
        if survivors == files:
            return None
        if not survivors:
            return self.spark.createDataFrame([], mt.schema())
        from beacon_spark.sources import bytesource as _bs

        # schema pinned: survivors can mix pre-/post-ALTER files (see
        # ManagedTable._read_files — footer inference would null newer
        # columns)
        return align_to_schema(
            self.spark.read.schema(mt.schema()).parquet(
                *_bs.spark_paths(survivors)
            ),
            mt.schema(),
        )

    def _refresh_index_stats(self, table: str) -> None:
        """After DML on an indexed managed table, re-analyze its (new)
        files so the stats index tracks the live version. Incremental by
        mtime — cost ∝ rewritten files."""
        if self.datasets_root is None or self.catalog is None:
            return
        c = self.catalog._load()
        if table not in c.get("tables", {}) or not any(
            d["table"] == table for d in c.get("indexes", {}).values()
        ):
            return
        from beacon_spark.managed import ManagedTable
        from beacon_spark.stats import analyze_files

        mt = ManagedTable(self.spark, c["tables"][table])
        analyze_files(self.datasets_root, mt.files())
        for iname, d in c.get("indexes", {}).items():
            if d["table"] == table and d["using"] == "inverted":
                # incremental: only files new since the last build are
                # tokenized (build_inverted_index keys postings by file)
                mt.build_inverted_index(d["column"], iname)
            elif d["table"] == table and d["using"] == "bitmap":
                mt.build_bitmap_index(d["column"], iname)

    def resolve_from(
        self,
        spec: Any,
        projection: list[str] | None = None,
        ranges: dict | None = None,
        terms: dict | None = None,
        eqs: dict | None = None,
        user: str | None = None,
    ) -> DataFrame:
        """Resolve a DSL ``from`` (query/from.rs:23-131): named table, or
        ``{"<format>": {"paths": [...], ...}}``. The one place a format
        name becomes a reader: SQL ``read_*`` calls and their
        ``read_*_schema`` twins, the embedded client's readers, catalog
        external tables and attached roots all build their from-spec and
        come here. ``projection`` is the DSL compiler's pushdown column
        set — Catalyst prunes scans on its own, so it only gates nd
        readers (which prune variables).
        ``ranges`` (column → [lo, hi] from the filter) drives stats-index
        file pruning for parquet collections (fail-open).
        ``user``'s SELECT grants (auth.py) are checked before anything
        is opened: a name as a table (or the table its time-travel
        snapshot pins), a spec's paths as paths."""
        gate = None
        if user is not None and self.catalog is not None:
            gate = _auth.read_gate(self, user)
        if spec is None:
            if self.default_table is None:
                raise ValueError("query has no 'from' and engine has no default table")
            spec = self.default_table
        if isinstance(spec, str):
            if gate is not None:
                gate.table(self._snapshot_base(spec) or spec)
            if self.catalog is not None:
                # the DSL path must see catalog tables too (sql() does
                # this in its own preamble)
                self._register_catalog()
            pruned = self._pruned_managed_read(spec, ranges, terms, eqs)
            if pruned is not None:
                return pruned
            return self.spark.table(spec)
        if isinstance(spec, dict):
            if len(spec) != 1 or not isinstance(next(iter(spec)), str):
                raise ValueError(
                    "from spec must be one {'<format>': {...}} entry, "
                    f"got: {spec!r}")
            ((fmt, cfg),) = spec.items()
            if gate is not None:
                gate.source(cfg)
            fmt = fmt.lower()
            # the one location of a table, repository or database format
            loc = cfg["paths"][0] if cfg.get("paths") else cfg.get("location")
            paths, root = cfg.get("paths"), self.datasets_root
            if fmt == "parquet":
                if ranges and root:
                    from beacon_spark.stats import prune_files

                    files = _paths.resolve_globs(paths, root)
                    pruned = prune_files(root, files, ranges)
                    # read the resolved list, pruned or not (no root: it
                    # is already joined); re-passing the globs would list
                    # the collection a second time
                    if not pruned:
                        # every file provably dead → empty frame, full schema
                        full = tabular.read_parquet(self.spark, files, None)
                        return self.spark.createDataFrame([], full.schema)
                    return tabular.read_parquet(self.spark, pruned, None)
                return tabular.read_parquet(self.spark, paths, root)
            if fmt == "csv":
                # a catalog entry carries its delimiter in OPTIONS
                delimiter = (cfg.get("options") or {}).get(
                    "delimiter", cfg.get("delimiter"))
                return tabular.read_csv(self.spark, paths, root, delimiter,
                                        cfg.get("infer_records"))
            if fmt == "arrow":
                return tabular.read_arrow(self.spark, paths, root)
            if fmt in _ND_FMTS:
                # nd projection pushdown: the scan flattens and ships
                # ONLY the select+filter column set (None = all).
                # Range/term/eq keys join the set (they are source
                # columns by construction)
                nd_cols = None
                if projection is not None:
                    nd_cols = _with_dot_prefixes(
                        set(projection).union(ranges or {}, terms or {},
                                              eqs or {}))
                empty = False
                if fmt == "atlas":
                    # atlas.json markers (exact or glob) expand to
                    # per-dataset scan units AFTER stats pruning: datasets
                    # whose column stats cannot match ``ranges`` are
                    # dropped before any array data is read (the format's
                    # headline capability, beacon-arrow-atlas pruning.rs)
                    from beacon_spark.sources import atlaslite

                    markers = _paths.resolve_globs(paths, root)
                    paths = [f"{mk}{atlaslite.DATASET_SEP}{name}"
                             for mk in markers
                             for name in atlaslite.prune_datasets(mk, ranges)]
                    # all datasets pruned: empty frame, full-store schema
                    empty, root = not paths, None
                    if empty:
                        paths = [f"{mk}{atlaslite.DATASET_SEP}{name}"
                                 for mk in markers
                                 for name in atlaslite.list_datasets(mk)]
                df = read_nd(self.spark, "netcdf" if fmt == "hdf5" else fmt,
                             paths, root, cfg.get("dimensions"),
                             ranges=ranges, columns=nd_cols)
                return df.limit(0) if empty else df
            if fmt in ("odv", "odv_ascii"):
                from beacon_spark.sources.odv import read_odv

                return read_odv(self.spark, paths, root)
            if fmt == "delta":
                from beacon_spark.sources.delta import read_delta

                return read_delta(self.spark, loc, root,
                                  cfg.get("version_as_of"),
                                  cfg.get("timestamp_as_of"))
            if fmt == "geoparquet":
                from beacon_spark.sources.geoparquet import read_geoparquet

                return read_geoparquet(self.spark, paths, root)
            if fmt == "iceberg":
                from beacon_spark.sources.iceberg import read_iceberg

                return read_iceberg(self.spark, loc, root,
                                    cfg.get("snapshot_id"))
            if fmt == "icechunk":
                # repository detection + refs/version resolution are
                # real (sources/icechunklite.py, mirroring the
                # reference's repository.rs); array decode gates at the
                # FlatBuffers layer with a documented finding
                from beacon_spark.sources.icechunklite import open_icechunk
                from beacon_spark.sources.paths import resolve_dir

                return open_icechunk(
                    resolve_dir(loc, self.datasets_root),
                    branch=cfg.get("branch"), tag=cfg.get("tag"),
                    snapshot=cfg.get("snapshot"),
                )
            if fmt == "bbf":
                # bbf is Beacon's proprietary container (SURVEY.md §2.1:
                # documented out of scope)
                raise NotImplementedError(
                    f"format {fmt!r} is recognized but not supported in this build"
                )
            if fmt == "remote":
                # one-table Beacon-to-Beacon federation: CREATE EXTERNAL
                # TABLE … STORED AS REMOTE LOCATION
                # 'beacon://host:port/<table>' (the reference's remote
                # provider; contract: integration-tests/
                # test_remote_federation.py). A lazy beacon_remote
                # DataSource scan: filters push into the remote WHERE,
                # Arrow batches stream to an executor.
                return self._remote_table_df(loc, cfg.get("options") or {})
            if fmt in ("postgres", "mysql"):
                return self._sqldb_df(fmt, loc, cfg.get("options") or {})
            raise ValueError(f"unsupported from format: {fmt}")
        raise ValueError(f"bad from spec: {spec!r}")

    # ------------------------------------------------------------ stats

    def analyze_files(self, force: bool = False) -> int:
        from beacon_spark.stats import analyze_files

        if self.datasets_root is None:
            raise ValueError("Engine has no datasets_root configured")
        return analyze_files(self.datasets_root, force=force)

    def view_statistics(self, gate=None) -> DataFrame:
        """The statistics index; with a restricted caller's ``gate``,
        only the rows of the files it may read."""
        from beacon_spark.stats import statistics_df

        return statistics_df(self.spark, self.datasets_root,
                             None if gate is None else gate.allows_path)
