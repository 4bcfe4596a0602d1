"""File-statistics index + scan-time file pruning.

The reference keeps a durable per-file/per-column min-max store
(``beacon-file-stats/src/lib.rs``), backfilled by ``ANALYZE FILES`` and a
background collector, and rewrites every listing scan's file list through
a pruning predicate — **fail-open** (a file with no stats is always kept)
(``file-stats/src/pruning.rs``, ``scan_pruning.rs``).

Spark design: the index is itself a parquet table
(``<datasets_root>/.beacon_stats/index.parquet``) with one row per
(file, column): path, mtime, row_count, column, min/max (as strings +
numeric doubles for range tests). Collection reads parquet FOOTERS only
(row-group statistics — no data scan) in a thread pool; at lake scale the
same loop runs as a Spark job over the file list.

Pruning happens before ``spark.read.parquet(files)``: the planner-side
file-list filter is a plain python pass over the index — the Spark analog
of the reference's ListingTable rewrite; Catalyst then still applies
row-group pruning inside the surviving files.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

from beacon_spark.sources import bytesource as bs

STATS_DIRNAME = ".beacon_stats"


def _open_parquet(path: str) -> pq.ParquetFile:
    """Footer access over local paths AND object-store URIs (ranged
    reads through the scheme's pyarrow filesystem)."""
    p, fs = bs.dataset_source(path)
    return pq.ParquetFile(p if fs is None else fs.open_input_file(p))

_SCHEMA = pa.schema(
    [
        pa.field("path", pa.string()),
        pa.field("mtime", pa.float64()),
        pa.field("row_count", pa.int64()),
        pa.field("column", pa.string()),
        pa.field("min_str", pa.string()),
        pa.field("max_str", pa.string()),
        pa.field("min_num", pa.float64()),
        pa.field("max_num", pa.float64()),
    ]
)


def _file_stats(path: str) -> list[dict]:
    """Footer-only stats for one parquet file: per-column global min/max
    across row groups."""
    md = _open_parquet(path).metadata
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if st is None or not st.has_min_max:
                mins[name] = maxs[name] = None
                continue
            if name not in mins or (
                mins[name] is not None and st.min is not None and st.min < mins[name]
            ):
                mins[name] = st.min
            if name not in maxs or (
                maxs[name] is not None and st.max is not None and st.max > maxs[name]
            ):
                maxs[name] = st.max
    mtime = bs.mtime(path)
    out = []
    for name in mins:
        mn, mx = mins[name], maxs[name]

        def as_num(v):
            # numeric/timestamp stats ONLY: parquet string stats are
            # LEXICAL min/max ("9" > "10"), so float()ing a
            # numeric-looking string inverted the interval and a numeric
            # WHERE could FALSELY prune a file whose rows match.
            # decimal.Decimal is genuinely numeric (totally ordered,
            # float() monotone) and must keep its interval
            import decimal

            if v is None or isinstance(v, bool) or isinstance(v, str):
                return None
            if isinstance(v, (int, float, decimal.Decimal)):
                return float(v)
            if hasattr(v, "timestamp"):
                import datetime as _dt

                # parquet stats hand back NAIVE datetimes holding the
                # UTC wall time (Spark writes isAdjustedToUTC micros);
                # bare .timestamp() would read them in the DRIVER's
                # local zone, skewing every interval by the UTC offset
                if getattr(v, "tzinfo", None) is None:
                    v = v.replace(tzinfo=_dt.timezone.utc)
                return v.timestamp()
            return None

        out.append(
            {
                "path": path,
                "mtime": mtime,
                "row_count": md.num_rows,
                "column": name,
                "min_str": None if mn is None else str(mn),
                "max_str": None if mx is None else str(mx),
                "min_num": as_num(mn),
                "max_num": as_num(mx),
            }
        )
    return out


def index_path(datasets_root: str) -> str:
    return bs.join(datasets_root, STATS_DIRNAME, "index.parquet")


def analyze_files(
    datasets_root: str,
    files: list[str] | None = None,
    force: bool = False,
) -> int:
    """``ANALYZE FILES ['prefix'] [FORCE]`` analog: (re)build the stats
    index for parquet files under the root. Incremental by mtime unless
    ``force``. Returns the number of files (re)analyzed."""
    from beacon_spark.sources.paths import expand_parquet_dirs

    if files is None:
        files = sorted(
            f
            for f in bs.glob(bs.join(datasets_root, "**", "*.parquet"))
            if STATS_DIRNAME not in f
        )
    # directory datasets → part files; dedupe (a dir glob can match both)
    files = sorted({f for f in expand_parquet_dirs(files) if bs.isfile(f)})
    idx_file = index_path(datasets_root)
    existing: dict[str, float] = {}
    rows: list[dict] = []
    if bs.exists(idx_file) and not force:
        prev = _read_index(idx_file)
        for r in prev:
            existing[r["path"]] = r["mtime"]
        # ONE liveness probe per unique file, not per (file, column)
        # index row — on an object store each exists() is a HEAD request,
        # so probe them concurrently too
        uniq = sorted({r["path"] for r in prev})
        with ThreadPoolExecutor(max_workers=min(32, max(1, len(uniq)))) as ex:
            alive = dict(zip(uniq, ex.map(bs.exists, uniq)))
        rows = [r for r in prev if alive[r["path"]]]

    todo = [
        f
        for f in files
        if force or f not in existing or bs.mtime(f) > existing[f]
    ]
    if todo:
        todo_set = set(todo)  # hoisted: the comprehension re-built it per row
        rows = [r for r in rows if r["path"] not in todo_set]
        with ThreadPoolExecutor(max_workers=min(32, len(todo))) as ex:
            for stats in ex.map(_file_stats, todo):
                rows.extend(stats)
    bs.makedirs(bs.dirname(idx_file))
    p, fs = bs.dataset_source(idx_file)
    pq.write_table(pa.Table.from_pylist(rows, schema=_SCHEMA), p, filesystem=fs)
    return len(todo)


def _read_index(idx_file: str) -> list[dict]:
    p, fs = bs.dataset_source(idx_file)
    return pq.read_table(p, filesystem=fs).to_pylist()


# ------------------------------------------------------------ ranges


def extract_contains_terms(node: Any) -> dict[str, list[str]]:
    """Walk a JSON-DSL filter, collecting AND-ed ``contains`` (and
    non-wildcard-leading LIKE) terms per column — these drive
    inverted-index file pruning on managed tables. OR branches contribute
    nothing (fail-open, same contract as :func:`extract_value_ranges`)."""
    terms: dict[str, list[str]] = {}

    def walk(n: Any) -> None:
        if not isinstance(n, dict):
            return
        if "and" in n:
            for c in n["and"]:
                walk(c)
            return
        if "or" in n or "geometry" in n:
            return
        col = n.get("column", n.get("for_query_parameter"))
        if not col:
            return
        if isinstance(n.get("contains"), str) and n["contains"]:
            terms.setdefault(col, []).append(n["contains"])
        like = n.get("like")
        if isinstance(like, str):
            # LIKE '%term%' and friends: the literal runs between
            # wildcards still token-match; extract them
            for piece in like.replace("_", "%").split("%"):
                if piece:
                    terms.setdefault(col, []).append(piece)

    walk(node)
    return terms


def extract_eq_clauses(node: Any) -> dict[str, list[list]]:
    """Walk a JSON-DSL filter, extracting CNF equality clauses per column
    for bitmap-index file pruning: each AND-ed ``eq`` leaf contributes a
    one-value clause; an OR whose branches are all ``eq`` on the SAME
    column contributes a clause of alternatives. Any other OR/geometry
    branch contributes nothing (fail-open). Values stay RAW (str|int) —
    the prune site stringifies under a column-type gate, because a
    representation mismatch vs Spark's cast-to-string would FALSELY
    prune."""
    clauses: dict[str, list[list]] = {}

    def walk(n: Any) -> None:
        if not isinstance(n, dict):
            return
        if "and" in n:
            for c in n["and"]:
                walk(c)
            return
        if "or" in n:
            branches = n["or"]
            cols = set()
            vals: list[str] = []
            for b in branches:
                if not (
                    isinstance(b, dict)
                    and b.get("column")
                    and _eq_indexable(b.get("eq"))
                ):
                    return  # not an eq-disjunction → fail-open
                cols.add(b["column"])
                vals.append(b["eq"])
            if len(cols) == 1 and vals:
                clauses.setdefault(cols.pop(), []).append(vals)
            return
        if "geometry" in n:
            return
        col = n.get("column", n.get("for_query_parameter"))
        if not col:
            return
        if _eq_indexable(n.get("eq")):
            clauses.setdefault(col, []).append([n["eq"]])

    walk(node)
    return clauses


def _eq_indexable(v: Any) -> bool:
    """Only str and int eq values map unambiguously onto the bitmap
    index's stringified token column (floats/bools/dates have
    representation mismatches vs Spark's cast-to-string — a "5" vs
    "5.0" disagreement would FALSELY prune; the prune site additionally
    type-gates against the column's dtype)."""
    return isinstance(v, str) or (isinstance(v, int) and not isinstance(v, bool))


def extract_value_ranges(node: Any) -> dict[str, tuple[float | None, float | None]]:
    """Walk a JSON-DSL filter, extracting per-column [lo, hi] ranges from
    AND-ed comparison leaves — the analog of the reference's
    ``PushdownFilter`` physical-predicate walk
    (``beacon-nd-array/src/arrow/pushdown_filter.rs:11-99``). OR branches
    contribute nothing (fail-open)."""
    ranges: dict[str, tuple[float | None, float | None]] = {}

    # Fractional bounds widen conservatively (floor the lo, ceil the hi):
    # the executed predicate truncates fractionals into integer columns
    # (dsl._coerce_number, filter/mod.rs:94-113), so `gt_eq: 10.4` runs as
    # `col >= 10` — pruning with the raw 10.4 would drop a file whose max
    # is exactly 10 even though its rows match. Widening is harmless for
    # float columns (strictly looser) and correct for integer ones.
    def _widen_lo(v: float) -> float:
        return math.floor(v)

    def _widen_hi(v: float) -> float:
        return math.ceil(v)

    def merge(col: str, lo: float | None, hi: float | None) -> None:
        cur = ranges.get(col, (None, None))
        nlo = cur[0] if lo is None else (lo if cur[0] is None else max(cur[0], lo))
        nhi = cur[1] if hi is None else (hi if cur[1] is None else min(cur[1], hi))
        ranges[col] = (nlo, nhi)

    def walk(n: Any) -> None:
        if not isinstance(n, dict):
            return
        if "and" in n:
            for c in n["and"]:
                walk(c)
            return
        if "or" in n or "geometry" in n:
            return
        col = n.get("column", n.get("for_query_parameter"))
        if not col:
            return
        ops = dict(n)
        if "min" in ops:
            ops.setdefault("gt_eq", ops["min"])
        if "max" in ops:
            ops.setdefault("lt_eq", ops["max"])
        for op, (lo, hi) in {
            "eq": ("v", "v"), "gt": ("v", None), "gt_eq": ("v", None),
            "lt": (None, "v"), "lt_eq": (None, "v"),
        }.items():
            if op in ops and isinstance(ops[op], (int, float)) and not isinstance(ops[op], bool):
                v = float(ops[op])
                merge(col, _widen_lo(v) if lo else None, _widen_hi(v) if hi else None)

    walk(node)
    return {c: r for c, r in ranges.items() if r != (None, None)}


def prune_files(
    datasets_root: str,
    files: list[str],
    ranges: dict[str, tuple[float | None, float | None]],
) -> list[str]:
    """Drop files whose stats prove no row can match. Fail-open: files
    absent from the index (or with null stats) are kept
    (file-stats/src/scan_pruning.rs — fail-open contract)."""
    idx_file = index_path(datasets_root)
    if not ranges or not bs.exists(idx_file):
        return files
    idx = _read_index(idx_file)
    by_file: dict[str, dict[str, dict]] = {}
    for r in idx:
        by_file.setdefault(r["path"], {})[r["column"]] = r

    kept = []
    for f in files:
        stats = by_file.get(f)
        if stats is None:
            kept.append(f)
            continue
        alive = True
        for col, (lo, hi) in ranges.items():
            s = stats.get(col)
            if s is None or s["min_num"] is None or s["max_num"] is None:
                continue
            if lo is not None and s["max_num"] < lo:
                alive = False
                break
            if hi is not None and s["min_num"] > hi:
                alive = False
                break
        if alive:
            kept.append(f)
    return kept


def statistics_df(spark, datasets_root: str, keep=None):
    """``view_statistics_cache`` / ``view_dataset_statistics`` analog;
    ``keep(path)`` (when given) chooses the files whose rows it holds."""
    from pyspark.sql import functions as F

    idx_file = index_path(datasets_root)
    if not bs.exists(idx_file):
        raise FileNotFoundError("no statistics index; run ANALYZE FILES first")
    df = spark.read.parquet(bs.spark_path(idx_file))
    if keep is None:
        return df
    p, fs = bs.dataset_source(idx_file)
    paths = pq.read_table(p, columns=["path"], filesystem=fs).column("path")
    return df.where(F.col("path").isin(
        [f for f in paths.unique().to_pylist() if keep(f)]))


def _stats_rows_for_file(f: str, cached: list[dict]) -> list[tuple]:
    """(column_name, data_type, min_value, max_value, is_exact) rows for
    ONE parquet file — from the cache rows when given, else straight
    from the footer (the reference computes on demand when the cache
    holds nothing — table-functions-utility.md:70-89)."""
    from beacon_spark.sources.tabular import _arrow_to_spark_schema

    schema = _arrow_to_spark_schema(_open_parquet(f).schema_arrow)
    types = {fld.name: fld.dataType.simpleString() for fld in schema.fields}
    rows = cached or _file_stats(f)
    return [
        (r["column"], types.get(r["column"]),
         r["min_str"], r["max_str"], True)
        for r in rows
    ]


def dataset_statistics_df(spark, engine, path: str):
    """``view_dataset_statistics('<path>')``: per-column min/max of one
    file — from the stats cache when present, computed ON DEMAND
    otherwise. Parquet reads footers only; other formats run one
    aggregate scan through their reader (exact by construction)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from beacon_spark.sources.paths import (
        detect_format,
        expand_parquet_dirs,
        resolve_globs,
    )

    out_schema = T.StructType([
        T.StructField("column_name", T.StringType()),
        T.StructField("data_type", T.StringType()),
        T.StructField("min_value", T.StringType()),
        T.StructField("max_value", T.StringType()),
        T.StructField("is_exact", T.BooleanType()),
    ])
    root = engine.datasets_root
    fmt = detect_format(path)
    rows: list[tuple] = []
    if fmt == "parquet":
        files = sorted({
            p for p in expand_parquet_dirs(resolve_globs(path, root))
            if bs.isfile(p)
        })
        idx_file = index_path(root) if root else None
        by_file: dict[str, list[dict]] = {}
        if idx_file and bs.exists(idx_file):
            for r in _read_index(idx_file):
                by_file.setdefault(r["path"], []).append(r)
        for f in files:
            cached = by_file.get(f, [])
            if cached and bs.mtime(f) > cached[0]["mtime"]:
                # the file changed since ANALYZE — serving the cache rows
                # as is_exact=true would report stale min/max; recompute
                # on demand (footer-only, same cost as the uncached path)
                cached = []
            rows.extend(_stats_rows_for_file(f, cached))
    else:
        # non-parquet: one aggregate scan through the format's reader
        df = engine.resolve_from({fmt: {"paths": [path]}})
        cols = [
            fld for fld in df.schema.fields
            if isinstance(fld.dataType, (T.NumericType, T.StringType,
                                         T.DateType, T.TimestampType,
                                         T.TimestampNTZType,
                                         T.BooleanType))
        ]
        aggs = []
        for fld in cols:
            aggs.append(F.min(F.col(f"`{fld.name}`")).cast("string")
                        .alias(f"__mn_{fld.name}"))
            aggs.append(F.max(F.col(f"`{fld.name}`")).cast("string")
                        .alias(f"__mx_{fld.name}"))
        agg = df.agg(*aggs).collect()[0] if aggs else None
        for fld in df.schema.fields:
            known = any(fld.name == c.name for c in cols)
            rows.append((
                fld.name, fld.dataType.simpleString(),
                agg[f"__mn_{fld.name}"] if known else None,
                agg[f"__mx_{fld.name}"] if known else None,
                known,
            ))
    return spark.createDataFrame(rows, out_schema)


def external_table_statistics_df(spark, engine, table: str):
    """``view_external_table_statistics('<t>')``: one row per cached
    (file, column) under the external table; a file the cache does not
    know appears ONCE with NULL column fields and cached=false — the
    doc's 'find files with no cached statistics' query shape."""
    from pyspark.sql import types as T

    from beacon_spark.sources.paths import expand_parquet_dirs, resolve_globs

    cat = engine.catalog._load()
    ext = cat["external_tables"].get(table)
    if ext is None:
        raise ValueError(f"unknown external table {table!r}")
    files = sorted({
        p for p in expand_parquet_dirs(
            resolve_globs(ext["paths"], engine.datasets_root))
        if bs.isfile(p)
    })
    idx_file = index_path(engine.datasets_root)
    by_file: dict[str, list[dict]] = {}
    if bs.exists(idx_file):
        for r in _read_index(idx_file):
            by_file.setdefault(r["path"], []).append(r)
    out_schema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("file_size", T.LongType()),
        T.StructField("cached", T.BooleanType()),
        T.StructField("column_name", T.StringType()),
        T.StructField("data_type", T.StringType()),
        T.StructField("min_value", T.StringType()),
        T.StructField("max_value", T.StringType()),
        T.StructField("is_exact", T.BooleanType()),
    ])
    rows: list[tuple] = []
    for f in files:
        size = int(bs.size(f))
        cached = by_file.get(f)
        if not cached:
            rows.append((f, size, False, None, None, None, None, None))
            continue
        for c in _stats_rows_for_file(f, cached):
            rows.append((f, size, True) + c)
    return spark.createDataFrame(rows, out_schema)
