"""Tabular sources: parquet / csv / arrow-ipc with supertype schema merge.

The reference's ``FileCollection`` builds one logical table over N files by
merging per-file schemas through the supertype lattice
(``beacon-datafusion-ext/src/file_collection.rs:1-62``). Spark's
``mergeSchema`` only handles name-union of *compatible* types, so we:

  1. resolve the globs to a file list, then read per-file schemas
     (parquet footer / IPC header) driver-side in a thread pool — the same
     O(files) metadata pass the reference performs. Footers of object-store
     URIs are read through the scheme's pyarrow filesystem;
  2. group files by identical schema — the common case is ONE group, read
     with ``spark.read.schema(<footer schema>).parquet(*files)`` (paths in
     their JVM form, ``bytesource.spark_path``): the schema those footers
     already gave is handed to Spark, so planning starts no
     schema-inference job, and pushdown/pruning stay intact. Spark still
     stats the given files; above 32 paths it does so in one listing job
     with one task per core (``session.get_spark``), not one per file;
  3. heterogeneous groups are each read natively, aligned to the super
     schema (cast/NULL-fill projections — no shuffle), and unioned.

Hive-partitioned roots skip the footer pass and keep Spark's own
partition discovery (``mergeSchema``). Arrow IPC reads merge their IPC
header schemas the same way and align each file to the merged schema in
the scan task (``mapInArrow``).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.ipc as pa_ipc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from beacon_spark.schema import align_to_schema, super_schema
from beacon_spark.sources import bytesource as bs
from beacon_spark.sources.paths import expand_parquet_dirs, resolve_globs


def _arrow_to_spark_schema(schema: pa.Schema,
                           ns_as_long: bool = False) -> T.StructType:
    """Arrow → Spark schema, with the documented unsigned/ns divergences
    (SURVEY.md §1.2): UInt8/16/32 → next wider signed, UInt64 →
    Decimal(20,0), ns timestamps → µs (or, with ``ns_as_long``, the long
    Spark's ``nanosAsLong`` parquet reads return)."""
    return T.StructType.fromJson(_type_json(pa.struct(list(schema)), ns_as_long))


_SIMPLE = {
    pa.bool_(): "boolean",
    pa.int8(): "byte", pa.int16(): "short", pa.int32(): "integer", pa.int64(): "long",
    pa.uint8(): "short", pa.uint16(): "integer", pa.uint32(): "long",
    pa.float16(): "float", pa.float32(): "float", pa.float64(): "double",
    pa.string(): "string", pa.large_string(): "string",
    pa.binary(): "binary", pa.large_binary(): "binary",
    pa.date32(): "date", pa.date64(): "date",
    pa.null(): "void",
}


def _type_json(t: pa.DataType, ns_as_long: bool = False):
    if t in _SIMPLE:
        return _SIMPLE[t]
    if pa.types.is_uint64(t):
        return "decimal(20,0)"
    if pa.types.is_timestamp(t):
        if ns_as_long and t.unit == "ns":
            return "long"
        return "timestamp" if t.tz is not None else "timestamp_ntz"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return {"type": "array",
                "elementType": _type_json(t.value_type, ns_as_long),
                "containsNull": True}
    if pa.types.is_struct(t):
        return {"type": "struct",
                "fields": [{"name": f.name,
                            "type": _type_json(f.type, ns_as_long),
                            "nullable": True, "metadata": {}} for f in t]}
    if pa.types.is_map(t):
        return {"type": "map", "keyType": _type_json(t.key_type, ns_as_long),
                "valueType": _type_json(t.item_type, ns_as_long),
                "valueContainsNull": True}
    if pa.types.is_dictionary(t):
        return _type_json(t.value_type, ns_as_long)
    raise TypeError(f"unsupported arrow type {t}")


def _schemas_parallel(files: list[str], read_one) -> list:
    if len(files) == 1:
        return [read_one(files[0])]
    with ThreadPoolExecutor(max_workers=min(32, len(files))) as ex:
        return list(ex.map(read_one, files))


def _read_harmonized(
    spark: SparkSession,
    files: list[str],
    schemas: list[T.StructType],
) -> DataFrame:
    """One parquet read per group of files with the same footer schema,
    each with that schema supplied; several groups are aligned to their
    supertype schema and unioned."""
    groups: dict[tuple, list[str]] = {}
    spark_schemas: dict[tuple, T.StructType] = {}
    for f, sp in zip(files, schemas):
        key = tuple((fld.name, fld.dataType.simpleString()) for fld in sp.fields)
        groups.setdefault(key, []).append(f)
        spark_schemas[key] = sp
    parts = [spark.read.schema(spark_schemas[key]).parquet(*bs.spark_paths(grp))
             for key, grp in groups.items()]
    if len(parts) == 1:
        return parts[0]
    target = super_schema(list(spark_schemas.values()))
    out = align_to_schema(parts[0], target)
    for p in parts[1:]:
        out = out.unionByName(align_to_schema(p, target))
    return out


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _parquet_spark_schema(spark: SparkSession, path: str,
                          ns_as_long: bool) -> T.StructType:
    """The schema Spark would infer from one parquet footer, without a
    Spark job. A Spark writer stores its own schema in the footer, and
    Spark's inference returns exactly that; other files convert their
    Arrow schema. INT96 columns (legacy Hive/Impala timestamps), which
    pyarrow reports as zone-less ns, are Spark's zoned timestamp; a
    nested INT96 leaf from a non-Spark writer is left to Spark's
    inference. ns timestamps follow the session's ``nanosAsLong``: long
    when it is on; otherwise a timestamp the scan refuses, as inference
    refuses the file."""
    p, fs = bs.dataset_source(path)
    md = pq.read_metadata(p, filesystem=fs)
    stored = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored:
        return T.StructType.fromJson(json.loads(stored))
    int96 = {md.schema.column(i).path for i in range(md.num_columns)
             if md.schema.column(i).physical_type == "INT96"}
    if any("." in c for c in int96):
        return spark.read.parquet(bs.spark_path(path)).schema
    schema = md.schema.to_arrow_schema()
    return _arrow_to_spark_schema(pa.schema([
        f.with_type(pa.timestamp("us", tz="UTC")) if f.name in int96 else f
        for f in schema]), ns_as_long)


# ---------------------------------------------------------------- parquet


def read_parquet(
    spark: SparkSession,
    paths: str | list[str],
    datasets_root: str | None = None,
) -> DataFrame:
    """``read_parquet(globs)`` (table-functions.md:25-40)."""
    from beacon_spark.schema import union_all_by_name
    from beacon_spark.sources.paths import _is_hive_partitioned

    resolved = resolve_globs(paths, datasets_root)
    # Hive-partitioned roots go to spark.read UNEXPANDED so partition
    # columns are derived and partition pruning works; plain files/dirs
    # take the footer-scan supertype path
    hive = [f for f in resolved if _is_hive_partitioned(f)]
    hive_set = set(hive)  # membership by set: resolved can be 100k files
    files = expand_parquet_dirs([f for f in resolved if f not in hive_set])
    parts: list[DataFrame] = [
        spark.read.option("mergeSchema", "true").parquet(bs.spark_path(h))
        for h in hive
    ]
    if files:
        ns_as_long = spark.conf.get(
            "spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
        schemas = _schemas_parallel(
            files, lambda f: _parquet_spark_schema(spark, f, ns_as_long))
        parts.append(_read_harmonized(spark, files, schemas))
    if not parts:
        raise FileNotFoundError(f"no parquet inputs matched {paths!r}")
    return parts[0] if len(parts) == 1 else union_all_by_name(*parts)


# ---------------------------------------------------------------- csv


def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    datasets_root: str | None = None,
    delimiter: str | None = None,
    infer_records: int | None = None,
) -> DataFrame:
    """``read_csv(globs[, delimiter, infer_records])``
    (table-functions.md:171-186). The schema is inferred from only the
    first N data rows — ``infer_records`` defaults to the reference's
    128000 (r14, DIVERGENCES #9 closed) — and APPLIED to the full
    scan: at 100 TB Spark's unbounded ``inferSchema`` pass is itself a
    full read, so bounding it matters for scale as much as parity.
    Later rows that don't parse as the sampled type become NULL
    (PERMISSIVE), exactly the sampling trade the reference makes.
    Pass ``infer_records=-1`` for Spark's unbounded one-pass
    inference over every file."""
    files = bs.spark_paths(resolve_globs(paths, datasets_root))
    sep = delimiter or ","
    base = spark.read.option("header", "true").option("sep", sep)
    if infer_records is None:
        infer_records = 128_000
    if int(infer_records) < 0:
        return base.option("inferSchema", "true").csv(files)
    # sample-limited inference: header + N lines of the first file,
    # through Spark's OWN csv inference (type conventions identical to
    # the unbounded path), then the schema pins the full scan
    sample = (
        spark.read.text(files[0]).limit(int(infer_records) + 1)
        .rdd.map(lambda r: r.value)
    )
    schema = (
        spark.read.option("header", "true").option("sep", sep)
        .option("inferSchema", "true").csv(sample).schema
    )
    return base.schema(schema).csv(files)


# ---------------------------------------------------------------- arrow ipc


def _ipc_source(path: str):
    """Path → what pyarrow.ipc can open: the raw path for local files
    (mmap), whole-object bytes for object-store URIs (pa_ipc.open_file
    took only raw paths before, so every remote .arrow read failed while
    parquet/csv/nd happily read the same store)."""
    if bs.is_uri(path):
        return pa.BufferReader(bs.read_bytes(path))
    return path


class _LazyBufFile:
    """Seekable file facade over a LazyBuf — schema probes read only
    the bytes pyarrow actually touches (ranged GETs), not the object."""

    def __init__(self, buf):
        self._buf = buf
        self._pos = 0

    def read(self, n=-1):
        if n is None or n < 0:
            n = len(self._buf) - self._pos
        # bs.read_range handles both buffer kinds (LazyBuf ranged GETs,
        # local file:// mmap slices)
        out = bs.read_range(self._buf, self._pos, n)
        self._pos += len(out)
        return out

    def seek(self, off, whence=0):
        base = (0, self._pos, len(self._buf))[whence]
        self._pos = max(0, base + off if whence else off)
        return self._pos

    def tell(self):
        return self._pos

    def seekable(self):
        return True

    def readable(self):
        return True

    @property
    def closed(self):  # pyarrow probes the ATTRIBUTE; a method is truthy
        return False

    def close(self):
        pass


def _ipc_schema(path: str) -> pa.Schema:
    # driver-side schema probe: a whole-object read here doubled the
    # egress of every remote .arrow query (the executor scan fetches
    # the object again) — ranged reads pull only the header messages
    src = (_LazyBufFile(bs.open_buffer(path)) if bs.is_uri(path)
           else path)
    try:
        with pa_ipc.open_file(src) as r:
            return r.schema
    except pa.ArrowInvalid:
        if hasattr(src, "seek"):
            src.seek(0)
        with pa_ipc.open_stream(src) as r:
            return r.schema


def read_arrow(
    spark: SparkSession,
    paths: str | list[str],
    datasets_root: str | None = None,
) -> DataFrame:
    """``read_arrow(globs)`` — Arrow IPC file/stream (.arrow/.feather).

    Distributed read: the *file list* is parallelized across executors and
    each task streams record batches out of its files via ``mapInArrow`` —
    no driver-side data materialization, so this scales with executor
    count. Schema harmonization happens driver-side on the (cheap) IPC
    headers only.
    """
    files = resolve_globs(paths, datasets_root)
    schemas = _schemas_parallel(files, _ipc_schema)
    spark_schemas = [_arrow_to_spark_schema(s) for s in schemas]
    target = super_schema(spark_schemas)
    target_arrow = pa.schema(
        [pa.field(f.name, _spark_to_arrow_type(f.dataType), True) for f in target.fields]
    )

    paths_df = spark.createDataFrame(
        [(f,) for f in files], T.StructType([T.StructField("path", T.StringType(), False)])
    ).repartition(min(len(files), 64))

    def _scan(batches):
        import pyarrow as pa  # noqa: F811  (executor-side import)
        import pyarrow.ipc as pa_ipc  # noqa: F811

        for b in batches:
            for path in b.column("path").to_pylist():
                src = _ipc_source(path)
                try:
                    with pa_ipc.open_file(src) as reader:
                        table = reader.read_all()
                except pa.ArrowInvalid:
                    if hasattr(src, "seek"):
                        src.seek(0)
                    with pa_ipc.open_stream(src) as r:
                        table = r.read_all()
                # align to the target schema: missing → null, cast the rest
                cols = []
                for fld in target_arrow:
                    if table.schema.get_field_index(fld.name) >= 0:
                        cols.append(table.column(fld.name).cast(fld.type))
                    else:
                        cols.append(pa.nulls(len(table), fld.type))
                aligned = pa.table(cols, schema=target_arrow)
                yield from aligned.to_batches(max_chunksize=1 << 16)

    return paths_df.mapInArrow(_scan, target)


def _spark_to_arrow_type(dt: T.DataType) -> pa.DataType:
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(dt)


# ---------------------------------------------------------------- helpers


def _schema_df(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """The rows a SQL ``read_<fmt>_schema`` introspection twin returns:
    (column_name, data_type, nullable) — table-functions-utility.md:6-33."""
    rows = [(f.name, f.dataType.simpleString(), True) for f in schema.fields]
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("column_name", T.StringType(), False),
                T.StructField("data_type", T.StringType(), False),
                T.StructField("nullable", T.BooleanType(), False),
            ]
        ),
    )
