"""Delta Lake source — pure-Python transaction-log replay, no delta-spark jar.

The reference reads Delta tables via the ``deltalake`` Rust crate
(``beacon-db/beacon-file-formats/beacon-delta/src/``, SURVEY.md §2.1).
Spark's first-party integration needs the delta-spark runtime jar, which is
not available here, so we implement the *read protocol* directly — it is
deliberately simple: a ``_delta_log/`` directory of ordered JSON commits
(+ periodic parquet checkpoints) whose ``add``/``remove`` actions define
the set of live parquet files at every version.

Scale design:
  - log replay is a driver-side **metadata-only** pass (same as delta-spark's
    Snapshot construction): O(actions since last checkpoint), never O(data).
  - the data read is a plain ``spark.read.schema(...).parquet(*files)`` over
    the live file list — full vectorized scan, predicate pushdown, and
    whole-stage codegen are preserved, and partition values are attached per
    partition-group so partition pruning happens via Catalyst constant
    folding on the literal columns.
  - time travel (``version_as_of``) replays the same log to an earlier stop
    point — no data copies.

Deletion vectors (readerFeatures ``deletionVectors``) are supported:
descriptors are decoded driver-side (sources/delta_dv.py — z85 +
roaring bitmap, metadata-sized work) and applied as an anti-join of
``(_metadata.file_path, _metadata.row_index)`` against the deleted-row
set — Spark's generated row-index metadata column keeps the scan fully
vectorized, and AQE broadcasts the (small) deleted set.

Column mapping (modes ``name`` and ``id``) is supported: the parquet
scan runs with the physical schema (``delta.columnMapping.physicalName``
from the field metadata, any nesting depth) and renames back to logical
names with positional struct casts — pure Catalyst, no data movement.
id-mode tables are matched via the physicalName delta-spark/delta-rs
always stamp alongside the ids; a mapped table without physicalName
metadata fails loudly. Generated columns are ignored.
"""

from __future__ import annotations

import json

from beacon_spark.sources import bytesource as _bs
import os
import re
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "read_delta", "write_delta", "delta_history",
    "delta_delete_rows",
]


@dataclass
class _Snapshot:
    version: int = -1
    schema: T.StructType | None = None
    partition_columns: list[str] = field(default_factory=list)
    # path -> partitionValues dict (live files only)
    adds: dict[str, dict] = field(default_factory=dict)
    # path -> deletionVector descriptor (files with deleted rows)
    dvs: dict[str, dict] = field(default_factory=dict)
    configuration: dict = field(default_factory=dict)
    min_reader: int = 1
    reader_features: list[str] = field(default_factory=list)
    writer_features: list[str] = field(default_factory=list)


def _log_dir(location: str) -> str:
    return _bs.join(location, "_delta_log")


def _list_commits(log: str) -> list[tuple[int, str]]:
    out = []
    for name in _bs.listdir(log):
        base, ext = os.path.splitext(name)
        if ext == ".json" and base.isdigit():
            out.append((int(base), _bs.join(log, name)))
    return sorted(out)


def _apply_action(snap: _Snapshot, action: dict) -> None:
    if "metaData" in action:
        md = action["metaData"]
        snap.schema = T.StructType.fromJson(json.loads(md["schemaString"]))
        snap.partition_columns = md.get("partitionColumns", [])
        snap.configuration = md.get("configuration", {}) or {}
    elif "protocol" in action:
        p = action["protocol"]
        snap.min_reader = p.get("minReaderVersion", 1)
        snap.reader_features = p.get("readerFeatures", []) or []
        snap.writer_features = p.get("writerFeatures", []) or []
    elif "add" in action:
        a = action["add"]
        snap.adds[a["path"]] = a.get("partitionValues", {}) or {}
        dv = a.get("deletionVector")
        if dv:
            snap.dvs[a["path"]] = dv
        else:
            snap.dvs.pop(a["path"], None)
    elif "remove" in action:
        snap.adds.pop(action["remove"]["path"], None)
        snap.dvs.pop(action["remove"]["path"], None)


def _unmap(v):
    """pyarrow map<string,string> → dict (checkpoints store partitionValues
    and configuration as Arrow maps, which to_pylist yields as tuple lists)."""
    if isinstance(v, list) and all(isinstance(x, tuple) and len(x) == 2 for x in v):
        return dict(v)
    return v


def _read_checkpoint(snap: _Snapshot, path: str) -> None:
    """A checkpoint parquet is the flattened action list at its version —
    one row per action, struct columns add/remove/metaData/protocol."""
    p, fs = _bs.dataset_source(path)
    f = pq.ParquetFile(p if fs is None else fs.open_input_file(p))
    # project the action columns only: checkpoints carry per-file stats
    # JSON this pass never reads, and to_pylist of the full table built
    # gigabytes of dead Python objects on large tables.
    # NOTE: checkpoint `remove` entries are VACUUM tombstones, NOT
    # logical removes — the checkpoint's add set IS the live file set.
    # Applying them popped a live remove-then-re-added file (the
    # standard DV DELETE pattern) whenever the tombstone row followed
    # the add row, silently dropping every row of that file.
    want = [c for c in ("protocol", "metaData", "add")
            if c in f.schema_arrow.names]
    tbl = f.read(columns=want)
    cols = set(tbl.column_names)
    for row in tbl.to_pylist():
        for key in ("protocol", "metaData", "add"):
            if key in cols and row.get(key) is not None:
                action = {
                    k: _unmap(v) for k, v in row[key].items()
                }
                _apply_action(snap, {key: action})


def _snapshot(location: str, version_as_of: int | None = None) -> _Snapshot:
    log = _log_dir(location)
    if not _bs.isdir(log):
        raise FileNotFoundError(f"not a Delta table (no _delta_log): {location}")
    snap = _Snapshot()
    commits = _list_commits(log)
    start = 0
    last_cp = _bs.join(log, "_last_checkpoint")
    cp_version = parts = None
    if version_as_of is None and _bs.exists(last_cp):
        cp = json.loads(_bs.read_text(last_cp))
        cp_version = cp["version"]
        parts = cp.get("parts")
    elif version_as_of is not None:
        # time travel still replays from a checkpoint BASE (the newest
        # one at or before the target) — pre-checkpoint JSON commits may
        # have been cleaned up by log retention, and replaying from 0
        # without them silently drops their files (or finds no metaData)
        best: tuple[int, int | None] | None = None
        for name in _bs.listdir(log):
            m = re.match(
                r"^(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10}))?\.parquet$",
                name)
            if not m:
                continue
            v = int(m.group(1))
            if v <= version_as_of and (best is None or v > best[0]):
                best = (v, int(m.group(3)) if m.group(3) else None)
        if best is not None:
            cp_version, parts = best
    if cp_version is not None:
        if parts:
            # multi-part checkpoint: <v>.checkpoint.<i>.<n>.parquet, all
            # parts together hold the action list (Delta protocol §
            # checkpoints; common on larger external tables)
            for i in range(1, int(parts) + 1):
                _read_checkpoint(
                    snap,
                    _bs.join(
                        log,
                        f"{cp_version:020d}.checkpoint.{i:010d}.{int(parts):010d}.parquet",
                    ),
                )
        else:
            _read_checkpoint(
                snap, _bs.join(log, f"{cp_version:020d}.checkpoint.parquet")
            )
        snap.version = cp_version
        start = cp_version + 1
    for v, path in commits:
        if v < start:
            continue
        if version_as_of is not None and v > version_as_of:
            break
        with _bs.open_text(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    _apply_action(snap, json.loads(line))
        snap.version = v
    if version_as_of is not None and snap.version < version_as_of:
        raise ValueError(
            f"version {version_as_of} does not exist (latest {snap.version})"
        )
    if snap.schema is None:
        raise ValueError(f"Delta log has no metaData action: {location}")
    # the Delta spec REQUIRES readers to refuse tables whose protocol
    # lists reader features they do not implement — scanning anyway
    # returns wrong data (e.g. typeWidening) or misleading errors
    unsupported = set(snap.reader_features) - _SUPPORTED_READER_FEATURES
    if unsupported:
        raise NotImplementedError(
            f"Delta reader feature(s) {sorted(unsupported)} not "
            f"supported by this reader: {location}"
        )
    cm = snap.configuration.get("delta.columnMapping.mode", "none")
    if cm not in ("none", "name", "id"):
        raise NotImplementedError(f"Delta column mapping mode {cm!r} not supported")
    if cm != "none" and any(
        not (f.metadata or {}).get("delta.columnMapping.physicalName")
        for f in snap.schema.fields
    ):
        # delta-spark/delta-rs stamp physicalName in both name and id
        # modes; without it id-mode matching would need parquet field ids
        raise NotImplementedError(
            f"Delta column mapping mode {cm!r} without physicalName metadata"
        )
    return snap


#: reader features this module actually implements (deletionVectors,
#: columnMapping) or that need nothing from a reader (timestampNtz is a
#: plain Spark type; vacuumProtocolCheck constrains VACUUM, not reads)
_SUPPORTED_READER_FEATURES = {
    "deletionVectors", "columnMapping", "timestampNtz",
    "vacuumProtocolCheck",
}


def _phys_name(f: T.StructField) -> str:
    return (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)


def _physical_type(dt: T.DataType) -> T.DataType:
    """Logical schema → physical parquet schema under column mapping:
    every StructField (any nesting depth) renamed to its
    delta.columnMapping.physicalName."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(_phys_name(f), _physical_type(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType),
            _physical_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _version_at_timestamp(location: str, ts_text: str) -> int:
    """Last committed version at-or-before an RFC-3339 timestamp —
    Delta's timestamp time travel (read_delta's second argument,
    table-functions.md). Commit time = commitInfo.timestamp (ms), with
    the commit file's modification time as the spec'd fallback."""
    import datetime as _dt

    ts = _dt.datetime.fromisoformat(ts_text.replace("Z", "+00:00"))
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    target_ms = ts.timestamp() * 1000.0
    best = None
    for v, path in _list_commits(_log_dir(location)):
        commit_ms = None
        with _bs.open_text(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    commit_ms = a["commitInfo"].get("timestamp")
                    break
        if commit_ms is None:
            commit_ms = _bs.mtime(path) * 1000.0
        if commit_ms <= target_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no Delta version existed at {ts_text!r} "
            "(earliest retained commit is later)")
    return best


def read_delta(
    spark: SparkSession,
    location: str,
    datasets_root: str | None = None,
    version_as_of: int | None = None,
    timestamp_as_of: str | None = None,
) -> DataFrame:
    """``read_delta(location[, version_or_timestamp])``
    (table-functions.md; beacon-delta/src/).

    Log replay → live file list → one vectorized parquet scan per
    partition-value group with the partition columns attached as typed
    literals (so filters on them constant-fold and prune whole groups)."""
    from beacon_spark.sources.paths import resolve_dir

    location = resolve_dir(location, datasets_root)
    if timestamp_as_of is not None:
        if version_as_of is not None:
            raise ValueError(
                "read_delta: give a version OR a timestamp, not both")
        version_as_of = _version_at_timestamp(location, timestamp_as_of)
    snap = _snapshot(location, version_as_of)
    cm = snap.configuration.get("delta.columnMapping.mode", "none")
    # under column mapping the parquet files, add.partitionValues keys,
    # and (per delta-spark) metaData.partitionColumns all use PHYSICAL
    # names; the logical schema is the user-facing one. Normalize
    # partition columns to logical, read with the physical schema, and
    # rename back with positional struct casts (pure Catalyst renames).
    phys_of = {
        f.name: (_phys_name(f) if cm != "none" else f.name)
        for f in snap.schema.fields
    }
    log_of = {v: k for k, v in phys_of.items()}
    part_cols = [log_of.get(c, c) for c in snap.partition_columns]
    data_fields = [f for f in snap.schema.fields if f.name not in part_cols]
    data_schema = T.StructType(
        [
            T.StructField(phys_of[f.name], _physical_type(f.dataType), f.nullable)
            for f in data_fields
        ]
        if cm != "none"
        else data_fields
    )
    if not snap.adds:
        return spark.createDataFrame([], snap.schema)

    groups: dict[tuple, list[str]] = {}
    for path, pvals in snap.adds.items():
        key = tuple(
            pvals.get(phys_of.get(c, c), pvals.get(c)) for c in part_cols
        )
        groups.setdefault(key, []).append(_resolve_add(location, path))

    types = {f.name: f.dataType for f in snap.schema.fields}
    out_cols = [f.name for f in snap.schema.fields]
    with_dv = bool(snap.dvs)
    parts = []
    # None-safe group order (a NULL partition value must not TypeError
    # against a string one); deterministic plan shape either way
    for key, files in sorted(
        groups.items(),
        key=lambda kv: [(v is None, v or "") for v in kv[0]],
    ):
        df = spark.read.schema(data_schema).parquet(*_bs.spark_paths(files))
        if cm != "none":
            df = df.select(
                *[
                    F.col(phys_of[f.name]).cast(f.dataType).alias(f.name)
                    for f in data_fields
                ]
                + (
                    [
                        F.col("_metadata.file_path").alias("__dv_fp"),
                        F.col("_metadata.row_index").alias("__dv_pos"),
                    ]
                    if with_dv
                    else []
                )
            )
        elif with_dv:
            # hidden parquet metadata columns: fully vectorized, no UDF
            df = df.select(
                "*",
                F.col("_metadata.file_path").alias("__dv_fp"),
                F.col("_metadata.row_index").alias("__dv_pos"),
            )
        for c, v in zip(part_cols, key):
            # F.lit(None) is just the null literal — one expression
            # covers both cases
            df = df.withColumn(c, F.lit(v).cast(types[c]))
        parts.append(
            df.select(out_cols + (["__dv_fp", "__dv_pos"] if with_dv else []))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    if with_dv:
        from beacon_spark.sources.delta_dv import (
            decode_dv_descriptor,
            read_dv_blob,
            roaring_bitmap_array_decode,
        )

        total_card = sum(
            int(desc.get("cardinality", 0)) for desc in snap.dvs.values()
        )
        if total_card <= _DV_EXPAND_LIMIT:
            # metadata-sized DVs: expand on the driver, broadcast an
            # anti-join — pure JVM, no Python in the scan
            deleted = [
                (_file_uri(_resolve_add(location, path)), int(idx))
                for path, desc in snap.dvs.items()
                for idx in decode_dv_descriptor(desc, location)
            ]
            del_df = spark.createDataFrame(
                deleted, T.StructType([
                    T.StructField("__dv_fp", T.StringType()),
                    T.StructField("__dv_pos", T.LongType()),
                ])
            )
            out = out.join(
                F.broadcast(del_df), ["__dv_fp", "__dv_pos"], "left_anti"
            ).drop("__dv_fp", "__dv_pos")
        else:
            # high-cardinality DVs (large DELETEs): never materialize the
            # index list on the driver — ship the compact roaring blobs
            # (KBs per million rows) and filter executor-side with a
            # vectorized searchsorted over each task's Arrow batch
            import numpy as np
            import pandas as pd

            blobs = {
                _file_uri(_resolve_add(location, path)):
                    read_dv_blob(desc, location)
                for path, desc in snap.dvs.items()
            }
            bc = spark.sparkContext.broadcast(blobs)

            # decode cache OUTSIDE the call: one roaring decode per file
            # per worker process, not per Arrow batch (a big file scans
            # as hundreds of batches; per-call decode would redo the
            # multi-hundred-KB pure-Python decode every batch)
            _decoded: dict[str, np.ndarray] = {}

            def __dv_live(fp, pos):
                cache = _decoded
                keep = np.ones(len(fp), dtype=bool)
                for f in fp.unique():
                    blob = bc.value.get(f)
                    if blob is None:
                        continue
                    arr = cache.get(f)
                    if arr is None:
                        arr = np.asarray(
                            roaring_bitmap_array_decode(blob), dtype=np.int64
                        )
                        cache[f] = arr
                    m = fp.values == f
                    p = pos.values[m].astype(np.int64)
                    loc = np.searchsorted(arr, p)
                    hit = (loc < len(arr)) & (arr[np.minimum(loc, len(arr) - 1)] == p)
                    keep[m] = ~hit
                return pd.Series(keep)

            # real (non-string) annotations: `from __future__ import
            # annotations` would otherwise break pandas_udf inference
            __dv_live.__annotations__ = {
                "fp": pd.Series, "pos": pd.Series, "return": pd.Series
            }
            __dv_live = F.pandas_udf(__dv_live, "boolean")
            out = out.filter(__dv_live(F.col("__dv_fp"), F.col("__dv_pos"))).drop(
                "__dv_fp", "__dv_pos"
            )
    return out


# Above this many total deleted rows the driver stops expanding roaring
# bitmaps into (file, index) tuples and switches to executor-side
# bitmap filtering (read_delta's two DV strategies).
_DV_EXPAND_LIMIT = 1_000_000


def _file_uri(path: str) -> str:
    """Path → the URI form Spark reports in _metadata.file_path (Hadoop
    Path.toString). Local paths get the single-slash ``file:`` scheme;
    object-store URIs take the SPARK form (s3:// → s3a://) because that
    is the scheme the JVM scan saw — the raw form would silently break
    the DV anti-join keys."""
    return _bs.spark_file_uri(path)


def _resolve_add(location: str, path: str) -> str:
    """``add.path`` → absolute path/URI: percent-decoded; ABSOLUTE
    entries (shallow clones, external-location files — legal per the
    protocol) pass through verbatim (joining them under the table root
    minted garbage like 's3://b/t/s3://other/f'); relative entries join
    under the table root and local results ABSOLUTIZE so the JVM (which
    resolves against ITS OWN cwd, not Python's) and the DV keys agree —
    the desync iceberg.py had already fixed for itself."""
    rel = _unquote(path)
    if _bs.is_uri(rel) or os.path.isabs(rel):
        return rel
    full = _bs.join(location, rel)
    return full if _bs.is_uri(full) else os.path.abspath(full)


def _unquote(rel: str) -> str:
    """Delta ``add.path`` values are percent-encoded per the protocol
    (a partition dir ``p=a b`` is stored ``p=a%20b``) — decode at every
    filesystem boundary."""
    from urllib.parse import unquote

    return unquote(rel)


def delta_history(
    spark: SparkSession, location: str, datasets_root: str | None = None
) -> DataFrame:
    """(version, timestamp, operation, num_add, num_remove) per commit."""
    from beacon_spark.sources.paths import resolve_dir

    location = resolve_dir(location, datasets_root)
    rows = []
    for v, path in _list_commits(_log_dir(location)):
        op, ts, n_add, n_rm = None, None, 0, 0
        with _bs.open_text(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    op = a["commitInfo"].get("operation")
                    ts = a["commitInfo"].get("timestamp")
                elif "add" in a:
                    n_add += 1
                elif "remove" in a:
                    n_rm += 1
        rows.append((v, ts, op, n_add, n_rm))
    return spark.createDataFrame(
        rows, "version long, timestamp long, operation string, num_add long, num_remove long"
    )


# ---------------------------------------------------------------- writer


def write_delta(
    df: DataFrame,
    location: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> int:
    """Minimal single-writer Delta commit: stage parquet through Spark's
    distributed writer into a per-version subdirectory, then append one
    atomic JSON commit referencing the staged files (Delta `add` paths may
    be relative subpaths). Returns the committed version.

    This is the test/fixture-grade writer (no concurrent-writer conflict
    detection — a production deployment would use a commit coordinator);
    the *read* path is protocol-complete for checkpointed tables.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"write_delta mode must be overwrite|append, got {mode!r}")
    partition_by = partition_by or []
    spark = df.sparkSession
    os.makedirs(_log_dir(location), exist_ok=True)
    commits = _list_commits(_log_dir(location))
    version = commits[-1][0] + 1 if commits else 0
    prev = _snapshot(location) if commits else None

    stage = f"v{version}"
    stage_dir = os.path.join(location, stage)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage_dir)

    adds = []
    for root, _dirs, files in os.walk(stage_dir):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, location)
            pvals = {}
            for seg in os.path.relpath(root, stage_dir).split(os.sep):
                if "=" in seg:
                    k, _, val = seg.partition("=")
                    pvals[k] = None if val == "__HIVE_DEFAULT_PARTITION__" else val
            adds.append(
                {
                    "add": {
                        "path": rel.replace(os.sep, "/"),
                        "partitionValues": pvals,
                        "size": os.path.getsize(full),
                        "modificationTime": int(time.time() * 1000),
                        "dataChange": True,
                    }
                }
            )

    now = int(time.time() * 1000)
    actions: list[dict] = [
        {"commitInfo": {"timestamp": now, "operation": "WRITE", "operationParameters": {"mode": mode.upper()}}}
    ]
    if version == 0:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
    if version == 0 or mode == "overwrite":
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(df.schema.jsonValue()),
                    "partitionColumns": partition_by,
                    "configuration": {},
                    "createdTime": now,
                }
            }
        )
    if mode == "overwrite" and prev is not None:
        for path in prev.adds:
            actions.append(
                {"remove": {"path": path, "deletionTimestamp": now, "dataChange": True}}
            )
    actions.extend(adds)

    commit_path = os.path.join(_log_dir(location), f"{version:020d}.json")
    tmp = commit_path + ".tmp"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    os.rename(tmp, commit_path)
    return version


def delta_delete_rows(location: str, deletes: dict[str, list[int]]) -> int:
    """Commit deletion vectors for ``{relative_file_path: [row_index]}``
    (fixture-grade DV writer — real engines also compact/rewrite).
    Merges with any DV already on the file; upgrades the protocol to
    readerFeatures=[deletionVectors]. Returns the committed version."""
    from beacon_spark.sources.delta_dv import decode_dv_descriptor, write_dv_file

    snap = _snapshot(location)
    now = int(time.time() * 1000)
    actions: list[dict] = [
        {"commitInfo": {"timestamp": now, "operation": "DELETE"}},
        {
            # MERGE with the table's existing features — replacing them
            # would strip e.g. columnMapping from the protocol and leave
            # an on-disk table real readers refuse or misread
            "protocol": {
                "minReaderVersion": max(3, snap.min_reader),
                "minWriterVersion": 7,
                "readerFeatures": sorted(
                    set(snap.reader_features) | {"deletionVectors"}),
                "writerFeatures": sorted(
                    set(snap.writer_features) | {"deletionVectors"}),
            }
        },
    ]
    for rel, idxs in deletes.items():
        if rel not in snap.adds:
            raise ValueError(f"{rel} is not a live file of {location}")
        merged = sorted(set(idxs))
        if rel in snap.dvs:
            merged = sorted(set(merged) | set(
                decode_dv_descriptor(snap.dvs[rel], location)
            ))
        desc, _ = write_dv_file(location, merged)
        actions.append(
            {"remove": {"path": rel, "deletionTimestamp": now, "dataChange": True}}
        )
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": snap.adds[rel],
                    "size": os.path.getsize(
                        _bs.local_path(_resolve_add(location, rel))),
                    "modificationTime": now,
                    "dataChange": True,
                    "deletionVector": desc,
                }
            }
        )
    version = snap.version + 1
    commit_path = os.path.join(_log_dir(location), f"{version:020d}.json")
    tmp = commit_path + ".tmp"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    os.rename(tmp, commit_path)
    return version
