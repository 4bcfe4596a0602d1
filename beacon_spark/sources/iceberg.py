"""Apache Iceberg source — metadata/manifest replay, no iceberg-spark jar.

The reference reads Iceberg through the ``iceberg`` Rust crate
(``beacon-db/beacon-file-formats/beacon-iceberg/src/``, SURVEY.md §2.1).
Here the table spec is implemented directly:

  metadata/v<N>.metadata.json   table metadata (schema, snapshots, specs)
  snapshot → manifest list      avro (sources/avrolite.py)
  manifest → data-file entries  avro; status 0=existing 1=added 2=deleted
  data files                    parquet → Spark's vectorized reader

Scale: like Delta, snapshot resolution is a driver-side metadata pass
(manifests are designed to be small and partition-prunable); the data scan
is one ``spark.read.schema(...).parquet(*files)`` with pushdown intact.
Iceberg data files are self-contained (partition columns are stored in the
files), so no literal attachment is needed.

v2 delete files are supported: positional deletes apply as an anti-join
of ``(_metadata.file_path, _metadata.row_index)`` against the delete
parquet's ``(file_path, pos)`` rows (vectorized, no driver-side row
work); equality deletes anti-join on the ``equality_ids`` columns with
null-safe equality. Delete application is sequence-number-aware per the
spec: positional deletes hit data files with data_seq <= del_seq,
equality deletes only data_seq < del_seq — so rows appended after a
delete snapshot survive. Real v2 tables supply sequence numbers in the
manifest list; tables without them (our fixtures) get a commit-order
surrogate from the snapshot log (``_snapshot_files``).

Unsupported (loud): name-mapping / field-id-based schema evolution
beyond name compatibility.
"""

from __future__ import annotations

import json

from beacon_spark.sources import bytesource as _bs
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from beacon_spark.sources.avrolite import read_avro, write_avro

__all__ = [
    "read_iceberg", "write_iceberg",
    "write_iceberg_deletes",
]


# ------------------------------------------------------------ type mapping

_PRIM = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "time": T.LongType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
}


def _ice_to_spark(t) -> T.DataType:
    if isinstance(t, str):
        if t in _PRIM:
            return _PRIM[t]
        m = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        if t.startswith("fixed"):
            return T.BinaryType()
        raise ValueError(f"unsupported iceberg type: {t}")
    kind = t["type"]
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(f["name"], _ice_to_spark(f["type"]), not f["required"])
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(_ice_to_spark(t["element"]), not t["element-required"])
    if kind == "map":
        return T.MapType(
            _ice_to_spark(t["key"]), _ice_to_spark(t["value"]), not t["value-required"]
        )
    raise ValueError(f"unsupported iceberg type: {t}")


_SPARK_TO_ICE = {
    T.BooleanType(): "boolean",
    T.IntegerType(): "int",
    T.ShortType(): "int",
    T.ByteType(): "int",
    T.LongType(): "long",
    T.FloatType(): "float",
    T.DoubleType(): "double",
    T.DateType(): "date",
    T.TimestampType(): "timestamptz",
    T.TimestampNTZType(): "timestamp",
    T.StringType(): "string",
    T.BinaryType(): "binary",
}


# ------------------------------------------------------------ metadata


def _load_metadata(location: str) -> dict:
    mdir = _bs.join(location, "metadata")
    if not _bs.isdir(mdir):
        raise FileNotFoundError(f"not an Iceberg table (no metadata/): {location}")
    hint = _bs.join(mdir, "version-hint.text")
    if _bs.exists(hint):
        v = _bs.read_text(hint).strip()
        path = _bs.join(mdir, f"v{v}.metadata.json")
    else:
        cands = sorted(
            (f for f in _bs.listdir(mdir) if f.endswith(".metadata.json")),
            key=lambda n: [int(x) for x in re.findall(r"\d+", n)] or [0],
        )
        if not cands:
            raise FileNotFoundError(f"no *.metadata.json under {mdir}")
        path = _bs.join(mdir, cands[-1])
    return json.loads(_bs.read_text(path))


def _current_schema(md: dict) -> dict:
    if "schemas" in md:
        sid = md.get("current-schema-id", 0)
        for s in md["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
        return md["schemas"][-1]
    return md["schema"]  # v1


def _localize(path: str, location: str) -> str:
    """Manifest paths are absolute URIs from write time; map them onto the
    local table root so relocated/copied tables still read."""
    if _bs.is_uri(location):
        # remote table roots: keep absolute URIs, re-root others
        if _bs.is_uri(path) and path.startswith(location):
            return path
        marker = "/" + _bs.basename(location) + "/"
        q = re.sub(r"^[a-z0-9+.-]+://", "", path)
        idx = ("/" + q).find(marker)
        if idx >= 0:
            return _bs.join(location, ("/" + q)[idx + len(marker):])
        return path
    p = re.sub(r"^file:(//)?", "", path)
    if os.path.exists(p):
        return p
    # fall back: re-root the path at this table's location
    marker = "/" + os.path.basename(os.path.normpath(location)) + "/"
    idx = p.find(marker)
    if idx >= 0:
        cand = os.path.join(location, p[idx + len(marker):])
        if os.path.exists(cand):
            return cand
    return p


def _snapshot_files(
    location: str, md: dict, snapshot_id: int | None
) -> tuple[
    list[tuple[str, int]],
    list[tuple[str, int]],
    list[tuple[str, list[int], int]],
]:
    """→ ([(data_file, data_seq)], [(positional_delete_file, del_seq)],
    [(eq_delete_file, equality_field_ids, del_seq)]).

    ``seq`` is the Iceberg data sequence number when the manifest list
    carries one (v2 tables written by real engines always do), else a
    commit-order surrogate: the rank of the manifest's
    ``added_snapshot_id`` in the table's snapshot log. Either way it is
    monotone in commit order, which is all the delete-application rules
    below need (spec: positional deletes apply to data files with
    data_seq <= del_seq; equality deletes to data_seq < del_seq)."""
    snaps = md.get("snapshots", [])
    if not snaps:
        if snapshot_id is not None:
            # a typo'd snapshot on an empty table must not masquerade
            # as a legitimate 0-row result
            raise ValueError(f"snapshot {snapshot_id} not found")
        return [], [], []
    if snapshot_id is None:
        snapshot_id = md.get("current-snapshot-id")
        if snapshot_id in (None, -1):
            return [], [], []
    snap = next((s for s in snaps if s["snapshot-id"] == snapshot_id), None)
    if snap is None:
        raise ValueError(f"snapshot {snapshot_id} not found")
    snap_rank = {s["snapshot-id"]: i + 1 for i, s in enumerate(snaps)}
    if "manifest-list" in snap:
        _, mentries = read_avro(_localize(snap["manifest-list"], location))
        use_real = all(e.get("sequence_number") is not None for e in mentries)
        manifests = []
        for e in mentries:
            mseq = (
                int(e["sequence_number"])
                if use_real
                else snap_rank.get(e.get("added_snapshot_id"), 0)
            )
            manifests.append((_localize(e["manifest_path"], location), mseq, use_real))
    else:  # v1: inline manifest path list (no row-level deletes in v1)
        manifests = [
            (_localize(p, location), snap_rank.get(snapshot_id, 0), False)
            for p in snap.get("manifests", [])
        ]
    files: list[tuple[str, int]] = []
    pos_deletes: list[tuple[str, int]] = []
    eq_deletes: list[tuple[str, list[int], int]] = []
    for mpath, mseq, use_real in manifests:
        _, entries = read_avro(mpath)
        for e in entries:
            if e.get("status", 1) == 2:  # deleted
                continue
            # v2 entry-level sequence number; null inherits the manifest's
            eseq = e.get("sequence_number")
            seq = int(eseq) if (use_real and eseq is not None) else mseq
            dfile = e["data_file"]
            fmt = (dfile.get("file_format") or "PARQUET").upper()
            if fmt != "PARQUET":
                raise NotImplementedError(f"Iceberg {fmt} files not supported")
            content = dfile.get("content", 0)
            path = _localize(dfile["file_path"], location)
            if content == 0:
                files.append((path, seq))
            elif content == 1:
                pos_deletes.append((path, seq))
            elif content == 2:
                eq_deletes.append((path, list(dfile.get("equality_ids") or []), seq))
            else:
                raise ValueError(f"unknown iceberg file content {content}")
    return files, pos_deletes, eq_deletes


# ------------------------------------------------------------ read


def read_iceberg(
    spark: SparkSession,
    location: str,
    datasets_root: str | None = None,
    snapshot_id: int | None = None,
) -> DataFrame:
    """``read_iceberg(location)``: snapshot → manifests → one vectorized
    parquet scan over the live data files. ``snapshot_id`` time-travels."""
    from beacon_spark.sources.paths import resolve_dir

    location = resolve_dir(location, datasets_root)
    md = _load_metadata(location)
    ice_schema = _current_schema(md)
    schema = _ice_to_spark({**ice_schema, "type": "struct"})
    files, pos_deletes, eq_deletes = _snapshot_files(location, md, snapshot_id)
    if not files:
        return spark.createDataFrame([], schema)
    # absolutize local paths BEFORE the JVM sees them: Spark resolves
    # relative paths against ITS OWN cwd (not Python's), so a relative
    # table location would otherwise desync _fp_key from
    # _metadata.file_path and the delete joins would match nothing
    files = [
        (p if _bs.is_uri(p) else os.path.abspath(p), s) for p, s in files
    ]
    df = spark.read.schema(schema).parquet(
        *_bs.spark_paths([p for p, _s in files]))
    if pos_deletes or eq_deletes:
        from pyspark.sql import functions as F

        # normalize to "file:<abs>" (Hadoop Path.toString) so driver-side
        # manifest paths, delete-file path values, and _metadata.file_path
        # compare equal for local files; real URIs pass through unchanged
        # the ONE Hadoop-Path normalization, shared with the Delta DV
        # keys (two hand-rolled copies had already drifted once)
        _fp_key = _bs.spark_file_uri

        # metadata-sized (one row per data file): data sequence numbers
        # ride a broadcast join, never a shuffle of the data
        seq_map = spark.createDataFrame(
            [(_fp_key(p), int(s)) for p, s in files],
            "__fp string, __data_seq long",
        )
        df = df.select(
            "*",
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        ).join(F.broadcast(seq_map), "__fp", "left")
        if pos_deletes:
            # spec: a positional delete applies to data files with
            # data_seq <= del_seq (same-snapshot deletes DO apply).
            # file_path values first RE-ROOT onto this table location —
            # the SQL twin of _localize, so a relocated/relative-read
            # table's recorded absolute paths still match (a silent
            # mismatch here means deleted rows come back) — then get the
            # same normalization as _fp_key: real URIs pass through,
            # local paths become "file:<abs>"
            fp = F.col("file_path")
            # re-root for URI locations TOO: a table relocated to an
            # object store recorded file:/old/... paths the old
            # local-only branch never re-rooted — its deletes then
            # silently applied to zero rows
            loc_abs = (location.rstrip("/") if _bs.is_uri(location)
                       else os.path.abspath(location).rstrip("/"))
            marker = "/" + loc_abs.rstrip("/").split("/")[-1] + "/"
            mk = marker.replace("\\", "\\\\").replace("'", "\\'")
            fp = F.when(
                F.expr(f"locate('{mk}', file_path)") > 0,
                F.concat(
                    F.lit(loc_abs + "/"),
                    F.expr(
                        f"substring(file_path, locate('{mk}', "
                        f"file_path) + {len(marker)})"),
                ),
            ).otherwise(fp)
            norm_fp = F.when(
                fp.rlike("^[a-z0-9+.-]+://") & ~fp.startswith("file:"),
                fp,
            ).otherwise(
                F.concat(F.lit("file:"), F.regexp_replace(fp, "^file:/*", "/"))
            )
            dels = None
            for path, dseq in pos_deletes:
                d = spark.read.parquet(_bs.spark_path(
                    path if _bs.is_uri(path) else os.path.abspath(path)
                )).select(
                    norm_fp.alias("__dfp"),
                    F.col("pos").alias("__dpos"),
                    F.lit(int(dseq)).alias("__del_seq"),
                )
                dels = d if dels is None else dels.unionAll(d)
            df = df.join(
                F.broadcast(dels),
                (df["__fp"] == dels["__dfp"])
                & (df["__pos"] == dels["__dpos"])
                & (df["__data_seq"] <= dels["__del_seq"]),
                "left_anti",
            )
        def _field_ids(fields, prefix=""):
            out = {}
            for fld in fields:
                nm = prefix + fld["name"]
                out[fld["id"]] = nm
                t = fld.get("type")
                if isinstance(t, dict) and t.get("type") == "struct":
                    out.update(_field_ids(t["fields"], nm + "."))
            return out

        id_to_name = _field_ids(ice_schema["fields"])  # loop-invariant
        for path, eq_ids, dseq in eq_deletes:
            missing = [i for i in (eq_ids or []) if i not in id_to_name]
            if missing:
                # an equality delete against a since-dropped column used
                # to die with a bare KeyError
                raise ValueError(
                    f"{location}: equality delete {path} references field "
                    f"ids {missing} absent from the current schema "
                    f"(dropped column?) — unsupported")
            cols = [id_to_name[i] for i in eq_ids] if eq_ids else None
            dels = spark.read.parquet(_bs.spark_path(
                path if _bs.is_uri(path) else os.path.abspath(path)))
            cols = cols or dels.columns
            # null-safe equality per Iceberg equality-delete semantics;
            # spec: applies only to data files with data_seq strictly
            # below the delete's — rows appended later survive
            right = dels.select(
                *[F.col(c).alias(f"__eq_{c}") for c in cols]
            ).distinct()
            cond = F.col("__data_seq") < F.lit(int(dseq))
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
            df = df.join(F.broadcast(right), cond, "left_anti")
        df = df.drop("__fp", "__pos", "__data_seq")
    return df


# ------------------------------------------------------------ write (fixtures)

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
        # v2 sequence numbers are load-bearing for delete application —
        # re-encoding a real table's prior entries must NOT drop them
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "min_sequence_number", "type": ["null", "long"]},
    ],
}


def _carry_manifest_entry(e: dict) -> dict:
    """A prior manifest-list entry (any engine's richer v1/v2 schema)
    re-encoded onto _MANIFEST_LIST_SCHEMA: known fields carried, absent
    ones defaulted (v1 has no content/sequence_number) — a raw re-encode
    raised KeyError on v1 entries and silently dropped v2 sequence
    numbers, demoting delete application to surrogate ordering."""
    return {
        "manifest_path": e["manifest_path"],
        "manifest_length": int(e.get("manifest_length", 0) or 0),
        "content": int(e.get("content", 0) or 0),
        "added_snapshot_id": int(e.get("added_snapshot_id", 0) or 0),
        "sequence_number": e.get("sequence_number"),
        "min_sequence_number": e.get("min_sequence_number"),
    }


def _spark_to_ice_schema(schema: T.StructType) -> dict:
    fields = []
    for i, f in enumerate(schema.fields):
        t = _SPARK_TO_ICE.get(f.dataType)
        if t is None:
            if isinstance(f.dataType, T.DecimalType):
                t = f"decimal({f.dataType.precision},{f.dataType.scale})"
            else:
                raise ValueError(f"unsupported type for iceberg write: {f.dataType}")
        fields.append(
            {"id": i + 1, "name": f.name, "required": False, "type": t}
        )
    return {"schema-id": 0, "type": "struct", "fields": fields}


_DELETE_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2d",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "equality_ids", "type": {"type": "array", "items": "int"}},
                ],
            },
        },
    ],
}


def write_iceberg_deletes(
    spark: SparkSession,
    location: str,
    pos: list[tuple[str, int]] | None = None,
    eq_df: DataFrame | None = None,
    equality_fields: list[str] | None = None,
) -> int:
    """Fixture-grade v2 delete commit: write positional delete parquet
    (``(file_path, pos)`` rows) and/or an equality delete parquet, stage
    a delete manifest (content 1/2 + equality_ids), and append a
    snapshot whose manifest list keeps all prior manifests. Returns the
    new snapshot id."""
    md = _load_metadata(location)
    mdir = os.path.join(location, "metadata")
    version = max(
        int(re.search(r"\d+", n).group())
        for n in os.listdir(mdir)
        if n.endswith(".metadata.json")
    )
    snap_id = len(md.get("snapshots", [])) + 1
    ddir = os.path.join(location, "data", f"deletes{snap_id}")
    entries = []
    if pos:
        pdir = os.path.join(ddir, "pos")
        spark.createDataFrame(
            [(p, int(i)) for p, i in pos], "file_path string, pos long"
        ).coalesce(1).write.mode("overwrite").parquet(pdir)
        for root, _d, names in os.walk(pdir):
            for n in names:
                if n.endswith(".parquet"):
                    full = os.path.join(root, n)
                    entries.append(
                        {
                            "status": 1,
                            "data_file": {
                                "content": 1,
                                "file_path": full,
                                "file_format": "PARQUET",
                                "record_count": len(pos),
                                "file_size_in_bytes": os.path.getsize(full),
                                "equality_ids": [],
                            },
                        }
                    )
    if eq_df is not None:
        schema_fields = _current_schema(md)["fields"]
        name_to_id = {f["name"]: f["id"] for f in schema_fields}
        eq_fields = equality_fields or eq_df.columns
        edir = os.path.join(ddir, "eq")
        eq_df.select(*eq_fields).coalesce(1).write.mode("overwrite").parquet(edir)
        for root, _d, names in os.walk(edir):
            for n in names:
                if n.endswith(".parquet"):
                    full = os.path.join(root, n)
                    entries.append(
                        {
                            "status": 1,
                            "data_file": {
                                "content": 2,
                                "file_path": full,
                                "file_format": "PARQUET",
                                "record_count": -1,
                                "file_size_in_bytes": os.path.getsize(full),
                                "equality_ids": [name_to_id[c] for c in eq_fields],
                            },
                        }
                    )
    manifest = os.path.join(mdir, f"delete-manifest-{snap_id}.avro")
    write_avro(manifest, _DELETE_MANIFEST_SCHEMA, entries)

    prev_manifests: list[dict] = []
    if md.get("current-snapshot-id") not in (None, -1):
        cur = next(
            s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
        )
        _, prev_manifests = read_avro(_localize(cur["manifest-list"], location))
    mlist = os.path.join(mdir, f"snap-{snap_id}-manifest-list.avro")
    write_avro(
        mlist,
        _MANIFEST_LIST_SCHEMA,
        [_carry_manifest_entry(e) for e in prev_manifests]
        + [
            {
                "manifest_path": manifest,
                "manifest_length": os.path.getsize(manifest),
                "content": 1,
                "added_snapshot_id": snap_id,
                "sequence_number": None,
                "min_sequence_number": None,
            }
        ],
    )
    now = int(time.time() * 1000)
    md.setdefault("snapshots", []).append(
        {
            "snapshot-id": snap_id,
            "timestamp-ms": now,
            "summary": {"operation": "delete"},
            "manifest-list": mlist,
            "schema-id": md.get("current-schema-id", 0),
        }
    )
    md["current-snapshot-id"] = snap_id
    md["last-updated-ms"] = now
    version += 1
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(md, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return snap_id


def write_iceberg(df: DataFrame, location: str, mode: str = "overwrite") -> int:
    """Minimal single-writer Iceberg v2 commit (fixture/test grade — no
    commit-conflict handling): stage parquet, write a manifest + manifest
    list with avrolite, append a snapshot to the metadata JSON, bump
    version-hint. Returns the new snapshot id."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"write_iceberg mode must be overwrite|append: {mode!r}")
    spark = df.sparkSession
    mdir = os.path.join(location, "metadata")
    os.makedirs(mdir, exist_ok=True)
    try:
        md = _load_metadata(location)
        version = max(
            int(re.search(r"\d+", n).group())
            for n in os.listdir(mdir)
            if n.endswith(".metadata.json")
        )
    except FileNotFoundError:
        md = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": location,
            "last-sequence-number": 0,
            "last-updated-ms": 0,
            "last-column-id": len(df.schema.fields),
            "schemas": [_spark_to_ice_schema(df.schema)],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0,
            "snapshots": [],
        }
        version = 0
    snap_id = len(md.get("snapshots", [])) + 1
    stage = os.path.join(location, "data", f"snap{snap_id}")
    df.write.mode("overwrite").parquet(stage)

    entries = []
    for root, _d, names in os.walk(stage):
        for n in names:
            if n.endswith(".parquet"):
                full = os.path.join(root, n)
                entries.append(
                    {
                        "status": 1,
                        "data_file": {
                            "content": 0,
                            "file_path": full,
                            "file_format": "PARQUET",
                            "record_count": -1,
                            "file_size_in_bytes": os.path.getsize(full),
                        },
                    }
                )
    manifest = os.path.join(mdir, f"manifest-{snap_id}.avro")
    write_avro(manifest, _MANIFEST_SCHEMA, entries)

    prev_manifests: list[dict] = []
    if mode == "append" and md.get("current-snapshot-id") not in (None, -1):
        cur = next(
            s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
        )
        _, prev_manifests = read_avro(_localize(cur["manifest-list"], location))
    mlist = os.path.join(mdir, f"snap-{snap_id}-manifest-list.avro")
    write_avro(
        mlist,
        _MANIFEST_LIST_SCHEMA,
        [_carry_manifest_entry(e) for e in prev_manifests]
        + [
            {
                "manifest_path": manifest,
                "manifest_length": os.path.getsize(manifest),
                "content": 0,
                "added_snapshot_id": snap_id,
                "sequence_number": None,
                "min_sequence_number": None,
            }
        ],
    )
    now = int(time.time() * 1000)
    if mode == "overwrite":
        md["schemas"] = [_spark_to_ice_schema(df.schema)]
        md["current-schema-id"] = md["schemas"][0]["schema-id"]
    md.setdefault("snapshots", []).append(
        {
            "snapshot-id": snap_id,
            "timestamp-ms": now,
            "summary": {"operation": mode},
            "manifest-list": mlist,
            "schema-id": md.get("current-schema-id", 0),
        }
    )
    md["current-snapshot-id"] = snap_id
    md["last-updated-ms"] = now
    version += 1
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(md, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return snap_id
