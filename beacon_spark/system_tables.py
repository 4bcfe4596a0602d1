"""``beacon.system`` — runtime introspection as ordinary SQL tables.

The reference registers a ``system`` schema in the ``beacon`` catalog
(``beacon-core/src/system_schema/mod.rs:44-66``): ``users`` and
``roles`` snapshot the auth directory (``system_schema/auth.rs:27-42``),
``file_stats`` exposes the statistics subsystem, and ``query_metrics``
is the internal managed table ``__beacon_query_metrics`` under a public
name — every completed query persists one row so metrics survive a
restart and are queryable like any other table
(``query_metrics_store.rs:1-75``). Reads of the schema are super-user-
only, unconditionally (``mod.rs:50-66``); the gate lives in the
rewrite that binds the views (``Engine._rewrite_system_tables``).

Here ``FROM beacon.system.<name>`` (or ``system.<name>``) is rewritten
outside string literals to a temp view refreshed at reference time, so
what a query sees is exactly the current snapshot / persisted state.

Divergence, stated: the reference writes the metrics row per query
through DataFusion, where a single-row insert is one in-process Arrow
write. A Spark job per metrics row would double the latency of every
small query, so persistence is micro-batched — rows buffer on the
driver and flush as ONE pyarrow parquet file (no Spark job) into the
managed table when the buffer reaches :data:`FLUSH_ROWS`, ages past
:data:`FLUSH_SECONDS`, or the table is read. Reads flush first, so
``system.query_metrics`` always shows every completed query; a crash
can lose at most the unflushed tail, which the reference's per-query
write would have kept.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time
import uuid

from pyspark.sql import types as T

FLUSH_ROWS = 64
FLUSH_SECONDS = 30.0

QUERY_METRICS_TABLE = "__beacon_query_metrics"

# the reference's columns (query_metrics_schema, query_metrics_store.rs:
# 52-75); u64 counters become longs, open-ended shapes stay JSON strings
QUERY_METRICS_SCHEMA = T.StructType([
    T.StructField("query_id", T.StringType(), False),
    T.StructField("username", T.StringType(), False),
    T.StructField("finished_at", T.TimestampType(), False),
    T.StructField("query", T.StringType(), False),
    T.StructField("input_rows", T.LongType(), True),
    T.StructField("input_bytes", T.LongType(), True),
    T.StructField("result_num_rows", T.LongType(), True),
    T.StructField("result_size_in_bytes", T.LongType(), True),
    T.StructField("execution_time_ms", T.LongType(), True),
    T.StructField("file_paths", T.StringType(), True),
    T.StructField("parsed_logical_plan", T.StringType(), True),
    T.StructField("optimized_logical_plan", T.StringType(), True),
    T.StructField("node_metrics", T.StringType(), True),
])


def _pa_schema():
    import pyarrow as pa

    return pa.schema([
        ("query_id", pa.string()),
        ("username", pa.string()),
        ("finished_at", pa.timestamp("us")),
        ("query", pa.string()),
        ("input_rows", pa.int64()),
        ("input_bytes", pa.int64()),
        ("result_num_rows", pa.int64()),
        ("result_size_in_bytes", pa.int64()),
        ("execution_time_ms", pa.int64()),
        ("file_paths", pa.string()),
        ("parsed_logical_plan", pa.string()),
        ("optimized_logical_plan", pa.string()),
        ("node_metrics", pa.string()),
    ])


class QueryMetricsStore:
    """Micro-batched persistence for per-query metrics.

    ``Engine.run`` records once per completed statement: its ``Run``,
    the runner under HTTP, Flight, FlightSQL, MCP and the embedded
    client, calls ``record()`` through ``Engine.record_query_metrics``.
    Rows land in the internal managed table ``__beacon_query_metrics``
    next to the user tables, NOT registered in the catalog — the
    ``__beacon_`` prefix keeps it out of listings, as in the reference
    (query_metrics_store.rs:41-44).
    """

    def __init__(self, engine):
        self.engine = engine
        self._tail: list[dict] = []
        self._lock = threading.Lock()
        # serializes the manifest read-modify-write: two request threads
        # flushing together must not both extend the SAME base manifest
        # (one part file would fall out of history)
        self._flush_lock = threading.Lock()
        self._first_ts: float | None = None

    # ------------------------------------------------------------ paths

    def _table(self):
        from beacon_spark.managed import ManagedTable
        from beacon_spark.sources import bytesource as bs

        path = bs.join(self.engine.catalog.tables_dir, QUERY_METRICS_TABLE)
        return ManagedTable(self.engine.spark, path)

    # ------------------------------------------------------------ write

    def record(self, *, query_id: str, query: str, username: str | None = None,
               result_num_rows: int | None = None,
               result_size_in_bytes: int | None = None,
               execution_time_ms: int | None = None,
               input_rows: int | None = None, input_bytes: int | None = None,
               file_paths: list[str] | None = None,
               parsed_logical_plan: str | None = None,
               optimized_logical_plan: str | None = None,
               node_metrics: str | None = None) -> None:
        row = {
            "query_id": query_id,
            "username": username or "beacon-admin",
            "finished_at": time.time(),
            "query": query,
            "input_rows": input_rows,
            "input_bytes": input_bytes,
            "result_num_rows": result_num_rows,
            "result_size_in_bytes": result_size_in_bytes,
            "execution_time_ms": execution_time_ms,
            "file_paths": json.dumps(file_paths) if file_paths is not None else None,
            "parsed_logical_plan": parsed_logical_plan,
            "optimized_logical_plan": optimized_logical_plan,
            "node_metrics": node_metrics,
        }
        flush = False
        with self._lock:
            self._tail.append(row)
            if self._first_ts is None:
                self._first_ts = time.monotonic()
            if (len(self._tail) >= FLUSH_ROWS
                    or time.monotonic() - self._first_ts > FLUSH_SECONDS):
                flush = True
        if flush:
            self.flush()

    def flush(self) -> None:
        """Persist the tail as ONE parquet object via pyarrow — a driver-
        side write, never a Spark job (see module docstring)."""
        with self._flush_lock:
            self._flush_locked()

    def _flush_locked(self) -> None:
        # snapshot WITHOUT popping: any failure below (manifest read,
        # upload, manifest write) leaves the rows buffered for the next
        # attempt instead of losing them; the flushed prefix is removed
        # only after the new manifest is committed
        with self._lock:
            tail = list(self._tail)
        if not tail:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        from beacon_spark.sources import bytesource as bs

        schema = _pa_schema()
        cols = {}
        for f in schema.names:
            if f == "finished_at":
                cols[f] = pa.array(
                    [int(r[f] * 1_000_000) for r in tail], pa.timestamp("us")
                )
            else:
                cols[f] = pa.array([r[f] for r in tail], schema.field(f).type)
        table = pa.table(cols, schema=schema)

        mt = self._table()
        # explicit no-manifest check — a TRANSIENT manifest read failure
        # must surface (leaving the tail buffered), not silently reset
        # the table to one part file; read BEFORE uploading so a failure
        # here costs nothing
        has = mt._manifests()
        base = mt._read_manifest()["version"] if has else 0
        files = mt._read_manifest()["files"] if has else []
        fd, tmp = tempfile.mkstemp(suffix=".parquet")
        os.close(fd)
        try:
            pq.write_table(table, tmp)
            name = f"data/part-{uuid.uuid4().hex}.parquet"
            bs.makedirs(mt.data_dir)
            bs.upload_file(tmp, bs.join(mt.path, name))
        finally:
            os.unlink(tmp)
        from beacon_spark.managed import ManifestConflict

        for _ in range(8):
            try:
                mt._write_manifest(QUERY_METRICS_SCHEMA, files + [name],
                                   base_version=base)
                break
            except ManifestConflict:
                # an append is retryable: re-read the winner's file list
                # and add the same part to it
                has = mt._manifests()
                base = mt._read_manifest()["version"] if has else 0
                files = mt._read_manifest()["files"] if has else []
        else:
            raise ManifestConflict(
                f"{mt.path}: metrics flush lost the commit race repeatedly")
        # committed: drop exactly the flushed prefix (appends land at
        # the end, so rows recorded mid-flush stay for the next one)
        with self._lock:
            del self._tail[: len(tail)]
            if not self._tail:
                self._first_ts = None

    # ------------------------------------------------------------ read

    def df(self):
        """The persisted table (flushing first, so the view is current)."""
        self.flush()
        from beacon_spark.sources import bytesource as bs

        mt = self._table()
        spark = self.engine.spark
        if not mt._manifests():
            return spark.createDataFrame([], QUERY_METRICS_SCHEMA)
        return spark.read.schema(QUERY_METRICS_SCHEMA).parquet(
            *bs.spark_paths(mt.files())
        )

    def read(self, query_id: str) -> dict | None:
        """One query's row (Runtime::get_query_metrics, runtime.rs:429-435)
        — checks the unflushed tail first, then the persisted table."""
        with self._lock:
            for r in reversed(self._tail):
                if r["query_id"] == query_id:
                    out = dict(r)
                    # the persisted path answers a datetime; the tail
                    # must not leak its internal float epoch. LOCAL-tz
                    # naive, because that is how Spark's collect()
                    # renders the stored timestamp — a UTC conversion
                    # here shifted the value across a flush on non-UTC
                    # drivers (the instability this fix is for)
                    from datetime import datetime

                    out["finished_at"] = datetime.fromtimestamp(
                        out["finished_at"])
                    return out
        mt = self._table()
        if not mt._manifests():
            return None
        df = self.df()
        rows = df.where(df.query_id == query_id).limit(1).collect()
        return rows[0].asDict() if rows else None


# ------------------------------------------------------------ snapshots


def users_df(engine):
    """``beacon.system.users`` — usernames and their roles as a JSON
    array; NEVER the password hash (system_schema/auth.rs:45-56)."""
    from beacon_spark import auth as _auth

    a = _auth._auth(engine.catalog._load())
    rows = [
        (name, json.dumps(sorted(ident.get("roles", []))))
        for name, ident in sorted(a["users"].items())
    ]
    schema = T.StructType([
        T.StructField("username", T.StringType(), False),
        T.StructField("roles", T.StringType(), False),
    ])
    return engine.spark.createDataFrame(rows, schema)


def roles_df(engine):
    """``beacon.system.roles`` — grants/denies rendered as JSON
    (system_schema/auth.rs:36-42)."""
    from beacon_spark import auth as _auth

    a = _auth._auth(engine.catalog._load())
    rows = [
        (name, json.dumps(role.get("grants", [])), json.dumps(role.get("denies", [])))
        for name, role in sorted(a["roles"].items())
    ]
    schema = T.StructType([
        T.StructField("role_name", T.StringType(), False),
        T.StructField("grants", T.StringType(), False),
        T.StructField("denies", T.StringType(), False),
    ])
    return engine.spark.createDataFrame(rows, schema)


def file_stats_df(engine):
    """``beacon.system.file_stats`` — the ANALYZE FILES index as SQL
    (system_schema/file_stats.rs:1-31; ours is the stats.py column-range
    index rather than the reference's segment store)."""
    from beacon_spark.stats import statistics_df

    return statistics_df(engine.spark, engine.datasets_root)


SYSTEM_TABLES = {
    "query_metrics": lambda eng: eng.metrics.df(),
    "users": users_df,
    "roles": roles_df,
    "file_stats": file_stats_df,
}
