"""beacondb-parity embedded client: PEP 249 over the Spark engine.

The reference ships an in-process Python package whose surface is a
DB-API 2.0 ``Connection`` plus a lazy ``Relation`` and a materialized
``Result`` (``beacon-db/beacon-db-py/python/beacondb/__init__.py:78-96``,
``_beacondb.pyi`` — Connection.execute/sql/table/read_*/register/
json_query, Relation.fetchall/arrow/df/record_batch/to_parquet/…,
the PEP 249 exception tree, ``paramstyle = "qmark"`` with ``$n`` also
accepted). This module is the Spark analog: the same API over
:class:`beacon_spark.engine.Engine`, executing through DataFrames.

    import beacon_spark.client as beacondb

    con = beacondb.connect("/data/lake")
    con.sql("SELECT 1 AS a").fetchall()          # [(1,)]
    con.read_parquet("obs/*.parquet").df()        # pandas
    con.execute("SELECT * FROM t WHERE x > ?", [3]).fetchall()

``con.read_<fmt>(paths, **options)`` reads through the same RBAC gate
and ``Engine.resolve_from`` as a DSL query; the ``read_<fmt>_schema``
twins are SQL table functions
(``con.sql("SELECT * FROM read_parquet_schema('obs/*.parquet')")``).

``connect(":memory:")`` backs the catalog with a throwaway directory
(dropped at ``close()``) — the embedded-scratch mode of the reference's
in-memory database file.

Auth follows the reference's contract: off by default (embedded =
super-user); ``auth=True`` starts the session as the named user (or
anonymous read-only), and ``connect_as``/``as_anonymous``/``whoami``
switch identities per the ``Connection`` stubs.

Every terminal (fetch, ``arrow()``, ``record_batch()``, ``to_*``)
executes through one ``beacon_spark.engine.Run`` as the connection's
user, so it records one ``beacon.system.query_metrics`` row like any
server surface. ``Relation.record_batch()`` returns a
``pyarrow.RecordBatchReader`` fed by executor-spooled batches —
memory-bounded like the reference's ``fetch_record_batch``;
``arrow()``/``fetchall()`` materialize, as they do in the reference.
"""

from __future__ import annotations

import json
import os
from typing import Any

__all__ = [
    "Connection", "Relation", "Result", "connect", "engine_version",
    "apilevel", "threadsafety", "paramstyle",
    "Warning", "Error", "InterfaceError", "DatabaseError", "DataError",
    "OperationalError", "IntegrityError", "InternalError",
    "ProgrammingError", "NotSupportedError", "NotPermittedError",
]

apilevel = "2.0"
threadsafety = 2
paramstyle = "qmark"


# --------------------------------------------------- PEP 249 exceptions

class Warning(Exception):  # noqa: A001 — PEP 249 name
    pass


class Error(Exception):
    pass


class InterfaceError(Error):
    pass


class DatabaseError(Error):
    pass


class DataError(DatabaseError):
    pass


class OperationalError(DatabaseError):
    pass


class IntegrityError(DatabaseError):
    pass


class InternalError(DatabaseError):
    pass


class ProgrammingError(DatabaseError):
    pass


class NotSupportedError(DatabaseError):
    pass


class NotPermittedError(ProgrammingError):
    """RBAC denial (the reference's NotPermittedError)."""


def _wrap_error(e: BaseException) -> Error:
    from beacon_spark.auth import AuthError

    if isinstance(e, AuthError):
        return NotPermittedError(str(e))
    name = type(e).__name__
    if name in ("AnalysisException", "ParseException") or isinstance(
        e, (ValueError, KeyError, TypeError)
    ):
        return ProgrammingError(str(e))
    return OperationalError(str(e))


def _qmark_to_dollar(sql: str) -> str:
    """``?`` placeholders → ``$1..$n``; ``$n`` passes through untouched,
    matching the reference's paramstyle note. Placeholders are resolved
    with the SAME lexer as every other gate (server/guard.py), so a
    ``?`` inside a double-quoted string, backtick identifier, or comment
    is never rewritten (a single-quote-only scan corrupted those)."""
    from beacon_spark.server.guard import sql_noncode_spans

    spans = sql_noncode_spans(sql)

    def in_noncode(pos: int) -> bool:
        return any(a <= pos < b for a, b in spans)

    out: list[str] = []
    n = 0
    for i, ch in enumerate(sql):
        if ch == "?" and not in_noncode(i):
            n += 1
            out.append(f"${n}")
        else:
            out.append(ch)
    return "".join(out)


def engine_version() -> str:
    from beacon_spark.version import VERSION

    return VERSION


# ----------------------------------------------------------- Relation

class Relation:
    """A lazily-composed query (the reference's ``Relation``): nothing
    executes until a terminal method pulls rows/batches or writes a
    file. Each terminal executes through one
    :class:`beacon_spark.engine.Run` as the connection's user."""

    def __init__(self, conn: "Connection", df, sql_text: str):
        self._conn = conn
        self._df = df
        self._sql = sql_text

    # ------------------------------------------------ terminal: fetch

    def _run(self, df=None):
        from beacon_spark.engine import Run

        return Run(self._conn.engine, self._df if df is None else df,
                   self._sql, self._conn._user)

    def _tuples(self, df=None) -> list[tuple]:
        try:
            return [tuple(r) for r in self._run(df).rows()]
        except Exception as e:
            raise _wrap_error(e) from e

    def fetchone(self):
        rows = self._tuples(self._df.limit(1))
        return rows[0] if rows else None

    def fetchmany(self, size: int = 1):
        return self._tuples(self._df.limit(size))

    def fetchall(self):
        return self._tuples()

    def arrow(self):
        import pyarrow as pa

        run = self._run()
        try:
            return pa.Table.from_batches(run.batches(), schema=run.schema)
        except Exception as e:
            raise _wrap_error(e) from e

    fetch_arrow_table = arrow
    to_arrow_table = arrow

    def df(self):
        return self.arrow().to_pandas()

    to_df = df
    fetchdf = df

    def record_batch(self, batch_size: int | None = None):
        """Streaming ``pyarrow.RecordBatchReader`` — batches spool from
        the executors one at a time (memory-bounded; the reference's
        ``fetch_record_batch`` contract)."""
        import pyarrow as pa

        run = self._run()
        kwargs = {} if batch_size is None else {"max_chunksize": batch_size}
        return pa.RecordBatchReader.from_batches(
            run.schema, run.batches(**kwargs))

    fetch_record_batch = record_batch
    fetch_arrow_reader = record_batch

    def __arrow_c_stream__(self, requested_schema=None):
        return self.record_batch().__arrow_c_stream__(requested_schema)

    # ------------------------------------------------ terminal: sinks

    def _write(self, fmt: str, path: str, **options) -> None:
        try:
            self._run().write(fmt, path, **options)
        except Exception as e:
            raise _wrap_error(e) from e

    def to_parquet(self, path: str) -> None:
        self._write("parquet", path)

    def to_csv(self, path: str) -> None:
        self._write("csv", path)

    def to_arrow_ipc(self, path: str) -> None:
        self._write("arrow", path)

    to_ipc = to_arrow_ipc

    def to_netcdf(self, path: str) -> None:
        self._write("netcdf", path)

    to_hdf5 = to_netcdf

    def to_nd_netcdf(self, path: str, dimensions: list[str]) -> None:
        self._write("ndnetcdf", path, dimension_columns=dimensions)

    def to_geoparquet(self, path: str, longitude: str | None = None,
                      latitude: str | None = None) -> None:
        self._write(
            "geoparquet", path,
            longitude_column=longitude or "longitude",
            latitude_column=latitude or "latitude",
        )

    def to_odv(self, path: str, **roles) -> None:
        self._write("odv", path, **roles)

    # --------------------------------------------------- introspection

    @property
    def sql(self) -> str:
        return self._sql

    @property
    def columns(self) -> list[str]:
        return list(self._df.columns)

    @property
    def types(self) -> list[str]:
        return [f.dataType.simpleString() for f in self._df.schema.fields]

    @property
    def shape(self) -> tuple[int, int]:
        return (self._df.count(), len(self._df.columns))

    def __len__(self) -> int:
        return self._df.count()

    def explain(self, analyze: bool = False) -> str:
        if analyze:
            from beacon_spark.engine import explain_analyze

            return explain_analyze(self._df)
        return self._df._jdf.queryExecution().toString()

    def show(self, limit: int = 10) -> None:
        self._df.show(limit)

    # ------------------------------------------------- DDL from a rel

    def _as_view(self) -> str:
        import uuid

        name = f"__rel_{uuid.uuid4().hex}"
        self._df.createOrReplaceTempView(name)
        return name

    def create(self, name: str) -> "Relation":
        """CTAS a managed table from this relation."""
        tmp = self._as_view()
        try:
            self._conn._engine_sql(
                f"CREATE TABLE {name} AS SELECT * FROM {tmp}"
            )
        finally:
            self._conn.engine.spark.catalog.dropTempView(tmp)
        return self._conn.table(name)

    def create_view(self, name: str) -> "Relation":
        if not self._sql:
            raise ProgrammingError(
                "create_view needs a SQL-backed relation (reader relations "
                "have no statement text to persist); use create() instead"
            )
        self._conn._engine_sql(f"CREATE VIEW {name} AS {self._sql}")
        return self._conn.table(name)


# ------------------------------------------------------------- Result

class Result(Relation):
    """Materialized statement result (the reference's ``Result``): a
    relation whose fetches share one materialization behind a cursor."""

    def __init__(self, conn: "Connection", df, sql_text: str):
        super().__init__(conn, df, sql_text)
        self._rows: list[tuple] | None = None
        self._cursor = 0

    # lazy single materialization; every fetch shares it
    def _materialize(self) -> list[tuple]:
        if self._rows is None:
            self._rows = self._tuples()
        return self._rows

    @property
    def description(self):
        return [
            (f.name, f.dataType.simpleString(), None, None, None, None,
             f.nullable)
            for f in self._df.schema.fields
        ]

    @property
    def rowcount(self) -> int:
        return len(self._materialize())

    def __len__(self) -> int:
        return self.rowcount

    def fetchone(self):
        rows = self._materialize()
        if self._cursor >= len(rows):
            return None
        row = rows[self._cursor]
        self._cursor += 1
        return row

    def fetchmany(self, size: int = 1):
        rows = self._materialize()
        out = rows[self._cursor:self._cursor + size]
        self._cursor += len(out)
        return out

    def fetchall(self):
        rows = self._materialize()
        out = rows[self._cursor:]
        self._cursor = len(rows)
        return out


# --------------------------------------------------------- Connection

class Connection:
    """PEP 249 connection over an embedded Engine (the reference's
    ``Connection``). ``execute`` stores its result in the connection's
    own result slot; ``cursor()`` hands out a sibling with an
    independent slot (threadsafety 2)."""

    def __init__(self, engine, user: str | None = None,
                 _owns_tmpdir: str | None = None, read_only: bool = False,
                 auth_enabled: bool = False, _container: str | None = None,
                 _anon: bool = False):
        self.engine = engine
        self._user = user
        self._anon = _anon
        self._result: Result | None = None
        self._tmpdir = _owns_tmpdir
        self._read_only = read_only
        self._auth = auth_enabled
        self._container = _container
        self._closed = False

    # ----------------------------------------------------- internals

    def _check_open(self) -> None:
        if self._closed:
            raise InterfaceError("connection is closed")

    def _engine_sql(self, statement: str, params=None):
        self._check_open()
        try:
            return self.engine.sql(statement, params=params, user=self._user,
                                   read_only=self._read_only)
        except Exception as e:
            raise _wrap_error(e) from e

    # -------------------------------------------------------- DB-API

    def execute(self, query: str, parameters=None) -> "Connection":
        sql_text = _qmark_to_dollar(query) if parameters else query
        df = self._engine_sql(
            sql_text,
            params=(parameters if isinstance(parameters, dict)
                    else list(parameters)) if parameters else None
        )
        self._result = Result(self, df, query)
        return self

    def executemany(self, query: str, seq_of_parameters) -> "Connection":
        for parameters in seq_of_parameters:
            self.execute(query, parameters)
        return self

    def _slot(self) -> Result:
        if self._result is None:
            raise InterfaceError("no result: call execute() first")
        return self._result

    def fetchone(self):
        return self._slot().fetchone()

    def fetchmany(self, size: int = 1):
        return self._slot().fetchmany(size)

    def fetchall(self):
        return self._slot().fetchall()

    @property
    def description(self):
        return self._result.description if self._result is not None else None

    @property
    def rowcount(self) -> int:
        return self._result.rowcount if self._result is not None else -1

    # ------------------------------------------------- lazy relations

    def sql(self, query: str) -> Relation:
        return Relation(self, self._engine_sql(query), query)

    def query(self, query: str) -> Relation:
        return self.sql(query)

    def table(self, name: str) -> Relation:
        return self.sql(f"SELECT * FROM {name}")

    view = table

    # ---------------------------------------------------------- readers

    def read(self, function: str, paths, *, columns=None,
             **options) -> Relation:
        """Read ``paths`` as a ``read_*`` table function's format
        (``"parquet"`` or ``"read_parquet"``): ``Engine.resolve_from``
        of the from-spec ``{fmt: {"paths": paths, **options}}``, which
        checks this connection's user's path grants like a DSL query's.
        Options go by keyword under the spec's
        keys (``delimiter``, ``infer_records``, ``dimensions``,
        ``version_as_of``, ``timestamp_as_of``, ``snapshot_id``);
        ``columns`` projects."""
        from beacon_spark.engine import READ_FORMATS

        self._check_open()
        fmt = function.removeprefix("read_")
        if fmt not in READ_FORMATS:
            raise NotSupportedError(f"unknown table function {function!r}")
        spec = {fmt: {"paths": [paths] if isinstance(paths, str)
                      else list(paths), **options}}
        try:
            df = self.engine.resolve_from(spec, projection=columns,
                                          user=self._user)
        except Exception as e:
            raise _wrap_error(e) from e
        if columns:
            df = df.select(*columns)
        return Relation(self, df, "")

    def __getattr__(self, name: str):
        # read_* passthroughs (read_parquet, read_zarr, …) resolve
        # dynamically, like the reference's catalog-backed __getattr__
        if name.startswith("read_") and name in self.table_functions():
            return lambda *a, **kw: self.read(name, *a, **kw)
        raise AttributeError(name)

    def list_datasets(self) -> Relation:
        self._check_open()
        return Relation(self, self.engine.list_datasets(), "list_datasets()")

    def table_functions(self) -> list[str]:
        from beacon_spark.engine import READ_FORMATS

        return sorted(f"read_{fmt}" for fmt in READ_FORMATS)

    def functions(self) -> Relation:
        return Relation(
            self,
            self.engine.spark.sql("SHOW USER FUNCTIONS"),
            "SHOW USER FUNCTIONS",
        )

    def list_tables(self) -> list[str]:
        self._check_open()
        return self.engine.table_names()

    # --------------------------------------------------------- ingest

    def _to_df(self, obj):
        spark = self.engine.spark
        try:
            import pandas as pd
            import pyarrow as pa

            if isinstance(obj, pa.Table):
                return spark.createDataFrame(obj.to_pandas())
            if isinstance(obj, pa.RecordBatchReader):
                return spark.createDataFrame(obj.read_all().to_pandas())
            if isinstance(obj, pd.DataFrame):
                return spark.createDataFrame(obj)
        except ImportError:  # pragma: no cover
            pass
        if hasattr(obj, "sparkSession"):  # already a DataFrame
            return obj
        raise ProgrammingError(
            f"cannot register a {type(obj).__name__}: pass a pandas "
            "DataFrame, pyarrow Table/reader, or Spark DataFrame"
        )

    def register(self, name: str, obj, *, persist: bool = False) -> "Connection":
        df = self._to_df(obj)
        if not persist:
            df.createOrReplaceTempView(name)
            return self
        import uuid

        tmp = f"__reg_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(tmp)
        try:
            self._engine_sql(f"CREATE TABLE {name} AS SELECT * FROM {tmp}")
        finally:
            self.engine.spark.catalog.dropTempView(tmp)
        return self

    def append(self, name: str, obj) -> "Connection":
        import uuid

        df = self._to_df(obj)
        tmp = f"__app_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(tmp)
        try:
            self._engine_sql(f"INSERT INTO {name} SELECT * FROM {tmp}")
        finally:
            self.engine.spark.catalog.dropTempView(tmp)
        return self

    def unregister(self, name: str) -> "Connection":
        self.engine.spark.catalog.dropTempView(name)
        return self

    def refresh(self, name: str) -> "Connection":
        self._engine_sql(f"REFRESH {name}")
        return self

    # ----------------------------------------------------- federation

    def attach(self, name: str, url: str, *, token: str | None = None,
               tls: bool = False, **_ignored) -> None:
        opts = []
        if token:
            # ENGINE-dialect escape (''-doubling): ATTACH is parsed by
            # the engine's option grammar, where backslash is literal —
            # NOT by Spark's lexer (guard.sql_string_literal is for
            # Spark-lexed splices)
            opts.append(f"'token' '{token.replace(chr(39), chr(39) * 2)}'")
        if tls:
            opts.append("'tls' 'true'")
        with_clause = f" WITH ({', '.join(opts)})" if opts else ""
        url_q = url.replace("'", "''")
        self._engine_sql(f"ATTACH '{url_q}' AS {name}{with_clause}")

    def detach(self, name: str) -> bool:
        try:
            self._engine_sql(f"DETACH {name}")
            return True
        except Error:
            return False

    def attached(self) -> list[str]:
        if self.engine.catalog is None:
            return []
        return sorted(self.engine.catalog._load().get("attachments", {}))

    # -------------------------------------------------------- beacon

    def json_query(self, spec: dict[str, Any]) -> Result:
        self._check_open()
        try:
            # an embedded {"sql": …} statement is read-only on a
            # read-only connection, like SQL
            df = self.engine.query(spec, user=self._user,
                                   read_only=self._read_only)
        except Exception as e:
            raise _wrap_error(e) from e
        return Result(self, df, json.dumps(spec, default=str))

    # ------------------------------------------------------ identity

    def cursor(self) -> "Connection":
        """A sibling connection sharing the engine with its own result
        slot (the reference's cursor() contract)."""
        self._check_open()
        return Connection(self.engine, user=self._user,
                          read_only=self._read_only,
                          auth_enabled=self._auth)

    def connect_as(self, username: str | None = None,
                   password: str | None = None,
                   token: str | None = None) -> "Connection":
        from beacon_spark import auth as _auth

        if token is not None:
            # bearer tokens are a TRANSPORT credential (HTTP/Flight);
            # the embedded client has no validator for them — silently
            # returning an anonymous session granted the wrong identity
            raise NotSupportedError(
                "token auth is not supported by the embedded client; "
                "connect with username/password, or use the HTTP/Flight "
                "transports for bearer tokens")
        if username is None:
            return self.as_anonymous()
        if not _auth.verify_user(self.engine, username, password or ""):
            raise NotPermittedError(f"bad credentials for user {username!r}")
        return Connection(self.engine, user=username, auth_enabled=True)

    def as_anonymous(self) -> "Connection":
        """Anonymous = read-only, no grants (the reference's
        anonymous-session contract). The identity comes from the SAME
        fail-closed rule every transport uses: with enforcement on,
        the provisioned ``anonymous`` principal (deny-wins grants
        apply) or a refusal — ``user=None`` would have run reads as
        the embedded SUPER-user, bypassing RBAC entirely."""
        from beacon_spark import auth as _auth

        try:
            ident = _auth.resolve_unauthenticated(self.engine)
        except _auth.AuthError as e:
            raise NotPermittedError(str(e)) from e
        return Connection(self.engine, user=ident, read_only=True,
                          auth_enabled=self._auth, _anon=True)

    def whoami(self) -> dict[str, Any]:
        if self._user is None:
            return {
                "user": None,
                "super_user": not self._read_only,
                "roles": [],
                "anonymous": self._read_only,
            }
        cat = self.engine.catalog._load() if self.engine.catalog else {}
        ident = cat.get("auth", {}).get("users", {}).get(self._user, {})
        return {
            "user": self._user,
            "super_user": bool(ident.get("super_user")),
            "roles": list(ident.get("roles", [])),
            "anonymous": self._anon,
        }

    @property
    def auth_enabled(self) -> bool:
        return self._auth

    # ---------------------------------------------------- transactions

    def commit(self) -> None:  # autocommit engine: PEP 249 no-op
        self._check_open()

    def rollback(self) -> None:
        self._check_open()

    # ------------------------------------------------------ lifecycle

    def close(self) -> None:
        self._closed = True
        if self._container is not None:
            from beacon_spark.sources.container import close_container

            close_container(self._container)
            self._container = None
        if self._tmpdir is not None:
            import shutil

            shutil.rmtree(self._tmpdir, ignore_errors=True)
            self._tmpdir = None

    def __enter__(self) -> "Connection":
        return self

    def __exit__(self, exc_type, exc_value, traceback) -> bool:
        self.close()
        return False


# ------------------------------------------------------------ connect

def connect(
    database: str = ":memory:",
    *,
    spark=None,
    read_only: bool = False,
    auth: bool = False,
    username: str | None = None,
    password: str | None = None,
    datasets: str | None = None,
    **_ignored,
) -> Connection:
    """Open an embedded connection (the reference's ``beacondb.connect``).

    ``database`` is the lake root holding the catalog; ``":memory:"``
    backs it with a throwaway directory removed at ``close()``, and a
    path ending in ``.db`` opens (creating if absent) a SINGLE-FILE
    container database — the reference's ``Database::open("beacon.db")``
    embedded mode (``embedded.rs:66-110``): catalog, managed tables,
    indexes and secrets all live inside that one file; ``close()``
    checkpoints it so it can be copied whole. Any other path is a
    directory lake root. ``datasets`` overrides where relative read
    paths resolve (defaults to the lake root, as in the reference).
    With ``auth=True`` the session runs as ``username`` (RBAC-gated) or
    anonymous/read-only when none is given — auth is a property of how
    the database was opened, never of the file (embedded.rs:26-30):
    without it, possession of the file is full control.
    """
    from beacon_spark.engine import Engine
    from beacon_spark.session import get_spark

    if spark is None:
        spark = get_spark()
    tmpdir = container = None
    root = database
    if database == ":memory:":
        import tempfile

        tmpdir = root = tempfile.mkdtemp(prefix="beacon_mem_")
    elif database.endswith(".db") and not os.path.isdir(database):
        from beacon_spark.sources.container import container_uri

        container = os.path.abspath(database)
        root = container_uri(container)
    eng = Engine(spark, datasets_root=datasets or root)
    if not auth:
        return Connection(eng, user=None, _owns_tmpdir=tmpdir,
                          read_only=read_only, _container=container)
    if username is not None:
        from beacon_spark import auth as _auth

        if not _auth.verify_user(eng, username, password or ""):
            raise NotPermittedError(f"bad credentials for user {username!r}")
        return Connection(eng, user=username, _owns_tmpdir=tmpdir,
                          read_only=read_only, auth_enabled=True,
                          _container=container)
    # auth on, no credentials: anonymous read-only session — resolved
    # through the shared fail-closed rule (enforcement on => the
    # provisioned anonymous principal with its deny-wins grants, or a
    # refusal; user=None here would read as the embedded super-user)
    from beacon_spark import auth as _auth

    try:
        ident = _auth.resolve_unauthenticated(eng)
    except _auth.AuthError as e:
        raise NotPermittedError(str(e)) from e
    return Connection(eng, user=ident, _owns_tmpdir=tmpdir, read_only=True,
                      auth_enabled=True, _container=container, _anon=True)
