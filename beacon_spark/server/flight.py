"""Arrow Flight transport for an Engine.

The Spark analog of the reference's Flight SQL service
(``beacon-server/beacon-server/src/flight_sql/service.rs:157-476``) and
the serving half of its remote federation (``remote/catalog.rs:1-11``):
a running engine exposed over the network so another engine can ATTACH
it and push queries down.

Protocol (plain Flight carrying the same shapes Flight SQL would; the
pyarrow wheel ships Flight but not the Flight SQL extension):

  - ``do_get(Ticket = JSON {"sql": …, "params": […]?})`` — execute the
    statement on the engine and stream the result as Arrow batches.
  - ``get_flight_info(descriptor)`` — command bytes = the same JSON;
    path = ``[table]`` = ``SELECT * FROM table``. Returns the result
    schema + one endpoint whose ticket re-runs the command. Read-only
    statements only: planning a DDL/DML here would EXECUTE it, and the
    standard ``get_flight_info → do_get`` flow would then run it twice.
  - ``do_put(descriptor, stream)`` — ingest into a managed table.
  - ``do_action("list_tables")`` — one JSON body ``{"tables": [...],
    "datasets": [...]}``: the GetTables-style metadata enumeration a
    remote catalog performs once at ATTACH time (catalog.rs:44-49).
  - optional bearer token: construct with ``token=...``; every call
    must carry ``authorization: Bearer <token>`` (the reference's
    ``ATTACH … WITH ('token' …)``, parser/statement.rs:60).

Scale: federation ships QUERIES in and RESULTS out — table inputs never
cross the wire. Statements run through ``Engine.run``, the runner every
surface shares (limits plus one ``beacon.system.query_metrics`` row per
completed statement); ``do_get`` is a ``GeneratorStream`` over
``Run.batches``, executor→driver→wire one Arrow batch at a time (the
reference streams its RecordBatch channels the same way,
``beacon-core/src/runtime.rs:159-246``). An over-limit stream fails with
a clean FlightError in the gRPC trailers, never a driver OOM.
"""

from __future__ import annotations

import json
import logging
import threading

import pyarrow as pa
import pyarrow.flight as fl

__all__ = ["BeaconFlightServer"]

_log = logging.getLogger("beacon_spark.server.flight")


class _Identity(fl.ServerMiddleware):
    """Per-call caller identity: None = the transport super-identity
    (bearer token / open embedded server); a string = an RBAC user from
    the engine's user store, whose statements run gated by their roles."""

    def __init__(self, user: str | None):
        self.user = user


class _BearerAuth(fl.ServerMiddlewareFactory):
    def __init__(self, engine, token: str | None, oidc=None):
        self._engine = engine
        self._want = f"Bearer {token}" if token else None
        self._oidc = oidc  # OidcValidator | None (server/oidc.py)

    def start_call(self, info, headers):
        got = headers.get("authorization") or headers.get("Authorization") or []
        header = got[0] if got else ""
        import hmac as _hmac

        if self._want is not None and _hmac.compare_digest(
                header.encode("latin-1", "replace")
                if isinstance(header, str) else header,
                self._want.encode()):
            # byte-wise: compare_digest raises TypeError on a non-ASCII
            # header string and crashed the call (same crash the HTTP
            # transport fixed in r10)
            return _Identity(None)
        if self._oidc is not None and header.startswith("Bearer "):
            # OIDC bearer JWT → external principal (see server/oidc.py);
            # invalid tokens 401, never fall through to anonymous
            from beacon_spark.server.oidc import OidcError

            try:
                ident = self._oidc.verify(header[7:])
            except OidcError as e:
                raise fl.FlightUnauthenticatedError("bad bearer token") from e
            from beacon_spark.auth import ExternalPrincipal

            return _Identity(ExternalPrincipal(ident.username, ident.roles))
        if header.startswith("Basic "):
            import base64

            from beacon_spark import auth as _auth

            try:
                creds = base64.b64decode(header[6:]).decode()
                user, _, pw = creds.partition(":")
            except Exception:
                user = ""
            if user and self._engine.catalog is not None and \
                    _auth.verify_user(self._engine, user, pw):
                return _Identity(user)
            raise fl.FlightUnauthenticatedError("bad basic credentials")
        if header:
            # SOME credential was presented and nothing above accepted
            # it — refuse HERE. Falling through to the unauthenticated
            # rule let an invalid Bearer on a token-less server resolve
            # to the embedded super-user (the exact hole the HTTP
            # transport closed in r10; the Flight surface had it too).
            raise fl.FlightUnauthenticatedError("unrecognized credentials")
        if self._want is None:
            # no credentials on a token-less server: the ONE shared
            # fail-closed rule (auth.resolve_unauthenticated — embedded
            # super only while enforcement is off, anonymous principal
            # or refusal otherwise)
            from beacon_spark import auth as _auth

            try:
                return _Identity(_auth.resolve_unauthenticated(self._engine))
            except _auth.AuthError as e:
                raise fl.FlightUnauthenticatedError(str(e)) from e
        raise fl.FlightUnauthenticatedError("bad or missing bearer token")


class BeaconFlightServer(fl.FlightServerBase):
    """Serve an :class:`beacon_spark.engine.Engine` over Arrow Flight.

    ``BeaconFlightServer(engine, port=0, token=None, limits=None)`` —
    port 0 picks an ephemeral port (see ``.port``). ``serve()`` blocks;
    ``serve_background()`` runs it on a daemon thread and returns once
    the port is live.
    """

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0,
                 token: str | None = None, limits=None, oidc=None):
        from beacon_spark.server.limits import QueryLimits

        # the auth middleware is always installed: it resolves the
        # caller identity (bearer/basic/anonymous) for every call
        super().__init__(
            f"grpc://{host}:{port}",
            middleware={"auth": _BearerAuth(engine, token, oidc=oidc)},
        )
        self.engine = engine
        self._limits = limits if limits is not None else QueryLimits()
        from beacon_spark.server.flightsql import FlightSqlHandler

        self._fsql = FlightSqlHandler(engine, self._limits)
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------ surface

    @staticmethod
    def _user(context) -> str | None:
        try:
            mw = context.get_middleware("auth")
        except Exception as e:
            # FAIL CLOSED: None means the embedded SUPER-user downstream,
            # so an auth-middleware resolution failure must abort the
            # call, never silently escalate it
            raise fl.FlightUnauthenticatedError(
                f"auth middleware unavailable: {e}") from e
        if mw is None:
            raise fl.FlightUnauthenticatedError("auth middleware missing")
        return mw.user

    def do_get(self, context, ticket: fl.Ticket):
        # FlightSQL tickets (Any-wrapped protobuf) first; legacy JSON else
        stream = self._fsql.do_get(ticket.ticket, self._user(context))
        if stream is not None:
            return stream
        cmd = json.loads(ticket.ticket.decode())
        run = self.engine.run(cmd["sql"], params=cmd.get("params"),
                              user=self._user(context), limits=self._limits)
        # DDL/DML status frames and SELECT results ride the same path;
        # the generator evaluates lazily so execution happens as the
        # stream is consumed, one batch in memory at a time
        return fl.GeneratorStream(run.schema, run.batches())

    def get_flight_info(self, context, descriptor):
        if descriptor.command:
            info = self._fsql.flight_info(
                descriptor, descriptor.command, self._user(context)
            )
            if info is not None:
                return info
        cmd = self._cmd_from_descriptor(descriptor)
        # planning a statement runs Engine.sql, which EXECUTES DDL/DML —
        # and do_get would then run it twice: only reads get an info.
        # LIMIT 0 keeps it metadata-sized (params must bind here too, or
        # parameterized commands fail at info time)
        from beacon_spark.outputs import arrow_schema_of

        schema = arrow_schema_of(
            self.engine.sql(
                cmd["sql"], params=cmd.get("params"), user=self._user(context),
                read_only=True,
            ).limit(0)
        )
        ticket = fl.Ticket(json.dumps(cmd).encode())
        endpoint = fl.FlightEndpoint(ticket, [])
        return fl.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    @staticmethod
    def _table_ident(raw: str) -> str:
        """Same bare-identifier gate as the HTTP/MCP table routes:
        a path/table name interpolates into SQL, so anything beyond
        ``[\\w.]`` could smuggle arbitrary statement text."""
        import re as _re

        if not _re.fullmatch(r"[\w.]+", raw):
            raise fl.FlightServerError(
                f"table name must be a bare identifier, got {raw!r}")
        return raw

    def _cmd_from_descriptor(self, descriptor: fl.FlightDescriptor) -> dict:
        if descriptor.command:
            return json.loads(descriptor.command.decode())
        if descriptor.path:
            tbl = self._table_ident(descriptor.path[0].decode())
            return {"sql": f"SELECT * FROM {tbl}"}
        raise fl.FlightServerError("descriptor needs a command or a path")

    def do_put(self, context, descriptor, reader, writer):
        """Ingest an Arrow stream into a managed table (the Flight SQL
        prepared-statement-update role, service.rs:362-380): descriptor
        path = [table] (or command {"table": …}). The upload is spooled
        to a temp parquet file BATCH BY BATCH as it arrives (bounded
        driver memory, matching do_get's streaming contract), then runs
        through the engine's INSERT path so catalog versioning and index
        refresh behave exactly as SQL INSERT."""
        import os
        import tempfile
        import uuid

        import pyarrow.parquet as pq

        if descriptor.command:
            upd = self._fsql.do_put(descriptor.command, self._user(context),
                                    reader=reader)
            if upd is not None:
                # CommandStatementUpdate drains the (empty) stream;
                # CommandPreparedStatementQuery consumed the bound
                # parameter batch inside the handler. Either way the
                # result rides the app metadata, so a failed drain is
                # reported, not raised.
                try:
                    reader.read_all()
                except Exception as exc:
                    _log.warning("do_put: draining the FlightSQL update "
                                 "stream failed: %s: %s",
                                 type(exc).__name__, exc)
                _n, meta = upd
                writer.write(pa.py_buffer(meta))
                return
            name = self._table_ident(
                str(json.loads(descriptor.command.decode())["table"]))
        elif descriptor.path:
            name = self._table_ident(descriptor.path[0].decode())
        else:
            raise fl.FlightServerError("do_put needs a table name")
        fd, spool = tempfile.mkstemp(prefix="beacon_put_", suffix=".parquet")
        os.close(fd)
        try:
            with pq.ParquetWriter(spool, reader.schema) as w:
                for chunk in reader:
                    if chunk.data is not None:
                        w.write_batch(chunk.data)
            df = self.engine.spark.read.parquet(spool)
            tmp = f"__flight_put_{uuid.uuid4().hex}"
            df.createOrReplaceTempView(tmp)
            try:
                self.engine.sql(
                    f"INSERT INTO {name} SELECT * FROM {tmp}",
                    user=self._user(context),
                )
            finally:
                self.engine.spark.catalog.dropTempView(tmp)
        finally:
            os.unlink(spool)

    def do_action(self, context, action: fl.Action):
        res = self._fsql.action(
            action.type, action.body.to_pybytes() if action.body else b"",
            self._user(context),
        )
        if res is not None:
            return res
        if action.type == "list_tables":
            tables = self.engine.table_names()
            try:
                datasets = [
                    r.dataset for r in self.engine.list_datasets().collect()
                ]
            except Exception:
                datasets = []
            body = json.dumps({"tables": tables, "datasets": datasets})
            return [body.encode()]
        if action.type == "ping":
            return [b"pong"]
        raise fl.FlightServerError(f"unknown action {action.type!r}")

    # ------------------------------------------------------------ lifecycle

    def serve_background(self) -> int:
        """Start serving on a daemon thread; returns the bound port."""
        self._thread = threading.Thread(target=self.serve, daemon=True)
        self._thread.start()
        return self.port
