"""HTTP transport for an Engine (stdlib ``http.server``, no framework).

The Spark analog of the reference's axum client API
(``beacon-server/beacon-server/src/axum/client/query.rs:20-80``,
``tables.rs``, ``router.rs:107-118``). Endpoints:

  - ``POST /api/query`` — body ``{"sql": "…"}`` or a JSON-DSL query
    object (``{"select": …, "from": …}``, query.rs request_body).
    Response: Arrow IPC stream (``application/vnd.apache.arrow.stream``,
    the reference's default) or JSON records with ``{"format":
    "json"}``.
  - ``GET /api/health`` → ``Ok``
  - ``GET /api/datasets`` / ``/api/list-datasets`` → dataset listing
  - ``GET /api/total-datasets`` → count
  - ``GET /api/tables`` → catalog tables
  - ``GET /api/table-schema?table=t`` → Spark schema JSON
  - ``GET /api/info`` → engine version info
  - ``POST /mcp`` — MCP streamable-HTTP (JSON-RPC 2.0): ``initialize``,
    ``tools/list``, ``tools/call`` with the reference's core tool set
    (``list_tables`` / ``describe_table`` / ``run_sql``, beacon-mcp
    catalog.rs:134-136). Every MCP statement runs read-only
    (``Engine.sql(…, read_only=True)``): anything Spark does not parse
    as a query or a DESCRIBE/SHOW/EXPLAIN is rejected, mirroring the
    reference's cleared super-user flag (server.rs:70-85). Tool
    failures come back as tool-result errors (isError), not protocol
    errors, so a model can read and react.
  - auth: optional bearer token (the transport super-identity, same
    contract as the Flight transport) and/or HTTP Basic credentials
    resolving to an RBAC user (auth.py) whose statements run gated.

Queries in, results out; inputs never cross the wire. A statement runs
through ``Engine.run`` — the one runner under every surface, which
applies the row/byte/time limits (``server/limits.py``) and records the
query's ``beacon.system.query_metrics`` row — and this module is its
codec: Arrow responses chunk-stream ``Run.batches`` one executor-spooled
batch at a time, file downloads are written by ``Run.write`` and then
chunk-copied to the socket, and JSON responses are ``Run.rows``, so one
request can never OOM the server.
"""

from __future__ import annotations

import io
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

__all__ = ["BeaconHttpServer"]

_ARROW_MIME = "application/vnd.apache.arrow.stream"

def _sniff_cfg(path: str) -> tuple[str, dict]:
    """Dataset format + reader config from the extension — the ONE
    mapping list_datasets uses (sources/paths.py:detect_format), so
    /api/dataset-schema agrees with /api/datasets about every dataset's
    format. ``.tsv`` additionally carries its tab delimiter (a bare
    'csv' would silently mis-split it on commas)."""
    from beacon_spark.sources.paths import detect_format

    fmt = detect_format(path.rstrip("/"))
    if fmt is None:
        raise ValueError(f"cannot infer dataset format from {path!r}")
    cfg: dict = {"paths": [path]}
    if fmt == "csv" and path.rstrip("/").lower().endswith(".tsv"):
        cfg["delimiter"] = "\t"
    return fmt, cfg


#: reference CorsConfig defaults (beacon-server-config/src/lib.rs:135-145)
_CORS_DEFAULTS = {
    "allowed_origins": "*",
    "allowed_methods": "GET, POST, PUT, DELETE, OPTIONS",
    "allowed_headers": "authorization, content-type",
    "expose_headers": "x-beacon-query-id",
    "allowed_credentials": False,
    "max_age": 3600,
}


class BeaconHttpServer:
    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0,
                 token: str | None = None, limits=None,
                 cors: dict | None = None, enable_sql: bool = True,
                 sys_info: bool = False, oidc=None):
        from beacon_spark.server.limits import QueryLimits

        from beacon_spark.server.admin import AdminApi

        self.engine = engine
        self._token = token
        self._oidc = oidc  # OidcValidator | None (server/oidc.py)
        self._limits = limits if limits is not None else QueryLimits()
        self._admin_api = AdminApi(engine)
        # BEACON_ENABLE_SQL=false parity: the gate is intentionally
        # narrow — only raw {"sql": …} bodies are rejected; the
        # structured JSON DSL keeps working (test_sql_disabled.py)
        self._enable_sql = enable_sql
        self._sys_info = sys_info
        # cors=None disables cross-origin headers (embedded default);
        # cors={} enables the reference's defaults; keys override
        self._cors = None if cors is None else {**_CORS_DEFAULTS, **cors}
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # HTTP/1.1: needed for chunked transfer on streamed Arrow
            # responses (every non-streamed path sends Content-Length)
            protocol_version = "HTTP/1.1"

            # quiet request logging (stderr noise in tests/servers)
            def log_message(self, *args):
                pass

            def end_headers(self):
                # single-point CORS injection: every response path ends
                # here, so cross-origin headers can't be missed on one
                # route (reference: tower-http CorsLayer on the whole
                # router, axum/router.rs)
                origin = outer._allow_origin(self.headers.get("Origin"))
                if origin:
                    self.send_header("Access-Control-Allow-Origin", origin)
                    self.send_header("Vary", "Origin")
                    self.send_header(
                        "Access-Control-Expose-Headers",
                        outer._cors["expose_headers"],
                    )
                    if outer._cors["allowed_credentials"]:
                        self.send_header(
                            "Access-Control-Allow-Credentials", "true")
                super().end_headers()

            def do_OPTIONS(self):
                """CORS preflight: answered without auth (browsers send
                preflights credential-less by design)."""
                origin = outer._allow_origin(self.headers.get("Origin"))
                if not origin:
                    self._deny(404, "CORS is not enabled")
                    return
                self.send_response(204)
                self.send_header("Access-Control-Allow-Methods",
                                 outer._cors["allowed_methods"])
                self.send_header("Access-Control-Allow-Headers",
                                 outer._cors["allowed_headers"])
                self.send_header("Access-Control-Max-Age",
                                 str(outer._cors["max_age"]))
                self.send_header("Content-Length", "0")
                self.end_headers()

            def _deny(self, code: int, msg: str) -> None:
                # the request body may not have been drained (early auth/
                # route failures) — close so HTTP/1.1 keep-alive cannot
                # parse stale body bytes as the next request line
                self.close_connection = True
                body = json.dumps(msg).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _authed(self) -> bool:
                """Bearer <token> = the transport super-identity;
                Basic user:pass = an RBAC identity from the engine's
                user store (auth.py) — its statements run gated by that
                user's roles. No header: open only when the server has
                no token configured (embedded mode)."""
                self._ident = None  # None = embedded super-user
                header = self.headers.get("Authorization") or ""
                import hmac as _hmac

                if outer._token is not None and _hmac.compare_digest(
                        header.encode("latin-1", "replace"),
                        f"Bearer {outer._token}".encode()):
                    # byte-wise: compare_digest raises TypeError on a
                    # non-ASCII header string and crashed the handler
                    return True
                if outer._oidc is not None and header.startswith("Bearer "):
                    # OIDC bearer JWT: offline JWS verify, then the
                    # token's roles become an EXTERNAL principal (the
                    # IdP owns the user; auth.py maps the role names
                    # onto the local grant model). A presented-but-
                    # invalid token is ALWAYS a 401 — it never falls
                    # through to the anonymous path.
                    from beacon_spark.server.oidc import OidcError

                    try:
                        ident = outer._oidc.verify(header[7:])
                    except OidcError:
                        self._deny(401, "bad bearer token")
                        return False
                    from beacon_spark.auth import ExternalPrincipal

                    self._ident = ExternalPrincipal(
                        ident.username, ident.roles)
                    return True
                if header.startswith("Basic "):
                    import base64

                    from beacon_spark import auth as _auth

                    try:
                        creds = base64.b64decode(header[6:]).decode()
                        user, _, pw = creds.partition(":")
                    except Exception:
                        user = ""
                    if user and outer.engine.catalog is not None and \
                            _auth.verify_user(outer.engine, user, pw):
                        self._ident = user
                        return True
                    self._deny(401, "bad basic credentials")
                    return False
                if header:
                    # SOME credential was presented and nothing above
                    # accepted it — a presented-but-invalid token must
                    # be a 401 everywhere, not only when OIDC is
                    # configured (it used to fall through to the
                    # embedded super-user on token-less servers)
                    self._deny(401, "unrecognized credentials")
                    return False
                if outer._token is None:
                    # no credentials on a token-less server: ONE shared
                    # fail-closed rule (auth.resolve_unauthenticated) —
                    # embedded super only while enforcement is off, the
                    # anonymous principal or a 401 otherwise
                    from beacon_spark import auth as _auth

                    try:
                        self._ident = _auth.resolve_unauthenticated(
                            outer.engine)
                    except _auth.AuthError as e:
                        self._deny(401, str(e))
                        return False
                    return True
                self._deny(401, "bad or missing bearer token")
                return False

            def _send(self, payload: bytes, ctype: str,
                      extra: dict | None = None) -> None:
                self._response_started = True
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(payload)))
                for k, v in (extra or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(payload)

            def _send_json(self, obj, default=None) -> None:
                self._send(json.dumps(obj, default=default).encode(),
                           "application/json")

            def do_GET(self):
                # per-REQUEST reset: handler instances live per keep-alive
                # CONNECTION, so a prior request's response-started mark
                # would make a clean pre-response error on the next
                # request abort instead of answering 400
                self._response_started = False
                u = urlparse(self.path)
                if u.path == "/admin" or u.path.startswith("/admin/"):
                    # the SPA's static assets carry no data and must load
                    # BEFORE the in-browser login (web-admin-ui.md's
                    # login-screen flow) — same no-auth contract as /console
                    from beacon_spark.server.webadmin import admin_asset

                    asset = admin_asset(u.path)
                    if asset is None:
                        self._deny(404, "no such admin asset")
                    else:
                        self._send(asset[0], asset[1])
                    return
                if not self._authed():
                    return
                if u.path.startswith("/api/admin"):
                    self._admin()
                    return
                q = {k: v[0] for k, v in parse_qs(u.query).items()}
                try:
                    self._route_get(u.path, q)
                except Exception as e:
                    self._deny(400, str(e))

            def do_PUT(self):
                # per-REQUEST reset: handler instances live per keep-alive
                # CONNECTION, so a prior request's response-started mark
                # would make a clean pre-response error on the next
                # request abort instead of answering 400
                self._response_started = False
                if not self._authed():
                    return
                if urlparse(self.path).path.startswith("/api/admin"):
                    self._admin()
                    return
                self._deny(404, f"no such endpoint: {self.path}")

            def do_DELETE(self):
                # per-REQUEST reset: handler instances live per keep-alive
                # CONNECTION, so a prior request's response-started mark
                # would make a clean pre-response error on the next
                # request abort instead of answering 400
                self._response_started = False
                if not self._authed():
                    return
                if urlparse(self.path).path.startswith("/api/admin"):
                    self._admin()
                    return
                self._deny(404, f"no such endpoint: {self.path}")

            def _admin(self) -> None:
                """Dispatch /api/admin/* (server/admin.py). Super-user
                only: the transport identity (bearer token / open
                embedded server) or a Basic super-user — the reference
                attaches its basic_auth super-user middleware to this
                router the same way (admin/mod.rs:33)."""
                from beacon_spark.server.admin import FileError

                ident = getattr(self, "_ident", None)
                if ident is not None:
                    # an OIDC ExternalPrincipal whose username collides
                    # with a local super-user is still not super; a
                    # catalog that cannot be read denies too
                    from beacon_spark import auth as _auth_mod

                    msg = "admin endpoints require a super-user identity"
                    try:
                        _auth_mod.require_super(outer.engine, ident, msg)
                    except Exception:
                        self._deny(403, msg)
                        return
                u = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(u.query).items()}
                sub = u.path[len("/api/admin"):].lstrip("/")
                n = int(self.headers.get("Content-Length", 0) or 0)
                method = self.command
                # raw-body routes stream straight from the socket; the
                # rest carry small JSON bodies
                raw = sub in ("datasets/upload", "datasets/upload/part")
                body = None
                if not raw and method in ("POST", "PUT") and n:
                    body = self.rfile.read(n)
                try:
                    status, ctype, payload = outer._admin_api.handle(
                        method, sub, q, body, rfile=self.rfile, length=n
                    )
                except FileError as e:
                    self._deny(e.status, str(e))
                    return
                except Exception as e:
                    self._deny(400, str(e))
                    return
                if isinstance(payload, tuple):  # (total, chunk iterator)
                    total, chunks = payload
                    self.send_response(status)
                    self.send_header("Content-Type", ctype)
                    self.send_header("Content-Length", str(total))
                    self.end_headers()
                    for c in chunks:
                        self.wfile.write(c)
                    return
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def _route_get(self, path: str, q: dict) -> None:
                eng = outer.engine
                if path == "/api/health":
                    self._send(b"Ok", "text/plain")
                elif path in ("/", "/console"):
                    from beacon_spark.server.console import CONSOLE_HTML

                    self._send(CONSOLE_HTML.encode(),
                               "text/html; charset=utf-8")
                elif path == "/openapi.json":
                    from beacon_spark.server.openapi import openapi_doc

                    self._send_json(openapi_doc())
                elif path in ("/api/datasets", "/api/list-datasets"):
                    rows = eng.list_datasets().collect()
                    self._send_json(
                        [{"dataset": r.dataset, "format": r.format} for r in rows]
                    )
                elif path == "/api/total-datasets":
                    self._send_json({"total": eng.list_datasets().count()})
                elif path == "/api/tables":
                    self._send_json(eng.table_names())
                elif path == "/api/tables-with-schema":
                    # every registered table with its schema fields
                    # (tables.rs:156-180); tables the identity cannot
                    # read are silently omitted, as in the reference
                    self._send_json(outer._tables_with_schema(
                        getattr(self, "_ident", None)))
                elif path == "/api/query/available-columns":
                    # deprecated twin of /api/default-table-schema:
                    # bare column names of the default table
                    # (query.rs:364-395)
                    cols: list = []
                    if eng.default_table:
                        try:
                            df = eng.sql(
                                f"SELECT * FROM {eng.default_table} LIMIT 0",
                                user=getattr(self, "_ident", None))
                            cols = df.columns
                        except Exception:
                            cols = []
                    self._send_json(cols)
                elif path == "/api/table-extensions":
                    tbl = q.get("table")
                    if not tbl or not re.fullmatch(r"[\w.]+", tbl):
                        raise ValueError("table-extensions needs ?table= "
                                         "(a bare table identifier)")
                    ident = getattr(self, "_ident", None)
                    # readable-table gate first: extensions must not
                    # leak for tables the identity cannot read
                    eng.sql(f"SELECT * FROM {tbl} LIMIT 0", user=ident)
                    cat_d = eng.catalog._load() if eng.catalog else {}
                    self._send_json(
                        cat_d.get("extensions", {}).get(tbl, {}))
                elif path == "/api/table-schema":
                    tbl = q.get("table")
                    if not tbl or not re.fullmatch(r"[\w.]+", tbl):
                        raise ValueError("table-schema needs ?table= "
                                         "(a bare table identifier)")
                    ident = getattr(self, "_ident", None)
                    # schema introspection honors RBAC: a user whose
                    # grants deny the table can't enumerate its columns
                    df = eng.sql(f"SELECT * FROM {tbl} LIMIT 0", user=ident)
                    self._send_json(json.loads(df.schema.json()))
                elif path == "/api/info":
                    from beacon_spark.version import VERSION

                    info = {"version": VERSION, "engine": "beacon_spark",
                            "system_info": None}
                    if outer._sys_info:
                        # host snapshot (sys.rs:6-24: present only when
                        # BEACON_ENABLE_SYS_INFO; application telemetry,
                        # not engine state)
                        import os as _os

                        mem = {}
                        try:
                            with open("/proc/meminfo") as f:
                                for line in f:
                                    k, _, v = line.partition(":")
                                    if k in ("MemTotal", "MemAvailable"):
                                        mem[k] = v.strip()
                        except OSError:
                            pass
                        try:
                            load = list(_os.getloadavg())
                        except (OSError, AttributeError):
                            load = None  # not available on all platforms
                        info["system_info"] = {
                            "cpus": _os.cpu_count(),
                            "load_avg": load,
                            "memory": mem,
                        }
                    self._send_json(info)
                elif path == "/api/catalogs":
                    self._send_json(["beacon"])  # one embedded catalog
                elif path == "/api/functions":
                    rows = eng.spark.sql(
                        "SHOW USER FUNCTIONS"
                    ).collect()
                    # registered UDFs + the dialect functions the SQL
                    # pre-parser compiles away (callable all the same)
                    self._send_json(sorted(
                        {r[0] for r in rows}
                        | {"try_arrow_cast", "date_bin",
                           "pressure_to_depth_teos_10", "summarize"}
                    ))
                elif path == "/api/table-functions":
                    from beacon_spark.engine import READ_FORMATS

                    self._send_json(
                        [f"read_{fmt}" for fmt in READ_FORMATS]
                        + ["remote_query"])
                elif path == "/api/dataset-schema":
                    ds = q.get("dataset")
                    if not ds:
                        raise ValueError("dataset-schema needs ?dataset=")
                    fmt, cfg = _sniff_cfg(ds)
                    # path grants gate dataset introspection too — the
                    # same check as a DSL read of it
                    df = eng.resolve_from(
                        {fmt: cfg}, user=getattr(self, "_ident", None),
                    ).limit(0)
                    self._send_json(json.loads(df.schema.json()))
                elif path == "/api/default-table":
                    self._send_json({"table": eng.default_table})
                elif path == "/api/default-table-schema":
                    if eng.default_table is None:
                        raise ValueError("engine has no default table")
                    df = eng.sql(f"SELECT * FROM {eng.default_table} LIMIT 0",
                                 user=getattr(self, "_ident", None))
                    self._send_json(json.loads(df.schema.json()))
                elif path.startswith("/api/query/metrics/"):
                    # same unconditional gate as beacon.system.
                    # query_metrics: other users' query TEXTS are
                    # super-user-only (the metadata-schema
                    # rule) — this endpoint serves the identical rows
                    ident = getattr(self, "_ident", None)
                    if ident is not None:
                        from beacon_spark import auth as _auth_mod

                        try:
                            _auth_mod.require_super(
                                outer.engine, ident,
                                "query metrics are super-user-only")
                        except _auth_mod.AuthError as e:
                            self._deny(403, str(e))
                            return
                    # the persisted row Run recorded; a store failure
                    # answers 400 (Runtime::get_query_metrics, runtime.rs:429)
                    qid = path.rsplit("/", 1)[1]
                    metrics = outer.engine.metrics.read(qid)
                    if metrics is None:
                        self._deny(404, f"no metrics for query {qid!r}")
                    else:
                        self._send_json(metrics, default=str)
                else:
                    self._deny(404, f"no such endpoint: {path}")

            def do_POST(self):
                self._response_started = False  # keep-alive reuses Handler
                if not self._authed():
                    return
                u = urlparse(self.path)
                if u.path.startswith("/api/admin"):
                    self._admin()
                    return
                if u.path in ("/api/explain-query", "/api/parse-query",
                              "/api/explain-analyze-query"):
                    try:
                        n = int(self.headers.get("Content-Length", 0))
                        req = json.loads(self.rfile.read(n).decode() or "{}")
                        if "sql" in req and not outer._enable_sql:
                            # same gate as /api/query: a SQL-disabled
                            # server must not plan (or, for explain-
                            # analyze, EXECUTE) raw SQL either
                            raise ValueError(
                                "SQL is disabled on this server "
                                "(BEACON_SPARK_ENABLE_SQL=false); use "
                                "the JSON query DSL")
                        ident = getattr(self, "_ident", None)
                        # engine.sql executes DDL/DML EAGERLY — a
                        # plan/parse endpoint must never mutate, even
                        # for the transport super-identity
                        if "sql" in req:
                            df = outer.engine.sql(
                                req["sql"], params=req.get("params"),
                                user=ident, read_only=True)
                        else:
                            df = outer.engine.query(
                                req.get("query", req), user=ident,
                                read_only=True)
                        if u.path == "/api/parse-query":
                            # parse/plan succeeded; return the schema
                            self._send_json(json.loads(df.schema.json()))
                        elif u.path == "/api/explain-analyze-query":
                            # the query IS executed to collect per-node
                            # runtime metrics (query.rs:313-320)
                            from beacon_spark.engine import explain_analyze

                            with outer._limits.time_guard(outer.engine.spark):
                                plan = explain_analyze(df)
                            self._send_json({"plan": plan})
                        else:
                            plan = df._jdf.queryExecution().toString()
                            self._send_json({"plan": plan})
                    except Exception as e:
                        self._deny(400, str(e))
                    return
                if u.path == "/mcp":
                    try:
                        n = int(self.headers.get("Content-Length", 0))
                        msg = json.loads(self.rfile.read(n).decode() or "{}")
                        # a JSON-RPC batch array / bare literal used to
                        # escape the try as AttributeError and reset the
                        # connection with no HTTP response at all
                        if not isinstance(msg, dict):
                            raise ValueError(
                                "MCP body must be one JSON-RPC object "
                                "(batches are not supported)")
                    except Exception as e:
                        self._deny(400, str(e))
                        return
                    resp = outer._mcp_handle(msg, getattr(self, "_ident", None))
                    if resp is None:
                        # notification: the streamable-HTTP spec says 202
                        # Accepted with NO body (a 200 application/json
                        # with an empty payload broke conforming clients)
                        self.send_response(202)
                        self.send_header("Content-Length", "0")
                        self.end_headers()
                    else:
                        self._send_json(resp)
                    return
                if u.path != "/api/query":
                    self._deny(404, f"no such endpoint: {u.path}")
                    return
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    req = json.loads(self.rfile.read(n).decode() or "{}")
                    if not isinstance(req, dict):
                        raise ValueError("query body must be a JSON object")
                    output = req.get("output")
                    if output is not None:
                        ident = getattr(self, "_ident", None)
                        if ident is not None and \
                                outer.engine.catalog is not None:
                            # same gate engine.query applies: file
                            # output is a write and super-user-only —
                            # the handler strips 'output' before
                            # authorize_dsl can see it, so it must
                            # enforce the policy itself
                            from beacon_spark import auth as _auth

                            _auth.require_super(
                                outer.engine, ident,
                                "operation not permitted: query file "
                                "output requires super-user privileges")
                    if "sql" in req and not outer._enable_sql:
                        raise ValueError(
                            "SQL is disabled on this server "
                            "(BEACON_SPARK_ENABLE_SQL=false); use the "
                            "JSON query DSL"
                        )
                    ident = getattr(self, "_ident", None)
                    if "sql" in req:
                        run = outer.engine.run(
                            req["sql"], params=req.get("params"),
                            user=ident, limits=outer._limits)
                    else:
                        # the JSON query DSL rides the same endpoint
                        # (query.rs: InnerQuery::Sql | Json); "format"/
                        # "output" are transport-level, not part of the DSL
                        body = req.get("query", req)
                        run = outer.engine.run(
                            {k: v for k, v in body.items()
                             if k not in ("format", "output")},
                            user=ident, limits=outer._limits)
                    hdr = {"x-beacon-query-id": run.query_id}
                    if output:
                        # file-output formats come back as a download
                        # (query.rs:20-44: CSV/Parquet/Arrow/ODV/NetCDF/
                        # GeoParquet) — written batch-streamed to a temp
                        # file, then copied to the socket in chunks: the
                        # result is never held in driver memory
                        import os as _os
                        import tempfile

                        fmt = output.get("format", "csv").lower()
                        fd, path = tempfile.mkstemp(prefix="beacon_dl_",
                                                    suffix=f".{fmt}")
                        _os.close(fd)
                        try:
                            run.write(fmt, path, **{
                                k: v for k, v in output.items()
                                if k != "format"})
                            self._send_file(path, outer._OUTPUT_MIME.get(
                                fmt, "application/octet-stream"), hdr)
                        finally:
                            _os.unlink(path)
                        return
                    if req.get("format") == "json":
                        # row/byte/time-capped (the reference's
                        # resource_limits contract): over-limit is a clean
                        # 400, never an unbounded driver collect
                        rows = run.rows()
                        # default=str: timestamp/date/Decimal/binary columns
                        # are common result types and json.dumps has no
                        # native encoding for them (the MCP paths already
                        # do this; a TypeError here surfaced as a bogus 400)
                        self._send(
                            json.dumps(rows, default=str).encode(),
                            "application/json", hdr,
                        )
                        return
                    self._send_arrow_stream(run, hdr)
                except Exception as e:
                    if getattr(self, "_response_started", False):
                        # a cap/time trip mid-chunked-stream: the status
                        # line is long gone — abort the stream so the
                        # client sees a truncated-transfer error
                        self.close_connection = True
                    else:
                        self._deny(400, str(e))

            def _send_arrow_stream(self, run, hdr) -> None:
                """``run.batches()`` as Arrow IPC, chunk-streamed (Transfer-
                Encoding: chunked): one batch in driver memory at a time,
                caps enforced per batch. A cap/time trip BEFORE the first
                chunk is a clean 400; mid-stream it aborts the chunked
                stream (the client sees a truncated-stream error — the
                standard failure shape for streamed HTTP)."""
                import itertools as _it

                import pyarrow as pa

                batches = run.batches()
                # pull the first batch BEFORE committing the status line:
                # a cap/time trip on it stays a clean 400 (a zero-row
                # result still yields one empty batch)
                first = next(batches)
                # chunked Transfer-Encoding is an HTTP/1.1 construct: a
                # 1.0 client would parse the chunk-size lines as body
                # bytes and corrupt the Arrow stream. For 1.0 requests,
                # close-delimit instead (Connection: close, no length,
                # body ends at EOF) — still one batch in memory at a time
                chunked = self.request_version == "HTTP/1.1"
                self.send_response(200)
                self.send_header("Content-Type", _ARROW_MIME)
                if chunked:
                    self.send_header("Transfer-Encoding", "chunked")
                else:
                    self.send_header("Connection", "close")
                    self.close_connection = True
                for k, v in hdr.items():
                    self.send_header(k, v)
                self.end_headers()
                self._response_started = True

                def chunk(data: bytes) -> None:
                    if not data:
                        return
                    if chunked:
                        self.wfile.write(
                            f"{len(data):X}\r\n".encode() + data + b"\r\n"
                        )
                    else:
                        self.wfile.write(data)

                sink = io.BytesIO()
                # the reference's default response is a ZSTD-compressed
                # Arrow IPC stream (query.rs:23,36 — IPC-level buffer
                # compression, transparent to any Arrow reader). Clients
                # without a zstd codec (the dependency-free JS client)
                # opt out per request: x-beacon-ipc-compression: none
                want = (self.headers.get(
                    "x-beacon-ipc-compression") or "zstd").lower()
                try:
                    opts = (pa.ipc.IpcWriteOptions()
                            if want in ("none", "identity")
                            else pa.ipc.IpcWriteOptions(compression="zstd"))
                except Exception:  # codec not built into this pyarrow
                    opts = pa.ipc.IpcWriteOptions()
                # Run records its metrics row when the batches run out,
                # i.e. BEFORE the terminating chunk: a client that fetches
                # /api/query/metrics/{id} the instant the body ends raced
                # a post-EOF record and got a 404. A failing metrics
                # store is logged, never raised
                # (Engine.record_query_metrics), so it cannot truncate an
                # otherwise-complete Arrow stream.
                with pa.ipc.new_stream(sink, run.schema, options=opts) as w:
                    for batch in _it.chain([first], batches):
                        w.write_batch(batch)
                        chunk(sink.getvalue())
                        sink.seek(0)
                        sink.truncate()
                chunk(sink.getvalue())
                if chunked:
                    self.wfile.write(b"0\r\n\r\n")

            def _send_file(self, path: str, ctype: str,
                           extra: dict | None = None) -> None:
                import os as _os

                size = _os.path.getsize(path)
                # mid-body failures must abort, not inject a second 400
                # response into the stream the client is parsing as file
                # content (the Arrow path already marked this)
                self._response_started = True
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(size))
                for k, v in (extra or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                with open(path, "rb") as f:
                    while True:
                        buf = f.read(1 << 20)
                        if not buf:
                            break
                        self.wfile.write(buf)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    _OUTPUT_MIME = {
        "csv": "text/csv",
        "parquet": "application/vnd.apache.parquet",
        "arrow": "application/vnd.apache.arrow.file",
        "ipc": "application/vnd.apache.arrow.file",
        "netcdf": "application/x-netcdf",
        "odv": "text/plain",
        "geoparquet": "application/vnd.apache.parquet",
    }

    # ------------------------------------------------------------ MCP

    _MCP_TOOLS = [
        {
            "name": "list_tables",
            "description": "List the engine's tables and datasets.",
            "inputSchema": {"type": "object", "properties": {}},
        },
        {
            "name": "describe_table",
            "description": "Schema of a table (column names and types).",
            "inputSchema": {
                "type": "object",
                "properties": {"table": {"type": "string"}},
                "required": ["table"],
            },
        },
        {
            "name": "run_sql",
            "description": "Run read-only SQL (SELECT only) and return "
                           "JSON records (capped at `limit`, default 100).",
            "inputSchema": {
                "type": "object",
                "properties": {
                    "sql": {"type": "string"},
                    "limit": {"type": "integer"},
                },
                "required": ["sql"],
            },
        },
        {
            "name": "export_query",
            "description": (
                "Build a recipe to export a large read-only SELECT as a "
                "Parquet/Arrow/CSV file for use in a Python script. "
                "Returns the exact /api/query request plus a ready-to-run "
                "Python snippet; it does NOT run the query or return "
                "rows. Prefer this over run_sql when the result is large."
            ),
            "inputSchema": {
                "type": "object",
                "properties": {
                    "sql": {"type": "string"},
                    "format": {"type": "string",
                               "enum": ["parquet", "arrow", "csv"]},
                },
                "required": ["sql"],
            },
        },
    ]

    def _tables_with_schema(self, ident) -> list[dict]:
        """`/api/tables-with-schema` payload, cached per (catalog
        signature, identity) — polling admin UIs hit this route every
        few seconds and a LIMIT-0 analysis per table per poll is pure
        waste when nothing changed. Same invalidation token as
        `_mcp_table_tools`; identity is part of the key because tables
        the caller cannot read are omitted from the payload."""
        eng = self.engine
        sig = None
        if eng.catalog is not None:
            try:
                sig = eng.catalog.signature()
            except Exception:
                sig = None
        # ident is None (embedded super), a plain username str, or an
        # ExternalPrincipal (str subclass carrying roles)
        ikey = (str(ident) if ident is not None else None,
                tuple(getattr(ident, "roles", ()) or ()))
        cache = getattr(self, "_tws_cache", None)
        if sig is not None and cache is not None and cache[0] == sig \
                and ikey in cache[1]:
            return cache[1][ikey]
        out = []
        for tbl in eng.table_names():
            try:
                df = eng.sql(f"SELECT * FROM {tbl} LIMIT 0", user=ident)
            except Exception:
                continue
            out.append({
                "table_name": tbl,
                "columns": json.loads(df.schema.json())["fields"],
            })
        if sig is not None:
            if cache is None or cache[0] != sig:
                cache = (sig, {})
                self._tws_cache = cache
            cache[1][ikey] = out
        return out

    def _mcp_table_tools(self) -> list[dict]:
        """Per-table tools from the ``mcp`` table extension (the
        reference builds these from table extensions + presets,
        beacon-mcp catalog.rs:98-124): ``SET EXTENSION 'mcp' FOR t TO
        '{"enabled": true, ...}'`` exposes a query tool for t, column
        glossary + advisory guard rails in the description, optional
        named presets (``preset`` extension: {"name": "<WHERE>"}) as an
        enum argument."""
        eng = self.engine
        if eng.catalog is None:
            return []
        try:
            sig = eng.catalog.signature()
            cached = getattr(self, "_tool_cache", None)
            if cached is not None and cached[0] == sig:
                return cached[1]
            cat = eng.catalog._load()
        except Exception:
            return []
        tools = []
        complete = True  # only cache fully-resolved specs
        for table, exts in cat.get("extensions", {}).items():
            try:
                mcp = json.loads(exts.get("mcp", "null"))
            except Exception:
                continue
            if not (isinstance(mcp, dict) and mcp.get("enabled")):
                continue
            from beacon_spark import extensions as _ext

            try:
                presets = _ext.preset_where_map(
                    json.loads(exts.get("preset", "{}")) or {})
            except Exception:
                presets = {}
            desc = mcp.get("description", f"Query the '{table}' table.")
            if mcp.get("guardrails"):
                desc += f"\n\nGuard rails (advisory): {mcp['guardrails']}"
            # typed exposed_columns entries may carry descriptions
            # (extensions.rs ExposedColumn::Documented)
            cols = _ext.exposed_column_names(mcp)
            col_docs = _ext.exposed_column_docs(mcp)
            try:
                schema = eng.sql(f"SELECT * FROM {table} LIMIT 0").schema
                glossary = [
                    f"{f.name} ({f.dataType.simpleString()})"
                    + (f": {col_docs[f.name]}" if f.name in col_docs else "")
                    for f in schema.fields
                    if cols is None or f.name in cols
                ]
            except Exception:
                glossary = list(cols or [])
                complete = False
            props = {
                "select": {
                    "type": "array", "items": {"type": "string"},
                    "description": "Columns to return. Omit for all. "
                                   + "; ".join(glossary),
                },
                "where": {"type": "string",
                          "description": "Optional SQL predicate."},
                "limit": {"type": "integer"},
            }
            if presets:
                props["preset"] = {
                    "type": "string", "enum": sorted(presets),
                    "description": "Named predicate preset.",
                }
            tools.append({
                "name": mcp.get("tool_name", f"query_{table}"),
                "description": desc,
                "inputSchema": {"type": "object", "properties": props},
                "x-table": table,
                "x-columns": cols,
                "x-presets": presets,
            })
        # cache on the catalog's change token (like _register_catalog):
        # per-table LIMIT-0 schema queries shouldn't run per request.
        # A spec degraded by a transient schema failure is NOT cached —
        # the next request retries instead of pinning the fallback.
        if complete:
            self._tool_cache = (sig, tools)
        return tools

    @staticmethod
    def _check_where_predicate(eng, pred: str) -> None:
        """Per-table tool ``where`` arguments must be PLAIN predicates
        over the (scoped) table: one expression by Spark's parse, with
        no subquery anywhere in it — one could read other tables or
        unexposed columns oracle-style, defeating the exposed_columns
        scoping. (The composed statement runs read-only, so neither a
        write nor ``remote_query`` can run.)"""
        from beacon_spark.engine import _jseq
        from beacon_spark.server.guard import sql_is_closed

        if not sql_is_closed(pred):
            # a fragment ending inside an open literal/comment would
            # swallow whatever template text is spliced after it and
            # re-open code at a caller-chosen point
            raise ValueError(
                "where predicate has an unterminated literal or comment")
        todo = [eng._jvm_sql.parser.parseExpression(pred)]
        while todo:
            node = todo.pop()
            if node.nodeName() in ("ListQuery", "Exists", "ScalarSubquery",
                                   "LateralSubquery"):
                raise ValueError("where predicate must not contain subqueries")
            todo += _jseq(node.children())

    def _mcp_tool(self, name: str, args: dict,
                  user: str | None = None) -> str:
        from beacon_spark.engine import Run

        eng = self.engine

        def capped_rows(sql: str) -> str:
            # every MCP statement is read-only; row/byte/time capped
            # (server/limits.py): a giant caller limit must not turn
            # into an unbounded driver collect
            df = eng.sql(sql, user=user, read_only=True).limit(
                int(args.get("limit", 100)))
            rows = Run(eng, df, sql, user, self._limits).rows()
            return json.dumps(rows, default=str)

        if name == "list_tables":
            try:
                datasets = [r.dataset for r in eng.list_datasets().collect()]
            except Exception:
                datasets = []
            return json.dumps({
                "tables": eng.table_names(),
                "datasets": datasets,
            })
        if name == "describe_table":
            tbl = str(args.get("table") or "")
            if not re.fullmatch(r"[\w.]+", tbl):
                # same identifier gate as /api/table-schema: unvalidated
                # interpolation let remote_query('...', '<write>') ride
                # the strictly-read-only MCP surface
                raise ValueError(
                    "describe_table needs a bare table identifier")
            df = eng.sql(f"SELECT * FROM {tbl} LIMIT 0", user=user,
                         read_only=True)
            return json.dumps(
                [{"column": f.name, "type": f.dataType.simpleString()}
                 for f in df.schema.fields]
            )
        if name == "run_sql":
            return capped_rows(args["sql"])
        if name == "export_query":
            # fetch recipe only — the (potentially huge) file never
            # streams through model context (catalog.rs:221-224); the
            # statement is planned read-only first, so the recipe is
            # for a statement this caller may run
            sql = args["sql"]
            eng.sql(sql, user=user, read_only=True)
            fmt = args.get("format", "parquet")
            body = {"sql": sql, "output": {"format": fmt}}
            snippet = (
                "import json, urllib.request\n"
                f"req = urllib.request.Request(\n"
                f"    'http://<host>:<port>/api/query',\n"
                f"    data=json.dumps({body!r}).encode(),\n"
                "    headers={'Content-Type': 'application/json'})\n"
                f"open('result.{fmt}', 'wb').write("
                "urllib.request.urlopen(req).read())\n"
            )
            return json.dumps({"request": body, "python": snippet})
        for spec in self._mcp_table_tools():
            if spec["name"] != name:
                continue
            table = spec["x-table"]
            cols = args.get("select") or spec["x-columns"] or ["*"]
            if spec["x-columns"] is not None:
                # "*" means "everything exposed", never a scoping bypass
                cols = [
                    c for sel in cols
                    for c in (spec["x-columns"] if sel == "*" else [sel])
                ]
                bad = set(cols) - set(spec["x-columns"])
                if bad:
                    raise ValueError(f"columns not exposed: {sorted(bad)}")
            elif cols != ["*"]:
                # no exposed_columns list: select entries must still be
                # REAL columns of the table — raw interpolation would be
                # a select-list injection (subqueries, `* FROM other --`)
                # bypassing the where-predicate bans and any preset filter
                live = {
                    f.name
                    for f in eng.sql(
                        f"SELECT * FROM {table} LIMIT 0", user=user
                    ).schema.fields
                }
                bad = [c for c in cols if c != "*" and c not in live]
                if bad:
                    raise ValueError(f"unknown column(s): {sorted(bad)}")
            if not cols:
                raise ValueError(
                    f"tool {name!r} exposes no columns; fix the mcp "
                    "extension's exposed_columns"
                )
            if args.get("where"):
                self._check_where_predicate(eng, args["where"])
            # scoping is STRUCTURAL, not lexical: the user-facing query
            # runs against an inline subselect projecting only the
            # exposed columns, so a where predicate referencing an
            # unexposed column fails ANALYSIS — it cannot leak via
            # filter-oracle probing. Presets are server-configured
            # (trusted) and apply on the inner, unscoped table so an
            # admin may filter on columns the tool does not expose.
            inner = table
            if spec["x-presets"] and args.get("preset"):
                inner = (
                    f"(SELECT * FROM {table} WHERE "
                    f"({spec['x-presets'][args['preset']]}))"
                )
            if spec["x-columns"] is not None:
                scoped_cols = ", ".join(
                    "`" + c.replace("`", "``") + "`"
                    for c in spec["x-columns"])
                inner = f"(SELECT {scoped_cols} FROM {inner} AS __inner)"
            quoted = [
                "*" if c == "*" else "`" + c.replace("`", "``") + "`"
                for c in cols
            ]
            sql = f"SELECT {', '.join(quoted)} FROM {inner} AS __scoped"
            if args.get("where"):
                sql += f" WHERE ({args['where']})"
            return capped_rows(sql)
        raise ValueError(f"unknown tool {name!r}")

    def _mcp_handle(self, msg: dict, user: str | None = None):
        """One JSON-RPC 2.0 message → response dict (None for
        notifications). ``user`` is the transport identity (HTTP Basic →
        RBAC user; None = transport super)."""
        method = msg.get("method", "")
        mid = msg.get("id")
        if method.startswith("notifications/"):
            return None

        def ok(result):
            return {"jsonrpc": "2.0", "id": mid, "result": result}

        if method == "initialize":
            return ok({
                "protocolVersion": msg.get("params", {}).get(
                    "protocolVersion", "2024-11-05"
                ),
                "capabilities": {"tools": {}},
                "serverInfo": {"name": "beacon_spark", "version": "1"},
                "instructions": (
                    "beacon_spark engine. Call list_tables to discover "
                    "tables, describe_table for a schema, run_sql for "
                    "read-only SQL (SELECT only)."
                ),
            })
        if method == "ping":
            return ok({})
        if method == "tools/list":
            raw = self._mcp_table_tools()
            if user is not None:
                # the glossary embeds column names/types of mcp-enabled
                # tables; an identity whose grants DENY the table gets
                # the same answer /api/table-schema gives it — nothing
                from beacon_spark import auth as _auth

                try:
                    gate = _auth.read_gate(self.engine, user)
                except _auth.AuthError:
                    gate, raw = None, []  # an unknown user reads nothing
                if gate is not None:
                    raw = [t for t in raw
                           if gate.allows_table(t.get("x-table", ""))]
            table_tools = [
                {k: v for k, v in t.items() if not k.startswith("x-")}
                for t in raw
            ]
            return ok({"tools": self._MCP_TOOLS + table_tools})
        if method == "tools/call":
            params = msg.get("params", {})
            try:
                text = self._mcp_tool(
                    params.get("name", ""), params.get("arguments", {}) or {},
                    user=user,
                )
                return ok({"content": [{"type": "text", "text": text}],
                           "isError": False})
            except Exception as e:
                # tool failure = tool-result error, not protocol error
                return ok({"content": [{"type": "text", "text": str(e)}],
                           "isError": True})
        return {
            "jsonrpc": "2.0", "id": mid,
            "error": {"code": -32601, "message": f"unknown method {method!r}"},
        }

    def _allow_origin(self, origin: str | None) -> str | None:
        """The Access-Control-Allow-Origin value for a request, or None
        (CORS disabled / origin not allowed / same-origin request)."""
        if self._cors is None or not origin:
            return None
        allowed = self._cors["allowed_origins"]
        if allowed.strip() == "*":
            return "*"
        if origin in {o.strip() for o in allowed.split(",")}:
            return origin
        return None

    def serve_background(self) -> int:
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
