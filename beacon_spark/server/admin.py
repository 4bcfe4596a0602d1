"""Authenticated administrative endpoints: ``/api/admin/*``.

The reference serves a super-user admin surface next to the query API
(``beacon-server/src/axum/admin/mod.rs:38-64``): crawler management,
external-table creation, dataset file upload/download/delete (with
chunked uploads), table-extension inspection, and the auth directory.
File mutation is its highest-risk surface, so the safety contract is
copied deliberately (``beacon-server/src/server/files.rs:1-100``):

  - :func:`validate_dataset_path` is the single anti-traversal gate —
    every user-supplied path routes through it (rejects empty,
    absolute, NUL/backslash, ``.``/``..`` segments, the engine-internal
    prefixes).
  - Uploads are STREAMED to the store in chunks and size-capped
    (→ 413); chunked-upload parts are buffered per part (bounded by
    ``MAX_PART_BYTES``) so each part is atomically retryable, and must
    arrive in order (→ 409).
  - Deletes refuse when the catalog still references the file
    (external tables' globs, crawler prefixes) → 409 with dependents.
  - Nothing can read/write/delete under the internal prefixes.

Transport-neutral: :class:`AdminApi` maps (method, subpath, query,
body) → (status, content_type, payload), so the HTTP handler stays a
thin shell and tests can drive the API directly. All routes are
super-user-only — the HTTP layer enforces identity before dispatching
(the reference attaches its ``basic_auth`` super-user middleware the
same way).
"""

from __future__ import annotations

import fnmatch
import json
import posixpath
import uuid

from beacon_spark.auth import INTERNAL_PREFIXES

__all__ = ["AdminApi", "FileError", "validate_dataset_path", "MAX_PART_BYTES"]

#: per-part buffer cap for chunked uploads (files.rs MAX_PART_BYTES)
MAX_PART_BYTES = 128 << 20

#: advertised chunked-upload part size
PART_SIZE = 32 << 20

_CHUNK = 1 << 20  # streaming copy unit


class FileError(ValueError):
    """Dataset file-management failure; ``status`` maps to HTTP."""

    status = 400

    @classmethod
    def invalid(cls, msg: str) -> "FileError":
        e = cls(f"invalid dataset path: {msg}")
        e.status = 400
        return e

    @classmethod
    def exists(cls, path: str) -> "FileError":
        e = cls(f"a file already exists at {path!r}; pass overwrite=true "
                "to replace it")
        e.status = 409
        return e

    @classmethod
    def too_large(cls, limit: int) -> "FileError":
        e = cls(f"upload exceeds the maximum allowed size of {limit} bytes")
        e.status = 413
        return e

    @classmethod
    def not_found(cls, what: str) -> "FileError":
        e = cls(f"not found: {what}")
        e.status = 404
        return e

    @classmethod
    def in_use(cls, path: str, dependents: list[str]) -> "FileError":
        e = cls(f"dataset {path!r} is in use by: {', '.join(dependents)}")
        e.status = 409
        return e

    @classmethod
    def unknown_upload(cls, upload_id: str) -> "FileError":
        e = cls(f"unknown or expired upload session: {upload_id}")
        e.status = 404
        return e

    @classmethod
    def part_out_of_order(cls, got: int, expected: int) -> "FileError":
        e = cls(f"upload part {got} is out of order; expected part "
                f"{expected}")
        e.status = 409
        return e


def validate_dataset_path(raw: str) -> str:
    """Normalize a user-supplied dataset key; the anti-traversal gate
    (files.rs validate_dataset_path). Rejects BEFORE normalizing so
    traversal-shaped input fails loudly rather than resolving."""
    p = (raw or "").strip()
    if not p:
        raise FileError.invalid("empty path")
    if "\x00" in p or "\\" in p:
        raise FileError.invalid("illegal character")
    if p.startswith("/"):
        raise FileError.invalid("absolute paths are not allowed")
    if "://" in p:
        raise FileError.invalid("URI keys are not allowed")
    segments = p.split("/")
    if any(s in (".", "..") for s in segments):
        raise FileError.invalid("'.'/'..' segments are not allowed")
    if any(s == "" for s in segments):
        raise FileError.invalid("empty path segment")
    if segments[0] in INTERNAL_PREFIXES:
        raise FileError.invalid(
            f"{segments[0]!r} is reserved for the engine")
    return posixpath.join(*segments)


class AdminApi:
    #: a chunked-upload session idle this long is abandoned: its spool
    #: is reclaimed at the next initiate (the error contract already
    #: says "unknown or expired upload session")
    SESSION_TTL_SECS = 24 * 3600.0

    def __init__(self, engine, max_upload_bytes: int = 8 << 30):
        import threading

        self.engine = engine
        self.max_upload_bytes = max_upload_bytes
        # upload_id -> {"key", "overwrite", "spool", "next_part", "size",
        # "ts"} — guarded by _uploads_lock: the HTTP server is threaded,
        # and an unlocked initiate/part/abort interleave could leak a
        # spool or append to a dropped session's file
        self._uploads: dict[str, dict] = {}
        self._uploads_lock = threading.Lock()

    # ------------------------------------------------------------ util

    def _root(self) -> str:
        root = self.engine.datasets_root
        if root is None:
            raise FileError.invalid("engine has no datasets root")
        return root

    def _abs(self, key: str) -> str:
        from beacon_spark.sources import bytesource as bs

        return bs.join(self._root(), key)

    def _json(self, status: int, obj) -> tuple[int, str, bytes]:
        return status, "application/json", json.dumps(obj).encode()

    def _sql_rows(self, stmt: str) -> list[dict]:
        df = self.engine.sql(stmt)
        return [r.asDict() for r in df.collect()]

    # -------------------------------------------------------- dispatch

    def handle(self, method: str, subpath: str, query: dict,
               body: bytes | None, rfile=None, length: int = 0):
        """→ (status, content_type, payload-bytes | chunk-iterator).

        ``rfile``/``length`` carry a raw upload body so file uploads
        stream straight to the store without ever being buffered whole;
        ``body`` carries small JSON bodies.
        """
        parts = [s for s in subpath.split("/") if s]
        m = method.upper()
        if parts == ["check"] and m == "GET":
            from beacon_spark.version import VERSION

            return self._json(200, {"status": "available",
                                    "version": VERSION})
        if parts == ["crawlers"]:
            if m == "GET":
                return self._json(200, self._sql_rows("SHOW CRAWLERS"))
            if m == "POST":
                return self._create_crawler(json.loads(body or b"{}"))
        if len(parts) == 2 and parts[0] == "crawlers":
            return self._crawler_item(m, parts[1])
        if len(parts) == 3 and parts[0] == "crawlers" and parts[2] == "run":
            if m == "POST":
                df = self.engine.sql(f"RUN CRAWLER {_ident(parts[1])}")
                return self._json(200, [r.asDict() for r in df.collect()])
        if parts == ["external-tables"] and m == "POST":
            return self._create_external_table(json.loads(body or b"{}"))
        if parts == ["datasets"] and m == "DELETE":
            return self._delete_dataset(query)
        if parts == ["datasets", "upload"]:
            if m == "POST":
                return self._upload(query, rfile, length)
            if m == "DELETE":
                return self._abort_upload(query)
        if parts == ["datasets", "download"] and m == "GET":
            return self._download(query)
        if parts == ["datasets", "upload", "initiate"] and m == "POST":
            return self._initiate_upload(query)
        if parts == ["datasets", "upload", "part"] and m == "POST":
            return self._upload_part(query, rfile, length)
        if parts == ["datasets", "upload", "complete"] and m == "POST":
            return self._complete_upload(query)
        if len(parts) == 2 and parts[0] == "table-extensions":
            return self._table_extensions(m, parts[1], body)
        if parts == ["auth", "users"] and m == "GET":
            rows = self._sql_rows("SHOW USERS")
            for r in rows:  # the reference's field spellings
                r["is_super_user"] = r.get("super_user", False)
            return self._json(200, rows)
        if parts == ["auth", "roles"] and m == "GET":
            return self._json(200, self._sql_rows("SHOW ROLES"))
        if parts == ["table-config"] and m == "GET":
            # retired in the reference but still routed with an
            # explanatory answer (admin/tables.rs:21)
            return self._json(410, {
                "error": "table-config is retired; use "
                         "/api/admin/table-extensions/{table} and "
                         "/api/table-schema instead"
            })
        raise FileError.not_found(f"admin endpoint {m} /api/admin/{subpath}")

    # -------------------------------------------------------- crawlers

    def _create_crawler(self, spec: dict):
        name = _ident(spec.get("name", ""))
        stmt = f"CREATE CRAWLER {name}"
        if spec.get("prefix") or spec.get("target_prefix"):
            stmt += f" ON '{_lit(spec.get('prefix') or spec['target_prefix'])}'"
        opts = []
        if spec.get("schedule"):
            opts.append(f"'schedule' '{_lit(str(spec['schedule']))}'")
        if spec.get("format_filter"):
            fmts = spec["format_filter"]
            if isinstance(fmts, str):
                fmts = [fmts]
            opts.append(f"'formats' '{_lit(','.join(fmts))}'")
        if spec.get("table_naming"):
            opts.append(f"'table_naming' '{_lit(spec['table_naming'])}'")
        if opts:
            stmt += f" WITH ({', '.join(opts)})"
        self.engine.sql(stmt)
        return self._json(201, {"name": name})

    def _crawler_item(self, method: str, name: str):
        name = _ident(name)
        rows = [r for r in self._sql_rows("SHOW CRAWLERS")
                if r["crawler_name"] == name]
        if method == "GET":
            if not rows:
                raise FileError.not_found(f"crawler {name!r}")
            return self._json(200, rows[0])
        if method == "DELETE":
            if not rows:
                raise FileError.not_found(f"crawler {name!r}")
            self.engine.sql(f"DROP CRAWLER {name}")
            return self._json(200, {"dropped": name})
        raise FileError.not_found(f"admin endpoint {method} crawlers/{name}")

    # -------------------------------------------------- external tables

    def _create_external_table(self, spec: dict):
        name = _ident(spec.get("name", ""))
        fmt = _ident(spec.get("format", ""))
        loc = spec.get("location")
        if not loc:
            raise FileError.invalid("external table needs a location")
        stmt = (f"CREATE EXTERNAL TABLE {name} STORED AS {fmt} "
                f"LOCATION '{_lit(loc)}'")
        opts = spec.get("options") or {}
        if opts:
            kv = ", ".join(
                f"'{_lit(str(k))}' '{_lit(str(v))}'" for k, v in opts.items()
            )
            stmt += f" OPTIONS ({kv})"
        self.engine.sql(stmt)
        return self._json(201, {"name": name})

    # ------------------------------------------------- table extensions

    def _table_extensions(self, method: str, table: str, body):
        table = _ident(table)
        if method == "GET":
            cat = self.engine.catalog._load()
            return self._json(200, cat.get("extensions", {}).get(table, {}))
        if method in ("PUT", "POST"):
            spec = json.loads(body or b"{}")
            for kind, payload in spec.items():
                text = payload if isinstance(payload, str) else json.dumps(payload)
                self.engine.sql(
                    f"SET EXTENSION '{_lit(kind)}' FOR {table} "
                    f"TO '{_lit(text)}'"
                )
            return self._json(200, {"table": table,
                                    "set": sorted(spec)})
        raise FileError.not_found(f"admin endpoint {method} table-extensions")

    # ------------------------------------------------------- file mgmt

    @staticmethod
    def _publish_file(tmp: str, dst: str) -> None:
        """Commit a finished local spool to ``dst`` with atomic
        VISIBILITY: upload to a sibling staging key, then move into
        place — a crashed upload can never leave a truncated file at
        the destination name (open_output writes in place on local
        stores; on object stores the move costs one server-side copy,
        the price of the same guarantee)."""
        from beacon_spark.sources import bytesource as bs

        staging = f"{dst}.__upload_{uuid.uuid4().hex}"
        try:
            bs.upload_file(tmp, staging)
            bs.move(staging, dst)
        except BaseException:
            try:
                bs.remove(staging)
            except Exception:
                pass
            raise

    def _stream_to(self, dst: str, rfile, length: int,
                   cap: int) -> int:
        """Chunk-copy ``length`` request-body bytes to ``dst`` without
        ever buffering the file (413 past ``cap``): socket → local
        spool in 1 MiB reads, then a staged atomic publish."""
        import os
        import tempfile

        if length > cap:
            raise FileError.too_large(cap)
        fd, tmp = tempfile.mkstemp(prefix="beacon_up_")
        wrote = 0
        try:
            with os.fdopen(fd, "wb") as w:
                remaining = length
                while remaining > 0:
                    buf = rfile.read(min(_CHUNK, remaining))
                    if not buf:
                        break
                    w.write(buf)
                    wrote += len(buf)
                    remaining -= len(buf)
            if wrote != length:
                # a dropped/truncated body must NEVER publish a fragment
                # at the destination name (the files.rs contract)
                raise FileError(
                    f"truncated upload: got {wrote} of {length} bytes"
                )
            self._publish_file(tmp, dst)
        finally:
            os.unlink(tmp)
        return wrote

    def _upload(self, query: dict, rfile, length: int):
        from beacon_spark.sources import bytesource as bs

        key = validate_dataset_path(query.get("path", ""))
        overwrite = query.get("overwrite", "").lower() == "true"
        dst = self._abs(key)
        if bs.exists(dst) and not overwrite:
            raise FileError.exists(key)
        parent = bs.dirname(dst)
        if parent:
            bs.makedirs(parent)
        size = self._stream_to(dst, rfile, length, self.max_upload_bytes)
        return self._json(200, {"path": key, "size": size})

    def _download(self, query: dict):
        from beacon_spark.sources import bytesource as bs

        key = validate_dataset_path(query.get("path", ""))
        src = self._abs(key)
        if not bs.isfile(src):
            raise FileError.not_found(key)
        buf = bs.open_buffer(src)
        total = len(buf)

        def chunks():
            off = 0
            while off < total:
                n = min(_CHUNK, total - off)
                yield bs.read_range(buf, off, n)
                off += n

        return 200, "application/octet-stream", (total, chunks())

    def _dependents_of(self, key: str) -> list[str]:
        """Catalog objects still referencing the dataset: external
        tables whose globs match it, crawlers whose prefix covers it."""
        out = []
        cat = self.engine.catalog._load()
        for name, ext in cat.get("external_tables", {}).items():
            for g in ext.get("paths", []):
                rel = g[len(self._root()):].lstrip("/") \
                    if g.startswith(str(self._root())) else g
                if fnmatch.fnmatch(key, rel) or rel.rstrip("/") == key:
                    out.append(f"external table {name}")
                    break
        for name, c in cat.get("crawlers", {}).items():
            prefix = (c.get("prefix") or "").strip("/")
            if not prefix or key.startswith(prefix + "/") or key == prefix:
                out.append(f"crawler {name}")
        return out

    def _delete_dataset(self, query: dict):
        from beacon_spark.sources import bytesource as bs

        key = validate_dataset_path(query.get("path", ""))
        dst = self._abs(key)
        if not bs.exists(dst):
            raise FileError.not_found(key)
        deps = self._dependents_of(key)
        if deps:
            raise FileError.in_use(key, deps)
        if bs.isdir(dst):
            bs.rmtree(dst)
        else:
            bs.remove(dst)
        return self._json(200, {"deleted": key})

    # -------------------------------------------------- chunked upload

    def _sweep_expired(self) -> None:
        """Reclaim abandoned sessions (client initiated then vanished):
        without this, every orphaned upload pins a spool file and a dict
        entry forever."""
        import time

        cutoff = time.monotonic() - self.SESSION_TTL_SECS
        with self._uploads_lock:
            dead = [i for i, s in self._uploads.items() if s["ts"] < cutoff]
        for i in dead:
            self._drop_session(i)

    def _initiate_upload(self, query: dict):
        import tempfile
        import time

        from beacon_spark.sources import bytesource as bs

        self._sweep_expired()
        key = validate_dataset_path(query.get("path", ""))
        overwrite = query.get("overwrite", "").lower() == "true"
        if bs.exists(self._abs(key)) and not overwrite:
            raise FileError.exists(key)
        upload_id = uuid.uuid4().hex
        fd, spool = tempfile.mkstemp(prefix="beacon_upload_")
        import os

        os.close(fd)
        with self._uploads_lock:
            self._uploads[upload_id] = {
                "key": key, "overwrite": overwrite, "spool": spool,
                "next_part": 1, "size": 0, "ts": time.monotonic(),
            }
        return self._json(200, {"upload_id": upload_id,
                                "part_size": PART_SIZE})

    def _session(self, query: dict) -> tuple[str, dict]:
        import time

        upload_id = query.get("upload_id", "")
        with self._uploads_lock:
            sess = self._uploads.get(upload_id)
            if sess is not None:
                sess["ts"] = time.monotonic()  # activity defers expiry
        if sess is None:
            raise FileError.unknown_upload(upload_id or "<missing>")
        return upload_id, sess

    def _upload_part(self, query: dict, rfile, length: int):
        _id, sess = self._session(query)
        try:
            part = int(query.get("part_number", "0"))
        except ValueError:
            part = 0
        if part != sess["next_part"]:
            raise FileError.part_out_of_order(part, sess["next_part"])
        if length > MAX_PART_BYTES:
            raise FileError.too_large(MAX_PART_BYTES)
        if sess["size"] + length > self.max_upload_bytes:
            raise FileError.too_large(self.max_upload_bytes)
        # each part is buffered (bounded by MAX_PART_BYTES) then appended,
        # so a failed part can be retried atomically (files.rs contract);
        # loop the read — a socket may return short — and reject a
        # truncated part instead of appending a fragment
        chunks = []
        got = 0
        while got < length:
            buf = rfile.read(length - got)
            if not buf:
                break
            chunks.append(buf)
            got += len(buf)
        if got != length:
            raise FileError(
                f"truncated part: got {got} of {length} bytes"
            )
        data = b"".join(chunks)
        with open(sess["spool"], "ab") as f:
            f.write(data)
        sess["next_part"] = part + 1
        sess["size"] += len(data)
        return self._json(200, {"part": part, "size": len(data)})

    def _complete_upload(self, query: dict):
        import os

        from beacon_spark.sources import bytesource as bs

        upload_id, sess = self._session(query)
        dst = self._abs(sess["key"])
        if bs.exists(dst) and not sess["overwrite"]:
            self._drop_session(upload_id)
            raise FileError.exists(sess["key"])
        parent = bs.dirname(dst)
        if parent:
            bs.makedirs(parent)
        self._publish_file(sess["spool"], dst)
        size = sess["size"]
        self._drop_session(upload_id)
        return self._json(200, {"path": sess["key"], "size": size})

    def _abort_upload(self, query: dict):
        upload_id, _sess = self._session(query)
        self._drop_session(upload_id)
        return self._json(200, {"aborted": upload_id})

    def _drop_session(self, upload_id: str) -> None:
        import os

        with self._uploads_lock:
            sess = self._uploads.pop(upload_id, None)
        if sess is not None:
            try:
                os.unlink(sess["spool"])
            except OSError:
                pass


def _ident(name: str) -> str:
    """Identifier gate for names spliced into engine statements."""
    import re

    if not re.fullmatch(r"\w+", name or ""):
        raise FileError.invalid(f"bad identifier {name!r}")
    return name


def _lit(text: str) -> str:
    """ENGINE-dialect string-literal escape (body only; callers wrap in
    quotes). These values land in ATTACH/CREATE CRAWLER/SET EXTENSION
    statements parsed by the ENGINE's option grammar, whose ONLY escape
    is ''-doubling — backslash is a literal character there (unlike
    Spark-lexed SQL, where guard.sql_string_literal applies)."""
    if "\x00" in text:
        raise FileError.invalid("NUL in literal")
    return text.replace("'", "''")
