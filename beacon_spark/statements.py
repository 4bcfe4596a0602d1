"""The statements ``Engine.sql`` runs itself, as one ordered table.

Beacon parses every custom statement into one ``BeaconStatement`` enum
(``parser/statement.rs:8-30``) and lowers it through one path that also
decides what it may do (``statement_plan/mod.rs:58-78``). Here each row
is one statement kind: its pattern, its handler, who may run it and what
it invalidates of the engine's catalog registration.

- ``access``: ``read`` (a listing anyone may run), ``super_read`` (a
  listing of the auth directory: super-users only) or ``write`` (refused
  on a read-only call and for a restricted caller);
- ``invalidates``: ``none``, ``table`` (a manifest-level change to the
  table ``group(1)`` names: only its view re-registers) or ``catalog``
  (the full re-registration, which a failed ``table`` or ``catalog``
  statement also forces: its state is unknown);
- ``needs_catalog``: tried only on an engine with a datasets root; a
  catalog-less engine hands such text to Spark.

:func:`run` tries the rows in order ahead of Spark, as BeaconParser tries
custom statements first (``parser/beacon_parser.rs:33-115``).
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Callable, NamedTuple

from pyspark.sql import types as T

from beacon_spark import auth as _auth
from beacon_spark import engine as _engine

__all__ = ["Call", "Row", "ROWS", "run"]


class Call(NamedTuple):
    """The caller of the statement, for handlers that run an inner one."""

    params: Any
    user: str | None
    read_only: bool


class Row(NamedTuple):
    kind: str
    pattern: re.Pattern
    handler: Callable  # (engine, match, Call) -> DataFrame
    access: str
    invalidates: str
    needs_catalog: bool = True


def run(eng, statement: str, gate, deny: str | None, call: Call):
    """Run ``statement`` through its row; ``None`` when no row matches.
    ``gate``: the caller's read gate (``None`` unrestricted); ``deny``:
    the refusal a write gets on this call (``None`` may write)."""
    for row in ROWS:
        m = ((eng.catalog is not None or not row.needs_catalog)
             and row.pattern.match(statement))
        if m:
            break
    else:
        return None
    if row.access == "write" and deny is not None:
        raise _auth.WriteRefused(deny)
    if row.access == "super_read" and gate is not None:
        raise _auth.AuthError(_auth.SUPER_ONLY)
    if row.invalidates == "none":
        return row.handler(eng, m, call)
    try:
        out = row.handler(eng, m, call)
    except BaseException:
        # state unknown: demand the full pass, but never note a version
        # (a failed DELETE on a missing table must not write phantom
        # catalog entries)
        eng._invalidate()
        raise
    # after the mutation: nested eng.sql() calls the handler made
    # re-register and would otherwise cache a pre-mutation pin
    eng._invalidate(m.group(1) if row.invalidates == "table" else None)
    return out


def _ok(eng, op: str, name: str, status: str = "ok", **extra):
    return eng._status(status=status, op=op, name=name, **extra)


def _catalog_op(op: str):
    """A statement that is the catalog's method ``op`` of one name."""
    def handler(eng, m, _):
        getattr(eng.catalog, op)(m.group(1))
        return _ok(eng, op, m.group(1))
    return handler


# ------------------------------------------------------------ utility


def _explain_analyze(eng, m, call):
    # params ride through — the reference binds placeholders before the
    # analyze wrapper, so `EXPLAIN ANALYZE … WHERE x = $1` works; the
    # inner statement runs as the caller
    inner = eng.sql(m.group(1), params=call.params, user=call.user,
                    read_only=call.read_only)
    return eng.spark.createDataFrame(
        [(line,) for line in _engine.explain_analyze(inner).splitlines()],
        T.StructType([T.StructField("plan", T.StringType())]))


def _copy(eng, m, _):
    # COPY <table|(query)> TO '<path>' [STORED AS fmt] — the reference
    # wraps the plan in a DataFusion CopyTo and rewrites the target into
    # the datasets store (statement_plan/lower.rs:12-13, output.rs).
    # Format defaults from the path extension.
    from beacon_spark.outputs import write_output
    from beacon_spark.sources import bytesource as _bs
    from beacon_spark.sources.paths import detect_format

    src, target, fmt = m.group(1).strip(), m.group(2), m.group(3)
    if src.startswith("(") and src.endswith(")"):
        src = src[1:-1]
    df = eng.sql(src if re.search(r"(?i)\bSELECT\b", src)
                 else f"SELECT * FROM {src}")
    fmt = (fmt or detect_format(target) or "parquet").lower()
    root = eng.datasets_root
    if root is not None and not os.path.isabs(target) \
            and not _bs.is_uri(target):
        target = (_bs.join(root, target) if _bs.is_uri(root)
                  else os.path.join(root, target))
    write_output(df, fmt, target)
    return _ok(eng, "copy_to", target)


def _analyze_files(eng, m, _):
    # ANALYZE FILES ['prefix'] [FORCE] (parser/statement.rs:305-318)
    from beacon_spark.sources.paths import resolve_globs
    from beacon_spark.stats import analyze_files

    if eng.datasets_root is None:
        raise ValueError("ANALYZE FILES needs a datasets_root")
    prefix = m.group(1)
    files = (resolve_globs(f"{prefix}*.parquet", eng.datasets_root)
             if prefix else None)
    n = analyze_files(eng.datasets_root, files, force=bool(m.group(2)))
    return eng.spark.createDataFrame(
        [(n,)], T.StructType([T.StructField("files_analyzed", T.IntegerType())]))


def _summarize(eng, m, call):
    from beacon_spark.operators.summarize import summarize

    src = m.group(1).strip()
    if src.startswith("(") and src.endswith(")"):
        src = src[1:-1]
    if not re.match(r"^\s*SELECT\b", src, re.IGNORECASE):
        # a table or read_* call: read through the same gate
        src = f"SELECT * FROM {src}"
    return summarize(eng.sql(src, user=call.user, read_only=call.read_only))


# ------------------------------------------------------------ dialect DDL/DML
# lowering: actions.rs:221-795; each returns a small status frame


def _create_external(eng, m, _):
    replace, if_not_exists, name, fmt, loc, partby, optstr = m.groups()
    if replace and if_not_exists:
        raise ValueError(
            "CREATE EXTERNAL TABLE: OR REPLACE and IF NOT EXISTS "
            "cannot be combined")
    if if_not_exists and name in eng.catalog._load()["external_tables"]:
        # reference contract (create-table.md): skip, no error
        return _ok(eng, "create_external_table", name, "noop")
    fmt_l = fmt.lower()
    opts = dict(re.findall(r"'?(\w+)'?\s+'((?:[^']|'')*)'", optstr or ""))
    opts = {k.lower(): v.replace("''", "'") for k, v in opts.items()}
    # options are format-scoped and FAIL LOUDLY when a format would
    # ignore them — a silently-dropped csv delimiter means silently
    # mis-parsed data
    allowed = {
        "postgres": {"host", "port", "user", "password", "database",
                     "sslmode"},
        "mysql": {"host", "port", "user", "password", "database"},
        "csv": {"delimiter"},
        "remote": {"token", "tls"},
    }.get(fmt_l, set())
    bad = set(opts) - allowed
    if bad:
        raise ValueError(
            f"OPTIONS not supported for STORED AS {fmt}: "
            f"{sorted(bad)} (supported: {sorted(allowed) or 'none'})")
    password = opts.pop("password", None)
    if fmt_l == "remote":
        # the bearer token is a credential: it rides the same encrypted
        # password-secret slot the DB formats use
        password = opts.pop("token", None) or password
    # validate format + location/connection eagerly (the reference plans
    # the listing at CREATE time, actions.rs:221-492; sql-databases
    # connects at CREATE). DB formats only probe their schema (LIMIT 0)
    probe_df = eng.resolve_from({fmt_l: {"paths": [loc], "options": {
        **opts, **({"password": password} if password else {})}}})
    part_cols = None
    if partby:
        # PARTITIONED BY (create-table.md): declared hive-style partition
        # columns. Spark's directory scan discovers and prunes them
        # natively; the declaration is VALIDATED against the probed
        # schema so a typo'd column errors at CREATE, not silently
        # never-prunes at query time.
        part_cols = [c.strip() for c in partby.split(",") if c.strip()]
        have = {c.lower() for c in probe_df.columns}
        missing = [c for c in part_cols if c.lower() not in have]
        if missing:
            raise ValueError(
                f"PARTITIONED BY column(s) {missing} not present "
                f"in the table (have: {sorted(have)})")
    # one atomic catalog commit: entry + credential secret together
    # (reference EncryptedSecret, sql-databases/secret.rs)
    eng.catalog.create_external_table(
        name, fmt, [loc], opts, password=password,
        partitioned_by=part_cols, replace=bool(replace))
    return _ok(eng, "create_external_table", name)


def _create_index(eng, m, _):
    from beacon_spark.managed import ManagedTable
    from beacon_spark.stats import analyze_files

    cat = eng.catalog
    idx, table, column, using = m.groups()
    cols = [c.strip() for c in column.split(",")]
    column = ",".join(cols)
    idx = idx or f"{table}_{column.replace(',', '_')}_idx"
    using = (using or "btree").lower()
    if len(cols) > 1 and using != "btree":
        raise ValueError(
            f"multi-column CREATE INDEX is btree/Z-order only, not {using}")
    cat.create_index(idx, table, column, using)
    c = cat._load()
    if using == "btree" and eng.datasets_root is not None:
        # the btree role (range pruning) is served by physical
        # clustering + the file-stats min/max index
        ext = c["external_tables"].get(table)
        if ext and ext["format"] == "parquet":
            from beacon_spark.sources.paths import resolve_globs

            analyze_files(eng.datasets_root,
                          resolve_globs(ext["paths"], eng.datasets_root))
        elif table in c["tables"]:
            # managed table: rewrite clustered on the index column(s) —
            # range for one column, Morton/Z-order for several (each
            # file a value hyper-rectangle) — then index the new files'
            # min/max: scans skip files via the stats index and row
            # groups via parquet footers
            mt = ManagedTable(eng.spark, c["tables"][table])
            mt.cluster_by(cols)
            analyze_files(eng.datasets_root, mt.files())
    elif using in ("inverted", "bitmap") and eng.datasets_root is not None \
            and table in c["tables"]:
        # real posting-file indexes (managed tables): built here,
        # consulted by _pruned_managed_read — inverted for contains/LIKE
        # predicates, bitmap for eq/IN on low-cardinality columns
        mt = ManagedTable(eng.spark, c["tables"][table])
        if using == "inverted":
            mt.build_inverted_index(column, idx)
        else:
            mt.build_bitmap_index(column, idx)
    return _ok(eng, "create_index", idx)


def _show_indexes(eng, m, _):
    rows = [(n, d["table"], d["column"], d["using"])
            for n, d in sorted(eng.catalog._load()["indexes"].items())]
    return eng.spark.createDataFrame(
        rows, "index_name string, table_name string, column_name string, "
        "using string")


def _parse_crawler_schedule(with_opts: str | None) -> int | None:
    """``WITH (schedule = '15m')`` → seconds (units s/m/h/d, bare number
    = seconds; the reference's definition.rs:116-171 parse)."""
    if not with_opts:
        return None
    m = re.search(
        r"['\"]?schedule['\"]?\s*[=,]?\s*['\"]([0-9]+)\s*([smhd]?)['\"]",
        with_opts, re.IGNORECASE)
    if not m:
        return None
    n, unit = int(m.group(1)), m.group(2).lower()
    return n * {"": 1, "s": 1, "m": 60, "h": 3600, "d": 86400}[unit]


def _parse_crawler_opts(with_opts: str | None) -> dict:
    """The crawler's WITH options: schedule (as above) plus the
    reference CrawlerDefinition's ``format_filter`` and ``table_naming``
    (crawler/definition.rs; exercised by test_crawlers_advanced.py):

      WITH ('schedule' '15m', 'formats' 'parquet,csv',
            'table_naming' 'leaf_prefix')
    """
    out: dict = {"schedule_secs": _parse_crawler_schedule(with_opts)}
    if not with_opts:
        return out
    kv = dict(re.findall(r"'(\w+)'\s*[= ]\s*'([^']*)'", with_opts))
    kv = {k.lower(): v for k, v in kv.items()}
    if "schedule" in kv and out["schedule_secs"] is None:
        raise ValueError(
            f"bad crawler schedule {kv['schedule']!r} (want e.g. '15m')")
    if "formats" in kv or "format_filter" in kv:
        raw = kv.get("formats") or kv.get("format_filter", "")
        out["format_filter"] = [f.strip().lower()
                                for f in raw.split(",") if f.strip()]
    naming = kv.get("table_naming", "file").lower()
    if naming not in ("file", "leaf_prefix"):
        raise ValueError(
            f"table_naming must be 'file' or 'leaf_prefix', got {naming!r}")
    out["table_naming"] = naming
    unknown = set(kv) - {"schedule", "formats", "format_filter",
                         "table_naming"}
    if unknown:
        raise ValueError(f"bad crawler WITH options: {sorted(unknown)}")
    return out


def _create_crawler(eng, m, _):
    name, prefix, with_opts = m.groups()
    opts = _parse_crawler_opts(with_opts)
    eng.catalog.create_crawler(
        name, prefix, opts.get("schedule_secs"),
        format_filter=opts.get("format_filter"),
        table_naming=opts.get("table_naming", "file"))
    return _ok(eng, "create_crawler", name)


def _show_crawlers(eng, m, _):
    rows = [(n, d["prefix"], d.get("schedule_secs"))
            for n, d in sorted(eng.catalog._load()["crawlers"].items())]
    return eng.spark.createDataFrame(
        rows, "crawler_name string, prefix string, schedule_secs long")


def _create_stream(eng, m, _):
    # CREATE STREAM s ON 'prefix' INTO table [WITH(...)] — a
    # streaming-ingestion extension (the reference has no streaming
    # engine, SURVEY §2.12): exactly-once file→table ingestion with a
    # Structured Streaming checkpoint
    from beacon_spark.streaming.ingest import create_stream

    name, prefix, table, optstr = m.groups()
    opts = dict(re.findall(r"'(\w+)'\s+'((?:[^']|'')*)'", optstr or ""))
    create_stream(eng, name, prefix, table,
                  {k.lower(): v.replace("''", "'") for k, v in opts.items()})
    return _ok(eng, "create_stream", name)


def _run_stream(eng, m, _):
    from beacon_spark.streaming.ingest import run_stream

    return run_stream(eng, m.group(1))


def _drop_stream(eng, m, _):
    from beacon_spark.streaming.ingest import drop_stream

    dropped = drop_stream(eng, m.group(2), if_exists=bool(m.group(1)))
    return _ok(eng, "drop_stream", m.group(2), "ok" if dropped else "noop")


def _show_streams(eng, m, _):
    from beacon_spark.streaming.ingest import stream_rows

    return eng.spark.createDataFrame(
        stream_rows(eng), "stream_name string, prefix string, "
        "target_table string, format string")


def _describe_history(eng, m, _):
    # DESCRIBE HISTORY t — the version log behind VERSION AS OF (Delta's
    # DESCRIBE HISTORY shape; the reference's Lance datasets carry the
    # same per-version metadata)
    import datetime as _dt

    from beacon_spark.managed import ManagedTable

    name = m.group(1)
    path = eng.catalog._load()["tables"].get(name)
    if path is None:
        raise ValueError(f"{name!r} is not a managed table")
    t = ManagedTable(eng.spark, path)
    rows = [(ver, _dt.datetime.fromtimestamp(committed, tz=_dt.timezone.utc),
             len(t._read_manifest(ver)["files"]))
            for ver, committed in t.versions()]
    return eng.spark.createDataFrame(
        sorted(rows, reverse=True),
        "version long, committed_at timestamp, num_files long")


def _show_tables(eng, m, _):
    c = eng.catalog._load()
    rows = ([(n, "managed") for n in c["tables"]]
            + [(n, "external") for n in c["external_tables"]]
            + [(n, "view") for n in c["views"]]
            + [(n, "materialized_view") for n in c["materialized_views"]])
    return eng.spark.createDataFrame(
        sorted(rows), "table_name string, table_type string")


def _attach(eng, m, _):
    # ATTACH '<target>' AS name [WITH ('token' 't', 'tls' 'true')]
    # (parser/statement.rs:60-76). Two forms:
    #   - a remote engine URL (beacon://host:port or grpc://…): connect
    #     over Arrow Flight and enumerate its tables once
    #     (remote/catalog.rs:1-11; validated eagerly like
    #     connection.rs:57). Queried via remote_query('name', sql)
    #     pushdown or name__table references (server/remote.py).
    #   - a local lake root: mount its catalog; tables resolve as
    #     <name>_<table> (plain views are not re-planned cross-catalog —
    #     documented divergence).
    from beacon_spark.server.remote import RemoteBeacon, parse_remote_url
    from beacon_spark.sources import bytesource as _bs

    path, name, optstr = m.group(1), m.group(2), m.group(3)
    if not parse_remote_url(path):
        # local lake root: validate eagerly like the remote form (the
        # reference connects/enumerates at ATTACH time,
        # remote/connection.rs:57) — a typo'd path otherwise lands in
        # the catalog and every later registration just warns
        if not (_bs.exists(path) if _bs.is_uri(path)
                else os.path.isdir(path)):
            raise ValueError(f"ATTACH: lake root {path!r} does not exist")
        eng.catalog._mutate(
            lambda doc: doc.setdefault("attachments", {})
            .__setitem__(name, path))
        return _ok(eng, "attach", name)
    opts = dict(re.findall(r"'([^']*)'\s+'((?:[^']|'')*)'", optstr or ""))
    tls = opts.get("tls", "").lower() == "true"
    rb = RemoteBeacon(path, token=opts.get("token"), tls=tls)
    rb.list_tables()  # eager validation, like the reference
    eng._remotes = getattr(eng, "_remotes", {})
    eng._remotes[name] = rb
    att_entry = {"url": path, "tls": tls}
    att_secret = None
    if opts.get("token"):
        # the bearer token rides the SECRET store, never the attachment
        # entry itself — the reference routes remote credentials through
        # its secrets mechanism (remote/connection.rs, secrets.rs) as
        # EncryptedSecret values; ours are ChaCha20+HMAC encrypted under
        # a key held OUTSIDE the lake root (secretbox.py), so
        # catalog.json alone is useless to a reader with data-directory
        # access
        from beacon_spark.secretbox import default_box

        att_secret = f"__attach_{name}", {
            "type": "bearer", "scope": path, "persistent": True,
            "options": {"token": default_box().encrypt(opts["token"])}}
        att_entry["token_secret"] = att_secret[0]

    def apply_attach(doc: dict) -> None:
        # rides _mutate: a raw load->save raced concurrent catalog
        # commits last-writer-wins
        doc.setdefault("attachments", {})[name] = att_entry
        if att_secret is not None:
            doc.setdefault("secrets", {})[att_secret[0]] = att_secret[1]

    eng.catalog._mutate(apply_attach)
    return _ok(eng, "attach", name, remote="true")


def _detach(eng, m, _):
    name = m.group(1)
    if name not in eng.catalog._load().get("attachments", {}):
        raise ValueError(f"no attachment {name!r}")

    def apply_detach(doc: dict) -> None:
        entry = doc.setdefault("attachments", {}).pop(name, None)
        if isinstance(entry, dict) and entry.get("token_secret"):
            doc.get("secrets", {}).pop(entry["token_secret"], None)

    eng.catalog._mutate(apply_detach)
    rb = getattr(eng, "_remotes", {}).pop(name, None)
    if rb is not None:
        rb.close()
    # drop materialized remote views — a stale temp view would keep
    # serving data from a connection the user detached (federated-
    # pushdown views too: they may reference this endpoint, and
    # re-running the statement re-derives them)
    views = getattr(eng, "_remote_views", {})
    for v in views.pop(name, set()) | views.pop("__federated__", set()):
        eng.spark.catalog.dropTempView(v)  # False when absent
    return _ok(eng, "detach", name)


def _create_secret(eng, m, _):
    # CREATE [PERSISTENT|TEMPORARY] SECRET n (TYPE t, k 'v', …, SCOPE
    # 's') — actions.rs:110-220. Persistent secrets go to the catalog
    # encrypted (ChaCha20 + HMAC-SHA256, key from env/keyfile outside
    # the lake root — secretbox.py; the reference stores EncryptedSecret
    # in its db file); TEMPORARY/default live only in this Engine.
    from beacon_spark.secretbox import default_box

    modifier = (m.group(1) or "").strip().lower()
    name, body = m.group(2), m.group(3)
    params: dict[str, str] = {}
    stype = scope = None
    for item in _engine._split_top_level(body):
        item = item.strip()
        tm = re.match(r"(?i)^TYPE\s+'?(\w+)'?$", item)
        sm = re.match(r"(?i)^SCOPE\s+'([^']*)'$", item)
        km = re.match(r"^(\w+)\s+'([^']*)'$", item)
        if tm:
            stype = tm.group(1).lower()
        elif sm:
            scope = sm.group(1)
        elif km:
            params[km.group(1).lower()] = km.group(2)
        elif item:
            raise ValueError(f"bad secret parameter: {item!r}")
    entry = {"type": stype, "scope": scope,
             "persistent": modifier == "persistent"}
    eng._apply_secret(entry, params)
    if modifier == "persistent":
        box = default_box()
        sec_doc = {**entry, "options": {k: box.encrypt(v)
                                        for k, v in params.items()}}
        eng.catalog._mutate(
            lambda d: d.setdefault("secrets", {}).__setitem__(name, sec_doc))
    else:
        eng._session_secrets[name] = {**entry, "options": params}
    return _ok(eng, "create_secret", name)


def _drop_secret(eng, m, _):
    if_exists, name = bool(m.group(1)), m.group(2)
    if not (if_exists or name in eng._session_secrets
            or name in eng.catalog._load().get("secrets", {})):
        raise ValueError(f"secret {name!r} does not exist")
    eng._session_secrets.pop(name, None)
    eng.catalog._mutate(lambda d: d.setdefault("secrets", {}).pop(name, None))
    return _ok(eng, "drop_secret", name)


def _show_secrets(eng, m, _):
    # values never shown (the reference stores them encrypted)
    stored = {**eng.catalog._load().get("secrets", {}), **eng._session_secrets}
    rows = [(name, s.get("type"), s.get("scope"), bool(s.get("persistent")),
             ",".join(sorted(s.get("options", {}))))
            for name, s in sorted(stored.items())]
    return eng.spark.createDataFrame(
        rows, "name string, type string, scope string, persistent boolean, "
        "option_keys string")


def _table_columns(eng, table: str) -> list[str]:
    """The table's live column names for extension validation
    (extensions.rs table_schema: errors ``table '<name>' not found``
    when the name is not a registered table)."""
    try:
        return [f.name for f in eng.sql(f"SELECT * FROM {table} LIMIT 0")
                .schema]
    except Exception as e:
        # only rewrite genuine name-resolution failures; a registered
        # view whose underlying SQL is broken (or an external table whose
        # credentials fail) must surface its REAL error, not a misleading
        # "not found"
        msg = str(e)
        unresolved = ("TABLE_OR_VIEW_NOT_FOUND" in msg
                      or "cannot be found" in msg)
        if (unresolved and f"`{table}`" in msg) or (
                "PARSE_SYNTAX_ERROR" in msg):
            raise ValueError(f"table '{table}' not found") from None
        raise


def _set_extension(eng, m, _):
    # SET EXTENSION '<kind>' FOR <table> TO '<json>' (statement.rs; typed
    # contract + strict validation = extensions.rs:1-460: unknown
    # kind/key/ill-shaped value/missing column REJECTED)
    from beacon_spark import extensions as _ext

    ext_kind, table, payload = m.group(1), m.group(2), m.group(3)
    payload_json = json.dumps(_ext.parse_kind(
        ext_kind, payload.replace("''", "'"), _table_columns(eng, table)))
    eng.catalog._mutate(
        lambda d: d.setdefault("extensions", {}).setdefault(table, {})
        .__setitem__(ext_kind.lower(), payload_json))
    return _ok(eng, "set_extension", table)


def _drop_extension(eng, m, _):
    from beacon_spark import extensions as _ext

    ext_kind, table = m.group(1), m.group(2)
    _table_columns(eng, table)  # table must exist
    k = ext_kind.lower()

    def apply_dropext(d: dict) -> None:
        stored = d.setdefault("extensions", {}).get(table, {})
        if k in stored:
            # a stored entry always drops — including legacy free-form
            # kinds written before the typed contract, which SHOW keeps
            # readable and must stay removable
            stored.pop(k)
        else:
            _ext.drop_kind_name(ext_kind)  # unknown + absent → error

    eng.catalog._mutate(apply_dropext)
    return _ok(eng, "drop_extension", table)


def _show_extensions(eng, m, _):
    # ONE row, one Utf8 'extensions' column holding the whole JSON
    # document (show_extensions_arrow_schema, pinned by the reference's
    # table_extensions_sql_round_trip test)
    table = m.group(1)
    _table_columns(eng, table)  # table must exist
    doc = {}
    for k, v in sorted(eng.catalog._load().get("extensions", {})
                       .get(table, {}).items()):
        try:
            doc[k] = json.loads(v)
        except Exception:
            doc[k] = v  # legacy free-form payloads stay readable
    return eng.spark.createDataFrame([(json.dumps(doc),)], "extensions string")


def _create_table_as(eng, m, _):
    if_not_exists, name, src = m.groups()
    if if_not_exists and name in eng.catalog._load()["tables"]:
        # managed-tables.md: IF NOT EXISTS does nothing, no error
        return _ok(eng, "create_table", name, "noop")
    eng.catalog.create_table(name, eng.sql(src))
    return _ok(eng, "create_table", name)


def _create_table_schema(eng, m, _):
    # CREATE TABLE t (id BIGINT, name VARCHAR) — an EMPTY managed table
    # with an explicit schema (the reference's default Lance-backed
    # CREATE, actions.rs:221-360; contract:
    # integration-tests/test_lance_tables.py). Dialect types the
    # reference accepts bare (VARCHAR/TEXT) map to Spark string.
    from beacon_spark.managed import _parse_type

    if_not_exists, name, collist = m.groups()
    if if_not_exists and name in eng.catalog._load()["tables"]:
        return _ok(eng, "create_table", name, "noop")
    fields = []
    for item in _engine._split_top_level(collist):
        cm = re.match(r"^\s*(\w+)\s+(.+?)(?:\s+NOT\s+NULL)?\s*$",
                      item, re.IGNORECASE | re.DOTALL)
        if not cm:
            raise ValueError(f"bad column definition: {item!r}")
        fields.append(T.StructField(
            cm.group(1), _parse_type(cm.group(2).strip()), True))
    eng.catalog.create_table(
        name, eng.spark.createDataFrame([], T.StructType(fields)))
    return _ok(eng, "create_table", name)


def _drop_table(eng, m, _):
    # DROP TABLE removes an external table, a managed table, OR a
    # view/MV — the reference has no separate DROP VIEW (docs
    # server/view.md; actions.rs:37-43 deregisters any provider) and
    # errors on a missing name unless IF EXISTS
    cat = eng.catalog
    if_exists, name = bool(m.group(1)), m.group(2)
    names = cat.names()
    if not cat.drop_external_table(name):
        if name in names["tables"]:
            cat.drop_table(name)
        elif name in names["views"] or name in names["materialized_views"]:
            cat.drop_view(name)
        elif not if_exists:
            raise ValueError(f"Table '{name}' does not exist")
    eng.spark.catalog.dropTempView(name)
    return _ok(eng, "drop_table", name)


def _vacuum(eng, m, _):
    name = m.group(1)
    n_manifests, n_files = eng.catalog.table(name).vacuum(
        int(m.group(2) or 1))
    return _ok(eng, "vacuum", name, manifests_removed=str(n_manifests),
               files_removed=str(n_files))


def _optimize(eng, m, _):
    # OPTIMIZE t [TARGET SIZE <bytes>] — fold the small-file tail
    # (streaming micro-batches, tiny INSERTs) into target-sized files;
    # COW, so time travel still crosses the compaction boundary and
    # VACUUM reclaims the old files
    name = m.group(1)
    before, after = eng.catalog.table(name).compact(
        int(m.group(2)) if m.group(2) else 128 << 20)
    eng.spark.catalog.dropTempView(name)  # re-register next use
    # postings/stats reference file NAMES and inverted/bitmap pruning is
    # fail-closed — compacted files with no postings would be falsely
    # pruned (rows silently missing) without the same refresh every
    # other DML statement does
    eng._refresh_index_stats(name)
    return _ok(eng, "optimize", name, files_before=str(before),
               files_after=str(after))


def _insert_into(eng, m, _):
    name, rest = m.group(1), m.group(2).strip()
    cols = None
    # a leading paren group is a COLUMN LIST only when it is not itself
    # a query ("INSERT INTO t (SELECT …)" is a parenthesized source,
    # Postgres-style) and a source follows
    mcols = re.match(
        r"^\(\s*(?!(?:SELECT|VALUES|WITH|TABLE)\b)([\w\s,]+?)\s*\)\s*(.+)$",
        rest, re.DOTALL | re.IGNORECASE)
    if mcols:
        cols = [c.strip() for c in mcols.group(1).split(",")]
        rest = mcols.group(2)
    df = eng.sql(rest)
    table = eng.catalog.table(name)
    # positional → named: INSERT binds by position (actions.rs:604-652)
    names = cols or [f.name for f in table.schema().fields]
    version = table.insert(df.toDF(*names[: len(df.columns)]))
    eng._refresh_index_stats(name)
    return _ok(eng, "insert", name, version=str(version))


def _delete_from(eng, m, _):
    # no WHERE = delete every row (test_lance_tables.py:89-91); a
    # present-but-empty predicate ("DELETE FROM t WHERE ") is an error,
    # not delete-all — only a truly absent clause defaults
    name, pred = m.group(1), m.group(2)
    if pred is None:
        pred = "true"
    elif not pred.strip():
        raise ValueError("DELETE: empty WHERE predicate")
    version = eng.catalog.table(name).delete(pred)
    eng._refresh_index_stats(name)
    return _ok(eng, "delete", name, version=str(version))


def _update(eng, m, _):
    # the SET list splits from the WHERE at the first TOP-LEVEL WHERE —
    # one inside a string literal (``SET msg = ' WHERE …'``) or a
    # subquery (``SET a = (SELECT … WHERE …)``) never splits
    name, rest = m.group(1), m.group(2)
    w = re.search(r"\bWHERE\b", _engine._top_level_blanked(rest),
                  re.IGNORECASE)
    sets, pred = (rest, None) if w is None else (
        rest[: w.start()].rstrip(), rest[w.end():])
    if pred is not None and not pred.strip():
        raise ValueError("UPDATE: empty WHERE predicate")
    assignments = {}
    for part in _engine._split_top_level(sets):
        lhs, _, rhs = part.partition("=")
        assignments[lhs.strip()] = rhs.strip()
    version = eng.catalog.table(name).update(assignments, pred)
    eng._refresh_index_stats(name)
    return _ok(eng, "update", name, version=str(version))


def _alter(op: str, method: str):
    """ALTER TABLE t <op> COLUMN …: ``method`` of the managed table
    takes the statement's remaining groups."""
    def handler(eng, m, _):
        getattr(eng.catalog.table(m.group(1)), method)(
            *(g.strip() for g in m.groups()[1:]))
        return _ok(eng, op, m.group(1))
    return handler


def _create_view(eng, m, _):
    replace, name, src = bool(m.group(1)), m.group(2), m.group(3)
    eng.sql(src)  # validate eagerly, as the reference plans the view body
    eng.catalog.create_view(name, src, replace=replace)
    return _ok(eng, "create_view", name)


def _create_mview(eng, m, _):
    name, src = m.group(1), m.group(2)
    eng.catalog.create_materialized_view(name, src, eng.sql(src))
    return _ok(eng, "create_mview", name)


def _refresh(eng, m, _):
    # the reference's REFRESH error contract
    # (create-materialized-view.md): unknown name vs
    # known-but-not-an-MV give distinct, clear errors
    cat, name = eng.catalog, m.group(1)
    mv_sql = cat.mv_sql(name)
    if mv_sql is None:
        names = cat.names()
        if any(name in names[k] for k in
               ("tables", "external_tables", "views")):
            raise ValueError(f"Object '{name}' is not a materialized view")
        raise ValueError(f"Materialized view '{name}' does not exist")
    cat.refresh_materialized_view(name, eng.sql(mv_sql))
    return _ok(eng, "refresh", name)


def _drop_view(eng, m, _):
    # errors on a missing name unless IF EXISTS — mirroring drop_table
    # (silent success hid typos before)
    if_exists, name = bool(m.group(1)), m.group(2)
    names = eng.catalog.names()
    if name not in names["views"] and name not in names["materialized_views"]:
        if not if_exists:
            raise ValueError(f"View '{name}' does not exist")
        return _ok(eng, "drop_view", name, "noop")
    eng.catalog.drop_view(name)
    eng.spark.catalog.dropTempView(name)
    return _ok(eng, "drop_view", name)


# ------------------------------------------------------------ the table


def _rx(body: str, flags: int = 0) -> re.Pattern:
    """A whole statement: ``body`` with an optional trailing ``;``."""
    return re.compile(rf"^\s*{body};?\s*$", re.IGNORECASE | flags)


_TARGET = r"(?:\s+ON\s+(?:TABLE\s+(\w+)|PATH\s+'([^']*)'|(ALL)))?"
_W, _R, _S, _CAT = "write", "read", "super_read", "catalog"

#: every statement kind ``Engine.sql`` runs itself, in the order they
#: are tried: auth (parser/statement.rs:141-211), dialect DDL/DML
#: (statement.rs:8-30), then the utility statements any engine runs
ROWS: list[Row] = [Row(*r) for r in [
    ("create_user", _rx(r"CREATE\s+USER\s+(\w+)\s+WITH\s+PASSWORD\s+"
                        r"'((?:[^']|'')*)'(\s+SUPERUSER)?"),
     _auth.create_user, _W, _CAT),
    ("drop_user", _rx(r"DROP\s+USER\s+(\w+)"), _auth.drop_user, _W, _CAT),
    ("create_role", _rx(r"CREATE\s+ROLE\s+(\w+)"), _auth.create_role, _W, _CAT),
    ("drop_role", _rx(r"DROP\s+ROLE\s+(\w+)"), _auth.drop_role, _W, _CAT),
    ("grant_role", _rx(r"GRANT\s+ROLE\s+(\w+)\s+TO\s+USER\s+(\w+)"),
     _auth.grant_role, _W, _CAT),
    ("revoke_role", _rx(r"REVOKE\s+ROLE\s+(\w+)\s+FROM\s+USER\s+(\w+)"),
     _auth.revoke_role, _W, _CAT),
    ("grant_priv", _rx(rf"GRANT\s+(\w+){_TARGET}\s+TO\s+ROLE\s+(\w+)"),
     _auth.grant_priv, _W, _CAT),
    ("deny_priv", _rx(rf"DENY\s+(\w+){_TARGET}\s+TO\s+ROLE\s+(\w+)"),
     _auth.deny_priv, _W, _CAT),
    ("revoke_priv", _rx(
        rf"REVOKE\s+(DENY\s+)?(\w+){_TARGET}\s+FROM\s+ROLE\s+(\w+)"),
     _auth.revoke_priv, _W, _CAT),
    ("set_enforce", _rx(r"SET\s+AUTH\s+ENFORCEMENT\s+(ON|OFF)"),
     _auth.set_enforce, _W, _CAT),
    ("show_users", _rx(r"SHOW\s+USERS"), _auth.show_users, _S, "none"),
    ("show_roles", _rx(r"SHOW\s+ROLES"), _auth.show_roles, _S, "none"),
    ("create_external", _rx(
        r"CREATE\s+(OR\s+REPLACE\s+)?EXTERNAL\s+TABLE\s+"
        r"(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+STORED\s+AS\s+(\w+)\s+"
        r"LOCATION\s+'([^']+)'(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?"
        r"(?:\s+OPTIONS\s*\(([^)]*)\))?"), _create_external, _W, _CAT),
    ("create_index", _rx(
        r"CREATE\s+INDEX\s+(?:(\w+)\s+)?ON\s+(\w+)\s*"
        r"\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)(?:\s+USING\s+(\w+))?"),
     _create_index, _W, _CAT),
    ("drop_index", _rx(r"DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?(\w+)"),
     _catalog_op("drop_index"), _W, _CAT),
    ("show_indexes", _rx(r"SHOW\s+INDEXES"), _show_indexes, _R, "none"),
    ("create_crawler", _rx(r"CREATE\s+CRAWLER\s+(\w+)(?:\s+ON\s+'([^']*)')?"
                           r"(?:\s+WITH\s*\(([^)]*)\))?"),
     _create_crawler, _W, _CAT),
    ("run_crawler", _rx(r"RUN\s+CRAWLER\s+(\w+)"),
     lambda eng, m, _: eng._run_crawler(m.group(1)), _W, _CAT),
    ("drop_crawler", _rx(r"DROP\s+CRAWLER\s+(?:IF\s+EXISTS\s+)?(\w+)"),
     _catalog_op("drop_crawler"), _W, _CAT),
    ("show_crawlers", _rx(r"SHOW\s+CRAWLERS"), _show_crawlers, _R, "none"),
    ("create_stream", _rx(r"CREATE\s+STREAM\s+(\w+)\s+ON\s+'([^']*)'\s+INTO"
                          r"\s+(\w+)(?:\s+WITH\s*\(([^)]*)\))?"),
     _create_stream, _W, _CAT),
    ("run_stream", _rx(r"RUN\s+STREAM\s+(\w+)"), _run_stream, _W, _CAT),
    ("drop_stream", _rx(r"DROP\s+STREAM\s+(IF\s+EXISTS\s+)?(\w+)"),
     _drop_stream, _W, _CAT),
    ("show_streams", _rx(r"SHOW\s+STREAMS"), _show_streams, _R, "none"),
    ("describe_history", _rx(r"DESCRIBE\s+HISTORY\s+(\w+)"),
     _describe_history, _R, "none"),
    ("show_tables", _rx(r"SHOW\s+(TABLES|VIEWS)"), _show_tables, _R, "none"),
    ("attach", _rx(r"ATTACH\s+'([^']+)'\s+AS\s+(\w+)"
                   r"(?:\s+WITH\s*\(([^)]*)\))?"), _attach, _W, _CAT),
    ("detach", _rx(r"DETACH\s+(\w+)"), _detach, _W, _CAT),
    ("create_secret", _rx(r"CREATE\s+(PERSISTENT\s+|TEMPORARY\s+)?SECRET\s+"
                          r"(\w+)\s*\((.*)\)\s*", re.DOTALL),
     _create_secret, _W, _CAT),
    ("drop_secret", _rx(r"DROP\s+SECRET\s+(IF\s+EXISTS\s+)?(\w+)"),
     _drop_secret, _W, _CAT),
    ("show_secrets", _rx(r"SHOW\s+SECRETS"), _show_secrets, _R, "none"),
    ("set_extension", _rx(r"SET\s+EXTENSION\s+'([^']+)'\s+FOR\s+([\w.]+)\s+"
                          r"TO\s+'((?:[^']|'')*)'\s*", re.DOTALL),
     _set_extension, _W, _CAT),
    ("drop_extension", _rx(r"DROP\s+EXTENSION\s+'([^']+)'\s+FOR\s+([\w.]+)"),
     _drop_extension, _W, _CAT),
    ("show_extensions", _rx(r"SHOW\s+EXTENSIONS\s+FOR\s+([\w.]+)"),
     _show_extensions, _R, "none"),
    ("create_table_as", _rx(r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)"
                            r"\s+AS\s+(.*?)", re.DOTALL),
     _create_table_as, _W, _CAT),
    ("create_table_schema", _rx(r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
                                r"(\w+)\s*\((.+)\)\s*", re.DOTALL),
     _create_table_schema, _W, _CAT),
    ("drop_table", _rx(r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)"),
     _drop_table, _W, _CAT),
    ("vacuum", _rx(r"VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?"),
     _vacuum, _W, "table"),
    ("optimize", _rx(r"OPTIMIZE\s+(\w+)(?:\s+TARGET\s+SIZE\s+(\d+))?"),
     _optimize, _W, "table"),
    ("insert_into", _rx(r"INSERT\s+INTO\s+(\w+)\s+(.*?)", re.DOTALL),
     _insert_into, _W, "table"),
    ("delete_from", _rx(r"DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*?))?",
                        re.DOTALL), _delete_from, _W, "table"),
    # the SET-list/WHERE split happens lexer-aware in the handler: a lazy
    # "(?:\s+WHERE…)?" here bound the first WHERE even inside a literal
    ("update", _rx(r"UPDATE\s+(\w+)\s+SET\s+(.*?)", re.DOTALL),
     _update, _W, "table"),
    ("alter_add", _rx(r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+"
                      r"([\w()<>, ]+?)"),
     _alter("alter_add", "alter_add_column"), _W, "table"),
    ("alter_drop", _rx(r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)"),
     _alter("alter_drop", "alter_drop_column"), _W, "table"),
    ("alter_rename", _rx(r"ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)"
                         r"\s+TO\s+(\w+)"),
     _alter("alter_rename", "alter_rename_column"), _W, "table"),
    ("create_mview", _rx(r"CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+AS\s+(.*?)",
                         re.DOTALL), _create_mview, _W, _CAT),
    ("create_view", _rx(r"CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+"
                        r"(.*?)", re.DOTALL), _create_view, _W, _CAT),
    ("refresh", _rx(r"REFRESH\s+(?:MATERIALIZED\s+VIEW\s+|TABLE\s+)?(\w+)"),
     _refresh, _W, "table"),
    ("drop_view", _rx(r"DROP\s+(?:MATERIALIZED\s+)?VIEW\s+(IF\s+EXISTS\s+)?"
                      r"(\w+)"), _drop_view, _W, _CAT),
    ("explain_analyze", _rx(r"EXPLAIN\s+ANALYZE\s+(.*?)", re.DOTALL),
     _explain_analyze, _R, "none", False),
    ("copy", _rx(r"COPY\s+(.*?)\s+TO\s+'([^']+)'"
                 r"(?:\s+(?:STORED\s+AS|FORMAT)\s+(\w+))?\s*", re.DOTALL),
     _copy, _W, "none", False),
    ("analyze_files", _rx(r"ANALYZE\s+FILES(?:\s+'([^']*)')?(\s+FORCE)?"),
     _analyze_files, _W, "none", False),
    ("summarize", _rx(r"SUMMARIZE\s+(.*?)", re.DOTALL),
     _summarize, _R, "none", False),
]]
