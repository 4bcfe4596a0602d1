"""Flight SQL protocol subset over the plain Flight server.

The reference speaks Flight SQL to JDBC/ADBC clients
(``beacon-server/src/flight_sql/service.rs:157-476``). The pyarrow
wheel ships Flight but NOT the FlightSQL extension, so this module
implements the protocol layer directly: Flight SQL is just Flight
whose descriptor/ticket bytes are ``google.protobuf.Any``-wrapped
protobuf messages from the public ``arrow.flight.protocol.sql``
schema (Apache Arrow ``format/FlightSql.proto``). The messages used
by the ad-hoc and prepared-statement query flows are tiny — a string
or a handle — so a from-spec protobuf varint codec (~80 lines)
covers them without a protobuf dependency.

Supported commands (the surface ADBC's ``adbc_driver_flightsql`` and
the Arrow JDBC driver use for read paths):

  - ``CommandStatementQuery``      get_flight_info → do_get
  - ``TicketStatementQuery``       do_get ticket
  - ``CommandPreparedStatementQuery`` + the
    ``CreatePreparedStatement`` / ``ClosePreparedStatement`` actions
    (no bind parameters v1 — a bound do_put errors loudly)
  - ``CommandGetCatalogs`` / ``CommandGetDbSchemas`` /
    ``CommandGetTables`` / ``CommandGetTableTypes`` — catalog
    enumeration with the schemas the Flight SQL spec fixes
  - ``CommandGetSqlInfo`` — empty result with the spec schema (the
    reference returns a minimal info set too)
  - ``CommandGetPrimaryKeys`` / ``GetImportedKeys`` / ``GetExportedKeys``
    / ``GetCrossReference`` — empty results with the spec schemas (the
    engine has no key constraints; answering beats erroring the
    client's whole metadata probe — DataGrip/ADBC issue these on
    connect) and ``CommandGetXdbcTypeInfo`` with the engine's SQL type
    set as java.sql.Types descriptors
  - ``CommandStatementUpdate`` via do_put → ``DoPutUpdateResult``

Wire-format pins: the tests assert exact protobuf byte strings for
the simple messages (deterministic encoding), so the codec is checked
against the protobuf spec, not just against itself.
"""

from __future__ import annotations

import re

import pyarrow as pa

__all__ = ["FlightSqlHandler", "encode_any", "decode_any",
           "encode_string_msg", "decode_fields", "TYPE_PREFIX"]

TYPE_PREFIX = "type.googleapis.com/arrow.flight.protocol.sql."


# ----------------------------------------------------- protobuf codec

def _varint(n: int) -> bytes:
    if n < 0:
        n &= (1 << 64) - 1  # proto int64: two's complement, 10 bytes
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(data: bytes, i: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = data[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7
        if shift > 70:  # proto caps varints at 10 bytes; reject garbage
            raise ValueError("protobuf varint longer than 10 bytes")


def _field_bytes(num: int, payload: bytes) -> bytes:
    return _varint((num << 3) | 2) + _varint(len(payload)) + payload


def _field_varint(num: int, value: int) -> bytes:
    return _varint(num << 3) + _varint(value)


def decode_fields(data: bytes) -> dict[int, list]:
    """field number → values (bytes for length-delimited, int for
    varint). Unknown wire types are skipped per proto3 rules."""
    out: dict[int, list] = {}
    i = 0
    while i < len(data):
        tag, i = _read_varint(data, i)
        num, wt = tag >> 3, tag & 7
        if wt == 0:
            v, i = _read_varint(data, i)
        elif wt == 2:
            ln, i = _read_varint(data, i)
            v = data[i:i + ln]
            i += ln
        elif wt == 5:
            v = data[i:i + 4]
            i += 4
        elif wt == 1:
            v = data[i:i + 8]
            i += 8
        else:
            raise ValueError(f"unsupported protobuf wire type {wt}")
        out.setdefault(num, []).append(v)
    return out


def encode_any(type_name: str, payload: bytes) -> bytes:
    """``google.protobuf.Any`` with an arrow.flight.protocol.sql type."""
    url = (TYPE_PREFIX + type_name).encode()
    return _field_bytes(1, url) + _field_bytes(2, payload)


def decode_any(data: bytes) -> tuple[str, bytes] | None:
    """(short type name, payload) for a FlightSQL Any; None when the
    bytes are not one (e.g. the legacy JSON command shape)."""
    try:
        fields = decode_fields(data)
        url = fields[1][0].decode()
    except Exception:
        return None
    if not url.startswith(TYPE_PREFIX):
        return None
    payload = fields.get(2, [b""])[0]
    return url[len(TYPE_PREFIX):], bytes(payload)


def encode_string_msg(field_num: int, s: str) -> bytes:
    return _field_bytes(field_num, s.encode())


# ----------------------------------------------- spec result schemas

_GET_CATALOGS_SCHEMA = pa.schema([pa.field("catalog_name", pa.utf8(), False)])
_GET_DB_SCHEMAS_SCHEMA = pa.schema([
    pa.field("catalog_name", pa.utf8()),
    pa.field("db_schema_name", pa.utf8(), False),
])
_GET_TABLES_SCHEMA = pa.schema([
    pa.field("catalog_name", pa.utf8()),
    pa.field("db_schema_name", pa.utf8()),
    pa.field("table_name", pa.utf8(), False),
    pa.field("table_type", pa.utf8(), False),
])
_GET_TABLES_SCHEMA_WITH_SCHEMA = _GET_TABLES_SCHEMA.append(
    pa.field("table_schema", pa.binary(), False)
)
_GET_TABLE_TYPES_SCHEMA = pa.schema([pa.field("table_type", pa.utf8(), False)])
_SQL_INFO_SCHEMA = pa.schema([
    pa.field("info_name", pa.uint32(), False),
    pa.field("value", pa.dense_union([
        pa.field("string_value", pa.utf8()),
        pa.field("bool_value", pa.bool_()),
        pa.field("bigint_value", pa.int64()),
        pa.field("int32_bitmask", pa.int32()),
        pa.field("string_list", pa.list_(pa.utf8())),
        pa.field("int32_to_int32_list_map",
                 pa.map_(pa.int32(), pa.list_(pa.int32()))),
    ]), False),
])

#: CommandGetPrimaryKeys result schema (FlightSql.proto) — beacon has
#: no key constraints, so the result is always empty, but returning the
#: SPEC SCHEMA instead of an unknown-command error keeps DataGrip/ADBC
#: metadata probes from failing the whole connection
_GET_PRIMARY_KEYS_SCHEMA = pa.schema([
    pa.field("catalog_name", pa.utf8()),
    pa.field("db_schema_name", pa.utf8()),
    pa.field("table_name", pa.utf8(), False),
    pa.field("column_name", pa.utf8(), False),
    pa.field("key_sequence", pa.int32(), False),
    pa.field("key_name", pa.utf8()),
])
#: shared by CommandGetImportedKeys / ExportedKeys / CrossReference
_GET_KEYS_SCHEMA = pa.schema([
    pa.field("pk_catalog_name", pa.utf8()),
    pa.field("pk_db_schema_name", pa.utf8()),
    pa.field("pk_table_name", pa.utf8(), False),
    pa.field("pk_column_name", pa.utf8(), False),
    pa.field("fk_catalog_name", pa.utf8()),
    pa.field("fk_db_schema_name", pa.utf8()),
    pa.field("fk_table_name", pa.utf8(), False),
    pa.field("fk_column_name", pa.utf8(), False),
    pa.field("key_sequence", pa.int32(), False),
    pa.field("fk_key_name", pa.utf8()),
    pa.field("pk_key_name", pa.utf8()),
    pa.field("update_rule", pa.uint8(), False),
    pa.field("delete_rule", pa.uint8(), False),
])
_GET_XDBC_TYPE_INFO_SCHEMA = pa.schema([
    pa.field("type_name", pa.utf8(), False),
    pa.field("data_type", pa.int32(), False),
    pa.field("column_size", pa.int32()),
    pa.field("literal_prefix", pa.utf8()),
    pa.field("literal_suffix", pa.utf8()),
    pa.field("create_params", pa.list_(pa.field("item", pa.utf8(), False))),
    pa.field("nullable", pa.int32(), False),
    pa.field("case_sensitive", pa.bool_(), False),
    pa.field("searchable", pa.int32(), False),
    pa.field("unsigned_attribute", pa.bool_()),
    pa.field("fixed_prec_scale", pa.bool_(), False),
    pa.field("auto_increment", pa.bool_()),
    pa.field("local_type_name", pa.utf8()),
    pa.field("minimum_scale", pa.int32()),
    pa.field("maximum_scale", pa.int32()),
    pa.field("sql_data_type", pa.int32(), False),
    pa.field("datetime_subcode", pa.int32()),
    pa.field("num_prec_radix", pa.int32()),
    pa.field("interval_precision", pa.int32()),
])

#: the engine's SQL types as XDBC type descriptors (java.sql.Types
#: codes; typeNoNulls=1, searchable=3) — what a JDBC/ADBC client needs
#: to map result metadata without guessing
_XDBC_TYPES = [
    ("BOOLEAN", 16), ("TINYINT", -6), ("SMALLINT", 5), ("INTEGER", 4),
    ("BIGINT", -5), ("FLOAT", 6), ("DOUBLE", 8), ("DECIMAL", 3),
    ("VARCHAR", 12), ("BINARY", -2), ("DATE", 91), ("TIMESTAMP", 93),
]

CATALOG_NAME = "beacon"
DB_SCHEMA_NAME = "default"


class FlightSqlHandler:
    """FlightSQL command handling for :class:`BeaconFlightServer`.

    Each ``handle_*`` returns None when the bytes are not FlightSQL, so
    the server can fall back to its legacy JSON protocol."""

    def __init__(self, engine, limits):
        import threading

        self.engine = engine
        self.limits = limits
        self._prepared: dict[bytes, str] = {}
        # handle → positional $1..$n values bound via do_put
        self._bound: dict[bytes, list] = {}
        # gRPC handlers run on a thread pool: every read-modify-write
        # of the handle dicts (LRU touch, cap eviction, close) races
        # without this
        self._handles_lock = threading.Lock()

    # ------------------------------------------------------- helpers

    def _table_rows(self, name_filter: bytes | None) -> list[dict]:
        import fnmatch

        names = self.engine.table_names()
        if name_filter:
            pat = name_filter.decode().replace("%", "*").replace("_", "?")
            names = [n for n in names if fnmatch.fnmatch(n, pat)]
        return [
            {"catalog_name": CATALOG_NAME, "db_schema_name": DB_SCHEMA_NAME,
             "table_name": n, "table_type": "TABLE"}
            for n in sorted(names)
        ]

    def _sql_stream(self, sql: str, user, params=None):
        import pyarrow.flight as fl

        run = self.engine.run(sql, params=params, user=user,
                              limits=self.limits)
        return fl.GeneratorStream(run.schema, run.batches())

    def _statement_sql(self, kind: str, payload: bytes):
        """→ (sql, bound-params | None), or (None, None) when the
        command is not a statement."""
        fields = decode_fields(payload)
        if kind == "CommandStatementQuery":
            return fields[1][0].decode(), None
        if kind == "TicketStatementQuery":
            # our statement handle IS the query text
            return fields[1][0].decode(), None
        if kind == "CommandPreparedStatementQuery":
            handle = bytes(fields[1][0])
            with self._handles_lock:
                sql = self._prepared.get(handle)
                if sql is not None:
                    # LRU touch: active handles move to the dict's end
                    # so cap eviction (oldest-first) targets abandoned
                    # ones, never a handle a client still executes
                    self._prepared[handle] = self._prepared.pop(handle)
            if sql is None:
                raise ValueError("unknown prepared statement handle")
            return sql, self._bound.get(handle)
        return None, None

    def _metadata_table(self, kind: str, payload: bytes,
                        user=None) -> pa.Table | None:
        if kind == "CommandGetCatalogs":
            return pa.Table.from_pylist(
                [{"catalog_name": CATALOG_NAME}], schema=_GET_CATALOGS_SCHEMA
            )
        if kind == "CommandGetDbSchemas":
            return pa.Table.from_pylist(
                [{"catalog_name": CATALOG_NAME,
                  "db_schema_name": DB_SCHEMA_NAME}],
                schema=_GET_DB_SCHEMAS_SCHEMA,
            )
        if kind == "CommandGetTables":
            fields = decode_fields(payload)
            rows = self._table_rows(fields.get(3, [None])[0])
            include_schema = bool(fields.get(5, [0])[0])
            if not include_schema:
                return pa.Table.from_pylist(rows, schema=_GET_TABLES_SCHEMA)
            from beacon_spark.outputs import arrow_schema_of

            readable = []
            for r in rows:
                # include_schema runs as the Flight caller, not the
                # embedded super-user — RBAC gates schema enumeration.
                # A table the caller CANNOT read is OMITTED (the HTTP
                # tables-with-schema contract): one denied table used
                # to fail the client's whole metadata probe.
                try:
                    df = self.engine.sql(
                        f"SELECT * FROM {r['table_name']} LIMIT 0",
                        user=user,
                    )
                except Exception:
                    continue
                r["table_schema"] = (
                    arrow_schema_of(df).serialize().to_pybytes())
                readable.append(r)
            return pa.Table.from_pylist(
                readable, schema=_GET_TABLES_SCHEMA_WITH_SCHEMA
            )
        if kind == "CommandGetTableTypes":
            return pa.Table.from_pylist(
                [{"table_type": "TABLE"}], schema=_GET_TABLE_TYPES_SCHEMA
            )
        if kind == "CommandGetPrimaryKeys":
            # no key constraints in the engine: empty result, spec schema
            return _GET_PRIMARY_KEYS_SCHEMA.empty_table()
        if kind in ("CommandGetImportedKeys", "CommandGetExportedKeys",
                    "CommandGetCrossReference"):
            return _GET_KEYS_SCHEMA.empty_table()
        if kind == "CommandGetXdbcTypeInfo":
            fields = decode_fields(payload)
            rows = [
                {"type_name": name, "data_type": code, "column_size": None,
                 "literal_prefix": "'" if code == 12 else None,
                 "literal_suffix": "'" if code == 12 else None,
                 "create_params": None, "nullable": 1,
                 "case_sensitive": code == 12, "searchable": 3,
                 "unsigned_attribute": None, "fixed_prec_scale": False,
                 "auto_increment": False, "local_type_name": name,
                 "minimum_scale": None, "maximum_scale": None,
                 "sql_data_type": code, "datetime_subcode": None,
                 "num_prec_radix": 10 if code in (3, 4, 5, -5, -6, 6, 8)
                 else None, "interval_precision": None}
                for name, code in _XDBC_TYPES
            ]
            if fields.get(1):  # optional int32 data_type filter
                want = fields[1][0]
                # proto int32 negatives ride as 64-bit two's complement
                if want >= (1 << 63):
                    want -= 1 << 64
                rows = [r for r in rows if r["data_type"] == want]
            return pa.Table.from_pylist(rows,
                                        schema=_GET_XDBC_TYPE_INFO_SCHEMA)
        if kind == "CommandGetSqlInfo":
            # empty result with the spec schema (pa.Schema.empty_table
            # can't build an empty dense_union — construct it by hand)
            union_t = _SQL_INFO_SCHEMA.field("value").type
            children = [
                pa.array([], type=union_t.field(i).type)
                for i in range(union_t.num_fields)
            ]
            value = pa.UnionArray.from_dense(
                pa.array([], pa.int8()), pa.array([], pa.int32()),
                children, [union_t.field(i).name
                           for i in range(union_t.num_fields)],
            )
            return pa.Table.from_arrays(
                [pa.array([], pa.uint32()), value],
                schema=pa.schema([
                    _SQL_INFO_SCHEMA.field("info_name"),
                    pa.field("value", value.type, False),
                ]),
            )
        return None

    # ------------------------------------------------------- surface

    def flight_info(self, descriptor, command: bytes, user):
        """FlightInfo for an Any-wrapped command; None if not FlightSQL."""
        import pyarrow.flight as fl

        decoded = decode_any(command)
        if decoded is None:
            return None
        kind, payload = decoded
        meta = self._metadata_table(kind, payload, user=user)
        if meta is not None:
            ticket = fl.Ticket(command)
            return fl.FlightInfo(
                meta.schema, descriptor, [fl.FlightEndpoint(ticket, [])],
                meta.num_rows, -1,
            )
        sql, params = self._statement_sql(kind, payload)
        if sql is None:
            raise fl.FlightServerError(
                f"unsupported FlightSQL command {kind!r}"
            )
        # planning executes DDL/DML: only reads get an info (DML is
        # CommandStatementUpdate via do_put)
        from beacon_spark.outputs import arrow_schema_of

        schema = arrow_schema_of(
            self.engine.sql(sql, params=params, user=user,
                            read_only=True).limit(0)
        )
        if kind == "CommandPreparedStatementQuery":
            # the ticket must keep the prepared handle — a re-stated
            # SQL text would lose the do_put-bound parameters
            ticket = fl.Ticket(command)
        else:
            # re-stated as a TicketStatementQuery whose statement_handle
            # is the SQL text (stateless — any server instance can serve
            # it, the reference's handle works the same)
            ticket = fl.Ticket(encode_any(
                "TicketStatementQuery", _field_bytes(1, sql.encode())
            ))
        return fl.FlightInfo(
            schema, descriptor, [fl.FlightEndpoint(ticket, [])], -1, -1
        )

    def do_get(self, ticket_bytes: bytes, user):
        """Stream for a FlightSQL ticket; None if not FlightSQL."""
        decoded = decode_any(ticket_bytes)
        if decoded is None:
            return None
        kind, payload = decoded
        meta = self._metadata_table(kind, payload, user=user)
        if meta is not None:
            import pyarrow.flight as fl

            return fl.RecordBatchStream(meta)
        sql, params = self._statement_sql(kind, payload)
        if sql is None:
            raise ValueError(f"unsupported FlightSQL ticket {kind!r}")
        return self._sql_stream(sql, user, params=params)

    def do_put(self, command: bytes, user, reader=None):
        """CommandStatementUpdate → (rows_affected, DoPutUpdateResult
        app-metadata bytes); CommandPreparedStatementQuery → bind the
        uploaded single-row record batch as positional ``$1..$n``
        parameters (the ADBC/JDBC bind flow, service.rs:362-380) and
        answer a DoPutPreparedStatementResult echoing the handle.
        None if not FlightSQL."""
        decoded = decode_any(command)
        if decoded is None:
            return None
        kind, payload = decoded
        if kind == "CommandPreparedStatementQuery":
            handle = bytes(decode_fields(payload)[1][0])
            with self._handles_lock:
                if handle not in self._prepared:
                    raise ValueError("unknown prepared statement handle")
                self._prepared[handle] = self._prepared.pop(handle)  # LRU
            if reader is None:
                raise ValueError("parameter bind needs an Arrow stream")
            table = reader.read_all()
            if table.num_rows != 1:
                raise ValueError(
                    f"parameter bind expects exactly one row of values, "
                    f"got {table.num_rows} (executemany is not supported)"
                )
            vals = [col[0].as_py() for col in table.columns]
            with self._handles_lock:
                # under the lock: an eviction racing this write would
                # otherwise leave an orphan binding for a dead handle
                if handle not in self._prepared:
                    raise ValueError("prepared statement handle was closed")
                self._bound[handle] = vals
            return 0, encode_any(
                "DoPutPreparedStatementResult", _field_bytes(1, handle)
            )
        if kind != "CommandStatementUpdate":
            raise ValueError(
                f"unsupported FlightSQL do_put command {kind!r}"
            )
        sql = decode_fields(payload)[1][0].decode()
        run = self.engine.run(sql, user=user, limits=self.limits)
        # the engine returns a one-row STATUS frame for DML, not the
        # affected rows — reporting its count() would claim "1 row" for
        # every statement. The FlightSQL spec's value for "unknown" is
        # -1; use a real count only when the result carries one.
        rows = run.rows()
        n = -1
        if len(rows) == 1 and "rows" in run.df.columns:
            n = int(rows[0]["rows"])
        return n, _field_varint(1, n)

    def action(self, action_type: str, body: bytes, user):
        """CreatePreparedStatement / ClosePreparedStatement; None when
        the action is not FlightSQL."""
        from beacon_spark.outputs import arrow_schema_of

        if action_type == "CreatePreparedStatement":
            decoded = decode_any(body)
            if decoded is None:
                raise ValueError("CreatePreparedStatement needs an Any body")
            _, payload = decoded
            sql = decode_fields(payload)[1][0].decode()
            # per-CREATE handle: handles carry mutable state (the bound
            # parameters), so two clients preparing the same SQL must
            # never share one — a deterministic sha256(sql) handle would
            # cross-contaminate their bindings
            import uuid as _uuid

            handle = _uuid.uuid4().bytes
            with self._handles_lock:
                self._prepared[handle] = sql
                # per-create handles no longer dedupe, so clients that
                # die without ClosePreparedStatement would grow the dict
                # without bound — evict oldest past a generous cap
                # (dict = insertion order; LRU touches refresh it)
                while len(self._prepared) > 1024:
                    oldest = next(iter(self._prepared))
                    self._prepared.pop(oldest, None)
                    self._bound.pop(oldest, None)
            from beacon_spark.auth import WriteRefused

            dataset_schema = b""
            if not re.search(r"\$\d+", sql):
                # parameterized statements can't plan before binding,
                # and an update has no result set — the spec allows an
                # absent dataset schema at create for both
                try:
                    df = self.engine.sql(sql, user=user, read_only=True)
                    dataset_schema = arrow_schema_of(
                        df.limit(0)).serialize().to_pybytes()
                except WriteRefused:
                    dataset_schema = b""
            result = (
                _field_bytes(1, handle)
                + _field_bytes(2, dataset_schema)
                + _field_bytes(3, b"")  # parameter schema: unspecified
            )
            return [encode_any("ActionCreatePreparedStatementResult", result)]
        if action_type == "ClosePreparedStatement":
            decoded = decode_any(body)
            if decoded is not None:
                fields = decode_fields(decoded[1])
                handle = bytes(fields.get(1, [b""])[0])
                with self._handles_lock:
                    self._prepared.pop(handle, None)
                    self._bound.pop(handle, None)
            return []
        return None
