"""PostgreSQL external tables over a from-spec wire-protocol client.

The reference registers remote PostgreSQL/MySQL tables as federated
providers (``beacon-db/beacon-sql-databases`` on
datafusion-table-providers): ``CREATE EXTERNAL TABLE t STORED AS
POSTGRES LOCATION '<table>' OPTIONS (host …, port …, user …,
database …)``. This environment has no JDBC jar and no psycopg, so
this module implements the PostgreSQL **frontend/backend protocol v3**
directly — it is a fully public, stable spec (PostgreSQL docs,
"Frontend/Backend Protocol"): length-prefixed tagged messages over a
socket.

Implemented surface (what a read-only federated table needs):

  - StartupMessage (protocol 196608) with ``user``/``database``
  - Authentication: Ok(0), Cleartext(3), MD5(5) — MD5 is
    ``'md5' + md5(md5(password + user) + salt)`` per the spec
  - Simple Query ('Q') flow: RowDescription ('T') → DataRow ('D') …
    CommandComplete ('C') → ReadyForQuery ('Z'); ErrorResponse ('E')
    raises with the server's message fields
  - Text result format, decoded by the column's type OID into Spark
    types (bool/int2/int4/int8/float4/float8/numeric/text/varchar/
    date/timestamp(tz)/bytea)

Every read of a PostgreSQL table — ``STORED AS POSTGRES`` catalog
tables, ``CREATE`` validation and DSL ``{"postgres": …}`` reads alike —
is a LIVE lazy scan through ``sources/sqldb_datasource.py``: the fetch
runs on an EXECUTOR at query time with supported predicates pushed into
the database's WHERE (the reference's federated-provider semantics).
The driver only probes the schema (:func:`postgres_table_schema`, one
LIMIT-0 round trip). Passwords ride the engine's secret machinery, not
the catalog entry (same contract as ATTACH tokens).
"""

from __future__ import annotations

import hashlib
import socket
import struct

from pyspark.sql import types as T

__all__ = ["PgClient", "PgError", "postgres_table_schema",
           "OID_TO_SPARK"]


class PgError(RuntimeError):
    pass


# PostgreSQL built-in type OIDs (pg_type.dat — stable across versions)
OID_TO_SPARK: dict[int, T.DataType] = {
    16: T.BooleanType(),        # bool
    17: T.BinaryType(),         # bytea
    20: T.LongType(),           # int8
    21: T.ShortType(),          # int2
    23: T.IntegerType(),        # int4
    25: T.StringType(),         # text
    700: T.FloatType(),         # float4
    701: T.DoubleType(),        # float8
    1042: T.StringType(),       # bpchar
    1043: T.StringType(),       # varchar
    1082: T.DateType(),         # date
    1114: T.TimestampNTZType(), # timestamp
    1184: T.TimestampType(),    # timestamptz
    1700: T.DoubleType(),       # numeric (lossy double mapping, documented)
}


def _parse_value(text: str | None, oid: int):
    if text is None:
        return None
    if oid == 16:
        return text in ("t", "true", "TRUE", "1")
    if oid in (20, 21, 23):
        return int(text)
    if oid in (700, 701, 1700):
        return float(text)
    if oid == 17:
        if text.startswith("\\x"):
            return bytes.fromhex(text[2:])
        return text.encode()
    if oid == 1082:
        import datetime

        return datetime.date.fromisoformat(text)
    if oid in (1114, 1184):
        import datetime

        # '2024-01-02 03:04:05.123456[+00]' — normalize the tz suffix
        t = text.replace(" ", "T", 1)
        if oid == 1184:
            for suffix in ("+00", "-00"):
                if t.endswith(suffix):
                    t = t[: -len(suffix)] + suffix + ":00"
            dt = datetime.datetime.fromisoformat(t)
            if dt.tzinfo is None:
                # a tz-less timestamptz is already UTC on the wire;
                # NEVER let astimezone() guess the OS zone
                dt = dt.replace(tzinfo=datetime.timezone.utc)
            # stay tz-AWARE: Spark interprets naive datetimes in the
            # SESSION timezone, which silently shifts instants whenever
            # the session isn't UTC; aware datetimes convert correctly
            return dt
        return datetime.datetime.fromisoformat(t)
    return text


class PgClient:
    """Minimal v3-protocol client (simple-query flow, text results)."""

    def __init__(self, host: str, port: int = 5432, user: str = "postgres",
                 password: str | None = None, database: str | None = None,
                 timeout: float = 30.0):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._buf = b""
        try:
            self._startup(user, password, database or user)
        except BaseException:
            self._sock.close()  # no fd leak on failed auth/startup
            raise

    # ------------------------------------------------------ wire I/O

    def _send(self, tag: bytes, payload: bytes) -> None:
        # length includes itself but not the tag; startup has no tag
        self._sock.sendall(tag + struct.pack("!I", len(payload) + 4) + payload)

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise PgError("server closed the connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_msg(self) -> tuple[bytes, bytes]:
        head = self._recv_exact(5)
        tag = head[:1]
        (length,) = struct.unpack("!I", head[1:5])
        if not 4 <= length <= (1 << 30):
            # PostgreSQL's own wire limit is 1 GiB; a corrupt/hostile
            # length would otherwise buffer unbounded bytes in memory
            raise PgError(f"invalid message length {length}")
        return tag, self._recv_exact(length - 4)

    @staticmethod
    def _error_text(payload: bytes) -> str:
        parts = {}
        for field in payload.split(b"\x00"):
            if field:
                parts[chr(field[0])] = field[1:].decode("utf-8", "replace")
        return parts.get("M", "unknown error") + (
            f" (code {parts['C']})" if "C" in parts else ""
        )

    # ------------------------------------------------------- startup

    def _startup(self, user: str, password: str | None, database: str) -> None:
        body = struct.pack("!I", 196608)  # protocol 3.0
        # client_encoding=UTF8: the SERVER transcodes result text, so a
        # latin1 database doesn't crash the strict UTF-8 row decode
        for k, v in (("user", user), ("database", database),
                     ("client_encoding", "UTF8")):
            body += k.encode() + b"\x00" + v.encode() + b"\x00"
        body += b"\x00"
        self._sock.sendall(struct.pack("!I", len(body) + 4) + body)
        while True:
            tag, payload = self._read_msg()
            if tag == b"R":
                (code,) = struct.unpack("!I", payload[:4])
                if code == 0:
                    continue  # AuthenticationOk
                if code == 3:  # CleartextPassword
                    if password is None:
                        raise PgError("server requires a password")
                    self._send(b"p", password.encode() + b"\x00")
                    continue
                if code == 5:  # MD5Password
                    if password is None:
                        raise PgError("server requires a password")
                    salt = payload[4:8]
                    inner = hashlib.md5(
                        password.encode() + user.encode()
                    ).hexdigest()
                    outer = hashlib.md5(inner.encode() + salt).hexdigest()
                    self._send(b"p", b"md5" + outer.encode() + b"\x00")
                    continue
                raise PgError(f"unsupported authentication method {code} "
                              "(supported: trust, password, md5)")
            elif tag == b"E":
                raise PgError(self._error_text(payload))
            elif tag in (b"S", b"K", b"N"):
                continue  # ParameterStatus / BackendKeyData / Notice
            elif tag == b"Z":
                return  # ReadyForQuery
            else:
                raise PgError(f"unexpected startup message {tag!r}")

    # ------------------------------------------------------- queries

    @staticmethod
    def _parse_row_description(payload: bytes) -> list[tuple[str, int]]:
        (n,) = struct.unpack("!H", payload[:2])
        off = 2
        columns: list[tuple[str, int]] = []
        for _ in range(n):
            end = payload.index(b"\x00", off)
            name = payload[off:end].decode()
            # tableoid(4) attnum(2) typoid(4) typlen(2) typmod(4) format(2)
            (oid,) = struct.unpack("!I", payload[end + 7:end + 11])
            columns.append((name, oid))
            off = end + 19
        return columns

    @staticmethod
    def _parse_data_row(payload: bytes, columns) -> list:
        (n,) = struct.unpack("!H", payload[:2])
        off = 2
        row = []
        for i in range(n):
            (ln,) = struct.unpack("!i", payload[off:off + 4])
            off += 4
            if ln < 0:
                row.append(None)
            else:
                text = payload[off:off + ln].decode()
                off += ln
                row.append(_parse_value(text, columns[i][1]))
        return row

    def query_stream(self, sql: str):
        """(columns as (name, oid), lazy row generator).

        Rows decode one DataRow at a time as the server streams them —
        memory stays O(row), so an executor can scan an arbitrarily
        large remote table (the federated read path uses this). The
        generator must be drained (or the connection closed) before the
        next query: it owns the protocol state until ReadyForQuery."""
        self._send(b"Q", sql.encode() + b"\x00")
        columns: list[tuple[str, int]] = []
        first_row: bytes | None = None
        error: str | None = None
        while True:  # header phase: until the first DataRow or Z
            tag, payload = self._read_msg()
            if tag == b"T":
                columns = self._parse_row_description(payload)
            elif tag == b"D":
                first_row = payload
                break
            elif tag in (b"C", b"N"):
                continue
            elif tag == b"E":
                error = self._error_text(payload)
            elif tag == b"Z":
                if error:
                    raise PgError(error)
                return columns, iter(())
            else:
                raise PgError(f"unexpected message {tag!r}")

        def gen():
            err: str | None = None
            payload = first_row
            while True:
                if payload is not None:
                    yield self._parse_data_row(payload, columns)
                tag, payload2 = self._read_msg()
                if tag == b"D":
                    payload = payload2
                    continue
                payload = None
                if tag in (b"C", b"N"):
                    continue
                if tag == b"E":
                    err = self._error_text(payload2)
                    continue
                if tag == b"Z":
                    if err:
                        raise PgError(err)
                    return
                raise PgError(f"unexpected message {tag!r}")

        return columns, gen()

    def query(self, sql: str) -> tuple[list[tuple[str, int]], list[list]]:
        """(columns as (name, oid), rows of parsed python values)."""
        columns, rows = self.query_stream(sql)
        return columns, list(rows)

    def close(self) -> None:
        try:
            self._send(b"X", b"")  # Terminate
        except Exception:
            pass
        self._sock.close()


def pg_schema(columns: list[tuple[str, int]]) -> T.StructType:
    return T.StructType([
        T.StructField(name, OID_TO_SPARK.get(oid, T.StringType()), True)
        for name, oid in columns
    ])


def postgres_table_schema(table: str, options: dict):
    """Spark schema of a remote table — one LIMIT-0 round trip."""
    client = PgClient(
        host=options.get("host", "127.0.0.1"),
        port=int(options.get("port", 5432)),
        user=options.get("user", "postgres"),
        password=options.get("password"),
        database=options.get("database"),
    )
    try:
        columns, _ = client.query(f"SELECT * FROM {table} LIMIT 0")
    finally:
        client.close()
    return pg_schema(columns)
