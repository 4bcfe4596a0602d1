"""MySQL external tables over a from-spec wire-protocol client.

The MySQL side of ``beacon-db/beacon-sql-databases`` (the reference
federates MySQL through datafusion-table-providers). Like
``pglite.py``, this implements the public **MySQL client/server
protocol** directly (dev.mysql.com "Client/Server Protocol") — no
driver, no JDBC jar:

  - 4-byte packet framing: 3-byte little-endian length + sequence id
  - HandshakeV10 → HandshakeResponse41 (capabilities:
    CLIENT_PROTOCOL_41 | CLIENT_PLUGIN_AUTH | CLIENT_SECURE_CONNECTION
    | CLIENT_CONNECT_WITH_DB | CLIENT_DEPRECATE_EOF)
  - ``mysql_native_password`` auth:
    ``SHA1(pw) XOR SHA1(scramble + SHA1(SHA1(pw)))`` per the spec;
    AuthSwitchRequest honored
  - ``COM_QUERY`` text resultsets: column count (lenenc), column
    definitions (ColumnDefinition41 — the type byte + charset decide
    the Spark type), rows of lenenc strings, OK/EOF terminators,
    ERR packets raised with the server's message

As with pglite, every read of a MySQL table (catalog tables, ``CREATE``
validation, DSL ``{"mysql": …}`` reads) is a LIVE lazy scan via
``sources/sqldb_datasource.py`` (executor-side fetch, predicates pushed
to the database); the driver only probes the schema
(:func:`mysql_table_schema`, LIMIT 0). Passwords ride the secret
machinery.
"""

from __future__ import annotations

import hashlib
import socket
import struct

from pyspark.sql import types as T

__all__ = ["MySqlClient", "MySqlError", "mysql_table_schema",
           "MYSQL_TYPE_TO_SPARK"]


class MySqlError(RuntimeError):
    pass


# Protocol::ColumnType values (include/field_types.h — public)
MYSQL_TYPE_TO_SPARK: dict[int, T.DataType] = {
    0x01: T.ShortType(),     # TINY
    0x02: T.ShortType(),     # SHORT
    0x03: T.IntegerType(),   # LONG
    0x08: T.LongType(),      # LONGLONG
    0x09: T.IntegerType(),   # INT24
    0x04: T.FloatType(),     # FLOAT
    0x05: T.DoubleType(),    # DOUBLE
    0x00: T.DoubleType(),    # DECIMAL
    0xF6: T.DoubleType(),    # NEWDECIMAL (lossy double mapping)
    0x0A: T.DateType(),      # DATE
    0x0C: T.TimestampNTZType(),  # DATETIME
    0x07: T.TimestampNTZType(),  # TIMESTAMP (session-tz text)
    0xFD: T.StringType(),    # VAR_STRING
    0xFE: T.StringType(),    # STRING
    0x0F: T.StringType(),    # VARCHAR
    0xFC: T.StringType(),    # BLOB/TEXT (charset 63 = binary)
}

_BINARY_CHARSET = 63

_CLIENT_PROTOCOL_41 = 0x00000200
_CLIENT_CONNECT_WITH_DB = 0x00000008
_CLIENT_SECURE_CONNECTION = 0x00008000
_CLIENT_PLUGIN_AUTH = 0x00080000
_CLIENT_DEPRECATE_EOF = 0x01000000


def native_password_scramble(password: str, nonce: bytes) -> bytes:
    """``SHA1(pw) XOR SHA1(nonce + SHA1(SHA1(pw)))`` (Authentication::
    Native41). Empty password sends an empty response per the spec."""
    if not password:
        return b""
    h1 = hashlib.sha1(password.encode()).digest()
    h2 = hashlib.sha1(h1).digest()
    h3 = hashlib.sha1(nonce + h2).digest()
    return bytes(a ^ b for a, b in zip(h1, h3))


def _lenenc(data: bytes, i: int) -> tuple[int | None, int]:
    """Length-encoded integer at ``i`` → (value | None for NULL, next)."""
    b = data[i]
    if b < 0xFB:
        return b, i + 1
    if b == 0xFB:
        return None, i + 1
    if b == 0xFC:
        return struct.unpack_from("<H", data, i + 1)[0], i + 3
    if b == 0xFD:
        return int.from_bytes(data[i + 1:i + 4], "little"), i + 4
    return struct.unpack_from("<Q", data, i + 1)[0], i + 9


def _lenenc_str(data: bytes, i: int) -> tuple[bytes | None, int]:
    n, i = _lenenc(data, i)
    if n is None:
        return None, i
    return data[i:i + n], i + n


def _parse_value(raw: bytes | None, type_byte: int, charset: int):
    """Decode one text-protocol value from its RAW bytes. Binary-charset
    columns pass the bytes through untouched — round-tripping a BLOB
    through a UTF-8 decode would crash on invalid sequences and corrupt
    any non-ASCII byte."""
    if raw is None:
        return None
    if charset == _BINARY_CHARSET and type_byte in (0xFC, 0xFD, 0xFE, 0x0F):
        return bytes(raw)
    text = raw.decode()
    if type_byte in (0x01, 0x02, 0x03, 0x08, 0x09):
        return int(text)
    if type_byte in (0x04, 0x05, 0x00, 0xF6):
        return float(text)
    if type_byte == 0x0A:
        import datetime

        if text.startswith("0000-00-00"):
            return None  # MySQL zero date = "no value" (connector contract)
        return datetime.date.fromisoformat(text)
    if type_byte in (0x0C, 0x07):
        import datetime

        if text.startswith("0000-00-00"):
            return None  # zero datetime, ditto
        return datetime.datetime.fromisoformat(text.replace(" ", "T", 1))
    return text


class MySqlClient:
    def __init__(self, host: str, port: int = 3306, user: str = "root",
                 password: str | None = None, database: str | None = None,
                 timeout: float = 30.0):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._f = self._sock.makefile("rb")
        self._seq = 0
        self._deprecate_eof = True
        try:
            self._handshake(user, password or "", database)
        except BaseException:
            self._sock.close()  # no fd leak on failed auth/handshake
            raise

    # ------------------------------------------------------ packets

    def _read_packet(self) -> bytes:
        """One protocol payload, reassembled: a payload >= 16 MiB - 1 is
        split across packets of length 0xFFFFFF that the client must
        concatenate (terminated by the first shorter fragment)."""
        out = b""
        while True:
            head = self._f.read(4)
            if len(head) < 4:
                raise MySqlError("server closed the connection")
            length = int.from_bytes(head[:3], "little")
            self._seq = (head[3] + 1) & 0xFF
            body = self._f.read(length)
            if len(body) < length:
                raise MySqlError("truncated packet")
            out += body
            if len(out) > (1 << 30):
                # a hostile/corrupt stream of max-size fragments would
                # otherwise reassemble without bound in executor memory
                raise MySqlError("protocol payload exceeds 1 GiB")
            if length < 0xFFFFFF:
                return out

    def _send_packet(self, body: bytes) -> None:
        self._sock.sendall(
            len(body).to_bytes(3, "little") + bytes([self._seq]) + body
        )
        self._seq = (self._seq + 1) & 0xFF

    @staticmethod
    def _err_text(body: bytes) -> str:
        # ERR: 0xFF code(2) ['#' sqlstate(5)] message
        code = struct.unpack_from("<H", body, 1)[0]
        msg = body[3:]
        if msg[:1] == b"#":
            msg = msg[6:]
        return f"{msg.decode('utf-8', 'replace')} (errno {code})"

    # ---------------------------------------------------- handshake

    def _handshake(self, user: str, password: str, database: str | None):
        greet = self._read_packet()
        if greet[:1] == b"\xff":
            raise MySqlError(self._err_text(greet))
        if greet[0] != 10:
            raise MySqlError(f"unsupported handshake version {greet[0]}")
        i = greet.index(b"\x00", 1) + 1  # server version string
        i += 4  # thread id
        nonce = greet[i:i + 8]
        i += 8 + 1  # auth-plugin-data-part-1 + filler
        cap_low = struct.unpack_from("<H", greet, i)[0]
        cap_high = struct.unpack_from("<H", greet, i + 5)[0]
        server_caps = cap_low | (cap_high << 16)
        i += 2 + 1 + 2 + 2  # cap_low, charset, status, cap_high
        n_auth = greet[i]
        i += 1 + 10  # length + reserved
        # part 2 is max(13, n_auth - 8) bytes INCLUDING the trailing NUL;
        # take the scramble bytes by EXACT length (n_auth - 8 - 1 = 12
        # for native auth). rstrip(b"\\x00") here ate legitimate 0x00
        # scramble bytes — a random nonce ends in 0x00 one connect in
        # 256, and every such connect failed auth with Access denied.
        nonce += greet[i:i + max(12, n_auth - 9)]
        nonce = nonce[:20]

        caps = (_CLIENT_PROTOCOL_41 | _CLIENT_PLUGIN_AUTH |
                _CLIENT_SECURE_CONNECTION)
        # only request DEPRECATE_EOF when the server offers it — MariaDB
        # and MySQL < 5.7.5 send classic EOF packets, and advertising
        # the flag anyway would end every resultset at the column block
        self._deprecate_eof = bool(server_caps & _CLIENT_DEPRECATE_EOF)
        if self._deprecate_eof:
            caps |= _CLIENT_DEPRECATE_EOF
        if database:
            caps |= _CLIENT_CONNECT_WITH_DB
        auth = native_password_scramble(password, nonce)
        body = struct.pack("<IIB23x", caps, 1 << 24, 0x21)  # utf8_general_ci
        body += user.encode() + b"\x00"
        body += bytes([len(auth)]) + auth
        if database:
            body += database.encode() + b"\x00"
        body += b"mysql_native_password\x00"
        self._send_packet(body)

        resp = self._read_packet()
        if resp[:1] == b"\xfe":  # AuthSwitchRequest
            end = resp.index(b"\x00", 1)
            plugin = resp[1:end].decode()
            if plugin != "mysql_native_password":
                raise MySqlError(
                    f"unsupported auth plugin {plugin!r} (supported: "
                    "mysql_native_password)"
                )
            # the switch payload is the 20-byte scramble + ONE trailing
            # NUL — strip exactly that, not every trailing zero (same
            # legitimate-0x00-scramble-byte hazard as the greeting)
            new_nonce = resp[end + 1:]
            if new_nonce.endswith(b"\x00"):
                new_nonce = new_nonce[:-1]
            self._send_packet(native_password_scramble(password, new_nonce))
            resp = self._read_packet()
        if resp[:1] == b"\xff":
            raise MySqlError(self._err_text(resp))
        if resp[:1] != b"\x00":
            raise MySqlError("unexpected handshake response")

    # ------------------------------------------------------ queries

    def query_stream(self, sql: str):
        """(columns as (name, type_byte, charset), lazy row generator).

        Rows decode one packet at a time as the server streams the
        resultset — memory stays O(row), so an executor can scan an
        arbitrarily large remote table. Drain the generator (or close
        the connection) before issuing the next query."""
        self._seq = 0
        self._send_packet(b"\x03" + sql.encode())  # COM_QUERY
        first = self._read_packet()
        if first[:1] == b"\xff":
            raise MySqlError(self._err_text(first))
        if first[:1] == b"\x00":  # OK (no resultset: DML)
            return [], iter(())
        n_cols, _ = _lenenc(first, 0)
        columns: list[tuple[str, int, int]] = []
        for _ in range(n_cols):
            d = self._read_packet()
            i = 0
            # catalog, schema, table, org_table, name, org_name (lenenc)
            for field in range(6):
                s, i = _lenenc_str(d, i)
                if field == 4:
                    name = (s or b"").decode()
            _, i = _lenenc(d, i)  # fixed-length fields marker (0x0c)
            charset = struct.unpack_from("<H", d, i)[0]
            type_byte = d[i + 6]
            columns.append((name, type_byte, charset))
        if not self._deprecate_eof:
            # classic protocol: an EOF packet closes the column block
            eof = self._read_packet()
            if eof[:1] != b"\xfe":
                raise MySqlError("expected EOF after column definitions")
        def gen():
            while True:
                p = self._read_packet()
                if p[:1] == b"\xff":
                    raise MySqlError(self._err_text(p))
                # terminator detection per the wire spec, not a length-9
                # heuristic: with CLIENT_DEPRECATE_EOF the resultset ends
                # with an OK packet (header 0xFE) that may carry a session
                # info string of any length — only a row whose first lenenc
                # byte is 0xFE (a >=2^24-byte value, i.e. a max-size
                # 0xFFFFFF packet) can be confused with it. Classic
                # protocol keeps the 5-byte EOF (< 9) rule.
                if p[:1] == b"\xfe" and (
                    len(p) < 0xFFFFFF if self._deprecate_eof else len(p) < 9
                ):
                    return
                i = 0
                row = []
                for _name, tb, cs in columns:
                    s, i = _lenenc_str(p, i)
                    row.append(_parse_value(s, tb, cs))
                yield row

        return columns, gen()

    def query(self, sql: str) -> tuple[list[tuple[str, int, int]], list[list]]:
        """(columns as (name, type_byte, charset), parsed rows)."""
        columns, rows = self.query_stream(sql)
        return columns, list(rows)

    def close(self) -> None:
        try:
            self._seq = 0
            self._send_packet(b"\x01")  # COM_QUIT
        except Exception:
            pass
        self._sock.close()


def mysql_schema(columns) -> T.StructType:
    fields = []
    for name, tb, cs in columns:
        t = MYSQL_TYPE_TO_SPARK.get(tb, T.StringType())
        if tb in (0xFC, 0xFD, 0xFE, 0x0F):
            # charset 63 = binary: BLOB/VARBINARY/BINARY; else TEXT-ish
            t = T.BinaryType() if cs == _BINARY_CHARSET else T.StringType()
        fields.append(T.StructField(name, t, True))
    return T.StructType(fields)


def mysql_table_schema(table: str, options: dict):
    """Spark schema of a remote table — one LIMIT-0 round trip."""
    client = MySqlClient(
        host=options.get("host", "127.0.0.1"),
        port=int(options.get("port", 3306)),
        user=options.get("user", "root"),
        password=options.get("password"),
        database=options.get("database"),
    )
    try:
        columns, _ = client.query(f"SELECT * FROM {table} LIMIT 0")
    finally:
        client.close()
    return mysql_schema(columns)
