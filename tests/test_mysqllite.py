"""MySQL wire-protocol client (sources/mysqllite.py; the MySQL half of
beacon-db/beacon-sql-databases). The mock speaks the documented server
side (HandshakeV10, native-password auth, COM_QUERY text resultsets);
the scramble and lenenc pins come straight from the protocol spec."""

import hashlib
import socket
import struct
import threading

import pytest

from beacon_spark.engine import Engine
from test_pglite import apply_where

from beacon_spark.sources.mysqllite import (
    MySqlClient,
    MySqlError,
    _lenenc,
    native_password_scramble,
)

USER, PASSWORD, DB = "beacon", "mypw", "lake"
NONCE = bytes(range(1, 21))  # 20-byte scramble

# (name, type_byte, charset, values-as-text)
COLS = [("id", 0x08, 0x21), ("name", 0xFD, 0x21), ("v", 0x05, 0x21),
        ("d", 0x0A, 0x21), ("raw", 0xFC, 63)]
ROWS = [
    ["1", "alpha", "1.5", "2024-05-06", "\x01\x02\xff"],
    ["2", "beta", "-0.25", "2024-05-07", None],
    [None, None, None, None, None],
]


def _lenenc_bytes(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n <= 0xFFFF:
        return b"\xfc" + struct.pack("<H", n)
    return b"\xfd" + n.to_bytes(3, "little")


def _lenenc_str(s: bytes) -> bytes:
    return _lenenc_bytes(len(s)) + s


class MockMySql(threading.Thread):
    def __init__(self, deprecate_eof=True, ok_info=b"", nonce=None):
        self.deprecate_eof = deprecate_eof
        self.ok_info = ok_info  # session info appended to the OK terminator
        self.nonce = nonce if nonce is not None else NONCE
        super().__init__(daemon=True)
        self._srv = socket.socket()
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(4)
        self.port = self._srv.getsockname()[1]

    def run(self):
        while True:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(conn,),
                             daemon=True).start()

    def stop(self):
        self._srv.close()

    @staticmethod
    def _read_packet(f):
        head = f.read(4)
        if len(head) < 4:
            raise ConnectionError
        ln = int.from_bytes(head[:3], "little")
        return head[3], f.read(ln)

    @staticmethod
    def _packet(seq: int, body: bytes) -> bytes:
        return len(body).to_bytes(3, "little") + bytes([seq]) + body

    def _serve(self, conn):
        f = conn.makefile("rb")
        try:
            # HandshakeV10: version 10, server version, thread id,
            # scramble part 1 (8) + filler, caps, charset, status,
            # caps high, auth data len, reserved(10), part 2 (12+NUL)
            greet = bytes([10]) + b"9.0-mock\x00"
            greet += struct.pack("<I", 99)
            greet += self.nonce[:8] + b"\x00"
            cap_high = 0xFFFF if self.deprecate_eof else 0xFEFF
            greet += struct.pack("<HBHH", 0xFFFF, 0x21, 0x0002, cap_high)
            greet += bytes([21]) + b"\x00" * 10
            greet += self.nonce[8:] + b"\x00"
            conn.sendall(self._packet(0, greet))
            _seq, resp = self._read_packet(f)
            # HandshakeResponse41: caps(4) maxpkt(4) charset(1) 23x
            i = 32
            end = resp.index(b"\x00", i)
            user = resp[i:end].decode()
            i = end + 1
            alen = resp[i]
            auth = resp[i + 1:i + 1 + alen]
            want = native_password_scramble(PASSWORD, self.nonce)
            if user != USER or auth != want:
                conn.sendall(self._packet(2, b"\xff" + struct.pack("<H", 1045)
                                          + b"#28000Access denied"))
                conn.close()
                return
            conn.sendall(self._packet(2, b"\x00\x00\x00\x02\x00\x00\x00"))
            while True:
                seq, cmd = self._read_packet(f)
                if not cmd or cmd[:1] == b"\x01":  # COM_QUIT
                    conn.close()
                    return
                if cmd[:1] != b"\x03":
                    conn.sendall(self._packet(
                        1, b"\xff" + struct.pack("<H", 1047)
                        + b"#08S01unknown command"))
                    continue
                sql = cmd[1:].decode()
                m = __import__("re").search(r"(?i)from\s+([\w.]+)", sql)
                name = (m.group(1) if m else "").strip("`").lower()
                if name != "obs":
                    conn.sendall(self._packet(
                        1, b"\xff" + struct.pack("<H", 1146)
                        + f"#42S02Table '{name}' doesn't exist".encode()))
                    continue
                rows = apply_where(sql, [c for c, _, _ in COLS], ROWS)
                seq = 1
                conn.sendall(self._packet(seq, _lenenc_bytes(len(COLS))))
                seq += 1
                for cname, tb, cs in COLS:
                    d = _lenenc_str(b"def") + _lenenc_str(DB.encode())
                    d += _lenenc_str(b"obs") + _lenenc_str(b"obs")
                    d += _lenenc_str(cname.encode())
                    d += _lenenc_str(cname.encode())
                    d += bytes([0x0C]) + struct.pack("<HIBHB", cs, 255, tb,
                                                     0, 0) + b"\x00\x00"
                    conn.sendall(self._packet(seq, d))
                    seq += 1
                if not self.deprecate_eof:
                    # classic protocol: EOF packet closes the column block
                    conn.sendall(self._packet(seq, b"\xfe\x00\x00\x02\x00"))
                    seq += 1
                for row in rows:
                    body = b""
                    for v in row:
                        if v is None:
                            body += b"\xfb"
                        else:
                            body += _lenenc_str(v.encode("latin-1"))
                    conn.sendall(self._packet(seq, body))
                    seq += 1
                # terminator: OK-as-EOF (DEPRECATE_EOF) or classic EOF;
                # a real OK may carry an info string of any length
                term = b"\xfe\x00\x00\x02\x00"
                if self.deprecate_eof:
                    term += b"\x00\x00" + self.ok_info
                conn.sendall(self._packet(seq, term))
        except (ConnectionError, OSError):
            conn.close()


@pytest.fixture()
def my():
    srv = MockMySql()
    srv.start()
    yield srv
    srv.stop()


def test_scramble_and_lenenc_pins():
    """Spec pins independent of the mock: the Native41 scramble formula
    and length-encoded integer boundaries."""
    h1 = hashlib.sha1(b"mypw").digest()
    h2 = hashlib.sha1(h1).digest()
    h3 = hashlib.sha1(NONCE + h2).digest()
    assert native_password_scramble("mypw", NONCE) == bytes(
        a ^ b for a, b in zip(h1, h3))
    assert native_password_scramble("", NONCE) == b""
    assert _lenenc(b"\xfa", 0) == (250, 1)
    assert _lenenc(b"\xfb", 0) == (None, 1)  # NULL marker
    assert _lenenc(b"\xfc\x2c\x01", 0) == (300, 3)
    assert _lenenc(b"\xfd\x01\x00\x01", 0) == (65537, 4)


def test_mysql_client_auth_and_query(my):
    c = MySqlClient("127.0.0.1", my.port, user=USER, password=PASSWORD,
                    database=DB)
    cols, rows = c.query("SELECT * FROM obs")
    c.close()
    assert [x[0] for x in cols] == ["id", "name", "v", "d", "raw"]
    assert rows[0][0] == 1 and rows[0][2] == 1.5
    assert str(rows[0][3]) == "2024-05-06"
    assert rows[0][4] == b"\x01\x02\xff"  # raw bytes, NOT a UTF-8 roundtrip
    assert rows[2] == [None] * 5


def test_mysql_client_bad_password(my):
    with pytest.raises(MySqlError, match="Access denied"):
        MySqlClient("127.0.0.1", my.port, user=USER, password="nope",
                    database=DB)


def test_mysql_external_table_end_to_end(spark, tmp_path, my):
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql(
        f"CREATE EXTERNAL TABLE myobs STORED AS MYSQL LOCATION 'obs' "
        f"OPTIONS ('host' '127.0.0.1', 'port' '{my.port}', "
        f"'user' '{USER}', 'password' '{PASSWORD}', 'database' '{DB}')"
    )
    raw = open(eng.catalog.file).read()
    assert PASSWORD not in raw
    out = eng.sql(
        "SELECT name FROM myobs WHERE v > 0 ORDER BY id").collect()
    assert [r.name for r in out] == ["alpha"]
    schema = dict(eng.sql("SELECT * FROM myobs LIMIT 0").dtypes)
    assert schema["id"] == "bigint" and schema["raw"] == "binary"


def test_mysql_classic_eof_server():
    """A server WITHOUT CLIENT_DEPRECATE_EOF (MariaDB, MySQL < 5.7.5)
    sends classic EOF packets; the client must negotiate down and still
    read every row instead of silently returning an empty resultset."""
    srv = MockMySql(deprecate_eof=False)
    srv.start()
    try:
        c = MySqlClient("127.0.0.1", srv.port, user=USER, password=PASSWORD,
                        database=DB)
        assert c._deprecate_eof is False  # negotiated down
        _cols, rows = c.query("SELECT * FROM obs")
        c.close()
        assert len(rows) == 3 and rows[0][1] == "alpha"
    finally:
        srv.stop()


def test_mysql_long_ok_terminator_with_info_string():
    """Round-5 review (low): a DEPRECATE_EOF OK terminator carrying a
    session info string (> 8 bytes total) must end the resultset, not
    be misparsed as a data row. Spec rule: first byte 0xFE + packet
    length < 0xFFFFFF = OK terminator."""
    srv = MockMySql(ok_info=b"Rows matched: 3  Changed: 0  Warnings: 0")
    srv.start()
    try:
        c = MySqlClient("127.0.0.1", srv.port, user=USER, password=PASSWORD,
                        database=DB)
        _cols, rows = c.query("SELECT * FROM obs")
        c.close()
        # exactly the 3 data rows — no phantom row from the OK packet
        assert len(rows) == 3 and rows[0][1] == "alpha"
    finally:
        srv.stop()


def test_mysql_query_stream_is_lazy_and_reusable(my):
    import types

    c = MySqlClient("127.0.0.1", my.port, user=USER, password=PASSWORD,
                    database=DB)
    cols, rows = c.query_stream("SELECT * FROM obs")
    assert isinstance(rows, types.GeneratorType)
    assert next(rows)[1] == "alpha"
    list(rows)  # drain to ReadyForQuery-equivalent state
    _c2, rows2 = c.query_stream("SELECT * FROM obs")
    assert len(list(rows2)) == 3
    c.close()


# -------------------------------------------- r11 decoder-review findings


def test_auth_with_trailing_zero_scramble_bytes():
    """r11 review M1: the client rstripped ALL trailing 0x00 from the
    scramble — but scramble bytes are random, so one connect in ~256
    carried a legitimate trailing zero and failed auth with Access
    denied. The nonce is now taken by exact length."""
    nonce = bytes(range(1, 19)) + b"\x00\x00"  # last TWO bytes are zero
    srv = MockMySql(nonce=nonce)
    srv.start()
    try:
        c = MySqlClient("127.0.0.1", srv.port, user=USER,
                        password=PASSWORD, database=DB)
        cols, rows = c.query("SELECT * FROM obs")
        assert len(rows) == 3
        c.close()
    finally:
        srv.stop()


def test_zero_dates_read_as_null():
    """r11 review M8: MySQL zero dates ('0000-00-00') crashed
    fromisoformat; they mean 'no value' and read as NULL, the standard
    connector contract."""
    from beacon_spark.sources.mysqllite import _parse_value

    assert _parse_value(b"0000-00-00", 0x0A, 0x21) is None
    assert _parse_value(b"0000-00-00 00:00:00", 0x0C, 0x21) is None
    assert str(_parse_value(b"2024-05-06", 0x0A, 0x21)) == "2024-05-06"


def _my_opts(port: int) -> dict:
    return {"host": "127.0.0.1", "port": str(port), "user": USER,
            "password": PASSWORD, "database": DB}


def test_dsl_mysql_read_is_the_live_scan(spark, tmp_path, my):
    """A DSL ``{"mysql": …}`` read plans the live ``beacon_sqldb`` scan:
    the predicate runs in the database (the mock applies the pushed
    WHERE; the local plan has no Filter left to apply it)."""
    import re as _re

    eng = Engine(spark, str(tmp_path))
    out = eng.query({"select": ["name"],
                     "from": {"mysql": {"paths": ["obs"],
                                        "options": _my_opts(my.port)}},
                     "filter": {"column": "v", "gt": 0}})
    assert [r.name for r in out.collect()] == ["alpha"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "beacon_sqldb" in plan, plan
    assert not _re.search(r"\bFilter \(", plan), plan


def test_mysql_query_location_reads(spark, tmp_path, my):
    """A WITH-headed location reads as a derived table, through the DSL
    and through CREATE EXTERNAL TABLE."""
    eng = Engine(spark, str(tmp_path))
    loc = "WITH q AS (SELECT * FROM obs) SELECT * FROM q"
    out = eng.query({"select": ["name"],
                     "from": {"mysql": {"paths": [loc],
                                        "options": _my_opts(my.port)}},
                     "filter": {"column": "v", "gt": 0}})
    assert [r.name for r in out.collect()] == ["alpha"]
    eng.sql(
        f"CREATE EXTERNAL TABLE wq STORED AS MYSQL LOCATION '{loc}' "
        f"OPTIONS ('host' '127.0.0.1', 'port' '{my.port}', "
        f"'user' '{USER}', 'password' '{PASSWORD}', 'database' '{DB}')")
    assert eng.sql("SELECT count(*) AS n FROM wq").collect()[0].n == 3
