"""PostgreSQL wire-protocol client (sources/pglite.py; reference
beacon-db/beacon-sql-databases). The mock server below speaks the
documented v3 server side, and the wire-format tests pin exact bytes
from the PostgreSQL protocol spec — so the client interoperates with a
real server, not just with this mock."""

import hashlib
import socket
import struct
import threading

import pytest

from beacon_spark.engine import Engine
from beacon_spark.sources.pglite import (
    OID_TO_SPARK,
    PgClient,
    PgError,
    _parse_value,
)

USER, PASSWORD, DB = "beacon", "pgpw", "lake"
SALT = b"\x01\x02\x03\x04"

# (name, oid, values-as-text)
TABLE = {
    "obs": (
        [("id", 20), ("name", 25), ("v", 701), ("ok", 16),
         ("d", 1082), ("ts", 1114), ("blob", 17)],
        [
            ["1", "alpha", "1.5", "t", "2024-05-06",
             "2024-01-02 03:04:05", "\\x0102ff"],
            ["2", "beta", "-0.25", "f", "2024-05-07",
             "2024-01-02 03:04:06.500000", None],
            [None, None, None, None, None, None, None],
        ],
    ),
}


def apply_where(sql: str, colnames: list[str], rows: list[list]):
    """Evaluate the pushed-down WHERE conjuncts against the fixture's
    text rows — consumed filters are NOT re-checked by Spark, so the
    mock must honor them. Unknown conjunct shapes raise (a silent
    superset would hide wrong pushdown)."""
    import re as _re

    m = _re.search(r"(?is)\swhere\s+(.*)$", sql)
    if not m:
        return rows
    conjs = _re.findall(r"\(([^()]+)\)", m.group(1))

    def lit_val(txt):
        txt = txt.strip()
        if txt.startswith("'"):
            return txt[1:-1].replace("''", "'")
        if txt in ("TRUE", "FALSE"):
            return txt == "TRUE"
        return float(txt)

    out = []
    for row in rows:
        keep = True
        for c in conjs:
            c = c.strip()
            mm = _re.match(r'^["`](\w+)["`]\s*(>=|<=|=|>|<)\s*(.+)$', c)
            nn = _re.match(r'^["`](\w+)["`]\s+IS\s+(NOT\s+)?NULL$', c, _re.I)
            if nn:
                idx = colnames.index(nn.group(1))
                keep = (row[idx] is None) == (nn.group(2) is None)
            elif mm:
                name, op, lit = mm.groups()
                idx = colnames.index(name)
                raw = row[idx]
                if raw is None:
                    keep = False
                else:
                    want = lit_val(lit)
                    if isinstance(want, bool):
                        have = raw in ("t", "true", "1", "TRUE")
                    elif isinstance(want, str):
                        have = raw
                    else:
                        have = float(raw)
                    keep = {"=": have == want, ">": have > want,
                            "<": have < want, ">=": have >= want,
                            "<=": have <= want}[op]
            else:
                raise AssertionError(f"mock cannot evaluate conjunct {c!r}")
            if not keep:
                break
        if keep:
            out.append(row)
    return out


class MockPg(threading.Thread):
    """v3 server: md5 auth then simple-query over the TABLE fixture."""

    def __init__(self, require_md5=True):
        super().__init__(daemon=True)
        self._srv = socket.socket()
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(4)
        self.port = self._srv.getsockname()[1]
        self.require_md5 = require_md5
        self.queries: list[str] = []

    @staticmethod
    def _msg(tag: bytes, payload: bytes) -> bytes:
        return tag + struct.pack("!I", len(payload) + 4) + payload

    def _error(self, conn, text):
        conn.sendall(self._msg(
            b"E", b"SERROR\x00C42601\x00M" + text.encode() + b"\x00\x00"))
        conn.sendall(self._msg(b"Z", b"I"))

    def run(self):
        while True:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(conn,),
                             daemon=True).start()

    @staticmethod
    def _read(f, n):
        buf = f.read(n)
        if len(buf) < n:
            raise ConnectionError
        return buf

    def _serve(self, conn):
        f = conn.makefile("rb")
        try:
            (ln,) = struct.unpack("!I", self._read(f, 4))
            startup = self._read(f, ln - 4)
            (proto,) = struct.unpack("!I", startup[:4])
            assert proto == 196608
            kv = startup[4:].split(b"\x00")
            params = dict(zip(kv[::2], kv[1::2]))
            assert params[b"user"].decode() == USER
            if self.require_md5:
                conn.sendall(self._msg(b"R", struct.pack("!I", 5) + SALT))
                tag = self._read(f, 1)
                (ln,) = struct.unpack("!I", self._read(f, 4))
                pw = self._read(f, ln - 4).rstrip(b"\x00")
                inner = hashlib.md5(
                    PASSWORD.encode() + USER.encode()).hexdigest()
                want = b"md5" + hashlib.md5(
                    inner.encode() + SALT).hexdigest().encode()
                if tag != b"p" or pw != want:
                    self._error(conn, "password authentication failed")
                    conn.close()
                    return
            conn.sendall(self._msg(b"R", struct.pack("!I", 0)))
            conn.sendall(self._msg(
                b"S", b"server_version\x0016.0-mock\x00"))
            conn.sendall(self._msg(b"K", struct.pack("!II", 7, 42)))
            conn.sendall(self._msg(b"Z", b"I"))
            while True:
                tag = self._read(f, 1)
                (ln,) = struct.unpack("!I", self._read(f, 4))
                payload = self._read(f, ln - 4)
                if tag == b"X":
                    conn.close()
                    return
                if tag != b"Q":
                    self._error(conn, f"unsupported message {tag!r}")
                    continue
                sql = payload.rstrip(b"\x00").decode()
                self.queries.append(sql)
                m = __import__("re").search(r"(?i)from\s+([\w.]+)", sql)
                name = (m.group(1) if m else "").strip('"').lower()
                if name not in TABLE:
                    self._error(conn, f'relation "{name}" does not exist')
                    continue
                cols, rows = TABLE[name]
                rows = apply_where(sql, [c for c, _ in cols], rows)
                desc = struct.pack("!H", len(cols))
                for i, (cname, oid) in enumerate(cols):
                    desc += cname.encode() + b"\x00"
                    desc += struct.pack("!IhIhih", 0, i + 1, oid, -1, -1, 0)
                conn.sendall(self._msg(b"T", desc))
                for row in rows:
                    body = struct.pack("!H", len(row))
                    for v in row:
                        if v is None:
                            body += struct.pack("!i", -1)
                        else:
                            b = v.encode()
                            body += struct.pack("!i", len(b)) + b
                    conn.sendall(self._msg(b"D", body))
                conn.sendall(self._msg(
                    b"C", f"SELECT {len(rows)}\x00".encode()))
                conn.sendall(self._msg(b"Z", b"I"))
        except (ConnectionError, OSError, AssertionError):
            conn.close()

    def stop(self):
        self._srv.close()


@pytest.fixture()
def pg():
    srv = MockPg()
    srv.start()
    yield srv
    srv.stop()


def test_wire_format_pins():
    """Exact bytes per the PostgreSQL protocol spec (independent of the
    mock): startup message layout and the md5 digest formula."""
    body = struct.pack("!I", 196608)
    body += b"user\x00beacon\x00database\x00lake\x00\x00"
    assert body[:4] == b"\x00\x03\x00\x00"  # protocol 3.0
    # md5 concat formula from the spec's AuthenticationMD5Password docs
    inner = hashlib.md5(b"pgpw" + b"beacon").hexdigest()
    digest = "md5" + hashlib.md5(inner.encode() + SALT).hexdigest()
    assert digest == "md5" + hashlib.md5(
        (hashlib.md5(b"pgpwbeacon").hexdigest()).encode() + SALT
    ).hexdigest()
    # text-value decoding per type OID
    assert _parse_value("t", 16) is True
    assert _parse_value("42", 20) == 42
    assert _parse_value("\\x0a0b", 17) == b"\x0a\x0b"
    assert str(_parse_value("2024-05-06", 1082)) == "2024-05-06"


def test_client_md5_auth_and_query(pg):
    client = PgClient("127.0.0.1", pg.port, user=USER, password=PASSWORD,
                      database=DB)
    cols, rows = client.query("SELECT * FROM obs")
    client.close()
    assert [c[0] for c in cols] == ["id", "name", "v", "ok", "d", "ts", "blob"]
    assert rows[0][0] == 1 and rows[0][1] == "alpha" and rows[0][3] is True
    assert rows[0][6] == b"\x01\x02\xff"
    assert rows[1][2] == -0.25 and rows[1][6] is None
    assert rows[2] == [None] * 7


def test_client_rejects_bad_password(pg):
    with pytest.raises(PgError, match="authentication failed"):
        PgClient("127.0.0.1", pg.port, user=USER, password="wrong",
                 database=DB)


def test_client_surfaces_server_errors(pg):
    client = PgClient("127.0.0.1", pg.port, user=USER, password=PASSWORD,
                      database=DB)
    with pytest.raises(PgError, match="does not exist"):
        client.query("SELECT * FROM nope")
    # the connection stays usable after an error (ReadyForQuery resync)
    cols, rows = client.query("SELECT * FROM obs")
    assert len(rows) == 3
    client.close()


def test_external_postgres_table_end_to_end(spark, tmp_path, pg):
    """CREATE EXTERNAL TABLE ... STORED AS POSTGRES: DDL validates the
    connection eagerly, the password rides the secret store, and the
    table queries/joins like any other."""
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql(
        f"CREATE EXTERNAL TABLE pgobs STORED AS POSTGRES LOCATION 'obs' "
        f"OPTIONS ('host' '127.0.0.1', 'port' '{pg.port}', "
        f"'user' '{USER}', 'password' '{PASSWORD}', 'database' '{DB}')"
    )
    # password never lands in the catalog JSON in plaintext
    raw = open(eng.catalog.file).read()
    assert PASSWORD not in raw
    assert "__exttbl_pgobs" in raw

    out = eng.sql("SELECT name, v FROM pgobs WHERE ok ORDER BY id").collect()
    assert [(r.name, r.v) for r in out] == [("alpha", 1.5)]
    # schema mapping by OID
    schema = dict(eng.sql("SELECT * FROM pgobs LIMIT 0").dtypes)
    assert schema["id"] == "bigint" and schema["ok"] == "boolean"
    assert schema["blob"] == "binary" and schema["d"] == "date"

    # a fresh engine over the same catalog reconnects via the secret
    eng2 = Engine(spark, datasets_root=str(tmp_path))
    assert eng2.sql("SELECT count(*) AS n FROM pgobs").collect()[0].n == 3

    eng2.sql("DROP TABLE pgobs")
    cat = open(eng2.catalog.file).read()
    assert "__exttbl_pgobs" not in cat


def test_pg_table_is_live_and_pushes_filters(spark, tmp_path, pg):
    """DB external tables are LIVE lazy scans (no snapshot): pushed
    predicates reach the database's WHERE, and remote changes are
    visible without re-registration (the reference's federated-provider
    semantics)."""
    import re as _re

    eng = Engine(spark, tmp_path and str(tmp_path))
    eng.sql(
        f"CREATE EXTERNAL TABLE liveobs STORED AS POSTGRES LOCATION 'obs' "
        f"OPTIONS ('host' '127.0.0.1', 'port' '{pg.port}', "
        f"'user' '{USER}', 'password' '{PASSWORD}', 'database' '{DB}')"
    )
    out = eng.sql("SELECT name FROM liveobs WHERE v > 0")
    assert [r.name for r in out.collect()] == ["alpha"]
    # the predicate executed in the DATABASE: it appears in a recorded
    # remote statement and the local plan has no Filter node
    pushed = [q for q in pg.queries if "WHERE" in q and '"v" > 0' in q]
    assert pushed, pg.queries
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not _re.search(r"\bFilter \(", plan), plan
    # LIVE: a remote change is visible on the next query, same engine
    TABLE["obs"][1].append(
        ["9", "gamma", "7.5", "t", "2024-06-01",
         "2024-01-03 00:00:00", None])
    try:
        names = {r.name for r in
                 eng.sql("SELECT name FROM liveobs WHERE v > 0").collect()}
        assert names == {"alpha", "gamma"}
    finally:
        TABLE["obs"][1].pop()


def test_pushed_value_quoting_rejects_nonfinite():
    """Round-5 review (low): repr(nan/inf) renders bare tokens — invalid
    SQL in PG/MySQL. Non-finite comparison values must hand the filter
    back to Spark (None) instead of corrupting the remote query."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from beacon_spark.server.remote_datasource import (
        _filter_to_sql, _quote_value,
    )

    assert _quote_value(float("nan")) is None
    assert _quote_value(float("inf")) is None
    assert _quote_value(float("-inf")) is None
    assert _quote_value(1.5) == "1.5"
    assert _quote_value(True) == "TRUE"
    # the enclosing filter degrades to un-pushed, not to broken SQL
    assert _filter_to_sql(
        GreaterThan(attribute=("v",), value=float("inf")), "postgres"
    ) is None
    assert _filter_to_sql(
        EqualTo(attribute=("v",), value=2.0), "postgres"
    ) == '("v" = 2.0)'


def test_pg_query_stream_is_lazy_and_reusable(pg):
    """query_stream decodes rows as the resultset streams (O(row)
    executor memory on the federated path); after a full drain the
    connection serves the next query."""
    import types

    c = PgClient("127.0.0.1", pg.port, user=USER, password=PASSWORD,
                 database=DB)
    cols, rows = c.query_stream("SELECT * FROM obs")
    assert isinstance(rows, types.GeneratorType)
    first = next(rows)
    assert first[1] == "alpha"
    remaining = list(rows)  # drain
    cols2, rows2 = c.query_stream('SELECT * FROM obs WHERE ("v" > 0)')
    assert [r[1] for r in rows2] == ["alpha"]
    c.close()
    assert len(remaining) >= 1


def _pg_opts(port: int, **extra) -> dict:
    return {"host": "127.0.0.1", "port": str(port), "user": USER,
            "password": PASSWORD, "database": DB, **extra}


def test_dsl_postgres_read_is_the_live_scan(spark, tmp_path, pg):
    """A DSL ``{"postgres": …}`` read plans the same live ``beacon_sqldb``
    scan as a catalog table: the predicate executes in the database (it
    is in a recorded remote statement and the local plan has no Filter),
    and the schema probe (LIMIT 0) runs once per from-spec."""
    import re as _re

    eng = Engine(spark, str(tmp_path))
    body = {"select": ["name"],
            "from": {"postgres": {"paths": ["obs"],
                                  "options": _pg_opts(pg.port)}},
            "filter": {"column": "v", "gt": 0}}
    out = eng.query(body)
    assert [r.name for r in out.collect()] == ["alpha"]
    assert [q for q in pg.queries if "WHERE" in q and '"v" > 0' in q]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "beacon_sqldb" in plan, plan
    assert not _re.search(r"\bFilter \(", plan), plan
    assert [r.name for r in eng.query(body).collect()] == ["alpha"]
    assert sum("LIMIT 0" in q for q in pg.queries) == 1, pg.queries


def test_postgres_query_location_reads(spark, tmp_path, pg):
    """A location that is a query (here a WITH head) reads as a derived
    table, through the DSL and through CREATE EXTERNAL TABLE."""
    eng = Engine(spark, str(tmp_path))
    loc = "WITH q AS (SELECT * FROM obs) SELECT * FROM q"
    out = eng.query({"select": ["name"],
                     "from": {"postgres": {"paths": [loc],
                                           "options": _pg_opts(pg.port)}},
                     "filter": {"column": "v", "gt": 0}})
    assert [r.name for r in out.collect()] == ["alpha"]
    eng.sql(
        f"CREATE EXTERNAL TABLE wq STORED AS POSTGRES LOCATION '{loc}' "
        f"OPTIONS ('host' '127.0.0.1', 'port' '{pg.port}', "
        f"'user' '{USER}', 'password' '{PASSWORD}', 'database' '{DB}')")
    assert eng.sql("SELECT count(*) AS n FROM wq").collect()[0].n == 3


def test_postgres_sslmode_require_fails_before_connecting(spark, tmp_path):
    """sslmode=require is refused before any connection: nothing listens
    on the port, so a connection attempt would raise a connection error
    instead of NotImplementedError."""
    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()
    eng = Engine(spark, str(tmp_path))
    with pytest.raises(NotImplementedError, match="sslmode"):
        eng.sql(
            f"CREATE EXTERNAL TABLE s STORED AS POSTGRES LOCATION 'obs' "
            f"OPTIONS ('host' '127.0.0.1', 'port' '{port}', "
            f"'user' '{USER}', 'sslmode' 'require')")
    with pytest.raises(NotImplementedError, match="sslmode"):
        eng.query({"select": ["*"], "from": {"postgres": {
            "paths": ["obs"], "options": _pg_opts(port, sslmode="require")}}})
