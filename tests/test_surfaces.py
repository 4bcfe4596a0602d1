"""One statement runner under every surface.

HTTP (Arrow, JSON, file download), Flight, FlightSQL, MCP and the
embedded client all execute a statement through ``Engine.run``/``Run``,
so each completed statement leaves exactly one
``beacon.system.query_metrics`` row naming its caller, and a failed one
leaves none. The Arrow surfaces share one spool, so result shapes Spark
cannot spool as-is (duplicate output names, VARIANT) are pinned here
too.
"""

from __future__ import annotations

import base64
import json
import logging
import urllib.error
import urllib.request
import uuid

import pyarrow as pa
import pyarrow.flight as fl
import pyarrow.parquet as pq
import pytest

from beacon_spark.client import Connection
from beacon_spark.engine import Engine
from beacon_spark.server import BeaconFlightServer
from beacon_spark.server.flightsql import encode_any, encode_string_msg
from beacon_spark.server.http import BeaconHttpServer

USER = "surfer"
BASIC = "Basic " + base64.b64encode(f"{USER}:pw".encode()).decode()


@pytest.fixture(scope="module")
def servers(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("surfaces"))
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE three AS SELECT id FROM range(3)")
    # file output is super-user-only, so the caller is a named super-user
    eng.sql(f"CREATE USER {USER} WITH PASSWORD 'pw' SUPERUSER")
    hs = BeaconHttpServer(eng, port=0)
    fs = BeaconFlightServer(eng, port=0)
    http = f"http://127.0.0.1:{hs.serve_background()}"
    grpc = f"grpc://127.0.0.1:{fs.serve_background()}"
    yield eng, http, grpc
    hs.shutdown()
    fs.shutdown()


def _post(url: str, body: dict):
    req = urllib.request.Request(
        url, data=json.dumps(body).encode(), method="POST",
        headers={"Content-Type": "application/json", "Authorization": BASIC})
    with urllib.request.urlopen(req) as r:
        return r.read(), r.headers.get("x-beacon-query-id")


def _flight_options():
    return fl.FlightCallOptions(
        headers=[(b"authorization", BASIC.encode())])


# each surface runs `sql` as USER, checks it returned 3 rows, and answers
# the query id it reported (None where the surface reports none); a
# failing statement raises


def http_arrow(eng, http, grpc, sql):
    body, qid = _post(f"{http}/api/query", {"sql": sql})
    assert pa.ipc.open_stream(body).read_all().num_rows == 3
    return qid


def http_json(eng, http, grpc, sql):
    body, qid = _post(f"{http}/api/query", {"sql": sql, "format": "json"})
    assert len(json.loads(body)) == 3
    return qid


def http_output(eng, http, grpc, sql):
    body, qid = _post(f"{http}/api/query",
                      {"sql": sql, "output": {"format": "parquet"}})
    assert pq.read_table(pa.BufferReader(body)).num_rows == 3
    return qid


def flight_json(eng, http, grpc, sql):
    client = fl.FlightClient(grpc)
    ticket = fl.Ticket(json.dumps({"sql": sql}).encode())
    assert client.do_get(ticket, _flight_options()).read_all().num_rows == 3


def flightsql_statement(eng, http, grpc, sql):
    client = fl.FlightClient(grpc)
    desc = fl.FlightDescriptor.for_command(
        encode_any("CommandStatementQuery", encode_string_msg(1, sql)))
    info = client.get_flight_info(desc, _flight_options())
    reader = client.do_get(info.endpoints[0].ticket, _flight_options())
    assert reader.read_all().num_rows == 3


def mcp_run_sql(eng, http, grpc, sql):
    body, _ = _post(f"{http}/mcp", {
        "jsonrpc": "2.0", "id": 1, "method": "tools/call",
        "params": {"name": "run_sql", "arguments": {"sql": sql}}})
    result = json.loads(body)["result"]
    if result["isError"]:
        raise RuntimeError(result["content"][0]["text"])
    assert len(json.loads(result["content"][0]["text"])) == 3


def client_sql_fetchall(eng, http, grpc, sql):
    assert len(Connection(eng, user=USER).sql(sql).fetchall()) == 3


def client_execute_fetchall(eng, http, grpc, sql):
    assert len(Connection(eng, user=USER).execute(sql).fetchall()) == 3


def client_record_batch(eng, http, grpc, sql):
    reader = Connection(eng, user=USER).sql(sql).record_batch()
    assert reader.read_all().num_rows == 3


SURFACES = [http_arrow, http_json, http_output, flight_json,
            flightsql_statement, mcp_run_sql, client_sql_fetchall,
            client_execute_fetchall, client_record_batch]


def _metrics_rows(eng, statement: str) -> list:
    # the super-user view every surface's row lands in
    rows = eng.sql("SELECT * FROM beacon.system.query_metrics").collect()
    return [r for r in rows if r.query == statement]


@pytest.mark.parametrize("surface", SURFACES, ids=lambda f: f.__name__)
def test_every_surface_records_one_metrics_row(servers, surface):
    eng, http, grpc = servers
    tag = uuid.uuid4().hex
    sql = f"SELECT id, '{tag}' AS tag FROM three"
    qid = surface(eng, http, grpc, sql)
    rows = _metrics_rows(eng, sql)
    assert len(rows) == 1, rows
    assert rows[0].result_num_rows == 3
    assert rows[0].username == USER
    assert rows[0].node_metrics
    if qid is not None:
        assert rows[0].query_id == qid
    # fails while executing, after compiling: no row
    bad = f"SELECT assert_true(id < 0, '{tag}') AS ok FROM three"
    with pytest.raises(Exception):
        surface(eng, http, grpc, bad)
    assert _metrics_rows(eng, bad) == []


@pytest.mark.parametrize("second", ["id", "ID"])
def test_duplicate_output_names_reach_arrow(servers, second):
    """Arrow allows duplicate field names; Spark's parquet writer does
    not (case-insensitively), so the spool writes positional names and
    renames back."""
    eng, http, _ = servers
    q = f"SELECT a.id, b.id AS {second} FROM three a JOIN three b ON a.id = b.id"
    con = Connection(eng)
    want = sorted(con.sql(q).fetchall())
    assert want == [(0, 0), (1, 1), (2, 2)]
    body, _ = _post(f"{http}/api/query", {"sql": q})
    for tbl in (con.sql(q).arrow(), pa.ipc.open_stream(body).read_all()):
        assert tbl.column_names == ["id", second]
        assert sorted(zip(*(c.to_pylist() for c in tbl.columns))) == want


def test_variant_result_falls_back_with_warning(servers, caplog):
    eng, _, _ = servers
    con = Connection(eng)
    with caplog.at_level(logging.WARNING, logger="beacon_spark.outputs"):
        tbl = con.sql("""SELECT parse_json('{"a":1}') AS v""").arrow()
    assert tbl.num_rows == 1
    warned = [r.getMessage() for r in caplog.records
              if r.name == "beacon_spark.outputs"
              and r.levelno == logging.WARNING]
    assert len(warned) == 1 and "iter_arrow_batches" in warned[0]


def test_zero_column_result_streams(servers):
    """A statement whose result has no columns (Spark DDL) cannot be
    written as parquet; it streams through the driver-side fallback."""
    eng, http, _ = servers
    body, qid = _post(f"{http}/api/query",
                      {"sql": "CREATE TEMPORARY VIEW zero_cols AS SELECT 1"})
    assert pa.ipc.open_stream(body).read_all().num_columns == 0
    assert eng.metrics.read(qid)["query_id"] == qid


def test_metrics_endpoint_reports_store_failure(servers, monkeypatch):
    """A broken store answers with its error, never 'no metrics' (404)."""
    eng, http, _ = servers

    def broken(query_id):
        raise RuntimeError("metrics store down")

    monkeypatch.setattr(eng.metrics, "read", broken)
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(f"{http}/api/query/metrics/some-id")
    assert e.value.code == 400
    assert "metrics store down" in e.value.read().decode()
