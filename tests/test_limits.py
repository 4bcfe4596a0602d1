"""Resource limits + streamed results on the server surface
(server/limits.py, the r4-verdict items 2/3 and the ADVICE fixes;
reference: beacon-db/beacon-core/tests/resource_limits.rs and the
RecordBatch streaming in beacon-core/src/runtime.rs:159-246)."""

import json
import numpy as np
import urllib.error
import urllib.request

import pytest

from beacon_spark.engine import Engine
from beacon_spark.server.limits import QueryLimits, ResourceLimitExceeded


@pytest.fixture()
def served_http(spark, tmp_path):
    from beacon_spark.server.http import BeaconHttpServer

    root = str(tmp_path / "root")
    import os

    os.makedirs(root)
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE lim AS SELECT id, CAST(id AS DOUBLE) AS v, "
            "TIMESTAMP'2024-01-02 03:04:05' AS ts FROM range(500)")
    hs = BeaconHttpServer(eng, port=0, limits=QueryLimits(max_rows=100))
    port = hs.serve_background()
    yield eng, f"http://127.0.0.1:{port}"
    hs.shutdown()


def _post(base, obj):
    req = urllib.request.Request(
        f"{base}/api/query", data=json.dumps(obj).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req) as r:
        return r.read(), r.headers["Content-Type"]


# ------------------------------------------------------------ limits


def test_collect_rows_over_limit(spark):
    df = spark.range(50)
    with pytest.raises(ResourceLimitExceeded, match="row limit"):
        QueryLimits(max_rows=10).collect_rows(df)
    assert len(QueryLimits(max_rows=50).collect_rows(df)) == 50


def test_guard_batches_byte_limit(spark):
    import pyarrow as pa

    limits = QueryLimits(max_rows=None, max_bytes=64)
    batches = [pa.RecordBatch.from_pylist([{"a": i} for i in range(20)])]
    with pytest.raises(ResourceLimitExceeded, match="byte limit"):
        list(limits.guard_batches(iter(batches)))


def test_http_json_over_limit_is_clean_400(served_http):
    _eng, base = served_http
    try:
        _post(base, {"sql": "SELECT * FROM lim", "format": "json"})
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert b"row limit" in e.read()
    # under the cap: fine
    body, _ = _post(base, {
        "sql": "SELECT * FROM lim LIMIT 5", "format": "json"})
    assert len(json.loads(body)) == 5


def test_http_json_serializes_temporal(served_http):
    """ADVICE fix: timestamp/date/decimal columns must not 400 the JSON
    path (json.dumps needed default=str)."""
    _eng, base = served_http
    body, ctype = _post(base, {
        "sql": "SELECT ts, DATE'2024-05-06' AS d, CAST(1.5 AS DECIMAL(5,2)) "
               "AS dec FROM lim LIMIT 1", "format": "json"})
    assert ctype == "application/json"
    row = json.loads(body)[0]
    assert row["d"] == "2024-05-06" and "2024-01-02" in row["ts"]


def test_http_arrow_is_chunk_streamed(served_http):
    import pyarrow as pa

    _eng, base = served_http
    req = urllib.request.Request(
        f"{base}/api/query", data=json.dumps(
            {"sql": "SELECT id FROM lim ORDER BY id LIMIT 50"}).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req) as r:
        assert r.headers.get("Content-Length") is None  # chunked
        t = pa.ipc.open_stream(r.read()).read_all()
    assert t.column("id").to_pylist() == list(range(50))


def test_flight_over_limit_is_flight_error(spark, tmp_path):
    import pyarrow.flight as fl

    from beacon_spark.server import BeaconFlightServer

    import os

    root = str(tmp_path / "r")
    os.makedirs(root)
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE flim AS SELECT id FROM range(500)")
    server = BeaconFlightServer(eng, port=0, limits=QueryLimits(max_rows=100))
    port = server.serve_background()
    try:
        import pyarrow as pa

        client = fl.FlightClient(f"grpc://127.0.0.1:{port}")
        # surfaces through gRPC as a clean error (ArrowInvalid carrying
        # the limit message in the trailers), never a server OOM
        with pytest.raises((fl.FlightError, pa.ArrowInvalid), match="row limit"):
            client.do_get(fl.Ticket(
                json.dumps({"sql": "SELECT * FROM flim"}).encode())).read_all()
        ok = client.do_get(fl.Ticket(json.dumps(
            {"sql": "SELECT * FROM flim LIMIT 20"}).encode())).read_all()
        assert ok.num_rows == 20
    finally:
        server.shutdown()


def test_time_guard_post_check(spark):
    """The watchdog firing inside the block surfaces as
    ResourceLimitExceeded even when no Spark job was running to
    interrupt at fire time."""
    import time

    limits = QueryLimits(timeout_seconds=0.05)
    with pytest.raises(ResourceLimitExceeded, match="time limit"):
        with limits.time_guard(spark):
            time.sleep(0.3)


def test_time_guard_reports_failing_tag_calls(caplog):
    """A session whose interruptTag/removeTag raise still trips the
    limit; each failing call is logged once per guard, not per retry."""
    import logging
    import time

    class Session:
        def addTag(self, tag):
            pass

        def interruptTag(self, tag):
            raise RuntimeError("interrupt down")

        def removeTag(self, tag):
            raise RuntimeError("remove down")

    logger = "beacon_spark.server.limits"
    with caplog.at_level(logging.WARNING, logger=logger):
        with pytest.raises(ResourceLimitExceeded, match="time limit"):
            with QueryLimits(timeout_seconds=0.05).time_guard(Session()):
                time.sleep(0.7)  # the watchdog retries every 0.25 s
    warned = [r.getMessage() for r in caplog.records if r.name == logger]
    assert sum("interruptTag" in m and "interrupt down" in m
               for m in warned) == 1
    assert sum("removeTag" in m and "remove down" in m for m in warned) == 1


# ------------------------------------------------------------ streaming


def test_export_path_never_full_collects(spark, tmp_path, monkeypatch):
    """The r4-verdict done-criterion: no single toArrow() of the full
    result on the export path — spy raises if anything calls it."""
    import pyarrow.parquet as pq
    from pyspark.sql import DataFrame

    from beacon_spark.outputs import write_arrow, write_parquet

    df = spark.range(1000).selectExpr("id", "id * 0.5 AS v")

    def boom(self):
        raise AssertionError("full-result toArrow() on the export path")

    monkeypatch.setattr(DataFrame, "toArrow", boom)
    p = str(tmp_path / "out.parquet")
    write_parquet(df, p, single=True)
    assert pq.read_table(p).num_rows == 1000
    a = str(tmp_path / "out.arrow")
    write_arrow(df, a)
    import pyarrow.ipc as pa_ipc

    with pa_ipc.open_file(a) as r:
        assert r.read_all().num_rows == 1000
    # r6-verdict items 1/2: single-file CSV and flat NetCDF stream too
    from beacon_spark.outputs import write_csv, write_netcdf

    c = str(tmp_path / "out.csv")
    write_csv(df, c, single=True)
    import csv as _csv

    with open(c) as f:
        rows = list(_csv.DictReader(f))
    assert len(rows) == 1000 and rows[5] == {"id": "5", "v": "2.5"}
    n = str(tmp_path / "out.nc")
    write_netcdf(df, n)
    from beacon_spark.sources.netcdf3 import read_netcdf3

    _dims, variables, _va, _ga = read_netcdf3(n)
    assert len(np.asarray(variables["id"][1])) == 1000
    assert float(np.asarray(variables["v"][1])[5]) == 2.5
    # r7-verdict item 3: the ND re-grid path streams too — spy active
    gdf = spark.range(100).selectExpr(
        "CAST(id % 10 AS INT) AS x", "CAST(id DIV 10 AS INT) AS y",
        "id * 1.5 AS val")
    g = str(tmp_path / "grid.nc")
    write_netcdf(gdf, g, dimension_columns=["x", "y"])
    dims_g, vars_g, _va, _ga = read_netcdf3(g)
    assert dims_g["x"] == 10 and dims_g["y"] == 10
    arr = np.asarray(vars_g["val"][1])
    assert arr.shape == (10, 10) and float(arr[3][2]) == 23 * 1.5
    # r13 (r12 verdict item 3): flat NetCDF-4 streams too — spy active,
    # no row cap, nullable + string + int64 columns through the spool
    from beacon_spark.outputs import write_output
    from beacon_spark.sources.hdf5lite import Hdf5Reader

    ndf = spark.range(1000).selectExpr(
        "id", "IF(id % 7 = 0, NULL, id * 2) AS maybe",
        "CONCAT('row-', id) AS label", "id + 5000000000 AS big")
    h5 = str(tmp_path / "out.h5")
    write_output(ndf, "netcdf4", h5)
    r = Hdf5Reader(h5)
    ids = r.read(r.root.datasets["id"])
    assert ids.dtype == np.int64 and len(ids) == 1000
    maybe = r.read(r.root.datasets["maybe"])
    assert maybe.dtype == np.float64  # nullable → NaN-double
    got = {int(i): m for i, m in zip(ids, maybe)}
    assert np.isnan(got[7]) and got[8] == 16.0
    lab = r.read(r.root.datasets["label"])
    assert lab[list(ids).index(42)] == b"row-42"
    big = r.read(r.root.datasets["big"])
    assert big.dtype == np.int64  # HDF5 holds int64 natively, no narrow
    assert int(big[list(ids).index(3)]) == 5000000003
    # r14 (r13 verdict item 1): the RE-GRIDDED NetCDF-4 shape streams
    # too — spy active, caps gone, merge-fill over the sorted spool
    from beacon_spark.sources.hdf5lite import read_hdf5_grid

    g4 = str(tmp_path / "grid.h5")
    write_output(gdf, "netcdf4", g4, dimension_columns=["x", "y"])
    dims4, vars4, _va4, _ga4 = read_hdf5_grid(g4)
    assert dims4["x"] == 10 and dims4["y"] == 10
    arr4 = np.asarray(vars4["val"][1][:])
    assert arr4.shape == (10, 10) and float(arr4[3][2]) == 23 * 1.5


def test_regrid_stream_buffers_bounded(spark, tmp_path, monkeypatch):
    """r14: the re-grid export never materializes a dense per-variable
    grid on the driver — every array reaching the stream writers is ≤
    the 1M-cell merge-fill buffer, for a grid far larger than the row
    count (here 16M cells from 5k rows; a dense grid would be one
    16M-element allocation per variable)."""
    import beacon_spark.outputs as out_mod
    from beacon_spark.sources.hdf5write import GridNc4StreamWriter
    from beacon_spark.sources.netcdf3 import GridStreamWriter

    seen: list[int] = []
    for cls in (GridNc4StreamWriter, GridStreamWriter):
        orig = cls.write_values

        def spy(self, name, arr, _orig=orig):
            seen.append(int(np.asarray(arr).shape[0]))
            return _orig(self, name, arr)
        monkeypatch.setattr(cls, "write_values", spy)

    df = spark.range(5000).selectExpr(
        "CAST(id % 4000 AS INT) AS x",
        "CAST((id * 97) % 4000 AS INT) AS y",
        "id * 0.5 AS v", "CONCAT('s', id % 13) AS s")
    for flavor, ext in (("netcdf4", "h5"), ("netcdf3", "nc")):
        seen.clear()
        p = str(tmp_path / f"g.{ext}")
        out_mod._write_netcdf_nd_streamed(df, p, ["x", "y"],
                                          flavor=flavor)
        assert seen, flavor
        assert max(seen) <= (1 << 20), (flavor, max(seen))


def test_iter_arrow_batches_preserves_order_and_types(spark):
    from beacon_spark.outputs import iter_arrow_batches

    df = spark.range(300).selectExpr(
        "id", "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts"
    ).orderBy("id", ascending=False)
    batches = list(iter_arrow_batches(df, max_chunksize=64))
    ids = [i for b in batches for i in b.column("id").to_pylist()]
    assert ids == list(range(299, -1, -1))
    # timestamps survive the spool as instants
    first_ts = batches[0].column("ts")[0].as_py()
    assert first_ts.second == 299 % 60


def test_iter_arrow_batches_void_fallback(spark):
    """Degenerate schemas parquet can't hold fall back cleanly."""
    from beacon_spark.outputs import iter_arrow_batches

    df = spark.sql("SELECT NULL AS nothing FROM range(3)")
    batches = list(iter_arrow_batches(df))
    assert sum(b.num_rows for b in batches) == 3


# ------------------------------------------------------------ readonly gates


def test_readonly_rejects_remote_query(spark, tmp_path):
    from beacon_spark.auth import WriteRefused

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE t AS SELECT 2 AS x")
    assert eng.sql("SELECT * FROM t WHERE x > 1",
                   read_only=True).collect()[0].x == 2
    with pytest.raises(WriteRefused, match="read-only"):
        eng.sql("SELECT * FROM remote_query('lake', 'DROP TABLE t')",
                read_only=True)
    with pytest.raises(WriteRefused, match="read-only"):
        eng.sql("WITH c AS (SELECT 1) INSERT INTO t SELECT *",
                read_only=True)
    # write keyword inside a literal is fine...
    assert eng.sql("SELECT 'DROP TABLE t' AS s",
                   read_only=True).collect()[0].s == "DROP TABLE t"
    # ...but remote_query is refused, though its payload is a literal
    with pytest.raises(WriteRefused, match="read-only"):
        eng.sql("SELECT 1 WHERE EXISTS (SELECT * FROM ReMoTe_QuErY('a','x'))",
                read_only=True)
    assert eng.sql("SELECT count(*) AS n FROM t").collect()[0].n == 1


def test_flight_info_rejects_ddl(spark, tmp_path):
    """ADVICE fix: get_flight_info must not EXECUTE non-idempotent
    statements while planning them."""
    import os

    import pyarrow.flight as fl

    from beacon_spark.server import BeaconFlightServer

    root = str(tmp_path / "r")
    os.makedirs(root)
    eng = Engine(spark, datasets_root=root)
    server = BeaconFlightServer(eng, port=0)
    port = server.serve_background()
    try:
        client = fl.FlightClient(f"grpc://127.0.0.1:{port}")
        desc = fl.FlightDescriptor.for_command(json.dumps(
            {"sql": "CREATE TABLE oops AS SELECT 1 AS x"}).encode())
        with pytest.raises(fl.FlightError, match="read-only"):
            client.get_flight_info(desc)
        # crucially: the DDL did NOT run
        assert "oops" not in eng.table_names()
    finally:
        server.shutdown()


def test_mcp_where_cannot_reach_unexposed_columns(spark, tmp_path):
    """ADVICE fix: a where predicate referencing an unexposed column (or
    smuggling a subquery) fails instead of leaking oracle-style."""
    import os

    from beacon_spark.server.http import BeaconHttpServer

    root = str(tmp_path / "r")
    os.makedirs(root)
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE sec AS SELECT id, id % 2 AS pub, "
            "id * 7 AS hidden FROM range(10)")
    eng.sql('SET EXTENSION \'mcp\' FOR sec TO '
            '\'{"enabled": true, "exposed_columns": ["id", "pub"]}\'')
    hs = BeaconHttpServer(eng, port=0)
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}/mcp"
    try:
        def call(args):
            body = {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                    "params": {"name": "query_sec", "arguments": args}}
            req = urllib.request.Request(
                base, data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"}, method="POST")
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())["result"]

        # plain predicate on an exposed column works
        r = call({"where": "pub = 1", "select": ["id"]})
        assert not r["isError"]
        assert len(json.loads(r["content"][0]["text"])) == 5
        # unexposed column in the predicate -> analysis failure, not data
        r = call({"where": "hidden > 1"})
        assert r["isError"]
        # subqueries (the oracle-leak vector) are rejected outright
        r = call({"where": "pub IN (SELECT 1)"})
        assert r["isError"]
        r = call({"where": "true OR remote_query('a','b') IS NULL"})
        assert r["isError"]
    finally:
        hs.shutdown()


def test_attach_token_via_secret_store(spark, tmp_path):
    """ADVICE fix: ATTACH ... WITH ('token' ...) must not persist the
    bearer token in plaintext in the catalog JSON."""
    import os

    from beacon_spark.server import BeaconFlightServer

    sroot = str(tmp_path / "server")
    croot = str(tmp_path / "client")
    os.makedirs(sroot)
    os.makedirs(croot)
    seng = Engine(spark, datasets_root=sroot)
    seng.sql("CREATE TABLE st AS SELECT id FROM range(5)")
    server = BeaconFlightServer(seng, port=0, token="sekrit-tok")
    port = server.serve_background()
    try:
        ceng = Engine(spark, datasets_root=croot)
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS lk "
                 f"WITH ('token' 'sekrit-tok')")
        catalog_file = ceng.catalog.file
        raw = open(catalog_file).read()
        assert "sekrit-tok" not in raw  # never plaintext on disk
        cat = json.loads(raw)
        assert cat["attachments"]["lk"].get("token") is None
        assert cat["attachments"]["lk"]["token_secret"] == "__attach_lk"
        # reconnection path still works from the secret
        ceng._remotes = {}
        ceng._cat_sig = None
        n = ceng.sql("SELECT count(*) AS n FROM remote_query('lk', "
                     "'SELECT * FROM st')").collect()[0].n
        assert n == 5
        # DETACH cleans the secret up
        ceng.sql("DETACH lk")
        cat = json.loads(open(catalog_file).read())
        assert "__attach_lk" not in cat.get("secrets", {})
    finally:
        server.shutdown()


def test_collect_rows_enforces_byte_cap(spark):
    """Round-6 hardening: the JSON path caps bytes too — wide-string
    rows can't dodge the byte limit the Arrow paths enforce."""
    import pytest as _pytest

    from beacon_spark.server.limits import QueryLimits, ResourceLimitExceeded

    df = spark.range(200).selectExpr("repeat('x', 10000) AS s")
    lim = QueryLimits(max_rows=None, max_bytes=100_000)
    with _pytest.raises(ResourceLimitExceeded, match="byte limit"):
        lim.collect_rows(df)
    # under the cap passes
    assert len(QueryLimits(max_bytes=None).collect_rows(df.limit(3))) == 3


def test_collect_rows_byte_cap_counts_nested_payloads(spark):
    """Review fix: array<string>/struct payloads must count against the
    byte cap — the wide strings often hide below the top level."""
    import pytest as _pytest

    from beacon_spark.server.limits import QueryLimits, ResourceLimitExceeded

    df = spark.range(50).selectExpr("array(repeat('x', 100000)) AS a")
    with _pytest.raises(ResourceLimitExceeded, match="byte limit"):
        QueryLimits(max_rows=None, max_bytes=100_000).collect_rows(df)
    df2 = spark.range(50).selectExpr(
        "named_struct('s', repeat('y', 100000)) AS st")
    with _pytest.raises(ResourceLimitExceeded, match="byte limit"):
        QueryLimits(max_rows=None, max_bytes=100_000).collect_rows(df2)


def test_mcp_tool_injection_and_caps_closed(spark, tmp_path):
    """Round-8 transport review: per-table MCP tools must (a) reject
    select-list injection even WITHOUT exposed_columns, (b) reject
    subqueries hidden in a backslash-desynced 'literal', (c) route
    through the row caps."""
    import os

    from beacon_spark.server.http import BeaconHttpServer

    root = str(tmp_path / "r2")
    os.makedirs(root)
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE opn AS SELECT id, id * 2 AS v FROM range(300)")
    eng.sql("CREATE TABLE hid AS SELECT 42 AS secret FROM range(1)")
    eng.sql("""SET EXTENSION 'mcp' FOR opn TO '{"enabled": true}'""")
    hs = BeaconHttpServer(eng, port=0, limits=QueryLimits(max_rows=100))
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}/mcp"
    try:
        def call(args):
            body = {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                    "params": {"name": "query_opn", "arguments": args}}
            req = urllib.request.Request(
                base, data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"}, method="POST")
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())["result"]

        # normal use works (no exposed_columns: all real columns)
        r = call({"select": ["id"], "where": "id < 3"})
        assert not r["isError"]
        assert len(json.loads(r["content"][0]["text"])) == 3
        # select-list injection: not a real column -> refused
        r = call({"select": ["(SELECT secret FROM hid LIMIT 1)"]})
        assert r["isError"] and "unknown column" in r["content"][0]["text"]
        r = call({"select": ["* FROM hid --"]})
        assert r["isError"]
        # subquery hidden behind a backslash-quote fake literal
        r = call({"where":
                  "v = '\\'' OR (SELECT secret FROM hid LIMIT 1) = id -- '"})
        assert r["isError"]
        # a giant limit argument hits the server row cap, not an
        # unbounded driver collect
        r = call({"limit": 2_000_000_000})
        assert r["isError"] and "row limit" in r["content"][0]["text"]
    finally:
        hs.shutdown()


def test_query_metrics_endpoint_super_only(spark, tmp_path):
    """Query texts are super-user-only (the beacon.system gate); the
    /api/query/metrics/{qid} endpoint serves the same rows and must
    carry the same gate."""
    import base64
    import os

    from beacon_spark.server.http import BeaconHttpServer

    root = str(tmp_path / "r3")
    os.makedirs(root)
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE qm AS SELECT id FROM range(3)")
    eng.sql("CREATE USER low WITH PASSWORD 'pw'")
    hs = BeaconHttpServer(eng, port=0)
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}"
    try:
        req = urllib.request.Request(
            f"{base}/api/query", data=json.dumps(
                {"sql": "SELECT * FROM qm", "format": "json"}).encode(),
            headers={"Content-Type": "application/json"}, method="POST")
        with urllib.request.urlopen(req) as r:
            qid = r.headers["x-beacon-query-id"]
        basic = "Basic " + base64.b64encode(b"low:pw").decode()
        req = urllib.request.Request(
            f"{base}/api/query/metrics/{qid}",
            headers={"Authorization": basic})
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 403")
        except urllib.error.HTTPError as e:
            assert e.code == 403
        # the open embedded identity still reads them
        with urllib.request.urlopen(
                f"{base}/api/query/metrics/{qid}") as r:
            assert json.loads(r.read())["query_id"] == qid
    finally:
        hs.shutdown()


@pytest.mark.parametrize("enforce", ["ON", "OFF"])
def test_mcp_where_subquery_refused_on_its_parse(spark, tmp_path, enforce):
    """A per-table tool's ``where`` is checked on Spark's parse, not
    by keyword: ``id IN (TABLE other)`` names no SELECT but reads all of
    ``other``, so it is refused; a plain predicate still filters."""
    import os

    from beacon_spark.server.http import BeaconHttpServer

    root = str(tmp_path / "r")
    os.makedirs(root)
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE pub AS SELECT id, id * 7 AS hidden FROM range(5)")
    eng.sql("CREATE TABLE other AS SELECT 3 AS id")
    eng.sql('SET EXTENSION \'mcp\' FOR pub TO '
            '\'{"enabled": true, "exposed_columns": ["id"]}\'')
    eng.sql("CREATE USER anonymous WITH PASSWORD 'x'")
    eng.sql("CREATE ROLE readers")
    eng.sql("GRANT ROLE readers TO USER anonymous")
    eng.sql("GRANT SELECT ON ALL TO ROLE readers")
    eng.sql(f"SET AUTH ENFORCEMENT {enforce}")
    hs = BeaconHttpServer(eng, port=0)
    port = hs.serve_background()
    try:
        def call(where):
            body = {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                    "params": {"name": "query_pub",
                               "arguments": {"where": where}}}
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/mcp",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"}, method="POST")
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())["result"]

        r = call("id IN (TABLE other)")
        assert r["isError"] and "subquer" in r["content"][0]["text"]
        r = call("id < 2")
        assert not r["isError"]
        assert sorted(x["id"] for x in json.loads(r["content"][0]["text"])) \
            == [0, 1]
    finally:
        hs.shutdown()
