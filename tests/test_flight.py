"""Flight serving + remote ATTACH federation (server/flight.py,
server/remote.py; reference: beacon-server flight_sql/service.rs,
beacon-datafusion-ext remote/catalog.rs)."""

import json

import pytest

from beacon_spark.engine import Engine


@pytest.fixture()
def served(spark, tmp_path):
    """A server-side engine with one dataset + one managed table, served
    over Flight on an ephemeral port."""
    from beacon_spark.server import BeaconFlightServer

    root = str(tmp_path / "server_root")
    import os

    os.makedirs(root)
    spark.range(20).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(
        f"{root}/obs.parquet"
    )
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE remobs AS SELECT id, id % 3 AS g FROM read_parquet('obs.parquet')")
    server = BeaconFlightServer(eng, port=0)
    port = server.serve_background()
    yield eng, server, port
    server.shutdown()


def test_flight_do_get_and_info(spark, served):
    import pyarrow.flight as fl

    _eng, _server, port = served
    client = fl.FlightClient(f"grpc://127.0.0.1:{port}")
    # metadata enumeration (the attach-time GetTables analog)
    body = json.loads(
        list(client.do_action(fl.Action("list_tables", b"")))[0]
        .body.to_pybytes()
        .decode()
    )
    assert "remobs" in body["tables"]
    assert any(d.startswith("obs.parquet") for d in body["datasets"])
    # schema-only info, then the stream itself
    desc = fl.FlightDescriptor.for_command(
        json.dumps({"sql": "SELECT g, count(*) AS n FROM remobs GROUP BY g"}).encode()
    )
    info = client.get_flight_info(desc)
    assert {f.name for f in info.schema} == {"g", "n"}
    t = client.do_get(info.endpoints[0].ticket).read_all()
    assert t.num_rows == 3 and sum(t.column("n").to_pylist()) == 20


def test_remote_attach_and_query(spark, served, tmp_path):
    _eng, _server, port = served
    client_eng = Engine(spark, datasets_root=str(tmp_path / "client_root"))
    out = client_eng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS lake").collect()
    assert out[0].status == "ok" and out[0].remote == "true"

    # bare remote-table reference: fetched over Flight into a temp view
    rows = client_eng.sql(
        "SELECT g, count(*) AS n FROM lake__remobs GROUP BY g ORDER BY g"
    ).collect()
    assert [r.n for r in rows] == [7, 7, 6]

    # remote_query: the whole statement (incl. read_parquet on the
    # remote's datasets) executes remotely; only the result crosses
    agg = client_eng.sql(
        "SELECT n FROM remote_query('lake', "
        "'SELECT count(*) AS n FROM read_parquet(''obs.parquet'')')"
    ).collect()
    assert agg[0].n == 20
    # engine-level API
    assert client_eng.remote_query("lake", "SELECT max(id) AS m FROM remobs").collect()[0].m == 19

    client_eng.sql("DETACH lake")
    with pytest.raises(ValueError, match="no attached remote"):
        client_eng.remote_query("lake", "SELECT 1")
    # materialized remote views are dropped — no stale data after detach
    with pytest.raises(Exception):
        spark.sql("SELECT * FROM lake__remobs").collect()


def test_remote_attach_token_auth(spark, served, tmp_path):
    from beacon_spark.server import BeaconFlightServer

    eng, _server, _port = served
    secure = BeaconFlightServer(eng, port=0, token="sekrit")
    sport = secure.serve_background()
    try:
        client_eng = Engine(spark, datasets_root=str(tmp_path / "c2"))
        with pytest.raises(Exception, match="[Uu]nauthenticated|bearer"):
            client_eng.sql(f"ATTACH 'grpc://127.0.0.1:{sport}' AS locked")
        out = client_eng.sql(
            f"ATTACH 'grpc://127.0.0.1:{sport}' AS lake2 WITH ('token' 'sekrit')"
        ).collect()
        assert out[0].status == "ok"
        assert client_eng.remote_query("lake2", "SELECT 1 AS one").collect()[0].one == 1
        client_eng.sql("DETACH lake2")
    finally:
        secure.shutdown()


def test_beacon_url_scheme():
    from beacon_spark.server.remote import parse_remote_url

    assert parse_remote_url("beacon://h:50051") == "grpc://h:50051"
    assert parse_remote_url("grpc://h:1") == "grpc://h:1"
    assert parse_remote_url("/local/path") is None


# ------------------------------------------------------------ HTTP API


def test_http_api(spark, served, tmp_path):
    """POST /api/query (SQL + DSL, arrow & json) and the metadata GETs
    (axum client API analog, router.rs:107-118)."""
    import urllib.request

    import pyarrow as pa

    from beacon_spark.server.http import BeaconHttpServer

    eng, _fs, _p = served
    hs = BeaconHttpServer(eng, port=0)
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}"
    try:
        def get(path):
            with urllib.request.urlopen(base + path) as r:
                ctype = r.headers["Content-Type"]
                body = r.read()
            return body, ctype

        def post(path, obj):
            req = urllib.request.Request(
                base + path, data=json.dumps(obj).encode(),
                headers={"Content-Type": "application/json"}, method="POST",
            )
            with urllib.request.urlopen(req) as r:
                return r.read(), r.headers["Content-Type"]

        assert get("/api/health")[0] == b"Ok"
        body, _ = get("/api/datasets")
        assert any(d["dataset"].startswith("obs.parquet") for d in json.loads(body))
        assert json.loads(get("/api/total-datasets")[0])["total"] >= 1
        assert "remobs" in json.loads(get("/api/tables")[0])
        schema = json.loads(get("/api/table-schema?table=remobs")[0])
        assert {f["name"] for f in schema["fields"]} == {"id", "g"}
        assert json.loads(get("/api/info")[0])["engine"] == "beacon_spark"

        # SQL → arrow ipc stream (the reference default)
        body, ctype = post("/api/query", {
            "sql": "SELECT g, count(*) AS n FROM remobs GROUP BY g"})
        assert ctype == "application/vnd.apache.arrow.stream"
        t = pa.ipc.open_stream(body).read_all()
        assert t.num_rows == 3 and sum(t.column("n").to_pylist()) == 20

        # JSON DSL body on the same endpoint, json output
        body, ctype = post("/api/query", {
            "select": ["id"],
            "from": {"parquet": {"paths": ["obs.parquet"]}},
            "filter": {"column": "id", "gt": 16},
            "format": "json",
        })
        assert ctype == "application/json"
        assert sorted(r["id"] for r in json.loads(body)) == [17, 18, 19]

        # errors surface as 400 with a message, not a hung socket
        import urllib.error
        try:
            post("/api/query", {"sql": "SELECT FROM nope"})
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        hs.shutdown()


def test_http_token_auth(spark, served):
    import urllib.error
    import urllib.request

    from beacon_spark.server.http import BeaconHttpServer

    eng, _fs, _p = served
    hs = BeaconHttpServer(eng, port=0, token="tok")
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}"
    try:
        try:
            urllib.request.urlopen(base + "/api/health")
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
        req = urllib.request.Request(
            base + "/api/health", headers={"Authorization": "Bearer tok"})
        assert urllib.request.urlopen(req).read() == b"Ok"
    finally:
        hs.shutdown()


def test_mcp_endpoint(spark, served):
    """MCP streamable-HTTP: initialize / tools list / tool calls, with
    run_sql's read-only gate (beacon-mcp server.rs, catalog.rs:134-136)."""
    import urllib.request

    from beacon_spark.server.http import BeaconHttpServer

    eng, _fs, _p = served
    hs = BeaconHttpServer(eng, port=0)
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}/mcp"
    try:
        def rpc(method, params=None, mid=1):
            body = {"jsonrpc": "2.0", "id": mid, "method": method}
            if params is not None:
                body["params"] = params
            req = urllib.request.Request(
                base, data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"}, method="POST")
            with urllib.request.urlopen(req) as r:
                raw = r.read()
            return json.loads(raw) if raw else None

        init = rpc("initialize", {"protocolVersion": "2024-11-05"})
        assert init["result"]["serverInfo"]["name"] == "beacon_spark"
        tools = rpc("tools/list")["result"]["tools"]
        assert {"list_tables", "describe_table", "run_sql",
                "export_query"} <= {t["name"] for t in tools}

        lt = rpc("tools/call", {"name": "list_tables", "arguments": {}})
        listing = json.loads(lt["result"]["content"][0]["text"])
        assert "remobs" in listing["tables"]

        ds = rpc("tools/call", {
            "name": "describe_table", "arguments": {"table": "remobs"}})
        cols = {c["column"] for c in json.loads(ds["result"]["content"][0]["text"])}
        assert cols == {"id", "g"}

        q = rpc("tools/call", {"name": "run_sql", "arguments": {
            "sql": "SELECT count(*) AS n FROM remobs"}})
        assert json.loads(q["result"]["content"][0]["text"]) == [{"n": 20}]

        # read-only gate: DDL/DML comes back as a tool error, not data
        for sql in (
            "DROP TABLE remobs",
            # WITH-prefixed write and EXPLAIN ANALYZE of a write both
            # start 'read-only' but execute writes — must be rejected
            "WITH c AS (SELECT 1) INSERT INTO remobs SELECT id, g FROM remobs",
            "EXPLAIN ANALYZE COPY remobs TO '/tmp/pwn.parquet'",
        ):
            bad = rpc("tools/call", {"name": "run_sql", "arguments": {"sql": sql}})
            assert bad["result"]["isError"] is True, sql
            assert "read-only" in bad["result"]["content"][0]["text"]
        # quoted keywords are fine (literal-stripping, not naive grep)
        ok = rpc("tools/call", {"name": "run_sql", "arguments": {
            "sql": "SELECT 'please INSERT a coin' AS s"}})
        assert ok["result"]["isError"] is False
        # the table survived
        assert eng.sql("SELECT count(*) AS n FROM remobs").collect()[0].n == 20
    finally:
        hs.shutdown()


def test_http_query_file_outputs(spark, served):
    """{"output": {"format": ...}} returns a file download
    (query.rs:20-44: CSV / Parquet / Arrow)."""
    import io
    import urllib.request

    import pyarrow as pa
    import pyarrow.parquet as pq

    from beacon_spark.server.http import BeaconHttpServer

    eng, _fs, _p = served
    hs = BeaconHttpServer(eng, port=0)
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}"
    try:
        def post(obj):
            req = urllib.request.Request(
                base + "/api/query", data=json.dumps(obj).encode(),
                headers={"Content-Type": "application/json"}, method="POST")
            with urllib.request.urlopen(req) as r:
                return r.read(), r.headers["Content-Type"]

        q = {"sql": "SELECT id, g FROM remobs ORDER BY id LIMIT 5"}
        body, ctype = post({**q, "output": {"format": "csv"}})
        assert ctype == "text/csv"
        lines = body.decode().strip().splitlines()
        assert lines[0].split(",") == ["id", "g"] and len(lines) == 6

        body, ctype = post({**q, "output": {"format": "parquet"}})
        assert "parquet" in ctype
        t = pq.read_table(io.BytesIO(body))
        assert t.num_rows == 5

        body, ctype = post({**q, "output": {"format": "arrow"}})
        assert "arrow" in ctype
        t = pa.ipc.open_file(io.BytesIO(body)).read_all()
        assert t.column("id").to_pylist() == [0, 1, 2, 3, 4]
    finally:
        hs.shutdown()


def test_http_explain_and_metrics(spark, served):
    """/api/explain-query, /api/parse-query, the x-beacon-query-id
    header + /api/query/metrics/{id} (api.rs:193)."""
    import urllib.request

    from beacon_spark.server.http import BeaconHttpServer

    eng, _fs, _p = served
    hs = BeaconHttpServer(eng, port=0)
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}"
    try:
        def post(path, obj):
            req = urllib.request.Request(
                base + path, data=json.dumps(obj).encode(),
                headers={"Content-Type": "application/json"}, method="POST")
            with urllib.request.urlopen(req) as r:
                return r.read(), dict(r.headers)

        body, _ = post("/api/explain-query", {"sql": "SELECT count(*) AS n FROM remobs"})
        assert "Physical Plan" in json.loads(body)["plan"]
        body, _ = post("/api/parse-query", {"sql": "SELECT id, g FROM remobs"})
        assert {f["name"] for f in json.loads(body)["fields"]} == {"id", "g"}

        body, headers = post("/api/query", {
            "sql": "SELECT count(*) AS n FROM remobs", "format": "json"})
        qid = headers["x-beacon-query-id"]
        with urllib.request.urlopen(base + f"/api/query/metrics/{qid}") as r:
            m = json.loads(r.read())
        assert m["result_num_rows"] == 1 and m["execution_time_ms"] >= 0 \
            and m["node_metrics"]
    finally:
        hs.shutdown()


def test_mcp_export_and_table_tools(spark, served):
    """export_query returns a fetch recipe (no data through model
    context); SET EXTENSION 'mcp' exposes a per-table tool with column
    scoping + presets (beacon-mcp catalog.rs:98-124)."""
    import urllib.request

    from beacon_spark.server.http import BeaconHttpServer

    eng, _fs, _p = served
    eng.sql("SET EXTENSION 'mcp' FOR remobs TO "
            "'{\"enabled\": true, \"exposed_columns\": [\"id\", \"g\"], "
            "\"guardrails\": {\"note\": \"limit to 1000 rows\"}}'")
    eng.sql("SET EXTENSION 'preset' FOR remobs TO "
            "'{\"presets\": [{\"name\": \"evens\", "
            "\"filters\": [{\"column\": \"g\", \"op\": \"=\", "
            "\"value\": 0}]}]}'")
    hs = BeaconHttpServer(eng, port=0)
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}/mcp"
    try:
        def rpc(method, params=None):
            body = {"jsonrpc": "2.0", "id": 1, "method": method,
                    "params": params or {}}
            req = urllib.request.Request(
                base, data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"}, method="POST")
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())

        tools = {t["name"]: t for t in rpc("tools/list")["result"]["tools"]}
        assert "export_query" in tools and "query_remobs" in tools
        assert "Guard rails" in tools["query_remobs"]["description"]
        assert "x-table" not in tools["query_remobs"]  # internals stripped
        assert tools["query_remobs"]["inputSchema"]["properties"]["preset"][
            "enum"] == ["evens"]

        # export recipe: request body + snippet, no rows
        r = rpc("tools/call", {"name": "export_query", "arguments": {
            "sql": "SELECT * FROM remobs", "format": "csv"}})
        rec = json.loads(r["result"]["content"][0]["text"])
        assert rec["request"]["output"]["format"] == "csv"
        assert "/api/query" in rec["python"]

        # per-table tool with preset + where + limit
        r = rpc("tools/call", {"name": "query_remobs", "arguments": {
            "select": ["id"], "preset": "evens", "where": "id < 9",
            "limit": 50}})
        rows = json.loads(r["result"]["content"][0]["text"])
        assert sorted(x["id"] for x in rows) == [0, 3, 6]

        # unexposed column -> tool error
        r = rpc("tools/call", {"name": "query_remobs", "arguments": {
            "select": ["secret_col"]}})
        assert r["result"]["isError"] is True
        # '*' expands to the EXPOSED columns only, never a scoping bypass
        r = rpc("tools/call", {"name": "query_remobs", "arguments": {
            "select": ["*"], "limit": 1}})
        rows = json.loads(r["result"]["content"][0]["text"])
        assert set(rows[0].keys()) == {"id", "g"}
        # write keywords in where -> rejected
        r = rpc("tools/call", {"name": "query_remobs", "arguments": {
            "where": "id IN (SELECT 1) OR EXISTS (DROP TABLE remobs)"}})
        assert r["result"]["isError"] is True
    finally:
        hs.shutdown()


def test_flight_do_put_ingest(spark, served):
    """do_put streams Arrow batches into a managed table through the
    engine's INSERT path (Flight SQL update role, service.rs:362-380)."""
    import pyarrow as pa
    import pyarrow.flight as fl

    eng, _server, port = served
    client = fl.FlightClient(f"grpc://127.0.0.1:{port}")
    before = eng.sql("SELECT count(*) AS n FROM remobs").collect()[0].n

    t = pa.table({"id": pa.array([900, 901], pa.int64()),
                  "g": pa.array([0, 1], pa.int64())})
    desc = fl.FlightDescriptor.for_path("remobs")
    w, _ = client.do_put(desc, t.schema)
    w.write_table(t)
    w.close()

    after = eng.sql("SELECT count(*) AS n FROM remobs").collect()[0].n
    assert after == before + 2
    got = eng.sql("SELECT g FROM remobs WHERE id = 900").collect()
    assert got[0].g == 0


def test_http_remaining_metadata_endpoints(spark, served):
    import urllib.request

    from beacon_spark.server.http import BeaconHttpServer

    eng, _fs, _p = served
    hs = BeaconHttpServer(eng, port=0)
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}"
    try:
        def get(path):
            with urllib.request.urlopen(base + path) as r:
                return json.loads(r.read())

        assert get("/api/catalogs") == ["beacon"]
        fns = get("/api/functions")
        assert "st_within_point" in fns and "try_arrow_cast" in fns
        assert "read_zarr" in get("/api/table-functions")
        schema = get("/api/dataset-schema?dataset=obs.parquet")
        assert {f["name"] for f in schema["fields"]} == {"id", "v"}
        assert get("/api/default-table")["table"] is None
    finally:
        hs.shutdown()


def test_federated_pushdown(spark, served, tmp_path):
    """lake__tbl references are LAZY federated scans: Catalyst pushes
    filters into the remote WHERE via the beacon_remote DataSource's
    pushFilters, and the statement-time schema narrowing ships only the
    referenced columns (r4-verdict item 4; reference
    FederationOptimizerRule, runtime_builder.rs:814-827)."""
    eng, _server, port = served
    eng.sql("CREATE TABLE wide AS SELECT id, id * 2 AS a, id * 3 AS b "
            "FROM range(20)")
    recorded = []
    orig = eng.sql

    def rec(sql, **kw):
        recorded.append(sql)
        return orig(sql, **kw)

    eng.sql = rec
    try:
        client_eng = Engine(spark, datasets_root=str(tmp_path / "fed_client"))
        client_eng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fed")
        out = client_eng.sql(
            "SELECT a FROM fed__wide WHERE id > 15"
        ).collect()
        assert sorted(r.a for r in out) == [32, 34, 36, 38]
        remote = [s for s in recorded if "wide" in s and "WHERE" in s]
        assert remote, f"no pushed-down remote statement in {recorded!r}"
        pushed = remote[-1]
        # the predicate executed REMOTELY...
        assert "`id` > 15" in pushed
        # ...and only the referenced columns crossed the wire
        assert "`a`" in pushed and "`b`" not in pushed
    finally:
        eng.sql = orig
        client_eng.sql("DETACH fed")


def test_federated_scan_unsupported_filter_stays_local(spark, served, tmp_path):
    """A predicate the remote SQL compiler can't express is evaluated by
    Spark post-scan — pushFilters yields it back, never drops it."""
    eng, _server, port = served
    recorded = []
    orig = eng.sql

    def rec(sql, **kw):
        recorded.append(sql)
        return orig(sql, **kw)

    eng.sql = rec
    try:
        client_eng = Engine(spark, datasets_root=str(tmp_path / "fed_client2"))
        client_eng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fd2")
        out = client_eng.sql(
            "SELECT id FROM fd2__remobs WHERE id % 7 = 1 AND g = 0"
        ).collect()
        expect = sorted(i for i in range(20) if i % 7 == 1 and i % 3 == 0)
        assert sorted(r.id for r in out) == expect
        pushed = [s for s in recorded if "remobs" in s][-1]
        assert "`g` = 0" in pushed        # supported -> remote
        assert "%" not in pushed           # modulo stayed local
    finally:
        eng.sql = orig
        client_eng.sql("DETACH fd2")


def test_federated_join_pushed_whole_single_remote_call(spark, served, tmp_path):
    """FederationOptimizerRule analog (runtime_builder.rs:814-827): a
    join + aggregation over TWO tables of the SAME attached remote is
    shipped as ONE remote statement — the remote executes the join and
    only result rows cross the wire; the local plan has no Join node."""
    eng, _server, port = served
    eng.sql("CREATE TABLE fjnames AS "
            "SELECT id % 3 AS g, char(ascii('a') + id % 3) AS nm FROM range(3)")
    recorded = []
    orig = eng.sql

    def rec(sql, **kw):
        recorded.append(sql)
        return orig(sql, **kw)

    eng.sql = rec
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "fedj"))
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fj")
        df = ceng.sql(
            "SELECT n.nm AS nm, count(*) AS c FROM fj__remobs r "
            "JOIN fj__fjnames n ON r.g = n.g GROUP BY n.nm ORDER BY nm"
        )
        rows = df.collect()
        # remobs: 20 rows, g = id%3 -> 7/7/6 per group
        assert [(r.nm, r.c) for r in rows] == [("a", 7), ("b", 7), ("c", 6)]
        # the remote saw exactly ONE distinct statement containing the
        # JOIN (planning + fetch reuse the same pushed SQL)...
        joins = {s for s in recorded if "JOIN" in s.upper() and "remobs" in s}
        assert len(joins) == 1, recorded
        (pushed,) = joins
        assert "fj__" not in pushed and "GROUP BY" in pushed.upper()
        # ...and NO bare per-table scan of either side ran
        bare = [s for s in recorded
                if "JOIN" not in s.upper()
                and ("remobs" in s or "fjnames" in s)
                and s.strip().upper().startswith("SELECT")]
        assert not bare, bare
        # transferred rows = result rows: the local plan joins nothing
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
    finally:
        eng.sql = orig
        ceng.sql("DETACH fj")
        eng.sql("DROP TABLE fjnames")


def test_federated_single_table_agg_pushed_whole(spark, served, tmp_path):
    """A single-table GROUP BY over a remote table also pushes WHOLE
    (row reduction belongs on the remote), while a plain filter/projection
    statement keeps the per-table pushFilters path."""
    eng, _server, port = served
    recorded = []
    orig = eng.sql

    def rec(sql, **kw):
        recorded.append(sql)
        return orig(sql, **kw)

    eng.sql = rec
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "feda"))
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fa")
        out = ceng.sql(
            "SELECT g, count(*) AS c FROM fa__remobs GROUP BY g ORDER BY g"
        ).collect()
        assert [(r.g, r.c) for r in out] == [(0, 7), (1, 7), (2, 6)]
        aggs = {s for s in recorded if "GROUP BY" in s.upper() and "remobs" in s}
        assert len(aggs) == 1, recorded
        assert "fa__" not in next(iter(aggs))
    finally:
        eng.sql = orig
        ceng.sql("DETACH fa")


def test_federated_dialect_join_pushed_whole(spark, served, tmp_path):
    """A join of two remote tables written with dialect syntax Spark's
    grammar lacks (``* EXCLUDE``) still ships whole: the remote speaks
    the dialect. A WITH … INSERT over the same tables is not a query:
    it is never sent to the remote (Spark then fails it locally: a
    managed table is a view)."""
    eng, _server, port = served
    eng.sql("CREATE TABLE fxnames AS "
            "SELECT id AS k, char(ascii('a') + id) AS nm FROM range(3)")
    recorded = []
    orig = eng.sql

    def rec(sql, **kw):
        recorded.append(sql)
        return orig(sql, **kw)

    eng.sql = rec
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "fedx"))
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fx")
        rows = ceng.sql(
            "SELECT * EXCLUDE (nm) FROM fx__remobs r "
            "JOIN fx__fxnames n ON r.id = n.k ORDER BY id").collect()
        assert [tuple(r) for r in rows] == [(0, 0, 0), (1, 1, 1), (2, 2, 2)]
        assert len({s for s in recorded
                    if "EXCLUDE" in s.upper() and "JOIN" in s.upper()}) == 1
        recorded.clear()
        ceng.sql("CREATE TABLE fxloc (id BIGINT, nm STRING)")
        with pytest.raises(Exception, match="InsertIntoStatement"):
            ceng.sql("WITH c AS (SELECT r.id, n.nm FROM fx__remobs r "
                     "JOIN fx__fxnames n ON r.id = n.k) "
                     "INSERT INTO fxloc SELECT * FROM c")
        assert not [s for s in recorded if "INSERT" in s.upper()]
    finally:
        eng.sql = orig
        ceng.sql("DETACH fx")
        eng.sql("DROP TABLE fxnames")


def test_federated_default_path_parses_once(spark, served, tmp_path):
    """With a remote attached, a ``user=None`` statement still makes
    only the one ``parsePlan`` ``spark.sql`` would make, whether it is
    pushed whole, scanned per table or local."""
    from types import SimpleNamespace

    _eng, _server, port = served
    ceng = Engine(spark, datasets_root=str(tmp_path / "fedp"))
    ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fp")
    ceng.sql("CREATE TABLE ploc AS SELECT 1 AS a")
    calls = []
    parser = ceng._jvm_sql.parser

    class Recorder:
        def __getattr__(self, name):
            calls.append(name)
            return getattr(parser, name)

    ceng._jvm_sql = SimpleNamespace(**{**vars(ceng._jvm_sql),
                                       "parser": Recorder()})
    try:
        for stmt in ("SELECT g, count(*) AS c FROM fp__remobs GROUP BY g",
                     "SELECT id FROM fp__remobs WHERE g = 1",
                     "SELECT a FROM ploc"):
            assert ceng.sql(stmt).collect()
        assert calls == ["parsePlan"] * 3
    finally:
        ceng.sql("DROP TABLE ploc")
        ceng.sql("DETACH fp")


def test_federated_mixed_local_remote_falls_back(spark, served, tmp_path):
    """A statement mixing a remote table with a LOCAL one must NOT push
    whole (the remote does not have the local table — and might have a
    same-named different one): the join runs locally over a lazy
    per-table remote scan, and the answer is right."""
    eng, _server, port = served
    recorded = []
    orig = eng.sql

    def rec(sql, **kw):
        recorded.append(sql)
        return orig(sql, **kw)

    eng.sql = rec
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "fedm"))
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fm")
        ceng.sql("CREATE TABLE mloc AS SELECT id % 3 AS g, id AS li FROM range(6)")
        out = ceng.sql(
            "SELECT count(*) AS c FROM fm__remobs r JOIN mloc ON r.g = mloc.g"
        ).collect()
        # per-g remote counts 7/7/6, local has 2 rows per g
        assert out[0].c == 2 * (7 + 7 + 6)
        # the remote never saw a JOIN (it ran locally)
        assert not [s for s in recorded if "JOIN" in s.upper() and "remobs" in s]
    finally:
        eng.sql = orig
        ceng.sql("DROP TABLE mloc")
        ceng.sql("DETACH fm")


def test_federated_endpoint_keying(spark, served, tmp_path):
    """Remote refs group by ENDPOINT, not alias: two aliases of ONE
    server still push the join whole; tables on two DIFFERENT servers
    join locally."""
    import os

    from beacon_spark.server import BeaconFlightServer

    eng, _server, port = served
    recorded = []
    orig = eng.sql

    def rec(sql, **kw):
        recorded.append(sql)
        return orig(sql, **kw)

    eng.sql = rec
    # a second, genuinely different server
    root2 = str(tmp_path / "srv2")
    os.makedirs(root2)
    eng2 = Engine(spark, datasets_root=root2)
    eng2.sql("CREATE TABLE other AS SELECT id FROM range(20)")
    srv2 = BeaconFlightServer(eng2, port=0)
    port2 = srv2.serve_background()
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "fed2"))
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS ra")
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS rb")
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port2}' AS rc")
        # same endpoint under two aliases → ONE pushed remote JOIN
        out = ceng.sql(
            "SELECT count(*) AS c FROM ra__remobs a JOIN rb__remobs b "
            "ON a.id = b.id"
        ).collect()
        assert out[0].c == 20
        joins = {s for s in recorded if "JOIN" in s.upper() and "remobs" in s}
        assert len(joins) == 1 and "ra__" not in next(iter(joins))
        # two DIFFERENT servers → local join, no remote JOIN anywhere
        recorded.clear()
        out = ceng.sql(
            "SELECT count(*) AS c FROM ra__remobs a JOIN rc__other o "
            "ON a.id = o.id"
        ).collect()
        assert out[0].c == 20
        assert not [s for s in recorded if "JOIN" in s.upper()]
    finally:
        eng.sql = orig
        ceng.sql("DETACH ra")
        ceng.sql("DETACH rb")
        ceng.sql("DETACH rc")
        srv2.shutdown()


def test_stored_as_remote_join_pushes_whole(spark, served, tmp_path):
    """Two STORED AS REMOTE tables of the same endpoint — no ATTACH at
    all — still ship their join as ONE remote statement."""
    eng, _server, port = served
    eng.sql("CREATE TABLE sarj AS SELECT id % 3 AS g, id AS x FROM range(9)")
    recorded = []
    orig = eng.sql

    def rec(sql, **kw):
        recorded.append(sql)
        return orig(sql, **kw)

    eng.sql = rec
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "sarj_cli"))
        ceng.sql("CREATE EXTERNAL TABLE robs STORED AS REMOTE "
                 f"LOCATION 'beacon://127.0.0.1:{port}/remobs'")
        ceng.sql("CREATE EXTERNAL TABLE rj STORED AS REMOTE "
                 f"LOCATION 'beacon://127.0.0.1:{port}/sarj'")
        recorded.clear()
        out = ceng.sql(
            "SELECT count(*) AS c FROM robs r JOIN rj ON r.g = rj.g"
        ).collect()
        # remobs g counts 7/7/6; sarj has 3 rows per g → 3*(7+7+6)
        assert out[0].c == 60
        joins = {s for s in recorded if "JOIN" in s.upper() and "remobs" in s}
        assert len(joins) == 1, recorded
        pushed = next(iter(joins))
        assert "robs" not in pushed and " rj " not in f" {pushed} "
        assert "sarj" in pushed
        ceng.sql("DROP TABLE robs")
        ceng.sql("DROP TABLE rj")
    finally:
        eng.sql = orig
        eng.sql("DROP TABLE sarj")


def test_stored_as_remote_external_table(spark, served, tmp_path):
    """CREATE EXTERNAL TABLE … STORED AS REMOTE LOCATION
    'beacon://host:port/<table>' — one-table federation (reference
    contract: integration-tests/test_remote_federation.py): count,
    filter pushdown into the remote WHERE, join with a local source,
    and persistence across engine instances."""
    eng, _server, port = served
    recorded = []
    orig = eng.sql

    def rec(sql, **kw):
        recorded.append(sql)
        return orig(sql, **kw)

    eng.sql = rec
    try:
        root = str(tmp_path / "sar_client")
        ceng = Engine(spark, datasets_root=root)
        ceng.sql("CREATE EXTERNAL TABLE remote_obs STORED AS REMOTE "
                 f"LOCATION 'beacon://127.0.0.1:{port}/remobs'")
        assert ceng.sql("SELECT count(*) AS n FROM remote_obs") \
            .collect()[0].n == 20
        out = ceng.sql(
            "SELECT count(*) AS n FROM remote_obs WHERE id > 15").collect()
        assert out[0].n == 4
        # the aggregate triggers WHOLE-statement pushdown: the remote
        # ran the count, only one row crossed the wire
        pushed = [s for s in recorded if "remobs" in s and "WHERE" in s]
        assert pushed and pushed[-1] == \
            "SELECT count(*) AS n FROM remobs WHERE id > 15"
        # a plain filter/projection scan keeps the per-table
        # pushFilters path (predicate compiled into the remote WHERE)
        recorded.clear()
        rows = ceng.sql("SELECT id FROM remote_obs WHERE id > 17").collect()
        assert sorted(r.id for r in rows) == [18, 19]
        pf = [s for s in recorded if "remobs" in s and "`id` > 17" in s]
        assert pf, recorded
        # join with a local source in one statement
        ceng.sql("CREATE TABLE locj AS SELECT id FROM range(5)")
        tot = ceng.sql("SELECT count(*) AS n FROM remote_obs r "
                       "JOIN locj ON r.id = locj.id").collect()
        assert tot[0].n == 5
        # a fresh engine over the same catalog re-registers it
        c2 = Engine(spark, datasets_root=root)
        assert c2.sql("SELECT count(*) AS n FROM remote_obs") \
            .collect()[0].n == 20
        # unknown remote table fails at CREATE time, not first query
        import pytest as _pt

        with _pt.raises(Exception, match="no table"):
            ceng.sql("CREATE EXTERNAL TABLE nope STORED AS REMOTE "
                     f"LOCATION 'beacon://127.0.0.1:{port}/ghost'")
        ceng.sql("DROP TABLE remote_obs")
        ceng.sql("DROP TABLE locj")
    finally:
        eng.sql = orig


def test_federated_multi_cte_pushes(spark, served, tmp_path):
    """code-review r7 finding: the comma CTE alternative never matched
    after ')', so `WITH a AS (...), b AS (...)` statements silently
    stopped pushing — pin the two-CTE all-remote shape."""
    eng, _server, port = served
    recorded = []
    orig = eng.sql

    def rec(sql, **kw):
        recorded.append(sql)
        return orig(sql, **kw)

    eng.sql = rec
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "fcte"))
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fc")
        out = ceng.sql(
            "WITH a AS (SELECT id, g FROM fc__remobs WHERE id < 10), "
            "b AS (SELECT g, count(*) AS c FROM fc__remobs GROUP BY g) "
            "SELECT count(*) AS n FROM a JOIN b ON a.g = b.g"
        ).collect()
        assert out[0].n == 10
        pushed = {s for s in recorded if "WITH" in s.upper() and "remobs" in s}
        assert len(pushed) == 1, recorded  # the whole multi-CTE body shipped
        assert "fc__" not in next(iter(pushed))
    finally:
        eng.sql = orig
        ceng.sql("DETACH fc")


def test_federated_ext_rewrite_does_not_chain(spark, served, tmp_path):
    """code-review r7 finding: sequential name substitution chained
    (x→y then y→z). With ext tables x→/sarly and sarly-as-a-name also
    remote, `SELECT FROM x` must query the remote table x POINTS AT,
    never a twice-renamed one."""
    import beacon_spark.server.remote as rem

    eng, _server, port = served
    # two remote tables with different row counts
    eng.sql("CREATE TABLE chain_y AS SELECT id FROM range(7)")
    eng.sql("CREATE TABLE chain_z AS SELECT id FROM range(3)")
    pushed = []
    orig_qs = rem.RemoteBeacon.query_schema

    def spy(self, sql):
        pushed.append(sql)
        return orig_qs(self, sql)

    rem.RemoteBeacon.query_schema = spy
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "fchain"))
        # ext 'x' → remote chain_y; ext 'chain_y' → remote chain_z
        ceng.sql("CREATE EXTERNAL TABLE x STORED AS REMOTE "
                 f"LOCATION 'beacon://127.0.0.1:{port}/chain_y'")
        ceng.sql("CREATE EXTERNAL TABLE chain_y STORED AS REMOTE "
                 f"LOCATION 'beacon://127.0.0.1:{port}/chain_z'")
        # (executing in this suite would be misleading: both engines
        # share one SparkSession, so the client's ext view 'chain_y'
        # shadows the server's table of the same name — a test-only
        # collision. The pushed SQL is the contract.)
        pushed.clear()
        ceng.sql("SELECT count(*) AS c FROM x")
        assert pushed == ["SELECT count(*) AS c FROM chain_y"], pushed
        pushed.clear()
        ceng.sql("SELECT count(*) AS c FROM chain_y")
        assert pushed == ["SELECT count(*) AS c FROM chain_z"], pushed
        ceng.sql("DROP TABLE x")
        ceng.sql("DROP TABLE chain_y")
    finally:
        rem.RemoteBeacon.query_schema = orig_qs
        eng.sql("DROP TABLE chain_y")
        eng.sql("DROP TABLE chain_z")


def test_federated_sub_only_at_table_positions(spark, served, tmp_path):
    """ADVICE r7: remote-name substitution must fire ONLY at table
    positions. An ext table named like a remote COLUMN (`g` here, a
    column of remobs) used to be renamed everywhere by a statement-wide
    \\b-regex, turning `GROUP BY g` into `GROUP BY remobs` — wrong data
    whenever the renamed text was coincidentally valid remotely."""
    import beacon_spark.server.remote as rem

    _eng, _server, port = served
    pushed = []
    orig_qs = rem.RemoteBeacon.query_schema

    def spy(self, sql):
        pushed.append(sql)
        return orig_qs(self, sql)

    rem.RemoteBeacon.query_schema = spy
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "fedcol"))
        ceng.sql("CREATE EXTERNAL TABLE g STORED AS REMOTE "
                 f"LOCATION 'beacon://127.0.0.1:{port}/remobs'")
        pushed.clear()
        rows = ceng.sql(
            "SELECT g, count(*) AS n FROM g GROUP BY g ORDER BY g"
        ).collect()
        assert pushed == [
            "SELECT g, count(*) AS n FROM remobs GROUP BY g ORDER BY g"
        ], pushed
        assert [r.g for r in rows] == [0, 1, 2]
        assert sum(r.n for r in rows) == 20
        ceng.sql("DROP TABLE g")
    finally:
        rem.RemoteBeacon.query_schema = orig_qs


def test_federated_sub_renames_qualified_prefixes(spark, served, tmp_path):
    """`lake__remobs.g` column references must be rewritten to
    `remobs.g` alongside the table-position rename (ADVICE r7 follow-up:
    span-based substitution still has to cover qualified prefixes)."""
    import beacon_spark.server.remote as rem

    _eng, _server, port = served
    pushed = []
    orig_qs = rem.RemoteBeacon.query_schema

    def spy(self, sql):
        pushed.append(sql)
        return orig_qs(self, sql)

    rem.RemoteBeacon.query_schema = spy
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "fedqual"))
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS lake")
        pushed.clear()
        rows = ceng.sql(
            "SELECT lake__remobs.g AS g, count(*) AS n FROM lake__remobs "
            "GROUP BY lake__remobs.g ORDER BY g"
        ).collect()
        assert pushed == [
            "SELECT remobs.g AS g, count(*) AS n FROM remobs "
            "GROUP BY remobs.g ORDER BY g"
        ], pushed
        assert [r.g for r in rows] == [0, 1, 2]
        ceng.sql("DETACH lake")
    finally:
        rem.RemoteBeacon.query_schema = orig_qs


def test_federated_quoted_and_dotted_fall_back(spark, served, tmp_path):
    """VERDICT r7 item 6: backtick-quoted and dotted table spellings in
    table position must FALL BACK to the per-table path (never
    mis-push): the conservative scanner returns None for the quoted
    form, and a dotted ident never matches a remote name."""
    import beacon_spark.server.remote as rem

    _eng, _server, port = served
    pushed = []
    orig_qs = rem.RemoteBeacon.query_schema

    def spy(self, sql):
        pushed.append(sql)
        return orig_qs(self, sql)

    rem.RemoteBeacon.query_schema = spy
    try:
        ceng = Engine(spark, datasets_root=str(tmp_path / "fedq"))
        ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS lake")
        pushed.clear()
        # backtick-quoted: whole-statement pushdown must not engage
        # (query_schema never called); the per-table lazy scan still
        # answers the query correctly
        rows = ceng.sql(
            "SELECT count(*) AS c FROM `lake__remobs`").collect()
        assert rows[0].c == 20
        assert pushed == [], pushed
        # dotted spelling resolves to no remote table — falls back
        # (errors locally as an unknown table rather than mis-pushing)
        pushed.clear()
        try:
            ceng.sql("SELECT count(*) AS c FROM nosuchdb.lake__remobs"
                     ).collect()
        except Exception:
            pass
        assert pushed == [], pushed
        ceng.sql("DETACH lake")
    finally:
        rem.RemoteBeacon.query_schema = orig_qs


def test_federated_order_by_preserved_single_partition(spark, served, tmp_path):
    """ADVICE r7: a whole-pushed ORDER BY statement is rewritten locally
    to `SELECT * FROM __fed_x`, so result order rides on _RemoteReader's
    single-partition contract. Pin both: partitions() == [one], and the
    end-to-end rows come back in remote order."""
    from beacon_spark.server.remote_datasource import _RemoteReader
    from pyspark.sql.types import LongType, StructField, StructType

    _eng, _server, port = served
    reader = _RemoteReader(
        StructType([StructField("id", LongType())]),
        {"url": f"grpc://127.0.0.1:{port}", "sql": "SELECT 1 AS id"},
    )
    assert len(reader.partitions()) == 1
    ceng = Engine(spark, datasets_root=str(tmp_path / "fedord"))
    ceng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS lake")
    rows = ceng.sql(
        "SELECT id FROM lake__remobs ORDER BY id DESC LIMIT 5").collect()
    assert [r.id for r in rows] == [19, 18, 17, 16, 15]
    ceng.sql("DETACH lake")


def test_federated_cte_shadowing_remote_name_not_rewritten(spark, served, tmp_path):
    """A statement-local CTE whose name collides with a remote table
    spelling must NOT be renamed at its FROM reference: the refs scanner
    already skips CTE names, and the span-substitution loop must skip
    them too, or the pushed statement reads the remote table where the
    (filtered) CTE was meant — silently wrong results."""
    eng, _server, port = served
    eng.sql("CREATE TABLE wide AS SELECT id, id * 2 AS a FROM range(20)")
    client_eng = Engine(spark, datasets_root=str(tmp_path / "fedcte"))
    client_eng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fz")
    try:
        out = client_eng.sql(
            "WITH fz__remobs AS (SELECT id FROM fz__wide WHERE id > 15) "
            "SELECT count(*) AS c FROM fz__remobs"
        ).collect()
        # remobs itself has 20 rows: the old statement-wide rewrite sent
        # the outer FROM to the remote table and answered 20
        assert out[0].c == 4
    finally:
        client_eng.sql("DETACH fz")


def test_federated_rename_target_shadowed_by_cte_bails(spark, served, tmp_path):
    """code-review r8 finding, the inverse of the shadowing case: when a
    remote reference's RENAME TARGET collides with a statement-local CTE
    name, the pushed statement's `FROM <target>` would resolve to the
    shipped CTE on the remote — wrong results. Pushdown must bail and
    join locally."""
    eng, _server, port = served
    eng.sql("CREATE TABLE wide2 AS SELECT id, id * 2 AS a FROM range(20)")
    client_eng = Engine(spark, datasets_root=str(tmp_path / "fedcte2"))
    client_eng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fy")
    try:
        out = client_eng.sql(
            "WITH wide2 AS (SELECT 1 AS id) "
            "SELECT count(*) AS c FROM fy__wide2"
        ).collect()
        # fy__wide2 is the 20-row REMOTE table; a whole-pushed rewrite to
        # bare `wide2` would read the 1-row CTE instead
        assert out[0].c == 20
    finally:
        client_eng.sql("DETACH fy")


# -------------------------------------------- r11 transport-review findings


def test_flight_invalid_credentials_never_fall_through(spark, served):
    """r11 review FL1: a presented-but-invalid credential on a
    TOKEN-LESS Flight server used to fall through to the
    unauthenticated rule and resolve to the embedded super-user — the
    exact hole the HTTP transport closed in r10. Any unrecognized
    credential is now refused outright; non-ASCII Authorization bytes
    must not crash compare_digest either."""
    import pyarrow.flight as fl

    _eng, _server, port = served  # token-less server
    for bad in ["Bearer not-a-real-token", "Negotiate blob"]:
        client = fl.FlightClient(f"grpc://127.0.0.1:{port}")
        opts = fl.FlightCallOptions(
            headers=[(b"authorization", bad.encode())])
        with pytest.raises(fl.FlightUnauthenticatedError):
            client.do_get(
                fl.Ticket(json.dumps({"sql": "SELECT 1 AS x"}).encode()),
                options=opts,
            ).read_all()
    # non-ASCII header bytes must not crash compare_digest on a
    # TOKEN-CONFIGURED server either (gRPC clients can't even send
    # these, so pin the middleware directly)
    from beacon_spark.server.flight import _BearerAuth

    mw = _BearerAuth(_eng, token="sekrit")
    with pytest.raises(fl.FlightUnauthenticatedError):
        mw.start_call(None, {"authorization": ["Bearer caf\u00e9-\u2603"]})


def test_flight_table_names_are_identifier_gated(spark, served):
    """r11 review FL2/FL3: path-descriptor table names and do_put
    targets interpolate into SQL — anything beyond a bare identifier
    must be refused (same gate as the HTTP/MCP table routes)."""
    import pyarrow as pa
    import pyarrow.flight as fl

    _eng, _server, port = served
    client = fl.FlightClient(f"grpc://127.0.0.1:{port}")
    evil = "remobs WHERE 1=0); DROP TABLE remobs; --"
    with pytest.raises(fl.FlightError, match="bare identifier"):
        client.get_flight_info(fl.FlightDescriptor.for_path(evil))
    schema = pa.schema([("id", pa.int64()), ("g", pa.int64())])
    with pytest.raises(fl.FlightError, match="bare identifier"):
        w, _ = client.do_put(fl.FlightDescriptor.for_path(evil), schema)
        w.write_table(pa.table({"id": [99], "g": [0]}))
        w.close()
    # the legit path still works end-to-end
    info = client.get_flight_info(fl.FlightDescriptor.for_path("remobs"))
    assert client.do_get(info.endpoints[0].ticket).read_all().num_rows == 20


def test_flightsql_get_tables_skips_unreadable(spark, tmp_path):
    """r11 review FS7: CommandGetTables include_schema=true omits
    tables the caller cannot read instead of failing the whole
    metadata probe over one denied table."""
    import base64

    import pyarrow.flight as fl

    from beacon_spark.server import BeaconFlightServer
    from beacon_spark.server.flightsql import (
        _GET_TABLES_SCHEMA_WITH_SCHEMA,
        _field_varint,
        encode_any,
        encode_string_msg,
    )

    root = str(tmp_path / "fsql_root")
    import os as _os

    _os.makedirs(root)
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE pub AS SELECT 1 AS x")
    eng.sql("CREATE TABLE sec AS SELECT 2 AS y")
    eng.sql("CREATE USER carol WITH PASSWORD 'pw'")
    eng.sql("CREATE ROLE fsql_readers")
    eng.sql("GRANT SELECT ON TABLE pub TO ROLE fsql_readers")
    eng.sql("GRANT ROLE fsql_readers TO USER carol")
    eng.sql("SET AUTH ENFORCEMENT ON")
    server = BeaconFlightServer(eng, port=0)
    port = server.serve_background()
    try:
        client = fl.FlightClient(f"grpc://127.0.0.1:{port}")
        basic = b"Basic " + base64.b64encode(b"carol:pw")
        opts = fl.FlightCallOptions(headers=[(b"authorization", basic)])
        cmd = encode_any("CommandGetTables", _field_varint(5, 1))
        info = client.get_flight_info(
            fl.FlightDescriptor.for_command(cmd), options=opts)
        t = client.do_get(info.endpoints[0].ticket, options=opts).read_all()
        names = t.column("table_name").to_pylist()
        assert "pub" in names and "sec" not in names
        assert t.schema.equals(_GET_TABLES_SCHEMA_WITH_SCHEMA)
    finally:
        server.shutdown()


def test_client_anonymous_rides_rbac(spark, tmp_path):
    """r11 review C1: as_anonymous()/connect(auth=True) resolved to
    user=None — the embedded SUPER-user — so 'anonymous read-only'
    could read RBAC-denied tables. The identity now rides
    resolve_unauthenticated: the provisioned anonymous principal with
    its deny-wins grants, or a refusal when none exists."""
    import beacon_spark.client as beacondb

    con = beacondb.connect(str(tmp_path / "lake"), spark=spark)
    con.sql("CREATE TABLE open_t AS SELECT 1 AS x")
    con.sql("CREATE TABLE closed_t AS SELECT 2 AS y")
    con.sql("CREATE USER anonymous WITH PASSWORD ''")
    con.sql("CREATE ROLE anon_read")
    con.sql("GRANT SELECT ON TABLE open_t TO ROLE anon_read")
    con.sql("GRANT ROLE anon_read TO USER anonymous")
    con.sql("SET AUTH ENFORCEMENT ON")

    anon = con.as_anonymous()
    assert anon.whoami()["anonymous"] is True
    assert anon.sql("SELECT * FROM open_t").fetchall() == [(1,)]
    with pytest.raises(beacondb.Error):
        anon.sql("SELECT * FROM closed_t").fetchall()
    with pytest.raises(beacondb.NotPermittedError):
        anon.sql("DROP TABLE open_t").fetchall()


def test_pushed_string_values_escape_per_dialect(spark, served, tmp_path):
    """r11 review: pushed filter VALUES are dialect-escaped. ''-doubling
    alone desyncs Spark/MySQL lexers on a value ending in a backslash —
    the escaped closing quote swallows the next predicate into the
    string and re-opens code at an attacker-chosen point (filter-value
    SQL injection into the remote statement from a read-only caller).
    Values with backslashes and quotes must round-trip exactly."""
    from beacon_spark.server.remote_datasource import _quote_value

    # unit pins per dialect
    assert _quote_value("x\\", "spark") == "'x\\\\'"
    assert _quote_value("a'b", "spark") == "'a''b'"
    assert _quote_value("x\\", "mysql") == "'x\\\\'"
    assert _quote_value("x\\", "postgres") == "'x\\'"  # PG: literal backslash
    assert _quote_value("a'b", "postgres") == "'a''b'"

    # end-to-end through a live federated scan: the nasty values behave
    # as VALUES, never as statement text
    eng, _server, port = served
    eng.sql("CREATE TABLE nasty AS SELECT * FROM VALUES "
            "(1, 'plain'), (2, 'x\\\\'), (3, 'a''b'), "
            "(4, 'tail\\\\') AS t(id, s)")
    client_eng = Engine(spark, datasets_root=str(tmp_path / "nasty_client"))
    client_eng.sql(f"ATTACH 'grpc://127.0.0.1:{port}' AS fed2")
    try:
        got = client_eng.sql(
            "SELECT id FROM fed2__nasty WHERE s = 'x\\\\' OR s = 'a''b'"
        ).collect()
        assert sorted(r.id for r in got) == [2, 3]
        # two predicates where the first value ends in a backslash: the
        # injection shape — the second predicate must stay a predicate
        got2 = client_eng.sql(
            "SELECT id FROM fed2__nasty WHERE s != 'x\\\\' AND id < 4"
        ).collect()
        assert sorted(r.id for r in got2) == [1, 3]
    finally:
        client_eng.sql("DETACH fed2")


def test_remote_metadata_calls_carry_deadline():
    """A hung remote endpoint (accepts TCP, never answers) must fail a
    metadata call within the deadline instead of blocking every engine
    statement for the OS TCP timeout — list_tables runs inside
    _register_catalog."""
    import socket
    import threading
    import time as _time

    from beacon_spark.server.remote import RemoteBeacon

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def hang():
        conns = []
        srv.settimeout(0.2)
        while not stop.is_set():
            try:
                c, _ = srv.accept()
                conns.append(c)  # accept and say nothing
            except OSError:
                pass
        for c in conns:
            c.close()

    t = threading.Thread(target=hang, daemon=True)
    t.start()
    try:
        rb = RemoteBeacon(f"grpc://127.0.0.1:{port}")
        rb.METADATA_TIMEOUT_SECS = 2.0
        t0 = _time.monotonic()
        with pytest.raises(Exception):
            rb.list_tables()
        assert _time.monotonic() - t0 < 15.0
        rb.close()
    finally:
        stop.set()
        t.join(timeout=2)
        srv.close()
