"""RBAC: users/roles/grants with deny-wins read checks + the super-user
gate (auth.py; reference beacon-db/beacon-auth, statement_plan/
authz.rs:25-41, parser/statement.rs:141-211, and the non-super-user
gating tests in runtime.rs:640-1290)."""

import base64
import json
import urllib.error
import urllib.request

import pytest

from beacon_spark.auth import AuthError, check_password, hash_password
from beacon_spark.engine import Engine


@pytest.fixture()
def aeng(spark, tmp_path):
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE secrets AS SELECT id, id * 7 AS v FROM range(10)")
    eng.sql("CREATE TABLE public AS SELECT id FROM range(5)")
    eng.sql("CREATE USER alice WITH PASSWORD 'pw1'")
    eng.sql("CREATE USER root WITH PASSWORD 'pw0' SUPERUSER")
    eng.sql("CREATE ROLE readers")
    eng.sql("GRANT ROLE readers TO USER alice")
    return eng


def test_password_hashing_roundtrip():
    h = hash_password("s3cret")
    assert h.startswith("pbkdf2$") and "s3cret" not in h
    assert check_password("s3cret", h)
    assert not check_password("wrong", h)


def test_super_user_gate_on_ddl_dml(aeng):
    """Non-super users cannot run DDL/DML/statements — the
    validate_query_plan gate (mod.rs:58-78); super-users can."""
    for stmt in [
        "CREATE TABLE t2 AS SELECT 1 AS x",
        "INSERT INTO public SELECT 99",
        "DELETE FROM public WHERE id = 0",
        "DROP TABLE public",
        "COPY public TO 'out.parquet'",
    ]:
        with pytest.raises(AuthError, match="super-user"):
            aeng.sql(stmt, user="alice")
    # nothing leaked through
    assert aeng.sql("SELECT count(*) AS n FROM public").collect()[0].n == 5
    # the super-user runs the same statement fine
    aeng.sql("CREATE TABLE t2 AS SELECT 1 AS x", user="root")
    assert "t2" in aeng.table_names()


def test_auth_ddl_requires_super_user(aeng):
    with pytest.raises(AuthError, match="super-user"):
        aeng.sql("CREATE USER mallory WITH PASSWORD 'x'", user="alice")
    with pytest.raises(AuthError, match="super-user"):
        aeng.sql("GRANT SELECT ON ALL TO ROLE readers", user="alice")
    # and SHOW USERS is part of the restricted auth directory
    with pytest.raises(AuthError, match="super-user"):
        aeng.sql("SHOW USERS", user="alice")
    rows = aeng.sql("SHOW USERS", user="root").collect()
    assert {r.user_name for r in rows} == {"alice", "root"}


def test_enforcement_default_deny_and_grants(aeng):
    # enforcement off (default): reads pass for any known user
    assert aeng.sql("SELECT count(*) AS n FROM secrets",
                    user="alice").collect()[0].n == 10
    aeng.sql("SET AUTH ENFORCEMENT ON")
    # default-deny
    with pytest.raises(AuthError, match="SELECT on table 'secrets'"):
        aeng.sql("SELECT * FROM secrets", user="alice")
    # grant on ONE table opens exactly that table
    aeng.sql("GRANT SELECT ON TABLE public TO ROLE readers")
    assert aeng.sql("SELECT count(*) AS n FROM public",
                    user="alice").collect()[0].n == 5
    with pytest.raises(AuthError):
        aeng.sql("SELECT * FROM secrets", user="alice")
    # ALL target
    aeng.sql("GRANT SELECT ON ALL TO ROLE readers")
    assert aeng.sql("SELECT count(*) AS n FROM secrets",
                    user="alice").collect()[0].n == 10
    # unknown users stay out regardless
    with pytest.raises(AuthError, match="unknown user"):
        aeng.sql("SELECT 1", user="nobody")


def test_deny_wins_over_grant(aeng):
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON ALL TO ROLE readers")
    aeng.sql("DENY SELECT ON TABLE secrets TO ROLE readers")
    assert aeng.sql("SELECT count(*) AS n FROM public",
                    user="alice").collect()[0].n == 5
    with pytest.raises(AuthError, match="permission denied"):
        aeng.sql("SELECT * FROM secrets", user="alice")
    # revoking the deny restores the grant
    aeng.sql("REVOKE DENY SELECT ON TABLE secrets FROM ROLE readers")
    assert aeng.sql("SELECT count(*) AS n FROM secrets",
                    user="alice").collect()[0].n == 10


def test_path_grants_gate_read_functions(aeng, spark, tmp_path):
    spark.range(6).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "open.parquet"))
    spark.range(9).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "hidden.parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON PATH 'open*' TO ROLE readers")
    n = aeng.sql("SELECT count(*) AS n FROM read_parquet('open.parquet')",
                 user="alice").collect()[0].n
    assert n == 6
    with pytest.raises(AuthError, match="SELECT on path"):
        aeng.sql("SELECT count(*) AS n FROM read_parquet('hidden.parquet')",
                 user="alice")


def test_drop_role_revokes_membership(aeng):
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON ALL TO ROLE readers")
    assert aeng.sql("SELECT 1 AS x FROM public LIMIT 1",
                    user="alice").count() == 1
    aeng.sql("DROP ROLE readers")
    with pytest.raises(AuthError):
        aeng.sql("SELECT 1 AS x FROM public LIMIT 1", user="alice")
    rows = aeng.sql("SHOW USERS").collect()
    assert next(r for r in rows if r.user_name == "alice").roles == ""


def test_auth_persists_across_engines(aeng, spark):
    eng2 = Engine(spark, datasets_root=aeng.datasets_root)
    with pytest.raises(AuthError, match="super-user"):
        eng2.sql("CREATE TABLE nope AS SELECT 1", user="alice")
    # password hashes (not plaintext) persisted in the catalog
    raw = open(eng2.catalog.file).read()
    assert "pw1" not in raw and "pbkdf2$" in raw


def test_http_basic_auth_rbac(spark, aeng):
    from beacon_spark.server.http import BeaconHttpServer

    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON TABLE public TO ROLE readers")
    hs = BeaconHttpServer(aeng, port=0, token="admintok")
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}"

    def post(obj, auth_header):
        req = urllib.request.Request(
            f"{base}/api/query", data=json.dumps(obj).encode(),
            headers={"Content-Type": "application/json",
                     "Authorization": auth_header}, method="POST")
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())

    basic = "Basic " + base64.b64encode(b"alice:pw1").decode()
    try:
        rows = post({"sql": "SELECT count(*) AS n FROM public",
                     "format": "json"}, basic)
        assert rows[0]["n"] == 5
        # denied table -> clean 400 carrying the permission error
        try:
            post({"sql": "SELECT * FROM secrets", "format": "json"}, basic)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and b"permission denied" in e.read()
        # DDL as the basic user -> denied
        try:
            post({"sql": "DROP TABLE public", "format": "json"}, basic)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and b"super-user" in e.read()
        # the DSL names its targets, so RBAC checks them EXACTLY:
        # a granted table passes, a denied one 400s
        rows = post({"select": ["id"], "from": "public", "limit": 2,
                     "format": "json"}, basic)
        assert len(rows) == 2
        try:
            post({"select": ["id"], "from": "secrets", "format": "json"},
                 basic)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and b"permission denied" in e.read()
        # wrong password -> 401
        bad = "Basic " + base64.b64encode(b"alice:wrong").decode()
        try:
            post({"sql": "SELECT 1", "format": "json"}, bad)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 401
        # bearer token remains the transport super-identity
        rows = post({"sql": "SELECT count(*) AS n FROM secrets",
                     "format": "json"}, "Bearer admintok")
        assert rows[0]["n"] == 10
    finally:
        hs.shutdown()


def test_flight_basic_auth_rbac(spark, aeng):
    """Flight calls carry identities too: Basic creds resolve to an RBAC
    user whose statements are gated; Bearer stays the transport super."""
    import pyarrow.flight as fl

    from beacon_spark.server import BeaconFlightServer

    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON TABLE public TO ROLE readers")
    server = BeaconFlightServer(aeng, port=0, token="ftok")
    port = server.serve_background()
    try:
        def client_with(header):
            c = fl.FlightClient(f"grpc://127.0.0.1:{port}")
            opts = fl.FlightCallOptions(
                headers=[(b"authorization", header.encode())])
            return c, opts

        import base64
        basic = "Basic " + base64.b64encode(b"alice:pw1").decode()
        c, opts = client_with(basic)
        t = c.do_get(fl.Ticket(json.dumps(
            {"sql": "SELECT count(*) AS n FROM public"}).encode()),
            options=opts).read_all()
        assert t.column("n").to_pylist() == [5]
        # denied table -> clean FlightError carrying the permission error
        import pyarrow as pa
        with pytest.raises((fl.FlightError, pa.ArrowException),
                           match="permission denied"):
            c.do_get(fl.Ticket(json.dumps(
                {"sql": "SELECT * FROM secrets"}).encode()),
                options=opts).read_all()
        # DDL via do_put as the basic user -> denied
        tbl = pa.table({"id": pa.array([77], pa.int64())})
        with pytest.raises((fl.FlightError, pa.ArrowException),
                           match="super-user"):
            w, _ = c.do_put(fl.FlightDescriptor.for_path("public"),
                            tbl.schema, options=opts)
            w.write_table(tbl)
            w.close()
        # wrong password -> unauthenticated
        c2, opts2 = client_with(
            "Basic " + base64.b64encode(b"alice:nope").decode())
        with pytest.raises(fl.FlightUnauthenticatedError):
            c2.do_get(fl.Ticket(json.dumps({"sql": "SELECT 1"}).encode()),
                      options=opts2).read_all()
        # bearer remains the transport super-identity
        c3, opts3 = client_with("Bearer ftok")
        t = c3.do_get(fl.Ticket(json.dumps(
            {"sql": "SELECT count(*) AS n FROM secrets"}).encode()),
            options=opts3).read_all()
        assert t.column("n").to_pylist() == [10]
    finally:
        server.shutdown()


def test_direct_file_scans_are_gated(aeng, spark, tmp_path):
    """Review fix: SELECT * FROM parquet.`/path` is a path read with no
    catalog name — it must hit the path grants, not slip past."""
    p = str(tmp_path / "raw.parquet")
    spark.range(4).coalesce(1).write.mode("overwrite").parquet(p)
    aeng.sql("SET AUTH ENFORCEMENT ON")
    with pytest.raises(AuthError, match="permission denied"):
        aeng.sql(f"SELECT * FROM parquet.`{p}`", user="alice")
    aeng.sql(f"GRANT SELECT ON PATH '{p}' TO ROLE readers")
    n = aeng.sql(f"SELECT count(*) AS n FROM parquet.`{p}`",
                 user="alice").collect()[0].n
    assert n == 4


def test_multi_path_read_fn_checks_every_argument(aeng, spark, tmp_path):
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "open.parquet"))
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "hidden.parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON PATH 'open*' TO ROLE readers")
    # the SECOND path argument must be authorized too
    with pytest.raises(AuthError, match="hidden"):
        aeng.sql(
            "SELECT count(*) AS n FROM "
            "read_parquet('open.parquet', 'hidden.parquet')",
            user="alice",
        )


def test_deny_not_dodged_by_path_spelling(aeng, spark, tmp_path):
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "hidden.parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON ALL TO ROLE readers")
    aeng.sql("DENY SELECT ON PATH 'hidden*' TO ROLE readers")
    # './hidden.parquet' normalizes to the denied spelling
    with pytest.raises(AuthError, match="permission denied"):
        aeng.sql("SELECT count(*) AS n FROM read_parquet('./hidden.parquet')",
                 user="alice")


def test_explain_and_parse_endpoints_thread_identity(spark, aeng):
    """Review fix: /api/explain-query must not run DDL as the embedded
    super-user for a Basic-authenticated caller."""
    from beacon_spark.server.http import BeaconHttpServer

    hs = BeaconHttpServer(aeng, port=0)
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}"
    basic = "Basic " + base64.b64encode(b"alice:pw1").decode()
    try:
        req = urllib.request.Request(
            f"{base}/api/explain-query",
            data=json.dumps({"sql": "DROP TABLE secrets"}).encode(),
            headers={"Content-Type": "application/json",
                     "Authorization": basic}, method="POST")
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            # r8 hardening: the read-only gate now refuses DDL on the
            # plan endpoints for EVERY identity (super included) before
            # RBAC even looks at it
            assert e.code == 400 and b"read-only" in e.read()
        # crucially, the table still exists
        assert aeng.sql("SELECT count(*) AS n FROM secrets").collect()[0].n == 10
    finally:
        hs.shutdown()


def test_sql_body_output_block_requires_super(aeng, tmp_path):
    """Review fix: {"sql": ..., "output": ...} must gate file output
    exactly like the DSL branch does."""
    with pytest.raises(AuthError, match="super-user"):
        aeng.query(
            {"sql": "SELECT 1 AS x", "output": {"format": "csv"}},
            output_path=str(tmp_path / "o.csv"), user="alice",
        )


def test_dsl_path_deny_not_dodged_by_spelling(aeng, spark, tmp_path):
    """Round-5 review (high): authorize_dsl must run the same normalized
    deny-wins walk as the SQL path — './x' and absolute spellings must
    hit a relative DENY."""
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "hidden.parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON ALL TO ROLE readers")
    aeng.sql("DENY SELECT ON PATH 'hidden*' TO ROLE readers")
    for spelling in (
        "hidden.parquet",
        "./hidden.parquet",
        str(tmp_path / "hidden.parquet"),  # absolute
    ):
        with pytest.raises(AuthError, match="permission denied"):
            aeng.query(
                {"select": ["id"], "from": {"parquet": {"paths": [spelling]}}},
                user="alice",
            )
    # a non-denied path under the same grant still works
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "open.parquet"))
    rows = aeng.query(
        {"select": ["id"], "from": {"parquet": {"paths": ["open.parquet"]}}},
        user="alice",
    ).collect()
    assert len(rows) == 3


def test_absolute_spelling_hits_relative_deny_in_sql(aeng, spark, tmp_path):
    """_path_candidates adds the root-stripped relative form for
    absolute inputs under datasets_root."""
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "hidden.parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON ALL TO ROLE readers")
    aeng.sql("DENY SELECT ON PATH 'hidden*' TO ROLE readers")
    with pytest.raises(AuthError, match="permission denied"):
        aeng.sql(
            f"SELECT count(*) AS n FROM read_parquet('{tmp_path}/hidden.parquet')",
            user="alice",
        )


def test_metadata_endpoints_honor_rbac(spark, aeng, tmp_path):
    """Round-5 review (medium): schema introspection runs as the
    authenticated identity, not the embedded super-user — a denied
    table/path can't be enumerated via /api/table-schema,
    /api/dataset-schema, or MCP describe_table."""
    from beacon_spark.server.http import BeaconHttpServer

    spark.range(5).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "hidden.parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON TABLE public TO ROLE readers")
    aeng.sql("DENY SELECT ON TABLE secrets TO ROLE readers")
    aeng.sql("DENY SELECT ON PATH 'hidden*' TO ROLE readers")
    hs = BeaconHttpServer(aeng, port=0, token="admintok")
    port = hs.serve_background()
    base = f"http://127.0.0.1:{port}"
    basic = "Basic " + base64.b64encode(b"alice:pw1").decode()

    def get(path, auth_header):
        req = urllib.request.Request(
            f"{base}{path}", headers={"Authorization": auth_header})
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())

    try:
        # granted table: schema visible
        sch = get("/api/table-schema?table=public", basic)
        assert any(f["name"] == "id" for f in sch["fields"])
        # denied table: clean 4xx, no schema leak
        try:
            get("/api/table-schema?table=secrets", basic)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and b"permission denied" in e.read()
        # denied dataset path: clean 4xx
        try:
            get("/api/dataset-schema?dataset=hidden.parquet", basic)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and b"permission denied" in e.read()
        # the transport super-identity still introspects everything
        sch = get("/api/table-schema?table=secrets", "Bearer admintok")
        assert any(f["name"] == "v" for f in sch["fields"])
        sch = get("/api/dataset-schema?dataset=hidden.parquet",
                  "Bearer admintok")
        assert any(f["name"] == "id" for f in sch["fields"])
        # MCP describe_table as the restricted identity
        resp = hs._mcp_handle(
            {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
             "params": {"name": "describe_table",
                        "arguments": {"table": "secrets"}}},
            "alice",
        )
        assert resp.get("error") or resp["result"].get("isError"), resp
        blob = json.dumps(resp)
        assert "permission denied" in blob
    finally:
        hs.shutdown()


def test_flightsql_get_tables_include_schema_honors_rbac(spark, aeng):
    """CommandGetTables(include_schema=true) runs schema probes as the
    Flight caller (flightsql.py _metadata_table user threading)."""
    from beacon_spark.server.flightsql import (
        FlightSqlHandler, encode_string_msg,
    )
    from beacon_spark.server.limits import QueryLimits

    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON TABLE public TO ROLE readers")
    aeng.sql("DENY SELECT ON TABLE secrets TO ROLE readers")
    h = FlightSqlHandler(aeng, QueryLimits())
    payload = encode_string_msg(3, "secrets") + b"\x28\x01"  # include_schema
    # r11: a denied table is OMITTED from the result (the HTTP
    # tables-with-schema contract) instead of failing the caller's
    # whole metadata probe with an AuthError
    t = h._metadata_table("CommandGetTables", payload, user="alice")
    assert t.num_rows == 0
    # the granted table's schema is served fine
    t = h._metadata_table(
        "CommandGetTables", encode_string_msg(3, "public") + b"\x28\x01",
        user="alice",
    )
    assert t.num_rows == 1


def test_enforced_server_refuses_unauthenticated_or_uses_anonymous(spark, tmp_path):
    """With grant enforcement ON, an unauthenticated request must never
    run as the embedded super-user: it resolves to the provisioned
    'anonymous' principal (context.rs:12 set_anonymous_user contract)
    or is refused with a 401."""
    import json as _json
    import urllib.error
    import urllib.request

    from beacon_spark.engine import Engine
    from beacon_spark.server.http import BeaconHttpServer

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE pub AS SELECT 1 AS a")
    eng.sql("CREATE TABLE hid AS SELECT 2 AS b")
    eng.sql("SET AUTH ENFORCEMENT ON")
    srv = BeaconHttpServer(eng, port=0)
    port = srv.serve_background()
    base = f"http://127.0.0.1:{port}"

    def q(sql):
        req = urllib.request.Request(
            f"{base}/api/query",
            data=_json.dumps({"sql": sql, "format": "json"}).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req) as r:
            return _json.loads(r.read())

    try:
        # no anonymous principal yet: refused outright
        with pytest.raises(urllib.error.HTTPError) as e:
            q("SELECT 1 AS x")
        assert e.value.code == 401

        # provision anonymous with a grant on pub only
        eng.sql("CREATE USER anonymous WITH PASSWORD ''")
        eng.sql("CREATE ROLE public_read")
        eng.sql("GRANT SELECT ON TABLE pub TO ROLE public_read")
        eng.sql("GRANT ROLE public_read TO USER anonymous")

        assert q("SELECT * FROM pub") == [{"a": 1}]
        with pytest.raises(urllib.error.HTTPError) as e:
            q("SELECT * FROM hid")   # not granted → denied
        assert e.value.code == 400
        with pytest.raises(urllib.error.HTTPError):
            q("DROP TABLE hid")      # anonymous is never super
    finally:
        srv.shutdown()


# ---- round-8 security review regressions ----


def test_write_keywords_not_smuggled_via_backslash_literal(aeng):
    """Spark's default lexer treats backslash as an escape inside string
    literals; a blanking regex that only knew the '' doubling desynced
    on '\\'' and let write keywords ride inside a fake 'literal'."""
    atk = ("WITH a AS (SELECT '\\'') INSERT OVERWRITE DIRECTORY "
           "'/tmp/pwn' USING parquet SELECT 1")
    with pytest.raises(AuthError, match="super-user"):
        aeng.sql(atk, user="alice")
    # references can't hide inside a desynced fake literal either
    with pytest.raises(AuthError, match="metadata schemas"):
        aeng.sql("SELECT '\\'', information_schema.tables.x", user="alice")


def test_read_fn_paren_inside_glob_still_checked(aeng, spark, tmp_path):
    """A ')' inside a quoted glob must not truncate the auth-side
    argument capture: the engine's own regex consumes the whole quoted
    literal and reads the file, so auth must check the same path."""
    (tmp_path / "sec").mkdir()
    spark.range(3).write.parquet(str(tmp_path / "sec" / "x).parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON TABLE public TO ROLE readers")
    with pytest.raises(AuthError, match="permission denied"):
        aeng.sql("SELECT * FROM read_parquet('sec/x).parquet')",
                 user="alice")


def test_file_scan_comment_between_tokens_still_gated(aeng, spark, tmp_path):
    """Spark's lexer allows comments between any tokens: parquet/**/.`p`
    is a direct-file scan and must hit the path check."""
    spark.range(3).write.parquet(str(tmp_path / "gsec.parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON TABLE public TO ROLE readers")
    with pytest.raises(AuthError, match="permission denied"):
        aeng.sql("SELECT * FROM parquet/**/.`gsec.parquet`", user="alice")


def test_glob_metacharacters_cannot_dodge_path_deny(aeng, spark, tmp_path):
    """A char-class spelling ([s]ecret/x) fnmatch-misses a deny aimed at
    secret/* while the engine expands it to exactly that file — the
    check must also cover the RESOLVED paths."""
    (tmp_path / "secretd").mkdir()
    spark.range(3).write.parquet(str(tmp_path / "secretd" / "x.parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON PATH '*' TO ROLE readers")
    aeng.sql("DENY SELECT ON PATH 'secretd/*' TO ROLE readers")
    with pytest.raises(AuthError, match="permission denied"):
        aeng.sql("SELECT * FROM read_parquet('[s]ecretd/x.parquet/*')",
                 user="alice")
    # DSL path too
    with pytest.raises(AuthError, match="permission denied"):
        aeng.query({"select": ["id"], "from": {
            "parquet": {"paths": ["[s]ecretd/x.parquet/*"]}}}, user="alice")


def test_dsl_explicit_null_from_checks_default_table(spark, tmp_path):
    """An explicit "from": null falls back to the engine's default table
    exactly like an absent key — it must be checked, not waved through."""
    eng = Engine(spark, datasets_root=str(tmp_path / "dflt"))
    eng.sql("CREATE TABLE sensitive AS SELECT id FROM range(5)")
    eng.default_table = "sensitive"
    eng.sql("CREATE USER bob WITH PASSWORD 'pw'")
    eng.sql("CREATE ROLE r1")
    eng.sql("GRANT ROLE r1 TO USER bob")
    eng.sql("SET AUTH ENFORCEMENT ON")
    with pytest.raises(AuthError, match="permission denied"):
        eng.query({"select": ["id"], "from": None}, user="bob")
    with pytest.raises(AuthError, match="permission denied"):
        eng.query({"select": ["id"]}, user="bob")


def test_dsl_string_paths_checked_as_one_path(aeng, spark, tmp_path):
    """A bare-string DSL paths value is ONE path (the engine wraps it);
    authorizing it character-by-character let denies slip."""
    spark.range(3).write.parquet(str(tmp_path / "sfile.parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON PATH '*' TO ROLE readers")
    aeng.sql("DENY SELECT ON PATH 'sfile.parquet*' TO ROLE readers")
    with pytest.raises(AuthError, match="permission denied"):
        aeng.query({"select": ["id"], "from": {
            "parquet": {"paths": "sfile.parquet/*"}}}, user="alice")


def test_verify_user_unknown_name_constant_cost(aeng):
    """Unknown usernames pay the same PBKDF2 cost as real ones (timing
    oracle) — pinned behaviorally: both return False/True correctly."""
    import time

    from beacon_spark.auth import verify_user

    assert verify_user(aeng, "alice", "pw1")
    t0 = time.perf_counter()
    assert not verify_user(aeng, "ghost-user", "pw1")
    ghost = time.perf_counter() - t0
    t0 = time.perf_counter()
    assert not verify_user(aeng, "alice", "wrong")
    real = time.perf_counter() - t0
    # both paths hash; the unknown-user path must not be near-zero
    assert ghost > real / 10


def test_glob_expansion_failure_fails_closed(aeng, spark, tmp_path, monkeypatch):
    """If glob expansion ERRORS (transient listing/storage failure, not
    'no match'), the concrete-file deny check cannot run — the gate must
    DENY, not silently fall back to textual candidates the char-class
    spelling was crafted to dodge (ADVICE r8)."""
    (tmp_path / "secretd").mkdir()
    spark.range(3).write.parquet(str(tmp_path / "secretd" / "x.parquet"))
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON PATH '*' TO ROLE readers")
    aeng.sql("DENY SELECT ON PATH 'secretd/*' TO ROLE readers")

    from beacon_spark.sources import paths as _paths

    def boom(*a, **k):
        raise RuntimeError("listing backend unavailable")

    monkeypatch.setattr(_paths, "resolve_globs", boom)
    with pytest.raises(AuthError, match="permission denied"):
        aeng.sql("SELECT * FROM read_parquet('[s]ecretd/x.parquet/*')",
                 user="alice")


def test_glob_no_match_still_textual_checked(aeng, spark, tmp_path):
    """A glob matching nothing is NOT an expansion failure: the textual
    candidates still gate, and a granted-but-empty glob read fails on
    the read itself, not with an AuthError."""
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON PATH '*' TO ROLE readers")
    with pytest.raises(Exception) as ei:
        aeng.sql("SELECT * FROM read_parquet('nosuch-*.parquet')",
                 user="alice")
    assert not isinstance(ei.value, AuthError)


# ---- reads are checked where they resolve (resolve_from + plan walk) ----


@pytest.fixture()
def probe_eng(aeng, spark, tmp_path):
    """Enforcement on; ``public`` granted, table ``secrets`` and path
    ``hidden*`` denied; an attached lake whose table nobody granted."""
    spark.range(5).coalesce(1).write.parquet(str(tmp_path / "hidden.parquet"))
    lake = Engine(spark, datasets_root=str(tmp_path / "lake"))
    lake.sql("CREATE TABLE payroll AS SELECT id FROM range(4)")
    aeng.sql(f"ATTACH '{tmp_path / 'lake'}' AS hr")
    aeng.sql("CREATE VIEW curated AS SELECT id FROM secrets WHERE id < 3")
    aeng.sql("SET AUTH ENFORCEMENT ON")
    aeng.sql("GRANT SELECT ON TABLE public TO ROLE readers")
    aeng.sql("GRANT SELECT ON TABLE curated TO ROLE readers")
    aeng.sql("DENY SELECT ON TABLE secrets TO ROLE readers")
    aeng.sql("DENY SELECT ON PATH 'hidden*' TO ROLE readers")
    return aeng


@pytest.mark.parametrize("stmt", [
    "SELECT count(*) AS n FROM IDENTIFIER('secrets')",
    "SELECT count(*) AS n FROM IDENTIFIER('sec' || 'rets')",
    "SELECT count(*) AS n FROM IDENTIFIER('parquet.`{root}/hid' || 'den.parquet`')",
    "SELECT * FROM public WHERE id IN (SELECT id FROM IDENTIFIER('secrets'))",
    "SELECT * FROM hr_payroll",
    "EXPLAIN SELECT * FROM IDENTIFIER('secrets')",
    "DESCRIBE secrets",
    "SUMMARIZE secrets",
])
def test_names_spark_resolves_are_checked(probe_eng, tmp_path, stmt):
    with pytest.raises(AuthError, match="permission denied"):
        probe_eng.sql(stmt.format(root=tmp_path), user="alice").collect()


@pytest.mark.parametrize("stmt, params, n", [
    ("SELECT id AS secrets FROM public", None, 5),
    ("WITH p AS (SELECT id FROM public) SELECT * FROM p JOIN p q USING (id)",
     None, 5),
    ("SELECT * FROM public WHERE id = $1", [3], 1),
    ("DESCRIBE public", None, 1),
    ("SUMMARIZE public", None, 1),
])
def test_granted_reads_return_rows(probe_eng, stmt, params, n):
    """A column alias is not a read; CTEs, bound parameters, DESCRIBE
    and SUMMARIZE of a granted table pass the same checks."""
    rows = probe_eng.sql(stmt, params=params, user="alice").collect()
    assert len(rows) == n


def test_granted_view_is_definer_rights(probe_eng):
    """A granted view over a denied table reads (PostgreSQL semantics:
    the walk checks the view, not what it is defined over)."""
    rows = probe_eng.sql("SELECT id FROM curated", user="alice").collect()
    assert sorted(r.id for r in rows) == [0, 1, 2]


def test_denied_paths_refused_before_anything_is_opened(probe_eng, monkeypatch):
    from beacon_spark.sources import nd, tabular

    def opened(*a, **k):
        raise AssertionError("a denied path was opened")

    monkeypatch.setattr(tabular, "read_parquet", opened)
    monkeypatch.setattr(nd, "nd_sample_schema", opened)
    with pytest.raises(AuthError, match="permission denied"):
        probe_eng.sql("SELECT * FROM read_parquet('hidden.parquet')",
                      user="alice")
    with pytest.raises(AuthError, match="permission denied"):
        probe_eng.sql("SELECT * FROM read_netcdf('hidden.nc')", user="alice")


def test_granted_nd_read_plans_once_for_restricted_reader(probe_eng, tmp_path):
    """An nd read shares its one planning pass between pushdown and the
    read checks: a granted store reads its WHERE window."""
    import numpy as np

    from beacon_spark.sources.zarrlite import write_zarr_store

    write_zarr_store(str(tmp_path / "g.zarr"),
                     {"t": (("t",), np.arange(40.0)),
                      "v": (("t",), np.arange(40.0) * 2)},
                     version=2, codec=None)
    probe_eng.sql("GRANT SELECT ON PATH 'g.zarr*' TO ROLE readers")
    rows = probe_eng.sql("SELECT t, v FROM read_zarr('g.zarr') "
                         "WHERE t >= 10 AND t <= 19", user="alice").collect()
    assert sorted(r.v for r in rows) == [2.0 * t for t in range(10, 20)]
    with pytest.raises(AuthError, match="secrets"):
        probe_eng.sql("SELECT t FROM read_zarr('g.zarr') "
                      "WHERE t IN (SELECT id FROM secrets)", user="alice")


@pytest.mark.parametrize("enforce", ["ON", "OFF"])
def test_engine_files_are_never_a_read_target(aeng, enforce):
    """The catalog (password hashes, encrypted secrets) and the
    statistics index are the engine's own state: no spelling of a path
    into them reads for a restricted caller, whatever the enforcement
    and even under ``GRANT SELECT ON ALL``."""
    root = aeng.datasets_root
    with open(f"{root}/open.csv", "w") as f:
        f.write("a|b\n1|x\n")
    aeng.sql("GRANT SELECT ON ALL TO ROLE readers")
    aeng.sql(f"SET AUTH ENFORCEMENT {enforce}")
    for stmt in [
        "SELECT * FROM read_csv('.beacon_catalog/catalog.json', '|')",
        f"SELECT * FROM text.`{root}/.beacon_catalog/catalog.json`",
        "SELECT * FROM read_csv('./.beacon_catalog/catalog.json', '|')",
        f"SELECT * FROM read_csv('{root}/.beacon_catalog/catalog.json', '|')",
        f"SELECT * FROM read_csv('file://{root}/.beacon_catalog/catalog.json',"
        " '|')",
        f"SELECT * FROM text.`file://{root}/.beacon_catalog/catalog.json`",
        "SELECT * FROM read_csv('.beacon*/*', '|')",
    ]:
        with pytest.raises(AuthError, match="permission denied"):
            aeng.sql(stmt, user="alice").collect()
    # a plain file read still passes, and the super-user reads the catalog
    assert aeng.sql("SELECT * FROM read_csv('open.csv', '|')",
                    user="alice").collect()[0].b == "x"
    assert aeng.sql(f"SELECT * FROM text.`{root}/.beacon_catalog/"
                    "catalog.json`", user="root").count() > 0


@pytest.mark.parametrize("enforce", ["ON", "OFF"])
def test_whole_index_metadata_functions_keep_readable_rows(aeng, enforce):
    """``list_datasets()``, ``view_statistics_cache()`` and a bare
    ``view_dataset_statistics()`` keep only the files a restricted
    caller may read (deny-wins), and never list the engine's own
    files; a super-user still sees every statistics row."""
    spark, root = aeng.spark, aeng.datasets_root
    spark.range(5).coalesce(1).write.parquet(f"{root}/hidden.parquet")
    spark.range(3).coalesce(1).write.parquet(f"{root}/open.parquet")
    aeng.sql("ANALYZE FILES")
    aeng.sql("GRANT SELECT ON ALL TO ROLE readers")
    aeng.sql("DENY SELECT ON PATH 'hidden*' TO ROLE readers")
    aeng.sql(f"SET AUTH ENFORCEMENT {enforce}")
    visible = {"open.parquet"} | ({"hidden.parquet"} if enforce == "OFF"
                                  else set())

    def datasets(user):
        return {r.dataset for r in aeng.sql(
            "SELECT * FROM list_datasets()", user=user).collect()}

    def stat_files(fn, user):
        return {r.path.split("/")[-2] for r in aeng.sql(
            f"SELECT * FROM {fn}()", user=user).collect()}

    assert datasets("alice") == visible
    assert datasets("root") == {"hidden.parquet", "open.parquet"}
    for fn in ("view_statistics_cache", "view_dataset_statistics"):
        assert stat_files(fn, "alice") == visible
        assert stat_files(fn, "root") == {"hidden.parquet", "open.parquet"}
