"""``beacon.system`` schema — runtime introspection as SQL.

Reference: ``beacon-core/src/system_schema/mod.rs`` (users/roles/
file_stats snapshots, super-user-only unconditionally) and
``query_metrics_store.rs`` (per-query metrics persisted into the
internal managed table ``__beacon_query_metrics`` so they survive a
restart and are queryable like any other table).
"""

import json
import time

import pytest

from beacon_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, datasets_root=str(tmp_path))


def _record(eng, qid, query="SELECT 1", **kw):
    eng.metrics.record(query_id=qid, query=query, **kw)


def test_query_metrics_persist_and_query(spark, tmp_path):
    eng = Engine(spark, datasets_root=str(tmp_path))
    _record(eng, "q-1", "SELECT 1 AS a", result_num_rows=1,
            execution_time_ms=12, username="alice")
    _record(eng, "q-2", "SELECT 2", result_num_rows=7)

    rows = eng.sql(
        "SELECT query_id, username, query, result_num_rows "
        "FROM beacon.system.query_metrics ORDER BY query_id"
    ).collect()
    assert [(r.query_id, r.result_num_rows) for r in rows] == [
        ("q-1", 1), ("q-2", 7)
    ]
    assert rows[0].username == "alice"
    assert rows[1].username == "beacon-admin"  # embedded default identity

    # the bare `system.` spelling resolves too
    n = eng.sql(
        "SELECT count(*) AS n FROM system.query_metrics").collect()[0].n
    assert n == 2

    # a NEW engine over the same root sees the persisted rows: metrics
    # survive "restart" (the whole point of the managed-table store)
    eng2 = Engine(spark, datasets_root=str(tmp_path))
    got = eng2.sql(
        "SELECT query_id FROM system.query_metrics ORDER BY query_id"
    ).collect()
    assert [r.query_id for r in got] == ["q-1", "q-2"]

    # single-row lookup (Runtime::get_query_metrics)
    row = eng2.metrics.read("q-1")
    assert row is not None and row["query"] == "SELECT 1 AS a"
    assert eng2.metrics.read("missing") is None

    # the internal table stays OUT of user-facing listings
    assert "__beacon_query_metrics" not in eng2.catalog._load().get("tables", {})


def test_metrics_tail_visible_before_flush(eng):
    # a recorded row is visible through read() before any flush
    _record(eng, "q-tail", "SELECT 3")
    assert eng.metrics.read("q-tail")["query"] == "SELECT 3"


def test_users_and_roles_tables(eng):
    eng.sql("CREATE USER carol WITH PASSWORD 'pw'")
    eng.sql("CREATE ROLE readers")
    eng.sql("GRANT SELECT ON ALL TO ROLE readers")
    eng.sql("GRANT ROLE readers TO USER carol")

    users = {r.username: json.loads(r.roles)
             for r in eng.sql("SELECT * FROM beacon.system.users").collect()}
    assert users["carol"] == ["readers"]
    roles = {r.role_name: json.loads(r.grants)
             for r in eng.sql("SELECT * FROM beacon.system.roles").collect()}
    assert "readers" in roles and roles["readers"]
    # never the password hash
    cols = eng.sql("SELECT * FROM system.users").columns
    assert "password" not in [c.lower() for c in cols]


def test_system_schema_super_user_only(eng):
    """mod.rs:50-66: metadata schemas deny non-super users even with
    enforcement OFF."""
    eng.sql("CREATE USER mallory WITH PASSWORD 'pw'")
    from beacon_spark.auth import AuthError

    with pytest.raises(AuthError, match="super-user"):
        eng.sql("SELECT * FROM beacon.system.users", user="mallory")
    with pytest.raises(AuthError, match="super-user"):
        eng.sql("SELECT * FROM system.query_metrics", user="mallory")
    # a string literal mentioning system.x is NOT a reference
    eng.sql("SELECT 'system.users' AS s", user="mallory").collect()


def test_unknown_system_table_lists_available(eng):
    with pytest.raises(ValueError, match="query_metrics"):
        eng.sql("SELECT * FROM system.nonsense")


def test_qualified_non_system_names_untouched(eng):
    # myattach.system.tbl must not be rewritten (lookbehind guard)
    out = eng._rewrite_system_tables("SELECT * FROM myattach.system.tbl")
    assert out == "SELECT * FROM myattach.system.tbl"


def test_http_metrics_fallback_reads_persisted(spark, tmp_path):
    """/api/query/metrics/{qid} serves a row this server never ran (an
    earlier server run recorded it) from the persisted table."""
    import urllib.request

    from beacon_spark.server.http import BeaconHttpServer

    eng = Engine(spark, datasets_root=str(tmp_path))
    srv = BeaconHttpServer(eng, port=0)
    port = srv.serve_background()
    try:
        # recorded through the engine (as an earlier server run would);
        # the server ring knows nothing about it
        _record(eng, "old-query", "SELECT 42", result_num_rows=1)
        eng.metrics.flush()
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/query/metrics/old-query"
        ) as r:
            body = json.loads(r.read())
        assert body["query_id"] == "old-query" and body["query"] == "SELECT 42"
    finally:
        srv.shutdown()


def test_internal_temp_views_not_readable_by_non_super(eng):
    """Review fix: after a super-user touches system tables, the
    backing __beacon_system_* temp views must not be readable by name
    from a non-super user (unconditional gate, like the schemas)."""
    from beacon_spark.auth import AuthError

    eng.sql("CREATE USER eve WITH PASSWORD 'pw'")
    eng.sql("SELECT * FROM beacon.system.users").collect()  # view now exists
    with pytest.raises(AuthError, match="__beacon"):
        eng.sql("SELECT * FROM __beacon_system_users", user="eve")
    # and through the DSL from-spec
    with pytest.raises(AuthError, match="__beacon"):
        eng.query({"select": ["username"], "from": "__beacon_system_users"},
                  user="eve")


def test_time_travel_views_carry_base_table_grants(eng):
    """Review fix: <table>__v<n> snapshot views are reads of the base
    table — a DENY on the base blocks every pinned version."""
    from beacon_spark.auth import AuthError

    eng.sql("CREATE TABLE sec AS SELECT 1 AS a")
    eng.sql("SELECT * FROM sec VERSION AS OF 1").collect()  # view sec__v1
    eng.sql("CREATE USER frank WITH PASSWORD 'pw'")
    eng.sql("CREATE ROLE fr")
    eng.sql("GRANT SELECT ON ALL TO ROLE fr")
    eng.sql("DENY SELECT ON TABLE sec TO ROLE fr")
    eng.sql("GRANT ROLE fr TO USER frank")
    eng.sql("SET AUTH ENFORCEMENT ON")
    with pytest.raises(AuthError, match="permission denied"):
        eng.sql("SELECT * FROM sec__v1", user="frank")


def test_information_schema_tables_and_columns(spark, tmp_path):
    """information_schema.tables/.columns — the reference exposes
    DataFusion's and reflects through it (beacon-db-py/sqlalchemy.py);
    ours snapshots the catalog at reference time. Super-user-only, same
    gate as beacon.system.*."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path / "isch"))
    eng.sql("CREATE TABLE ist AS SELECT id, CAST(id AS DOUBLE) AS v "
            "FROM range(4)")
    eng.sql("CREATE VIEW isv AS SELECT id FROM ist")
    rows = eng.sql(
        "SELECT table_name, table_type FROM information_schema.tables "
        "ORDER BY table_name"
    ).collect()
    assert [(r.table_name, r.table_type) for r in rows] == [
        ("ist", "BASE TABLE"), ("isv", "VIEW")]
    cols = eng.sql(
        "SELECT table_name, column_name, ordinal_position, data_type, "
        "is_nullable FROM information_schema.columns "
        "WHERE table_name = 'ist' ORDER BY ordinal_position"
    ).collect()
    assert [(c.column_name, c.ordinal_position, c.data_type) for c in cols] \
        == [("id", 1, "bigint"), ("v", 2, "double")]
    assert all(c.is_nullable in ("YES", "NO") for c in cols)
    # joins/filters over it are plain SQL
    n = eng.sql(
        "SELECT count(*) AS c FROM information_schema.columns "
        "WHERE table_name = 'isv'").collect()[0].c
    assert n == 1

    # the metadata gate: a non-super user is refused unconditionally
    import pytest as _pt

    from beacon_spark import auth as _auth

    eng.sql("CREATE USER pleb WITH PASSWORD 'x'")
    with _pt.raises(_auth.AuthError, match="metadata schemas"):
        eng.sql("SELECT * FROM information_schema.tables", user="pleb")


def test_metrics_read_shape_stable_across_flush(spark, tmp_path):
    """r10 sweep: read() answered finished_at as a raw float epoch from
    the unflushed tail but as a datetime after a flush — the same
    query's metrics changed shape mid-session."""
    import datetime

    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.record_query_metrics(query_id="q-tail", query="SELECT 1",
                             result_num_rows=1)
    before = eng.metrics.read("q-tail")
    assert isinstance(before["finished_at"], datetime.datetime)
    eng.metrics.flush()
    after = eng.metrics.read("q-tail")
    assert isinstance(after["finished_at"], datetime.datetime)
    assert abs((after["finished_at"] - before["finished_at"])
               .total_seconds()) < 1.0
