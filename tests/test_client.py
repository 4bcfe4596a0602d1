"""beacondb-parity embedded client (client.py; reference
beacon-db/beacon-db-py/python/beacondb/__init__.py + _beacondb.pyi:
PEP 249 Connection/Relation/Result, qmark params, read_* passthroughs,
register/json_query, auth sessions)."""

import os

import pytest

import beacon_spark.client as beacondb


@pytest.fixture()
def con(spark, tmp_path):
    c = beacondb.connect(str(tmp_path), spark=spark)
    yield c
    c.close()


def test_module_pep249_attributes():
    assert beacondb.apilevel == "2.0"
    assert beacondb.threadsafety == 2
    assert beacondb.paramstyle == "qmark"
    # exception tree shape
    assert issubclass(beacondb.NotPermittedError, beacondb.ProgrammingError)
    assert issubclass(beacondb.ProgrammingError, beacondb.DatabaseError)
    assert issubclass(beacondb.DatabaseError, beacondb.Error)
    assert beacondb.engine_version()


def test_dbapi_execute_fetch(con):
    con.execute("SELECT 1 AS a, 'x' AS b")
    assert con.description[0][0] == "a"
    assert con.fetchone() == (1, "x")
    assert con.fetchone() is None
    rows = con.execute(
        "SELECT id FROM range(5) ORDER BY id"
    ).fetchmany(2)
    assert rows == [(0,), (1,)]
    assert con.fetchall() == [(2,), (3,), (4,)]
    assert con.rowcount == 5


def test_qmark_parameters(con):
    got = con.execute(
        "SELECT id FROM range(10) WHERE id > ? AND id < ? ORDER BY id",
        [6, 9],
    ).fetchall()
    assert got == [(7,), (8,)]
    # a ? inside a string literal is NOT a placeholder
    got = con.execute("SELECT '?' AS q, id FROM range(3) WHERE id = ?",
                      [1]).fetchall()
    assert got == [("?", 1)]
    # $n style passes through untouched
    got = con.execute("SELECT id FROM range(5) WHERE id = $1",
                      [3]).fetchall()
    assert got == [(3,)]


def test_relation_lazy_and_terminals(con):
    rel = con.sql("SELECT id, id * 2 AS d FROM range(4) ORDER BY id")
    assert rel.columns == ["id", "d"]
    assert rel.types == ["bigint", "bigint"]
    assert rel.sql.startswith("SELECT id")
    assert rel.shape == (4, 2)
    assert len(rel) == 4
    assert rel.fetchone() == (0, 0)
    assert rel.fetchall()[-1] == (3, 6)
    t = rel.arrow()
    assert t.num_rows == 4 and t.column_names == ["id", "d"]
    pdf = rel.df()
    assert list(pdf["d"]) == [0, 2, 4, 6]
    assert "range" in rel.explain().lower() or "Range" in rel.explain()


def test_relation_record_batch_streams(con):
    rel = con.sql("SELECT id FROM range(1000)")
    reader = rel.record_batch(batch_size=100)
    import pyarrow as pa

    assert isinstance(reader, pa.RecordBatchReader)
    batches = list(reader)
    assert sum(b.num_rows for b in batches) == 1000
    assert all(b.num_rows <= 100 for b in batches)


def test_relation_file_sinks(con, tmp_path):
    import pyarrow.parquet as pq

    rel = con.sql("SELECT id, id + 0.5 AS v FROM range(10)")
    p = str(tmp_path / "out.parquet")
    rel.to_parquet(p)
    assert pq.read_table(p).num_rows == 10
    c = str(tmp_path / "out.csv")
    rel.to_csv(c)
    assert len(open(c).read().splitlines()) == 11  # header + 10


def test_table_create_and_append(con):
    con.execute("CREATE TABLE t1 AS SELECT id FROM range(3)")
    assert "t1" in con.list_tables()
    assert con.table("t1").shape == (3, 1)
    # relation → new table
    con.sql("SELECT id * 10 AS id FROM t1").create("t2")
    assert sorted(r[0] for r in con.table("t2").fetchall()) == [0, 10, 20]
    # append a pandas frame through the engine INSERT path
    import pandas as pd

    con.append("t2", pd.DataFrame({"id": [99]}))
    assert sorted(r[0] for r in con.table("t2").fetchall()) == [0, 10, 20, 99]


def test_register_and_unregister(con):
    import pandas as pd
    import pyarrow as pa

    con.register("pdf", pd.DataFrame({"x": [1, 2, 3]}))
    assert con.sql("SELECT sum(x) AS s FROM pdf").fetchone() == (6,)
    con.register("arr", pa.table({"y": [5, 6]}))
    assert con.sql("SELECT count(*) AS n FROM arr").fetchone() == (2,)
    con.unregister("pdf")
    with pytest.raises(beacondb.Error):
        con.sql("SELECT * FROM pdf").fetchall()
    # persist=True lands a managed table
    con.register("kept", pd.DataFrame({"z": [7]}), persist=True)
    assert "kept" in con.list_tables()


def test_read_passthroughs(con, sf_small):
    rel = con.read_parquet(os.path.join(sf_small, "region.parquet"))
    assert rel.shape[0] == 5
    # the generic read() resolver + column projection
    rel = con.read("parquet", os.path.join(sf_small, "nation.parquet"),
                   columns=["n_name"])
    assert rel.columns == ["n_name"]
    assert "read_parquet" in con.table_functions()
    with pytest.raises(beacondb.NotSupportedError):
        con.read("bogus_format", "x")
    # options go by keyword: an extra positional argument is refused
    with pytest.raises(TypeError):
        con.read("csv", os.path.join(sf_small, "nation.parquet"), ";")

    # the client and HTTP /api/table-functions name every read_<fmt>
    # SQL accepts, and nothing SQL refuses
    import json
    import urllib.request

    from beacon_spark.engine import _READ_FN_RE
    from beacon_spark.server.http import BeaconHttpServer

    candidates = {f"read_{f}" for f in (
        "parquet", "csv", "arrow", "netcdf", "hdf5", "zarr", "atlas", "tiff",
        "odv", "odv_ascii", "delta", "iceberg", "geoparquet", "icechunk",
        "bbf", "remote", "postgres", "mysql", "json", "avro")}
    sql_accepts = {n for n in candidates if _READ_FN_RE.match(f"{n}('x')")}
    assert {"read_odv", "read_odv_ascii", "read_hdf5"} <= sql_accepts
    hs = BeaconHttpServer(con.engine, port=0)
    port = hs.serve_background()
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/table-functions") as r:
            http_fns = set(json.loads(r.read()))
    finally:
        hs.shutdown()
    assert set(con.table_functions()) == sql_accepts
    assert http_fns - {"remote_query"} == sql_accepts


def test_client_reads_pass_the_rbac_gate(spark, tmp_path):
    """The embedded client's readers are checked like SQL and the DSL: a
    non-super user's DENY on a path refuses con.read_<fmt>, con.read and
    the SQL read_<fmt>_schema twin; a granted path still reads."""
    from beacon_spark.engine import Engine

    spark.range(9).coalesce(1).write.parquet(str(tmp_path / "hidden.parquet"))
    spark.range(3).coalesce(1).write.parquet(str(tmp_path / "open.parquet"))
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE USER alice WITH PASSWORD 'pw1'")
    eng.sql("CREATE ROLE readers")
    eng.sql("GRANT ROLE readers TO USER alice")
    eng.sql("SET AUTH ENFORCEMENT ON")
    eng.sql("GRANT SELECT ON ALL TO ROLE readers")
    eng.sql("DENY SELECT ON PATH 'hidden*' TO ROLE readers")

    con = beacondb.connect(str(tmp_path), spark=spark, auth=True,
                           username="alice", password="pw1")
    try:
        with pytest.raises(beacondb.NotPermittedError):
            con.read_parquet("hidden.parquet")
        with pytest.raises(beacondb.NotPermittedError):
            con.read("parquet", "hidden.parquet")
        with pytest.raises(beacondb.NotPermittedError):
            con.sql("SELECT * FROM read_parquet_schema('hidden.parquet')")
        assert con.read_parquet("open.parquet").shape == (3, 1)
        assert con.sql("SELECT * FROM read_parquet_schema('open.parquet')"
                       ).fetchall() == [("id", "bigint", True)]
    finally:
        con.close()


def test_metrics_store_failure_is_logged_not_raised(con, caplog, monkeypatch):
    """A broken query-metrics store never fails the query it records; it
    is reported as one WARNING naming the query id and the exception."""
    import logging

    qids = []

    def broken(**kw):
        qids.append(kw["query_id"])
        raise RuntimeError("metrics store down")

    monkeypatch.setattr(con.engine.metrics, "record", broken)
    with caplog.at_level(logging.WARNING, logger="beacon_spark.engine"):
        assert con.sql("SELECT 1 AS a").fetchall() == [(1,)]
    warned = [r for r in caplog.records
              if r.name == "beacon_spark.engine"
              and r.levelno == logging.WARNING]
    assert len(warned) == 1 and len(qids) == 1
    assert qids[0] in warned[0].getMessage()
    assert "metrics store down" in warned[0].getMessage()
    assert "RuntimeError" in warned[0].getMessage()


def test_json_query(con):
    con.execute("CREATE TABLE jq AS SELECT id, id % 2 AS g FROM range(10)")
    res = con.json_query({
        "select": ["id"],
        "from": "jq",
        "filter": {"column": "g", "eq": 1},
    })
    assert isinstance(res, beacondb.Result)
    assert res.rowcount == 5
    assert res.columns == ["id"]


def test_cursor_has_independent_slot(con):
    con.execute("SELECT 1 AS a")
    cur = con.cursor()
    cur.execute("SELECT 2 AS b")
    assert con.fetchone() == (1,)
    assert cur.fetchone() == (2,)


def test_memory_database_cleanup(spark):
    con = beacondb.connect(":memory:", spark=spark)
    root = con.engine.datasets_root
    con.execute("CREATE TABLE m AS SELECT 1 AS x")
    assert con.table("m").fetchone() == (1,)
    con.close()
    assert not os.path.exists(root)
    with pytest.raises(beacondb.InterfaceError):
        con.execute("SELECT 1")


def test_auth_sessions(spark, tmp_path):
    boot = beacondb.connect(str(tmp_path), spark=spark)
    boot.execute("CREATE TABLE priv AS SELECT id FROM range(4)")
    boot.execute("CREATE USER ana WITH PASSWORD 'pw'")
    # anonymous session: read-only
    anon = beacondb.connect(str(tmp_path), spark=spark, auth=True)
    assert anon.auth_enabled and anon.whoami()["anonymous"]
    assert anon.sql("SELECT count(*) AS n FROM priv").fetchone() == (4,)
    with pytest.raises(beacondb.NotPermittedError):
        anon.execute("DROP TABLE priv")
    # named session: identity threads through RBAC
    ses = beacondb.connect(str(tmp_path), spark=spark, auth=True,
                           username="ana", password="pw")
    who = ses.whoami()
    assert who["user"] == "ana" and not who["super_user"]
    with pytest.raises(beacondb.NotPermittedError):
        ses.execute("CREATE TABLE nope AS SELECT 1")
    with pytest.raises(beacondb.NotPermittedError):
        beacondb.connect(str(tmp_path), spark=spark, auth=True,
                         username="ana", password="wrong")
    # connect_as switches identity on an open connection
    ses2 = boot.connect_as("ana", "pw")
    assert ses2.whoami()["user"] == "ana"
    boot.close()


def test_context_manager(spark, tmp_path):
    with beacondb.connect(str(tmp_path / "cm"), spark=spark) as con:
        assert con.sql("SELECT 42 AS x").fetchone() == (42,)


def test_json_query_respects_read_only(spark, tmp_path):
    """Review fix: an embedded {"sql": ...} spec must not smuggle
    DDL/DML past a read-only connection."""
    import beacon_spark.client as beacondb

    admin = beacondb.connect(str(tmp_path), spark=spark)
    admin.sql("CREATE TABLE priv AS SELECT 1 AS a")
    ro = beacondb.connect(str(tmp_path), spark=spark, read_only=True)
    with pytest.raises(beacondb.NotPermittedError):
        ro.json_query({"sql": "DROP TABLE priv"})
    # reads still fine
    assert ro.json_query({"sql": "SELECT * FROM priv"}).arrow().num_rows == 1
    assert admin.sql("SELECT count(*) AS n FROM priv").fetchall() == [(1,)]
    ro.close(); admin.close()


def test_read_hdf5_alias_and_qmark_lexer(spark, tmp_path):
    """Round-8 review: read_hdf5 resolves (the engine maps hdf5 onto the
    nd reader); '?' inside double-quoted literals/backticks/comments is
    never rewritten to a placeholder."""
    import beacon_spark.client as bc

    con = bc.connect(str(tmp_path), spark=spark)
    con.execute("CREATE TABLE qm AS SELECT id FROM range(3)")
    # ? inside a double-quoted string literal + a comment stays put
    rows = con.execute(
        'SELECT "ready?" AS q, ? AS x FROM qm -- trailing?', [7]
    ).fetchall()
    assert rows[0] == ("ready?", 7)
    assert "read_hdf5" in [f for f in con.table_functions()]
    # the alias resolves instead of NotSupportedError (no .nc fixture
    # needed: a missing file must raise an ENGINE error, not 'unknown
    # table function')
    import pytest as _p

    with _p.raises(Exception) as ei:
        con.read_hdf5("nope.h5")
    assert "unknown table function" not in str(ei.value)


def test_connect_as_token_refuses_loudly(spark, tmp_path):
    import beacon_spark.client as bc

    con = bc.connect(str(tmp_path), spark=spark)
    import pytest as _p

    with _p.raises(bc.NotSupportedError, match="token"):
        con.connect_as(token="some-bearer")
