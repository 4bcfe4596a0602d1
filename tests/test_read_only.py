"""One read-only decision, from Spark's parse: ``Engine.sql(…,
read_only=True)`` and every restricted caller run a statement only when
Spark parses it as a query (or a DESCRIBE/SHOW/EXPLAIN), or it is a
listing dialect statement — the decision Beacon's planner makes from the
statement's type (statement_plan/mod.rs:58-78, beacon-mcp
server.rs:70-85)."""

import os
from types import SimpleNamespace

import pytest
from pyspark.errors import ParseException

from beacon_spark.auth import AuthError, WriteRefused
from beacon_spark.engine import Engine
from beacon_spark.statements import ROWS

#: one statement per dialect kind that writes
DIALECT_WRITES = {
    "create_external": "CREATE EXTERNAL TABLE ext STORED AS PARQUET "
                       "LOCATION 'x.parquet'",
    "create_index": "CREATE INDEX ix ON t (a)",
    "drop_index": "DROP INDEX ix",
    "create_crawler": "CREATE CRAWLER cr ON 'data/'",
    "run_crawler": "RUN CRAWLER cr",
    "drop_crawler": "DROP CRAWLER cr",
    "create_stream": "CREATE STREAM st ON 'in/' INTO t",
    "run_stream": "RUN STREAM st",
    "drop_stream": "DROP STREAM st",
    "attach": "ATTACH 'other' AS o",
    "detach": "DETACH o",
    "create_secret": "CREATE SECRET s (TYPE s3)",
    "drop_secret": "DROP SECRET s",
    "set_extension": "SET EXTENSION 'mcp' FOR t TO '{}'",
    "drop_extension": "DROP EXTENSION 'mcp' FOR t",
    "create_table_as": "CREATE TABLE t2 AS SELECT 1 AS a",
    "create_table_schema": "CREATE TABLE t3 (a INT)",
    "drop_table": "DROP TABLE t",
    "vacuum": "VACUUM t",
    "optimize": "OPTIMIZE t",
    "insert_into": "INSERT INTO t SELECT 9, 'z'",
    "delete_from": "DELETE FROM t WHERE a = 1",
    "update": "UPDATE t SET b = 'q'",
    "alter_add": "ALTER TABLE t ADD COLUMN c INT",
    "alter_drop": "ALTER TABLE t DROP COLUMN b",
    "alter_rename": "ALTER TABLE t RENAME COLUMN b TO c",
    "create_mview": "CREATE MATERIALIZED VIEW mv AS SELECT * FROM t",
    "create_view": "CREATE VIEW v AS SELECT * FROM t",
    "refresh": "REFRESH MATERIALIZED VIEW mv",
    "drop_view": "DROP VIEW v",
}
#: one statement per auth kind that writes
AUTH_WRITES = {
    "create_user": "CREATE USER bob WITH PASSWORD 'pw'",
    "drop_user": "DROP USER alice",
    "create_role": "CREATE ROLE r2",
    "drop_role": "DROP ROLE readers",
    "grant_role": "GRANT ROLE readers TO USER alice",
    "revoke_role": "REVOKE ROLE readers FROM USER alice",
    "grant_priv": "GRANT SELECT ON ALL TO ROLE readers",
    "deny_priv": "DENY SELECT ON TABLE t TO ROLE readers",
    "revoke_priv": "REVOKE SELECT ON ALL FROM ROLE readers",
    "set_enforce": "SET AUTH ENFORCEMENT ON",
}
SPARK_WRITES = [
    "WITH c AS (SELECT 9 AS a, 'z' AS b) INSERT INTO t SELECT * FROM c",
    "INSERT OVERWRITE DIRECTORY '{root}/pwn' USING parquet SELECT 1",
    "EXECUTE IMMEDIATE 'DROP VIEW t'",
    "CALL spark_catalog.noop()",
    "SET spark.sql.shuffle.partitions=3",
    "CACHE TABLE t",
    "ADD JAR '{root}/none.jar'",
    "EXPLAIN ANALYZE COPY t TO 'out.parquet'",
    "COPY t TO 'out.parquet'",
    "ANALYZE FILES",
    "SELECT * FROM remote_query('lake', 'DROP TABLE t')",
    # a script transform runs a program on the server
    "SELECT TRANSFORM(a) USING 'touch {root}/pwn' AS (x) FROM t",
    "SELECT (SELECT max(x) FROM (SELECT TRANSFORM(a) USING "
    "'touch {root}/pwn' AS (x) FROM t)) AS m",
]


def _first_kind(statement):
    return next((r.kind for r in ROWS if r.pattern.match(statement)), None)


def test_write_statement_tables_cover_every_kind():
    """Each statement above is the kind it is filed under, and every
    statement-table row that writes has a refusal statement here."""
    for kind, stmt in {**DIALECT_WRITES, **AUTH_WRITES}.items():
        assert _first_kind(stmt) == kind, stmt
    writes = {r.kind for r in ROWS if r.access == "write"}
    assert set(DIALECT_WRITES) | set(AUTH_WRITES) <= writes
    refused = [*SPARK_WRITES, *DIALECT_WRITES.values(), *AUTH_WRITES.values()]
    assert writes <= {_first_kind(s) for s in refused}


@pytest.fixture(scope="module")
def roeng(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ro")
    eng = Engine(spark, datasets_root=str(root))
    eng.sql("CREATE TABLE t AS SELECT id AS a, CAST(id AS string) AS b "
            "FROM range(3)")
    eng.sql("CREATE TABLE secrets AS SELECT 7 AS v")
    eng.sql("CREATE USER alice WITH PASSWORD 'pw'")
    eng.sql("CREATE ROLE readers")
    eng.sql("GRANT ROLE readers TO USER alice")
    return eng


def _state(eng):
    return (sorted(tuple(r) for r in eng.sql("SELECT * FROM t").collect()),
            eng.table_names(), eng.catalog._load().get("auth"),
            eng.spark.conf.get("spark.sql.shuffle.partitions"),
            sorted(os.listdir(eng.datasets_root)))


@pytest.mark.parametrize(
    "stmt", [*SPARK_WRITES, *DIALECT_WRITES.values(), *AUTH_WRITES.values()])
def test_write_shapes_refused_on_read_only_call(roeng, stmt):
    before = _state(roeng)
    with pytest.raises(WriteRefused, match="read-only"):
        roeng.sql(stmt.replace("{root}", roeng.datasets_root), read_only=True)
    assert _state(roeng) == before


def test_read_only_query_writes_no_file(roeng, tmp_path):
    out = tmp_path / "o.csv"
    for body in ({"select": ["a"], "from": "t", "output": {"format": "csv"}},
                 {"sql": "SELECT a FROM t", "output": {"format": "csv"}}):
        with pytest.raises(WriteRefused, match="read-only"):
            roeng.query(body, output_path=str(out), read_only=True)
    assert not out.exists()


def test_refused_statement_keeps_no_read_view(roeng):
    """A refused CREATE TEMP VIEW drops the read views its rewrites
    bound; only a view that was made keeps them."""
    spark = roeng.spark
    spark.range(2).write.parquet(os.path.join(roeng.datasets_root, "p.parquet"))

    def read_views():
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("__beacon_read")}

    before = read_views()
    with pytest.raises(WriteRefused, match="read-only"):
        roeng.sql("CREATE TEMP VIEW rv AS SELECT * FROM "
                  "read_parquet('p.parquet')", read_only=True)
    assert read_views() == before
    roeng.sql("CREATE TEMP VIEW rv AS SELECT * FROM read_parquet('p.parquet')")
    try:
        assert len(read_views() - before) == 1
        assert roeng.sql("SELECT count(*) AS n FROM rv").collect()[0].n == 2
    finally:
        spark.catalog.dropTempView("rv")


def test_second_statement_is_not_run(roeng):
    before = _state(roeng)
    with pytest.raises(ParseException):
        roeng.sql("SELECT 1; DROP TABLE t", read_only=True)
    assert _state(roeng) == before


@pytest.mark.parametrize("stmt", [
    "SELECT a AS run FROM t ORDER BY run",
    "SELECT 1 AS copy",
    "SELECT a AS `set` FROM t ORDER BY `set`",
    "SHOW CREATE TABLE default.ro_pv",
    "EXPLAIN ANALYZE SELECT 1",
    "SELECT 1;",
    "DESCRIBE t",
    "SHOW TABLES",
    "SHOW USERS",
])
def test_reads_the_keyword_scan_refused_return_rows(roeng, stmt):
    spark = roeng.spark
    spark.sql("CREATE OR REPLACE VIEW default.ro_pv AS SELECT 1 AS a")
    try:
        assert roeng.sql(stmt, read_only=True).collect()
    finally:
        spark.sql("DROP VIEW IF EXISTS default.ro_pv")


def test_restricted_caller_refused_as_super_user_only(roeng):
    with pytest.raises(WriteRefused, match="requires super-user"):
        roeng.sql("CACHE TABLE t", user="alice")
    with pytest.raises(WriteRefused, match="requires super-user"):
        roeng.sql("SELECT TRANSFORM(a) USING 'cat' AS (x) FROM t",
                  user="alice")
    # on a read-only surface the refusal names the surface
    with pytest.raises(WriteRefused, match="read-only"):
        roeng.sql("CACHE TABLE t", user="alice", read_only=True)


def test_internal_views_refused_with_enforcement_off(roeng):
    """A super-user's metadata read leaves ``__beacon_system_*`` views in
    the session; a restricted caller cannot name one through
    IDENTIFIER, with enforcement off too."""
    assert roeng.sql("SELECT count(*) AS n FROM beacon.system.users") \
        .collect()[0].n == 1
    assert not roeng.catalog._load()["auth"].get("enforce")
    with pytest.raises(AuthError, match="__beacon"):
        roeng.sql("SELECT * FROM IDENTIFIER('__beacon_' || 'system_users_"
                  f"{roeng._view_tag}')", user="alice").collect()
    with pytest.raises(AuthError, match="metadata schemas"):
        roeng.sql("SELECT * FROM beacon.system.users", user="alice")
    # a plain read still passes
    assert roeng.sql("SELECT count(*) AS n FROM t",
                     user="alice").collect()[0].n == 3


def test_reflection_functions_are_gone(roeng):
    spark = roeng.spark
    stmt = "SELECT reflect('java.lang.System', 'setProperty', 'beacon.probe', 'x')"
    for fn in ("reflect", "java_method", "try_reflect"):
        for user in (None, "alice"):
            with pytest.raises(Exception, match="UNRESOLVED_ROUTINE"):
                roeng.sql(stmt.replace("reflect", fn, 1), user=user).collect()
    assert spark._jvm.java.lang.System.getProperty("beacon.probe") is None


class _Recorder:
    """Forwards to a JVM object and records the methods called."""

    def __init__(self, inner):
        self.inner, self.calls = inner, []

    def __getattr__(self, name):
        method = getattr(self.inner, name)

        def call(*args):
            self.calls.append(name)
            return method(*args)
        return call


def test_every_statement_is_parsed_once(roeng):
    """The default path (``user=None``, ``read_only=False``) makes the
    one ``parsePlan`` ``spark.sql`` would make and never asks the query
    grammar; a read-only or restricted call parses once by the query
    grammar, and its checks and DataFrame reuse that parse."""
    eng = Engine(roeng.spark, datasets_root=roeng.datasets_root)
    parser = _Recorder(eng._jvm_sql.parser)
    eng._jvm_sql = SimpleNamespace(**{**vars(eng._jvm_sql), "parser": parser})
    for stmt in ("SELECT count(*) AS n FROM t", "SHOW TABLES",
                 "SELECT * FROM t WHERE a = $1", "DESCRIBE t"):
        eng.sql(stmt, params=[1] if "$1" in stmt else None).collect()
    assert parser.calls == ["parsePlan"] * 3
    parser.calls.clear()
    assert eng.sql("SELECT * FROM t WHERE a = $1", params=[1],
                   read_only=True).count() == 1
    assert parser.calls == ["parseQuery"]
    parser.calls.clear()
    assert eng.sql("SELECT count(*) AS n FROM t", user="alice") \
        .collect()[0].n == 3
    assert parser.calls == ["parseQuery"]


def test_explain_analyze_runs_inner_statement_as_caller(spark, tmp_path):
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE secrets AS SELECT 7 AS v")
    eng.sql("CREATE TABLE open AS SELECT 1 AS v")
    eng.sql("CREATE USER alice WITH PASSWORD 'pw'")
    eng.sql("CREATE ROLE readers")
    eng.sql("GRANT ROLE readers TO USER alice")
    eng.sql("GRANT SELECT ON TABLE open TO ROLE readers")
    eng.sql("SET AUTH ENFORCEMENT ON")
    with pytest.raises(AuthError, match="SELECT on table 'secrets'"):
        eng.sql("EXPLAIN ANALYZE SELECT * FROM secrets", user="alice")
    plan = [r.plan for r in eng.sql("EXPLAIN ANALYZE SELECT * FROM open",
                                    user="alice").collect()]
    assert any("numOutputRows=1" in line for line in plan)


def test_listing_keeps_the_catalog_registration(spark, tmp_path, monkeypatch):
    from beacon_spark import managed

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE t AS SELECT 1 AS a")
    eng.sql("SELECT * FROM t").collect()  # registered
    reads = []
    real = managed.ManagedTable.read
    monkeypatch.setattr(managed.ManagedTable, "read",
                        lambda self, *a, **k: reads.append(1) or real(
                            self, *a, **k))
    for listing in ("SHOW TABLES", "SHOW CRAWLERS", "DESCRIBE HISTORY t"):
        eng.sql(listing).collect()
        assert eng.sql("SELECT count(*) AS n FROM t").collect()[0].n == 1
    assert reads == []


def test_metadata_functions_check_their_argument(spark, tmp_path):
    spark.range(5).coalesce(1).write.parquet(str(tmp_path / "hidden.parquet"))
    spark.range(3).coalesce(1).write.parquet(str(tmp_path / "open.parquet"))
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE EXTERNAL TABLE hext STORED AS PARQUET "
            "LOCATION 'hidden.parquet'")
    eng.sql("CREATE USER alice WITH PASSWORD 'pw'")
    eng.sql("CREATE ROLE readers")
    eng.sql("GRANT ROLE readers TO USER alice")
    eng.sql("GRANT SELECT ON ALL TO ROLE readers")
    eng.sql("DENY SELECT ON PATH 'hidden*' TO ROLE readers")
    eng.sql("DENY SELECT ON TABLE hext TO ROLE readers")
    eng.sql("SET AUTH ENFORCEMENT ON")
    with pytest.raises(AuthError, match="permission denied"):
        eng.sql("SELECT * FROM view_dataset_statistics('hidden.parquet')",
                user="alice")
    with pytest.raises(AuthError, match="permission denied"):
        eng.sql("SELECT * FROM view_external_table_statistics('hext')",
                user="alice")
    rows = eng.sql("SELECT * FROM view_dataset_statistics('open.parquet')",
                   user="alice").collect()
    assert rows


#: one statement per statement-table row, run in row order on one
#: engine: the writes above (the drops aimed at what earlier rows made)
#: and the rows that only read
ROW_STATEMENTS = {
    **DIALECT_WRITES, **AUTH_WRITES,
    "drop_user": "DROP USER bob", "drop_role": "DROP ROLE r2",
    "drop_table": "DROP TABLE t2",
    "alter_rename": "ALTER TABLE t RENAME COLUMN a TO z",
    "show_users": "SHOW USERS", "show_roles": "SHOW ROLES",
    "show_indexes": "SHOW INDEXES", "show_crawlers": "SHOW CRAWLERS",
    "show_streams": "SHOW STREAMS", "describe_history": "DESCRIBE HISTORY t",
    "show_tables": "SHOW TABLES", "show_secrets": "SHOW SECRETS",
    "show_extensions": "SHOW EXTENSIONS FOR t",
    "explain_analyze": "EXPLAIN ANALYZE SELECT 1",
    "copy": "COPY t TO 'out.parquet'", "analyze_files": "ANALYZE FILES",
    "summarize": "SUMMARIZE t",
}


@pytest.fixture(scope="module")
def rowseng(spark, tmp_path_factory):
    eng = Engine(spark, datasets_root=str(tmp_path_factory.mktemp("rows")))
    eng.sql("CREATE TABLE t AS SELECT id AS a, CAST(id AS string) AS b "
            "FROM range(3)")
    eng.sql("CREATE USER alice WITH PASSWORD 'pw'")
    eng.sql("CREATE ROLE readers")
    return eng


def _registration(eng):
    return eng._cat_sig, eng._force_full, set(eng._dirty_tables)


@pytest.mark.parametrize("row", ROWS, ids=[r.kind for r in ROWS])
def test_each_row_applies_its_invalidation(rowseng, row):
    """A listing leaves the catalog registration alone, a manifest-level
    change re-pins only its table, and a structural change or a failed
    write demands the full re-registration."""
    eng, stmt = rowseng, ROW_STATEMENTS[row.kind]
    assert _first_kind(stmt) == row.kind
    eng.sql("SELECT 1").collect()  # registered: nothing pending
    before = _registration(eng)
    assert before[0] is not None and before[1:] == (False, set())
    try:
        eng.sql(stmt)
        failed = False
    except Exception:
        failed = True
    if row.invalidates == "none":
        assert _registration(eng) == before
    elif failed or row.invalidates == "catalog":
        assert _registration(eng)[:2] == (None, True)
    else:
        m = row.pattern.match(stmt)
        assert _registration(eng)[1:] == (False, {m.group(1)})
        # the same change to a missing table fails: the full pass
        eng.sql("SELECT 1").collect()
        with pytest.raises(Exception):
            eng.sql(f"{stmt[:m.start(1)]}no_such_table{stmt[m.end(1):]}")
        assert _registration(eng)[:2] == (None, True)


def test_catalog_less_engine_hands_dialect_text_to_spark(spark):
    eng = Engine(spark)
    spark.sql("DROP VIEW IF EXISTS default.v")
    try:
        eng.sql("CREATE VIEW v AS SELECT 1")
        assert spark.sql("SELECT * FROM default.v").collect()[0][0] == 1
        eng.sql("DROP VIEW v")
        assert not spark.catalog.tableExists("default.v")
    finally:
        spark.sql("DROP VIEW IF EXISTS default.v")
