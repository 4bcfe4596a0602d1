"""Managed tables + views/MVs (reference: statement_plan/actions.rs:509-795,
table_dml.rs / materialized_view.rs integration tests)."""

import json

import pytest

from beacon_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, datasets_root=str(tmp_path))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ctas_select_insert(eng):
    eng.sql("CREATE TABLE t AS SELECT * FROM VALUES (1, 'a'), (2, 'b') AS v(id, name)")
    assert _rows(eng.sql("SELECT * FROM t")) == [(1, "a"), (2, "b")]

    eng.sql("INSERT INTO t VALUES (3, 'c')")
    assert _rows(eng.sql("SELECT * FROM t")) == [(1, "a"), (2, "b"), (3, "c")]

    eng.sql("INSERT INTO t SELECT 4, 'd'")
    assert eng.sql("SELECT count(*) AS n FROM t").collect()[0].n == 4


def test_delete_update(eng):
    eng.sql(
        "CREATE TABLE obs AS SELECT * FROM VALUES "
        "(1, 10.0), (2, 20.0), (3, 30.0) AS v(id, temp)"
    )
    eng.sql("DELETE FROM obs WHERE id = 2")
    assert _rows(eng.sql("SELECT * FROM obs")) == [(1, 10.0), (3, 30.0)]

    eng.sql("UPDATE obs SET temp = temp + 1.0 WHERE id = 3")
    assert _rows(eng.sql("SELECT * FROM obs")) == [(1, 10.0), (3, 31.0)]

    # UPDATE without WHERE touches every row
    eng.sql("UPDATE obs SET temp = 0.0")
    assert _rows(eng.sql("SELECT * FROM obs")) == [(1, 0.0), (3, 0.0)]


def test_alter_add_drop(eng):
    eng.sql("CREATE TABLE t AS SELECT 1 AS id")
    eng.sql("ALTER TABLE t ADD COLUMN label string")
    assert _rows(eng.sql("SELECT * FROM t")) == [(1, None)]
    eng.sql("UPDATE t SET label = 'x' WHERE id = 1")
    assert _rows(eng.sql("SELECT * FROM t")) == [(1, "x")]
    eng.sql("ALTER TABLE t DROP COLUMN label")
    assert eng.sql("SELECT * FROM t").columns == ["id"]


def test_time_travel_versions(eng):
    eng.sql("CREATE TABLE t AS SELECT 1 AS id")
    eng.sql("INSERT INTO t VALUES (2)")
    eng.sql("DELETE FROM t WHERE id = 1")
    t = eng.catalog.table("t")
    assert t.current_version() == 3
    assert _rows(t.read(version=1)) == [(1,)]
    assert _rows(t.read(version=2)) == [(1,), (2,)]
    assert _rows(t.read(version=3)) == [(2,)]


def test_views_and_mv_refresh(eng):
    eng.sql("CREATE TABLE base AS SELECT * FROM VALUES (1), (2), (3) AS v(x)")
    eng.sql("CREATE VIEW v AS SELECT x * 2 AS y FROM base")
    assert _rows(eng.sql("SELECT * FROM v ORDER BY y")) == [(2,), (4,), (6,)]

    eng.sql("CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS n FROM base")
    assert eng.sql("SELECT * FROM mv").collect()[0].n == 3

    # MV is a snapshot: stale until REFRESH; plain view tracks the base
    eng.sql("INSERT INTO base VALUES (4)")
    assert eng.sql("SELECT * FROM mv").collect()[0].n == 3
    assert _rows(eng.sql("SELECT * FROM v ORDER BY y"))[-1] == (8,)
    eng.sql("REFRESH MATERIALIZED VIEW mv")
    assert eng.sql("SELECT * FROM mv").collect()[0].n == 4

    eng.sql("DROP VIEW v")
    eng.sql("DROP MATERIALIZED VIEW mv")
    assert eng.catalog.names()["views"] == []
    assert eng.catalog.names()["materialized_views"] == []


def test_persistence_across_engines(eng, spark, tmp_path):
    eng.sql("CREATE TABLE t AS SELECT 42 AS answer")
    eng.sql("CREATE VIEW v AS SELECT answer + 1 AS next FROM t")
    fresh = Engine(spark, datasets_root=str(tmp_path))
    assert fresh.sql("SELECT * FROM t").collect()[0].answer == 42
    assert fresh.sql("SELECT * FROM v").collect()[0].next == 43
    fresh.sql("DROP TABLE t")
    with pytest.raises(Exception):
        Engine(spark, datasets_root=str(tmp_path)).catalog.table("t")


def test_cow_rewrites_only_touched_files(eng):
    """DELETE must not rewrite files that provably contain no matches."""
    eng.sql("CREATE TABLE t AS SELECT * FROM VALUES (1), (2) AS v(id)")
    eng.sql("INSERT INTO t VALUES (100)")
    t = eng.catalog.table("t")
    before = set(t._read_manifest()["files"])
    eng.sql("DELETE FROM t WHERE id = 100")
    after = set(eng.catalog.table("t")._read_manifest()["files"])
    # the v1 files (ids 1,2) survive untouched in the new manifest
    assert before & after


def test_external_table_and_show(eng, tmp_path, spark):
    spark.range(5).toDF("v").write.mode("overwrite").parquet(str(tmp_path / "ext"))
    eng.sql("CREATE EXTERNAL TABLE extt STORED AS parquet LOCATION 'ext/*.parquet'")
    assert eng.sql("SELECT count(*) AS n FROM extt").collect()[0].n == 5
    rows = {(r.table_name, r.table_type) for r in eng.sql("SHOW TABLES").collect()}
    assert ("extt", "external") in rows
    eng.sql("DROP TABLE extt")
    assert eng.catalog.names()["external_tables"] == []


def test_indexes(eng, tmp_path, spark):
    spark.range(10).toDF("v").write.mode("overwrite").parquet(str(tmp_path / "ix"))
    eng.sql("CREATE EXTERNAL TABLE ixt STORED AS parquet LOCATION 'ix/*.parquet'")
    eng.sql("CREATE INDEX vix ON ixt(v) USING btree")
    idx = eng.sql("SHOW INDEXES").collect()
    assert [(r.index_name, r.table_name, r.column_name, r.using) for r in idx] == [
        ("vix", "ixt", "v", "btree")
    ]
    eng.sql("DROP INDEX vix")
    assert eng.sql("SHOW INDEXES").count() == 0


def test_crawler(eng, tmp_path, spark):
    spark.range(3).toDF("a").write.mode("overwrite").parquet(str(tmp_path / "obs" / "x.parquet"))
    eng.sql("CREATE CRAWLER c1 ON 'obs'")
    assert eng.sql("SHOW CRAWLERS").collect()[0].crawler_name == "c1"
    report = eng.sql("RUN CRAWLER c1").collect()
    assert any("registered" in r.action for r in report)
    names = eng.catalog.names()["external_tables"]
    assert len(names) == 1
    assert eng.sql(f"SELECT count(*) AS n FROM {names[0]}").collect()[0].n == 3
    # idempotent: second run reports exists, registers nothing new
    report2 = eng.sql("RUN CRAWLER c1").collect()
    assert all("registered" not in r.action for r in report2)
    eng.sql("DROP CRAWLER c1")
    assert eng.sql("SHOW CRAWLERS").count() == 0


# ------------------------------------------------- index-backed pruning


def test_create_index_clusters_and_prunes(spark, tmp_path):
    """CREATE INDEX ... USING btree physically clusters the managed table
    by the column and builds file stats; a DSL range query then reads
    only the files whose min/max can match (the Lance-btree analog,
    actions.rs:763-820)."""
    from beacon_spark import Engine

    root = str(tmp_path)
    eng = Engine(spark, datasets_root=root)
    df = spark.range(0, 20000).selectExpr("id", "id % 7 AS g").repartition(8)
    eng.catalog.create_table("idx_t", df)
    eng.sql("CREATE INDEX ON idx_t (id) USING btree")

    mt = eng.catalog.table("idx_t")
    n_files = len(mt.files())
    assert n_files >= 4  # clustering split into range files

    out = eng.query(
        {
            "select": ["id"],
            "from": "idx_t",
            "filter": {"column": "id", "gt_eq": 10, "lt_eq": 20},
        }
    )
    assert out.count() == 11
    assert len(out.inputFiles()) < n_files  # file-level skip happened

    # DML refreshes the stats index: new rows are found
    eng.sql("INSERT INTO idx_t SELECT 90000 + id AS id, 0 AS g FROM range(5)")
    out2 = eng.query(
        {"select": ["id"], "from": "idx_t",
         "filter": {"column": "id", "gt_eq": 90000}}
    )
    assert out2.count() == 5

    # fail-open: un-indexed column ranges keep every file
    out3 = eng.query(
        {"select": ["id"], "from": "idx_t",
         "filter": {"column": "g", "eq": 3}}
    )
    assert out3.count() > 0


def test_vacuum_reclaims_old_versions(spark, tmp_path, monkeypatch):
    from beacon_spark import Engine
    from beacon_spark.managed import ManagedTable

    # grace=0: this test asserts IMMEDIATE reclamation of superseded
    # files; the default 600s landing-grace (concurrent-writer safety,
    # r13) would rightly spare them
    monkeypatch.setattr(ManagedTable, "VACUUM_GRACE_SECS", 0.0)
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.catalog.create_table("vac_t", spark.range(10).selectExpr("id"))
    eng.sql("INSERT INTO vac_t SELECT id + 100 AS id FROM range(5)")
    eng.sql("UPDATE vac_t SET id = id + 1 WHERE id < 3")
    mt = eng.catalog.table("vac_t")
    assert mt.current_version() >= 3
    # old version readable before vacuum
    assert mt.read(version=1).count() == 10

    res = eng.sql("VACUUM vac_t RETAIN 1 VERSIONS").collect()[0]
    assert int(res.files_removed) > 0 and int(res.manifests_removed) >= 2
    # latest still intact, history gone
    assert mt.read().count() == 15
    import pytest as _pytest

    with _pytest.raises(Exception):
        mt.read(version=1)
    # no dangling files: every remaining data file is referenced
    import os as _os

    live = set(mt._read_manifest()["files"])
    on_disk = {
        _os.path.join("data", f)
        for f in _os.listdir(_os.path.join(mt.path, "data"))
    }
    assert on_disk == live


def test_inverted_index_prunes_files(spark, tmp_path):
    """CREATE INDEX ... USING inverted builds a token->posting-file
    index; a DSL contains/LIKE query then opens a STRICT SUBSET of the
    table's files (reference: Lance inverted index accelerating text
    predicates, actions.rs:763-820)."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    rows = [(i, f"common filler text row {i}") for i in range(400)]
    # the needle lives in exactly one partition-worth of rows
    rows += [(1000 + i, f"rare zyzzyva mention {i}") for i in range(5)]
    df = spark.createDataFrame(rows, "id long, body string").repartitionByRange(
        6, "id"
    )
    eng.catalog.create_table("docs_t", df)
    eng.sql("CREATE INDEX bidx ON docs_t (body) USING inverted")

    mt = eng.catalog.table("docs_t")
    n_files = len(mt.files())
    assert n_files >= 4

    out = eng.query(
        {
            "select": ["id", "body"],
            "from": "docs_t",
            "filter": {"column": "body", "contains": "zyzzyva"},
        }
    )
    assert out.count() == 5
    assert 0 < len(out.inputFiles()) < n_files  # strict subset opened

    # LIKE drives the same pruning
    out2 = eng.query(
        {
            "select": ["id"],
            "from": "docs_t",
            "filter": {"column": "body", "like": "%zyzzyva%"},
        }
    )
    assert out2.count() == 5
    assert 0 < len(out2.inputFiles()) < n_files

    # no-hit term -> empty result without opening any data file
    out3 = eng.query(
        {
            "select": ["id"],
            "from": "docs_t",
            "filter": {"column": "body", "contains": "nonexistentterm"},
        }
    )
    assert out3.count() == 0 and len(out3.inputFiles()) == 0

    # DML refresh: newly inserted rows become findable (incremental build)
    eng.sql(
        "INSERT INTO docs_t SELECT 2000 + id AS id, "
        "concat('fresh xylophone text ', id) AS body FROM range(3)"
    )
    out4 = eng.query(
        {
            "select": ["id"],
            "from": "docs_t",
            "filter": {"column": "body", "contains": "xylophone"},
        }
    )
    assert out4.count() == 3

    # substring semantics: 'zyzzyv' is a PARTIAL token ('zyzzyva' is
    # posted) — contains must still find the rows, not silently prune
    # them (substring-of-token match in inverted_prune)
    out5 = eng.query(
        {
            "select": ["id"],
            "from": "docs_t",
            "filter": {"column": "body", "contains": "zyzzyv"},
        }
    )
    assert out5.count() == 5
    assert 0 < len(out5.inputFiles()) < n_files  # still prunes


def test_crawler_scheduling(spark, tmp_path):
    """A crawler with WITH (schedule='...') is auto-run by the scheduler
    sweep: a file that appears AFTER creation is registered without any
    explicit RUN CRAWLER (reference crawler manager timer +
    discovery.rs)."""
    import time

    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE CRAWLER sched ON 'inbox' WITH (schedule = '1s')")
    row = eng.sql("SHOW CRAWLERS").collect()[0]
    assert row.schedule_secs == 1

    # nothing to discover yet; first sweep runs (never-run = due) and
    # stamps last_run
    eng.run_due_crawlers()
    # a new file lands
    spark.range(4).toDF("a").write.mode("overwrite").parquet(
        str(tmp_path / "inbox" / "fresh.parquet")
    )
    # immediately after the sweep the crawler is NOT due again
    last = eng.catalog._load()["crawlers"]["sched"]["last_run"]
    assert eng.run_due_crawlers(now=last + 0.5) == []
    # past the interval -> sweep discovers and registers the new file
    report = eng.run_due_crawlers(now=last + 2)
    assert any("registered" in r[2] for r in report)
    names = eng.catalog.names()["external_tables"]
    assert any("fresh" in n for n in names)

    # background thread: a second new file is picked up with no call
    spark.range(2).toDF("a").write.mode("overwrite").parquet(
        str(tmp_path / "inbox" / "later.parquet")
    )
    eng.start_crawler_scheduler(poll_secs=0.2)
    try:
        deadline = time.time() + 15
        while time.time() < deadline:
            if any(
                "later" in n for n in eng.catalog.names()["external_tables"]
            ):
                break
            time.sleep(0.2)
        else:
            raise AssertionError("background sweep never registered later.parquet")
    finally:
        eng.stop_crawler_scheduler()


def test_failed_sweep_is_logged_and_scheduler_survives(
        spark, tmp_path, caplog, monkeypatch):
    """A sweep that raises is reported at WARNING, naming the sweep, and
    the scheduler thread keeps polling."""
    import logging
    import time

    eng = Engine(spark, datasets_root=str(tmp_path))
    calls = []

    def broken(now=None):
        calls.append(now)
        raise RuntimeError("store unreachable")

    monkeypatch.setattr(eng, "run_due_crawlers", broken)
    with caplog.at_level(logging.WARNING, logger="beacon_spark.engine"):
        eng.start_crawler_scheduler(poll_secs=0.05)
        try:
            deadline = time.time() + 10
            while len(calls) < 2 and time.time() < deadline:
                time.sleep(0.05)
            assert len(calls) >= 2  # a second sweep ran after the failure
            assert eng._crawler_thread.is_alive()
        finally:
            eng.stop_crawler_scheduler()
    warned = [r for r in caplog.records
              if r.name == "beacon_spark.engine"
              and r.levelno == logging.WARNING
              and "crawler sweep failed" in r.getMessage()]
    assert warned and "store unreachable" in warned[0].getMessage()


def test_bitmap_index_prunes_files(spark, tmp_path):
    """CREATE INDEX ... USING bitmap posts (value, file) pairs; eq and
    OR-of-eq DSL filters then open a strict subset of files. Type-gated:
    a float eq never prunes (representation mismatch risk)."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    # category clustered so each file holds few categories
    rows = [(i, ["alpha", "beta", "gamma", "delta"][i // 100], float(i))
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "id long, cat string, x double"
    ).repartitionByRange(4, "id")
    eng.catalog.create_table("events_t", df)
    eng.sql("CREATE INDEX cidx ON events_t (cat) USING bitmap")

    mt = eng.catalog.table("events_t")
    n_files = len(mt.files())
    assert n_files >= 3

    out = eng.query({
        "select": ["id"], "from": "events_t",
        "filter": {"column": "cat", "eq": "delta"},
    })
    assert out.count() == 100
    assert 0 < len(out.inputFiles()) < n_files  # strict subset

    # OR of eqs on the same column -> union of posting files
    out2 = eng.query({
        "select": ["id"], "from": "events_t",
        "filter": {"or": [
            {"column": "cat", "eq": "alpha"},
            {"column": "cat", "eq": "delta"},
        ]},
    })
    assert out2.count() == 200
    assert 0 < len(out2.inputFiles()) < n_files

    # integer eq on an integer-typed bitmap column also prunes
    eng.sql("CREATE INDEX iidx ON events_t (id) USING bitmap")
    out3 = eng.query({
        "select": ["id"], "from": "events_t",
        "filter": {"column": "id", "eq": 7},
    })
    assert out3.count() == 1 and 0 < len(out3.inputFiles()) < n_files

    # DML refresh keeps new rows findable
    eng.sql("INSERT INTO events_t VALUES (9999, 'epsilon', 1.0)")
    out4 = eng.query({
        "select": ["id"], "from": "events_t",
        "filter": {"column": "cat", "eq": "epsilon"},
    })
    assert out4.count() == 1


def test_zorder_index_prunes_both_columns(spark, tmp_path):
    """CREATE INDEX ON t (x, y) USING btree Z-orders the table: a range
    filter on EITHER column alone opens a strict subset of files —
    single-column range clustering can only do that for the leading
    column."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    # 40x40 grid, shuffled so input order carries no locality
    rows = [(i, float(i % 40), float(i // 40)) for i in range(1600)]
    import random

    random.Random(5).shuffle(rows)
    df = spark.createDataFrame(rows, "id long, x double, y double").repartition(8)
    eng.catalog.create_table("grid_t", df)
    eng.sql("CREATE INDEX gidx ON grid_t (x, y) USING btree")

    mt = eng.catalog.table("grid_t")
    n_files = len(mt.files())
    assert n_files >= 4

    qx = eng.query({
        "select": ["id"], "from": "grid_t",
        "filter": {"column": "x", "lt": 5.0},
    })
    assert qx.count() == 5 * 40
    assert 0 < len(qx.inputFiles()) < n_files

    qy = eng.query({
        "select": ["id"], "from": "grid_t",
        "filter": {"column": "y", "lt": 5.0},
    })
    assert qy.count() == 5 * 40
    assert 0 < len(qy.inputFiles()) < n_files

    # both dims: even tighter
    qxy = eng.query({
        "select": ["id"], "from": "grid_t",
        "filter": {"and": [
            {"column": "x", "lt": 5.0},
            {"column": "y", "lt": 5.0},
        ]},
    })
    assert qxy.count() == 25
    assert len(qxy.inputFiles()) <= len(qx.inputFiles())


def test_zorder_temporal_columns(spark, tmp_path):
    """Z-order accepts timestamp/date columns (scaled via epoch /
    datediff) — regression for the float(datetime) crash."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    df = spark.range(200).selectExpr(
        "id",
        "timestamp_seconds(1600000000 + id * 3600) AS ts",
        "CAST(id % 50 AS DOUBLE) AS x",
    )
    eng.catalog.create_table("ts_t", df)
    eng.sql("CREATE INDEX tz ON ts_t (ts, x) USING btree")
    out = eng.query({
        "select": ["id"], "from": "ts_t",
        "filter": {"column": "x", "lt": 10.0},
    })
    assert out.count() == 40


def test_bitmap_gate_rejects_timestampish_strings(spark, tmp_path):
    """A string eq value the DSL coerces into a timestamp literal must
    NOT drive exact-string bitmap pruning (would falsely prune)."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    df = spark.createDataFrame(
        [(i, "2021-01-01 00:00:00") for i in range(20)],
        "id long, ts_str string",
    ).repartition(2)
    eng.catalog.create_table("tss_t", df)
    eng.sql("CREATE INDEX tsi ON tss_t (ts_str) USING bitmap")
    # 'T' variant parses as the same instant; DSL compares as timestamps
    out = eng.query({
        "select": ["id"], "from": "tss_t",
        "filter": {"column": "ts_str", "eq": "2021-01-01T00:00:00"},
    })
    assert out.count() == 20  # all rows match; nothing falsely pruned


def test_zorder_handles_nan_and_nulls(spark, tmp_path):
    """NaN/null values in a clustered double column must not crash the
    ANSI long cast; they scale to 0 for that column only, keeping the
    row's interleave bits on the other clustered columns."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    df = spark.sql(
        "SELECT id, "
        "CASE WHEN id = 3 THEN double('NaN') WHEN id = 4 THEN NULL "
        "     ELSE CAST(id AS DOUBLE) END AS x, "
        "CAST(id % 7 AS DOUBLE) AS y "
        "FROM range(100)"
    )
    eng.catalog.create_table("nan_t", df)
    eng.sql("CREATE INDEX ni ON nan_t (x, y) USING btree")  # must not raise
    assert eng.sql("SELECT count(*) AS n FROM nan_t").collect()[0].n == 100


def test_crawler_registers_hive_partitioned_tree(spark, tmp_path):
    """r4-verdict item 7: the crawler detects key=value directory
    layouts during discovery and registers them as ONE partitioned
    external table whose partition columns prune (reference:
    crawler/discovery.rs hive detection)."""
    eng = Engine(spark, datasets_root=str(tmp_path))
    (
        spark.range(100)
        .selectExpr("id", "2020 + CAST(id % 3 AS INT) AS year",
                    "1 + CAST(id % 4 AS INT) AS month")
        .write.partitionBy("year", "month")
        .parquet(str(tmp_path / "events_tree"))
    )
    eng.sql("CREATE CRAWLER hive_c")
    report = {(r.path, r.action) for r in eng.sql("RUN CRAWLER hive_c").collect()}
    assert ("events_tree", "registered as events_tree") in report
    # ONE table, not one per partition leaf
    assert sum(1 for p, _ in report if p.startswith("events_tree")) == 1

    df = eng.sql("SELECT * FROM events_tree LIMIT 0")
    assert {"year", "month"} <= set(df.columns)  # partition columns derived
    out = eng.sql("SELECT count(*) AS n FROM events_tree WHERE year = 2021")
    assert out.collect()[0].n == 33
    # partition PRUNING: the filter lands in the scan's PartitionFilters
    # (inputFiles() is plan-level and lists all files pre-pruning)
    plan = (
        eng.sql("SELECT * FROM events_tree WHERE year = 2021")
        ._jdf.queryExecution().executedPlan().toString()
    )
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "2021" in m[0]


def test_external_table_options_validated(spark, tmp_path):
    """OPTIONS are format-scoped and fail LOUDLY when a format would
    ignore them; csv honors its delimiter option."""
    eng = Engine(spark, datasets_root=str(tmp_path))
    (tmp_path / "semi.csv").write_text("a;b\n1;x\n2;y\n")
    with pytest.raises(ValueError, match="OPTIONS not supported"):
        eng.sql("CREATE EXTERNAL TABLE p STORED AS PARQUET "
                "LOCATION 'x.parquet' OPTIONS ('delimiter' ';')")
    eng.sql("CREATE EXTERNAL TABLE semi STORED AS CSV LOCATION 'semi.csv' "
            "OPTIONS ('delimiter' ';')")
    rows = eng.sql("SELECT a, b FROM semi ORDER BY a").collect()
    assert [(r.a, r.b) for r in rows] == [(1, "x"), (2, "y")]


def test_sql_version_as_of_time_travel(spark, tmp_path):
    """FROM t VERSION AS OF n (engine._rewrite_time_travel): COW
    manifests make every retained version readable — the SQL face of
    ManagedTable.read(version=...), mirroring the reference's versioned
    Lance datasets."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE tt AS SELECT 1 AS x")
    eng.sql("INSERT INTO tt SELECT 2")
    eng.sql("DELETE FROM tt WHERE x = 1")
    assert [r.x for r in eng.sql(
        "SELECT x FROM tt ORDER BY x").collect()] == [2]
    assert [r.x for r in eng.sql(
        "SELECT x FROM tt VERSION AS OF 1 ORDER BY x").collect()] == [1]
    assert [r.x for r in eng.sql(
        "SELECT x FROM tt VERSION AS OF 2 ORDER BY x").collect()] == [1, 2]
    # joins across versions work (two distinct snapshot views)
    n = eng.sql(
        "SELECT count(*) AS n FROM tt VERSION AS OF 2 a "
        "JOIN tt VERSION AS OF 1 b ON a.x = b.x"
    ).collect()[0].n
    assert n == 1
    # a quoted literal containing the phrase is untouched
    got = eng.sql(
        "SELECT 'tt VERSION AS OF 1' AS s"
    ).collect()[0].s
    assert got == "tt VERSION AS OF 1"
    # unknown version fails loudly
    import pytest as _pytest

    with _pytest.raises(Exception, match="version|manifest|not"):
        eng.sql("SELECT * FROM tt VERSION AS OF 99").collect()


def test_describe_history(spark, tmp_path):
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE h AS SELECT 1 AS x")
    eng.sql("INSERT INTO h SELECT 2")
    rows = eng.sql("DESCRIBE HISTORY h").collect()
    assert [r.version for r in rows] == [2, 1]
    assert rows[0].num_files >= rows[1].num_files
    assert rows[0].committed_at is not None
    import pytest as _pytest

    with _pytest.raises(Exception, match="not a managed table"):
        eng.sql("DESCRIBE HISTORY nope")


def test_sql_timestamp_as_of(spark, tmp_path):
    import datetime

    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE ts AS SELECT 1 AS x")
    mid = datetime.datetime.now(datetime.timezone.utc)
    import time as _t

    _t.sleep(1.1)  # manifest mtimes are second-granular on some stores
    eng.sql("INSERT INTO ts SELECT 2")
    # at `mid`, only version 1 existed
    got = [r.x for r in eng.sql(
        f"SELECT x FROM ts TIMESTAMP AS OF '{mid.isoformat()}' ORDER BY x"
    ).collect()]
    assert got == [1]
    now = datetime.datetime.now(datetime.timezone.utc)
    got = [r.x for r in eng.sql(
        f"SELECT x FROM ts TIMESTAMP AS OF '{now.isoformat()}' ORDER BY x"
    ).collect()]
    assert got == [1, 2]
    import pytest as _pytest

    with _pytest.raises(Exception, match="no version"):
        eng.sql("SELECT * FROM ts TIMESTAMP AS OF '1990-01-01T00:00:00+00:00'")


def test_optimize_compacts_small_file_tail(spark, tmp_path):
    """OPTIMIZE folds the small-file tail (streaming micro-batches,
    tiny INSERTs) into target-sized files — incremental, COW-safe."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE tl AS SELECT id, id % 5 AS g FROM range(100)")
    for i in range(5):  # five micro-batch-ish inserts → five+ files
        eng.sql(f"INSERT INTO tl SELECT {1000 + i} AS id, 9 AS g")
    mt = eng.catalog.table("tl")
    files_before = len(mt.files())
    assert files_before >= 6
    v_before = mt.current_version()

    row = eng.sql("OPTIMIZE tl").collect()[0]
    assert row.op == "optimize"
    assert int(row.files_after) < int(row.files_before) == files_before
    assert len(mt.files()) == int(row.files_after)

    # data identical, and time travel still crosses the boundary
    assert eng.sql("SELECT count(*) AS n FROM tl").collect()[0].n == 105
    assert sorted(
        r.id for r in eng.sql("SELECT id FROM tl WHERE g = 9").collect()
    ) == [1000, 1001, 1002, 1003, 1004]
    assert mt.read(version=v_before).count() == 105
    assert mt.read(version=1).count() == 100

    # a second OPTIMIZE is a no-op (nothing small left to fold)
    row2 = eng.sql("OPTIMIZE tl").collect()[0]
    assert row2.files_before == row2.files_after

    # VACUUM reclaims the superseded small files
    eng.sql("VACUUM tl")
    assert len(mt.files()) == int(row.files_after)
    assert eng.sql("SELECT count(*) AS n FROM tl").collect()[0].n == 105


def test_schema_evolution_reads_keep_new_column_values(spark, tmp_path):
    """Regression: with mixed pre-/post-ALTER files, a bare
    spark.read.parquet infers from ONE footer — when that footer
    predates the ALTER, newer files' column VALUES silently pruned to
    null. All manifest readers must pin the manifest schema."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE ev AS SELECT id FROM range(10)")
    eng.sql("ALTER TABLE ev ADD COLUMN note STRING")
    eng.sql("INSERT INTO ev SELECT 100 AS id, 'hello' AS note")

    def note_of_100():
        return eng.sql("SELECT note FROM ev WHERE id = 100").collect()[0].note

    assert note_of_100() == "hello"           # plain read
    eng.sql("UPDATE ev SET note = 'x' WHERE id = 1")
    assert note_of_100() == "hello"           # COW update untouched-file path
    eng.sql("DELETE FROM ev WHERE id = 2")
    assert note_of_100() == "hello"           # COW delete survivor path
    eng.sql("OPTIMIZE ev")
    assert note_of_100() == "hello"           # compaction path
    # old rows null-fill, new values persist
    got = {r.id: r.note for r in eng.sql("SELECT id, note FROM ev").collect()}
    assert got[100] == "hello" and got[1] == "x" and got[3] is None


def test_optimize_refreshes_posting_indexes(spark, tmp_path):
    """Regression: inverted/bitmap pruning is fail-closed on file
    names, so OPTIMIZE must refresh postings like every other DML —
    otherwise compacted files have no postings and their rows silently
    vanish from indexed queries."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE oidx AS SELECT id, 'plain filler' AS body "
            "FROM range(50)")
    for i in range(4):  # small-file tail carrying the needle rows
        eng.sql(f"INSERT INTO oidx SELECT {100 + i} AS id, "
                f"'rare zyzzyva mention {i}' AS body")
    eng.sql("CREATE INDEX ob ON oidx (body) USING inverted")

    def hits():
        return eng.query({
            "select": ["id"], "from": "oidx",
            "filter": {"column": "body", "contains": "zyzzyva"},
        }).count()

    assert hits() == 4
    row = eng.sql("OPTIMIZE oidx").collect()[0]
    assert int(row.files_after) < int(row.files_before)
    assert hits() == 4  # compacted files must still be posting-visible


def test_crawler_format_filter_and_leaf_prefix(spark, tmp_path):
    """CrawlerDefinition parity (test_crawlers_advanced.py:27-79):
    format_filter drops non-matching files BEFORE the extension check
    (not counted as skipped), and table_naming=leaf_prefix groups every
    matching file in a leaf directory into ONE table."""
    import csv as _csv

    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    d = tmp_path / "mixed"
    d.mkdir()
    spark.range(0, 30).toDF("a").coalesce(1).write.mode(
        "overwrite").parquet(str(d / "p1.parquet"))
    spark.range(30, 50).toDF("a").coalesce(1).write.mode(
        "overwrite").parquet(str(d / "p2.parquet"))
    with open(d / "junk.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["a"]); w.writerow([999])

    eng.sql("CREATE CRAWLER fmt ON 'mixed' WITH ('formats' 'parquet', "
            "'table_naming' 'leaf_prefix')")
    report = eng.sql("RUN CRAWLER fmt").collect()
    # the csv is dropped silently (not 'skipped'), one table registered
    assert not any("junk" in r.path for r in report)
    assert any("registered as mixed" in r.action for r in report)
    assert eng.sql("SELECT count(*) AS n FROM mixed").collect()[0].n == 50

    # idempotent rerun
    report2 = eng.sql("RUN CRAWLER fmt").collect()
    assert all("registered" not in r.action for r in report2)


def test_failed_dml_writes_nothing_to_catalog(spark, tmp_path):
    """code-review r7 finding: a failed DML must not note a phantom
    table version (catalog junk + a pointless full re-registration for
    every other engine)."""
    import json as _json

    from beacon_spark.engine import Engine
    from beacon_spark.sources import bytesource as bs

    root = str(tmp_path / "faildml")
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE ok AS SELECT id FROM range(3)")
    cat_file = eng.catalog.file
    before = _json.loads(bs.read_text(cat_file))
    with pytest.raises(Exception):
        eng.sql("DELETE FROM nosuch WHERE id = 1")
    after = _json.loads(bs.read_text(cat_file))
    assert "nosuch" not in after.get("table_versions", {})
    assert after.get("rev") == before.get("rev")
    # DROP cleans up the version entry too
    eng.sql("INSERT INTO ok SELECT id FROM range(2)")
    assert "ok" in _json.loads(bs.read_text(cat_file))["table_versions"]
    eng.sql("DROP TABLE ok")
    assert "ok" not in _json.loads(
        bs.read_text(cat_file)).get("table_versions", {})


def test_concurrent_engine_changes_not_swallowed_by_dml_path(spark, tmp_path):
    """code-review r7 finding: after a DML, the targeted re-registration
    must adopt only ITS OWN catalog write — a concurrent engine's
    CREATE TABLE/INSERT in between still triggers the full pass."""
    from beacon_spark.engine import Engine

    root = str(tmp_path / "twoeng")
    a = Engine(spark, datasets_root=root)
    b = Engine(spark, datasets_root=root)
    a.sql("CREATE TABLE t1 AS SELECT id FROM range(3)")
    a.sql("SELECT count(*) FROM t1").collect()
    # A mutates t1 (dirty path armed), then B changes the catalog
    a.sql("INSERT INTO t1 SELECT id FROM range(2)")
    b.sql("CREATE TABLE t2 AS SELECT id FROM range(4)")
    b.sql("INSERT INTO t2 SELECT id FROM range(1)")
    # A's next statements see BOTH its own DML and B's changes
    assert a.sql("SELECT count(*) AS c FROM t1").collect()[0].c == 5
    assert a.sql("SELECT count(*) AS c FROM t2").collect()[0].c == 5


def test_catalog_mutate_merges_concurrent_writer(spark, tmp_path):
    """ADVICE r7: note_table_version's read-modify-write must not
    last-writer-wins erase a concurrent engine's catalog commit. A
    lock-ignoring writer (an object-store peer) lands a CREATE TABLE
    between our load and save: _mutate's pre-save rev check restarts
    on the fresh document, so BOTH changes survive."""
    import json as j

    from beacon_spark.engine import Engine
    from beacon_spark.sources import bytesource as bs

    root = str(tmp_path / "cmerge")
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE t1 AS SELECT id FROM range(3)")
    cat = eng.catalog
    fired = {"n": 0}

    def apply(doc):
        if fired["n"] == 0:  # simulate the concurrent commit mid-RMW
            fired["n"] += 1
            d = j.loads(bs.read_text(cat.file))
            d["tables"]["ghost"] = str(tmp_path / "ghost")
            d["rev"] = int(d.get("rev", 0)) + 1
            bs.publish_bytes(cat.file, j.dumps(d).encode())
        doc.setdefault("table_versions", {})["t1"] = 99

    cat._mutate(apply)
    final = j.loads(bs.read_text(cat.file))
    assert final["tables"].get("ghost") == str(tmp_path / "ghost")
    assert final["table_versions"]["t1"] == 99
    assert fired["n"] == 1


def test_catalog_write_lock_serializes_dml_bumps(spark, tmp_path):
    """Two engines bumping table_versions concurrently: the local lock
    file serializes the read-modify-write cycles, so no bump is lost
    (each name ends at exactly its writer's count)."""
    from concurrent.futures import ThreadPoolExecutor

    from beacon_spark.managed import Catalog

    root = str(tmp_path / "clock")
    a = Catalog(spark, root)
    b = Catalog(spark, root)

    def bump(catalog, name, n):
        for _ in range(n):
            catalog.note_table_version(name)

    with ThreadPoolExecutor(2) as ex:
        fa = ex.submit(bump, a, "ta", 20)
        fb = ex.submit(bump, b, "tb", 20)
        fa.result()
        fb.result()
    doc = a._load()
    assert doc["table_versions"] == {"ta": 20, "tb": 20}


def test_failed_dml_full_pass_survives_later_successful_dml(spark, tmp_path):
    """ADVICE r7: a failed DML demands a full re-registration
    (_cat_sig=None). If a SUCCESSFUL DML runs before the next
    statement, the dirty fast path used to adopt its signature and
    silently drop that demand — a table mutated outside the engine's
    notice kept serving a stale pinned file list. _force_full must
    survive the dirty path."""
    from beacon_spark.engine import Engine
    from beacon_spark.managed import ManagedTable

    root = str(tmp_path / "ffull")
    eng = Engine(spark, datasets_root=root)
    eng.sql("CREATE TABLE t1 AS SELECT id FROM range(3)")
    eng.sql("CREATE TABLE t2 AS SELECT id FROM range(4)")
    # pin both views
    assert eng.sql("SELECT count(*) AS c FROM t2").collect()[0].c == 4
    # an out-of-band writer appends to t2 WITHOUT noting the catalog
    # (simulates the partial mutation the failed statement left behind)
    path = eng.catalog._load()["tables"]["t2"]
    ManagedTable(spark, path).insert(spark.range(2).selectExpr("id"))
    # a failed DML demands the full pass...
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng.sql("DELETE FROM no_such_table WHERE id = 1")
    # ...then a successful DML takes the dirty fast path
    eng.sql("INSERT INTO t1 SELECT id FROM range(1)")
    # the next statement must see t2's out-of-band rows (full pass ran)
    assert eng.sql("SELECT count(*) AS c FROM t2").collect()[0].c == 6
    assert eng.sql("SELECT count(*) AS c FROM t1").collect()[0].c == 4


def test_create_table_explicit_schema_and_lance_contract(spark, tmp_path):
    """Reference contract (integration-tests/test_lance_tables.py):
    plain CREATE TABLE with an explicit schema (bare VARCHAR accepted),
    INSERT VALUES, UPDATE WHERE leaves other rows, DELETE without WHERE
    empties the table."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path / "lance"))
    eng.sql("CREATE TABLE mt (id BIGINT, name VARCHAR)")
    eng.sql("INSERT INTO mt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    eng.sql("UPDATE mt SET name = 'Z' WHERE id = 2")
    rows = {r.id: r.name for r in eng.sql("SELECT id, name FROM mt").collect()}
    assert rows == {1: "a", 2: "Z", 3: "c"}
    eng.sql("UPDATE mt SET name = 'all'")
    assert eng.sql("SELECT count(DISTINCT name) n FROM mt").collect()[0].n == 1
    eng.sql("DELETE FROM mt WHERE id = 1")
    assert eng.sql("SELECT min(id) m FROM mt").collect()[0].m == 2
    eng.sql("DELETE FROM mt")
    assert eng.sql("SELECT count(*) c FROM mt").collect()[0].c == 0


def test_alter_rename_column_preserves_data(spark, tmp_path):
    """Lance schema-evolution contract (test_lance_tables.py:93-114):
    ADD COLUMN null-fills, a populated column survives RENAME (metadata
    only — readers coalesce the retired physical name, no file
    rewrite), chained renames keep working across mixed-schema files,
    DROP removes it."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path / "ren"))
    eng.sql("CREATE TABLE rt (id BIGINT, name VARCHAR)")
    eng.sql("INSERT INTO rt VALUES (1, 'a'), (2, 'b')")
    eng.sql("ALTER TABLE rt ADD COLUMN score DOUBLE")
    assert eng.sql(
        "SELECT count(*) c FROM rt WHERE score IS NULL").collect()[0].c == 2
    eng.sql("UPDATE rt SET score = 9.5 WHERE id = 1")
    before_files = set(eng.catalog.table("rt").files())
    eng.sql("ALTER TABLE rt RENAME COLUMN score TO rating")
    # metadata-only: the data files are untouched
    assert set(eng.catalog.table("rt").files()) == before_files
    cols = {f.name for f in eng.sql("SELECT * FROM rt").schema.fields}
    assert "rating" in cols and "score" not in cols
    assert eng.sql(
        "SELECT rating FROM rt WHERE id = 1").collect()[0].rating == 9.5
    # original column renamed: pre-rename files still serve their data
    eng.sql("ALTER TABLE rt RENAME COLUMN name TO label")
    vals = {r.id: r.label for r in eng.sql("SELECT id, label FROM rt").collect()}
    assert vals == {1: "a", 2: "b"}
    # chained rename
    eng.sql("ALTER TABLE rt RENAME COLUMN label TO tag")
    vals = {r.id: r.tag for r in eng.sql("SELECT id, tag FROM rt").collect()}
    assert vals == {1: "a", 2: "b"}
    # predicates/DML on the renamed column work (split_files reads aliases)
    eng.sql("DELETE FROM rt WHERE tag = 'a'")
    assert eng.sql("SELECT count(*) c FROM rt").collect()[0].c == 1
    eng.sql("ALTER TABLE rt DROP COLUMN rating")
    assert "rating" not in {
        f.name for f in eng.sql("SELECT * FROM rt").schema.fields}


def test_alter_add_refuses_resurrecting_retired_name(spark, tmp_path):
    """A retired physical name still carried by data files must not be
    re-added as a fresh logical column (old values would silently
    resurrect); the engine refuses loudly until a full rewrite clears
    the alias."""
    import pytest as _pytest

    from beacon_spark.engine import Engine
    from beacon_spark.managed import ManagedTableError

    eng = Engine(spark, datasets_root=str(tmp_path / "res"))
    eng.sql("CREATE TABLE zt (id BIGINT, name VARCHAR)")
    eng.sql("INSERT INTO zt VALUES (1, 'a')")
    eng.sql("ALTER TABLE zt RENAME COLUMN name TO label")
    with _pytest.raises(ManagedTableError, match="OPTIMIZE"):
        eng.catalog.table("zt").alter_add_column("name", "string")
    # a full clustering rewrite clears the aliases; the name frees up
    eng.catalog.table("zt").cluster_by("id")
    eng.catalog.table("zt").alter_add_column("name", "string")
    vals = eng.sql("SELECT id, label, name FROM zt").collect()[0]
    assert vals.label == "a" and vals.name is None


def test_full_etl_pipeline_contract(spark, tmp_path, sf_small):
    """The reference's end-to-end ETL flow
    (integration-tests/test_etl_pipeline.py): CTAS over a cross-format
    join with BRACKETED read lists, ALTER ADD COLUMN with bare VARCHAR,
    category UPDATEs, cleanse DELETE, aggregated mart CTAS."""
    from beacon_spark.engine import Engine

    root = str(tmp_path / "etl")
    import os
    import shutil

    os.makedirs(root)
    shutil.copy(f"{sf_small}/orders.parquet", f"{root}/orders.parquet")
    with open(f"{root}/prio.csv", "w") as f:
        f.write("o_orderpriority,label\n1-URGENT,hot\n2-HIGH,hot\n"
                "3-MEDIUM,mid\n4-NOT SPECIFIED,meh\n5-LOW,cold\n")
    eng = Engine(spark, datasets_root=root)
    eng.sql(
        "CREATE TABLE etl_staging AS "
        "SELECT o.o_orderkey AS id, o.o_totalprice AS price, "
        "       o.o_orderpriority AS prio, s.label AS label "
        "FROM read_parquet(['*.parquet']) o "
        "JOIN read_csv(['prio.csv']) s "
        "ON o.o_orderpriority = s.o_orderpriority")
    total = eng.sql("SELECT count(*) c FROM etl_staging").collect()[0].c
    assert total > 0
    assert eng.sql("SELECT count(*) c FROM etl_staging "
                   "WHERE label IS NULL").collect()[0].c == 0
    eng.sql("ALTER TABLE etl_staging ADD COLUMN price_band VARCHAR")
    eng.sql("UPDATE etl_staging SET price_band = 'big' WHERE price > 100000")
    eng.sql("UPDATE etl_staging SET price_band = 'small' "
            "WHERE price <= 100000")
    assert eng.sql("SELECT count(*) c FROM etl_staging "
                   "WHERE price_band IS NULL").collect()[0].c == 0
    eng.sql("DELETE FROM etl_staging WHERE label = 'cold'")
    assert eng.sql("SELECT count(*) c FROM etl_staging "
                   "WHERE label = 'cold'").collect()[0].c == 0
    eng.sql(
        "CREATE TABLE etl_summary AS "
        "SELECT label, price_band, count(*) AS n, avg(price) AS avg_price "
        "FROM etl_staging GROUP BY label, price_band")
    rows = eng.sql("SELECT label, price_band, n, avg_price FROM etl_summary "
                   "ORDER BY label, price_band").collect()
    remaining = eng.sql("SELECT count(*) c FROM etl_staging").collect()[0].c
    assert sum(r.n for r in rows) == remaining
    assert all(r.avg_price > 100000 for r in rows if r.price_band == "big")
    eng.sql("DROP TABLE IF EXISTS etl_summary")
    eng.sql("DROP TABLE IF EXISTS etl_staging")


def test_retired_name_frees_after_all_carriers_rewritten(spark, tmp_path):
    """The rename alias dies with its LAST carrying file: _write_manifest
    prunes the recorded carrier list on every COW rewrite, so a retired
    physical name becomes reusable once no surviving data file predates
    the rename — previously the alias (and the ADD COLUMN refusal) was
    carried forward forever, even by a full OPTIMIZE rewrite."""
    import pytest as _pytest

    from beacon_spark.engine import Engine
    from beacon_spark.managed import ManagedTableError

    eng = Engine(spark, datasets_root=str(tmp_path / "carriers"))
    eng.sql("CREATE TABLE ft (id BIGINT, name VARCHAR)")
    eng.sql("INSERT INTO ft VALUES (1, 'a')")
    eng.sql("INSERT INTO ft VALUES (2, 'b')")
    eng.sql("ALTER TABLE ft RENAME COLUMN name TO label")
    t = eng.catalog.table("ft")
    with _pytest.raises(ManagedTableError, match="OPTIMIZE"):
        t.alter_add_column("name", "string")
    # a partial rewrite (only id=1's file) keeps the alias: the other
    # pre-rename file still carries the retired physical name
    eng.sql("UPDATE ft SET label = 'x' WHERE id = 1")
    with _pytest.raises(ManagedTableError, match="OPTIMIZE"):
        t.alter_add_column("name", "string")
    assert eng.sql(
        "SELECT label FROM ft WHERE id = 2").collect()[0].label == "b"
    # rewriting the last carrier frees the name
    eng.sql("UPDATE ft SET label = 'y' WHERE id = 2")
    m = t._read_manifest()
    assert "aliases" not in m and "alias_files" not in m
    t.alter_add_column("name", "string")
    row = eng.sql("SELECT label, name FROM ft WHERE id = 1").collect()[0]
    assert row.label == "x" and row.name is None


def test_optimize_full_rewrite_frees_retired_name(spark, tmp_path):
    """The guard's own remedy works: OPTIMIZE with a target large enough
    to fold every small file rewrites all pre-rename carriers, and the
    retired name becomes addable again."""
    import pytest as _pytest

    from beacon_spark.engine import Engine
    from beacon_spark.managed import ManagedTableError

    eng = Engine(spark, datasets_root=str(tmp_path / "optfree"))
    eng.sql("CREATE TABLE ot (id BIGINT, name VARCHAR)")
    eng.sql("INSERT INTO ot VALUES (1, 'a')")
    eng.sql("INSERT INTO ot VALUES (2, 'b')")
    eng.sql("ALTER TABLE ot RENAME COLUMN name TO label")
    t = eng.catalog.table("ot")
    with _pytest.raises(ManagedTableError, match="OPTIMIZE"):
        t.alter_add_column("name", "string")
    t.compact(target_file_bytes=1 << 30)
    assert "aliases" not in t._read_manifest()
    t.alter_add_column("name", "string")
    vals = {r.id: r.label for r in eng.sql(
        "SELECT id, label FROM ot").collect()}
    assert vals == {1: "a", 2: "b"}


def test_delete_empty_where_is_refused(spark, tmp_path):
    """`DELETE FROM t WHERE ` (present-but-empty predicate) must error,
    not silently coerce to delete-everything — only a truly ABSENT
    WHERE clause means delete all rows."""
    import pytest as _pytest

    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path / "delempty"))
    eng.sql("CREATE TABLE et (id BIGINT)")
    eng.sql("INSERT INTO et VALUES (1), (2)")
    for stmt in ("DELETE FROM et WHERE ", "DELETE FROM et WHERE ;"):
        with _pytest.raises(Exception, match="empty WHERE"):
            eng.sql(stmt)
    assert eng.sql("SELECT count(*) c FROM et").collect()[0].c == 2


def test_catalog_dml_note_on_file_scheme_root(spark, tmp_path):
    """A `file://`-scheme lake root is local: the DML catalog note must
    take the lock via the PLAIN path (os.open can't open a URI) and
    bump the rev — previously every note raised FileNotFoundError and
    other engines never saw DML invalidations."""
    from beacon_spark.managed import Catalog

    cat = Catalog(spark, "file://" + str(tmp_path / "fsroot"))
    sig1 = cat.note_table_version("t")
    assert cat._load()["table_versions"]["t"] == 1
    sig2 = cat.note_table_version("t")
    assert sig2 != sig1
    assert cat._load()["table_versions"]["t"] == 2


def test_drop_table_covers_views_and_errors_on_missing(spark, tmp_path):
    """Reference contract (docs server/view.md, actions.rs:37-43):
    DROP TABLE removes a view too — there is no separate DROP VIEW in
    the reference — and a missing name errors unless IF EXISTS."""
    import pytest as _pytest

    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path / "dropv"))
    eng.sql("CREATE TABLE bt (id BIGINT)")
    eng.sql("INSERT INTO bt VALUES (1), (2)")
    eng.sql("CREATE VIEW v1 AS SELECT id FROM bt WHERE id > 1")
    assert eng.sql("SELECT count(*) c FROM v1").collect()[0].c == 1
    eng.sql("DROP TABLE v1")
    assert "v1" not in eng.catalog.names()["views"]
    with _pytest.raises(Exception, match="does not exist"):
        eng.sql("DROP TABLE v1")
    eng.sql("DROP TABLE IF EXISTS v1")  # silent with the clause
    eng.sql("DROP TABLE bt")
    with _pytest.raises(Exception, match="does not exist"):
        eng.sql("DROP TABLE bt")


def test_managed_table_flat_dotted_column_roundtrip(spark, tmp_path):
    """Flat dotted column names ('<var>.<attr>' attribute columns) survive
    the managed write → align_to_schema read path (quoted refs, never
    struct access)."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE dotc AS SELECT * FROM VALUES (1, 5), (0, 20) "
            "AS t(`o.flag`, depth)")
    got = eng.sql("SELECT * FROM dotc WHERE `o.flag` = 1").collect()
    assert [tuple(r) for r in got] == [(1, 5)]


def test_alter_drop_column_retires_physical_names(spark, tmp_path):
    """DROP COLUMN is metadata-only, so data files still carry the
    column (and any retired rename aliases). Re-adding those names must
    be refused until every carrier is rewritten — else old files'
    values silently resurrect into the 'new' column."""
    import pytest as _pytest

    from beacon_spark.engine import Engine
    from beacon_spark.managed import ManagedTableError

    eng = Engine(spark, datasets_root=str(tmp_path / "dropres"))
    eng.sql("CREATE TABLE dt (id BIGINT, name VARCHAR)")
    eng.sql("INSERT INTO dt VALUES (1, 'a')")
    eng.sql("ALTER TABLE dt RENAME COLUMN name TO label")
    eng.sql("ALTER TABLE dt DROP COLUMN label")
    t = eng.catalog.table("dt")
    # BOTH the dropped logical's physical name and its retired rename
    # alias stay blocked while the pre-drop file survives
    with _pytest.raises(ManagedTableError, match="OPTIMIZE"):
        t.alter_add_column("label", "string")
    with _pytest.raises(ManagedTableError, match="OPTIMIZE"):
        t.alter_add_column("name", "string")
    with _pytest.raises(ManagedTableError, match="OPTIMIZE"):
        t.alter_rename_column("id", "name")
    # a full rewrite clears the tombstones; re-added columns NULL-fill
    t.cluster_by("id")
    t.alter_add_column("name", "string")
    t.alter_add_column("label", "string")
    row = eng.sql("SELECT id, name, label FROM dt").collect()[0]
    assert row.id == 1 and row.name is None and row.label is None


def test_alter_drop_then_add_same_name_does_not_resurrect(spark, tmp_path):
    import pytest as _pytest

    from beacon_spark.engine import Engine
    from beacon_spark.managed import ManagedTableError

    eng = Engine(spark, datasets_root=str(tmp_path / "dropadd"))
    eng.sql("CREATE TABLE da (id BIGINT, v VARCHAR)")
    eng.sql("INSERT INTO da VALUES (1, 'old')")
    eng.sql("ALTER TABLE da DROP COLUMN v")
    t = eng.catalog.table("da")
    with _pytest.raises(ManagedTableError, match="OPTIMIZE"):
        t.alter_add_column("v", "string")
    # rewriting the carrier (full-row UPDATE) frees the name
    eng.sql("UPDATE da SET id = id WHERE id = 1")
    m = t._read_manifest()
    assert "retired" not in m and "alias_files" not in m
    t.alter_add_column("v", "string")
    assert eng.sql("SELECT v FROM da").collect()[0].v is None
    # an empty table's DROP leaves nothing retired (no carriers)
    eng.sql("CREATE TABLE emp (a BIGINT, b VARCHAR)")
    eng.sql("ALTER TABLE emp DROP COLUMN b")
    eng.catalog.table("emp").alter_add_column("b", "string")


def test_retired_name_with_unknown_carriers_stays_retired(spark, tmp_path):
    """A manifest carrying ``retired`` WITHOUT an alias_files entry
    (older/foreign writer recorded no carrier list) must keep the name
    retired through subsequent manifest writes — pruning it would free a
    physical name whose values may still live in data files, re-opening
    the silent-resurrection ADD COLUMN path (ADVICE r8). Mirrors the
    'unknown stays conservatively' rule aliases already follow."""
    import json as _json

    import pytest as _pytest

    from beacon_spark.engine import Engine
    from beacon_spark.managed import ManagedTableError
    from beacon_spark.sources import bytesource as bs

    eng = Engine(spark, datasets_root=str(tmp_path / "unk"))
    eng.sql("CREATE TABLE ut (id BIGINT, name VARCHAR)")
    eng.sql("INSERT INTO ut VALUES (1, 'a')")
    eng.sql("ALTER TABLE ut DROP COLUMN name")
    t = eng.catalog.table("ut")
    m = t._read_manifest()
    assert "name" in (m.get("retired") or [])
    # simulate a foreign/older writer: same manifest, carrier list gone
    doc = dict(m)
    doc.pop("alias_files", None)
    doc["version"] = t.current_version() + 1
    bs.publish_bytes(
        bs.join(t.manifest_dir, f"v{doc['version']:08d}.json"),
        _json.dumps(doc).encode(),
    )
    # a mutation runs _write_manifest's pruning over the carrier-less
    # manifest; the retired name must survive it
    eng.sql("INSERT INTO ut VALUES (2)")
    m2 = t._read_manifest()
    assert "name" in (m2.get("retired") or [])
    with _pytest.raises(ManagedTableError, match="OPTIMIZE"):
        t.alter_add_column("name", "string")
    # a full rewrite is NOT enough to free an unknown-carrier name via
    # carrier pruning alone; OPTIMIZE resets retired explicitly, which
    # IS safe — every surviving file was just rewritten
    t.cluster_by("id")
    t.alter_add_column("name", "string")


def test_catalog_names_are_one_namespace(spark, tmp_path):
    """r9 review: catalog names are ONE namespace — a view over an
    existing managed table would silently shadow it at re-registration
    (views register last), making INSERT and SELECT disagree about what
    the name is. Every create path refuses cross-category collisions;
    OR REPLACE still replaces same-category."""
    import pytest as _pytest

    from beacon_spark.engine import Engine
    from beacon_spark.managed import ManagedTableError

    eng = Engine(spark, datasets_root=str(tmp_path / "ns"))
    eng.sql("CREATE TABLE nt AS SELECT 1 AS x")
    eng.sql("CREATE VIEW nv AS SELECT 2 AS x")
    eng.sql("CREATE MATERIALIZED VIEW nm AS SELECT 3 AS x")
    spark.range(1).write.parquet(str(tmp_path / "ns" / "ne.parquet"))
    eng.sql("CREATE EXTERNAL TABLE ne STORED AS PARQUET LOCATION 'ne.parquet'")

    with _pytest.raises(ManagedTableError, match="already exists as a"):
        eng.sql("CREATE VIEW nt AS SELECT 9 AS x")
    with _pytest.raises(ManagedTableError, match="already exists as a"):
        eng.sql("CREATE OR REPLACE VIEW nt AS SELECT 9 AS x")
    with _pytest.raises(ManagedTableError, match="already exists as a"):
        eng.sql("CREATE TABLE nv AS SELECT 9 AS x")
    with _pytest.raises(ManagedTableError, match="already exists as a"):
        eng.sql("CREATE TABLE nm (x BIGINT)")
    with _pytest.raises(ManagedTableError, match="already exists as a"):
        eng.sql("CREATE MATERIALIZED VIEW ne AS SELECT 9 AS x")
    with _pytest.raises(ManagedTableError, match="already exists as a"):
        eng.sql("CREATE EXTERNAL TABLE nv STORED AS PARQUET "
                "LOCATION 'ne.parquet'")
    # same-category OR REPLACE still works
    eng.sql("CREATE OR REPLACE VIEW nv AS SELECT 22 AS x")
    assert eng.sql("SELECT x FROM nv").collect()[0].x == 22
    # after the refusals, the originals still answer
    assert eng.sql("SELECT x FROM nt").collect()[0].x == 1
    assert eng.sql("SELECT x FROM nm").collect()[0].x == 3


def test_drop_view_missing_errors_unless_if_exists(spark, tmp_path):
    """DROP VIEW on a missing name errors (a typo was silent success
    before); IF EXISTS is a noop."""
    import pytest as _pytest

    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path / "dv"))
    with _pytest.raises(ValueError, match="does not exist"):
        eng.sql("DROP VIEW nope")
    st = eng.sql("DROP VIEW IF EXISTS nope").collect()[0]
    assert st.status == "noop"
    eng.sql("CREATE VIEW v1 AS SELECT 1 AS x")
    assert eng.sql("DROP VIEW v1").collect()[0].status == "ok"


def test_detach_unknown_errors(spark, tmp_path):
    import pytest as _pytest

    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path / "dt"))
    with _pytest.raises(ValueError, match="no attachment"):
        eng.sql("DETACH ghost")


def test_create_external_or_replace_if_not_exists_partitioned(spark, tmp_path):
    """r9: CREATE [OR REPLACE] EXTERNAL TABLE [IF NOT EXISTS] ...
    [PARTITIONED BY (...)] (reference create-table.md). IF NOT EXISTS
    skips silently; OR REPLACE swaps the definition in one catalog
    commit; PARTITIONED BY validates against the probed schema and the
    hive-partition columns answer queries (pruning is Spark-native)."""
    import pytest as _pytest

    from beacon_spark.engine import Engine

    root = tmp_path / "cep"
    (root / "obs" / "year=2023").mkdir(parents=True)
    (root / "obs" / "year=2024").mkdir(parents=True)
    spark.range(3).selectExpr("id AS v").write.mode("overwrite").parquet(
        str(root / "obs" / "year=2023"))
    spark.range(4).selectExpr("id AS v").write.mode("overwrite").parquet(
        str(root / "obs" / "year=2024"))
    eng = Engine(spark, datasets_root=str(root))
    eng.sql("CREATE EXTERNAL TABLE obs STORED AS PARQUET LOCATION 'obs/' "
            "PARTITIONED BY (year)")
    assert eng.sql(
        "SELECT count(*) AS n FROM obs WHERE year = 2024").collect()[0].n == 4
    # IF NOT EXISTS: silent noop, definition unchanged
    st = eng.sql("CREATE EXTERNAL TABLE IF NOT EXISTS obs STORED AS PARQUET "
                 "LOCATION 'obs/year=2023'").collect()[0]
    assert st.status == "noop"
    assert eng.sql("SELECT count(*) AS n FROM obs").collect()[0].n == 7
    # plain CREATE on an existing name still errors
    with _pytest.raises(Exception, match="already exists"):
        eng.sql("CREATE EXTERNAL TABLE obs STORED AS PARQUET "
                "LOCATION 'obs/'")
    # OR REPLACE narrows the definition to one partition directory
    eng.sql("CREATE OR REPLACE EXTERNAL TABLE obs STORED AS PARQUET "
            "LOCATION 'obs/year=2023'")
    assert eng.sql("SELECT count(*) AS n FROM obs").collect()[0].n == 3
    # combining the modifiers is an error
    with _pytest.raises(ValueError, match="cannot be combined"):
        eng.sql("CREATE OR REPLACE EXTERNAL TABLE IF NOT EXISTS obs "
                "STORED AS PARQUET LOCATION 'obs/'")
    # a typo'd partition column errors at CREATE time
    with _pytest.raises(ValueError, match="PARTITIONED BY column"):
        eng.sql("CREATE EXTERNAL TABLE obs2 STORED AS PARQUET "
                "LOCATION 'obs/' PARTITIONED BY (yeer)")


def test_create_external_or_replace_swaps_secret(spark, tmp_path):
    """OR REPLACE drops the previous definition's credential secret in
    the same commit the new entry lands in (no orphaned secrets)."""
    from beacon_spark.engine import Engine

    root = tmp_path / "ces"
    root.mkdir()
    spark.range(2).write.parquet(str(root / "p.parquet"))
    eng = Engine(spark, datasets_root=str(root))
    eng.sql("CREATE EXTERNAL TABLE pt STORED AS PARQUET "
            "LOCATION 'p.parquet'")
    eng.sql("CREATE OR REPLACE EXTERNAL TABLE pt STORED AS PARQUET "
            "LOCATION 'p.parquet'")
    c = eng.catalog._load()
    assert "pt" in c["external_tables"]
    assert not [s for s in c.get("secrets", {}) if s.startswith("__exttbl_pt")]


def test_create_table_if_not_exists(spark, tmp_path):
    """managed-tables.md: CREATE TABLE IF NOT EXISTS does nothing when
    the table exists (both schema and CTAS forms); plain CREATE still
    errors."""
    import pytest as _pytest

    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path / "cine"))
    eng.sql("CREATE TABLE m (id BIGINT, name VARCHAR)")
    eng.sql("INSERT INTO m VALUES (1, 'a')")
    assert eng.sql("CREATE TABLE IF NOT EXISTS m (id BIGINT)") \
        .collect()[0].status == "noop"
    assert eng.sql("CREATE TABLE IF NOT EXISTS m AS SELECT 9 AS id") \
        .collect()[0].status == "noop"
    # untouched
    assert eng.sql("SELECT id, name FROM m").collect()[0].name == "a"
    with _pytest.raises(Exception, match="already exists"):
        eng.sql("CREATE TABLE m (id BIGINT)")
    # fresh name still creates
    eng.sql("CREATE TABLE IF NOT EXISTS m2 AS SELECT 5 AS v")
    assert eng.sql("SELECT v FROM m2").collect()[0].v == 5


def test_refresh_error_contract(spark, tmp_path):
    """create-materialized-view.md errors: unknown name vs
    known-but-not-an-MV give the reference's distinct messages."""
    import pytest as _pytest

    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path / "rerr"))
    eng.sql("CREATE TABLE orders_t AS SELECT 1 AS x")
    with _pytest.raises(ValueError,
                        match="Materialized view 'unknown_view' does not"):
        eng.sql("REFRESH unknown_view")
    with _pytest.raises(ValueError,
                        match="Object 'orders_t' is not a materialized"):
        eng.sql("REFRESH orders_t")
    eng.sql("CREATE MATERIALIZED VIEW mv1 AS SELECT x FROM orders_t")
    assert eng.sql("REFRESH mv1").collect()[0].status == "ok"


def test_concurrent_inserts_never_lose_rows(spark, tmp_path):
    """r10 sweep (lost-update): manifest commits were unconditional
    publishes — two writers that both read vN both published v(N+1) and
    the loser's rows silently vanished. Commits are now put-if-absent
    (os.link claim); appends retry against the winner's base, so every
    concurrent INSERT lands."""
    import threading

    from beacon_spark.managed import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "race"))
    t.create(spark.createDataFrame([(0,)], "v int"))
    errs = []

    def ins(k):
        try:
            t.insert(spark.createDataFrame([(k,)] * 10, "v int"))
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=ins, args=(k,)) for k in range(1, 5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    assert t.read().count() == 1 + 4 * 10
    # every version number is distinct and contiguous
    assert t.current_version() == 5


def test_manifest_conflict_is_loud_for_rewrites(spark, tmp_path):
    """A rewrite (delete/update) that loses the race must surface the
    conflict, not silently clobber the winner."""
    import pytest as _pytest

    from beacon_spark.managed import ManagedTable, ManifestConflict

    t = ManagedTable(spark, str(tmp_path / "rw"))
    t.create(spark.createDataFrame([(1,), (2,)], "v int"))
    # simulate a concurrent winner claiming the next version number
    nxt = t.current_version() + 1
    payload = b'{"stale": true}'
    t._commit_manifest(nxt, b'{"version": %d, "schema": %s, "files": []}'
                       % (nxt, json.dumps(t.schema().jsonValue()).encode()))
    with _pytest.raises(ManifestConflict):
        t._commit_manifest(nxt, payload)


def test_concurrent_ddl_never_loses_entries(spark, tmp_path):
    """r10 sweep: Catalog DDL used plain load->save, so two concurrent
    CREATEs last-writer-wins erased each other's entry; every catalog
    mutation now rides _mutate (lock + merge-on-conflict)."""
    import threading

    from beacon_spark.managed import Catalog

    cat = Catalog(spark, str(tmp_path))
    errs = []

    def mk(i):
        try:
            cat.create_view(f"view_{i}", f"SELECT {i} AS x")
            cat.create_crawler(f"crawl_{i}", prefix=f"p{i}")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=mk, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    names = cat.names()
    assert names["views"] == [f"view_{i}" for i in range(6)]
    assert names["crawlers"] == [f"crawl_{i}" for i in range(6)]


def test_abandoned_empty_claim_is_reclaimed(spark, tmp_path):
    """ADVICE r10: a writer crash between the no-hardlink O_EXCL claim
    and os.replace left a permanently empty vNNNNNNNN.json — every later
    read spun 200ms then raised, bricking the table until manual repair.
    An empty claim older than ABANDONED_CLAIM_SECS is now reclaimed and
    the read self-heals to the last committed version."""
    import os as _os
    import time as _t

    from beacon_spark import managed as m
    from beacon_spark.managed import ManagedTable, ManagedTableError

    t = ManagedTable(spark, str(tmp_path / "ab"))
    t.create(spark.createDataFrame([(1,), (2,)], "v int"))
    v = t.current_version()
    claim = _os.path.join(str(tmp_path / "ab"), "_manifests",
                          f"v{v + 1:08d}.json")
    open(claim, "wb").close()  # the crashed writer's empty claim

    # FRESH claim (mtime now): NOT reclaimed — loud error with the
    # manual-repair hint, and the file survives (a live writer may
    # still be mid-commit)
    with pytest.raises(ManagedTableError, match="stayed empty"):
        t._read_manifest()
    assert _os.path.exists(claim)

    # age the claim past the reclaim threshold: the next read reclaims
    # it and self-heals to the committed version
    old = _t.time() - m.ManagedTable.ABANDONED_CLAIM_SECS - 10
    _os.utime(claim, (old, old))
    assert t.read().count() == 2
    assert not _os.path.exists(claim)
    assert t.current_version() == v

    # an EXPLICIT version read of an abandoned claim raises the
    # never-committed message (and reclaims)
    open(claim, "wb").close()
    _os.utime(claim, (old, old))
    with pytest.raises(ManagedTableError, match="never committed"):
        t._read_manifest(v + 1)
    assert not _os.path.exists(claim)


def test_fallback_publish_rechecks_claim(spark, tmp_path, monkeypatch):
    """The no-hardlink publish must not blind-replace: if the claim was
    reclaimed (and possibly re-committed by a NEW writer) while this
    writer stalled, os.replace would clobber that commit. The publish
    re-checks the claim and raises ManifestConflict instead."""
    import os as _os

    from beacon_spark.managed import ManagedTable, ManifestConflict

    t = ManagedTable(spark, str(tmp_path / "fb"))
    t.create(spark.createDataFrame([(1,)], "v int"))
    nxt = t.current_version() + 1

    real_open = _os.open

    def no_link(*a, **k):
        raise OSError("filesystem without hard links")

    # claim vanished (reclaimed) between O_EXCL and publish
    def open_then_unlink(path, flags, *a, **k):
        fd = real_open(path, flags, *a, **k)
        if flags & _os.O_EXCL:
            _os.unlink(path)
        return fd

    monkeypatch.setattr(_os, "link", no_link)
    monkeypatch.setattr(_os, "open", open_then_unlink)
    with pytest.raises(ManifestConflict, match="reclaimed"):
        t._commit_manifest(nxt, b'{"x": 1}')
    monkeypatch.setattr(_os, "open", real_open)

    # claim re-committed by a new writer between O_EXCL and publish
    def open_then_recommit(path, flags, *a, **k):
        fd = real_open(path, flags, *a, **k)
        if flags & _os.O_EXCL:
            with open(path, "wb") as f:
                f.write(b'{"winner": true}')
        return fd

    monkeypatch.setattr(_os, "open", open_then_recommit)
    with pytest.raises(ManifestConflict, match="committed"):
        t._commit_manifest(nxt, b'{"x": 2}')
    monkeypatch.setattr(_os, "open", real_open)
    # the winner's manifest survived intact
    with open(_os.path.join(str(tmp_path / "fb"), "_manifests",
                            f"v{nxt:08d}.json"), "rb") as f:
        assert f.read() == b'{"winner": true}'


def test_update_unknown_column_errors(eng):
    """UPDATE of a nonexistent (or differently-cased) column binds
    eagerly: the unknown target used to be silently SKIPPED, so the
    statement reported ok and changed nothing."""
    eng.sql("CREATE TABLE upd_t AS SELECT * FROM VALUES (1, 10.0) AS v(id, temp)")
    with pytest.raises(Exception, match="unknown column.*typo"):
        eng.sql("UPDATE upd_t SET typo = 5")
    # case-insensitive binding like Spark's analyzer: TEMP -> temp
    eng.sql("UPDATE upd_t SET TEMP = 42.0 WHERE id = 1")
    assert eng.sql("SELECT temp FROM upd_t").collect()[0].temp == 42.0


def test_update_case_colliding_targets_error(eng):
    """Two assignment targets differing only by case must error like
    Spark's duplicate-assignment analysis — they used to collapse into
    ONE assignment (last writer wins) silently."""
    from beacon_spark.managed import ManagedTable, ManagedTableError

    eng.sql("CREATE TABLE updc_t AS SELECT * FROM VALUES (1, 10.0) AS v(id, temp)")
    path = eng.catalog._load()["tables"]["updc_t"]
    t = ManagedTable(eng.spark, path)
    with pytest.raises(ManagedTableError, match="duplicate assignment"):
        t.update({"TEMP": "1.0", "temp": "2.0"}, None)
    # nothing changed
    assert eng.sql("SELECT temp FROM updc_t").collect()[0].temp == 10.0


def test_insert_detects_concurrent_alter(spark, tmp_path, monkeypatch):
    """An ALTER landing between INSERT's data write and its manifest
    commit must surface as ManifestConflict('schema changed…') — the
    retry loop re-binding blindly could mis-bind renamed columns."""
    from beacon_spark.managed import ManagedTable, ManifestConflict

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE alt_t AS SELECT * FROM VALUES (1, 10) AS v(id, x)")
    path = eng.catalog._load()["tables"]["alt_t"]
    t = ManagedTable(spark, path)
    other = ManagedTable(spark, path)
    real_commit = t._commit_manifest
    fired = {"done": False}

    def commit_with_interleaved_alter(version, payload):
        if not fired["done"]:
            fired["done"] = True
            other.alter_rename_column("x", "y")  # wins the version race
        return real_commit(version, payload)

    monkeypatch.setattr(t, "_commit_manifest", commit_with_interleaved_alter)
    with pytest.raises(ManifestConflict, match="schema changed"):
        t.insert(spark.createDataFrame([(2, 20)], "id long, x long"))
    # table is intact under the new schema; the loser's rows did NOT land
    rows = _rows(eng.sql("SELECT id, y FROM alt_t"))
    assert rows == [(1, 10)]


def test_vacuum_zero_manifests_spares_all_files(spark, tmp_path):
    """With ZERO manifests (pre-first-commit window / misuse) every data
    file must be treated as in-flight — the old default=inf made
    `mtime >= inf` False and deleted them all, inverting the fail-safe."""
    import os

    from beacon_spark.managed import ManagedTable

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE vz AS SELECT * FROM VALUES (1), (2) AS v(id)")
    path = eng.catalog._load()["tables"]["vz"]
    mdir = os.path.join(path, "_manifests")
    for fn in os.listdir(mdir):
        os.remove(os.path.join(mdir, fn))
    data = [f for f in os.listdir(os.path.join(path, "data"))
            if f.endswith(".parquet")]
    assert data  # the table had committed files
    t = ManagedTable(spark, path)
    t.vacuum(retain_versions=1)
    survivors = [f for f in os.listdir(os.path.join(path, "data"))
                 if f.endswith(".parquet")]
    assert sorted(survivors) == sorted(data)


def test_vacuum_spares_inflight_writer_files(spark, tmp_path, monkeypatch):
    """A data file moved into data/ by a not-yet-committed INSERT is
    unreferenced but IN FLIGHT — vacuum deleting it would make the
    about-to-win commit reference a dead file. Only files older than
    the newest manifest are reclaimable. Grace pinned to 0 so this
    exercises the newer-than-last-commit guard IN ISOLATION (the
    landing-grace guard has its own pin below)."""
    import os
    import time as _time

    from beacon_spark.managed import ManagedTable

    monkeypatch.setattr(ManagedTable, "VACUUM_GRACE_SECS", 0.0)
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE vt AS SELECT * FROM VALUES (1), (2) AS v(id)")
    path = eng.catalog._load()["tables"]["vt"]
    t = ManagedTable(spark, path)
    # an older version becomes reclaimable (vacuum has real work)...
    eng.sql("DELETE FROM vt WHERE id = 2")
    # ...then the in-flight writer's parquet lands in data/ AFTER the
    # latest commit, with no manifest referencing it yet
    _time.sleep(0.02)
    inflight = os.path.join(path, "data", "part-inflight.parquet")
    df = spark.createDataFrame([(3,)], "id int")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.mode("overwrite").parquet(td + "/w")
        src = next(f for f in os.listdir(td + "/w") if f.endswith(".parquet"))
        os.replace(td + "/w/" + src, inflight)
    eng.sql("VACUUM vt RETAIN 1 VERSIONS")
    assert os.path.exists(inflight)  # spared: newer than the last commit
    # a later commit supersedes it; now it is provably abandoned
    _time.sleep(0.02)
    eng.sql("INSERT INTO vt VALUES (4)")
    eng.sql("VACUUM vt RETAIN 1 VERSIONS")
    assert not os.path.exists(inflight)


def test_vacuum_landing_grace_spares_other_writers_files(spark, tmp_path):
    """r13: the cross-process hammer caught VACUUM losing acknowledged
    rows through this exact interleave — writer A lands a file, writer
    B commits, VACUUM runs before A's manifest commit: A's file is
    unreferenced AND older than B's manifest (guard (a) passes), yet
    A's imminent commit references it. The landing-grace guard must
    spare any file younger than grace_seconds regardless of the
    newest-commit comparison; once past grace (simulated by back-dating
    the landing stamp) it is reclaimable."""
    import os
    import time as _time

    from beacon_spark.managed import ManagedTable

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE gt AS SELECT * FROM VALUES (1), (2) AS v(id)")
    path = eng.catalog._load()["tables"]["gt"]
    # writer A's file lands (fresh mtime)...
    landed = os.path.join(path, "data", "part-landed.parquet")
    df = spark.createDataFrame([(3,)], "id int")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.mode("overwrite").parquet(td + "/w")
        src = next(f for f in os.listdir(td + "/w") if f.endswith(".parquet"))
        os.replace(td + "/w/" + src, landed)
    os.utime(landed, None)
    _time.sleep(0.02)
    # ...then writer B commits, making A's file OLDER than the newest
    # manifest — guard (a) alone would delete it
    eng.sql("INSERT INTO gt VALUES (4)")
    t = ManagedTable(spark, path)
    t.vacuum(retain_versions=1)  # default grace
    assert os.path.exists(landed), "landing grace must spare A's file"
    # past the grace window it is provably abandoned
    old = _time.time() - 10.0
    os.utime(landed, (old, old))
    t.vacuum(retain_versions=1, grace_seconds=5.0)
    assert not os.path.exists(landed)


def test_vacuum_reclaims_stale_staging_dirs(spark, tmp_path, monkeypatch):
    import os

    from beacon_spark.managed import ManagedTable

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE st AS SELECT 1 AS id")
    path = eng.catalog._load()["tables"]["st"]
    stale = os.path.join(path, "_staging-deadbeef")
    os.makedirs(stale)
    fresh = os.path.join(path, "_staging-cafe")
    os.makedirs(fresh)
    old = __import__("time").time() - 10.0
    os.utime(stale, (old, old))
    monkeypatch.setattr(ManagedTable, "STAGING_GRACE_SECS", 5.0)
    eng.sql("VACUUM st")
    assert not os.path.exists(stale)   # crashed writer, past grace
    assert os.path.exists(fresh)       # possibly live — spared


def test_catalog_rejects_path_escaping_names(spark, tmp_path):
    """Embedded Catalog API: names become path components — '../x'
    must not escape the lake root (the SQL surface gates \\w+ already)."""
    from beacon_spark.managed import ManagedTableError

    eng = Engine(spark, datasets_root=str(tmp_path))
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ManagedTableError, match="bad table name"):
        eng.catalog.create_table("../evil", df)
    with pytest.raises(ManagedTableError, match="bad table name"):
        eng.catalog.create_materialized_view("a/b", "SELECT 1", df)


def test_vacuum_tombstones_block_version_reuse(spark, tmp_path, monkeypatch):
    """r14 (ADVICE high): VACUUM must never free a version NUMBER — a
    slow writer that computed a freed number would put-if-absent it
    successfully and commit an invisible orphan behind newer versions
    (acknowledged-row loss). Old manifests are tombstoned in place, so
    the stale writer gets a clean ManifestConflict instead; the newest
    manifest is untouched (the r13 post-commit retraction that
    compensated for freed numbers could delete GOOD commits)."""
    import os

    from beacon_spark.managed import (ManagedTable, ManagedTableError,
                                      ManifestConflict)

    monkeypatch.setattr(ManagedTable, "VACUUM_GRACE_SECS", 0.0)
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE reuse_t AS SELECT * FROM range(10)")
    eng.sql("INSERT INTO reuse_t SELECT id + 100 AS id FROM range(5)")
    eng.sql("INSERT INTO reuse_t SELECT id + 200 AS id FROM range(5)")
    mt = eng.catalog.table("reuse_t")
    assert mt.current_version() == 3
    mt.vacuum(retain_versions=1)
    mdir = os.path.join(mt.path, "_manifests")
    # names v1/v2 persist as tombstones, v3 is live
    names = sorted(os.listdir(mdir))
    assert names == ["v00000001.json", "v00000002.json", "v00000003.json"]
    for tomb in names[:2]:
        with open(os.path.join(mdir, tomb)) as f:
            assert json.load(f)["vacuumed"] is True
    # a stale writer that read v1 long ago tries to commit v2 — the
    # tombstone holds the claim: clean conflict, nothing retracted
    schema = mt.schema()
    with pytest.raises(ManifestConflict):
        mt._write_manifest(schema, mt._read_manifest()["files"],
                           base_version=1)
    assert mt.current_version() == 3
    assert mt.read().count() == 20
    # vacuumed versions give a clear time-travel error
    with pytest.raises(ManagedTableError, match="vacuumed"):
        mt.read(version=1)
    # versions()/SHOW VERSIONS skip tombstones
    assert [v for v, _ in mt.versions()] == [3]
    # tombstones past the retention contract are reaped by a later run
    monkeypatch.setattr(ManagedTable, "MANIFEST_TOMBSTONE_SECS", 0.0)
    mt.vacuum(retain_versions=1)
    assert sorted(os.listdir(mdir)) == ["v00000003.json"]


def test_vacuum_reaps_orphaned_manifest_tmps(spark, tmp_path, monkeypatch):
    """A writer SIGKILLed between its manifest tmp write and the os.link
    claim skips the finally-unlink — the orphan .tmp-* is invisible to
    listings (the .json filter) but leaks disk forever. VACUUM reclaims
    it past STAGING_GRACE_SECS; in-grace tmps (a live writer mid-claim)
    survive."""
    import os
    import time

    from beacon_spark.managed import ManagedTable

    monkeypatch.setattr(ManagedTable, "VACUUM_GRACE_SECS", 0.0)
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE tmp_t AS SELECT * FROM range(5)")
    mt = eng.catalog.table("tmp_t")
    mdir = os.path.join(mt.path, "_manifests")
    dead = os.path.join(mdir, "v00000002.json.tmp-999-dead")
    open(dead, "w").write("{}")
    old = time.time() - mt.STAGING_GRACE_SECS - 60
    os.utime(dead, (old, old))
    live = os.path.join(mdir, "v00000002.json.tmp-1-live")
    open(live, "w").write("{}")
    mt.vacuum(retain_versions=1)
    assert not os.path.exists(dead)
    assert os.path.exists(live)
    assert mt.read().count() == 5


def test_vacuum_survives_concurrent_file_removal(spark, tmp_path,
                                                 monkeypatch):
    """Two VACUUMs racing on the same unreferenced data file: the loser's
    remove sees the file already gone and must SKIP it (not abort the
    sweep mid-way, which would leave the remaining drop manifests
    untombstoned and staging dirs unreclaimed)."""
    import os

    from beacon_spark.managed import ManagedTable
    from beacon_spark.sources import bytesource as bs_mod

    monkeypatch.setattr(ManagedTable, "VACUUM_GRACE_SECS", 0.0)
    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE cvac_t AS SELECT * FROM range(10)")
    eng.sql("INSERT INTO cvac_t SELECT id + 100 AS id FROM range(5)")
    eng.sql("UPDATE cvac_t SET id = id + 1 WHERE id < 3")
    mt = eng.catalog.table("cvac_t")

    real_remove = bs_mod.remove
    stolen = []

    def racing_remove(path):
        real_remove(path)  # the "other" vacuum wins the file...
        if not stolen and path.endswith(".parquet"):
            stolen.append(path)
            raise FileNotFoundError(path)  # ...so ours sees it vanish
    monkeypatch.setattr(bs_mod, "remove", racing_remove)

    dropped, removed = mt.vacuum(retain_versions=1)
    assert stolen, "no unreferenced data file was contended"
    # the stolen file is not counted, the sweep still finished:
    # tombstones written, newest intact, no dangling files
    mdir = os.path.join(mt.path, "_manifests")
    names = sorted(os.listdir(mdir))
    assert dropped == 2 and names == [
        "v00000001.json", "v00000002.json", "v00000003.json"]
    for tomb in names[:2]:
        with open(os.path.join(mdir, tomb)) as f:
            assert json.load(f)["vacuumed"] is True
    assert mt.read().count() == 15
    live = set(mt._read_manifest()["files"])
    on_disk = {os.path.join("data", f)
               for f in os.listdir(os.path.join(mt.path, "data"))}
    assert on_disk == live


def test_successful_commit_never_retracted_by_fast_follower(spark, tmp_path):
    """r14 (ADVICE high): a follower committing v(N+1) on top of our
    fresh vN must not cause OUR manifest to be deleted — every
    committed version stays readable until vacuumed."""
    import os

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE ff_t AS SELECT * FROM range(4)")
    eng.sql("INSERT INTO ff_t SELECT id + 10 AS id FROM range(4)")
    eng.sql("INSERT INTO ff_t SELECT id + 20 AS id FROM range(4)")
    mt = eng.catalog.table("ff_t")
    mdir = os.path.join(mt.path, "_manifests")
    assert sorted(os.listdir(mdir)) == [
        "v00000001.json", "v00000002.json", "v00000003.json"]
    assert mt.read(version=2).count() == 8


def test_insert_retry_after_phantom_conflict_does_not_duplicate(
        spark, tmp_path, monkeypatch):
    """r14 (ADVICE high, defense-in-depth): if a store's write-back
    verify reads stale and reports ManifestConflict AFTER the commit
    actually landed, insert()'s retry re-reads a manifest that already
    lists our files — the merge must dedupe, not double-append."""
    from beacon_spark.managed import ManagedTable, ManifestConflict

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE ph_t AS SELECT * FROM range(10)")
    mt = eng.catalog.table("ph_t")

    orig = ManagedTable._write_manifest
    state = {"fired": False}

    def flaky(self, *a, **kw):
        v = orig(self, *a, **kw)
        if not state["fired"]:
            state["fired"] = True
            raise ManifestConflict("phantom: write-back verify read stale")
        return v

    monkeypatch.setattr(ManagedTable, "_write_manifest", flaky)
    mt.insert(spark.range(5).selectExpr("id + 100 AS id"))
    monkeypatch.undo()
    m = mt._read_manifest()
    assert len(m["files"]) == len(set(m["files"]))
    assert mt.read().count() == 15  # not 20
