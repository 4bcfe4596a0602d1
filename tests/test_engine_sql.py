"""Engine SQL dialect extensions: QUALIFY, macros, schema twins
(reference: docs sql/index.md:46-48, table-functions-utility.md)."""

import pytest

from beacon_spark.engine import Engine


@pytest.fixture()
def eng(spark, sf_dir):
    return Engine(spark, datasets_root=sf_dir)


def test_qualify_alias_form(eng):
    out = eng.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rn
        FROM read_parquet('orders.parquet')
        QUALIFY rn = 1
        ORDER BY o_custkey LIMIT 20
        """
    ).collect()
    assert len(out) == 20
    assert all(r.rn == 1 for r in out)
    assert [r.o_custkey for r in out] == sorted(r.o_custkey for r in out)


def test_qualify_window_pred_form(eng, spark):
    out = eng.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM read_parquet('orders.parquet')
        QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) <= 2
        """
    )
    counts = out.groupBy("o_custkey").count().collect()
    assert all(r["count"] <= 2 for r in counts)
    assert "__q" not in out.columns


def test_read_schema_twins(eng):
    rows = {r.column_name: r.data_type for r in eng.sql(
        "SELECT * FROM read_parquet_schema('orders.parquet')").collect()}
    assert rows["o_orderkey"] in ("bigint", "long")
    odv = None  # odv/netcdf twins need fixture files; schema twin for parquet covers the path


def test_attach_detach(spark, tmp_path):
    from beacon_spark.engine import Engine

    other_root = tmp_path / "other"
    other_root.mkdir()
    other = Engine(spark, datasets_root=str(other_root))
    other.sql("CREATE TABLE remote_t AS SELECT 7 AS seven")

    mine = Engine(spark, datasets_root=str(tmp_path / "mine"))
    (tmp_path / "mine").mkdir()
    mine.sql(f"ATTACH '{other_root}' AS oth")
    assert mine.sql("SELECT seven FROM oth_remote_t").collect()[0].seven == 7
    mine.sql("DETACH oth")
    import pytest as _pt

    with _pt.raises(Exception):
        spark.catalog.dropTempView("oth_remote_t")
        mine.sql("SELECT * FROM oth_remote_t").collect()


def test_attached_external_table_keeps_its_options(spark, tmp_path):
    """An attached root's external tables resolve with their own OPTIONS:
    a ';'-delimited csv table reads as columns a, b through ATTACH, just
    as it does in its own root."""
    from beacon_spark.engine import Engine

    other_root = tmp_path / "other"
    other_root.mkdir()
    (other_root / "semi.csv").write_text("a;b\n1;x\n2;y\n")
    other = Engine(spark, datasets_root=str(other_root))
    other.sql("CREATE EXTERNAL TABLE semi STORED AS CSV "
              "LOCATION 'semi.csv' OPTIONS (delimiter ';')")
    assert other.sql("SELECT * FROM semi").columns == ["a", "b"]

    (tmp_path / "mine").mkdir()
    mine = Engine(spark, datasets_root=str(tmp_path / "mine"))
    mine.sql(f"ATTACH '{other_root}' AS oth")
    df = mine.sql("SELECT * FROM oth_semi")
    assert df.columns == ["a", "b"]
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]



def test_unregistrable_external_table_is_logged_not_fatal(spark, tmp_path,
                                                         caplog):
    """An external table whose files are gone fails open: statements on
    other tables still run, and the skipped table is reported at WARNING
    under the site name ``register_catalog``."""
    import logging
    import shutil

    root = tmp_path / "root"
    (root / "gone").mkdir(parents=True)
    spark.range(3).write.parquet(str(root / "gone" / "p.parquet"))
    eng = Engine(spark, datasets_root=str(root))
    eng.sql("CREATE TABLE kept AS SELECT id FROM range(2)")
    eng.sql("CREATE EXTERNAL TABLE vanished STORED AS PARQUET "
            "LOCATION 'gone/p.parquet/*.parquet'")
    shutil.rmtree(root / "gone")
    fresh = Engine(spark, datasets_root=str(root))
    with caplog.at_level(logging.WARNING, logger="beacon_spark.engine"):
        assert fresh.sql("SELECT count(*) AS n FROM kept").collect()[0].n == 2
    hits = [r.getMessage() for r in caplog.records
            if r.levelno == logging.WARNING
            and r.getMessage().startswith("register_catalog:")]
    assert any("'vanished'" in m for m in hits), hits

def test_explain_analyze(spark, sf_dir):
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=sf_dir)
    out = eng.sql(
        "EXPLAIN ANALYZE SELECT count(*) FROM read_parquet('orders.parquet')"
    ).collect()
    text = "\n".join(r.plan for r in out)
    assert "HashAggregate" in text or "Scan" in text
    # the plan shown is the plan that ran: AQE's final plan, with the
    # scan's runtime row count filled in
    import re

    assert "isFinalPlan=true" in text
    n = eng.sql("SELECT count(*) AS n FROM read_parquet('orders.parquet')"
                ).collect()[0].n
    scanned = [int(m.group(1)) for line in text.splitlines() if "Scan" in line
               for m in [re.search(r"numOutputRows=(\d+)", line)] if m]
    assert scanned == [n], text


def test_explain_analyze_binds_params(spark, sf_dir):
    """EXPLAIN ANALYZE threads $n params to the inner statement — they
    used to be dropped, so the placeholder reached Spark unbound."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=sf_dir)
    out = eng.sql(
        "EXPLAIN ANALYZE SELECT count(*) FROM read_parquet('orders.parquet') "
        "WHERE o_orderkey < $1",
        params=[100],
    ).collect()
    assert any("Scan" in r.plan or "Aggregate" in r.plan for r in out)


def test_attach_missing_local_root_errors(spark, tmp_path):
    """ATTACH of a nonexistent local lake root fails eagerly (the
    reference validates at ATTACH time) instead of landing a broken
    entry in the catalog that only warns at registration."""
    import pytest as _pt

    from beacon_spark.engine import Engine

    root = tmp_path / "mine2"
    root.mkdir()
    mine = Engine(spark, datasets_root=str(root))
    with _pt.raises(ValueError, match="does not exist"):
        mine.sql(f"ATTACH '{tmp_path / 'no_such_root'}' AS ghost")
    cat = mine.catalog._load()
    assert "ghost" not in cat.get("attachments", {})


def test_date_bin_macro(spark, sf_dir):
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=sf_dir)
    row = eng.sql(
        "SELECT date_bin(INTERVAL '15 minutes', TIMESTAMP '2020-01-01 00:22:10') AS b"
    ).collect()[0]
    assert str(row.b).startswith("2020-01-01 00:15:00")
    row2 = eng.sql(
        "SELECT date_bin(INTERVAL '1 hour', TIMESTAMP '2020-01-01 05:59:59', "
        "TIMESTAMP '2020-01-01 00:30:00') AS b"
    ).collect()[0]
    assert str(row2.b).startswith("2020-01-01 05:30:00")


# ------------------------------------------------------- secrets / extensions


def test_secrets_lifecycle(spark, tmp_path):
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql(
        "CREATE SECRET tmp_s3 (TYPE S3, KEY_ID 'AKIA123', SECRET 'shh', "
        "SCOPE 's3://my-bucket')"
    )
    eng.sql(
        "CREATE PERSISTENT SECRET persisted (TYPE S3, KEY_ID 'AKIA9', "
        "SECRET 'topsecret', SCOPE 's3://other')"
    )
    rows = {r["name"]: r for r in eng.sql("SHOW SECRETS").collect()}
    assert rows["tmp_s3"]["persistent"] is False
    assert rows["persisted"]["persistent"] is True
    assert rows["persisted"]["scope"] == "s3://other"
    # secret values never appear in SHOW output
    assert "topsecret" not in repr(eng.sql("SHOW SECRETS").collect())
    # s3 secret applied to per-bucket hadoop conf
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.s3a.bucket.my-bucket.access.key") == "AKIA123"

    # persistent secrets survive a fresh Engine on the same root
    eng2 = Engine(spark, datasets_root=str(tmp_path))
    names = {r["name"] for r in eng2.sql("SHOW SECRETS").collect()}
    assert names == {"persisted"}  # session secret gone

    eng2.sql("DROP SECRET persisted")
    assert eng2.sql("SHOW SECRETS").count() == 0
    import pytest as _p

    with _p.raises(Exception, match="does not exist"):
        eng2.sql("DROP SECRET nope")
    eng2.sql("DROP SECRET IF EXISTS nope")  # no error


def test_extensions_lifecycle(spark, tmp_path):
    """Typed extension contract (extensions.rs:1-460 + the reference's
    table_extensions_sql_round_trip): strict validation at SET time,
    SHOW EXTENSIONS = ONE row with the whole JSON document, unknown
    kinds/keys/columns and missing tables rejected loudly."""
    import json as _json

    import pytest as _p

    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE ext (lat BIGINT, depth BIGINT)")
    eng.sql("""SET EXTENSION 'preset' FOR ext TO '{"presets":[{"name":"shallow","filters":[{"column":"depth","op":"<=","value":10}]}]}'""")
    eng.sql("""SET EXTENSION 'mcp' FOR ext TO '{"enabled": true, "exposed_columns": ["lat", {"name": "depth", "description": "meters"}]}'""")
    rows = eng.sql("SHOW EXTENSIONS FOR ext").collect()
    assert len(rows) == 1  # one row, one JSON document
    doc = _json.loads(rows[0].extensions)
    assert doc["preset"]["presets"][0]["name"] == "shallow"
    assert doc["mcp"]["enabled"] is True
    # strict: unknown kind, unknown key, ghost column, bad op all refuse
    with _p.raises(Exception, match="unknown extension kind"):
        eng.sql("""SET EXTENSION 'notes' FOR ext TO '{"a": 1}'""")
    with _p.raises(Exception, match="unknown field"):
        eng.sql("""SET EXTENSION 'mcp' FOR ext TO '{"expose": true}'""")
    with _p.raises(Exception, match="does not exist in the table schema"):
        eng.sql("""SET EXTENSION 'preset' FOR ext TO '{"presets":[{"name":"x","filters":[{"column":"ghost","op":"=","value":1}]}]}'""")
    with _p.raises(Exception, match="not one of"):
        eng.sql("""SET EXTENSION 'preset' FOR ext TO '{"presets":[{"name":"x","filters":[{"column":"lat","op":"~","value":1}]}]}'""")
    with _p.raises(Exception, match="two-element"):
        eng.sql("""SET EXTENSION 'preset' FOR ext TO '{"presets":[{"name":"x","filters":[{"column":"lat","op":"between","value":[1]}]}]}'""")
    with _p.raises(Exception, match="tool_name"):
        eng.sql("""SET EXTENSION 'mcp' FOR ext TO '{"tool_name": "has space"}'""")
    with _p.raises(Exception, match="not found"):
        eng.sql("""SET EXTENSION 'mcp' FOR unknown_table TO '{"enabled": true}'""")
    # DROP removes the kind; the document empties out
    eng.sql("DROP EXTENSION 'preset' FOR ext")
    doc = _json.loads(
        eng.sql("SHOW EXTENSIONS FOR ext").collect()[0].extensions)
    assert "preset" not in doc and "mcp" in doc
    with _p.raises(Exception, match="unknown extension kind"):
        eng.sql("DROP EXTENSION 'bogus' FOR ext")
    with _p.raises(Exception, match="not found"):
        eng.sql("SHOW EXTENSIONS FOR unknown_table")


def test_copy_to(spark, tmp_path, sf_small):
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql(
        f"COPY (SELECT * FROM read_parquet('{sf_small}/region.parquet')) "
        f"TO 'out.csv'"
    )
    back = eng.resolve_from({"csv": {"paths": ["out.csv"]}})
    assert back.count() == 5
    eng.sql(
        f"COPY (SELECT r_regionkey FROM read_parquet('{sf_small}/region.parquet') "
        f"WHERE r_regionkey < 2) TO 'two.parquet' STORED AS PARQUET"
    )
    assert eng.resolve_from({"parquet": {"paths": ["two.parquet"]}}).count() == 2
    # bare table name source
    eng.sql(f"CREATE TABLE reg AS SELECT * FROM read_parquet('{sf_small}/region.parquet')")
    eng.sql("COPY reg TO 'reg.arrow'")
    assert eng.resolve_from({"arrow": {"paths": ["reg.arrow"]}}).count() == 5


def test_positional_params(eng):
    # $1..$n placeholders (runtime.rs:107-116 with_param_values)
    out = eng.sql(
        "SELECT o_orderkey FROM read_parquet('orders.parquet') "
        "WHERE o_totalprice > $1 AND o_orderstatus = $2 ORDER BY o_orderkey",
        params=[100000.0, "F"],
    ).collect()
    ref = eng.sql(
        "SELECT o_orderkey FROM read_parquet('orders.parquet') "
        "WHERE o_totalprice > 100000.0 AND o_orderstatus = 'F' ORDER BY o_orderkey"
    ).collect()
    assert out == ref and len(out) > 0


def test_positional_params_skip_strings(eng):
    out = eng.sql(
        "SELECT '$1 literal' AS s, $1 AS v FROM read_parquet('region.parquet') LIMIT 1",
        params=[7],
    ).collect()
    assert out[0].s == "$1 literal" and out[0].v == 7


def test_named_params(eng):
    out = eng.sql(
        "SELECT count(*) AS n FROM read_parquet('orders.parquet') WHERE o_totalprice > :lim",
        params={"lim": 100000.0},
    ).collect()
    assert out[0].n > 0


def test_star_exclude(eng):
    df = eng.sql("SELECT * EXCLUDE (r_name) FROM read_parquet('region.parquet')")
    assert df.columns == ["r_regionkey"]
    df2 = eng.sql("SELECT * EXCLUDE r_name FROM read_parquet('region.parquet')")
    assert df2.columns == ["r_regionkey"]


def test_star_replace(eng):
    df = eng.sql(
        "SELECT * REPLACE (upper(r_name) AS r_name, r_regionkey + 100 AS r_regionkey) "
        "FROM read_parquet('region.parquet') ORDER BY r_regionkey"
    )
    # positions preserved, values replaced
    assert df.columns[:2] == ["r_regionkey", "r_name"]
    rows = df.collect()
    assert all(r.r_regionkey >= 100 for r in rows)
    assert all(r.r_name == r.r_name.upper() for r in rows)


def test_star_replace_order_by_sorts_replaced_values(eng):
    """ORDER BY on a replaced column must resolve to the REPLACED output
    (DataFusion/DuckDB semantics): 4-r_regionkey inverts the order, so
    sorting must follow the inverted values, not the originals."""
    df = eng.sql(
        "SELECT * REPLACE (4 - r_regionkey AS r_regionkey) "
        "FROM read_parquet('region.parquet') ORDER BY r_regionkey LIMIT 3"
    )
    keys = [r.r_regionkey for r in df.collect()]
    assert keys == [0, 1, 2]  # replaced values ascending (orig 4,3,2)
    # DESC + inner subquery ORDER BY untouched
    df2 = eng.sql(
        "SELECT * REPLACE (4 - r_regionkey AS r_regionkey) FROM "
        "(SELECT * FROM read_parquet('region.parquet') ORDER BY r_name) "
        "ORDER BY r_regionkey DESC"
    )
    assert [r.r_regionkey for r in df2.collect()] == [4, 3, 2, 1, 0]


def test_star_replace_unknown_column_errors(eng):
    """REPLACE binds to an EXISTING output column (DataFusion/DuckDB
    binder error on an unknown name) — withColumn silently APPENDED a
    new column instead, changing the result shape with no error."""
    import pytest as _pt

    with _pt.raises(ValueError, match="REPLACE.*nope"):
        eng.sql(
            "SELECT * REPLACE (1 AS nope) FROM read_parquet('region.parquet')"
        )
    # case-insensitive like Spark's resolver: R_NAME binds to r_name
    df = eng.sql(
        "SELECT * REPLACE (upper(r_name) AS R_NAME) "
        "FROM read_parquet('region.parquet')"
    )
    assert all(r.R_NAME == r.R_NAME.upper() for r in df.collect())


def test_star_exclude_replace_compose(eng):
    df = eng.sql(
        "SELECT * EXCLUDE (r_regionkey) REPLACE (lower(r_name) AS r_name) "
        "FROM read_parquet('region.parquet')"
    )
    assert df.columns == ["r_name"]
    assert all(r.r_name == r.r_name.lower() for r in df.collect())


def test_describe_show_columns_explain(eng):
    # §2.11 SHOW/DESCRIBE/EXPLAIN pass through the read_* rewrite
    d = eng.sql("DESCRIBE read_parquet('region.parquet')").collect()
    assert [r.col_name for r in d] == ["r_regionkey", "r_name"]
    c = eng.sql("SHOW COLUMNS FROM read_parquet('region.parquet')").collect()
    assert [r.col_name for r in c] == ["r_regionkey", "r_name"]
    plan = eng.sql(
        "EXPLAIN SELECT r_name FROM read_parquet('region.parquet') WHERE r_regionkey > 1"
    ).collect()[0][0]
    assert "PushedFilters" in plan and "GreaterThan(r_regionkey,1)" in plan


def test_rewrites_skip_string_literals(eng):
    # read_*/try_arrow_cast/EXCLUDE inside single-quoted literals must pass
    # through unrewritten (the pre-parser is string-literal-aware, like the
    # $n placeholder scan).
    out = eng.sql(
        "SELECT 'read_parquet(x)' AS a, 'try_arrow_cast(y, Int64)' AS b, "
        "'* EXCLUDE (r_name)' AS c, 'QUALIFY rank' AS d, "
        "'date_bin(z)' AS e, 'list_datasets()' AS f, r_name "
        "FROM read_parquet('region.parquet') ORDER BY r_name LIMIT 1"
    ).collect()
    r = out[0]
    assert r.a == "read_parquet(x)"
    assert r.b == "try_arrow_cast(y, Int64)"
    assert r.c == "* EXCLUDE (r_name)"
    assert r.d == "QUALIFY rank"
    assert r.e == "date_bin(z)"
    assert r.f == "list_datasets()"
    assert r.r_name == "AFRICA"


def test_rewrites_literal_with_quote_escape(eng):
    # the '' escape keeps the scan in-literal across the doubled quote
    out = eng.sql(
        "SELECT 'it''s read_csv(a)' AS s, r_regionkey "
        "FROM read_parquet('region.parquet') ORDER BY r_regionkey LIMIT 1"
    ).collect()
    assert out[0].s == "it's read_csv(a)"


def test_approx_aggregate_name_macros(spark, sf_small):
    """DataFusion aggregate spellings (function-reference.md inherits
    them all): APPROX_PERCENTILE_CONT / APPROX_DISTINCT / APPROX_MEDIAN
    rename to Spark's aggregates in the SQL path."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=sf_small)
    row = eng.sql(
        "SELECT approx_percentile_cont(l_quantity, 0.5) AS p50, "
        "approx_distinct(l_orderkey) AS nd, "
        "approx_median(l_quantity) AS med "
        "FROM read_parquet('lineitem.parquet')"
    ).collect()[0]
    exact = eng.sql(
        "SELECT percentile(l_quantity, 0.5) AS p50, "
        "count(DISTINCT l_orderkey) AS nd "
        "FROM read_parquet('lineitem.parquet')"
    ).collect()[0]
    assert abs(row.p50 - exact.p50) <= 2
    assert abs(row.nd - exact.nd) / exact.nd < 0.15  # HLL default rsd 5%
    assert row.med == row.p50
    # documented optional 3rd arg (t-digest centroids → Spark accuracy)
    row3 = eng.sql(
        "SELECT approx_percentile_cont(l_quantity, 0.5, 100) AS p50 "
        "FROM read_parquet('lineitem.parquet')"
    ).collect()[0]
    assert abs(row3.p50 - exact.p50) <= 2
    # clean arity errors, not raw IndexError / silent arg drops
    import pytest as _p

    with _p.raises(ValueError, match="approx_median"):
        eng.sql("SELECT approx_median() FROM read_parquet('lineitem.parquet')")
    with _p.raises(ValueError, match="approx_median"):
        eng.sql("SELECT approx_median(l_quantity, l_orderkey) "
                "FROM read_parquet('lineitem.parquet')")


def test_extensions_round8_review_fixes(spark, tmp_path):
    """Round-8 review regressions: scalar-value validation, legacy-kind
    DROP, DROP TABLE purging extensions, real errors not masked as
    'not found'."""
    import json as _json

    import pytest as _p

    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE extb (lat BIGINT, depth BIGINT)")

    # non-scalar values for scalar/between/in ops refuse at SET time —
    # they could never render as ONE SQL literal at use time
    with _p.raises(Exception, match="not a scalar"):
        eng.sql("""SET EXTENSION 'preset' FOR extb TO '{"presets":[{"name":"x","filters":[{"column":"lat","op":"=","value":[1,2]}]}]}'""")
    with _p.raises(Exception, match="not a scalar"):
        eng.sql("""SET EXTENSION 'preset' FOR extb TO '{"presets":[{"name":"x","filters":[{"column":"lat","op":"=","value":null}]}]}'""")
    with _p.raises(Exception, match="not a scalar"):
        eng.sql("""SET EXTENSION 'preset' FOR extb TO '{"presets":[{"name":"x","filters":[{"column":"lat","op":"in","value":[1,[2]]}]}]}'""")

    # a legacy free-form kind stored by a pre-typed engine stays
    # removable (SHOW keeps it readable, so DROP must reach it too)
    c = eng.catalog._load()
    c.setdefault("extensions", {}).setdefault("extb", {})["notes"] = '"free"'
    eng.catalog._save(c)
    doc = _json.loads(
        eng.sql("SHOW EXTENSIONS FOR extb").collect()[0].extensions)
    assert doc["notes"] == "free"
    eng.sql("DROP EXTENSION 'notes' FOR extb")
    doc = _json.loads(
        eng.sql("SHOW EXTENSIONS FOR extb").collect()[0].extensions)
    assert "notes" not in doc
    # unknown AND absent still errors
    with _p.raises(Exception, match="unknown extension kind"):
        eng.sql("DROP EXTENSION 'bogus' FOR extb")

    # DROP TABLE takes the table's extensions with it: a recreated table
    # must not inherit docs validated against the OLD schema
    eng.sql("""SET EXTENSION 'mcp' FOR extb TO '{"enabled": true, "exposed_columns": ["lat"]}'""")
    eng.sql("DROP TABLE extb")
    eng.sql("CREATE TABLE extb (other STRING)")
    doc = _json.loads(
        eng.sql("SHOW EXTENSIONS FOR extb").collect()[0].extensions)
    assert doc == {}

    # a registered view whose underlying table is gone surfaces the REAL
    # resolution error (naming the missing inner table), not a bogus
    # "table '<view>' not found"
    eng.sql("CREATE TABLE inner_t (a BIGINT)")
    eng.sql("CREATE VIEW broken_v AS SELECT * FROM inner_t")
    eng.sql("DROP TABLE inner_t")
    with _p.raises(Exception, match="inner_t"):
        eng.sql("""SET EXTENSION 'mcp' FOR broken_v TO '{"enabled": true}'""")


def test_preset_where_sql_quotes_flat_dotted_columns():
    """DSL column names are flat — 'obs.flag' is ONE column, so the
    generated predicate must backtick-quote it (and values render as
    single literals)."""
    from beacon_spark.extensions import (
        exposed_column_docs,
        exposed_column_names,
        preset_where_sql,
    )

    sql = preset_where_sql({"name": "p", "filters": [
        {"column": "obs.flag", "op": "=", "value": 1},
        {"column": "depth", "op": "between", "value": [0, 10]},
        {"column": "kind", "op": "in", "value": ["a", "b"]},
    ]})
    assert sql == ("`obs.flag` = 1 AND `depth` BETWEEN 0 AND 10 "
                   "AND `kind` IN ('a', 'b')")

    # legacy-tolerant readers: malformed stored entries are skipped,
    # never raised (one bad doc must not break the whole tools listing)
    bad = {"exposed_columns": [{"description": "d"}, "ok", 7,
                               {"name": "x", "description": "m"}]}
    assert exposed_column_names(bad) == ["ok", "x"]
    assert exposed_column_docs(bad) == {"x": "m"}
    assert exposed_column_names({"exposed_columns": "junk"}) is None


def test_positional_params_double_quoted_literal(eng):
    """Spark's default dialect treats double-quoted text as a STRING
    literal; a $n inside it is literal data, not a placeholder. The old
    private single-quote toggle rewrote it (ADVICE r8) — the shared
    guard lexer must not."""
    out = eng.sql(
        'SELECT "$1 costs" AS s, $1 AS v '
        "FROM read_parquet('region.parquet') LIMIT 1",
        params=[7],
    ).collect()
    assert out[0].s == "$1 costs" and out[0].v == 7


def test_positional_params_backslash_escaped_quote(eng):
    """A backslash-escaped quote inside a literal desynced the old
    scanner: the literal text ` $1 ` got rewritten while the REAL $1
    after it was treated as in-string and left unbound. The shared
    lexer tracks Spark's escape rules exactly."""
    out = eng.sql(
        "SELECT '\\' $1 ' AS s, $1 AS v "
        "FROM read_parquet('region.parquet') LIMIT 1",
        params=[7],
    ).collect()
    assert out[0].s == "' $1 " and out[0].v == 7


def test_positional_params_doubled_quote_literal(eng):
    """SQL '' doubling inside a literal: both halves stay literal."""
    out = eng.sql(
        "SELECT 'it''s $1' AS s, $1 AS v "
        "FROM read_parquet('region.parquet') LIMIT 1",
        params=[3],
    ).collect()
    assert out[0].s == "it's $1" and out[0].v == 3


def test_positional_params_comment_not_bound(eng):
    """$n inside a line comment is non-code text; rewriting it there is
    harmless only by accident — the lexer must skip it outright."""
    out = eng.sql(
        "SELECT $1 AS v -- ignore $2 here\n"
        "FROM read_parquet('region.parquet') LIMIT 1",
        params=[5],
    ).collect()
    assert out[0].v == 5


# ---------------------------------------------------------------- r9 sweep:
# engine.py lexical-core review — every scanner that splits/peels SQL text
# now runs on the shared guard lexer's scrub; these pin the traps the old
# private quote-toggles fell into.


def test_update_set_literal_containing_where(spark, tmp_path):
    """The SET-list/WHERE split is lexer-aware: a ' WHERE ' inside a SET
    string literal is data, not the predicate boundary (the old lazy
    regex bound the FIRST ' WHERE ' — this statement mis-parsed)."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE uw (id BIGINT, msg VARCHAR)")
    eng.sql("INSERT INTO uw VALUES (1, 'a'), (2, 'b')")
    eng.sql("UPDATE uw SET msg = ' WHERE 1=1' WHERE id = 1")
    rows = {r.id: r.msg for r in eng.sql("SELECT id, msg FROM uw").collect()}
    assert rows == {1: " WHERE 1=1", 2: "b"}


def test_update_set_subquery_where_not_split(spark, tmp_path):
    """A WHERE inside a parenthesized group in the SET rhs is nested —
    only the top-level WHERE is the predicate boundary."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE uq (id BIGINT, v BIGINT)")
    eng.sql("INSERT INTO uq VALUES (1, 0), (2, 0)")
    eng.sql("UPDATE uq SET v = (CASE WHEN id > 0 THEN 9 ELSE 0 END) "
            "WHERE id = 2")
    rows = {r.id: r.v for r in eng.sql("SELECT id, v FROM uq").collect()}
    assert rows == {1: 0, 2: 9}


def test_update_empty_where_errors(spark, tmp_path):
    """UPDATE with a present-but-empty WHERE errors instead of silently
    updating every row (mirrors the DELETE rule)."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE ue (id BIGINT)")
    eng.sql("INSERT INTO ue VALUES (1)")
    with pytest.raises(ValueError, match="empty WHERE"):
        eng.sql("UPDATE ue SET id = 2 WHERE ")


def test_update_set_list_comma_in_literal(spark, tmp_path):
    """The SET-list comma split is lexer-aware: a comma (and an
    escaped quote) inside a string value stays in one assignment."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE uc (id BIGINT, a VARCHAR, b BIGINT)")
    eng.sql("INSERT INTO uc VALUES (1, '', 0)")
    eng.sql("UPDATE uc SET a = 'x, \\' y', b = 2 WHERE id = 1")
    r = eng.sql("SELECT a, b FROM uc").collect()[0]
    assert r.a == "x, ' y" and r.b == 2


def test_insert_parenthesized_select_source(spark, tmp_path):
    """INSERT INTO t (SELECT …) — the paren group is a source query,
    not a column list (the old column-list regex swallowed it)."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE ip (id BIGINT)")
    eng.sql("INSERT INTO ip (SELECT 7)")
    assert eng.sql("SELECT id FROM ip").collect()[0].id == 7


def test_try_arrow_cast_parametrized_decimal(eng):
    """try_arrow_cast with Decimal128(p, s): the comma inside the TYPE
    must not split the argument list (the old rpartition did), and the
    Arrow spelling maps onto Spark's decimal(p, s)."""
    df = eng.sql(
        "SELECT try_arrow_cast(o_totalprice, 'Decimal128(12, 2)') AS d "
        "FROM read_parquet('orders.parquet') LIMIT 1"
    )
    assert df.schema["d"].dataType.simpleString() == "decimal(12,2)"
    assert df.collect()[0].d is not None


def test_try_arrow_cast_literal_paren_in_expr(eng):
    """A ')' inside a string literal in the expr must not end the
    argument scan early."""
    r = eng.sql(
        "SELECT try_arrow_cast(concat(r_name, ':)'), 'Utf8') AS s "
        "FROM read_parquet('region.parquet') ORDER BY r_regionkey LIMIT 1"
    ).collect()[0]
    assert r.s.endswith(":)")


def test_try_arrow_cast_nested(eng):
    r = eng.sql(
        "SELECT try_arrow_cast(try_arrow_cast(r_regionkey, 'Utf8'), 'Int64') "
        "AS v FROM read_parquet('region.parquet') ORDER BY r_regionkey LIMIT 1"
    ).collect()[0]
    assert r.v == 0


def test_read_fn_comma_in_glob_path(spark, tmp_path):
    """A comma is a legal filename character: read_parquet('a,b.parquet')
    is ONE path (the old split(',') sheared it into two)."""
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    spark.range(4).write.parquet(str(tmp_path / "a,b.parquet"))
    assert eng.sql(
        "SELECT count(*) AS n FROM read_parquet('a,b.parquet')"
    ).collect()[0].n == 4


def test_qualify_literal_containing_limit(eng):
    """A 'LIMIT' inside a string literal in the QUALIFY predicate is
    data — the pred/tail split must not cut there."""
    out = eng.sql(
        """
        SELECT o_custkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC) AS rn
        FROM read_parquet('orders.parquet')
        QUALIFY rn = 1 AND CAST(o_custkey AS STRING) != 'LIMIT'
        ORDER BY o_custkey LIMIT 5
        """
    ).collect()
    assert len(out) == 5 and all(r.rn == 1 for r in out)


def test_replace_order_by_with_literal_traps(eng):
    """* REPLACE + trailing ORDER BY/LIMIT: an ' ORDER BY ' inside a
    WHERE string literal (with a backslash-escaped quote before it)
    must not be peeled as the statement's ordering."""
    out = eng.sql(
        "SELECT * REPLACE (r_regionkey * 2 AS r_regionkey) "
        "FROM read_parquet('region.parquet') "
        "WHERE r_name != '\\' ORDER BY junk ' "
        "ORDER BY r_regionkey DESC LIMIT 3"
    ).collect()
    assert [r.r_regionkey for r in out] == [8, 6, 4]


def test_replace_expr_literal_paren(eng):
    """* REPLACE with a ')' inside a replacement expression's literal:
    the REPLACE list's close paren is found by the lexer, not by the
    first ')' character."""
    out = eng.sql(
        "SELECT * REPLACE (concat(r_name, ')') AS r_name) "
        "FROM read_parquet('region.parquet') ORDER BY r_regionkey LIMIT 1"
    ).collect()[0]
    assert out.r_name.endswith(")")


def test_replace_order_by_trailing_comment(eng):
    """A trailing line comment after LIMIT must not break the ORDER BY
    peel (comments are non-code to the shared lexer)."""
    out = eng.sql(
        "SELECT * REPLACE (r_regionkey + 1 AS r_regionkey) "
        "FROM read_parquet('region.parquet') "
        "ORDER BY r_regionkey LIMIT 2 -- note: peeled tail"
    ).collect()
    assert [r.r_regionkey for r in out] == [1, 2]


def test_qualify_inside_cte(eng):
    """QUALIFY nested in a CTE body rewrites too (the rewrite recurses
    into paren groups; a flat first-occurrence split mangled this)."""
    out = eng.sql(
        """
        WITH best AS (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC) AS rn
            FROM read_parquet('orders.parquet')
            QUALIFY rn = 1
        )
        SELECT o_custkey, o_orderkey FROM best ORDER BY o_custkey LIMIT 10
        """
    ).collect()
    assert len(out) == 10
    assert [r.o_custkey for r in out] == sorted({r.o_custkey for r in out})


def test_qualify_in_from_subquery(eng):
    out = eng.sql(
        """
        SELECT count(*) AS n FROM (
            SELECT o_custkey,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderkey) AS rn
            FROM read_parquet('orders.parquet')
            QUALIFY rn = 1
        ) t
        """
    ).collect()
    assert out[0].n > 0


def test_preset_values_are_spark_lexer_safe(spark, tmp_path):
    """r11 review: preset filters are the MCP table tools' NARROWING
    guard, and their WHERE text is Spark-lexed — a string value ending
    in a backslash with ''-doubling alone desynced the literal (the
    escaped closing quote swallowed the following predicate) and
    silently widened what the tool serves. The rendered predicate must
    evaluate the value AS a value."""
    from beacon_spark.extensions import preset_where_sql

    pred = preset_where_sql({
        "name": "p",
        "filters": [
            {"column": "s", "op": "=", "value": "x\\"},
            {"column": "v", "op": "<=", "value": 1},
        ],
    })
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE TABLE pres_t AS SELECT * FROM VALUES "
            "('x\\\\', 1), ('y', 1), ('x\\\\', 9) AS t(s, v)")
    rows = eng.sql(f"SELECT * FROM pres_t WHERE {pred}").collect()
    # exactly the backslash row within the v<=1 guard — the second
    # predicate stayed a predicate
    assert len(rows) == 1 and rows[0].s == "x\\" and rows[0].v == 1


def test_where_paren_single_identifier_filters(spark, tmp_path):
    """`FROM t WHERE (flag)` must FILTER: stock Spark parses it as table
    alias `WHERE(flag)` and SILENTLY swallows the clause (all rows come
    back; with mismatched arity, a baffling ASSIGNMENT_ARITY_MISMATCH).
    The engine drops the semantically-redundant parens so the clause
    parses. Found by the DSL-vs-SQL-vs-DuckDB differential."""
    from beacon_spark.engine import Engine

    eng = Engine(spark)
    spark.createDataFrame(
        [(True, 1), (False, 2), (True, 3)], "flag boolean, id int"
    ).createOrReplaceTempView("wp_t")
    rows = eng.sql("SELECT id FROM wp_t WHERE (flag)").collect()
    assert sorted(r.id for r in rows) == [1, 3]
    # constant folds too, and literals containing the shape are immune
    assert eng.sql("SELECT id FROM wp_t WHERE (true)").count() == 3
    assert eng.sql("SELECT id FROM wp_t WHERE (false)").count() == 0
    r = eng.sql(
        "SELECT 'x WHERE (flag) y' AS s FROM wp_t WHERE (flag) LIMIT 1"
    ).collect()
    assert r[0].s == "x WHERE (flag) y"
    # no-space spelling: WHERE(flag) must become `WHERE flag`, not the
    # fused alias token `WHEREflag` (which would silently drop the
    # filter again)
    rows = eng.sql("SELECT id FROM wp_t WHERE(flag)").collect()
    assert sorted(r.id for r in rows) == [1, 3]
    # identifier immediately followed by an operator keyword: the
    # rewrite must keep a space so `(a)IN(...)` / `(x)or(y)` stay
    # separate tokens
    rows = eng.sql("SELECT id FROM wp_t WHERE (id)IN(1, 2)").collect()
    assert sorted(r.id for r in rows) == [1, 2]
    rows = eng.sql(
        "SELECT id FROM wp_t WHERE (flag)or(id = 2)"
    ).collect()
    assert sorted(r.id for r in rows) == [1, 2, 3]


def test_read_fn_views_keyed_by_engine_root(spark, tmp_path):
    """Two engines with DIFFERENT roots resolving the same RELATIVE glob
    must not collide on the rewrite's temp-view name — the name hash
    includes the datasets root."""
    import pytest as _pt

    from beacon_spark.engine import Engine

    for sub, vals in (("ra", [1, 2]), ("rb", [7, 8, 9])):
        d = tmp_path / sub
        d.mkdir()
        spark.createDataFrame([(v,) for v in vals], "x int") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(str(d / "t.parquet"))
    ea = Engine(spark, datasets_root=str(tmp_path / "ra"))
    eb = Engine(spark, datasets_root=str(tmp_path / "rb"))
    sa = ea._rewrite_read_fns("SELECT * FROM read_parquet('t.parquet')", [])
    sb = eb._rewrite_read_fns("SELECT * FROM read_parquet('t.parquet')", [])
    assert sa != sb  # distinct view names per root
    assert ea.sql("SELECT count(*) AS n FROM read_parquet('t.parquet')"
                  ).collect()[0].n == 2
    assert eb.sql("SELECT count(*) AS n FROM read_parquet('t.parquet')"
                  ).collect()[0].n == 3


def test_engine_scoped_views_keyed_by_root(spark, tmp_path):
    """Metadata-fn, system-table, and time-travel temp views are
    engine-scoped but session-global: two engines with different roots
    must get DISTINCT view names (same family as the read_* fix)."""
    from beacon_spark.engine import Engine

    ra, rb = tmp_path / "va", tmp_path / "vb"
    ra.mkdir(), rb.mkdir()
    spark.range(2).coalesce(1).write.parquet(str(ra / "x.parquet"))
    spark.range(5).coalesce(1).write.parquet(str(rb / "x.parquet"))
    ea, eb = Engine(spark, datasets_root=str(ra)), \
        Engine(spark, datasets_root=str(rb))
    na = ea.sql("SELECT count(*) AS n FROM list_datasets()").collect()[0].n
    nb = eb.sql("SELECT count(*) AS n FROM list_datasets()").collect()[0].n
    assert (na, nb) == (1, 1)
    assert ea._view_tag != eb._view_tag
    # time travel: same table name + version in both roots, distinct data
    ea.sql("CREATE TABLE tt AS SELECT 1 AS a")
    eb.sql("CREATE TABLE tt AS SELECT 2 AS a, 3 AS b")
    assert ea.sql("SELECT * FROM tt VERSION AS OF 1").collect()[0].a == 1
    assert eb.sql("SELECT * FROM tt VERSION AS OF 1").collect()[0].a == 2


def test_extract_dow_epoch_rewrite(spark, tmp_path):
    """DIVERGENCES #15/#16 closed (r14): EXTRACT(DOW)/date_part('dow')
    number Sunday=0..6 like the reference (Postgres/DataFusion; Spark's
    native DOW is Sunday=1..7), and EXTRACT(EPOCH)/date_part('epoch')
    return fractional seconds as DOUBLE (not a Spark extract field at
    all). Other fields pass through natively; string literals and
    nested calls are lexer-safe."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    r = eng.sql(
        "SELECT EXTRACT(DOW FROM DATE '2024-01-07') AS sun, "
        "       EXTRACT(DOW FROM DATE '2024-01-13') AS sat, "
        "       date_part('dow', DATE '2024-01-08') AS mon, "
        "       datepart('dow', DATE '2024-01-12') AS fri, "
        "       EXTRACT(EPOCH FROM TIMESTAMP '1970-01-02 00:00:01.5') AS ep, "
        "       date_part('epoch', TIMESTAMP '1970-01-01 00:00:00') AS ep0, "
        "       EXTRACT(YEAR FROM DATE '2024-01-07') AS yr"
    ).collect()[0]
    assert (r.sun, r.sat, r.mon, r.fri) == (0, 6, 1, 5)
    assert r.ep == 86401.5 and r.ep0 == 0.0 and r.yr == 2024
    df = eng.sql("SELECT EXTRACT(EPOCH FROM TIMESTAMP '2000-01-01') AS e")
    assert dict(df.dtypes)["e"] == "double"  # Float64 parity, not DECIMAL
    # a string literal spelling extract() must not rewrite; a nested
    # extract inside the FROM expr must
    r2 = eng.sql(
        "SELECT 'extract(dow from x)' AS s, "
        "       EXTRACT(EPOCH FROM TIMESTAMP '1970-01-01 00:00:10') "
        "         + EXTRACT(DOW FROM DATE '2024-01-09') AS v"
    ).collect()[0]
    assert r2.s == "extract(dow from x)" and float(r2.v) == 12.0


def test_numeric_trunc_macro(spark, tmp_path):
    """DIVERGENCES #3 closed for the SQL path (r14): DataFusion's
    numeric trunc(x[, d]) works even though Spark's builtin
    trunc(date, fmt) shadows the name — the rewrite only fires on
    shapes Spark's trunc would reject (1 arg, or a non-string second
    arg), so native date truncation is untouched."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    r = eng.sql(
        "SELECT trunc(2.7) AS a, trunc(-2.7) AS b, "
        "       trunc(3.14159, 2) AS c, trunc(-3.14159, 2) AS d, "
        "       trunc(1234.5, -2) AS e, trunc(1e30) AS big, "
        "       trunc(double('infinity')) AS inf_kept, "
        "       trunc(DATE '2024-03-15', 'MM') AS dt"
    ).collect()[0]
    assert (r.a, r.b, r.c, r.d, r.e) == (2.0, -2.0, 3.14, -3.14, 1200.0)
    assert r.big == 1e30  # magnitude-safe: no ANSI BIGINT overflow
    import math
    assert math.isinf(r.inf_kept)
    assert str(r.dt) == "2024-03-01"  # native trunc(date, 'fmt') kept


def test_rewrite_macros_compose_random(spark, tmp_path):
    """Generative lexer net for the SQL rewrite layer (macros + extract
    + trunc): random nestings of trunc/extract/date_part/datepart over
    known literals, composed with arithmetic, rendered with random
    case — next to DECOY string literals containing unbalanced parens,
    doubled quotes, and the rewrite keywords themselves. The engine
    result must match a Python-evaluated oracle and the decoys must
    come back verbatim (a blanking bug would splice them)."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))

    # (sql fragment, python value) leaves with exactly-known semantics
    DATES = {"2024-01-07": 0, "2024-01-08": 1, "2024-01-12": 5,
             "2021-06-19": 6}
    TS = {"1970-01-02 00:00:00": 86400.0, "2000-01-01 00:00:30": 946684830.0}

    @st.composite
    def leaf(draw):
        kind = draw(st.sampled_from(
            ["num", "trunc1", "trunc2", "dow", "epoch"]))
        if kind == "num":
            v = draw(st.integers(-999, 999))
            return f"{v}", float(v)
        if kind == "trunc1":
            x = draw(st.floats(-1e6, 1e6, allow_nan=False))
            return f"trunc({x!r})", float(math.trunc(x))
        if kind == "trunc2":
            x = draw(st.floats(-1e4, 1e4, allow_nan=False))
            k = draw(st.integers(-2, 3))
            s = 10.0 ** k
            y = x * s
            return f"trunc({x!r}, {k})", (y - math.fmod(y, 1)) / s
        if kind == "dow":
            d = draw(st.sampled_from(sorted(DATES)))
            spelling = draw(st.sampled_from(
                [f"extract(dow from DATE '{d}')",
                 f"EXTRACT(DOW FROM DATE '{d}')",
                 f"date_part('dow', DATE '{d}')",
                 f"datepart('DOW', DATE '{d}')"]))
            return spelling, float(DATES[d])
        t = draw(st.sampled_from(sorted(TS)))
        spelling = draw(st.sampled_from(
            [f"extract(epoch from TIMESTAMP '{t}')",
             f"date_part('epoch', TIMESTAMP '{t}')"]))
        return spelling, TS[t]

    DECOYS = ["extract(dow from x((", "trunc((('", "it''s trunc(",
              "date_part('epoch', ", ") from (", "-- extract("]

    @settings(max_examples=25, deadline=None)
    @given(leaves=st.lists(leaf(), min_size=1, max_size=3),
           op=st.sampled_from(["+", "*"]),
           decoy=st.sampled_from(DECOYS),
           data=st.data())
    def check(leaves, op, decoy, data):
        frags, vals = zip(*leaves)
        expr = f" {op} ".join(f"({f})" for f in frags)
        want = vals[0]
        for v in vals[1:]:
            want = want + v if op == "+" else want * v
        lit = decoy.replace("'", "''")
        sql = f"SELECT {expr} AS v, '{lit}' AS s"
        if data.draw(st.booleans()):
            sql += "  -- trailing trunc( extract( comment"
        row = eng.sql(sql).collect()[0]
        assert row.s == decoy, (decoy, row.s)
        got = float(row.v)
        assert got == want or abs(got - want) <= 1e-6 * max(
            1.0, abs(want)), (sql, got, want)

    check()
