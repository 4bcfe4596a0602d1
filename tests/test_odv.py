"""ODV ASCII reader/writer tests against a small hand-written profile
file in the layout of the reference's test file
(beacon-arrow-odv/test-data/test_file.txt) and synthetic round-trips."""

import os

import pyarrow as pa
import pytest

from beacon_spark import Engine
from beacon_spark.sources.odv import (
    odv_schema,
    parse_header,
    read_odv_table,
    resolve_columns,
)

REF_FILE = os.path.join(os.path.dirname(__file__), "data", "odv_profiles.txt")


def test_header_parse_value_types():
    lines = [
        '//<MetaVariable>label="Longitude [degrees_east]" value_type="FLOAT" '
        'qf_schema="SEADATANET" comment=""</MetaVariable>\n',
        '//<DataVariable>label="Depth [m]" value_type="DOUBLE" qf_schema="" '
        'comment="below sea"</DataVariable>\n',
        '//<MetaVariable>label="EDMO_code" value_type="INTEGER" qf_schema="" '
        'comment=""</MetaVariable>\n',
        "Cruise\tLongitude [degrees_east]\tDepth [m]\tQV:SEADATANET\tEDMO_code\n",
    ]
    declared, header_row = parse_header(lines)
    assert declared["Longitude"].dtype == pa.float32()
    assert declared["Longitude"].metadata["units"] == "degrees_east"
    assert declared["Depth"].dtype == pa.float64()
    assert declared["Depth"].metadata["comment"] == "below sea"
    cols = resolve_columns(declared, header_row)
    names = [c.name for c in cols]
    # QV: with 2 parts binds to the previous column
    assert names == ["Cruise", "Longitude", "Depth", "Depth_qc", "EDMO_code"]
    assert cols[4].dtype == pa.int64()


def test_reference_file_schema():
    s = odv_schema(REF_FILE)
    names = s.names
    assert "Cruise" in names and "Longitude" in names
    assert any(n.endswith("_qc") for n in names)
    assert s.field("yyyy-mm-ddThh:mm:ss.sss").type == pa.timestamp("ms")


def test_reference_file_read():
    t = read_odv_table(REF_FILE)
    assert t.num_rows > 0
    assert t.column("Cruise")[0].as_py() is not None
    # units metadata surfaced as constant column
    assert any(n.endswith(".units") for n in t.column_names)


def test_spark_read_odv(spark):
    eng = Engine(spark)
    df = eng.resolve_from({"odv": {"paths": [REF_FILE]}})
    assert df.count() == read_odv_table(REF_FILE).num_rows
    assert "Longitude" in df.columns


def test_sql_read_odv_fn(spark):
    eng = Engine(spark)
    n = eng.sql(f"SELECT count(*) AS n FROM read_odv_ascii('{REF_FILE}')").collect()[0].n
    assert n > 0


def test_odv_writer_roundtrip(spark, tmp_path):
    from beacon_spark.sources.odv import write_odv

    df = spark.createDataFrame(
        [("c1", 10.5, -4.25, 100), ("c2", 11.5, -3.5, None)],
        "Cruise string, Latitude double, Longitude double, Depth int",
    )
    out = str(tmp_path / "out.txt")
    write_odv(df, out, longitude_column="Longitude", latitude_column="Latitude")
    eng = Engine(spark)
    back = eng.resolve_from({"odv": {"paths": [out]}})
    rows = sorted((r.Cruise, r.Latitude, r.Longitude, r.Depth)
                  for r in back.select("Cruise", "Latitude", "Longitude", "Depth").collect())
    assert rows == [("c1", 10.5, -4.25, 100), ("c2", 11.5, -3.5, None)]


def test_odv_writer_sanitizes_tabs_newlines(spark, tmp_path):
    """r10 sweep: the format has no quoting — a tab/newline inside a
    string value shifted every later column / split the row. The writer
    replaces them with spaces (documented lossy) so the file stays
    rectangular."""
    from beacon_spark.sources.odv import write_odv

    df = spark.createDataFrame(
        [("a\tb\nc", 1.5), ("plain", 2.5)],
        "Cruise string, Latitude double",
    )
    out = str(tmp_path / "tabs.txt")
    write_odv(df, out, latitude_column="Latitude")
    eng = Engine(spark)
    back = eng.resolve_from({"odv": {"paths": [out]}})
    rows = sorted((r.Cruise, r.Latitude) for r in back.collect())
    assert rows == [("a b c", 1.5), ("plain", 2.5)]


def test_odv_body_bad_utf8_tolerated(tmp_path):
    """r10 sweep: the header was decoded errors='replace' but the body
    went through a raw-path read_csv (strict utf-8) — one bad byte in
    the data crashed the task. Both now ride the byte-source."""
    p = tmp_path / "bad.txt"
    body = (
        b"//<DataVariable>label=\"Temp [C]\" value_type=\"DOUBLE\" "
        b"qf_schema=\"\" comment=\"\"</DataVariable>\n"
        b"Cruise\tTemp [C]\n"
        b"c\xff1\t3.5\n"
    )
    p.write_bytes(body)
    t = read_odv_table(str(p))
    assert t.num_rows == 1
    assert t.column("Temp").to_pylist() == [3.5]


def test_odv_schema_matches_table_on_metadata_collision(tmp_path):
    """r10 sweep: a data column literally named '<var>.units' collides
    with the metadata constant — schema and table must agree (the
    schema used to declare a suffixed phantom column the table never
    emits)."""
    from beacon_spark.sources.odv import odv_schema

    p = tmp_path / "coll.txt"
    p.write_text(
        '//<DataVariable>label="Temp [C]" value_type="DOUBLE" '
        'qf_schema="" comment=""</DataVariable>\n'
        '//<DataVariable>label="Temp.units" value_type="INDEXED_TEXT" '
        'qf_schema="" comment=""</DataVariable>\n'
        "Cruise\tTemp [C]\tTemp.units\n"
        "c1\t3.5\tK\n"
    )
    t = read_odv_table(str(p))
    s = odv_schema(str(p))
    assert t.column_names == [f.name for f in s]
