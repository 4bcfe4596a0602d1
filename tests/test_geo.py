"""Geo function tests (st_geojson_as_wkt / st_within_point semantics from
beacon-functions/src/geo/*.rs: NULL→false, bbox prefilter, holes)."""

import json

import numpy as np

from beacon_spark.functions.geo import (
    geojson_to_wkt,
    parse_wkt_polygons,
    st_within_point_py,
)


def test_geojson_point_to_wkt():
    assert geojson_to_wkt({"type": "Point", "coordinates": [1.5, 2.5]}) == "POINT (1.5 2.5)"


def test_geojson_polygon_to_wkt():
    g = {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]]}
    assert geojson_to_wkt(json.dumps(g)) == "POLYGON ((0 0, 1 0, 1 1, 0 0))"


def test_geojson_multipolygon_to_wkt():
    g = {"type": "MultiPolygon", "coordinates": [
        [[[0, 0], [1, 0], [1, 1], [0, 0]]],
        [[[5, 5], [6, 5], [6, 6], [5, 5]]],
    ]}
    wkt = geojson_to_wkt(g)
    assert wkt.startswith("MULTIPOLYGON (((0 0")


def test_square_contains():
    wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    x = np.array([5.0, 15.0, -1.0])
    y = np.array([5.0, 5.0, 5.0])
    assert st_within_point_py(wkt, x, y).tolist() == [True, False, False]


def test_polygon_with_hole():
    wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    x = np.array([5.0, 2.0])
    y = np.array([5.0, 2.0])
    # center is inside the hole → excluded
    assert st_within_point_py(wkt, x, y).tolist() == [False, True]


def test_multipolygon_either():
    wkt = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((10 10, 12 10, 12 12, 10 12, 10 10)))"
    x = np.array([1.0, 11.0, 5.0])
    y = np.array([1.0, 11.0, 5.0])
    assert st_within_point_py(wkt, x, y).tolist() == [True, True, False]


def test_null_coords_false():
    wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    x = np.array([np.nan, 5.0])
    y = np.array([5.0, np.nan])
    assert st_within_point_py(wkt, x, y).tolist() == [False, False]


def test_parse_multipolygon_rings():
    polys = parse_wkt_polygons(
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5), (5.2 5.2, 5.8 5.2, 5.5 5.8, 5.2 5.2)))"
    )
    assert len(polys) == 2
    assert len(polys[1]) == 2  # shell + hole


def test_sql_geo_udfs(spark):
    from beacon_spark.functions.core import register_functions

    register_functions(spark)
    got = spark.sql(
        """SELECT st_within_point(st_geojson_as_wkt(
             '{"type": "Polygon", "coordinates": [[[0,0],[10,0],[10,10],[0,10],[0,0]]]}'),
             5.0D, 5.0D) AS inside"""
    ).collect()
    assert got[0].inside is True


# ---------------------------------------------------------------- wkb → wkt


def test_wkb_to_wkt_shapes():
    import struct

    from beacon_spark.functions.geo import wkb_to_wkt

    pt = b"\x01\x01\x00\x00\x00" + struct.pack("<2d", 4.5, -3.25)
    assert wkb_to_wkt(pt) == "POINT (4.5 -3.25)"

    def be_ring(pts):
        return struct.pack(">I", len(pts)) + b"".join(
            struct.pack(">2d", *p) for p in pts
        )

    poly = (
        b"\x00" + struct.pack(">I", 3) + struct.pack(">I", 2)
        + be_ring([(0, 0), (4, 0), (4, 4), (0, 0)])
        + be_ring([(1, 1), (2, 1), (1, 2), (1, 1)])
    )
    assert wkb_to_wkt(poly) == (
        "POLYGON ((0 0, 4 0, 4 4, 0 0), (1 1, 2 1, 1 2, 1 1))"
    )
    # Z-flagged point (ISO code 1001)
    ptz = b"\x01\xe9\x03\x00\x00" + struct.pack("<3d", 1, 2, 3)
    assert wkb_to_wkt(ptz) == "POINT Z (1 2 3)"


def test_geoparquet_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from beacon_spark.engine import Engine
    from beacon_spark.outputs import write_geoparquet
    from beacon_spark.sources.geoparquet import (
        geo_metadata,
        read_geoparquet,
    )

    df = spark.range(10).select(
        F.col("id"),
        (F.col("id") * 1.5 - 5).alias("lon"),
        (F.col("id") * 2.0 - 9).alias("lat"),
    )
    path = str(tmp_path / "pts.parquet")
    write_geoparquet(df, path, "lon", "lat")
    assert geo_metadata(path)["primary_column"] == "geometry"

    out = read_geoparquet(spark, path)
    rows = {r["id"]: r["geometry"] for r in out.collect()}
    assert rows[0] == "POINT (-5 -9)"
    assert rows[9] == "POINT (8.5 9)"
    schema = {
        r["column_name"]: r["data_type"]
        for r in Engine(spark).sql(
            f"SELECT * FROM read_geoparquet_schema('{path}')").collect()
    }
    assert schema["geometry"] == "string"

    # plain parquet without geo metadata is rejected
    import pytest as _pytest

    plain = str(tmp_path / "plain.parquet")
    df.write.mode("overwrite").parquet(plain)
    with _pytest.raises(ValueError, match="no 'geo' metadata"):
        read_geoparquet(spark, plain)


def test_geoparquet_sql_path(spark, tmp_path):
    from pyspark.sql import functions as F

    from beacon_spark import Engine
    from beacon_spark.outputs import write_geoparquet

    eng = Engine(spark, datasets_root=str(tmp_path))
    df = spark.range(5).select(
        F.col("id"), F.lit(1.0).alias("lon"), F.lit(2.0).alias("lat")
    )
    write_geoparquet(df, str(tmp_path / "g.parquet"), "lon", "lat")
    out = eng.sql(
        "SELECT count(*) AS n FROM read_geoparquet('g.parquet') "
        "WHERE geometry = 'POINT (1 2)'"
    )
    assert out.collect()[0]["n"] == 5
