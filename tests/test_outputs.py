"""Output-format tests: cross-format agreement (the reference's
test_output_formats.py asserts csv/arrow/parquet agree on the same query)
+ ndnetcdf re-gridding core + geoparquet metadata."""

import json

import numpy as np
import pyarrow.ipc as pa_ipc
import pyarrow.parquet as pq
import pytest

from beacon_spark.outputs import regrid, write_output


@pytest.fixture(scope="module")
def result_df(spark, sf_small):
    df = spark.read.parquet(f"{sf_small}/orders.parquet")
    return (
        df.groupBy("o_orderpriority")
        .count()
        .orderBy("o_orderpriority")
    )


def test_cross_format_agreement(result_df, tmp_path, spark):
    p_csv = str(tmp_path / "r.csv")
    p_parquet = str(tmp_path / "r.parquet")
    p_arrow = str(tmp_path / "r.arrow")
    write_output(result_df, "csv", p_csv)
    write_output(result_df, "parquet", p_parquet)
    write_output(result_df, "arrow", p_arrow)

    via_parquet = pq.read_table(p_parquet).to_pylist()
    with pa_ipc.open_file(p_arrow) as r:
        via_arrow = r.read_all().to_pylist()
    import csv as _csv

    with open(p_csv) as f:
        rd = _csv.DictReader(f)
        via_csv = [{"o_orderpriority": row["o_orderpriority"],
                    "count": int(row["count"])} for row in rd]
    assert via_parquet == via_arrow == via_csv
    assert len(via_parquet) > 0


def test_output_roundtrip_random_schemas(spark, tmp_path):
    """Generative typed-roundtrip net: random column type sets with
    nulls → COPY TO parquet/arrow/csv → read back value-exact. Parquet
    and Arrow must be bit-faithful for every type; CSV (a lossy text
    format) is checked over its scalar surface by re-reading with the
    original schema applied."""
    import datetime

    import pyarrow.ipc as _ipc
    import pyarrow.parquet as _pq
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import types as T

    POOL = {
        "i": (T.LongType(), st.one_of(st.none(),
                                      st.integers(-(2**62), 2**62))),
        "si": (T.IntegerType(), st.one_of(st.none(),
                                          st.integers(-(2**31), 2**31 - 1))),
        "d": (T.DoubleType(), st.one_of(st.none(), st.floats(
            allow_nan=False, allow_infinity=False, width=64))),
        "s": (T.StringType(), st.one_of(st.none(), st.text(
            alphabet=st.characters(codec="utf-8",
                                   exclude_categories=["Cs", "Cc"]),
            max_size=12))),
        "b": (T.BooleanType(), st.one_of(st.none(), st.booleans())),
        "ts": (T.TimestampType(), st.one_of(st.none(), st.datetimes(
            min_value=datetime.datetime(1900, 1, 1),
            max_value=datetime.datetime(2100, 1, 1)))),
        "arr": (T.ArrayType(T.LongType()), st.one_of(
            st.none(), st.lists(st.integers(-1000, 1000), max_size=4))),
    }
    counter = [0]

    @settings(max_examples=8, deadline=None)
    @given(kinds=st.lists(st.sampled_from(sorted(POOL)), min_size=1,
                          max_size=4, unique=True),
           data=st.data())
    def check(kinds, data):
        counter[0] += 1
        fields = [T.StructField(f"c_{k}", POOL[k][0]) for k in kinds]
        schema = T.StructType(fields)
        n = data.draw(st.integers(1, 12))
        rows = [tuple(data.draw(POOL[k][1]) for k in kinds)
                for _ in range(n)]
        df = spark.createDataFrame(rows, schema)
        want = [tuple(r) for r in df.collect()]  # Spark-canonical values
        base = tmp_path / f"rt{counter[0]}"
        base.mkdir()
        write_output(df, "parquet", str(base / "r.parquet"))
        write_output(df, "arrow", str(base / "r.arrow"))
        got_pq = [tuple(d[f.name] for f in fields)
                  for d in _pq.read_table(str(base / "r.parquet")).to_pylist()]
        with _ipc.open_file(str(base / "r.arrow")) as r:
            got_ar = [tuple(d[f.name] for f in fields)
                      for d in r.read_all().to_pylist()]

        def naive(rows):
            # Spark timestamps are session-UTC; pyarrow returns them
            # tz-aware UTC while collect() gives naive — same instant
            return sorted(
                (tuple(v.replace(tzinfo=None)
                       if isinstance(v, datetime.datetime) else v
                       for v in row) for row in rows), key=repr)

        assert naive(got_pq) == naive(want), kinds
        assert naive(got_ar) == naive(want), kinds
        if "arr" not in kinds:  # CSV: scalar surface, schema-applied read
            write_output(df, "csv", str(base / "r.csv"))
            # the writer renders arrow-csv style UTC instants:
            # 2000-01-01 00:00:00.000000Z
            # escape='"': the writer emits RFC 4180 doubled quotes
            # (reference arrow-rs dialect); Spark's default reader
            # expects ITS backslash dialect and would hand back `""`
            # for a lone `"` (caught by a fresh seed, r14)
            back = spark.read.schema(schema).csv(
                str(base / "r.csv"), header=True,
                timestampFormat="yyyy-MM-dd HH:mm:ss.SSSSSS'Z'",
                nullValue="", escape='"')
            got_csv = [tuple(r) for r in back.collect()]
            # single-column NULL and '' rows both render as a blank
            # line (the writer minimally quotes, the pinned contract),
            # which CSV readers skip — unroundtrippable by the text
            # format itself, so excluded from the expectation
            want_csv = ([r for r in want if r[0] not in (None, "")]
                        if len(fields) == 1 else want)

            # empty string and NULL are both rendered "" in csv — align
            def canon(vals):
                return sorted(
                    (tuple(None if v == "" else v for v in row)
                     for row in vals), key=repr)
            assert canon(got_csv) == canon(want_csv), kinds

    check()


def test_distributed_parquet_write(result_df, tmp_path, spark):
    out = str(tmp_path / "dist")
    write_output(result_df, "parquet", out, single=False)
    assert spark.read.parquet(out).count() == result_df.count()


def test_regrid_dense():
    import pyarrow as pa

    t = pa.table({
        "time": [1, 1, 2, 2], "lat": [10.0, 20.0, 10.0, 20.0],
        "sst": [1.0, 2.0, 3.0, 4.0],
    })
    coords, variables = regrid(t, ["time", "lat"])
    assert coords["time"].tolist() == [1, 2]
    assert variables["sst"].shape == (2, 2)
    assert variables["sst"].tolist() == [[1.0, 2.0], [3.0, 4.0]]


def test_regrid_sparse_fills_nan():
    import pyarrow as pa

    t = pa.table({"x": [1, 2], "y": [1, 2], "v": [5.0, 6.0]})
    coords, variables = regrid(t, ["x", "y"])
    m = variables["v"]
    assert m[0][0] == 5.0 and m[1][1] == 6.0
    assert np.isnan(m[0][1]) and np.isnan(m[1][0])


def test_geoparquet_metadata(spark, tmp_path):
    df = spark.createDataFrame([(4.5, 52.0, "a")], "lon double, lat double, name string")
    out = str(tmp_path / "geo.parquet")
    write_output(df, "geoparquet", out, longitude_column="lon", latitude_column="lat")
    table = pq.read_table(out)
    meta = json.loads(table.schema.metadata[b"geo"])
    assert meta["primary_column"] == "geometry"
    wkb = table.column("geometry")[0].as_py()
    assert wkb[0:1] == b"\x01"  # little-endian
    import struct

    geom_type = struct.unpack("<I", wkb[1:5])[0]
    x, y = struct.unpack("<2d", wkb[5:21])
    assert geom_type == 1 and (x, y) == (4.5, 52.0)


def test_netcdf_flat_roundtrip(result_df, tmp_path, spark):
    """Flat record-oriented NetCDF written with the pure writer reads back
    through read_netcdf with identical values (output.rs:102-105)."""
    from beacon_spark.engine import Engine

    p = str(tmp_path / "flat.nc")
    write_output(result_df, "netcdf", p)
    eng = Engine(spark, datasets_root=str(tmp_path))
    back = eng.sql(
        "SELECT o_orderpriority, CAST(count AS BIGINT) AS count "
        "FROM read_netcdf('flat.nc') ORDER BY o_orderpriority"
    ).collect()
    orig = result_df.collect()
    assert [(r.o_orderpriority, r["count"]) for r in back] == [
        (r.o_orderpriority, r["count"]) for r in orig
    ]


def test_ndnetcdf_regrid_roundtrip(spark, tmp_path):
    """rows → nd grid → NetCDF → rows: the reference's nd round-trip test
    (test_nd_formats.py pins flat & nd NetCDF output round-trips)."""
    from beacon_spark.engine import Engine

    df = spark.createDataFrame(
        [(t, d, float(t * 10 + d)) for t in range(3) for d in (0, 5)],
        "t int, depth int, val double",
    )
    p = str(tmp_path / "grid.nc")
    write_output(df, "ndnetcdf", p, dimension_columns=["t", "depth"])
    eng = Engine(spark, datasets_root=str(tmp_path))
    back = eng.sql(
        "SELECT CAST(t AS INT) AS t, CAST(depth AS INT) AS depth, val "
        "FROM read_netcdf('grid.nc') ORDER BY t, depth"
    ).collect()
    assert [(r.t, r.depth, r.val) for r in back] == [
        (t, d, float(t * 10 + d)) for t in range(3) for d in (0, 5)
    ]


def test_netcdf_timestamp_cf(spark, tmp_path):
    """Timestamps survive the CF microseconds-since-epoch round-trip."""
    from beacon_spark.engine import Engine

    df = spark.sql(
        "SELECT timestamp'2021-03-04 05:06:07.123456' AS ts, 1.5 AS v"
    )
    p = str(tmp_path / "ts.nc")
    write_output(df, "netcdf", p)
    eng = Engine(spark, datasets_root=str(tmp_path))
    row = eng.sql("SELECT ts, v FROM read_netcdf('ts.nc')").collect()[0]
    assert str(row.ts).startswith("2021-03-04 05:06:07.123456")  # CF decode is tz-aware UTC
    assert row.v == 1.5


def test_csv_binary_and_nested_fall_back_to_row_loop(spark, tmp_path):
    """code-review r7 finding: binary passes Arrow CSVWriter
    CONSTRUCTION but fails mid-write; nested types fail construction —
    both must take the row-loop fallback and produce a full file."""
    from beacon_spark.outputs import write_csv

    df = spark.sql(
        "SELECT id, unhex('DEADBEEF') AS b, array(id, id * 2) AS a "
        "FROM range(3)")
    p = str(tmp_path / "binfall.csv")
    write_csv(df, p, single=True)
    import csv as _csv

    with open(p) as f:
        rows = list(_csv.DictReader(f))
    assert len(rows) == 3
    assert rows[1]["id"] == "1" and rows[1]["a"].startswith("[1")


def test_csv_body_minimally_quoted(spark, tmp_path):
    """ADVICE r7: data rows (not just the header) follow the minimal-
    quoting contract of the reference's arrow-rs writer — plain strings
    unquoted, strings containing the delimiter/quote/newline quoted."""
    from beacon_spark.outputs import write_csv

    df = spark.createDataFrame(
        [(1, "plain", 'with,comma'), (2, "also_plain", 'has "quote"')],
        "id long, a string, b string",
    ).orderBy("id")
    p = str(tmp_path / "minq.csv")
    write_csv(df, p, single=True)
    raw = open(p, encoding="utf-8").read().splitlines()
    assert raw[0] == "id,a,b"
    assert raw[1] == '1,plain,"with,comma"'
    assert raw[2] == '2,also_plain,"has ""quote"""'


def test_csv_cast_render_matches_arrow_csv_writer():
    """The vectorized minimal-quoting path renders non-string cells via
    pc.cast; pin that cast output is byte-identical to pyarrow's CSV
    writer for every non-string type the engine emits (int, float incl.
    inf, bool, timestamp, date, decimal, nulls)."""
    import datetime
    import decimal
    import io

    import pyarrow as pa
    from pyarrow import csv as pa_csv

    from beacon_spark.outputs import _render_csv_batch

    t = pa.table({
        "i": pa.array([1, None, -3], pa.int64()),
        "f": pa.array([1.5, float("inf"), None], pa.float64()),
        "b": pa.array([True, None, False]),
        "ts": pa.array([datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),
                        None, datetime.datetime(2020, 1, 1)],
                       pa.timestamp("us")),
        "d": pa.array([datetime.date(2021, 3, 4), None,
                       datetime.date(2020, 1, 1)]),
        "dec": pa.array([decimal.Decimal("1.23"), None,
                         decimal.Decimal("-0.07")], pa.decimal128(10, 2)),
    })
    buf = io.BytesIO()
    pa_csv.write_csv(t, buf, write_options=pa_csv.WriteOptions(
        include_header=False))
    ours = b"".join(_render_csv_batch(b) for b in t.to_batches())
    assert ours == buf.getvalue()  # no strings here: must match exactly


def test_ndnetcdf_streamed_matches_in_memory_writer_bytes(spark, tmp_path):
    """VERDICT r7 item 3: the streamed nd re-grid path must produce the
    SAME FILE as the materialized writer — numeric + string + timestamp
    variables, sparse cells (NaN / "" fills), multi-dim — so the memory
    fix cannot have changed the format or value mapping."""
    from beacon_spark.outputs import (
        _write_netcdf_nd_streamed,
        _write_netcdf_table,
    )

    df = spark.sql("""
        SELECT CAST(id % 4 AS INT) AS t, CAST(id DIV 4 AS INT) AS depth,
               id * 1.5 AS v,
               CASE WHEN id % 3 = 0 THEN NULL
                    ELSE concat('tag,', id) END AS label,
               timestamp'2024-01-02 03:04:05' +
                   make_interval(0,0,0,0,0,0,id) AS ts
        FROM range(14)
    """)  # 14 rows over a 4 x 4 grid: 2 cells stay absent
    p_stream = str(tmp_path / "stream.nc")
    p_mem = str(tmp_path / "mem.nc")
    _write_netcdf_nd_streamed(df, p_stream, ["t", "depth"])
    _write_netcdf_table(df.toArrow(), p_mem, ["t", "depth"])
    a = open(p_stream, "rb").read()
    b = open(p_mem, "rb").read()
    assert a == b


def test_ndnetcdf_null_dimension_value_clear_error(spark, tmp_path):
    import pytest as _p

    from beacon_spark.outputs import write_output

    df = spark.createDataFrame(
        [(1.0, 2.0, 5.0), (None, 3.0, 6.0)], "lat double, lon double, v double")
    with _p.raises(ValueError, match="NULL/NaN"):
        write_output(df, "ndnetcdf", str(tmp_path / "g.nc"),
                     dimension_columns=["lat", "lon"])
    nan = float("nan")
    df2 = spark.createDataFrame(
        [(1.0, 2.0, 5.0), (nan, 3.0, 6.0)], "lat double, lon double, v double")
    with _p.raises(ValueError, match="NULL/NaN"):
        write_output(df2, "ndnetcdf", str(tmp_path / "g2.nc"),
                     dimension_columns=["lat", "lon"])


def test_arrow_multifile_refuses_loudly(spark, tmp_path):
    import pytest as _p

    from beacon_spark.outputs import write_output

    df = spark.createDataFrame([(1,)], "a bigint")
    with _p.raises(ValueError, match="single streamed file"):
        write_output(df, "arrow", str(tmp_path / "x.arrow"), single=False)


def test_hdf5_output_writes_real_netcdf4(spark, tmp_path):
    """The reference aliases hdf5/h5 to its NetCDF-4 (HDF5) writer
    (output.rs:99-101); since r12 ours does too — the emitted file is a
    real HDF5 container with dimension-scale conventions, read back by
    read_netcdf/read_hdf5 with NAMED dims and CF-decoded time. Closes
    DIVERGENCES.md row 6's output half."""
    import datetime

    from beacon_spark.engine import Engine
    from beacon_spark.outputs import write_output
    from beacon_spark.sources.hdf5lite import MAGIC

    df = spark.createDataFrame(
        [(datetime.datetime(2020, 1, 1, i), float(i), f"s{i}")
         for i in range(6)],
        "t timestamp, v double, s string")
    # flat (obs-dimension) variant
    p = str(tmp_path / "flat.h5")
    write_output(df, "hdf5", p)
    assert open(p, "rb").read(8) == MAGIC  # an actual HDF5 container
    eng = Engine(spark, datasets_root=str(tmp_path))
    rows = eng.sql(
        "SELECT t, v, s FROM read_hdf5('flat.h5') ORDER BY v").collect()
    assert [r.v for r in rows] == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    assert rows[3].t == datetime.datetime(2020, 1, 1, 3)
    assert rows[5].s == "s5"

    # nd re-grid variant (dimension_columns)
    grid = spark.createDataFrame(
        [(x, y, float(x * 10 + y)) for x in range(3) for y in range(4)],
        "x long, y long, temp double")
    p2 = str(tmp_path / "grid.nc4")
    write_output(grid, "netcdf4", p2, dimension_columns=["x", "y"])
    rows = eng.sql(
        "SELECT x, y, temp FROM read_netcdf('grid.nc4') "
        "WHERE x = 2 ORDER BY y").collect()
    assert [r.temp for r in rows] == [20.0, 21.0, 22.0, 23.0]

    # SQL surface: COPY TO a .h5 target detects the format by extension
    eng.sql("CREATE TABLE h5src AS SELECT * FROM VALUES "
            "(1, 10.5), (2, 20.5) AS v(k, val)")
    eng.sql("COPY h5src TO 'copied.h5'")
    rows = eng.sql(
        "SELECT k, val FROM read_hdf5('copied.h5') ORDER BY k").collect()
    assert [(r.k, r.val) for r in rows] == [(1, 10.5), (2, 20.5)]

    # FLAT netcdf4 streams (r13): no row cap — max_rows is simply
    # ignored on the streamed path
    p3 = str(tmp_path / "uncapped.h5")
    write_output(df, "netcdf4", p3, max_rows=3)
    assert open(p3, "rb").read(8) == MAGIC

    # the RE-GRIDDED variant streams too since r14 (GridNc4StreamWriter,
    # one variable's grid at a time) — the old max_rows/max_bytes
    # driver-materialization caps are gone with the materialization
    # they guarded; tiny values are simply ignored
    p4 = str(tmp_path / "big.h5")
    write_output(grid, "netcdf4", p4,
                 dimension_columns=["x", "y"], max_rows=3, max_bytes=64)
    rows = eng.sql(
        "SELECT x, y, temp FROM read_netcdf('big.h5') "
        "WHERE x = 1 ORDER BY y").collect()
    assert [r.temp for r in rows] == [10.0, 11.0, 12.0, 13.0]


def test_netcdf_flat_int64_beyond_int32_not_clipped(spark, tmp_path):
    """r10 sweep: int64 columns were unconditionally narrowed to int32
    with a CLIP — any value beyond ±2^31 (an orderkey at SF100) was
    silently corrupted. Out-of-range int64 now writes as float64 (exact
    to 2^53); in-range int64 still narrows to exact int32."""
    from beacon_spark.outputs import write_netcdf
    from beacon_spark.sources.nd import read_nd

    big = 5_000_000_000  # > 2^31
    df = spark.createDataFrame(
        [(big, 7), (big + 1, 8)], "big long, small long")
    p = str(tmp_path / "big.nc")
    write_netcdf(df, p)
    back = read_nd(spark, "netcdf", [p])
    rows = sorted((int(r.big), int(r.small)) for r in back.collect())
    assert rows == [(big, 7), (big + 1, 8)]


def test_netcdf_regrid_int64_beyond_int32_coords(tmp_path):
    """Same guarantee for the in-memory/_nc_type_for path (nd coord
    axes): values survive, no wrap/clip."""
    import numpy as np

    from beacon_spark.sources.netcdf3 import _nc_type_for

    t, arr = _nc_type_for(np.array([5_000_000_000, 1], dtype=np.int64))
    assert t == 6 and arr.dtype == np.float64
    assert arr[0] == 5_000_000_000.0
    t, arr = _nc_type_for(np.array([1, 2], dtype=np.int64))
    assert t == 4 and arr.dtype == np.int32


def test_writer_roundtrip_random_schemas_nc4_geo_odv(spark, tmp_path):
    """Generative typed-roundtrip net for the writers the COPY-TO net
    missed (r12 verdict #6): streamed flat NetCDF-4, geoparquet, and
    ODV — random schemas/values with nulls, fresh seeds each run.

    Expected NetCDF-4 semantics mirror the writer's documented mapping:
    columns with nulls become NaN-doubles (parquet-stats gated), int64
    keeps its width, bool → i1, string → fixed-S UTF-8 with null → "",
    timestamp → CF microseconds-since-epoch doubles."""
    import datetime
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import types as T

    from beacon_spark.outputs import write_geoparquet, write_output
    from beacon_spark.sources.hdf5lite import Hdf5Reader
    from beacon_spark.sources.odv import read_odv_table, write_odv

    EPOCH = datetime.datetime(1970, 1, 1)
    POOL = {
        "i": (T.LongType(), st.one_of(st.none(),
                                      st.integers(-(2**62), 2**62))),
        "d": (T.DoubleType(), st.one_of(st.none(), st.floats(
            allow_nan=False, allow_infinity=False, width=64))),
        "s": (T.StringType(), st.one_of(st.none(), st.text(
            alphabet=st.characters(codec="utf-8",
                                   exclude_categories=["Cs", "Cc"]),
            max_size=10))),
        "b": (T.BooleanType(), st.one_of(st.none(), st.booleans())),
        "ts": (T.TimestampType(), st.one_of(st.none(), st.datetimes(
            min_value=datetime.datetime(1900, 1, 1),
            max_value=datetime.datetime(2100, 1, 1)))),
    }
    counter = [0]

    def canon(rows):
        return sorted((tuple("NaN" if isinstance(v, float)
                             and math.isnan(v) else v for v in r)
                       for r in rows), key=repr)

    @settings(max_examples=6, deadline=None)
    @given(kinds=st.lists(st.sampled_from(sorted(POOL)), min_size=1,
                          max_size=4, unique=True),
           data=st.data())
    def check(kinds, data):
        counter[0] += 1
        base = tmp_path / f"w{counter[0]}"
        base.mkdir()
        fields = [T.StructField(f"c_{k}", POOL[k][0]) for k in kinds]
        n = data.draw(st.integers(1, 10))
        rows = [tuple(data.draw(POOL[k][1]) for k in kinds)
                for _ in range(n)]
        df = spark.createDataFrame(rows, T.StructType(fields))
        want = [tuple(r) for r in df.collect()]

        # ---- streamed flat NetCDF-4 ---------------------------------
        p = str(base / "r.h5")
        write_output(df, "netcdf4", p)
        r = Hdf5Reader(p)
        cols = []
        for j, k in enumerate(kinds):
            vals = [row[j] for row in want]
            has_null = any(v is None for v in vals)
            got = list(r.read(r.root.datasets[f"c_{k}"]))
            if k == "s":
                exp = ["" if v is None else v for v in vals]
                got = [g.decode("utf-8") for g in got]
            elif k == "ts":
                exp = [float("nan") if v is None else
                       float(round((v - EPOCH).total_seconds() * 1e6))
                       for v in vals]
                got = [float(g) for g in got]
            elif k == "d" or has_null:
                exp = [float("nan") if v is None else float(v)
                       for v in vals]
                got = [float(g) for g in got]
            elif k == "b":
                exp = [int(v) for v in vals]
                got = [int(g) for g in got]
            else:
                exp = [int(v) for v in vals]
                got = [int(g) for g in got]
            cols.append((exp, got))
        assert canon(zip(*[c[1] for c in cols])) == \
            canon(zip(*[c[0] for c in cols])), kinds

        # ---- geoparquet: lon/lat → WKB points, extras pass through --
        import struct as _struct

        coords = [(data.draw(st.floats(-180, 180, allow_nan=False)),
                   data.draw(st.floats(-90, 90, allow_nan=False)))
                  for _ in range(n)]
        gdf = spark.createDataFrame(
            [(lon, lat) + r for (lon, lat), r in zip(coords, rows)],
            T.StructType([T.StructField("lon", T.DoubleType(), False),
                          T.StructField("lat", T.DoubleType(), False)]
                         + fields))
        gp = str(base / "r.geoparquet")
        write_geoparquet(gdf, gp, "lon", "lat")
        table = pq.read_table(gp)
        assert json.loads(
            table.schema.metadata[b"geo"])["primary_column"] == "geometry"
        got_geo = []
        for d in table.to_pylist():
            x, y = _struct.unpack("<2d", d["geometry"][5:21])
            got_geo.append((x, y) + tuple(
                v.replace(tzinfo=None) if isinstance(v, datetime.datetime)
                else v for v in (d[f.name] for f in fields)))
        want_geo = [(lon, lat) + tuple(
            v.replace(tzinfo=None) if isinstance(v, datetime.datetime)
            else v for v in r) for (lon, lat), r in zip(coords, want)]
        assert canon(got_geo) == canon(want_geo), kinds

        # ---- ODV: tab-separated text spreadsheet --------------------
        # format envelope: strings lose tabs/newlines (generator already
        # excludes control chars), "" and NULL both render blank,
        # timestamps truncate to milliseconds, bools become text
        op = str(base / "r.odv")
        write_odv(gdf, op, longitude_column="lon", latitude_column="lat")
        back = read_odv_table(op).to_pylist()
        got_odv = canon(
            (d["lon"], d["lat"]) + tuple(d[f"c_{k}"] for k in kinds)
            for d in back)
        exp_odv = []
        for (lon, lat), r in zip(coords, want):
            out = [lon, lat]
            for k, v in zip(kinds, r):
                if v is None:
                    out.append(None)
                elif k == "ts":
                    # ODV has no timestamp value_type: time is typed
                    # only through the conventionally-NAMED columns
                    # (time_ISO8601 / yyyy-mm-ddThh:mm:ss.sss,
                    # reader.rs:155-175); an arbitrary timestamp column
                    # renders as ISO text truncated to milliseconds
                    out.append(v.isoformat(timespec="milliseconds"))
                elif k == "b":
                    out.append(str(v))
                elif k == "s":
                    out.append(None if v == "" else v)
                else:
                    out.append(v)
            exp_odv.append(tuple(out))
        assert got_odv == canon(exp_odv), kinds

    check()

    # streamed netcdf4 with shuffle+deflate chunks: smaller file, same
    # values (the filter pipeline itself is pinned by the writer→reader
    # roundtrip matrix in test_hdf5_write.py)
    cdf = spark.range(20_000).selectExpr("id", "id % 7 * 0.25 AS v")
    pu = str(tmp_path / "u.h5")
    pc_ = str(tmp_path / "c.h5")
    write_output(cdf, "netcdf4", pu)
    write_output(cdf, "netcdf4", pc_, compression="deflate")
    import os as _os
    assert _os.path.getsize(pc_) < _os.path.getsize(pu) * 0.6
    from beacon_spark.sources.hdf5lite import Hdf5Reader as _HR
    rc = _HR(pc_)
    assert list(rc.read_region(rc.root.datasets["v"], [(35, 40)])) == [
        (35 + i) % 7 * 0.25 for i in range(5)]
    import pytest as _pt
    with _pt.raises(ValueError, match="compression"):
        write_output(cdf, "netcdf4", str(tmp_path / "x.h5"),
                     compression="lz4")

    # a result column literally named "obs" becomes the record-dim
    # coordinate; it must work even when it isn't the FIRST column
    # (the writer reorders it to stream first — its dataset address
    # seeds every DIMENSION_LIST)
    odf = spark.createDataFrame([(1.5, 0), (2.5, 1)], "v double, obs long")
    op2 = str(tmp_path / "obs.h5")
    write_output(odf, "netcdf4", op2)
    from beacon_spark.sources.hdf5lite import Hdf5Reader as _R
    r2 = _R(op2)
    assert list(r2.read(r2.root.datasets["obs"])) == [0, 1]
    assert list(r2.read(r2.root.datasets["v"])) == [1.5, 2.5]
    assert r2.root.datasets["obs"].attrs["CLASS"] == "DIMENSION_SCALE"

    # the naming convention IS the timestamp path — pin it once
    import datetime as _dt

    tdf = spark.createDataFrame(
        [(1.0, 2.0, _dt.datetime(2021, 3, 4, 5, 6, 7, 123000), 9.5)],
        "lon double, lat double, time_ISO8601 timestamp, v double")
    tp = str(tmp_path / "conv.odv")
    write_odv(tdf, tp, longitude_column="lon", latitude_column="lat")
    row = read_odv_table(tp).to_pylist()[0]
    assert row["time_ISO8601"] == _dt.datetime(2021, 3, 4, 5, 6, 7, 123000)
    assert row["v"] == 9.5


@pytest.mark.parametrize("fmt", ["netcdf4", "netcdf"])
def test_flat_nc4_string_path_one_width_pass_no_python_loop(
        spark, tmp_path, monkeypatch, fmt):
    """r14 (r13-verdict finding #1): the streamed flat NetCDF-4 and
    NetCDF-3 exports must (a) compute ALL string widths in ONE
    column-pruned spool pass — not one full pass per string column —
    and (b) never run a per-row Python loop (to_pylist) while streaming
    values."""
    import pyarrow.parquet as pq

    from beacon_spark.outputs import write_output
    from beacon_spark.sources.hdf5lite import Hdf5Reader
    from beacon_spark.sources.netcdf3 import read_netcdf3

    df = spark.range(500).selectExpr(
        "id",
        "CONCAT('a-', id) AS s1",
        "IF(id % 5 = 0, NULL, CONCAT('bb-', id)) AS s2",
        "CONCAT('ccc-', id % 7) AS s3",
        "id * 0.5 AS v")

    calls: list[tuple] = []
    orig = pq.ParquetFile.iter_batches

    def spy(self, *a, **kw):
        calls.append(tuple(kw.get("columns") or a[1] if len(a) > 1 else
                           kw.get("columns")))
        return orig(self, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "iter_batches", spy)

    # the vectorized fixed-width encoder must carry every string chunk
    # (pa.Array is a C type — can't patch to_pylist itself)
    import beacon_spark.outputs as outputs_mod
    fw_calls = [0]
    orig_fw = outputs_mod._fixed_width_bytes

    def fw_spy(col, w):
        fw_calls[0] += 1
        return orig_fw(col, w)

    monkeypatch.setattr(outputs_mod, "_fixed_width_bytes", fw_spy)

    p = str(tmp_path / "strs.h5")
    write_output(df, fmt, p)
    monkeypatch.undo()

    # width passes = the calls naming all three string columns at once;
    # no single-string-column width scans remain
    width_passes = [c for c in calls if c == ("s1", "s2", "s3")]
    single_str = [c for c in calls
                  if len(c) == 1 and c[0] in ("s1", "s2", "s3")]
    assert width_passes, calls
    # streaming reads each column once per spool file afterwards
    assert len(single_str) == 3 * len(width_passes), calls
    assert fw_calls[0] >= 3  # every string chunk went vectorized

    if fmt == "netcdf4":
        r = Hdf5Reader(p)
        ids = r.read(r.root.datasets["id"])
        s2 = r.read(r.root.datasets["s2"])
        by = {int(i): x for i, x in zip(ids, s2)}
        assert by[5] == b"" and by[6] == b"bb-6"
        s3 = r.read(r.root.datasets["s3"])
        assert s3.dtype == np.dtype("S5")
    else:
        dims, variables, _va, _ga = read_netcdf3(p)
        by = dict(zip(np.asarray(variables["id"][1]).tolist(),
                      np.asarray(variables["s2"][1]).tolist()))
        assert by[5] == "" and by[6] == "bb-6"
        assert dims["_strlen_s3"] == 5


def test_spool_has_nulls_exact_when_stats_missing(tmp_path):
    """r14 (r13-verdict finding #2): with parquet null statistics
    STRIPPED, the nc4 encoding decision must scan the column exactly —
    an int64 column without nulls keeps int64 (no silent NaN-double
    rounding beyond 2^53); a column with real nulls is detected."""
    import pyarrow as pa
    import pyarrow.parquet as _pq

    from beacon_spark.outputs import _spool_has_nulls

    t = pa.table({
        "clean": pa.array([5_000_000_000_000_000_001, 2, 3],
                          type=pa.int64()),
        "holey": pa.array([1, None, 3], type=pa.int64()),
    })
    p = str(tmp_path / "nostats.parquet")
    _pq.write_table(t, p, write_statistics=False)
    pf = _pq.ParquetFile(p)
    st = pf.metadata.row_group(0).column(0).statistics
    assert st is None or st.null_count is None  # stats really absent
    assert _spool_has_nulls([pf], "clean") is False
    assert _spool_has_nulls([pf], "holey") is True

    # with stats present, no exact scan runs (pure metadata decision)
    p2 = str(tmp_path / "stats.parquet")
    _pq.write_table(t, p2, write_statistics=True)
    pf2 = _pq.ParquetFile(p2)

    class NoScan:
        metadata = pf2.metadata

        def iter_batches(self, *a, **kw):
            raise AssertionError("exact scan despite present stats")

    assert _spool_has_nulls([NoScan()], "clean") is False
    assert _spool_has_nulls([NoScan()], "holey") is True


def test_regrid_streamed_matches_materialized_random(spark, tmp_path):
    """Generative parity net for the r14 streamed re-gridded exports
    (both flavors — NetCDF-4 via GridNc4StreamWriter and NetCDF-3 via
    GridStreamWriter, sharing the merge-fill scatter):
    random dim-column types (int/double/string), random value columns
    (double/long/string/bool/timestamp with nulls), sparse grids — the
    streamed path must produce the same LOGICAL grid (dims, coord
    values+dtypes, grid values incl. NaN/'' fills) as the materialized
    writer, fresh seeds each run."""
    import datetime

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import types as T

    from beacon_spark.outputs import (_write_netcdf_nd_streamed,
                                      _write_netcdf_table)
    from beacon_spark.sources.hdf5lite import read_hdf5_grid

    DIM_POOL = {
        "di": (T.LongType(), st.integers(-50, 50)),
        "dd": (T.DoubleType(), st.floats(allow_nan=False,
                                         allow_infinity=False,
                                         width=32).map(float)),
        "ds": (T.StringType(), st.text(
            alphabet=st.characters(codec="utf-8",
                                   exclude_categories=["Cs", "Cc"],
                                   exclude_characters="\x00"),
            min_size=1, max_size=6)),
    }
    VAL_POOL = {
        "vd": (T.DoubleType(), st.one_of(st.none(), st.floats(
            allow_nan=False, allow_infinity=False, width=64))),
        "vi": (T.LongType(), st.one_of(st.none(),
                                       st.integers(-(2**40), 2**40))),
        "vs": (T.StringType(), st.one_of(st.none(), st.text(
            alphabet=st.characters(codec="utf-8",
                                   exclude_categories=["Cs", "Cc"]),
            max_size=8))),
        "vb": (T.BooleanType(), st.one_of(st.none(), st.booleans())),
        "vt": (T.TimestampType(), st.one_of(st.none(), st.datetimes(
            min_value=datetime.datetime(1950, 1, 1),
            max_value=datetime.datetime(2050, 1, 1)))),
    }
    counter = [0]

    @settings(max_examples=5, deadline=None)
    @given(dim_kinds=st.lists(st.sampled_from(sorted(DIM_POOL)),
                              min_size=1, max_size=2, unique=True),
           val_kinds=st.lists(st.sampled_from(sorted(VAL_POOL)),
                              min_size=1, max_size=3, unique=True),
           flavor=st.sampled_from(["netcdf4", "netcdf3"]),
           data=st.data())
    def check(dim_kinds, val_kinds, flavor, data):
        from beacon_spark.sources.netcdf3 import read_netcdf3

        counter[0] += 1
        base = tmp_path / f"g{counter[0]}"
        base.mkdir()
        # distinct dim tuples (duplicate cells would make scatter order
        # observable — out of contract for regrid)
        n = data.draw(st.integers(1, 12))
        cells = data.draw(st.lists(
            st.tuples(*(DIM_POOL[k][1] for k in dim_kinds)),
            min_size=n, max_size=n, unique=True))
        rows = [c + tuple(data.draw(VAL_POOL[k][1]) for k in val_kinds)
                for c in cells]
        fields = ([T.StructField(k, DIM_POOL[k][0]) for k in dim_kinds]
                  + [T.StructField(k, VAL_POOL[k][0]) for k in val_kinds])
        df = spark.createDataFrame(rows, T.StructType(fields))

        p_stream = str(base / "stream.h5")
        p_mat = str(base / "mat.h5")
        _write_netcdf_nd_streamed(df, p_stream, list(dim_kinds),
                                  flavor=flavor)
        _write_netcdf_table(df.toArrow(), p_mat, list(dim_kinds),
                            flavor=flavor)

        read = read_hdf5_grid if flavor == "netcdf4" else read_netcdf3
        dims_s, vars_s, attrs_s, _ = read(p_stream)
        dims_m, vars_m, attrs_m, _ = read(p_mat)
        assert dims_s == dims_m, (dim_kinds, val_kinds)
        assert set(vars_s) == set(vars_m)
        for name in vars_m:
            dm, am = vars_m[name]
            ds_, as_ = vars_s[name]
            assert dm == ds_, name
            am = np.asarray(am[:])
            as_ = np.asarray(as_[:])
            assert am.dtype == as_.dtype, (name, am.dtype, as_.dtype)
            if am.dtype.kind == "f":
                np.testing.assert_array_equal(am, as_)
            else:
                assert (am == as_).all(), name
        assert attrs_s == attrs_m

    check()


def test_aborted_stream_exports_leave_no_partial_file(tmp_path):
    """A failed streamed export must not leave a truncated file behind —
    a consumer (or a retrying pipeline) could mistake it for a complete
    export. All stream writers remove their backing file on abort."""
    import os

    import pytest

    from beacon_spark.sources.hdf5write import (GridNc4StreamWriter,
                                                Nc4StreamWriter)
    from beacon_spark.sources.netcdf3 import GridStreamWriter

    p = str(tmp_path / "grid.h5")
    with pytest.raises(RuntimeError, match="boom"):
        with GridNc4StreamWriter(p, {"x": 4}, {"x": np.arange(4)},
                                 {"v": np.dtype(np.float64)}):
            raise RuntimeError("boom")
    assert not os.path.exists(p)

    p = str(tmp_path / "flat.h5")
    w = Nc4StreamWriter(p, 10, {"v": np.dtype(np.float64)})
    w.write_values("v", np.arange(5.0))
    w.abort()  # what _write_netcdf4_flat_streamed runs on any failure
    assert not os.path.exists(p)

    p = str(tmp_path / "grid.nc")
    with pytest.raises(RuntimeError, match="boom"):
        with GridStreamWriter(p, {"x": 4}, [("v", ("x",), 6, None)]):
            raise RuntimeError("boom")
    assert not os.path.exists(p)


def test_csv_quote_char_roundtrips_rfc4180(spark, tmp_path):
    """The r14 fresh-seed catch, pinned: a lone quote-char value must
    write as an RFC 4180 quoted-and-doubled field (reference arrow-rs
    QuoteStyle::Necessary) and read back exactly — through DuckDB
    (neutral RFC reader) and through Spark with the quote-escape
    dialect — on BOTH the single-file Arrow path and the distributed
    Spark path."""
    import duckdb

    from beacon_spark.outputs import write_csv

    df = spark.createDataFrame(
        [('"',), ('a"b',), ("plain",), ("x,y",), ('""',)], "s string")
    want = sorted(['"', 'a"b', "plain", "x,y", '""'])

    p1 = str(tmp_path / "single.csv")
    write_csv(df, p1, single=True)
    assert sorted(r[0] for r in duckdb.connect().execute(
        f"SELECT s FROM read_csv_auto('{p1}')").fetchall()) == want

    p2 = str(tmp_path / "dist")
    write_csv(df, p2, single=False)
    back = spark.read.schema("s string").option("header", True) \
        .option("escape", '"').csv(p2)
    assert sorted(r.s for r in back.collect()) == want
    assert sorted(r[0] for r in duckdb.connect().execute(
        f"SELECT s FROM read_csv_auto('{p2}/*.csv')").fetchall()) == want
