"""Pure-Python nd file formats: NetCDF3 classic round-trip, zarr v2/v3
directory stores, end-to-end read_netcdf/read_zarr through Spark
(reference: beacon-arrow-netcdf, beacon-arrow-zarr, arrays-to-tables.md)."""

import gzip
import json
import os

import numpy as np
import pytest

from beacon_spark.sources.netcdf3 import read_netcdf3, write_netcdf3
from beacon_spark.sources.nd import open_netcdf, open_zarr


@pytest.fixture()
def nc_file(tmp_path):
    p = str(tmp_path / "grid.nc")
    time = np.array([0.0, 1.0, 2.0])
    lat = np.array([10.0, 20.0], dtype=np.float32)
    temp = np.arange(6, dtype=np.float32).reshape(3, 2) / 2.0
    write_netcdf3(
        p,
        dims={"time": 3, "lat": 2},
        variables={
            "time": (("time",), time),
            "lat": (("lat",), lat),
            "temperature": (("time", "lat"), temp),
            "qc": (("time",), np.array([1, 2, 3], dtype=np.int16)),
        },
        var_attrs={
            "time": {"units": "days since 2020-01-01"},
            "temperature": {"units": "Celsius", "scale_factor": 2.0},
        },
        global_attrs={"title": "test grid", "version": 3},
    )
    return p


def test_netcdf3_roundtrip(nc_file):
    dims, variables, var_attrs, gattrs = read_netcdf3(nc_file)
    assert dims == {"time": 3, "lat": 2}
    assert variables["temperature"][0] == ("time", "lat")
    np.testing.assert_array_equal(
        variables["temperature"][1], np.arange(6, dtype=np.float32).reshape(3, 2) / 2.0
    )
    np.testing.assert_array_equal(variables["qc"][1], [1, 2, 3])
    assert var_attrs["time"]["units"] == "days since 2020-01-01"
    assert gattrs["title"] == "test grid"
    assert gattrs["version"] == 3


def test_netcdf3_string_var(tmp_path):
    p = str(tmp_path / "s.nc")
    write_netcdf3(
        p,
        dims={"obs": 3},
        variables={"platform": (("obs",), np.array(["argo", "ship", "x"]))},
    )
    _, variables, _, _ = read_netcdf3(p)
    assert variables["platform"][0] == ("obs",)
    assert list(variables["platform"][1]) == ["argo", "ship", "x"]


def test_open_netcdf_flatten_cf(nc_file):
    ds = open_netcdf(nc_file)
    assert ds.grid() == ("time", "lat")
    t = ds.flatten()
    assert t.num_rows == 6
    cols = t.column_names
    # CF: time decoded to timestamp; scale_factor applied; attrs as columns
    assert "temperature" in cols and "time" in cols
    temps = t.column("temperature").to_pylist()
    assert temps[:4] == [0.0, 1.0, 2.0, 3.0]  # raw/2 * scale_factor 2
    assert "temperature.units" in cols
    assert t.column(".title").to_pylist()[0] == "test grid"
    assert str(t.schema.field("time").type).startswith("timestamp")


def _write_zarr_v3(root, arrays, gattrs=None):
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump(
            {"zarr_format": 3, "node_type": "group", "attributes": gattrs or {}}, f
        )
    for name, (dims, arr, attrs, chunk_shape, codec) in arrays.items():
        adir = os.path.join(root, name)
        os.makedirs(adir, exist_ok=True)
        codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
        if codec == "gzip":
            codecs.append({"name": "gzip", "configuration": {"level": 5}})
        meta = {
            "zarr_format": 3,
            "node_type": "array",
            "shape": list(arr.shape),
            "data_type": arr.dtype.name,
            "chunk_grid": {
                "name": "regular",
                "configuration": {"chunk_shape": list(chunk_shape)},
            },
            "chunk_key_encoding": {
                "name": "default",
                "configuration": {"separator": "/"},
            },
            "fill_value": 0,
            "codecs": codecs,
            "attributes": attrs,
            "dimension_names": list(dims),
        }
        with open(os.path.join(adir, "zarr.json"), "w") as f:
            json.dump(meta, f)
        import itertools

        grid = [max(1, -(-s // c)) for s, c in zip(arr.shape, chunk_shape)]
        for idx in itertools.product(*(range(g) for g in grid)):
            full = np.zeros(chunk_shape, arr.dtype)
            slices = tuple(
                slice(i * c, min((i + 1) * c, s))
                for i, c, s in zip(idx, chunk_shape, arr.shape)
            )
            trim = tuple(slice(0, sl.stop - sl.start) for sl in slices)
            full[trim] = arr[slices]
            raw = full.astype(arr.dtype.newbyteorder("<")).tobytes()
            if codec == "gzip":
                raw = gzip.compress(raw)
            cdir = os.path.join(adir, "c", *[str(i) for i in idx[:-1]])
            os.makedirs(cdir, exist_ok=True)
            with open(os.path.join(cdir, str(idx[-1])), "wb") as f:
                f.write(raw)


def test_zarr_v3_store(tmp_path):
    root = str(tmp_path / "store.zarr")
    temp = np.arange(24, dtype=np.float64).reshape(4, 6)
    depth = np.array([0, 10, 20, 30], dtype=np.int32)
    _write_zarr_v3(
        root,
        {
            "temp": (("depth", "x"), temp, {"units": "C"}, (2, 4), "gzip"),
            "depth": (("depth",), depth, {}, (4,), None),
        },
        gattrs={"source": "synthetic"},
    )
    ds = open_zarr(root)
    assert ds.grid() == ("depth", "x")
    np.testing.assert_array_equal(ds.variables["temp"][1], temp)
    np.testing.assert_array_equal(ds.variables["depth"][1], depth)
    t = ds.flatten()
    assert t.num_rows == 24
    assert t.column(".source").to_pylist()[0] == "synthetic"


def test_zarr_v2_store(tmp_path):
    import zlib

    root = str(tmp_path / "v2.zarr")
    os.makedirs(os.path.join(root, "v"), exist_ok=True)
    with open(os.path.join(root, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    arr = np.arange(10, dtype="f4")
    with open(os.path.join(root, "v", ".zarray"), "w") as f:
        json.dump(
            {
                "zarr_format": 2,
                "shape": [10],
                "chunks": [4],
                "dtype": "<f4",
                "compressor": {"id": "zlib", "level": 6},
                "fill_value": 0.0,
                "order": "C",
                "filters": None,
            },
            f,
        )
    with open(os.path.join(root, "v", ".zattrs"), "w") as f:
        json.dump({"_ARRAY_DIMENSIONS": ["obs"], "units": "m"}, f)
    for i in range(3):
        full = np.zeros(4, "f4")
        part = arr[i * 4 : (i + 1) * 4]
        full[: len(part)] = part
        with open(os.path.join(root, "v", str(i)), "wb") as f:
            f.write(zlib.compress(full.tobytes()))
    ds = open_zarr(root)
    np.testing.assert_array_equal(ds.variables["v"][1], arr)
    assert ds.var_attrs["v"]["units"] == "m"


def test_read_netcdf_spark_e2e(spark, tmp_path, nc_file):
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    df = eng.sql(
        "SELECT time, lat, temperature FROM read_netcdf('grid.nc') "
        "WHERE temperature >= 1.0 ORDER BY time, lat"
    )
    rows = df.collect()
    assert len(rows) == 5
    assert rows[0].temperature == 1.0
    # schema twin
    schema = {r.column_name for r in eng.sql(
        "SELECT * FROM read_netcdf_schema('grid.nc')").collect()}
    assert {"time", "lat", "temperature"} <= schema


def test_read_zarr_spark_e2e(spark, tmp_path):
    from beacon_spark.engine import Engine

    root = str(tmp_path / "s.zarr")
    _write_zarr_v3(
        root,
        {
            "temp": (
                ("t", "x"),
                np.arange(12, dtype=np.float64).reshape(3, 4),
                {},
                (2, 2),
                "gzip",
            )
        },
    )
    eng = Engine(spark, datasets_root=str(tmp_path))
    df = eng.sql("SELECT * FROM read_zarr('s.zarr') WHERE temp > 5.0")
    assert df.count() == 6


def test_coord_region_prunes_any_dim(tmp_path):
    """Any-dimension coordinate pushdown (PushdownFilter analog): each
    constrained dim gets its own index hull; a box on inner dims prunes
    too (the r01 leading-dim-only limitation is gone)."""
    from beacon_spark.sources.nd import GridDataset, coord_region

    ds = GridDataset(
        dims={"time": 10, "lat": 4, "lon": 6},
        variables={
            "time": (("time",), np.arange(10) * 10.0),
            "lat": (("lat",), np.array([-30.0, -10.0, 10.0, 30.0])),
            "lon": (("lon",), np.arange(6) * 60.0 - 180.0),
            "v": (("time", "lat", "lon"), np.arange(240, dtype="f8").reshape(10, 4, 6)),
        },
    )
    # leading dim only
    assert coord_region(ds, None, {"time": (30.0, 50.0)}) == [(3, 6), (0, 4), (0, 6)]
    # box on ALL THREE dims → hull on every dim
    assert coord_region(
        ds, None, {"time": (30.0, 50.0), "lat": (-15.0, 15.0), "lon": (-120.0, 0.0)}
    ) == [(3, 6), (1, 3), (1, 4)]
    # inner-dim-only constraint prunes that dim
    assert coord_region(ds, None, {"lat": (-15.0, 15.0)}) == [(0, 10), (1, 3), (0, 6)]
    # empty hull on any dim → None (zero rows)
    assert coord_region(ds, None, {"lon": (999.0, None)}) is None
    # no constraint / unconstrainable column: full region
    assert coord_region(ds, None, None) == [(0, 10), (0, 4), (0, 6)]
    assert coord_region(ds, None, {"v": (0.0, 1.0)}) == [(0, 10), (0, 4), (0, 6)]


def test_flatten_region_matches_full():
    """region + row_range compose: concatenating region-sliced chunks
    equals filtering the full flatten to the region's index box."""
    from beacon_spark.sources.nd import GridDataset

    v = np.arange(240, dtype="f8").reshape(10, 4, 6)
    ds = GridDataset(
        dims={"t": 10, "y": 4, "x": 6},
        variables={
            "t": (("t",), np.arange(10.0)),
            "y": (("y",), np.arange(4.0)),
            "x": (("x",), np.arange(6.0)),
            "v": (("t", "y", "x"), v),
        },
    )
    region = [(3, 6), (1, 3), (1, 4)]
    full = ds.flatten(attribute_columns=False).to_pandas()
    want = full[
        full.t.isin([3, 4, 5]) & full.y.isin([1, 2]) & full.x.isin([1, 2, 3])
    ].reset_index(drop=True)
    n = 3 * 2 * 3
    parts = [
        ds.flatten(attribute_columns=False, region=region, row_range=(lo, lo + 4)).to_pandas()
        for lo in range(0, n, 4)
    ]
    import pandas as pd

    got = pd.concat(parts, ignore_index=True)
    assert got.equals(want)


def test_zarr_lazy_chunk_pruning(tmp_path):
    """Opening a zarr store reads no chunk files; a region-sliced flatten
    decodes only intersecting chunks on EVERY dim."""
    from beacon_spark.sources import zarrlite
    from beacon_spark.sources.nd import open_zarr
    from beacon_spark.sources.zarrlite import write_zarr_store

    root = str(tmp_path / "boxy.zarr")
    v = np.arange(8 * 8 * 8, dtype="f8").reshape(8, 8, 8)
    write_zarr_store(
        root,
        {
            "t": (("t",), np.arange(8.0)),
            "y": (("y",), np.arange(8.0)),
            "x": (("x",), np.arange(8.0)),
            "v": (("t", "y", "x"), v),
        },
        version=2,
        codec="blosc",
        chunk_shapes={"v": (2, 2, 2), "t": (8,), "y": (8,), "x": (8,)},
    )
    before = zarrlite.CHUNK_READS
    ds = open_zarr(root)
    assert zarrlite.CHUNK_READS == before, "open must touch no chunk data"
    # one 2x2x2 corner box -> exactly 1 of 64 v-chunks (+3 coord chunks)
    t = ds.flatten(
        attribute_columns=False, region=[(0, 2), (0, 2), (0, 2)]
    )
    reads = zarrlite.CHUNK_READS - before
    assert t.num_rows == 8
    assert reads <= 1 + 3, f"read {reads} chunks for a 1-chunk box"
    np.testing.assert_array_equal(
        np.asarray(t.column("v")), v[:2, :2, :2].reshape(-1)
    )


def test_read_nd_multidim_pushdown_e2e(spark, tmp_path):
    """A (t, lat) box through read_nd prunes the planned row space on
    both dims: task row totals shrink and results match the residual
    filter semantics."""
    from beacon_spark.sources.nd import read_nd
    from beacon_spark.sources.zarrlite import write_zarr_store

    root = str(tmp_path / "grid.zarr")
    temp = np.arange(120, dtype="f8").reshape(10, 12)
    write_zarr_store(
        root,
        {
            "t": (("t",), np.arange(10.0)),
            "lat": (("lat",), np.arange(12.0) * 10 - 60),
            "temp": (("t", "lat"), temp),
        },
        version=2,
        codec="blosc",
        chunk_shapes={"temp": (2, 3), "t": (10,), "lat": (12,)},
    )
    df = read_nd(
        spark, "zarr", root,
        ranges={"t": (2.0, 4.0), "lat": (-30.0, 10.0)},
    )
    pdf = df.toPandas()
    # region = t in [2,4] (3 rows) x lat in [-30,10] (5 cols) = 15 rows
    assert len(pdf) == 15
    assert sorted(pdf.t.unique()) == [2.0, 3.0, 4.0]
    assert sorted(pdf.lat.unique()) == [-30.0, -20.0, -10.0, 0.0, 10.0]
    got = pdf.sort_values(["t", "lat"]).temp.to_numpy()
    np.testing.assert_array_equal(got, temp[2:5, 3:8].reshape(-1))


def test_dsl_nd_pushdown_e2e(spark, tmp_path, nc_file):
    """DSL filter on the time coordinate prunes rows at planning time AND
    returns exactly the filtered result (residual filter keeps semantics)."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    # nc_file grid: time=3 days since 2020-01-01 -> timestamps; use lat
    # (numeric, leading only if dimensions override) — filter on
    # temperature is inner/non-coord: fail-open but correct
    out = eng.query(
        {
            "select": ["time", "lat", "temperature"],
            "filter": {
                "and": [
                    {"column": "temperature", "gt_eq": 1.0},
                ]
            },
            "from": {"netcdf": {"paths": ["grid.nc"]}},
            "sort_by": [{"asc": "lat"}],
        }
    )
    assert out.count() == 5


def test_zarr_pushdown_e2e(spark, tmp_path):
    """Numeric leading coordinate: the planned task set shrinks and the
    result matches the unpruned read + filter."""
    from beacon_spark.engine import Engine

    root = str(tmp_path / "p.zarr")
    depth = np.array([0.0, 10.0, 20.0, 30.0, 40.0, 50.0])
    temp = np.arange(36, dtype="f8").reshape(6, 6)
    _write_zarr_v3(
        root,
        {
            "depth": (("depth",), depth, {}, (6,), None),
            "temp": (("depth", "x"), temp, {}, (2, 6), None),
        },
    )
    eng = Engine(spark, datasets_root=str(tmp_path))
    pruned = eng.query(
        {
            "select": ["depth", "temp"],
            "filter": {"and": [
                {"column": "depth", "gt_eq": 20.0},
                {"column": "depth", "lt_eq": 30.0},
            ]},
            "from": {"zarr": {"paths": ["p.zarr"]}},
        }
    )
    rows = pruned.collect()
    assert len(rows) == 12
    assert {r.depth for r in rows} == {20.0, 30.0}
    # empty-range case: planner returns an empty frame with full schema
    none = eng.query(
        {
            "select": ["depth", "temp"],
            "filter": {"and": [{"column": "depth", "gt_eq": 999.0}]},
            "from": {"zarr": {"paths": ["p.zarr"]}},
        }
    )
    assert none.count() == 0
    assert set(none.columns) == {"depth", "temp"}


def test_netcdf3_hypothesis_roundtrip():
    """Property: any (dims, typed arrays, attrs) round-trips through the
    classic writer/reader bit-exactly (modulo int64 narrowing)."""
    from hypothesis import given, settings, strategies as st
    import numpy as np
    import tempfile, os

    from beacon_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    dtypes = ["int8", "int16", "int32", "float32", "float64"]

    @settings(max_examples=25, deadline=None)
    @given(
        data=st.data(),
        shape=st.tuples(st.integers(1, 5), st.integers(1, 4)),
        dt=st.sampled_from(dtypes),
    )
    def prop(data, shape, dt):
        rng = np.random.RandomState(data.draw(st.integers(0, 2**31 - 1)))
        arr = (rng.randn(*shape) * 100).astype(dt)
        attrs = {"units": data.draw(st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=12))}
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "t.nc")
            write_netcdf3(
                p,
                dims={"a": shape[0], "b": shape[1]},
                variables={"v": (("a", "b"), arr)},
                var_attrs={"v": attrs},
            )
            dims, variables, var_attrs, _ = read_netcdf3(p)
            assert dims == {"a": shape[0], "b": shape[1]}
            np.testing.assert_array_equal(np.asarray(variables["v"][1]), arr)
            if attrs["units"]:
                assert var_attrs["v"]["units"] == attrs["units"]

    prop()


def _cdf1_single_short_recvar() -> bytes:
    """Hand-built CDF-1 file: ONE record variable 'v' of type short over
    (unlimited, 3) — the classic spec's special case: records are packed
    UNPADDED (6 bytes each) while the header's vsize field carries the
    padded value 8, exactly what netcdf-c writes."""
    import struct

    def name(s):
        b = s.encode()
        return struct.pack(">I", len(b)) + b + b"\x00" * ((4 - len(b) % 4) % 4)

    hdr = b"CDF\x01"
    hdr += struct.pack(">I", 4)                   # numrecs = 4
    hdr += struct.pack(">II", 0x0A, 2)            # dim_list: 2 dims
    hdr += name("rec") + struct.pack(">I", 0)     # unlimited
    hdr += name("x") + struct.pack(">I", 3)
    hdr += struct.pack(">II", 0, 0)               # no global attrs
    hdr += struct.pack(">II", 0x0B, 1)            # var_list: 1 var
    var = name("v")
    var += struct.pack(">I", 2)                   # 2 dims
    var += struct.pack(">II", 0, 1)               # dimids: rec, x
    var += struct.pack(">II", 0, 0)               # no attrs
    var += struct.pack(">I", 3)                   # NC_SHORT
    var += struct.pack(">I", 8)                   # vsize PADDED (6 -> 8)
    begin = len(hdr) + len(var) + 4
    var += struct.pack(">I", begin)               # CDF-1: 32-bit begin
    data = b"".join(
        struct.pack(">3h", 10 * r, 10 * r + 1, 10 * r + 2) for r in range(4)
    )  # 4 records x 6 bytes, UNPADDED back-to-back
    return hdr + var + data


def test_netcdf3_single_short_record_var_unpadded(tmp_path):
    p = str(tmp_path / "rec.nc")
    with open(p, "wb") as f:
        f.write(_cdf1_single_short_recvar())
    dims, variables, _va, _ga = read_netcdf3(p)
    assert dims == {"rec": 4, "x": 3}
    _dn, v = variables["v"]
    got = np.asarray(v[:])
    expect = np.array([[0, 1, 2], [10, 11, 12], [20, 21, 22], [30, 31, 32]])
    assert (got == expect).all(), got
    assert (np.asarray(v[1]) == [10, 11, 12]).all()


def test_netcdf3_negative_step_slice(nc_file):
    _d, variables, _va, _ga = read_netcdf3(nc_file)
    _dn, v = variables["qc"]
    assert np.asarray(v[::-1]).tolist() == [3, 2, 1]
    assert np.asarray(v[2:0:-1]).tolist() == [3, 2]
    assert np.asarray(v[0:3:-1]).tolist() == []  # empty negative slice
    _dn2, t = variables["temperature"]
    assert np.asarray(t[::-1])[0].tolist() == [2.0, 2.5]


def test_netcdf3_vsize_over_4gib_clear_error(tmp_path):
    from beacon_spark.sources.netcdf3 import GridStreamWriter

    with pytest.raises(ValueError, match="4 GiB"):
        GridStreamWriter(
            str(tmp_path / "big.nc"), {"obs": 600_000_000},
            [("v", ("obs",), 6, None)])


def test_gridstreamwriter_exit_validates_completeness(tmp_path):
    from beacon_spark.sources.netcdf3 import GridStreamWriter

    with pytest.raises(ValueError, match="incomplete|never written"):
        with GridStreamWriter(
            str(tmp_path / "short.nc"), {"obs": 4},
            [("v", ("obs",), 6, None)],
        ) as w:
            w.write_values("v", np.array([1.0, 2.0]))  # 2 of 4


def test_zarr_v2_nested_dimension_separator(tmp_path):
    """zarr v2 stores with dimension_separator='/' keep chunks in nested
    dirs — ignoring the key silently read every chunk as fill."""
    import shutil

    from beacon_spark.sources.zarrlite import read_zarr_store, write_zarr_store

    p = write_zarr_store(
        str(tmp_path / "nested"),
        {"m": (("a", "b"), np.arange(6).reshape(2, 3))},
        version=2, chunk_shapes={"m": (1, 2)})
    meta = json.loads(open(os.path.join(p, "m", ".zarray")).read())
    meta["dimension_separator"] = "/"
    json.dump(meta, open(os.path.join(p, "m", ".zarray"), "w"))
    for f in list(os.listdir(os.path.join(p, "m"))):
        if "." in f and not f.startswith("."):
            parts = f.split(".")
            nd = os.path.join(p, "m", *parts[:-1])
            os.makedirs(nd, exist_ok=True)
            shutil.move(os.path.join(p, "m", f), os.path.join(nd, parts[-1]))
    _, variables, _, _ = read_zarr_store(p)
    assert np.asarray(variables["m"][1][:, :]).tolist() == [[0, 1, 2], [3, 4, 5]]


def test_zarr_v2_filters_refused_loudly(tmp_path):
    from beacon_spark.sources.zarrlite import read_zarr_store, write_zarr_store

    p = write_zarr_store(str(tmp_path / "filt"),
                         {"v": (("x",), np.arange(4))}, version=2)
    meta = json.loads(open(os.path.join(p, "v", ".zarray")).read())
    meta["filters"] = [{"id": "delta", "dtype": "<i8"}]
    json.dump(meta, open(os.path.join(p, "v", ".zarray"), "w"))
    with pytest.raises(ValueError, match="filters"):
        read_zarr_store(p)


def test_zarr_lazy_indexing_semantics(tmp_path):
    """Negative indexes resolve numpy-style (not silent fill), OOB
    raises, and stepped slices refuse instead of returning step-1 data."""
    from beacon_spark.sources.zarrlite import read_zarr_store, write_zarr_store

    p = write_zarr_store(str(tmp_path / "idx"),
                         {"v": (("x",), np.arange(10))},
                         chunk_shapes={"v": (4,)})
    _, variables, _, _ = read_zarr_store(p)
    _dn, a = variables["v"]
    assert np.asarray(a[-1]).reshape(-1)[0] == 9
    with pytest.raises(IndexError):
        a[10]
    with pytest.raises(NotImplementedError, match="step"):
        a[::2]


def test_zarr_scalar_roundtrip_both_versions(tmp_path):
    """0-d variables keep their shape across a write/read round-trip
    (the writer used to promote them to shape (1,) over a phantom dim)."""
    from beacon_spark.sources.zarrlite import read_zarr_store, write_zarr_store

    for v in (2, 3):
        p = write_zarr_store(str(tmp_path / f"sc{v}"),
                             {"s": ((), np.float64(4.25)),
                              "v": (("x",), np.arange(3))}, version=v)
        _, variables, _, _ = read_zarr_store(p)
        dn, a = variables["s"]
        assert dn == () and a.shape == ()
        assert float(np.asarray(a[()])) == 4.25


def test_nd_projection_pushdown(spark, tmp_path):
    """r9: the DSL's projection reaches the nd scan (resolve_from's
    projection parameter was accepted and silently ignored before) —
    only the select+filter variables flatten and ship; a filter column
    absent from the select still scans (reach-through); results match
    the unprojected query."""
    from beacon_spark.engine import Engine
    from beacon_spark.sources.nd import read_nd
    from beacon_spark.sources.zarrlite import write_zarr_store

    root = str(tmp_path / "proj.zarr")
    write_zarr_store(
        root,
        {
            "t": (("t",), np.arange(6.0)),
            "a": (("t",), np.arange(6.0) * 2),
            "b": (("t",), np.arange(6.0) * 3),
            "c": (("t",), np.arange(6.0) * 4),
        },
        version=2, codec=None,
    )
    # read_nd-level: the scanned frame holds exactly the named variables
    df = read_nd(spark, "zarr", root, columns=["t", "a"])
    assert set(df.columns) == {"t", "a"}
    # DSL-level: select a, filter on t (not selected) — reach-through
    eng = Engine(spark, datasets_root=str(tmp_path))
    out = eng.query({
        "select": [{"column": "a", "alias": "doubled"}],
        "filter": {"column": "t", "gt_eq": 3.0},
        "from": {"zarr": {"paths": ["proj.zarr"]}},
    })
    vals = sorted(r.doubled for r in out.collect())
    assert vals == [6.0, 8.0, 10.0]
    # attribute and star selects stay fail-open
    out2 = eng.query({
        "select": ["t", "a", "b", "c"],
        "from": {"zarr": {"paths": ["proj.zarr"]}},
    })
    assert out2.count() == 6


def test_read_netcdf_sql_dimensions_argument(spark, tmp_path):
    """r9: read_netcdf(['paths'], ['dims']) — the reference's optional
    second bracketed list selects the grid dimensions; previously the
    SQL rewrite refused the syntax outright."""
    from beacon_spark.engine import Engine
    from beacon_spark.sources.netcdf3 import write_netcdf3

    root = tmp_path / "dimsql"
    root.mkdir()
    write_netcdf3(
        str(root / "g.nc"),
        {"t": 3, "x": 4},
        {
            "t": (("t",), np.arange(3.0)),
            "x": (("x",), np.arange(4.0)),
            "temp": (("t", "x"), np.arange(12.0).reshape(3, 4)),
            "flag": (("t",), np.array([1, 0, 1], dtype=np.int32)),
        },
        {}, {},
    )
    eng = Engine(spark, datasets_root=str(root))
    # full grid: 12 rows over (t, x)
    assert eng.sql(
        "SELECT count(*) AS n FROM read_netcdf('g.nc')").collect()[0].n == 12
    # dimensions ['t']: variables on (t,) only — 3 rows, temp dropped
    df = eng.sql("SELECT * FROM read_netcdf(['g.nc'], ['t'])")
    assert df.count() == 3
    assert "flag" in df.columns and "temp" not in df.columns
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no dimensions list"):
        eng.sql("SELECT * FROM read_parquet(['g.nc'], ['t'])")


# -------------------------------------------- r11 decoder-review findings


def test_netcdf3_uint8_values_survive(tmp_path):
    """r11 review N1: uint8 -> NC_BYTE cast wrapped 200 to -56 (NC_BYTE
    is signed) — silent value corruption. uint8 now keeps byte only
    when every value fits; wider values ride NC_SHORT, value-exact."""
    p = str(tmp_path / "u8.nc")
    vals = np.array([0, 1, 127, 128, 200, 255], dtype=np.uint8)
    small = np.array([0, 5, 127], dtype=np.uint8)
    write_netcdf3(
        p, dims={"n": 6, "m": 3},
        variables={"big": (("n",), vals), "small": (("m",), small)},
    )
    _, variables, _, _ = read_netcdf3(p)
    assert np.asarray(variables["big"][1]).tolist() == [0, 1, 127, 128, 200, 255]
    assert np.asarray(variables["big"][1]).dtype.itemsize == 2  # widened
    assert np.asarray(variables["small"][1]).tolist() == [0, 5, 127]
    assert np.asarray(variables["small"][1]).dtype.itemsize == 1  # kept byte


def test_netcdf3_corrupt_header_tag_is_loud(tmp_path):
    """r11 review N2: a corrupt list tag used to read as 'no dims /
    no vars' and served an EMPTY dataset from a damaged file; it must
    raise instead."""
    p = str(tmp_path / "ok.nc")
    write_netcdf3(p, dims={"n": 2},
                  variables={"v": (("n",), np.array([1.0, 2.0]))})
    raw = bytearray(open(p, "rb").read())
    # dim-list tag lives right after magic(4) + numrecs(4)
    raw[8:12] = (0xDEAD).to_bytes(4, "big")
    bad = str(tmp_path / "bad.nc")
    open(bad, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="corrupt NetCDF3 header"):
        read_netcdf3(bad)
    # ABSENT (ZERO ZERO) is still legal: tag 0 count 0
    raw2 = bytearray(open(p, "rb").read())
    assert raw2[8:12] == (0x0A).to_bytes(4, "big")


def test_netcdf3_streaming_sentinel_without_record_vars(tmp_path):
    """r11 review N3: numrecs=0xFFFFFFFF (STREAMING) with a record dim
    but no record variables must size the record dim 0, not 2^32-1."""
    import struct as _struct

    p = str(tmp_path / "s.nc")
    # handcraft: CDF-1, numrecs=STREAMING, one UNLIMITED dim, no vars
    b = b"CDF\x01" + b"\xff\xff\xff\xff"
    b += _struct.pack(">II", 0x0A, 1)           # dim list, 1 dim
    b += _struct.pack(">I", 4) + b"time"        # name
    b += _struct.pack(">I", 0)                  # size 0 = UNLIMITED
    b += _struct.pack(">II", 0, 0)              # global attrs ABSENT
    b += _struct.pack(">II", 0, 0)              # var list ABSENT
    open(p, "wb").write(b)
    dims, variables, _, _ = read_netcdf3(p)
    assert dims["time"] == 0 and variables == {}


def test_netcdf3_cdf5_clear_error(tmp_path):
    """r11 review N5: CDF-5 magic gets its own actionable message."""
    p = str(tmp_path / "c5.nc")
    open(p, "wb").write(b"CDF\x05" + b"\x00" * 64)
    with pytest.raises(ValueError, match="CDF-5"):
        read_netcdf3(p)


def test_zarr_special_float_fill_values(tmp_path):
    """r11 review Z1: v2/v3 stores may carry fill_value "NaN" /
    "Infinity" / "-Infinity" (xarray's default for float arrays) or a
    "0x…" bit pattern; np.full crashed on all of them, making such
    stores unreadable. Missing chunks must materialize the parsed
    fill."""
    import json as _json

    root = str(tmp_path / "f.zarr")
    write_zarr_store = __import__(
        "beacon_spark.sources.zarrlite", fromlist=["write_zarr_store"]
    ).write_zarr_store
    write_zarr_store(
        root,
        {"v": (("x",), np.arange(8.0))},
        version=2, codec=None, chunk_shapes={"v": (4,)},
    )
    # rewrite metadata with a string fill and drop the second chunk
    zarray = os.path.join(root, "v", ".zarray")
    meta = _json.loads(open(zarray).read())
    meta["fill_value"] = "NaN"
    open(zarray, "w").write(_json.dumps(meta))
    os.unlink(os.path.join(root, "v", "1"))
    _, variables, _, _ = read_zarr_store_helper(root)
    got = np.asarray(variables["v"][1])
    assert got[:4].tolist() == [0.0, 1.0, 2.0, 3.0]
    assert np.isnan(got[4:]).all()


def read_zarr_store_helper(root):
    from beacon_spark.sources.zarrlite import read_zarr_store

    return read_zarr_store(root)


def test_zarr_crc32c_verified(tmp_path):
    """r11 review Z11: the v3 crc32c codec trailer is now VERIFIED —
    stripping it without checking served corrupt chunks silently."""
    import json as _json

    from beacon_spark.sources.zarrlite import _crc32c

    # known-answer: CRC-32C("123456789") = 0xE3069283
    assert _crc32c(b"123456789") == 0xE3069283

    root = str(tmp_path / "c.zarr")
    from beacon_spark.sources.zarrlite import write_zarr_store

    write_zarr_store(root, {"v": (("x",), np.arange(4, dtype=np.int32))},
                     version=3, codec=None)
    # append a crc32c trailer to the chunk + declare the codec
    zj = os.path.join(root, "v", "zarr.json")
    meta = _json.loads(open(zj).read())
    meta["codecs"] = meta["codecs"] + [{"name": "crc32c"}]
    open(zj, "w").write(_json.dumps(meta))
    chunk = os.path.join(root, "v", "c", "0")
    raw = open(chunk, "rb").read()
    open(chunk, "wb").write(raw + _crc32c(raw).to_bytes(4, "little"))
    _, variables, _, _ = read_zarr_store_helper(root)
    assert np.asarray(variables["v"][1]).tolist() == [0, 1, 2, 3]
    # corrupt one byte: the read must fail loudly, not serve garbage
    bad = bytearray(raw + _crc32c(raw).to_bytes(4, "little"))
    bad[0] ^= 0xFF
    open(chunk, "wb").write(bytes(bad))
    with pytest.raises(ValueError, match="crc32c mismatch"):
        np.asarray(read_zarr_store_helper(root)[1]["v"][1])


def test_zarr_io_errors_not_swallowed_as_fill(tmp_path, monkeypatch):
    """r11 review Z3: only FileNotFoundError means missing-chunk=fill;
    a transient IO/permission error must surface, not fabricate fill
    values."""
    from beacon_spark.sources import bytesource as _bsrc
    from beacon_spark.sources.zarrlite import read_zarr_store, write_zarr_store

    root = str(tmp_path / "e.zarr")
    write_zarr_store(root, {"v": (("x",), np.arange(4.0))},
                     version=2, codec=None)
    _, variables, _, _ = read_zarr_store(root)

    real = _bsrc.read_bytes

    def flaky(path):
        if path.endswith("/0"):
            raise PermissionError(13, "transient denial", path)
        return real(path)

    monkeypatch.setattr(_bsrc, "read_bytes", flaky)
    with pytest.raises(PermissionError):
        np.asarray(variables["v"][1])
