"""Atlas array-store reader: registry model, lazy .af decode, dataset
stats pruning (the format's headline — beacon-arrow-atlas/src/datafusion/
pruning.rs), SQL/DSL wiring."""

import numpy as np
import pytest

from beacon_spark.sources import atlaslite
from beacon_spark.sources.atlaslite import (
    AF_READS,
    DATASET_SEP,
    open_atlas,
    prune_datasets,
    write_atlas_store,
)


@pytest.fixture()
def store(tmp_path):
    """Two datasets with disjoint time ranges + per-array/dataset attrs."""
    marker = write_atlas_store(
        str(tmp_path / "obs.atlas"),
        {
            "early": {
                "variables": {
                    "time": (("t",), np.arange(0.0, 10.0)),
                    "temp": (("t",), np.arange(10.0, 20.0)),
                },
                "attrs": {"source": "sensor-a"},
                "array_attrs": {"temp": {"units": "C"}},
            },
            "late": {
                "variables": {
                    "time": (("t",), np.arange(100.0, 110.0)),
                    "temp": (("t",), np.arange(20.0, 30.0)),
                },
                "attrs": {"source": "sensor-b"},
                "array_attrs": {"temp": {"units": "C"}},
            },
        },
    )
    return marker


def test_roundtrip_one_dataset(store):
    ds = open_atlas(f"{store}{DATASET_SEP}early")
    assert ds.dims == {"t": 10}
    np.testing.assert_array_equal(np.asarray(ds.variables["temp"][1]), np.arange(10.0, 20.0))
    assert ds.var_attrs["temp"]["units"] == "C"
    assert ds.global_attrs["source"] == "sensor-a"
    t = ds.flatten()
    assert t.num_rows == 10
    assert t.column(".source").to_pylist()[0] == "sensor-a"
    assert t.column("temp.units").to_pylist()[0] == "C"


def test_open_touches_no_array_data(store):
    before = atlaslite.AF_READS
    ds = open_atlas(f"{store}{DATASET_SEP}late")
    assert atlaslite.AF_READS == before
    # slicing one variable decodes exactly that .af file
    _ = ds.variables["time"][1][slice(0, 3)]
    assert atlaslite.AF_READS == before + 1


def test_prune_datasets_by_stats(store):
    assert prune_datasets(store, None) == ["early", "late"]
    assert prune_datasets(store, {"time": (50.0, None)}) == ["late"]
    assert prune_datasets(store, {"time": (None, 20.0)}) == ["early"]
    assert prune_datasets(store, {"time": (20.0, 90.0)}) == []
    # unknown column: fail-open
    assert prune_datasets(store, {"nope": (0.0, 1.0)}) == ["early", "late"]


def test_read_atlas_sql_e2e(spark, store, tmp_path):
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    rows = eng.sql(
        "SELECT time, temp FROM read_atlas('obs.atlas/atlas.json') ORDER BY time"
    ).collect()
    assert len(rows) == 20  # both datasets union'ed
    assert rows[0].time == 0.0 and rows[-1].time == 109.0
    schema = {r.column_name for r in eng.sql(
        "SELECT * FROM read_atlas_schema('obs.atlas/atlas.json')").collect()}
    assert {"time", "temp"} <= schema


def test_dsl_pushdown_prunes_whole_dataset(spark, store, tmp_path):
    """A time range hitting only 'late' must never decode 'early' arrays:
    dataset pruning happens before any .af read."""
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    before = atlaslite.AF_READS
    out = eng.query(
        {
            "select": ["time", "temp"],
            "filter": {"and": [{"column": "time", "gt_eq": 99.0}]},
            "from": {"atlas": {"paths": ["obs.atlas/atlas.json"]}},
            "sort_by": [{"asc": "time"}],
        }
    )
    rows = out.collect()
    assert len(rows) == 10
    assert {r.temp for r in rows} == set(np.arange(20.0, 30.0))
    # driver-side planning read no array payloads at all (executors do);
    # prune check: the 'early' dataset is not even planned
    pruned = prune_datasets(store, {"time": (99.0, None)})
    assert pruned == ["late"]
    # all-pruned: empty result with full schema
    none = eng.query(
        {
            "select": ["time", "temp"],
            "filter": {"and": [{"column": "time", "gt_eq": 50.0},
                               {"column": "time", "lt_eq": 60.0}]},
            "from": {"atlas": {"paths": ["obs.atlas/atlas.json"]}},
        }
    )
    assert none.count() == 0
    assert set(none.columns) >= {"time", "temp"}


def test_external_table_stored_as_atlas(spark, store, tmp_path):
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    eng.sql("CREATE EXTERNAL TABLE obs_atlas STORED AS ATLAS LOCATION 'obs.atlas/atlas.json'")
    assert eng.sql("SELECT count(*) AS n FROM obs_atlas").collect()[0].n == 20


def test_string_arrays_roundtrip(tmp_path):
    marker = write_atlas_store(
        str(tmp_path / "s.atlas"),
        {"d": {"variables": {
            "name": (("i",), np.array(["alpha", "beta", "gamma"])),
            "v": (("i",), np.array([1.0, 2.0, 3.0])),
        }}},
    )
    ds = open_atlas(f"{marker}{DATASET_SEP}d")
    assert list(np.asarray(ds.variables["name"][1])) == ["alpha", "beta", "gamma"]


def test_prune_fail_open_on_unorderable_stats(tmp_path):
    """r10 sweep: a hand-written registry with string stats crashed the
    prune (str < float TypeError) — pruning is an optimization and must
    fail open instead of failing the scan."""
    import json

    marker = str(tmp_path / "bad.atlas")
    import os

    os.makedirs(marker)
    p = os.path.join(marker, "atlas.json")
    with open(p, "w") as f:
        json.dump({"atlas": 1, "datasets": {"d": {
            "arrays": {}, "attrs": {}, "array_attrs": {},
            "stats": {"time": {"min": "a", "max": "z",
                               "null_count": 0, "row_count": 1}},
        }}}, f)
    from beacon_spark.sources.atlaslite import prune_datasets

    assert prune_datasets(p, {"time": (5.0, None)}) == ["d"]


def test_open_atlas_conflicting_dim_sizes_fails_loud(tmp_path):
    """r10 sweep: two arrays declaring the same dim with different sizes
    used to open fine and crash mid-flatten with a broadcast error."""
    import numpy as np
    import pytest as _pytest

    from beacon_spark.sources.atlaslite import open_atlas, write_atlas_store

    marker = write_atlas_store(
        str(tmp_path / "conf.atlas"),
        {"d": {"variables": {
            "a": (("t",), np.arange(4.0)),
            "b": (("t",), np.arange(6.0)),
        }, "attrs": {}, "array_attrs": {}}},
    )
    with _pytest.raises(ValueError, match="conflicting sizes"):
        open_atlas(f"{marker}::d")


# -------------------------------------------- r11 decoder-review findings


def test_registry_paths_cannot_escape_store(tmp_path):
    """r11 review A5: the registry is data, not trusted code — an array
    path of '../../…' (or absolute) must be refused, not read arbitrary
    files into the scan as array bytes."""
    import json as _json

    import pytest as _pytest

    secret = tmp_path / "secret.bin"
    secret.write_bytes(b"\x00" * 80)
    marker = write_atlas_store(
        str(tmp_path / "esc.atlas"),
        {"d": {"variables": {"v": (("t",), np.arange(10.0))},
               "attrs": {}, "array_attrs": {}}},
    )
    reg = _json.loads(open(marker).read())
    for bad in ("../secret.bin", "/etc/hostname", "a/../../secret.bin"):
        reg["datasets"]["d"]["arrays"]["v"]["path"] = bad
        open(marker, "w").write(_json.dumps(reg))
        with _pytest.raises(ValueError, match="escapes the store root"):
            open_atlas(f"{marker}::d")


def test_registry_fill_value_becomes_null(spark, tmp_path):
    """r11 review A9: a non-null registry fill_value was silently
    ignored — sentinel values leaked through as data. It now rides the
    shared CF _FillValue handling: sentinels read as NULL."""
    import json as _json

    marker = write_atlas_store(
        str(tmp_path / "fv.atlas"),
        {"d": {"variables": {
            "time": (("t",), np.arange(6.0)),
            "v": (("t",), np.array([1.0, -999.0, 3.0, -999.0, 5.0, 6.0])),
        }, "attrs": {}, "array_attrs": {}}},
    )
    reg = _json.loads(open(marker).read())
    reg["datasets"]["d"]["arrays"]["v"]["fill_value"] = -999.0
    open(marker, "w").write(_json.dumps(reg))
    from beacon_spark.engine import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    rows = eng.sql(
        f"SELECT time, v FROM read_atlas('{marker}') ORDER BY time"
    ).collect()
    got = [r.v for r in rows]
    assert got == [1.0, None, 3.0, None, 5.0, 6.0]
