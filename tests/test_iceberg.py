"""Iceberg source: avrolite container codec + metadata/manifest replay
(sources/iceberg.py, sources/avrolite.py)."""

import os

import pytest
from pyspark.sql import functions as F

from beacon_spark.sources.avrolite import read_avro, write_avro
from beacon_spark.sources.iceberg import (
    read_iceberg,
    write_iceberg,
)


def test_avro_container_roundtrip(tmp_path):
    schema = {
        "type": "record",
        "name": "e",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": ["null", "long"]},
            {"name": "xs", "type": {"type": "array", "items": "double"}},
            {"name": "m", "type": {"type": "map", "values": ["null", "string"]}},
            {"name": "ok", "type": "boolean"},
        ],
    }
    recs = [
        {"s": "a", "n": None, "xs": [1.5, -2.25], "m": {"k": "v", "z": None}, "ok": True},
        {"s": "ü", "n": -(2**40), "xs": [], "m": {}, "ok": False},
    ]
    for codec in ("null", "deflate", "snappy"):
        p = str(tmp_path / f"t_{codec}.avro")
        write_avro(p, schema, recs, codec)
        meta, out = read_avro(p)
        assert out == recs
        assert meta["codec"] == codec


@pytest.fixture()
def ice_dir(tmp_path):
    return str(tmp_path / "tbl")


def test_write_read_roundtrip(spark, ice_dir):
    df = spark.range(60).select(
        "id", (F.col("id") % 5).alias("g"), (F.col("id") * 0.5).alias("v")
    )
    write_iceberg(df, ice_dir)
    out = read_iceberg(spark, ice_dir)
    assert out.count() == 60
    assert {r["id"] for r in out.collect()} == set(range(60))


def test_append_overwrite_time_travel(spark, ice_dir):
    s1 = write_iceberg(spark.range(10), ice_dir, mode="overwrite")
    s2 = write_iceberg(spark.range(10, 30), ice_dir, mode="append")
    assert read_iceberg(spark, ice_dir).count() == 30
    assert read_iceberg(spark, ice_dir, snapshot_id=s1).count() == 10
    s3 = write_iceberg(spark.range(3), ice_dir, mode="overwrite")
    assert read_iceberg(spark, ice_dir).count() == 3
    assert read_iceberg(spark, ice_dir, snapshot_id=s2).count() == 30
    with pytest.raises(ValueError, match="not found"):
        read_iceberg(spark, ice_dir, snapshot_id=999)
    assert s3 != s1


def test_schema_fn(spark, ice_dir):
    write_iceberg(
        spark.range(2).select(
            "id", F.lit("x").alias("s"), F.lit(1.5).alias("v"),
            F.lit(True).alias("b"),
        ),
        ice_dir,
    )
    from beacon_spark.engine import Engine

    got = {
        r["column_name"]: r["data_type"]
        for r in Engine(spark).sql(
            f"SELECT * FROM read_iceberg_schema('{ice_dir}')").collect()
    }
    assert got == {"id": "bigint", "s": "string", "v": "double", "b": "boolean"}


def test_unknown_content_rejected(spark, ice_dir):
    """data_file.content outside {0,1,2} fails loudly, never silently."""
    from beacon_spark.sources.avrolite import write_avro as _wa
    from beacon_spark.sources.iceberg import (
        _DELETE_MANIFEST_SCHEMA,
        _MANIFEST_LIST_SCHEMA,
        _load_metadata,
        _localize,
    )

    write_iceberg(spark.range(5), ice_dir)
    md = _load_metadata(ice_dir)
    cur = next(
        s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
    )
    mlist = _localize(cur["manifest-list"], ice_dir)
    _meta, entries = read_avro(mlist)
    import os as _os

    bad = _os.path.join(ice_dir, "metadata", "bad-manifest.avro")
    _wa(bad, _DELETE_MANIFEST_SCHEMA, [{
        "status": 1,
        "data_file": {
            "content": 3, "file_path": "/nope.parquet",
            "file_format": "PARQUET", "record_count": 0,
            "file_size_in_bytes": 0, "equality_ids": [],
        },
    }])
    entries.append({
        "manifest_path": bad, "manifest_length": _os.path.getsize(bad),
        "content": 1, "added_snapshot_id": 99,
        "sequence_number": None, "min_sequence_number": None,
    })
    _wa(mlist, _MANIFEST_LIST_SCHEMA, entries)
    with pytest.raises(ValueError, match="unknown iceberg file content"):
        read_iceberg(spark, ice_dir)


def test_relocated_table_reads(spark, ice_dir, tmp_path):
    """Manifest paths are absolute from write time; a moved table must
    still read via path re-rooting."""
    import shutil

    write_iceberg(spark.range(12), ice_dir)
    moved = str(tmp_path / "moved" / os.path.basename(ice_dir))
    os.makedirs(os.path.dirname(moved))
    shutil.move(ice_dir, moved)
    assert read_iceberg(spark, moved).count() == 12


def test_sql_and_dsl_paths(spark, ice_dir, tmp_path):
    from beacon_spark import Engine

    eng = Engine(spark, datasets_root=str(tmp_path))
    write_iceberg(
        spark.range(30).select("id", (F.col("id") % 3).alias("g")), ice_dir
    )
    assert (
        eng.sql(
            f"SELECT g, count(*) AS n FROM read_iceberg('{ice_dir}') GROUP BY g"
        ).count()
        == 3
    )
    out = eng.query(
        {
            "select": ["id"],
            "from": {"iceberg": {"location": ice_dir}},
            "filter": {"column": "id", "lt_eq": 4},
        }
    )
    assert out.count() == 5


# ------------------------------------------------------- v2 delete files


def test_positional_and_equality_deletes(spark, tmp_path):
    import os as _os

    from beacon_spark.sources.iceberg import write_iceberg_deletes

    loc = str(tmp_path / "icedel")
    df = spark.range(0, 50).selectExpr(
        "id", "CAST(id % 5 AS INT) AS grp", "concat('u', id) AS name"
    )
    write_iceberg(df.coalesce(1), loc)
    data_files = [
        _os.path.join(r, n)
        for r, _, ns in _os.walk(_os.path.join(loc, "data"))
        for n in ns
        if n.endswith(".parquet")
    ]
    write_iceberg_deletes(spark, loc, pos=[(data_files[0], 0), (data_files[0], 3)])
    ids = sorted(r.id for r in read_iceberg(spark, loc).collect())
    assert len(ids) == 48 and 0 not in ids and 3 not in ids

    eq = spark.createDataFrame([(2,)], "grp int")
    write_iceberg_deletes(spark, loc, eq_df=eq, equality_fields=["grp"])
    ids2 = sorted(r.id for r in read_iceberg(spark, loc).collect())
    assert len(ids2) == 38 and all(i % 5 != 2 for i in ids2)

    # earlier snapshots are unaffected (sequence simplification: deletes
    # attach to their own snapshot onward)
    assert read_iceberg(spark, loc, snapshot_id=1).count() == 50


def test_deletes_respect_sequence_order(spark, tmp_path):
    """Append-after-delete: rows committed after a delete snapshot must
    survive that delete (spec: equality deletes apply only to data files
    with data_seq strictly below the delete's; positional deletes key on
    file path so later files are untouched by construction)."""
    import os as _os

    from beacon_spark.sources.iceberg import write_iceberg_deletes

    loc = str(tmp_path / "iceseq")
    base = spark.range(0, 10).selectExpr("id", "CAST(id % 5 AS INT) AS grp")
    write_iceberg(base.coalesce(1), loc)  # snap 1: grp 2 → ids 2, 7

    eq = spark.createDataFrame([(2,)], "grp int")
    write_iceberg_deletes(spark, loc, eq_df=eq, equality_fields=["grp"])  # snap 2

    # snap 3: re-append rows with the *same* equality key after the delete
    extra = spark.createDataFrame([(100, 2), (101, 2)], "id long, grp int")
    write_iceberg(extra.coalesce(1), loc, mode="append")

    ids = sorted(r.id for r in read_iceberg(spark, loc).collect())
    # originals with grp=2 are gone; the later append with grp=2 survives
    assert 2 not in ids and 7 not in ids
    assert 100 in ids and 101 in ids
    assert len(ids) == 10  # 10 - 2 deleted + 2 appended

    # positional delete after the append only hits the file it names
    data_files = sorted(
        _os.path.join(r, n)
        for r, _, ns in _os.walk(_os.path.join(loc, "data"))
        for n in ns
        if n.endswith(".parquet") and "snap" in _os.path.basename(r)
    )
    snap3_file = [p for p in data_files if "/snap3/" in p][0]
    write_iceberg_deletes(spark, loc, pos=[(snap3_file, 0)])
    ids2 = sorted(r.id for r in read_iceberg(spark, loc).collect())
    assert len(ids2) == 9 and 100 not in ids2 and 101 in ids2


def test_deletes_apply_with_relative_table_location(spark, tmp_path,
                                                    monkeypatch):
    """A RELATIVE table location must still produce delete-join keys that
    match _metadata.file_path's absolute URIs — a mismatch silently
    returned deleted rows (the anti-join removed nothing)."""
    import os as _os
    import shutil as _shutil

    from beacon_spark.sources.iceberg import write_iceberg_deletes

    loc = str(tmp_path / "ice_orig")
    write_iceberg(spark.range(0, 10).coalesce(1), loc)
    data_files = [
        _os.path.join(r, n)
        for r, _, ns in _os.walk(_os.path.join(loc, "data"))
        for n in ns if n.endswith(".parquet")
    ]
    write_iceberg_deletes(spark, loc, pos=[(data_files[0], 0)])
    # relocate (same basename — _localize re-roots on it), then read
    # through a RELATIVE location: re-rooted paths localize to relative
    # file names, which must still match _metadata.file_path's abs URIs
    _os.makedirs(str(tmp_path / "sub"))
    _shutil.move(loc, str(tmp_path / "sub" / "ice_orig"))
    monkeypatch.chdir(str(tmp_path / "sub"))
    ids = sorted(r.id for r in read_iceberg(spark, "ice_orig").collect())
    assert len(ids) == 9 and 0 not in ids
