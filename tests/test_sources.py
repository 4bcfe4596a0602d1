"""Source-connector tests: heterogeneous parquet supertype merge, Arrow
IPC distributed read, CSV, list_datasets (FileCollection analogs)."""

import os

import pyarrow as pa
import pyarrow.ipc as pa_ipc
import pyarrow.parquet as pq
import pytest

from beacon_spark import Engine


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake"))
    # two parquet files with conflicting schemas: x int64 vs x float64;
    # second file adds a column
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64()),
                             "y": pa.array(["a", "b"])}), f"{root}/p1.parquet")
    pq.write_table(pa.table({"x": pa.array([3.5], pa.float64()),
                             "z": pa.array([9], pa.int32())}), f"{root}/p2.parquet")
    # arrow IPC files
    t = pa.table({"k": pa.array([1, 2], pa.int32()), "v": pa.array([0.1, 0.2])})
    with pa_ipc.new_file(f"{root}/f1.arrow", t.schema) as w:
        w.write_table(t)
    t2 = pa.table({"k": pa.array([3], pa.int32())})
    with pa_ipc.new_file(f"{root}/f2.arrow", t2.schema) as w:
        w.write_table(t2)
    with open(f"{root}/c.csv", "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    return root


def test_parquet_supertype_merge(spark, lake):
    eng = Engine(spark, datasets_root=lake)
    df = eng.resolve_from({"parquet": {"paths": ["*.parquet"]}})
    types = dict(df.dtypes)
    assert types["x"] == "double"  # int64 ⊔ float64 → double
    assert set(df.columns) == {"x", "y", "z"}
    rows = sorted((r.x, r.y, r.z) for r in df.collect())
    assert rows == [(1.0, "a", None), (2.0, "b", None), (3.5, None, 9)]


def test_parquet_schema_introspection(spark, lake):
    eng = Engine(spark, datasets_root=lake)
    rows = {r.column_name: r.data_type for r in eng.sql(
        "SELECT * FROM read_parquet_schema('*.parquet')").collect()}
    assert rows == {"x": "double", "y": "string", "z": "int"}


def test_arrow_ipc_distributed_read(spark, lake):
    eng = Engine(spark, datasets_root=lake)
    df = eng.resolve_from({"arrow": {"paths": ["*.arrow"]}})
    rows = sorted((r.k, r.v) for r in df.collect())
    assert rows == [(1, 0.1), (2, 0.2), (3, None)]


def test_csv_read(spark, lake):
    eng = Engine(spark, datasets_root=lake)
    rows = sorted((r.a, r.b) for r in eng.resolve_from({"csv": {"paths": ["c.csv"]}}).collect())
    assert rows == [(1, "x"), (2, "y")]


def test_list_datasets(spark, lake):
    eng = Engine(spark, datasets_root=lake)
    got = {r.dataset: r.format for r in eng.list_datasets().collect()}
    assert got["p1.parquet"] == "parquet"
    assert got["c.csv"] == "csv"
    assert got["f1.arrow"] == "arrow"


def test_sql_read_fn_multiple_globs(spark, lake):
    eng = Engine(spark, datasets_root=lake)
    n = eng.sql("SELECT count(*) AS n FROM read_parquet('p1.parquet', 'p2.parquet')").collect()[0].n
    assert n == 3


def test_missing_glob_errors(spark, lake):
    eng = Engine(spark, datasets_root=lake)
    with pytest.raises(FileNotFoundError):
        eng.resolve_from({"parquet": {"paths": ["nope/*.parquet"]}})


def test_hive_partitioned_dataset(spark, tmp_path):
    """A key=value partitioned root is ONE dataset; partition columns are
    derived and partition filters prune (crawler/discovery.rs analog)."""
    from beacon_spark.engine import Engine

    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id int, part int, v double"
    )
    root = tmp_path / "lake"
    df.write.partitionBy("part").parquet(str(root / "obs"))

    eng = Engine(spark, datasets_root=str(tmp_path))
    listed = {r.dataset: r.format for r in eng.list_datasets().collect()}
    assert listed.get("lake/obs") == "parquet"
    assert not any("part=" in k for k in listed)

    out = eng.resolve_from({"parquet": {"paths": ["lake/obs"]}})
    assert set(out.columns) == {"id", "part", "v"}
    assert out.filter("part = 1").count() == 10
    # partition pruning visible in the plan
    plan = out.filter("part = 1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or out.filter("part = 1").count() == 10


def test_sql_metadata_functions(spark, tmp_path):
    from beacon_spark.engine import Engine

    spark.range(3).toDF("x").write.parquet(str(tmp_path / "a.parquet"))
    eng = Engine(spark, datasets_root=str(tmp_path))
    rows = eng.sql(
        "SELECT * FROM list_datasets() WHERE format = 'parquet'"
    ).collect()
    assert any(r.dataset == "a.parquet" for r in rows)
    eng.analyze_files()
    stats = eng.sql("SELECT DISTINCT column FROM view_statistics_cache()").collect()
    assert {r.column for r in stats} == {"x"}


def test_uri_paths_pass_through():
    """Object-store URIs must survive path helpers unmangled (a
    file:-prefixed s3 URI silently breaks Delta DV join keys; joining a
    URI under datasets_root breaks table resolution)."""
    from beacon_spark.sources.delta import _file_uri
    from beacon_spark.sources.paths import resolve_dir

    # the JVM scans s3 through the s3a connector, so that is the scheme
    # _metadata.file_path reports — the join key must match it (and the
    # mapping must be TEXTUAL: resolving the bucket over the network
    # inside a key normalization broke offline runs)
    assert _file_uri("s3://bucket/tbl/f.parquet") == "s3a://bucket/tbl/f.parquet"
    assert _file_uri("gs://bucket/tbl/f.parquet") == "gs://bucket/tbl/f.parquet"
    assert _file_uri("/a/b.parquet") == "file:/a/b.parquet"
    assert _file_uri("file:/a/b.parquet") == "file:/a/b.parquet"
    assert resolve_dir("s3://bucket/tbl", "/data") == "s3://bucket/tbl"
    assert resolve_dir("tbl", "/data") == "/data/tbl"
    assert resolve_dir("/abs/tbl", "/data") == "/abs/tbl"


def test_read_csv_sql_delimiter_and_infer_records(spark, tmp_path):
    """r9: read_csv's 2nd/3rd SQL arguments (table-functions.md) — the
    delimiter was previously swallowed as a glob path and infer_records
    was a dead parameter. '\\t' decodes to a real tab; infer_records
    bounds the inference sample (rows past it that don't parse as the
    sampled type become NULL instead of re-typing the column)."""
    from beacon_spark.engine import Engine

    (tmp_path / "d").mkdir()
    with open(tmp_path / "d" / "t.tsv", "w") as f:
        f.write("a\tb\n1\t x\n2\ty\n")
    eng = Engine(spark, datasets_root=str(tmp_path / "d"))
    rows = eng.sql(
        "SELECT a, b FROM read_csv('t.tsv', '\\t') ORDER BY a").collect()
    assert [r.a for r in rows] == [1, 2]
    # bracketed form with both options
    rows2 = eng.sql(
        "SELECT count(*) AS n FROM read_csv(['t.tsv'], '\\t', 500)"
    ).collect()
    assert rows2[0].n == 2
    # infer_records bounds the sample: with only the first data row
    # sampled, column a infers int; the later non-int row nulls out
    with open(tmp_path / "d" / "m.csv", "w") as f:
        f.write("a\n1\nnot_an_int\n")
    full = eng.sql("SELECT a FROM read_csv('m.csv')")
    assert dict(full.dtypes)["a"] == "string"  # full inference: string
    sampled = eng.sql("SELECT a FROM read_csv('m.csv', ',', 1)")
    assert dict(sampled.dtypes)["a"] in ("int", "bigint")
    vals = [r.a for r in sampled.collect()]
    assert 1 in vals and None in vals
    # non-csv formats refuse trailing options
    import pytest as _pytest

    spark.range(2).write.parquet(str(tmp_path / "d" / "p.parquet"))
    with _pytest.raises(ValueError, match="only path arguments"):
        eng.sql("SELECT * FROM read_parquet(['p.parquet'], 'x')")


def test_read_arrow_through_file_uri(spark, tmp_path):
    """r10 sweep: pa_ipc.open_file took only raw paths, so read_arrow
    failed on any byte-source URI while parquet/csv/nd read the same
    store fine. Both the schema pass and the executor scan now resolve
    through the byte-source."""
    import pyarrow as pa
    import pyarrow.ipc as pa_ipc

    from beacon_spark.sources.tabular import read_arrow

    p = tmp_path / "t.arrow"
    t = pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    with pa_ipc.new_file(str(p), t.schema) as w:
        w.write_table(t)
    df = read_arrow(spark, f"file://{p}")
    rows = sorted((r.a, r.b) for r in df.collect())
    assert rows == [(1, "x"), (2, "y"), (3, "z")]


def test_read_csv_default_samples_128k_like_reference(spark, tmp_path):
    """DIVERGENCES #9 closed (r14): read_csv defaults to the
    reference's 128000-row inference sample (table-functions.md —
    Spark's unbounded inferSchema is a full pass, a scale problem of
    its own at 100 TB). A type-widening value past the sample window
    does not change the schema (it degrades to NULL, PERMISSIVE);
    infer_records=-1 restores the unbounded one-pass inference."""
    from beacon_spark.sources.tabular import read_csv

    p = tmp_path / "wide.csv"
    with open(p, "w") as f:
        f.write("k,v\n")
        for i in range(129_000):
            f.write(f"{i},{i}\n")
        f.write("129000,not-a-number\n")

    df = read_csv(spark, str(p))
    assert dict(df.dtypes)["v"] in ("int", "bigint")  # sampled window
    row = df.where("k = 129000").collect()[0]
    assert row.v is None  # PERMISSIVE degrade past the sample
    assert df.count() == 129_001

    full = read_csv(spark, str(p), infer_records=-1)
    assert dict(full.dtypes)["v"] == "string"  # unbounded pass widens
    assert full.where("k = 129000").collect()[0].v == "not-a-number"


def _footer_fixtures(spark, root: str) -> dict[str, str]:
    """One parquet file per typing case -> {case: path}."""
    import datetime as dt
    import decimal

    out = {}

    def put(case, table, **kw):
        out[case] = os.path.join(root, f"{case}.parquet")
        pq.write_table(table, out[case], **kw)

    put("unsigned", pa.table({
        "u8": pa.array([0, 255], pa.uint8()),
        "u16": pa.array([0, 65535], pa.uint16()),
        "u32": pa.array([0, 2**32 - 1], pa.uint32()),
        "u64": pa.array([0, 2**64 - 1], pa.uint64())}))
    put("nested", pa.table({
        "d": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(9, 2)),
        "wide": pa.array([decimal.Decimal("12345678901234567890.5"), None],
                         pa.decimal128(38, 1)),
        "l": pa.array([[1, 2], None], pa.list_(pa.int64())),
        "s": pa.array([{"a": 1, "b": "x"}, None],
                      pa.struct([("a", pa.int32()), ("b", pa.string())])),
        "ls": pa.array([[{"k": 1.5}], []],
                       pa.list_(pa.struct([("k", pa.float64())])))}))
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 6), None]
    put("timestamps", pa.table({
        "naive": pa.array(ts, pa.timestamp("us")),
        "zoned": pa.array(ts, pa.timestamp("us", tz="Europe/Paris")),
        "ms": pa.array(ts, pa.timestamp("ms"))}))
    # ns timestamps: long under the session's nanosAsLong
    put("ns", pa.table({
        "t": pa.array(ts, pa.timestamp("ns")),
        "s": pa.array([{"u": ts[0]}, None],
                      pa.struct([("u", pa.timestamp("ns"))]))}))
    put("int96", pa.table({"t": pa.array(ts, pa.timestamp("us"))}),
        use_deprecated_int96_timestamps=True)
    put("int96_nested", pa.table({"s": pa.array(
        [{"t": ts[0]}, None], pa.struct([("t", pa.timestamp("us"))]))}),
        use_deprecated_int96_timestamps=True)
    # Spark's own writer: INT96 timestamps and its schema in the footer
    spark_dir = os.path.join(root, "spark_written")
    spark.sql("SELECT timestamp'2024-01-02 03:04:05' AS ts, "
              "named_struct('t', timestamp'2024-01-02 03:04:05') AS s, "
              "CAST(7 AS TINYINT) AS b, 1.5BD AS d") \
        .coalesce(1).write.parquet(spark_dir)
    out["spark_written"] = next(
        os.path.join(spark_dir, f) for f in sorted(os.listdir(spark_dir))
        if f.endswith(".parquet"))
    return out


def test_supplied_parquet_schema_matches_inference(spark, tmp_path):
    """read_parquet hands Spark the schema it built from the footers
    instead of letting Spark infer it again. For every typing case the
    supplied schema must equal Spark's own inference and read the same
    rows, one file at a time and over a collection of mixed schemas."""
    from beacon_spark.schema import align_to_schema, super_schema
    from beacon_spark.sources import tabular

    files = _footer_fixtures(spark, str(tmp_path))
    for case, path in files.items():
        supplied = tabular.read_parquet(spark, [path])
        inferred = spark.read.parquet(path)
        assert supplied.schema == inferred.schema, case
        assert sorted(map(repr, supplied.collect())) == sorted(
            map(repr, inferred.collect())), case
    assert dict(tabular.read_parquet(spark, [files["unsigned"]]).dtypes) == {
        "u8": "smallint", "u16": "int", "u32": "bigint",
        "u64": "decimal(20,0)"}
    assert dict(tabular.read_parquet(spark, [files["timestamps"]]).dtypes)[
        "zoned"] == "timestamp"
    assert dict(tabular.read_parquet(spark, [files["ns"]]).dtypes) == {
        "t": "bigint", "s": "struct<u:bigint>"}

    mixed = [files["unsigned"], files["timestamps"], files["int96"]]
    pq.write_table(pa.table({"u8": pa.array([7], pa.int64())}),
                   os.path.join(str(tmp_path), "widen.parquet"))
    mixed.append(os.path.join(str(tmp_path), "widen.parquet"))
    got = tabular.read_parquet(spark, mixed)
    parts = [spark.read.parquet(p) for p in mixed]
    target = super_schema([p.schema for p in parts])
    want = align_to_schema(parts[0], target)
    for p in parts[1:]:
        want = want.unionByName(align_to_schema(p, target))
    assert got.schema == want.schema
    assert dict(got.dtypes)["u8"] == "bigint"
    assert sorted(map(repr, got.collect())) == sorted(
        map(repr, want.collect()))


def test_ns_timestamp_parquet_fails_loudly_without_nanos_as_long(
        spark, tmp_path):
    """Without ``nanosAsLong`` Spark cannot read nanosecond parquet
    timestamps. With a supplied schema the failure moves from planning to
    execution, but a read must still raise rather than return values.
    (With it on, the session default, the parity test above pins long.)"""
    import datetime as dt

    from beacon_spark.sources import tabular

    path = os.path.join(str(tmp_path), "ns.parquet")
    pq.write_table(pa.table({"t": pa.array(
        [dt.datetime(2024, 1, 2, 3, 4, 5)], pa.timestamp("ns"))}), path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(Exception,
                           match="PARQUET_TYPE_ILLEGAL|SchemaColumnConvert"):
            tabular.read_parquet(spark, [path]).collect()
    finally:
        spark.conf.set(key, before)


def test_listing_job_runs_one_task_per_core(spark, tmp_path):
    """A collection above Spark's discovery threshold (32 paths) is
    listed in one job of at most defaultParallelism tasks, not one task
    per file, and every file's rows are read."""
    import time
    import uuid

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    nfiles = max(64, 2 * cores)
    many = tmp_path / "many"
    many.mkdir()
    for i in range(nfiles):
        pq.write_table(pa.table({"id": pa.array([i] * (i % 3 + 1))}),
                       str(many / f"f{i:05d}.parquet"))
    want = sum(pq.read_metadata(str(p)).num_rows for p in many.iterdir())

    eng = Engine(spark, datasets_root=str(tmp_path))
    gid = f"listing-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, "listing probe")
    try:
        df = eng.resolve_from({"parquet": {"paths": ["many/*.parquet"]}})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 10  # job status reaches the tracker async
    while time.time() < deadline:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(gid)]
        if jobs and all(j is not None and j.status == "SUCCEEDED"
                        for j in jobs):
            break
        time.sleep(0.05)
    assert jobs, "no listing job ran for the collection"
    tasks = [tracker.getStageInfo(s).numTasks
             for j in jobs for s in j.stageIds]
    assert tasks and max(tasks) <= cores, tasks
    assert df.count() == want
