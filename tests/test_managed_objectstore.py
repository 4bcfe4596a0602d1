"""Managed-table / catalog / stats / index layer on an OBJECT STORE.

The r4-verdict's #1 item: the reference's managed tables live on
``object_store`` like everything else
(``beacon-core/src/statement_plan/actions.rs:509-795``); ours must too.
These tests register a ``mock://`` scheme (a pyarrow SubTreeFileSystem
over a temp dir, with every facade call counted) and run the managed
workflow — CTAS / INSERT / UPDATE / DELETE / time travel / MV /
indexes+pruning / VACUUM / DROP — entirely against ``mock://`` URIs.
The op counters prove the metadata plane really goes through the
store's filesystem, not a silent POSIX fallback.
"""

import json
from collections import Counter
from urllib.parse import urlparse

import pytest

from beacon_spark.engine import Engine
from beacon_spark.sources import bytesource as bs


class MockStoreFS(bs._ArrowFS):
    """mock://<bucket>/… → SubTreeFileSystem over a local dir, with op
    accounting. ``spark_path`` maps to the backing dir — exactly the
    split a real deployment has (JVM connectors for the data plane,
    pyarrow.fs for the metadata plane, one store underneath)."""

    root_dir: str = ""  # set by the fixture before registration

    def __init__(self, scheme, authority):
        from pyarrow import fs as pafs

        self.scheme, self.authority = scheme, authority
        self.fs = pafs.SubTreeFileSystem(self.root_dir, pafs.LocalFileSystem())
        self._root = ""
        self.ops = Counter()

    def spark_path(self, uri: str) -> str:
        self.ops["spark_path"] += 1
        return self.root_dir + urlparse(uri).path

    # count the facade calls that matter
    def _count(name):
        def wrapper(self, *a, **kw):
            self.ops[name] += 1
            return getattr(bs._ArrowFS, name)(self, *a, **kw)

        wrapper.__name__ = name
        return wrapper

    for _m in ("read_bytes", "write_bytes", "publish_bytes", "listdir",
               "makedirs", "move", "remove", "rmtree", "isdir", "exists"):
        locals()[_m] = _count(_m)
    del _m, _count


@pytest.fixture()
def mock_root(tmp_path):
    store_dir = tmp_path / "store"
    store_dir.mkdir()
    MockStoreFS.root_dir = str(store_dir)
    bs.register_scheme("mock", MockStoreFS)
    yield "mock://lake"
    bs._SCHEMES.pop("mock", None)
    bs._FS_CACHE.clear()


@pytest.fixture()
def meng(spark, mock_root):
    return Engine(spark, datasets_root=mock_root)


def _fs(root):
    return bs.fs_for(root)


def test_ctas_dml_time_travel_on_object_store(spark, meng, mock_root):
    meng.sql("CREATE TABLE obs AS SELECT id, id % 5 AS g, "
             "CAST(id AS DOUBLE) AS v FROM range(100)")
    # catalog + manifests live on the store, written through the facade
    assert bs.exists(f"{mock_root}/.beacon_catalog/catalog.json")
    ops = _fs(mock_root).ops
    assert ops["publish_bytes"] > 0 and ops["listdir"] > 0

    assert meng.sql("SELECT count(*) AS n FROM obs").collect()[0].n == 100
    meng.sql("INSERT INTO obs SELECT 1000 + id, 9 AS g, 0.5 AS v FROM range(10)")
    assert meng.sql("SELECT count(*) AS n FROM obs").collect()[0].n == 110
    meng.sql("UPDATE obs SET v = -1.0 WHERE g = 9")
    assert meng.sql(
        "SELECT count(*) AS n FROM obs WHERE v = -1.0").collect()[0].n == 10
    meng.sql("DELETE FROM obs WHERE g = 9")
    assert meng.sql("SELECT count(*) AS n FROM obs").collect()[0].n == 100

    # time travel across the mock-store manifests
    mt = meng.catalog.table("obs")
    assert mt.current_version() >= 4
    assert mt.read(version=1).count() == 100
    assert mt.read(version=2).count() == 110

    # the token persisted in the catalog references data/ paths; spot-
    # check the manifest shape on the store
    mdir = f"{mock_root}/.beacon_catalog/tables/obs/_manifests"
    names = bs.listdir(mdir)
    m = json.loads(bs.read_text(bs.join(mdir, sorted(names)[-1])))
    assert all(f.startswith("data/") for f in m["files"])


def test_mv_and_vacuum_on_object_store(spark, meng, mock_root):
    meng.sql("CREATE TABLE base AS SELECT id, id % 3 AS g FROM range(60)")
    meng.sql("CREATE MATERIALIZED VIEW mv AS "
             "SELECT g, count(*) AS n FROM base GROUP BY g")
    got = {(r.g, r.n) for r in meng.sql("SELECT * FROM mv").collect()}
    assert got == {(0, 20), (1, 20), (2, 20)}
    meng.sql("INSERT INTO base SELECT 100 + id, 0 AS g FROM range(3)")
    meng.sql("REFRESH MATERIALIZED VIEW mv")
    got = {(r.g, r.n) for r in meng.sql("SELECT * FROM mv").collect()}
    assert got == {(0, 23), (1, 20), (2, 20)}

    # vacuum drops old versions through the store facade — manifests
    # are TOMBSTONED in place (name stays claimed as the version-reuse
    # guard), not removed
    mt = meng.catalog.table("base")
    dropped_ms, dropped_files = mt.vacuum(retain_versions=1)
    assert dropped_ms >= 1
    mdir = bs.join(mt.path, "_manifests")
    tombs = [n for n in bs.listdir(mdir)
             if json.loads(bs.read_text(bs.join(mdir, n)) or "{}")
             .get("vacuumed")]
    assert len(tombs) >= dropped_ms
    assert meng.sql("SELECT count(*) AS n FROM base").collect()[0].n == 63

    meng.sql("DROP TABLE base")
    assert not bs.exists(f"{mock_root}/.beacon_catalog/tables/base")


def test_inverted_index_prunes_on_object_store(spark, meng, mock_root):
    rows = [(i, f"common filler text row {i}") for i in range(400)]
    rows += [(1000 + i, f"rare zyzzyva mention {i}") for i in range(5)]
    df = spark.createDataFrame(rows, "id long, body string").repartitionByRange(
        6, "id"
    )
    meng.catalog.create_table("docs_t", df)
    meng.sql("CREATE INDEX bidx ON docs_t (body) USING inverted")
    mt = meng.catalog.table("docs_t")
    n_files = len(mt.files())
    assert n_files >= 4
    out = meng.query({
        "select": ["id", "body"], "from": "docs_t",
        "filter": {"column": "body", "contains": "zyzzyva"},
    })
    assert out.count() == 5
    assert 0 < len(out.inputFiles()) < n_files  # strict subset opened


def test_bitmap_and_btree_prune_on_object_store(spark, meng, mock_root):
    df = spark.createDataFrame(
        [(i, ["alpha", "beta", "gamma"][i % 3], float(i)) for i in range(300)],
        "id long, label string, v double",
    ).repartitionByRange(6, "id")
    meng.catalog.create_table("meas", df)
    meng.sql("CREATE INDEX lidx ON meas (label) USING bitmap")
    # bitmap: a label that only some files contain — rewrite one file's
    # labels first so postings differ per file
    mt = meng.catalog.table("meas")
    n_files = len(mt.files())
    meng.sql("UPDATE meas SET label = 'rarelbl' WHERE id >= 290")
    meng.sql("CREATE INDEX lidx2 ON meas (label) USING bitmap")
    out = meng.query({
        "select": ["id"], "from": "meas",
        "filter": {"column": "label", "eq": "rarelbl"},
    })
    assert out.count() == 10
    assert 0 < len(out.inputFiles()) < len(meng.catalog.table("meas").files())

    # btree: cluster + stats-prune through the mock-store stats index
    meng.sql("CREATE INDEX vidx ON meas (id) USING btree")
    assert bs.exists(f"{mock_root}/.beacon_stats/index.parquet")
    out2 = meng.query({
        "select": ["id"], "from": "meas",
        "filter": {"column": "id", "gt": 280},
    })
    assert out2.count() == 19
    assert 0 < len(out2.inputFiles()) < len(meng.catalog.table("meas").files())


def test_persistence_across_engines_on_object_store(spark, meng, mock_root):
    meng.sql("CREATE TABLE keepme AS SELECT id FROM range(7)")
    # a brand-new engine over the same mock root sees the catalog
    eng2 = Engine(spark, datasets_root=mock_root)
    assert eng2.sql("SELECT count(*) AS n FROM keepme").collect()[0].n == 7
    assert "keepme" in eng2.table_names()


def test_read_parquet_over_object_store_uris(spark, meng, mock_root):
    """read_parquet globs, reads footers and scans through the store's
    scheme: footers via its pyarrow filesystem, the scan via the JVM
    form of each path (spark_path). read_csv hands Spark the same form."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    obs = MockStoreFS.root_dir + "/obs"
    bs.makedirs("mock://lake/obs")
    for i in range(3):
        pq.write_table(pa.table({"id": pa.array(range(i * 10, i * 10 + 10)),
                                 "v": pa.array([float(i)] * 10)}),
                       f"{obs}/f{i}.parquet")
    n = meng.sql("SELECT count(*) AS n FROM read_parquet('obs/*.parquet')")
    assert n.collect()[0].n == 30
    dsl = meng.query({"select": ["id"],
                      "from": {"parquet": {"paths": ["obs/*.parquet"]}},
                      "filter": {"column": "v", "min": 2.0}})
    assert sorted(r.id for r in dsl.collect()) == list(range(20, 30))
    with open(f"{obs}/c.csv", "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    csv = meng.sql("SELECT sum(a) AS s FROM read_csv('obs/c.csv')")
    assert csv.collect()[0].s == 3
    assert _fs(mock_root).ops["spark_path"] >= 4
