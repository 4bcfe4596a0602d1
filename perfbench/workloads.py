"""The three workloads: seeded operation sequences with expected results.

An operation is one ``POST /api/query``. Its expected result is a
``digest`` (row count, per-column sums, string value counts) computed
from the generated columns with numpy, never by the engine. The run's
sequence is fixed by (seed, seconds): ``rounds`` rounds, each running
every operation type of the workload once in a seeded order, so two
commits given the same arguments do identical work.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from fixtures import LAKE_FILES, SPAN, T0, Fixtures

DAY = 86_400
OBS_COLS = ["time", "latitude", "longitude", "depth", "platform", "platform_id",
            "temperature", "salinity", "oxygen", "pressure", "chlorophyll",
            "nitrate", "ph"]
LAKE = "obs/*.parquet"


@dataclass
class Op:
    name: str
    body: dict
    expect: object  # digest, a callable returning one (evaluated when the
    # result arrives), or None for statements with no result to check
    response: str = "arrow"  # arrow | csv | parquet | netcdf
    kind: str = "read"  # read | write | check (verification, not timed)
    order: tuple[str, bool] | None = None  # (column, descending) to verify
    after: object = None  # callable run once the server acknowledged the op
    input_bytes: int = 0  # parquet bytes an INSERT reads


def digest(cols: dict[str, np.ndarray]) -> dict:
    """Row count plus an order-insensitive checksum of every column:
    exact sums of integer columns, sums (with sum of |x| for the
    tolerance) of float columns, value counts of string columns."""
    rows = len(next(iter(cols.values()))) if cols else 0
    out: dict = {"rows": rows, "int": {}, "float": {}, "str": {}}
    for name, a in cols.items():
        a = np.asarray(a)
        if a.dtype.kind in "iub":
            out["int"][name] = int(a.astype(np.int64).sum())
        elif a.dtype.kind == "f":
            a64 = a.astype(np.float64)
            out["float"][name] = (float(a64.sum()), float(np.abs(a64).sum()))
        else:
            out["str"][name] = dict(Counter(str(v) for v in a))
    return out


def compare(expected: dict, got: dict) -> str | None:
    """None when ``got`` matches ``expected``, else the first mismatch."""
    if got["rows"] != expected["rows"]:
        return f"rows {got['rows']} != {expected['rows']}"
    for name, want in expected["int"].items():
        have = got["int"].get(name)
        if have is None and name in got["float"]:
            have = got["float"][name][0]
        if have is None or abs(have - want) > 0.5:
            return f"{name}: sum {have} != {want}"
    for name, (want, scale) in expected["float"].items():
        have = got["float"].get(name)
        if have is None or abs(have[0] - want) > 1e-6 * scale + 1e-9:
            return f"{name}: sum {have and have[0]} != {want}"
    for name, want in expected["str"].items():
        if got["str"].get(name) != want:
            return f"{name}: value counts differ"
    return None


def _select(cols: dict[str, np.ndarray], names, mask=None) -> dict:
    return {n: (cols[n] if mask is None else cols[n][mask]) for n in names}


def _between(a: np.ndarray, lo, hi) -> np.ndarray:
    return (a >= lo) & (a <= hi)


@dataclass
class Workload:
    fx: Fixtures
    rng: np.random.Generator
    root: str  # the working copy the server serves
    setup: list[dict] = field(default_factory=list)
    types: list[str] = field(default_factory=list)

    def make(self, op_type: str) -> Op:
        return getattr(self, f"op_{op_type}")()

    def round(self) -> list[Op]:
        order = list(self.types)
        self.rng.shuffle(order)
        return [self.make(t) for t in order]

    def warmup(self) -> list[Op]:
        return [self.make(t) for t in self.types]

    def full_check(self) -> Op | None:
        """A last, untimed operation that checks the server's state."""
        return None


# --------------------------------------------------------------- lake_subset


class LakeSubset(Workload):
    """Six of the reference harness's shapes as SQL over a many-file
    lake, plus the time and box shapes through the JSON DSL, which
    prunes files by the stats index."""

    round_s = 10.5
    parts = ("obs",)

    def __init__(self, fx, rng, root):
        super().__init__(fx, rng, root)
        self.setup = [{"sql": "ANALYZE FILES"}]
        self.types = ["count_all", "filter_multi", "agg_by_platform",
                      "spatial_box", "time_window", "topn_recent",
                      "time_window_dsl", "spatial_box_dsl"]
        self.o = fx.obs

    def op_count_all(self):
        return Op("count_all",
                  {"sql": f"SELECT count(temperature) AS n FROM read_parquet('{LAKE}')"},
                  digest({"n": np.array([len(self.o["temperature"])])}))

    def op_filter_multi(self):
        t = int(self.rng.integers(-2, 25))
        la = int(self.rng.integers(-90, 70))
        names = ["time", "platform", "latitude", "temperature"]
        m = (_between(self.o["temperature"], t, t + 10)
             & _between(self.o["latitude"], la, la + 20))
        return Op("filter_multi", {"sql": (
            f"SELECT {', '.join(names)} FROM read_parquet('{LAKE}') "
            f"WHERE temperature BETWEEN {t} AND {t + 10} "
            f"AND latitude BETWEEN {la} AND {la + 20}")},
            digest(_select(self.o, names, m)))

    def op_agg_by_platform(self):
        plats = sorted(set(self.o["platform"].tolist()))
        avg_t, avg_s, n = [], [], []
        for p in plats:
            m = self.o["platform"] == p
            avg_t.append(self.o["temperature"][m].astype(np.float64).mean())
            avg_s.append(self.o["salinity"][m].astype(np.float64).mean())
            n.append(int(m.sum()))
        return Op("agg_by_platform", {"sql": (
            f"SELECT platform, avg(temperature) AS avg_t, avg(salinity) AS avg_s, "
            f"count(*) AS n FROM read_parquet('{LAKE}') "
            f"GROUP BY platform ORDER BY platform")},
            digest({"platform": np.array(plats), "avg_t": np.array(avg_t),
                    "avg_s": np.array(avg_s), "n": np.array(n)}),
            order=("platform", False))

    def _box(self):
        lon = int(self.rng.integers(-180, 150))
        lat = int(self.rng.integers(-90, 60))
        m = (_between(self.o["longitude"], lon, lon + 30)
             & _between(self.o["latitude"], lat, lat + 30))
        return lon, lat, m

    def op_spatial_box(self):
        lon, lat, m = self._box()
        return Op("spatial_box", {"sql": (
            f"SELECT * FROM read_parquet('{LAKE}') "
            f"WHERE longitude BETWEEN {lon} AND {lon + 30} "
            f"AND latitude BETWEEN {lat} AND {lat + 30}")},
            digest(_select(self.o, OBS_COLS, m)))

    def _window(self):
        t = T0 + int(self.rng.integers(0, SPAN - 30 * DAY))
        return t, t + 30 * DAY, _between(self.o["time"], t, t + 30 * DAY)

    def op_time_window(self):
        lo, hi, m = self._window()
        return Op("time_window", {"sql": (
            f"SELECT * FROM read_parquet('{LAKE}') WHERE time BETWEEN {lo} AND {hi}")},
            digest(_select(self.o, OBS_COLS, m)))

    def op_topn_recent(self):
        top = np.sort(self.o["time"])[::-1][:1000]
        return Op("topn_recent", {"sql": (
            f"SELECT time, platform, temperature FROM read_parquet('{LAKE}') "
            f"ORDER BY time DESC LIMIT 1000")},
            digest({"time": top}),
            order=("time", True))

    def op_time_window_dsl(self):
        lo, hi, m = self._window()
        return Op("time_window_dsl", {
            "select": OBS_COLS, "from": {"parquet": {"paths": [LAKE]}},
            "filters": [{"column": "time", "min": lo, "max": hi}]},
            digest(_select(self.o, OBS_COLS, m)))

    def op_spatial_box_dsl(self):
        lon, lat, m = self._box()
        return Op("spatial_box_dsl", {
            "select": OBS_COLS, "from": {"parquet": {"paths": [LAKE]}},
            "filters": [{"column": "longitude", "min": lon, "max": lon + 30},
                        {"column": "latitude", "min": lat, "max": lat + 30}]},
            digest(_select(self.o, OBS_COLS, m)))


# --------------------------------------------------------------- grid_export


class GridExport(Workload):
    """Multi-MB downloads: zarr subsets as NetCDF, CSV and Arrow, a
    ragged NetCDF-3 subset as Parquet, a compacted-obs box as CSV."""

    round_s = 6.5
    parts = ("obs8", "grid.zarr", "profiles.nc")

    def __init__(self, fx, rng, root):
        super().__init__(fx, rng, root)
        self.types = ["zarr_sql_netcdf", "zarr_dsl_csv", "zarr_dsl_arrow",
                      "profiles_sql_parquet", "obs8_box_csv"]
        self.g = fx.grid

    def _step(self) -> tuple[int, int]:
        """A time range holding one time step of the grid."""
        t = int(self.g["time"][self.rng.integers(0, len(self.g["time"]))])
        return t, t

    def op_zarr_sql_netcdf(self):
        lo, hi = self._step()
        return Op("zarr_sql_netcdf", {
            "sql": ("SELECT time, lat, lon, sst FROM read_zarr('grid.zarr') "
                    f"WHERE time BETWEEN {lo} AND {hi}"),
            "output": {"format": "netcdf"}},
            digest(self.fx.grid_rows(lo, hi)), response="netcdf")

    def _lat_band(self):
        la = int(self.rng.integers(-90, 0))
        return la, la + 90

    def op_zarr_dsl_csv(self):
        lo, hi = self._step()
        la0, la1 = self._lat_band()
        rows = self.fx.grid_rows(lo, hi)
        m = _between(rows["lat"], la0, la1)
        return Op("zarr_dsl_csv", {
            "select": ["time", "lat", "lon", "sst"],
            "from": {"zarr": {"paths": ["grid.zarr"]}},
            "filters": [{"column": "time", "min": lo, "max": hi},
                        {"column": "lat", "min": la0, "max": la1}],
            "output": {"format": "csv"}},
            digest({k: v[m] for k, v in rows.items()}), response="csv")

    def op_zarr_dsl_arrow(self):
        lo, hi = self._step()
        return Op("zarr_dsl_arrow", {
            "select": ["time", "lat", "lon", "sst"],
            "from": {"zarr": {"paths": ["grid.zarr"]}},
            "filters": [{"column": "time", "min": lo, "max": hi}]},
            digest(self.fx.grid_rows(lo, hi)))

    def op_profiles_sql_parquet(self):
        rows = self.fx.profile_rows()
        lo = int(self.rng.integers(0, 1500))
        m = _between(rows["pres"], lo, lo + 500)
        return Op("profiles_sql_parquet", {
            "sql": ("SELECT profile_time, profile_lat, profile_lon, pres, temp, psal "
                    f"FROM read_netcdf('profiles.nc') WHERE pres BETWEEN {lo} AND {lo + 500}"),
            "output": {"format": "parquet"}},
            digest({k: rows[k][m] for k in ("profile_time", "profile_lat",
                                           "profile_lon", "pres", "temp", "psal")}),
            response="parquet")

    def op_obs8_box_csv(self):
        o = self.fx.obs
        lon = int(self.rng.integers(-180, 120))
        lat = int(self.rng.integers(-90, 0))
        m = (_between(o["longitude"], lon, lon + 60)
             & _between(o["latitude"], lat, lat + 90))
        return Op("obs8_box_csv", {
            "sql": (f"SELECT * FROM read_parquet('obs8/*.parquet') "
                    f"WHERE longitude BETWEEN {lon} AND {lon + 60} "
                    f"AND latitude BETWEEN {lat} AND {lat + 90}"),
            "output": {"format": "csv"}},
            digest(_select(o, OBS_COLS, m)), response="csv")


# -------------------------------------------------------------- ingest_query

TABLE = "obs_t"
#: OPTIMIZE after every this many INSERTs
OPTIMIZE_EVERY = 3
#: lake files per INSERT batch
FILES_PER_INSERT = 2


class IngestQuery(Workload):
    """INSERT batches into one indexed managed table beside index-pruned
    DSL reads and SQL aggregates over it; OPTIMIZE every few inserts."""

    round_s = 2.5
    parts = ("obs",)

    def __init__(self, fx, rng, root):
        super().__init__(fx, rng, root)
        o = fx.obs
        self.cut = int(o["time"][len(o["time"]) // 4])
        self.setup = [
            {"sql": (f"CREATE TABLE {TABLE} AS SELECT * FROM read_parquet('{LAKE}') "
                     f"WHERE time < {self.cut}")},
            {"sql": f"CREATE INDEX {TABLE}_time ON {TABLE} (time) USING btree"},
        ]
        # acknowledged rows: how many copies of each lake row the table holds
        self.mult = (o["time"] < self.cut).astype(np.int64)
        first = LAKE_FILES // 4
        self.pool = list(rng.permutation(np.arange(first, LAKE_FILES)))
        self.types = ["insert", "window_dsl", "table_agg"]
        self.inserts = 0
        # where the server's catalog keeps the table (managed.py Catalog)
        self.table_dir = os.path.join(root, ".beacon_catalog", "tables", TABLE)

    def round(self) -> list[Op]:
        # INSERT first so every round's reads see a new version; an
        # OPTIMIZE follows every OPTIMIZE_EVERY-th insert
        ops = [self.op_insert()]
        if self.inserts % OPTIMIZE_EVERY == 0:
            ops.append(self.op_optimize())
        tail = ["window_dsl", "table_agg"]
        self.rng.shuffle(tail)
        return ops + [self.make(t) for t in tail]

    def warmup(self) -> list[Op]:
        return [self.op_insert(), self.op_optimize(), self.op_window_dsl(),
                self.op_table_agg()]

    def _table_rows(self, names) -> dict:
        idx = np.repeat(np.arange(len(self.mult)), self.mult)
        return {n: self.fx.obs[n][idx] for n in names}

    def op_insert(self):
        if not self.pool:
            self.pool = list(self.rng.permutation(np.arange(LAKE_FILES)))
        files = [int(self.pool.pop()) for _ in range(min(FILES_PER_INSERT, len(self.pool)))]
        self.inserts += 1
        rels = [f"obs/obs_{i:04d}.parquet" for i in files]
        paths = ", ".join(f"'{rel}'" for rel in rels)

        def ack():
            for i in files:
                self.mult[self.fx.lake_file_rows(i)] += 1

        return Op("insert", {"sql": f"INSERT INTO {TABLE} SELECT * FROM read_parquet({paths})"},
                  None, kind="write", after=ack,
                  input_bytes=sum(os.path.getsize(os.path.join(self.root, r)) for r in rels))

    def op_optimize(self):
        return Op("optimize", {"sql": f"OPTIMIZE {TABLE}"}, None, kind="write")

    def op_window_dsl(self):
        t = T0 + int(self.rng.integers(0, SPAN - 30 * DAY))
        names = ["time", "platform", "latitude", "longitude", "temperature"]

        def expect():
            rows = self._table_rows(names)
            m = _between(rows["time"], t, t + 30 * DAY)
            return digest({k: v[m] for k, v in rows.items()})

        return Op("window_dsl", {
            "select": names, "from": TABLE,
            "filters": [{"column": "time", "min": t, "max": t + 30 * DAY}]},
            expect)

    def op_table_agg(self):
        return Op("table_agg", {"sql": (
            f"SELECT platform, count(*) AS n, sum(time) AS s_time, "
            f"sum(temperature) AS s_temp FROM {TABLE} GROUP BY platform")},
            self.agg_digest)

    def agg_digest(self) -> dict:
        rows = self._table_rows(["platform", "time", "temperature"])
        plats = sorted(set(rows["platform"].tolist()))
        n, s_time, s_temp = [], [], []
        for p in plats:
            m = rows["platform"] == p
            n.append(int(m.sum()))
            s_time.append(int(rows["time"][m].sum()))
            s_temp.append(float(rows["temperature"][m].astype(np.float64).sum()))
        return digest({"platform": np.array(plats), "n": np.array(n),
                       "s_time": np.array(s_time), "s_temp": np.array(s_temp)})

    def full_check(self) -> Op:
        """Every row of the table, checksummed column by column."""
        names = [c for c in OBS_COLS if c != "platform"]
        sums = ", ".join(f"sum({c}) AS {c}" for c in names)
        rows = self._table_rows(names)
        want = digest({"n": np.array([len(rows["time"])])})
        for c, a in rows.items():
            if a.dtype.kind in "iu":
                want["int"][c] = int(a.astype(np.int64).sum())
            else:
                a64 = a.astype(np.float64)
                want["float"][c] = (float(a64.sum()), float(np.abs(a64).sum()))
        return Op("table_check", {"sql": f"SELECT count(*) AS n, {sums} FROM {TABLE}"},
                  want, kind="check")

    def acknowledged_rows(self) -> int:
        return int(self.mult.sum())

    @property
    def input_bytes_per_row(self) -> float:
        """Parquet bytes per row of the lake the rows come from."""
        lake = os.path.join(self.root, "obs")
        return sum(os.path.getsize(os.path.join(lake, f))
                   for f in os.listdir(lake)) / len(self.mult)


WORKLOADS = {"lake_subset": LakeSubset, "grid_export": GridExport,
             "ingest_query": IngestQuery}


def rounds_for(cls, seconds: float) -> int:
    """Rounds in the timed sequence: fixed by ``--seconds`` and the
    workload's nominal round time on a 4-core machine (server on
    ``local[2]``), never by the speed of the system under test."""
    return max(1, round(seconds / cls.round_s))

