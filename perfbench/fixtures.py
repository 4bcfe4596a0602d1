"""Seeded fixtures for the serving-path benchmark.

Everything is generated from the ``--seed`` argument with numpy/pyarrow
and the repository's own writers (``write_zarr_store``,
``write_netcdf3``); nothing is downloaded. ``Fixtures`` keeps the
generated columns in memory so every operation's expected result is
computed here, independently of the engine, and writes the files once
per (seed, generator version) into a read-only cache. Each run then
serves a fresh working copy made of hard links to that cache.
"""

from __future__ import annotations

import os
import shutil
import stat
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated data changes, so stale caches are not reused
GENERATOR_VERSION = 4
#: cache entries (seeds) kept, so repeated runs over a set of seeds do
#: not rewrite them; older ones are deleted (each is 35-85 MB)
CACHE_KEEP = 12

# obs lake: FIXTURES.md F2 ``bench`` schema, time-sorted across files
LAKE_FILES = 64
LAKE_ROWS_PER_FILE = 8192
COMPACT_FILES = 8
T0 = 1_577_836_800  # 2020-01-01T00:00:00Z
SPAN = 5 * 365 * 86_400
PLATFORMS = np.array(["SHIP", "BUOY", "FLOAT", "GLIDER", "MOORING"])
VARIABLES = {  # float32 variables, uniform in range
    "temperature": (-2.0, 35.0),
    "salinity": (30.0, 40.0),
    "oxygen": (150.0, 400.0),
    "pressure": (0.0, 6000.0),
    "chlorophyll": (0.0, 30.0),
    "nitrate": (0.0, 45.0),
    "ph": (7.5, 8.4),
}

# zarr v2 blosc grid: sst(time, lat, lon), one chunk per time step
GRID_T, GRID_LAT, GRID_LON = 12, 200, 1000
GRID_DT = 86_400

# CF contiguous ragged NetCDF-3 profiles
N_PROFILES = 1000
MEAN_PROFILE_LEN = 200


class Fixtures:
    """The generated data of one seed: columns in memory, files on disk."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, GENERATOR_VERSION])
        n = LAKE_FILES * LAKE_ROWS_PER_FILE
        obs = {
            "time": np.sort(rng.integers(T0, T0 + SPAN, n, dtype=np.int64)),
            "latitude": rng.uniform(-90.0, 90.0, n),
            "longitude": rng.uniform(-180.0, 180.0, n),
            "depth": rng.uniform(0.0, 2000.0, n).astype(np.float32),
            "platform": PLATFORMS[rng.integers(0, len(PLATFORMS), n)],
            "platform_id": rng.integers(0, 100, n, dtype=np.int32),
        }
        for name, (lo, hi) in VARIABLES.items():
            obs[name] = rng.uniform(lo, hi, n).astype(np.float32)
        self.obs = obs

        times = T0 + GRID_DT * np.arange(GRID_T, dtype=np.int64)
        lat = np.linspace(-89.55, 89.55, GRID_LAT)
        lon = np.linspace(-179.82, 179.82, GRID_LON)
        sst = rng.uniform(-2.0, 32.0, (GRID_T, GRID_LAT, GRID_LON)).astype(np.float32)
        self.grid = {"time": times, "lat": lat, "lon": lon, "sst": sst}

        counts = rng.integers(MEAN_PROFILE_LEN // 2, MEAN_PROFILE_LEN * 3 // 2,
                              N_PROFILES).astype(np.int32)
        m = int(counts.sum())
        self.profiles = {
            "row_size": counts,
            "profile_time": np.sort(rng.uniform(T0, T0 + SPAN, N_PROFILES)),
            "profile_lat": rng.uniform(-80.0, 80.0, N_PROFILES),
            "profile_lon": rng.uniform(-180.0, 180.0, N_PROFILES),
            "pres": rng.uniform(0.0, 2000.0, m).astype(np.float32),
            "temp": rng.uniform(-2.0, 30.0, m).astype(np.float32),
            "psal": rng.uniform(33.0, 37.0, m).astype(np.float32),
        }

    # ------------------------------------------------------------ views

    def lake_file_rows(self, i: int) -> slice:
        """Rows of ``obs/obs_<i>.parquet``."""
        return slice(i * LAKE_ROWS_PER_FILE, (i + 1) * LAKE_ROWS_PER_FILE)

    def grid_rows(self, t_lo: int, t_hi: int) -> dict[str, np.ndarray]:
        """The flattened (time, lat, lon) rows with time in [t_lo, t_hi]."""
        g = self.grid
        keep = (g["time"] >= t_lo) & (g["time"] <= t_hi)
        t, la, lo = np.meshgrid(g["time"][keep], g["lat"], g["lon"], indexing="ij")
        return {"time": t.ravel(), "lat": la.ravel(), "lon": lo.ravel(),
                "sst": g["sst"][keep].ravel()}

    def profile_rows(self) -> dict[str, np.ndarray]:
        """The ragged file flattened onto its ``obs`` dimension."""
        p = self.profiles
        rows = {k: p[k] for k in ("pres", "temp", "psal")}
        for k in ("row_size", "profile_time", "profile_lat", "profile_lon"):
            rows[k] = np.repeat(p[k], p["row_size"])
        return rows

    # ------------------------------------------------------------ files

    def _obs_table(self, rows) -> pa.Table:
        return pa.table({k: v[rows] for k, v in self.obs.items()})

    def write(self, part: str, path: str) -> None:
        """Write one fixture set (a name in ``PARTS``) to ``path``."""
        from beacon_spark.sources.netcdf3 import write_netcdf3
        from beacon_spark.sources.zarrlite import write_zarr_store

        if part in ("obs", "obs8"):
            n_files = LAKE_FILES if part == "obs" else COMPACT_FILES
            step = len(self.obs["time"]) // n_files
            os.makedirs(path)
            for i in range(n_files):
                pq.write_table(self._obs_table(slice(i * step, (i + 1) * step)),
                               os.path.join(path, f"{part}_{i:04d}.parquet"),
                               compression="zstd")
        elif part == "grid.zarr":
            g = self.grid
            write_zarr_store(
                path,
                {"time": (("time",), g["time"]), "lat": (("lat",), g["lat"]),
                 "lon": (("lon",), g["lon"]),
                 "sst": (("time", "lat", "lon"), g["sst"])},
                version=2, codec="blosc",
                chunk_shapes={"sst": (1, GRID_LAT, GRID_LON)},
            )
        elif part == "profiles.nc":
            p = self.profiles
            write_netcdf3(
                path,
                {"profile": N_PROFILES, "obs": int(p["row_size"].sum())},
                {"row_size": (("profile",), p["row_size"]),
                 "profile_time": (("profile",), p["profile_time"]),
                 "profile_lat": (("profile",), p["profile_lat"]),
                 "profile_lon": (("profile",), p["profile_lon"]),
                 "pres": (("obs",), p["pres"]),
                 "temp": (("obs",), p["temp"]),
                 "psal": (("obs",), p["psal"])},
                var_attrs={"row_size": {"sample_dimension": "obs"}},
            )
        else:
            raise ValueError(f"unknown fixture set {part!r}")

    def rows(self, part: str) -> int:
        if part in ("obs", "obs8"):
            return len(self.obs["time"])
        if part == "grid.zarr":
            return self.grid["sst"].size
        return int(self.profiles["row_size"].sum())


def describe(fx: Fixtures, root: str, parts) -> dict[str, dict]:
    """File count, rows and bytes of each fixture set."""
    out = {}
    for part in parts:
        p = os.path.join(root, part)
        files = ([p] if os.path.isfile(p) else
                 [os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs])
        out[part] = {"files": len(files), "rows": fx.rows(part),
                     "bytes": sum(os.path.getsize(f) for f in files)}
    return out


def _make_read_only(root: str) -> None:
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            os.chmod(p, stat.S_IRUSR | stat.S_IRGRP | stat.S_IROTH)


def cached_fixtures(fx: Fixtures, parts, cache_dir: str) -> tuple[str, float]:
    """Directory holding the read-only fixture sets ``parts`` of ``fx``;
    sets missing from the cache are written first. → (path, seconds
    spent writing)."""
    key = os.path.join(cache_dir, f"v{GENERATOR_VERSION}-seed{fx.seed}")
    t0 = time.perf_counter()
    os.makedirs(key, exist_ok=True)
    for part in parts:
        final = os.path.join(key, part)
        if os.path.exists(final):
            continue
        tmp = os.path.join(key, f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        fx.write(part, os.path.join(tmp, part))
        _make_read_only(tmp)
        os.rename(os.path.join(tmp, part), final)
        os.rmdir(tmp)
    os.utime(key)
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)),
        key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return key, time.perf_counter() - t0


def link_copy(src: str, dst: str, parts) -> None:
    """A working copy of ``parts`` of ``src`` made of hard links (the
    cache files are read-only, so the server cannot change them through
    the copy)."""
    os.makedirs(dst)
    for part in parts:
        s, d = os.path.join(src, part), os.path.join(dst, part)
        if os.path.isdir(s):
            shutil.copytree(s, d, copy_function=os.link)
        else:
            os.link(s, d)
