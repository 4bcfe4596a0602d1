"""nd sources: N-dimensional array sets (NetCDF / Zarr / HDF5) → rows.

Implements the reference's arrays-to-tables mapping
(``docs/docs/2.0.0-rc2/arrays-to-tables.md``):

  - the variable with the largest data volume defines the **grid**; row
    count = product of the grid dimension sizes;
  - full-grid variables map element-for-element; lower-rank variables
    broadcast (cycle) along the shared dimensions; scalars become constant
    columns; variables outside the grid are dropped;
  - every attribute becomes a constant column ``"<var>.<attr>"``; global
    attributes become ``".<attr>"``;
  - CF decoding (``cf-decoding.md``): ``units: "<u> since <epoch>"`` →
    timestamps, ``scale_factor``/``add_offset`` → float64,
    ``_FillValue`` → NULL; ``missing_value``/``valid_min``/``valid_max``
    deliberately ignored (pinned reference behavior).

Architecture for scale: the pure-numpy core (`GridDataset.flatten`) is
**stride arithmetic, zero copy until materialization**, and accepts a row
range, so a Spark task materializes only its slice. The Spark reader
plans one task per (file, row-chunk) and streams Arrow batches through
``mapInArrow`` — no driver-side data, parallelism = files × chunks.

The container lacks netCDF/zarr libraries; file-opening is gated behind
import-try (``open_netcdf``/``open_zarr`` raise a clear error), while the
flattening/CF core is fully functional and unit-tested on synthetic arrays.
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

_EPOCH_RE = re.compile(
    r"^\s*(?P<unit>\w+)\s+since\s+(?P<epoch>.+?)\s*$", re.IGNORECASE
)
_UNIT_NS = {
    "days": 86_400_000_000_000, "day": 86_400_000_000_000, "d": 86_400_000_000_000,
    "hours": 3_600_000_000_000, "hour": 3_600_000_000_000, "h": 3_600_000_000_000,
    "minutes": 60_000_000_000, "minute": 60_000_000_000, "min": 60_000_000_000,
    "seconds": 1_000_000_000, "second": 1_000_000_000, "s": 1_000_000_000, "sec": 1_000_000_000,
    "milliseconds": 1_000_000, "millisecond": 1_000_000, "ms": 1_000_000,
    "microseconds": 1_000, "microsecond": 1_000, "us": 1_000,
    "nanoseconds": 1, "nanosecond": 1, "ns": 1,
}


def _parse_cf_epoch(units: str) -> tuple[int, int] | None:
    """CF time units → (ns_per_unit, epoch_ns), or None if not a time."""
    m = _EPOCH_RE.match(units or "")
    if not m:
        return None
    unit = m.group("unit").lower()
    if unit not in _UNIT_NS:
        return None
    epoch_str = m.group("epoch").strip()
    for fmt in (None,):  # fromisoformat handles most CF epochs
        try:
            epoch = _dt.datetime.fromisoformat(epoch_str.replace("Z", "+00:00"))
            break
        except ValueError:
            return None
    if epoch.tzinfo is not None:
        epoch = epoch.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    epoch_ns = int((epoch - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000_000)
    return _UNIT_NS[unit], epoch_ns


def decode_cf(values: np.ndarray, attrs: dict) -> tuple[np.ndarray, pa.DataType | None]:
    """Apply CF decoding to a raw variable (cf-decoding.md). Returns the
    decoded ndarray and an optional Arrow type override (timestamps)."""
    out = values
    mask = None
    fill = attrs.get("_FillValue")
    if fill is not None:
        mask = out == fill

    scale = attrs.get("scale_factor")
    offset = attrs.get("add_offset")
    if scale is not None or offset is not None:
        out = out.astype(np.float64)
        if scale is not None:
            out = out * float(scale)
        if offset is not None:
            out = out + float(offset)

    time_spec = _parse_cf_epoch(str(attrs.get("units", "")))
    if time_spec is not None and np.issubdtype(out.dtype, np.number):
        per_unit, epoch_ns = time_spec
        # EXACT integer math where possible: `float64(v) * per_unit`
        # rounds past 2^53 ns — a µs-unit variable at a modern epoch
        # came out ±128 ns off, and the ns→µs safe-cast then CRASHED
        # the read ("would lose data"). Integer values (and the integer
        # part of floats) multiply in int64; only a genuine fractional
        # part rides float, where its magnitude keeps it exact.
        if np.issubdtype(out.dtype, np.integer):
            ns = out.astype(np.int64) * np.int64(per_unit) + np.int64(epoch_ns)
        else:
            f = out.astype(np.float64)
            ip = np.floor(f)
            with np.errstate(invalid="ignore"):
                ns = (
                    ip.astype(np.int64) * np.int64(per_unit)
                    + np.rint((f - ip) * per_unit).astype(np.int64)
                    + np.int64(epoch_ns)
                )
        # Spark timestamps are µs; sub-µs input floors to the boundary
        # (truncation beats failing the whole scan on one ns value)
        ns -= np.mod(ns, 1000)
        if mask is not None:
            ns = np.where(mask, np.int64(0), ns)
        arr = ns.view("datetime64[ns]")
        if mask is not None:
            arr = np.ma.masked_array(arr, mask=mask)
        return arr, pa.timestamp("us")

    if mask is not None:
        # _FillValue becomes SQL NULL for every type, floats included
        # (cf-decoding.md:112-125 — NaN stays NaN, fill becomes NULL)
        out = np.ma.masked_array(out, mask=mask)
    return out, None


@dataclass
class GridDataset:
    """An in-memory nd array set: named dims, variables over those dims,
    per-variable + global attributes. The file-format readers produce this;
    everything downstream (grid selection, broadcast, CF decode) is shared.
    """

    dims: dict[str, int]
    variables: dict[str, tuple[tuple[str, ...], np.ndarray]]
    var_attrs: dict[str, dict] = field(default_factory=dict)
    global_attrs: dict = field(default_factory=dict)

    def grid(self, dimensions: list[str] | None = None) -> tuple[str, ...]:
        """The grid = dims of the largest-volume variable
        (arrays-to-tables.md: 'The rule'). An explicit ``dimensions``
        argument overrides the choice (table-functions.md read_netcdf).
        A ragged (CF contiguous) dataset always grids on its sample
        dimension — one row per observation."""
        if dimensions:
            return tuple(dimensions)
        ragged = self.ragged_spec()
        if ragged is not None:
            return (ragged[0],)
        best: tuple[str, ...] = ()
        best_vol = -1
        for dims, arr in self.variables.values():
            vol = int(np.prod([self.dims[d] for d in dims])) if dims else 0
            if vol > best_vol:
                best_vol, best = vol, dims
        return best

    def ragged_spec(self) -> tuple[str, str, np.ndarray] | None:
        """CF contiguous ragged arrays (beacon-nd-array/src/dataset/
        any.rs:10-23,42-50): a row-count variable carries attribute
        ``sample_dimension: "<obs_dim>"``; its own dimension is the
        instance (profile) dimension. Returns
        ``(sample_dim, instance_dim, counts)`` or None."""
        for name, attrs in self.var_attrs.items():
            sd = attrs.get("sample_dimension")
            if sd is None or name not in self.variables:
                continue
            sd = str(sd)
            dims_of, arr = self.variables[name]
            if sd in self.dims and len(dims_of) == 1 and dims_of[0] != sd:
                return sd, dims_of[0], np.asarray(arr).astype(np.int64).reshape(-1)
        return None

    def row_count(self, dimensions: list[str] | None = None) -> int:
        return int(np.prod([self.dims[d] for d in self.grid(dimensions)] or [1]))

    def flatten(
        self,
        dimensions: list[str] | None = None,
        columns: list[str] | None = None,
        row_range: tuple[int, int] | None = None,
        cf_decode: bool = True,
        attribute_columns: bool = True,
        region: list[tuple[int, int]] | None = None,
    ) -> pa.Table:
        """Broadcast every variable onto the grid and emit rows
        [row_range[0], row_range[1]) of the selected ``region`` as one
        Arrow table.

        ``region`` is a per-grid-dimension index hull ``[(lo, hi), ...]``
        (default: the full grid) — the output of :func:`coord_region`'s
        any-dimension coordinate pushdown. ``row_range`` counts rows in
        the C-order flattening OF THE REGION, so Spark tasks split a
        pruned region without ever touching excluded indices.

        Variables are sliced to the covering sub-grid BEFORE any
        broadcast or reshape: materialized work is O(covering slice) =
        O(rows requested + one partial leading hyper-row), never O(grid)
        — also for broadcast lower-rank variables, whose flatten
        previously forced a grid-sized copy. Lazy variables (zarr chunk
        stores, netCDF library handles) therefore read only intersecting
        chunks (the reference's NdProjectionPushdown effect,
        ``nd/optimizer.rs:42-127``)."""
        grid = self.grid(dimensions)
        if region is None:
            region = [(0, self.dims[d]) for d in grid]
        rshape = tuple(hi - lo for lo, hi in region)
        n_rows = int(np.prod(rshape)) if rshape else 1
        lo, hi = row_range or (0, n_rows)
        lo, hi = max(lo, 0), min(hi, n_rows)

        # covering slice on the leading region axis for [lo, hi)
        inner = int(np.prod(rshape[1:])) if len(rshape) > 1 else 1
        if rshape and inner:
            lead_lo, lead_hi = lo // inner, -(-hi // inner)
        else:
            lead_lo, lead_hi = 0, rshape[0] if rshape else 1
        eff_region = (
            [(region[0][0] + lead_lo, region[0][0] + lead_hi)] + list(region[1:])
            if region
            else []
        )
        eff_shape = tuple(h - l for l, h in eff_region)
        off = lo - lead_lo * inner  # offset of row lo inside the covering slice

        # CF contiguous ragged layout: instance-dim variables repeat onto
        # the sample dimension per the row-count variable. Precompute the
        # obs→instance index map for just this slice (O(slice log inst)).
        ragged = self.ragged_spec()
        inst_idx: np.ndarray | None = None
        inst_dim = None
        if ragged is not None and grid == (ragged[0],):
            _, inst_dim, counts = ragged
            ends = np.cumsum(counts)
            abs_lo = region[0][0] + lo
            inst_idx = np.searchsorted(ends, np.arange(abs_lo, abs_lo + (hi - lo)),
                                       side="right")

        names: list[str] = []
        arrays: list[pa.Array] = []
        for name, (dims, arr) in self.variables.items():
            if columns is not None and name not in columns:
                continue
            if inst_idx is not None and dims == (inst_dim,):
                # per-profile value gathered onto each of its observations
                inst = np.asarray(arr)
                flat = inst[np.clip(inst_idx, 0, len(inst) - 1)]
                attrs = self.var_attrs.get(name, {})
                arrow_type = None
                if cf_decode:
                    flat, arrow_type = decode_cf(np.ascontiguousarray(flat), attrs)
                names.append(name)
                arrays.append(_to_arrow(flat, arrow_type))
                continue
            if not set(dims).issubset(grid):
                continue  # outside the grid → dropped (rule 5)
            # slice the variable to the covering sub-grid in ITS OWN axis
            # order (lazy arrays read only this), then broadcast
            if dims:
                var_slices = tuple(
                    slice(*eff_region[grid.index(d)]) for d in dims
                )
                sub = np.asarray(arr[var_slices])
                order = sorted(range(len(dims)), key=lambda i: grid.index(dims[i]))
                expand_shape = tuple(
                    eff_shape[gi] if grid[gi] in dims else 1
                    for gi in range(len(grid))
                )
                view = np.transpose(sub, order).reshape(expand_shape)
            else:
                view = np.asarray(arr).reshape((1,) * len(grid)) if rshape else np.asarray(arr)
            bcast = np.broadcast_to(view, eff_shape) if rshape else view
            flat = bcast.reshape(-1)[off: off + (hi - lo)]
            attrs = self.var_attrs.get(name, {})
            arrow_type = None
            if cf_decode:
                flat, arrow_type = decode_cf(np.ascontiguousarray(flat), attrs)
            names.append(name)
            arrays.append(_to_arrow(flat, arrow_type))

        if attribute_columns:
            count = hi - lo
            for vname, attrs in self.var_attrs.items():
                if columns is not None and vname not in columns:
                    continue
                for aname, aval in attrs.items():
                    if aname in ("_FillValue", "scale_factor", "add_offset"):
                        continue
                    names.append(f"{vname}.{aname}")
                    arrays.append(_const_array(aval, count))
            for aname, aval in self.global_attrs.items():
                names.append(f".{aname}")
                arrays.append(_const_array(aval, count))

        return pa.table(arrays, names=names)


def _to_arrow(arr: np.ndarray, arrow_type: pa.DataType | None) -> pa.Array:
    if arr.dtype.byteorder == ">":
        # slice-level native-endian copy (pyarrow rejects byte-swapped);
        # O(slice) — the full variable stays an OS-paged mmap view
        arr = arr.astype(arr.dtype.newbyteorder("="))
    if isinstance(arr, np.ma.MaskedArray):
        return pa.array(arr.data, mask=np.ma.getmaskarray(arr), type=arrow_type)
    out = pa.array(arr)
    if arrow_type is not None:
        out = out.cast(arrow_type)
    return out


def _const_array(value, count: int) -> pa.Array:
    if isinstance(value, (np.generic,)):
        value = value.item()
    return pa.array([value] * count)


# ------------------------------------------------------------ file openers


class _LazyVar:
    """Lazy handle over a library-backed nd variable (netCDF4.Variable,
    xarray.Variable, zarr.Array): slicing reads only the requested
    window; ``np.asarray`` reads everything. ``holder`` keeps the owning
    dataset object alive (and its file handle open). Planning a file
    therefore touches headers only; a Spark task reads only its slice."""

    def __init__(self, var, holder=None):
        self._var, self._holder = var, holder
        self.shape = tuple(var.shape)
        self.ndim = len(self.shape)

    def __len__(self) -> int:
        return self.shape[0] if self.shape else 1

    def __getitem__(self, idx) -> np.ndarray:
        return np.asarray(self._var[idx])

    def __array__(self, dtype=None, copy=None):
        full = np.asarray(self._var[...] if self.shape else self._var[()])
        return full.astype(dtype) if dtype is not None else full


def open_netcdf(path: str) -> GridDataset:
    """Open a NetCDF file as a GridDataset. Uses netCDF4 / xarray when
    present (variables wrapped lazily — no whole-variable reads at open),
    else the self-contained NetCDF3 parser (mmap-backed, O(slice))."""
    try:
        import netCDF4  # type: ignore
    except ImportError:
        netCDF4 = None
    if netCDF4 is not None:
        ds = netCDF4.Dataset(path, "r")
        ds.set_auto_maskandscale(False)
        dims = {name: len(d) for name, d in ds.dimensions.items()}
        variables = {}
        var_attrs = {}
        for name, v in ds.variables.items():
            variables[name] = (tuple(v.dimensions), _LazyVar(v, ds))
            var_attrs[name] = {k: v.getncattr(k) for k in v.ncattrs()}
        global_attrs = {k: ds.getncattr(k) for k in ds.ncattrs()}
        return GridDataset(dims, variables, var_attrs, global_attrs)
    try:
        import xarray as xr  # type: ignore
    except ImportError:
        xr = None
    if xr is not None:
        ds = xr.open_dataset(path, decode_cf=False)
        dims = dict(ds.sizes)
        variables = {
            n: (tuple(v.dims), _LazyVar(v, ds)) for n, v in ds.variables.items()
        }
        var_attrs = {n: dict(v.attrs) for n, v in ds.variables.items()}
        return GridDataset(dims, variables, var_attrs, dict(ds.attrs))
    # no nd library installed: self-contained parsers — NetCDF4/HDF5
    # (hdf5lite: superblocks v0-v3, dense links/attrs, chunked+
    # shuffle/deflate, DIMENSION_LIST dims) or NetCDF3 classic; both read
    # through the byte-source abstraction (bytesource.py), so `path` may
    # be an object-store URI
    from beacon_spark.sources import bytesource as _bs

    magic = _bs.read_head(path, 8)
    if magic == b"\x89HDF\r\n\x1a\n":
        from beacon_spark.sources.hdf5lite import read_hdf5_grid

        return GridDataset(*read_hdf5_grid(path))
    from beacon_spark.sources.netcdf3 import read_netcdf3

    return GridDataset(*read_netcdf3(path))


def open_zarr(path: str) -> GridDataset:
    """Open a Zarr v2/v3 store as a GridDataset — via the zarr package
    when present (arrays wrapped lazily; slicing reads only intersecting
    chunks), else the self-contained chunk-lazy directory-store reader
    (bytes/gzip/zlib/blosc/zstd codecs; exotic codecs raise naming the
    package)."""
    try:
        import zarr  # type: ignore
    except ImportError:
        from beacon_spark.sources.zarrlite import read_zarr_store

        return GridDataset(*read_zarr_store(path))
    g = zarr.open_group(path, mode="r")
    dims: dict[str, int] = {}
    variables = {}
    var_attrs = {}
    for name, arr in g.arrays():
        adims = tuple(arr.attrs.get("_ARRAY_DIMENSIONS", [f"dim_{i}" for i in range(arr.ndim)]))
        for d, s in zip(adims, arr.shape):
            dims[d] = s
        variables[name] = (adims, _LazyVar(arr, g))
        var_attrs[name] = {k: v for k, v in arr.attrs.items() if k != "_ARRAY_DIMENSIONS"}
    return GridDataset(dims, variables, var_attrs, dict(g.attrs))


def open_tiff(path: str) -> GridDataset:
    from beacon_spark.sources.tifflite import open_tiff as _ot

    return _ot(path)


def open_atlas(path: str) -> GridDataset:
    from beacon_spark.sources.atlaslite import open_atlas as _oa

    return _oa(path)


_OPENERS = {
    "netcdf": open_netcdf,
    "zarr": open_zarr,
    "hdf5": open_netcdf,
    "tiff": open_tiff,
    "atlas": open_atlas,
}


# ------------------------------------------------------------ spark reader


def coord_region(
    ds: GridDataset,
    dimensions: list[str] | None,
    ranges: dict[str, tuple[float | None, float | None]] | None,
) -> list[tuple[int, int]] | None:
    """Any-dimension coordinate pushdown (the reference's PushdownFilter,
    ``beacon-nd-array/src/arrow/pushdown_filter.rs:11-99`` → chunk-grid
    selection over EVERY dim, ``beacon-arrow-zarr/src/datafusion/
    source.rs:165-305``): each AND-ed numeric range on a grid dimension's
    1-D coordinate variable maps to an index hull on that dimension; the
    region is the hyper-rectangle of hulls. A lat/lon box on a
    (time, lat, lon) grid therefore prunes chunks on lat AND lon, not
    just time. Returns ``None`` when any hull is empty (zero rows);
    unconstrainable dims stay full (fail-open — the residual Spark
    filter keeps correctness)."""
    grid = ds.grid(dimensions)
    region = [(0, ds.dims[d]) for d in grid]
    if not grid or not ranges:
        return region
    for gi, dim in enumerate(grid):
        for key, spec in ranges.items():
            # a range constrains this dim when its key names the dim's
            # own coordinate variable OR any other 1-D variable lying on
            # the dim (CF coords often carry names unrelated to their
            # dimension — a GeoTIFF's geo.lat rides dim y); several keys
            # on one dim intersect their hulls
            if spec is None or key not in ds.variables:
                continue
            dims_of, coord = ds.variables[key]
            if dims_of != (dim,):
                continue
            vals, _ = decode_cf(
                np.ascontiguousarray(np.asarray(coord)),
                ds.var_attrs.get(key, {}),
            )
            if isinstance(vals, np.ma.MaskedArray) or vals.dtype.kind not in "iuf":
                continue
            lo, hi = spec
            mask = np.ones(len(vals), bool)
            if lo is not None:
                mask &= vals >= lo
            if hi is not None:
                mask &= vals <= hi
            if not mask.any():
                return None
            i0 = int(np.argmax(mask))
            i1 = len(mask) - int(np.argmax(mask[::-1]))
            c0, c1 = region[gi]
            region[gi] = (max(c0, i0), min(c1, i1))
            if region[gi][0] >= region[gi][1]:
                return None
    return region


#: floor on adaptive task size — below this the per-task costs (store
#: metadata open, Python worker round-trip, Arrow framing) dominate the
#: decode they parallelize
_MIN_TASK_ROWS = 65_536


def _lead_block_rows(ds: GridDataset, dimensions, region) -> int:
    """Rows per leading-grid-dimension storage block (chunk band) of the
    grid-defining variable, in the region's row space. Task boundaries
    aligned to this decode every chunk/strip exactly once; splitting
    mid-band makes adjacent tasks re-decode the shared band (chunked
    formats decode whole chunks to slice them). 0 = no alignment
    constraint (contiguous layouts split freely)."""
    try:
        grid = ds.grid(dimensions)
        if not grid or not region:
            return 0
        best, vol = None, -1
        for dims_of, arr in ds.variables.values():
            if tuple(dims_of) != tuple(grid):
                continue
            v = int(np.prod([ds.dims[d] for d in dims_of]))
            if v > vol:
                vol, best = v, arr
        if best is None:
            return 0
        lead = 0
        cs = getattr(best, "chunk_shape", None)  # ZarrLazyArray
        if cs:
            lead = int(cs[0])
        elif getattr(best, "img", None) is not None:  # _TiffLazyBand
            img = best.img
            lead = int(img.th if img.tiled else (img.rps or 0))
        else:  # _H5Lazy (chunked layouts carry chunk_shape on Layout)
            lay = getattr(getattr(best, "ds", None), "layout", None)
            cs2 = getattr(lay, "chunk_shape", ()) if lay is not None else ()
            if cs2:
                lead = int(cs2[0])
        if lead <= 0:
            return 0
        inner = (int(np.prod([hi - lo for lo, hi in region[1:]]))
                 if len(region) > 1 else 1)
        return max(lead * max(inner, 1), 0)
    except Exception:
        return 0  # alignment is an optimization, never a gate


def effective_rows_per_task(n_total: int, cap: int, parallelism: int) -> int:
    """Scale-adaptive task rows (guide §2.2/§6: derive partitioning from
    input size, not a constant): target ~2 tasks per core over the whole
    scan so one big file still fans out, floored at ``_MIN_TASK_ROWS`` so
    per-task overhead stays amortized, capped at the caller's
    ``rows_per_task``. The previous fixed 1M-row default planned a
    sliced 800k-row store as ONE task — a serial decode on a 32-core
    machine (plans/r14/nd_zarr_slice_before.txt: Exchange
    SinglePartition)."""
    if n_total <= 0 or parallelism <= 0:
        return cap
    return max(1, min(cap, max(_MIN_TASK_ROWS,
                               -(-n_total // (parallelism * 2)))))


def split_task_rows(n: int, eff: int, block: int, lead_off: int) -> list[tuple[int, int]]:
    """Split ``n`` region rows into [lo, hi) tasks of ~``eff`` rows.
    With a storage ``block`` (rows per chunk band), boundaries snap to
    ABSOLUTE band edges — ``lead_off`` is the row offset from the region
    start back to the enclosing band's start — so no two tasks decode
    the same band. eff is first rounded to a whole number of bands."""
    if n <= 0:
        return []
    eff = max(eff, 1)
    if block and block > 0:
        eff = max(block, (eff // block) * block)
        # first absolute band edge AFTER row 0 of the region
        first = (block - (lead_off % block)) % block
        if first == 0:
            first = eff  # region starts on a band edge: plain eff steps
        cuts, c = [0], first
        while c < n:
            cuts.append(c)
            c += eff
        cuts.append(n)
        return [(cuts[i], cuts[i + 1]) for i in range(len(cuts) - 1)]
    return [(lo, min(lo + eff, n)) for lo in range(0, n, eff)]


def rdd_slice_count(n_tasks: int, parallelism: int) -> int:
    """RDD slices for the planned task list: one slice per task up to a
    scale-adaptive cap. The old fixed 256 silently serialized >=4 tasks
    per slice on clusters past 1024 cores (r14 verdict #1); tasks are
    cheap driver-side metadata, so the cap only bounds scheduler
    overhead for scans that plan tens of thousands of tasks."""
    return min(n_tasks, max(256, parallelism))


def interleave_tasks(tasks: list, n_slices: int) -> list:
    """Round-robin reorder so a contiguous slice split spreads adjacent
    same-file/same-region tasks (whose decode cost correlates with
    position) across slices — the straggler-skew guard the removed
    RoundRobin Exchange used to provide, without the shuffle (ADVICE
    r14). No-op when every task gets its own slice."""
    if n_slices >= len(tasks) or n_slices <= 0:
        return tasks
    return [t for i in range(n_slices) for t in tasks[i::n_slices]]


def nd_rows_per_task(spark) -> int:
    """Row cap per nd scan task: ``spark.beacon.nd.rowsPerTask`` (default
    1M). Both the DSL and the SQL ``read_*`` surface size tasks through
    :func:`read_nd`, so this is the one place the setting is read."""
    return int(spark.conf.get("spark.beacon.nd.rowsPerTask", "1000000"))


def _spark_safe(t: pa.DataType) -> pa.DataType:
    """Widen an Arrow type to what Spark's ArrowUtils accepts (it rejects
    unsigned ints outright): the BATCHES must match the widened Spark
    schema, not just the schema declaration — a uint8 TIFF band crashed
    at read time otherwise."""
    if pa.types.is_uint8(t):
        return pa.int16()
    if pa.types.is_uint16(t):
        return pa.int32()
    if pa.types.is_uint32(t):
        return pa.int64()
    if pa.types.is_uint64(t):
        return pa.decimal128(20, 0)
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return pa.timestamp("us", t.tz)
    return t


def nd_sample_schema(fmt: str, path: str, dimensions: list[str] | None = None,
                     columns: list[str] | None = None) -> pa.Schema:
    """The Spark-safe Arrow schema of an nd scan, from a 1-row sample of
    ``path`` (so constant attribute columns carry their value type, not
    null). The sample region is the first element of every grid
    dimension, so lazy variables decode one chunk each, not a whole
    leading hyper-row. The one schema source for :func:`read_nd` and the
    engine's SQL placeholder views. An atlas marker path samples its
    first dataset."""
    if fmt == "atlas":
        from beacon_spark.sources.atlaslite import DATASET_SEP, list_datasets

        if DATASET_SEP not in path:
            names = list_datasets(path)
            if not names:
                raise FileNotFoundError(f"atlas store {path!r} has no datasets")
            path = f"{path}{DATASET_SEP}{names[0]}"
    ds = _OPENERS[fmt](path)
    region = [(0, min(1, ds.dims[d])) for d in ds.grid(dimensions)]
    sample = ds.flatten(dimensions, columns=columns, row_range=(0, 1),
                        region=region).schema
    return pa.schema([pa.field(f.name, _spark_safe(f.type)) for f in sample])


def read_nd(
    spark,
    fmt: str,
    paths: str | list[str],
    datasets_root: str | None = None,
    dimensions: list[str] | None = None,
    rows_per_task: int | None = None,
    ranges: dict[str, tuple[float | None, float | None]] | None = None,
    columns: list[str] | None = None,
):
    """Distributed nd read: plan (file, region, row-chunk) tasks, flatten
    per task.

    ``columns`` = projection pushdown (the DSL's select+filter column
    set, or the attributes Catalyst's optimized plan references for a
    SQL ``read_*`` call): only the named variables flatten and ship
    through the Arrow boundary — on a wide store the python-worker
    transfer is the scan's dominant cost. None = every variable.
    ``rows_per_task`` defaults to :func:`nd_rows_per_task`.

    Planning learns each file's grid size and coordinate hulls from
    *metadata + coordinate variables only* (lazy openers touch no data
    chunks), computes the pruned region per file (``coord_region`` — the
    reference's chunk-grid pruning), and splits the region's row space
    into ``rows_per_task`` chunks so a single huge file still
    parallelizes across the cluster. Past a file-count threshold the
    per-file planning itself runs distributed (one metadata open per
    executor task) instead of serially on the driver — at 100k files the
    driver never opens them one by one.
    """
    import json as _json

    from pyspark.sql import types as T

    from beacon_spark.sources.paths import resolve_globs
    from beacon_spark.sources.tabular import _arrow_to_spark_schema

    files = resolve_globs(paths, datasets_root)
    opener = _OPENERS[fmt]
    if rows_per_task is None:
        rows_per_task = nd_rows_per_task(spark)

    def _plan(f: str):
        ds = opener(f)
        region = coord_region(ds, dimensions, ranges)
        if region is None:
            return f, None, 0, 0, 0
        n = int(np.prod([hi - lo for lo, hi in region])) if region else 1
        block = _lead_block_rows(ds, dimensions, region)
        inner = (int(np.prod([hi - lo for lo, hi in region[1:]]))
                 if len(region) > 1 else 1)
        lead = region[0][0] if region else 0
        # row offset from the region start back to its band's start
        lead_off = ((lead % (block // max(inner, 1))) * inner
                    if block and inner else 0)
        return f, region, n, block, lead_off

    if len(files) > 64:
        sc = spark.sparkContext
        plans = sc.parallelize(files, max(1, len(files) // 32)).map(_plan).collect()
    else:
        plans = [_plan(f) for f in files]

    # scale-adaptive task sizing (guide §2.2): ~2 tasks/core over the
    # whole scan, chunk-band-aligned per file so no band decodes twice
    n_total = sum(p[2] for p in plans)
    eff = effective_rows_per_task(
        n_total, rows_per_task, spark.sparkContext.defaultParallelism)
    tasks: list[tuple[str, str, int, int]] = []
    for f, region, n, block, lead_off in plans:
        if region is None or n == 0:
            continue
        rjson = _json.dumps(region)
        # an explicit rows_per_task below the band size is an intent to
        # split fine (tests pin task counts with it) — the redundant
        # band decode is the caller's accepted trade; alignment applies
        # only when a whole band fits under the cap
        use_block = block if block <= rows_per_task else 0
        for lo, hi in split_task_rows(n, eff, use_block, lead_off):
            tasks.append((f, rjson, lo, hi))

    sample_schema = nd_sample_schema(fmt, files[0], dimensions, columns)
    spark_schema = _arrow_to_spark_schema(sample_schema)
    if not tasks:
        # every chunk provably outside the requested coordinate ranges
        return spark.createDataFrame([], spark_schema)
    # parallelize the task list straight into one-slice-per-task RDD
    # partitions (capped): a createDataFrame(...).repartition(n) spread
    # the same rows through a full round-robin Exchange stage — one
    # shuffle barrier per nd read for a list that is already in driver
    # memory (guide §2.4: remove shuffles outright; the before-plan
    # shows Exchange RoundRobinPartitioning feeding MapInArrow).
    # Slice cap scales with the cluster (r14 verdict #1) and adjacent
    # tasks interleave across slices (ADVICE r14) — see the helpers.
    n_slices = rdd_slice_count(
        len(tasks), spark.sparkContext.defaultParallelism)
    tasks = interleave_tasks(tasks, n_slices)
    tasks_df = spark.createDataFrame(
        spark.sparkContext.parallelize(tasks, n_slices),
        T.StructType(
            [
                T.StructField("path", T.StringType(), False),
                T.StructField("region", T.StringType(), False),
                T.StructField("lo", T.LongType(), False),
                T.StructField("hi", T.LongType(), False),
            ]
        ),
    )

    target_fields = list(sample_schema)

    def _scan(batches):
        for b in batches:
            for row in b.to_pylist():
                ds = opener(row["path"])
                region = [tuple(r) for r in _json.loads(row["region"])]
                table = ds.flatten(
                    dimensions, columns=columns,
                    row_range=(row["lo"], row["hi"]), region=region,
                )
                # align to the sample schema: null-fill missing columns,
                # cast mismatched types (multi-file supertype safety)
                cols = []
                for fld in target_fields:
                    if fld.name in table.column_names:
                        col = table.column(fld.name)
                        if col.type != fld.type:
                            col = col.cast(fld.type)
                    else:
                        col = pa.nulls(table.num_rows, fld.type)
                    cols.append(col)
                table = pa.table(cols, names=[fld.name for fld in target_fields])
                yield from table.to_batches(max_chunksize=1 << 16)

    return tasks_df.mapInArrow(_scan, spark_schema)
