"""Glob resolution against a datasets root.

Mirrors the reference's listing-URL resolution (table functions accept one
glob or a list of globs resolved against the datasets root,
``docs/docs/2.0.0-rc2/sql/table-functions.md:8-23``). Local globs use
``glob``; object-store URIs list through the scheme's filesystem
(``bytesource``). The engine materializes the file list here and reads
every footer or header from it (per-file schema harmonization, stats
pruning); Spark then receives that explicit list and only stats the given
files, above its discovery threshold in a listing job of one task per core
(``session.get_spark``). Hive-partitioned roots are handed over as roots,
so Spark's own partition discovery still applies to them.
"""

from __future__ import annotations

import glob as _glob
import os

from beacon_spark.auth import is_internal


def resolve_globs(paths: str | list[str], datasets_root: str | None = None) -> list[str]:
    from beacon_spark.sources import bytesource as _bs

    if isinstance(paths, str):
        paths = [paths]
    out: list[str] = []
    for p in paths:
        if datasets_root is not None and not os.path.isabs(p) and not _bs.is_uri(p):
            p = (
                _bs.join(datasets_root, p)
                if _bs.is_uri(datasets_root)
                else os.path.join(datasets_root, p)
            )
        if any(ch in p for ch in "*?["):
            # URI globs list through the scheme's filesystem (object-store
            # listing); local globs stay glob.glob
            out.extend(_bs.glob(p) if _bs.is_uri(p) else sorted(_glob.glob(p, recursive=True)))
        else:
            out.append(p)
    if not out:
        raise FileNotFoundError(f"no files matched {paths!r}")
    return out


def resolve_dir(path: str, datasets_root: str | None = None) -> str:
    """Resolve a single directory location (Delta/Iceberg table roots —
    not globbable) against the datasets root. Object-store URIs pass
    through (joining them under the root would mangle the scheme)."""
    from beacon_spark.sources import bytesource as _bs

    if (
        datasets_root is not None
        and not os.path.isabs(path)
        and not _bs.is_uri(path)
    ):
        return os.path.join(datasets_root, path)
    return path


def expand_parquet_dirs(files: list[str]) -> list[str]:
    """Expand Spark/Hive-written parquet DIRECTORY datasets into their part
    files (skipping _SUCCESS/_committed/hidden); plain files pass through.
    Keeps footer-level code (supertype scan, stats collection) working on
    real files while spark.read accepts either form."""
    from beacon_spark.sources import bytesource as _bs

    out: list[str] = []
    for f in files:
        if _bs.is_uri(f):
            if _bs.isdir(f):
                out.extend(
                    sorted(
                        p
                        for p in _bs.glob(_bs.join(f, "**", "*.parquet"))
                        if not _bs.basename(p).startswith(("_", "."))
                    )
                )
            else:
                out.append(f)
        elif os.path.isdir(f):
            out.extend(
                sorted(
                    p
                    for p in _glob.glob(os.path.join(f, "**", "*.parquet"), recursive=True)
                    if not os.path.basename(p).startswith(("_", "."))
                )
            )
        else:
            out.append(f)
    return out or files


_FORMAT_BY_EXT = {
    ".parquet": "parquet", ".pq": "parquet",
    ".csv": "csv", ".tsv": "csv", ".txt": "odv",
    ".arrow": "arrow", ".feather": "arrow", ".ipc": "arrow",
    ".nc": "netcdf", ".nc4": "netcdf", ".cdf": "netcdf",
    ".h5": "hdf5", ".hdf5": "hdf5",
    ".zarr": "zarr", ".tif": "tiff", ".tiff": "tiff",
    ".json": "json", ".jsonl": "json", ".ndjson": "json",
}


def detect_format(path: str) -> str | None:
    """Best-effort format detection by extension (the reference's
    ``list_datasets`` does the same per-file detection,
    ``beacon-functions/src/file_formats/list_datasets.rs``)."""
    if path.rstrip("/").endswith(".zarr"):
        return "zarr"
    _, ext = os.path.splitext(path)
    return _FORMAT_BY_EXT.get(ext.lower())


def list_datasets(datasets_root: str) -> list[tuple[str, str | None]]:
    """Walk the datasets root (local dir or object-store URI);
    (relative_path, detected format) per file."""
    from beacon_spark.sources import bytesource as _bs

    remote = _bs.is_uri(datasets_root)
    join = _bs.join if remote else os.path.join
    root = datasets_root.rstrip("/")

    def rel_of(p: str) -> str:
        if remote:
            return p[len(root):].lstrip("/")
        return os.path.relpath(p, datasets_root)

    out: list[tuple[str, str | None]] = []
    # dataset directories already claimed — their contents are chunks/
    # part-files of ONE dataset, never datasets themselves
    claimed: list[str] = []
    for dirpath, dirnames, filenames in (
        _bs.walk(datasets_root) if remote else os.walk(datasets_root)
    ):
        dp = str(dirpath)
        if any(dp == c or dp.startswith(c + "/") or dp.startswith(c + os.sep)
               for c in claimed):
            continue
        # a .zarr store, a Spark-written .parquet directory, or a
        # Hive-partitioned layout (key=value subdirs) is ONE dataset —
        # don't descend into its chunks/part-files (the reference's
        # crawler does the same hive detection, crawler/discovery.rs)
        ds_dirs = [
            d
            for d in dirnames
            if d.endswith((".zarr", ".parquet")) or _is_hive_partitioned(
                join(dp, d)
            )
        ]
        for d in ds_dirs:
            rel = rel_of(join(dp, d))
            fmt = "zarr" if d.endswith(".zarr") else "parquet"
            out.append((rel, fmt))
            if not remote:
                dirnames.remove(d)  # os.walk: prune descent in place
            claimed.append(join(dp, d))
        for f in filenames:
            if f.startswith(("_", ".")):  # _SUCCESS, _committed, hidden
                continue
            rel = rel_of(join(dp, f))
            out.append((rel, detect_format(rel)))
    # the engine's own state (catalog, statistics) is no dataset
    return sorted(e for e in out if not is_internal(e[0]))


def _is_hive_partitioned(path: str) -> bool:
    """True when a directory's children are key=value partition dirs
    (ultimately holding parquet) — Spark reads such a root natively with
    partition pruning, so it must register as one dataset."""
    from beacon_spark.sources import bytesource as _bs

    if _bs.is_uri(path):
        try:
            entries = _bs.listdir(path)
        except (OSError, FileNotFoundError):
            return False
        parts = [
            e for e in entries
            if "=" in e and _bs.isdir(_bs.join(path, e))
        ]
        return bool(parts) and all(
            e.startswith(("_", ".")) or "=" in e for e in entries
        )
    try:
        entries = os.listdir(path)
    except OSError:
        return False
    parts = [
        e
        for e in entries
        if "=" in e and os.path.isdir(os.path.join(path, e))
    ]
    return bool(parts) and all(
        e.startswith(("_", ".")) or "=" in e for e in entries
    )
