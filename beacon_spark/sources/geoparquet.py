"""GeoParquet source: parquet + `geo` file metadata → geometry as WKT.

The reference decodes GeoParquet's WKB geometry columns to GeoArrow
(``beacon-db/beacon-file-formats/beacon-arrow-geoparquet/src/``,
table-functions.md:146-152). Spark has no geometry type, so the documented
mapping here is: each geometry column is decoded WKB → **WKT string**
(the engine's geometry currency — st_within_point and the GeoJSON filter
consume WKT).

Scale: the parquet scan is Spark's vectorized reader (pushdown intact for
the non-geometry columns); WKB decode is an Arrow-batched pandas UDF applied
only to the geometry column(s) — per-batch, executor-side, no shuffle.
"""

from __future__ import annotations

import json

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from beacon_spark.sources.paths import expand_parquet_dirs, resolve_globs

__all__ = ["read_geoparquet", "geo_metadata"]


def geo_metadata(path: str) -> dict | None:
    """The parsed `geo` file-metadata block, or None for plain parquet."""
    md = pq.read_schema(path).metadata or {}
    raw = md.get(b"geo")
    return json.loads(raw) if raw else None


def read_geoparquet(
    spark: SparkSession,
    paths: str | list[str],
    datasets_root: str | None = None,
) -> DataFrame:
    """``read_geoparquet(globs)``: parquet scan + WKB→WKT decode of every
    column the `geo` metadata declares (encoding=WKB)."""
    from beacon_spark.functions.geo import wkb_to_wkt_udf
    from beacon_spark.sources.tabular import read_parquet

    files = expand_parquet_dirs(resolve_globs(paths, datasets_root))
    meta = geo_metadata(files[0])
    if meta is None:
        raise ValueError(f"no 'geo' metadata in {files[0]} — use read_parquet")
    geom_cols = [
        name
        for name, spec in meta.get("columns", {}).items()
        if spec.get("encoding", "WKB").upper() == "WKB"
    ]
    df = read_parquet(spark, files)
    decode = wkb_to_wkt_udf()
    for c in geom_cols:
        df = df.withColumn(c, decode(df[c]))
    return df
