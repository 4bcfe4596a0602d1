"""Beacon-specific scalar functions, re-expressed as Column builders.

Reference registry: ``beacon-functions/src/lib.rs:27-56``. Everything here
stays JVM-side (pure Column expressions — whole-stage codegen'd); only the
geo functions (geo.py) need pandas UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beacon_spark.version import VERSION

# Arrow type-name → Spark type mapping for try_arrow_cast
# (beacon-functions/src/util/try_arrow_cast.rs — TRY_CAST with Arrow names).
_ARROW_NAME_TO_SPARK: dict[str, str] = {
    "boolean": "boolean", "bool": "boolean",
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "uint8": "smallint", "uint16": "int", "uint32": "bigint",
    "uint64": "decimal(20,0)",
    "float16": "float", "float32": "float", "float64": "double",
    "utf8": "string", "largeutf8": "string", "utf8view": "string",
    "binary": "binary", "largebinary": "binary",
    "date32": "date", "date64": "date",
}


def _arrow_name_to_spark(name: str) -> str:
    key = name.strip().lower()
    if key in _ARROW_NAME_TO_SPARK:
        return _ARROW_NAME_TO_SPARK[key]
    if key.startswith("timestamp"):
        return "timestamp"
    if key.startswith("decimal"):
        # Arrow spells parametrized decimals Decimal128(p, s) /
        # Decimal256(p, s); Spark's type name is decimal(p, s)
        return re.sub(r"^decimal(?:128|256)", "decimal", key)
    if key.startswith("duration") or key.startswith("interval"):
        return "interval day to second"
    # already a spark name? pass through — try_cast validates
    return key


def try_arrow_cast(col: Column | str, arrow_type: str) -> Column:
    """``try_arrow_cast(expr, 'Int32')`` — TRY_CAST accepting Arrow type
    names (try_arrow_cast.rs). NULL on failure, never an error."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(_arrow_name_to_spark(arrow_type))


def coalesce_label(*pairs) -> Column:
    """``coalesce_label(c1, 'label1', c2, 'label2', …)`` — the label of the
    first non-null column (beacon-functions/src/util/coalesce_label.rs).
    Compiled to a nested CASE WHEN — fully codegen'd."""
    if len(pairs) % 2 != 0:
        raise ValueError("coalesce_label takes (column, label) pairs")
    expr = F.lit(None).cast("string")
    for col, label in reversed(list(zip(pairs[::2], pairs[1::2]))):
        c = F.col(col) if isinstance(col, str) else col
        lbl = F.lit(label) if isinstance(label, str) else label
        expr = F.when(c.isNotNull(), lbl).otherwise(expr)
    return expr


def cast_int8_as_char(col: Column | str) -> Column:
    """ASCII code → 1-char string (util/cast_int8_as_char.rs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.char(c.cast("int"))


def beacon_version() -> Column:
    return F.lit(VERSION)


def map_lookup(mapping: dict, col: Column | str) -> Column:
    """Vocabulary-mapper builder (beacon-functions/src/blue_cloud/**): a
    static code→code dict compiled to a MapType literal + element_at —
    JVM-side, broadcast with the plan, NULL when absent."""
    c = F.col(col) if isinstance(col, str) else col
    items = []
    for k, v in mapping.items():
        items.extend([F.lit(k), F.lit(v)])
    return F.element_at(F.create_map(*items), c)


def register_functions(spark: SparkSession) -> None:
    """Register the SQL-callable subset (used by Engine.sql and the JSON
    DSL's function select items via F.call_function). Idempotent per
    SparkSession — Engine constructs per query in some paths, and the
    ST/domain registration (SQL UDF statements + dozens of pandas UDFs)
    costs ~0.5s per pass."""
    if getattr(spark, "_beacon_fns_registered", False):
        return
    from beacon_spark.functions import geo
    from beacon_spark.functions.compat import register_compat_functions
    from beacon_spark.functions.domain import register_domain_functions
    from beacon_spark.functions.st import register_st_functions

    register_compat_functions(spark)
    register_domain_functions(spark)
    register_st_functions(spark)
    spark.udf.register("st_geojson_as_wkt", geo.st_geojson_as_wkt_udf())
    spark.udf.register("st_within_point", geo.st_within_point_udf())
    spark.udf.register(
        "cast_int8_as_char",
        # match F.char: out-of-range codes give '' — chr(-1) raised and
        # killed the query on any negative byte
        lambda c: None if c is None else (chr(c) if 0 <= c <= 0x10FFFF else ""),
        T.StringType()
    )
    spark.udf.register(
        "beacon_version",
        lambda: VERSION,
        T.StringType(),
    )
    # Java reflection from a SELECT (System.setProperty, System.exit) is
    # invisible to every read check, and Beacon has no such function
    registry = spark._jsparkSession.sessionState().functionRegistry()
    ident = spark._jvm.org.apache.spark.sql.catalyst.FunctionIdentifier
    for name in ("reflect", "java_method", "try_reflect"):
        registry.dropFunction(ident.apply(name))
    spark._beacon_fns_registered = True
