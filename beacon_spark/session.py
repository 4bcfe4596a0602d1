"""SparkSession factory tuned for the target deployment.

Local testing runs ``local[N]`` single-JVM; production target is a large
multi-executor cluster. Every config here is chosen to survive a 100 TB
deployment unchanged except parallelism knobs:

  - AQE on (runtime coalesce, skew-join splitting, dynamic join selection)
  - shuffle partitions sized to cores locally; on a real cluster AQE's
    coalescePartitions makes the initial number mostly irrelevant
  - Arrow on for every Python<->JVM boundary (pandas UDFs, toPandas)
  - file listing of a path list in one task per core, not one per path
  - UTC session timezone so timestamp semantics match the reference's
    (UTC-naive ns timestamps; Spark is µs — documented divergence, SURVEY §1.2)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "beacon_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # scalar @udf registrations (geo predicates, cast_int8_as_char,
        # vocab mappers' SQL surface) cross the Python boundary as Arrow
        # batches instead of pickled rows (guide §4.3/§9); return types
        # here are declared honestly, so the Arrow-cast coercion
        # difference is inert (suite + oracle pin every surface).
        # DOCUMENTED SESSION-WIDE BEHAVIOR (ADVICE r14): the flag also
        # switches THIRD-PARTY plain @udf registrations on this session
        # to Arrow serialization, whose type-mismatch coercion differs
        # from pickle (Arrow casts/errors where pickle nulls silently —
        # guide §4.3). External UDFs with sloppy return types should
        # pass useArrow=False per-udf to opt back out.
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        # let AQE rewrite a sort-merge join to shuffled-hash at runtime
        # when every post-shuffle map output is small (guide §3.1) —
        # runtime sizes, not plan-time estimates, make the call; 0
        # (default) disables the rewrite entirely
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                str(128 * 1024 * 1024))
        # parquet written by this engine (spools, managed tables, sf1
        # bench derivation) compresses zstd: smaller than snappy at
        # similar read speed (guide §6); explicit writer options still win
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "90g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # parquet ns-timestamps (Beacon's native unit) read as long; readers
        # rebuild µs timestamps explicitly (documented divergence, SURVEY §1.2)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # NOTE on reserved keywords: Spark's default non-reserved mode
        # parses `FROM t WHERE (flag)` as table alias `WHERE(flag)`,
        # SILENTLY swallowing the WHERE clause (found by the
        # DSL↔SQL↔DuckDB differential). enforceReservedKeywords=true
        # fixes that but reserves words like `column` that the
        # reference's metadata contract uses as identifiers — so the
        # engine disambiguates the dangerous spelling textually instead
        # (engine._rewrite_where_paren_ident).
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # File listing: one task per core, not one per path. Every file
    # collection reaches Spark as an explicit file list (the engine
    # globs and reads footers first), and above the discovery threshold
    # (32 paths) Spark stats that list in a job of min(paths, 10000)
    # tasks — 1024 files cost 1024 tasks whose scheduling dwarfs the
    # stat itself. Sized to defaultParallelism, each task lists
    # paths/cores files: never slower than one task per path, on any
    # store. The threshold stays at Spark's default on purpose: raising
    # it makes the driver stat every file serially, N × RTT on an
    # object store (about 20 s for 1024 files at 20 ms). The conf is
    # session-global and the server is threaded, so it is set once here,
    # never toggled per read; an explicit extra_conf entry wins.
    listing = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    if listing not in (extra_conf or {}):
        spark.conf.set(listing, str(spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("WARN")
    return spark
