#!/usr/bin/env python3
"""Listing probe: what Spark's re-listing of an engine-resolved file list
costs, under Spark's default and under the session's setting.

``tabular.read_parquet`` globs a collection and reads every footer, then
hands Spark the explicit file list. Above 32 paths Spark stats that list
in a listing job whose task count is
``min(paths, spark.sql.sources.parallelPartitionDiscovery.parallelism)``.
Spark's default for that conf is 10000, so one task per file;
``session.get_spark`` sets it to ``defaultParallelism``, one task per
core. This probe builds (plans, does not execute) a ``read_parquet``
DataFrame over 64/1024/8192 one-row local parquet files under both
settings, interleaved build by build, and reports build time plus the
listing jobs and tasks each build launched.

Usage: python scripts/probe_listing.py [--sizes 64,1024,8192] [--repeats 3]
Prints one JSON line:
  {"master", "cores", "sizes": {N: {"spark_default": {...},
   "per_core": {...}}}}
with per setting ``build_ms`` (every build, in order), ``best_ms``,
``jobs`` and ``listing_tasks`` (tasks of the last build's jobs). The
fixture files are cached in the temp dir by size; the first run pays
the writes. Set SPARK_GRAFT_CPUS to choose local[N] and
SPARK_DRIVER_MEMORY to size the driver.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEY = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def _fixture(n: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(tempfile.gettempdir(), "beacon-spark-probe-listing", str(n))
    done = os.path.join(d, "_done")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        for i in range(n):
            pq.write_table(pa.table({"id": pa.array([i], pa.int64())}),
                           os.path.join(d, f"f{i:05d}.parquet"))
        open(done, "w").close()
    return d


def _build(spark, root: str) -> tuple[float, int, int]:
    """(build ms, jobs, tasks) of one read_parquet DataFrame build."""
    from beacon_spark.sources import tabular

    sc = spark.sparkContext
    gid = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, "listing probe")
    try:
        t0 = time.perf_counter()
        tabular.read_parquet(spark, "*.parquet", root)
        ms = (time.perf_counter() - t0) * 1e3
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 10  # job status reaches the tracker async
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(gid)]
        if time.time() > deadline or all(
                j is not None and j.status == "SUCCEEDED" for j in jobs):
            break
        time.sleep(0.05)
    tasks = sum(tracker.getStageInfo(s).numTasks
                for j in jobs if j is not None for s in j.stageIds)
    return ms, len(jobs), tasks


def main() -> None:
    sizes = [64, 1024, 8192]
    repeats = 3
    if "--sizes" in sys.argv:
        sizes = [int(s) for s in sys.argv[sys.argv.index("--sizes") + 1].split(",")]
    if "--repeats" in sys.argv:
        repeats = int(sys.argv[sys.argv.index("--repeats") + 1])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    from beacon_spark.session import get_spark

    spark = get_spark(app_name="beacon_probe_listing", master=f"local[{cpus}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    per_core = spark.conf.get(KEY)
    settings = {"spark_default": None, "per_core": per_core}
    out: dict[str, dict] = {}
    for n in sizes:
        root = _fixture(n)
        _build(spark, root)  # warm the footer path and JIT once per size
        res = {name: {"build_ms": []} for name in settings}
        for _ in range(repeats):
            for name, value in settings.items():
                if value is None:
                    spark.conf.unset(KEY)
                else:
                    spark.conf.set(KEY, value)
                ms, jobs, tasks = _build(spark, root)
                r = res[name]
                r["build_ms"].append(round(ms, 1))
                r["jobs"], r["listing_tasks"] = jobs, tasks
                print(f"  {n} files {name}: {ms:.0f} ms, {jobs} job(s), "
                      f"{tasks} task(s)", file=sys.stderr)
        for r in res.values():
            r["best_ms"] = min(r["build_ms"])
        out[str(n)] = res
    spark.conf.set(KEY, per_core)
    print(json.dumps({"master": spark.sparkContext.master,
                      "cores": spark.sparkContext.defaultParallelism,
                      "sizes": out}))
    spark.stop()


if __name__ == "__main__":
    main()
