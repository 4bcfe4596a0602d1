#!/usr/bin/env python3
"""Auth-cost probe: what the read checks add to ``Engine.sql``.

``Engine.sql(statement, user=…)`` plans a statement (it does not run
it). For the embedded caller (``user=None``) no read check applies; for
a restricted user under ``SET AUTH ENFORCEMENT ON`` every read the
statement resolves is checked against the user's grants. This probe
builds each statement below as both callers, interleaved build by
build, and reports the median build time of each:

- ``catalog_table``: an aggregate over a managed catalog table;
- ``read_parquet_64``: an aggregate over a 64-file ``read_parquet``
  glob (footers are read at build time);
- ``subquery``: a catalog table filtered by an ``IN`` subquery over a
  second catalog table.

The restricted user is granted exactly what the statements read (both
tables and the collection's path glob).

Usage: python scripts/probe_auth_cost.py [--repeats 30]
Prints one JSON line:
  {"master", "cores", "repeats", "statements": {name: {"none_ms": [...],
   "restricted_ms": [...], "none_p50_ms", "restricted_p50_ms",
   "delta_p50_ms"}}}
The fixture (a catalog root with 64 one-row parquet files) is written to
a fresh temp dir and removed at the end. Set SPARK_GRAFT_CPUS to choose
local[N].
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STATEMENTS = {
    "catalog_table": "SELECT count(*) AS n, max(v) AS m FROM obs",
    "read_parquet_64": ("SELECT count(*) AS n, max(id) AS m "
                        "FROM read_parquet('lake/*.parquet')"),
    "subquery": ("SELECT count(*) AS n FROM obs "
                 "WHERE id IN (SELECT id FROM platforms WHERE id < 50)"),
}


def _lake(root: str, n: int = 64) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(root, "lake")
    os.makedirs(d, exist_ok=True)
    for i in range(n):
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}),
                       os.path.join(d, f"f{i:05d}.parquet"))


def _engine(spark, root: str):
    from beacon_spark.engine import Engine

    _lake(root)
    eng = Engine(spark, datasets_root=root)
    for stmt in (
        "CREATE TABLE obs AS SELECT id, id * 0.5 AS v FROM range(1000)",
        "CREATE TABLE platforms AS SELECT id FROM range(100)",
        "CREATE USER reader WITH PASSWORD 'pw'",
        "CREATE ROLE readers",
        "GRANT ROLE readers TO USER reader",
        "GRANT SELECT ON TABLE obs TO ROLE readers",
        "GRANT SELECT ON TABLE platforms TO ROLE readers",
        "GRANT SELECT ON PATH 'lake/*' TO ROLE readers",
        "SET AUTH ENFORCEMENT ON",
    ):
        eng.sql(stmt)
    return eng


def _build_ms(eng, statement: str, user) -> float:
    t0 = time.perf_counter()
    eng.sql(statement, user=user)
    return (time.perf_counter() - t0) * 1e3


def main() -> None:
    repeats = 30
    if "--repeats" in sys.argv:
        repeats = int(sys.argv[sys.argv.index("--repeats") + 1])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    from beacon_spark.session import get_spark

    spark = get_spark(app_name="beacon_probe_auth", master=f"local[{cpus}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    root = tempfile.mkdtemp(prefix="beacon-spark-probe-auth-")
    eng = _engine(spark, root)
    callers = {"none": None, "restricted": "reader"}
    out: dict[str, dict] = {}
    for name, statement in STATEMENTS.items():
        for user in callers.values():  # warm the path and JIT once
            for _ in range(3):
                _build_ms(eng, statement, user)
        res = {f"{c}_ms": [] for c in callers}
        for i in range(repeats):
            # alternate which caller goes first, so drift hits both
            order = list(callers.items())
            for c, user in (order if i % 2 == 0 else order[::-1]):
                res[f"{c}_ms"].append(round(_build_ms(eng, statement, user), 2))
        for c in callers:
            res[f"{c}_p50_ms"] = round(statistics.median(res[f"{c}_ms"]), 2)
        res["delta_p50_ms"] = round(
            res["restricted_p50_ms"] - res["none_p50_ms"], 2)
        print(f"  {name}: none {res['none_p50_ms']} ms, restricted "
              f"{res['restricted_p50_ms']} ms", file=sys.stderr)
        out[name] = res
    print(json.dumps({"master": spark.sparkContext.master,
                      "cores": spark.sparkContext.defaultParallelism,
                      "repeats": repeats, "statements": out}))
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
