#!/usr/bin/env python3
"""Auth-cost probe: what the read checks add to ``Engine.sql``.

``Engine.sql(statement, user=…, read_only=…)`` plans a statement (it
does not run it). For the embedded caller (``user=None``) no check
applies: it makes the one parse ``spark.sql`` makes. The other callers, interleaved build by
build with it:

- ``restricted``: a restricted user under ``SET AUTH ENFORCEMENT ON``;
  every read the statement resolves is checked against the user's
  grants, after the read-only parse;
- ``restricted_enforce_off``: the same user on a second catalog with
  enforcement off; it pays the read-only parse and the plan walk for
  internal ``__beacon*`` views, and no grant check;
- ``read_only``: the embedded caller with ``read_only=True``; it pays
  the read-only parse and its walk for script transforms.

The probe reports the median build time of each for the statements:

- ``catalog_table``: an aggregate over a managed catalog table;
- ``read_parquet_64``: an aggregate over a 64-file ``read_parquet``
  glob (footers are read at build time);
- ``subquery``: a catalog table filtered by an ``IN`` subquery over a
  second catalog table.

The restricted user is granted exactly what the statements read (both
tables and the collection's path glob).

Usage: python scripts/probe_auth_cost.py [--repeats 30]
Prints one JSON line:
  {"master", "cores", "repeats", "statements": {name: {"<caller>_ms":
   [...], "<caller>_p50_ms", and for every caller but none
   "<caller>_delta_p50_ms" (its p50 minus none's)}}}
The fixture (two catalog roots with 64 one-row parquet files each) is
written to a fresh temp dir and removed at the end. Set SPARK_GRAFT_CPUS
to choose local[N].
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


def _engine(spark, root: str, enforce: bool):
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
        f"SET AUTH ENFORCEMENT {'ON' if enforce else 'OFF'}",
    ):
        eng.sql(stmt)
    return eng


def _build_ms(statement: str, eng, user, read_only: bool) -> float:
    t0 = time.perf_counter()
    eng.sql(statement, user=user, read_only=read_only)
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
    eng = _engine(spark, os.path.join(root, "on"), enforce=True)
    eng_off = _engine(spark, os.path.join(root, "off"), enforce=False)
    callers = {"none": (eng, None, False),
               "restricted": (eng, "reader", False),
               "restricted_enforce_off": (eng_off, "reader", False),
               "read_only": (eng, None, True)}
    out: dict[str, dict] = {}
    for name, statement in STATEMENTS.items():
        for caller in callers.values():  # warm the path and JIT once
            for _ in range(3):
                _build_ms(statement, *caller)
        res = {f"{c}_ms": [] for c in callers}
        for i in range(repeats):
            # alternate the callers' order, so drift hits each alike
            order = list(callers.items())
            for c, caller in (order if i % 2 == 0 else order[::-1]):
                res[f"{c}_ms"].append(round(_build_ms(statement, *caller), 2))
        for c in callers:
            res[f"{c}_p50_ms"] = round(statistics.median(res[f"{c}_ms"]), 2)
        for c in list(callers)[1:]:
            res[f"{c}_delta_p50_ms"] = round(
                res[f"{c}_p50_ms"] - res["none_p50_ms"], 2)
        print(f"  {name}: " + ", ".join(
            f"{c} {res[f'{c}_p50_ms']} ms" for c in callers), file=sys.stderr)
        out[name] = res
    print(json.dumps({"master": spark.sparkContext.master,
                      "cores": spark.sparkContext.defaultParallelism,
                      "repeats": repeats, "statements": out}))
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
