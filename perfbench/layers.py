"""Per-layer metrics of a traced run (``--trace 1``).

``traced_server.py`` records spans only for requests of the traced
rounds; the untraced rounds of the same run give the tracing overhead.
Every metric in ``PER_LAYER`` is reported on every workload; a layer a
workload never calls reads 0. METRICS.md lists which end-to-end metric
each one should move.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

#: every operation type of every workload, for the per-operation metrics
OPS = ["count_all", "filter_multi", "agg_by_platform", "spatial_box", "time_window",
       "topn_recent", "time_window_dsl", "spatial_box_dsl",
       "zarr_sql_netcdf", "zarr_dsl_csv", "zarr_dsl_arrow", "profiles_sql_parquet",
       "obs8_box_csv",
       "insert", "optimize", "window_dsl", "table_agg"]

PER_LAYER: dict[str, str] = {
    "server.http.self_ms": "ms",
    "engine.sql.self_ms": "ms",
    "engine.query.self_ms": "ms",
    "engine.register_catalog.ms": "ms",
    "engine.register_catalog.calls": "count",
    "dsl.compile_query.self_ms": "ms",
    "sources.tabular.read_parquet.self_ms": "ms",
    "sources.tabular.read_parquet.spark_jobs": "count",
    "sources.tabular.read_parquet.files": "count",
    "sources.nd.read_nd.self_ms": "ms",
    "sources.nd.read_nd.spark_jobs": "count",
    "sources.nd.sql_view.self_ms": "ms",
    "sources.nd.sql_view.spark_jobs": "count",
    "stats.prune_files.ms": "ms",
    "stats.files_kept_ratio": "ratio",
    "stats.analyze_files.ms": "ms",
    "outputs.iter_arrow_batches.first_batch_ms": "ms",
    "outputs.iter_arrow_batches.rest_ms": "ms",
    "outputs.iter_arrow_batches.spark_jobs": "count",
    "outputs.write_output.csv.ms": "ms",
    "outputs.write_output.parquet.ms": "ms",
    "outputs.write_output.netcdf.ms": "ms",
    "outputs.bytes_per_row": "B",
    "managed.insert.ms": "ms",
    "managed.compact.ms": "ms",
    "managed.data_files": "count",
    "managed.bytes_written_per_input_byte": "ratio",
    "system_tables.record.ms": "ms",
    "system_tables.flush.ms": "ms",
    "system_tables.flushes": "count",
    "setup.spark_session_s": "s",
    "setup.engine_s": "s",
    "setup.prepare_s": "s",
    "ingest.write_p50_ms": "ms",
    "ingest.stored_bytes_per_input_byte": "ratio",
    "trace.untraced_ops_per_s": "1/s",
    "trace.traced_ops_per_s": "1/s",
    "trace.overhead_pct": "%",
    **{f"spark.jobs_per_op.{op}": "count" for op in OPS},
    **{f"latency.{op}.p50_ms": "ms" for op in OPS},
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def per_layer(trace: dict, rec, wl, prepare_s: float) -> dict:
    spans = trace["spans"]
    child_dur: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_dur[s["parent"]] += s["dur"]
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        s["self"] = s["dur"] - child_dur[s["id"]]
        by_name[s["name"]].append(s)
    requests = by_name["server.http"]
    n_req = max(1, len(requests))

    def self_ms(name):
        return _mean(s["self"] * 1e3 for s in by_name[name])

    def ms(name, pred=lambda s: True):
        return _mean(s["dur"] * 1e3 for s in by_name[name] if pred(s))

    def jobs(name):
        return _mean(s["jobs"] for s in by_name[name])

    m: dict[str, float] = {
        "server.http.self_ms": self_ms("server.http"),
        "engine.sql.self_ms": self_ms("engine.sql"),
        "engine.query.self_ms": self_ms("engine.query"),
        "engine.register_catalog.ms": ms("engine.register_catalog"),
        "engine.register_catalog.calls": len(by_name["engine.register_catalog"]) / n_req,
        "dsl.compile_query.self_ms": self_ms("dsl.compile_query"),
        "sources.tabular.read_parquet.self_ms": self_ms("sources.tabular.read_parquet"),
        "sources.tabular.read_parquet.spark_jobs": jobs("sources.tabular.read_parquet"),
        "sources.tabular.read_parquet.files": _mean(
            s["files"] for s in by_name["sources.tabular.read_parquet"]),
        "sources.nd.read_nd.self_ms": self_ms("sources.nd.read_nd"),
        "sources.nd.read_nd.spark_jobs": jobs("sources.nd.read_nd"),
        "sources.nd.sql_view.self_ms": self_ms("sources.nd.sql_view"),
        "sources.nd.sql_view.spark_jobs": jobs("sources.nd.sql_view"),
        "stats.prune_files.ms": ms("stats.prune_files"),
        "stats.analyze_files.ms": ms("stats.analyze_files"),
        "outputs.iter_arrow_batches.first_batch_ms": _mean(
            s["first_ms"] or 0.0 for s in by_name["outputs.iter_arrow_batches"]),
        "outputs.iter_arrow_batches.rest_ms": _mean(
            s["dur"] * 1e3 - (s["first_ms"] or 0.0)
            for s in by_name["outputs.iter_arrow_batches"]),
        "outputs.iter_arrow_batches.spark_jobs": jobs("outputs.iter_arrow_batches"),
        "outputs.bytes_per_row": rec.bytes / rec.rows if rec.rows else 0.0,
        "managed.insert.ms": ms("managed.insert"),
        "managed.compact.ms": ms("managed.compact"),
        "system_tables.record.ms": ms("system_tables.record"),
        "system_tables.flush.ms": ms("system_tables.flush"),
        "system_tables.flushes": len(by_name["system_tables.flush"]) / n_req,
        "setup.spark_session_s": trace["setup"].get("spark_session_s", 0.0),
        "setup.engine_s": trace["setup"].get("engine_s", 0.0),
        "setup.prepare_s": prepare_s,
    }
    pruned = by_name["stats.prune_files"]
    considered = sum(s["considered"] for s in pruned)
    m["stats.files_kept_ratio"] = (sum(s["kept"] for s in pruned) / considered
                                   if considered else 0.0)
    for fmt in ("csv", "parquet", "netcdf"):
        m[f"outputs.write_output.{fmt}.ms"] = ms(
            "outputs.write_output", lambda s, fmt=fmt: s.get("fmt") == fmt)
    written = sum(s["bytes"] for s in by_name["managed.write_data"])
    m["managed.bytes_written_per_input_byte"] = (
        written / rec.traced_input_bytes if rec.traced_input_bytes else 0.0)

    # the managed table at the end of the run (ingest_query only)
    m["managed.data_files"] = 0.0
    m["ingest.stored_bytes_per_input_byte"] = 0.0
    table = getattr(wl, "table_dir", None)
    if table is not None:
        latest = sorted(glob.glob(os.path.join(table, "_manifests", "v*.json")))[-1]
        with open(latest) as f:
            m["managed.data_files"] = float(len(json.load(f)["files"]))
        m["ingest.stored_bytes_per_input_byte"] = (
            _dir_bytes(table) / (wl.acknowledged_rows() * wl.input_bytes_per_row))

    lat: dict[str, list[float]] = defaultdict(list)
    busy = {True: [0, 0.0], False: [0, 0.0]}
    for name, _kind, dt, traced in rec.samples:
        lat[name].append(dt * 1e3)
        busy[traced][0] += 1
        busy[traced][1] += dt
    m["ingest.write_p50_ms"] = statistics.median(lat["insert"]) if lat["insert"] else 0.0
    rate = {k: (n / t if t else 0.0) for k, (n, t) in busy.items()}
    m["trace.untraced_ops_per_s"] = rate[False]
    m["trace.traced_ops_per_s"] = rate[True]
    m["trace.overhead_pct"] = (100.0 * (rate[False] / rate[True] - 1.0)
                               if rate[True] else 0.0)

    op_jobs: dict[str, list[int]] = defaultdict(list)
    for s in requests:
        op_jobs[s["op"]].append(s["jobs"])
    for op in OPS:
        m[f"spark.jobs_per_op.{op}"] = _mean(op_jobs[op])
        m[f"latency.{op}.p50_ms"] = statistics.median(lat[op]) if lat[op] else 0.0
    return {name: {"value": float(m[name]), "unit": unit}
            for name, unit in PER_LAYER.items()}
