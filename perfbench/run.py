"""Serving-path benchmark: a real ``beacon_spark.server`` driven over HTTP.

    python3 perfbench/run.py --workload lake_subset --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The benchmark generates the workload's
fixtures from ``--seed`` (cached by seed and generator version), starts
``python -m beacon_spark.server`` on a fresh working copy with
``local[k]`` (k = min(2, cores)), runs the set-up statements, warms
every operation type up once, then runs the workload's fixed seeded
sequence closed-loop from one client on one keep-alive connection and
checks every result against the expected digest. ``--trace 1`` serves
through ``perfbench/traced_server.py`` instead, follows every untraced
round with a traced one, and reports per-layer metrics. The last line of
standard output is the JSON result; METRICS.md describes each metric.
"""

from __future__ import annotations

import argparse
import http.client
import io
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from itertools import zip_longest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402

from fixtures import Fixtures, cached_fixtures, describe, link_copy  # noqa: E402
from workloads import WORKLOADS, compare, digest, rounds_for  # noqa: E402

STATE_DIR = ".perfbench"
START_TIMEOUT_S = 120
OP_TIMEOUT_S = 120
#: Spark task slots: fewer than the cores of a small shared machine, so the
#: Spark driver, JIT, GC and HTTP threads do not queue behind the tasks
SERVER_CORES = 2
#: connections the untimed warm-up of a read-only workload uses at once
WARMUP_CLIENTS = 4
JVM_OPTIONS = "-Xms1g -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"


# ------------------------------------------------------------------ server


class Server:
    """One server subprocess in its own process group, logging to a file."""

    def __init__(self, checkout: str, work: str, traced: bool):
        self.checkout = checkout
        self.work = work
        self.traced = traced
        self.cores = min(SERVER_CORES, os.cpu_count() or 1)
        self.proc: subprocess.Popen | None = None
        self.port = 0
        self.starts = 0

    def env(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": self.checkout,
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_DRIVER_MEMORY": "1g",
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(self.cores),
            "BEACON_SPOOL_DIR": os.path.join(self.work, "spool"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # a fixed-size driver heap and few malloc arenas keep the JVM's
            # peak RSS from depending on when its heap happened to grow;
            # capped GC and JIT threads keep the server's runnable threads
            # below the machine's cores
            "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '{JVM_OPTIONS}' pyspark-shell",
            "MALLOC_ARENA_MAX": "2",
            "BENCH_TRACE_OUT": self.trace_file(self.starts),
        })
        return env

    def trace_file(self, start: int) -> str:
        return os.path.join(self.work, f"trace-{start}.json")

    def start(self, root: str) -> float:
        """Spawn and wait for ``/api/health``. → seconds taken."""
        for d in ("tmp", "spark-local", "spool"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        self.starts += 1
        log_path = os.path.join(self.work, f"server-{self.starts}.log")
        entry = ([os.path.join(HERE, "traced_server.py")] if self.traced
                 else ["-m", "beacon_spark.server"])
        t0 = time.perf_counter()
        with open(log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, *entry, "--root", root, "--http-port", "0",
                 "--flight-port", "0", "--master", f"local[{self.cores}]"],
                cwd=self.work, env=self.env(), stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True)
        pat = re.compile(r"http://127\.0\.0\.1:(\d+)/api/query")
        while True:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited during start-up; see {log_path}")
            if time.perf_counter() - t0 > START_TIMEOUT_S:
                raise RuntimeError(f"server did not start; see {log_path}")
            with open(log_path) as f:
                m = pat.search(f.read())
            if m:
                self.port = int(m.group(1))
                try:
                    conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=5)
                    conn.request("GET", "/api/health")
                    ok = conn.getresponse().read() == b"Ok"
                    conn.close()
                    if ok:
                        return time.perf_counter() - t0
                except OSError:
                    pass
            time.sleep(0.02)

    def processes(self) -> list[int]:
        """The server and its direct children (the JVM)."""
        if self.proc is None:
            return []
        pids = [self.proc.pid]
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                if ppid == self.proc.pid:
                    pids.append(int(entry))
        return pids

    def peak_rss_mb(self) -> float:
        peaks = []
        for pid in self.processes():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peaks.append(int(line.split()[1]) / 1024.0)
            except OSError:
                pass
        print("peak RSS (MB) of server, JVM: " + ", ".join(f"{p:.0f}" for p in peaks),
              flush=True)
        return sum(peaks)

    def stop(self) -> None:
        """Kill the process group and wait until every member is gone. A
        traced server first gets SIGINT, so it stops Spark and writes
        its trace."""
        if self.proc is None:
            return
        pgid = self.proc.pid
        if self.traced and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
        kill_at = time.monotonic() + (5 if self.traced else 0)
        give_up = kill_at + 30
        while True:
            self.proc.poll()  # reap the group leader once it exits
            try:
                os.killpg(pgid, signal.SIGKILL if time.monotonic() > kill_at else 0)
            except ProcessLookupError:
                break
            if time.monotonic() > give_up:
                raise RuntimeError(f"server process group {pgid} did not exit")
            time.sleep(0.05)
        self.proc.wait()
        self.proc = None


# ------------------------------------------------------------------ client


class Client:
    """One keep-alive HTTP/1.1 connection, one request at a time."""

    def __init__(self, port: int):
        self.port = port
        self.conn: http.client.HTTPConnection | None = None

    def post(self, body: dict, headers: dict) -> tuple[int, bytes]:
        if self.conn is None:
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                   timeout=OP_TIMEOUT_S)
        try:
            self.conn.request("POST", "/api/query", json.dumps(body).encode(),
                              {"Content-Type": "application/json", **headers})
            resp = self.conn.getresponse()
            payload = resp.read()
            if resp.will_close:
                self.close()
            return resp.status, payload
        except (OSError, http.client.HTTPException):
            self.close()
            raise

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def parse(payload: bytes, fmt: str, scratch: str) -> pa.Table:
    if fmt == "arrow":
        return pa.ipc.open_stream(payload).read_all()
    if fmt == "csv":
        import pyarrow.csv as pcsv

        return pcsv.read_csv(io.BytesIO(payload))
    if fmt == "parquet":
        import pyarrow.parquet as pq

        return pq.read_table(io.BytesIO(payload))
    if fmt == "netcdf":
        from beacon_spark.sources.netcdf3 import read_netcdf3

        path = os.path.join(scratch, f"download-{threading.get_ident()}.nc")
        with open(path, "wb") as f:
            f.write(payload)
        _dims, variables, _attrs, _global = read_netcdf3(path)
        cols = {}
        for name, (_dims, var) in variables.items():
            a = np.asarray(var)
            cols[name] = a.astype(a.dtype.newbyteorder("="))
        return pa.table(cols)
    raise ValueError(fmt)


def table_digest(t: pa.Table) -> dict:
    cols = {}
    for name in t.column_names:
        col = t.column(name)
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            cols[name] = np.array(col.to_pylist(), dtype=object)
        else:
            cols[name] = col.to_numpy(zero_copy_only=False)
    return digest(cols)


def check(op, payload: bytes, scratch: str) -> tuple[str | None, int]:
    """→ (mismatch or None, result rows)."""
    if op.expect is None:
        return None, 0
    expect = op.expect() if callable(op.expect) else op.expect
    t = parse(payload, op.response, scratch)
    problem = compare(expect, table_digest(t))
    if problem is None and op.order is not None:
        col, desc = op.order
        vals = t.column(col).to_pylist()
        if vals != sorted(vals, reverse=desc):
            problem = f"{col} is not in {'descending' if desc else 'ascending'} order"
    return problem, t.num_rows


# ------------------------------------------------------------------ running


class Recorder:
    def __init__(self):
        self.samples: list[tuple[str, str, float, bool]] = []  # name, kind, s, traced
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.bytes = 0
        self.rows = 0
        self.traced_input_bytes = 0


def run_op(client: Client, op, rec: Recorder | None, scratch: str,
           traced: bool = False) -> None:
    """Send ``op`` and check its result. With a recorder, a failure is
    counted; without one (warm-up), it aborts the run."""
    headers = {"x-bench-op": op.name, "x-bench-trace": "1" if traced else "0"}
    problem = None
    t0 = time.perf_counter()
    try:
        status, payload = client.post(op.body, headers)
    except (OSError, http.client.HTTPException) as e:
        status, payload, problem = 0, b"", f"{type(e).__name__}: {e}"
    dt = time.perf_counter() - t0
    rows = 0
    if problem is None and status != 200:
        problem = f"HTTP {status}: {payload[:300]!r}"
    if problem is None:
        try:
            problem, rows = check(op, payload, scratch)
        except Exception as e:  # an unparseable result is a failed operation
            problem = f"unreadable {op.response} result: {type(e).__name__}: {e}"
    if problem is None and op.after is not None:
        op.after()
    if rec is not None:
        rec.attempted += 1
        if problem is not None:
            rec.failed += 1
            rec.errors.append(f"{op.name}: {problem}")
        elif op.kind != "check":
            rec.samples.append((op.name, op.kind, dt, traced))
            rec.bytes += len(payload)
            rec.rows += rows
            if traced:
                rec.traced_input_bytes += op.input_bytes
    elif problem is not None:
        raise RuntimeError(f"{op.name} failed: {problem}")


def warm_up(port: int, ops: list, scratch: str) -> None:
    """Run every warm-up operation once, aborting on a failure. Read-only
    warm-ups run concurrently on WARMUP_CLIENTS connections: none of them
    is timed, and the run's fixed start-up cost drops."""
    def one(op) -> str:
        client = Client(port)
        t0 = time.perf_counter()
        try:
            run_op(client, op, None, scratch)
        finally:
            client.close()
        return f"{op.name}={time.perf_counter() - t0:.2f}"

    if all(op.kind == "read" for op in ops):
        with ThreadPoolExecutor(WARMUP_CLIENTS) as pool:
            took = list(pool.map(one, ops))
    else:  # writes change what later operations expect: keep their order
        took = [one(op) for op in ops]
    print(f"warm-up (s): {', '.join(took)}", flush=True)


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it.
    → (value, percentile, n)."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n, n


def end_to_end(rec: Recorder, setup_s: float, rss_mb: float) -> dict:
    by_type: dict[str, list[float]] = {}
    reads: dict[str, list[float]] = {}
    for name, kind, dt, _ in rec.samples:
        by_type.setdefault(name, []).append(dt)
        if kind == "read":
            reads.setdefault(name, []).append(dt * 1e3)
    # a type's median is its lower median, so with two samples (two
    # rounds) one round slowed down by the shared host does not count
    med = statistics.median_low
    # closed loop: operations over the time requests were outstanding (the
    # client's own result checking between requests is not counted), with
    # every operation taking its type's median latency, so one stall of
    # the host does not move the rate of the whole run
    busy = sum(len(v) * med(v) for v in by_type.values())
    medians = [med(v) for v in reads.values()]
    print("read medians (ms): " + ", ".join(
        f"{k}={m:.0f}" for k, m in zip(reads, medians)), flush=True)
    p50 = math.exp(sum(math.log(m) for m in medians) / len(medians))
    tail, pct, n = tail_percentile([x for v in reads.values() for x in v])
    print(f"read_tail_ms is p{pct:.1f} of n={n} read latencies", flush=True)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": len(rec.samples) / busy, "unit": "1/s"},
        "read_p50_ms": {"value": p50, "unit": "ms"},
        "read_tail_ms": {"value": tail, "unit": "ms"},
        "server_peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def cpu_times() -> list[int]:
    """The machine's cumulative CPU times (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run(args, checkout: str) -> dict:
    state = os.path.join(checkout, STATE_DIR)
    work = os.path.join(state, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    cls = WORKLOADS[args.workload]
    fx = Fixtures(args.seed)
    cache, write_s = cached_fixtures(fx, cls.parts, os.path.join(state, "fixtures"))
    print(f"fixtures: seed {args.seed}, written in {write_s:.2f}s "
          f"{json.dumps(describe(fx, cache, cls.parts))}", flush=True)
    root = os.path.join(work, "root")
    link_copy(cache, root, cls.parts)

    wl = cls(fx, np.random.default_rng([args.seed, 7]), root)
    n_rounds = rounds_for(cls, args.seconds)
    if args.trace:  # each traced round runs two rounds' operations
        n_rounds = (n_rounds + 1) // 2
    warmup = wl.warmup()

    # flush the fixture files and the deleted working copy of the last run
    # now, so their write-back does not land in the timed sequence
    os.sync()
    server = Server(checkout, work, traced=bool(args.trace))
    rec = Recorder()
    try:
        spawn_s = server.start(root)
        client = Client(server.port)
        t0 = time.perf_counter()
        for body in wl.setup:
            status, payload = client.post(body, {})
            if status != 200:
                raise RuntimeError(f"set-up {body} failed: HTTP {status} {payload[:300]!r}")
        prepare_s = time.perf_counter() - t0
        setup_s = spawn_s + prepare_s
        t0 = time.perf_counter()
        warm_up(server.port, warmup, work)
        print(f"phases (s): spawn {spawn_s:.2f}, prepare {prepare_s:.2f}, "
              f"warm-up {time.perf_counter() - t0:.2f}", flush=True)

        st0 = cpu_times()
        for _ in range(n_rounds):
            if not args.trace:
                for op in wl.round():
                    run_op(client, op, rec, work)
                continue
            # a traced run pairs each op with a traced op of the same type,
            # alternating which of the two goes first
            pairs = zip_longest(wl.round(), wl.round())
            for i, (plain, traced) in enumerate(pairs):
                order = [(plain, False), (traced, True)]
                for op, is_traced in (order if i % 2 == 0 else order[::-1]):
                    if op is not None:
                        run_op(client, op, rec, work, is_traced)

        st1 = cpu_times()
        tot = sum(st1) - sum(st0)
        print(f"timed phase: CPU time {100 * (st1[3] - st0[3]) / tot:.1f}% idle, "
              f"{100 * (st1[7] - st0[7]) / tot:.1f}% stolen by the host", flush=True)
        check_op = wl.full_check()
        if check_op is not None:
            run_op(client, check_op, rec, work)
        rss = server.peak_rss_mb()
        client.close()
        if args.trace and check_op is not None:
            # the table must survive a restart: re-read it from disk
            server.stop()
            server.start(root)
            client = Client(server.port)
            run_op(client, wl.full_check(), rec, work)
            client.close()
    finally:
        server.stop()
    for err in rec.errors[:10]:
        print(f"FAILED {err}", file=sys.stderr, flush=True)
    if not rec.samples:
        raise RuntimeError("no operation succeeded")
    if args.trace:
        from layers import per_layer

        with open(server.trace_file(1)) as f:
            trace = json.load(f)
        metrics = per_layer(trace, rec, wl, prepare_s)
    else:
        metrics = end_to_end(rec, setup_s, rss)
    if rec.failed == 0:  # keep the logs of a failed run until the next run
        shutil.rmtree(work, ignore_errors=True)
    return {"correct": rec.failed == 0, "attempted": rec.attempted,
            "failed": rec.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "beacon_spark", "server", "__main__.py")):
        print("error: run from the root of a beacon_spark checkout "
              "(beacon_spark/server not found)", file=sys.stderr)
        return 2
    sys.path.insert(1, checkout)
    # a terminated run still stops the server: SystemExit unwinds run()'s
    # ``finally``, which kills the server's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args, checkout)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
