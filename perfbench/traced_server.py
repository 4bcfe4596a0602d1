"""Run ``beacon_spark.server`` with timing wrappers around its layers.

    BENCH_TRACE_OUT=trace.json python perfbench/traced_server.py <server args>

Starts the same server as ``python -m beacon_spark.server`` after
wrapping the public entry points of each layer (table ``WRAPPED``).
Wrappers record spans only inside requests that carry the header
``x-bench-trace: 1``; other requests pay one thread-local lookup per
call. A span holds its name, request id, parent span, duration and the
number of Spark jobs started while it was open (the change in the
scheduler's next job id). ``x-bench-op`` labels the request's root
span. Spans stay in memory and are written as JSON when the server
stops (SIGINT), together with the start-up phase times.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.setup: dict[str, float] = {}
        self.local = threading.local()
        self._lock = threading.Lock()
        self._next_req = 0

    # ----------------------------------------------------------- spark jobs

    @staticmethod
    def job_id() -> int:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return 0
        # an AtomicInteger in older Spark; py4j hands newer ones over as int
        next_id = sc._jsc.sc().dagScheduler().nextJobId()
        return int(next_id if isinstance(next_id, int) else next_id.get())

    # ---------------------------------------------------------------- spans

    def active(self) -> bool:
        return getattr(self.local, "req", None) is not None

    def new_span(self, name: str, **attrs) -> dict:
        stack = self.local.stack
        span = {"name": name, "req": self.local.req,
                "parent": stack[-1]["id"] if stack else None,
                "dur": 0.0, "jobs": 0, **attrs}
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        return span

    def enter(self, span: dict) -> tuple[float, int]:
        self.local.stack.append(span)
        return time.perf_counter(), self.job_id()

    def leave(self, span: dict, mark: tuple[float, int]) -> None:
        span["dur"] += time.perf_counter() - mark[0]
        span["jobs"] += self.job_id() - mark[1]
        self.local.stack.pop()

    def request(self, op: str):
        with self._lock:
            self._next_req += 1
            self.local.req = self._next_req
        self.local.stack = []
        return self.new_span("server.http", op=op)

    def end_request(self) -> None:
        self.local.req = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "setup": self.setup}, f)


TRACER = Tracer()


def wrap_call(owner, attr: str, name: str, annotate=None) -> None:
    """Replace ``owner.attr`` with a wrapper that records a span around
    each call; ``annotate(span, args, kwargs, result)`` adds counts."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not TRACER.active():
            return fn(*args, **kwargs)
        span = TRACER.new_span(name)
        mark = TRACER.enter(span)
        try:
            result = fn(*args, **kwargs)
        finally:
            TRACER.leave(span, mark)
        if annotate is not None:
            annotate(span, args, kwargs, result)
        return result

    setattr(owner, attr, traced)


def wrap_generator(owner, attr: str, name: str) -> None:
    """Like :func:`wrap_call` for a generator function: the span covers
    only the time spent inside the generator (each ``next``), not the
    consumer's work between batches; ``first_ms`` is the first batch."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        it = fn(*args, **kwargs)
        if not TRACER.active():
            return it
        return _traced_iter(it, TRACER.new_span(name, first_ms=None))

    def _traced_iter(it, span):
        while True:
            mark = TRACER.enter(span)
            try:
                item = next(it)
            except StopIteration:
                return
            finally:
                TRACER.leave(span, mark)
                if span["first_ms"] is None:
                    span["first_ms"] = span["dur"] * 1e3
            yield item

    setattr(owner, attr, traced)


def wrap_setup(owner, attr: str, key: str) -> None:
    """Time a start-up call (no request is active during start-up)."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            TRACER.setup[key] = TRACER.setup.get(key, 0.0) + time.perf_counter() - t0

    setattr(owner, attr, timed)


# ------------------------------------------------------------- annotations


def _files_of(span, args, kwargs, result):
    from beacon_spark.sources.paths import resolve_globs

    paths = args[1] if len(args) > 1 else kwargs.get("paths")
    root = args[2] if len(args) > 2 else kwargs.get("datasets_root")
    span["files"] = len(resolve_globs(paths, root))


def _prune_counts(span, args, kwargs, result):
    span["considered"] = len(args[1])
    span["kept"] = len(result)


def _output_format(span, args, kwargs, result):
    span["fmt"] = str(args[1]).lower()


def _bytes_written(span, args, kwargs, result):
    table = args[0]
    span["bytes"] = sum(os.path.getsize(os.path.join(table.path, rel)) for rel in result)


#: (module, attribute path, span name, kind, annotate)
WRAPPED = [
    ("beacon_spark.engine", "Engine.sql", "engine.sql", "call", None),
    ("beacon_spark.engine", "Engine.query", "engine.query", "call", None),
    ("beacon_spark.engine", "Engine._register_catalog", "engine.register_catalog",
     "call", None),
    ("beacon_spark.dsl", "compile_query", "dsl.compile_query", "call", None),
    ("beacon_spark.sources.tabular", "read_parquet", "sources.tabular.read_parquet",
     "call", _files_of),
    ("beacon_spark.sources.nd", "read_nd", "sources.nd.read_nd", "call", None),
    ("beacon_spark.engine", "Engine._register_nd_view", "sources.nd.sql_view",
     "call", None),
    ("beacon_spark.stats", "prune_files", "stats.prune_files", "call", _prune_counts),
    ("beacon_spark.stats", "analyze_files", "stats.analyze_files", "call", None),
    ("beacon_spark.outputs", "iter_arrow_batches", "outputs.iter_arrow_batches",
     "generator", None),
    ("beacon_spark.outputs", "write_output", "outputs.write_output", "call",
     _output_format),
    ("beacon_spark.managed", "ManagedTable.insert", "managed.insert", "call", None),
    ("beacon_spark.managed", "ManagedTable.compact", "managed.compact", "call", None),
    ("beacon_spark.managed", "ManagedTable._write_data", "managed.write_data", "call",
     _bytes_written),
    ("beacon_spark.system_tables", "QueryMetricsStore.record", "system_tables.record",
     "call", None),
    ("beacon_spark.system_tables", "QueryMetricsStore.flush", "system_tables.flush",
     "call", None),
]


def _owner(module: str, path: str):
    obj = importlib.import_module(module)
    *outer, attr = path.split(".")
    for part in outer:
        obj = getattr(obj, part)
    return obj, attr


def install() -> None:
    import beacon_spark.engine as engine
    import beacon_spark.server.http as http
    import beacon_spark.session as session

    for module, path, name, kind, annotate in WRAPPED:
        owner, attr = _owner(module, path)
        if kind == "generator":
            wrap_generator(owner, attr, name)
        else:
            wrap_call(owner, attr, name, annotate)
    # the engine module binds read_nd by name at import
    engine.read_nd = importlib.import_module("beacon_spark.sources.nd").read_nd

    wrap_setup(session, "get_spark", "spark_session_s")
    wrap_setup(engine.Engine, "__init__", "engine_s")

    init = http.BeaconHttpServer.__init__

    @functools.wraps(init)
    def server_init(self, *args, **kwargs):
        init(self, *args, **kwargs)
        handler = self._httpd.RequestHandlerClass
        do_post = handler.do_POST

        def traced_post(h):
            if h.headers.get("x-bench-trace") != "1":
                return do_post(h)
            span = TRACER.request(h.headers.get("x-bench-op", ""))
            mark = TRACER.enter(span)
            try:
                return do_post(h)
            finally:
                TRACER.leave(span, mark)
                TRACER.end_request()

        handler.do_POST = traced_post

    http.BeaconHttpServer.__init__ = server_init


def main() -> int:
    out = os.environ["BENCH_TRACE_OUT"]
    install()
    from beacon_spark.server.__main__ import main as server_main

    try:
        return server_main(sys.argv[1:])
    finally:
        TRACER.dump(out)


if __name__ == "__main__":
    sys.exit(main())
