"""Streaming ingestion: ``CREATE STREAM … INTO table`` + ``RUN STREAM``.

An extension beyond the reference (which has no streaming engine —
SURVEY §1.1/§2.12; its closest feature is the crawler's scheduled
re-discovery). Where the crawler REGISTERS new files as external
tables, a stream INGESTS their rows into a managed table with
exactly-once file tracking:

  - the source is a Structured Streaming file source over the stream's
    prefix; the checkpoint (under the catalog's ``streams/`` area)
    records which files each run has consumed, so a re-RUN ingests only
    files that appeared since — exactly-once at file granularity, the
    guarantee Spark's file source + checkpoint gives.
  - each micro-batch lands through the engine's INSERT path
    (``foreachBatch``), so catalog versioning and index refresh behave
    exactly as a SQL INSERT.
  - ``RUN STREAM`` uses ``Trigger.AvailableNow``: process everything
    currently visible, then stop — the batch-refresh shape that works
    under a scheduler; a long-lived continuous trigger would hold the
    session.

At scale: the file source lists only the prefix (not the lake), batch
reads are executor-distributed like any scan, and the checkpoint keeps
re-listing incremental — a 100 TB prefix costs one listing per run,
not one re-read.
"""

from __future__ import annotations

import re

__all__ = ["create_stream", "run_stream", "drop_stream", "stream_rows"]

_SUPPORTED = {"parquet", "csv", "json", "text"}


def _checkpoint_dir(engine, name: str) -> str:
    from beacon_spark.sources import bytesource as bs

    return bs.join(engine.datasets_root, ".beacon_catalog", "streams", name)


def create_stream(engine, name: str, prefix: str, table: str,
                  options: dict) -> None:
    cat = engine.catalog
    c = cat._load()
    if name in c.get("streams", {}):
        raise ValueError(f"stream {name!r} already exists")
    if table not in c["tables"]:  # pre-check on a snapshot; re-checked in apply
        raise ValueError(
            f"stream target {table!r} is not a managed table (streams "
            "ingest through the INSERT path; CREATE TABLE it first)"
        )
    fmt = options.get("format", "parquet").lower()
    if fmt not in _SUPPORTED:
        raise ValueError(
            f"unsupported stream format {fmt!r} "
            f"(supported: {sorted(_SUPPORTED)})"
        )
    if not re.fullmatch(r"[\w./*-]+", prefix or "") or prefix.startswith("/") \
            or ".." in prefix.split("/"):
        # the prefix must stay INSIDE the datasets root: '..' segments
        # and absolute paths would escape it
        raise ValueError(f"bad stream prefix {prefix!r}")
    from beacon_spark.sources import bytesource as bs

    src = bs.join(engine.datasets_root, prefix)
    if "*" not in prefix:
        bs.makedirs(src)  # the file source errors on a missing directory
    schedule_secs = None
    if options.get("schedule"):
        m = re.fullmatch(r"([0-9]+)\s*([smhd]?)",
                         str(options["schedule"]).strip())
        if not m:
            raise ValueError(
                f"bad stream schedule {options['schedule']!r} "
                "(use e.g. '30s', '15m', '4h', '1d')"
            )
        schedule_secs = int(m.group(1)) * {
            "": 1, "s": 1, "m": 60, "h": 3600, "d": 86400
        }[m.group(2)]
    import uuid as _uuid

    entry = {
        "prefix": prefix,
        "table": table,
        "format": fmt,
        # idempotency-marker key, unique PER CREATION: a dropped and
        # re-created stream restarts batch ids at 0 and must re-ingest,
        # so its markers must not collide with the old incarnation's
        "marker": f"{name}-{_uuid.uuid4().hex[:12]}",
        "schedule_secs": schedule_secs,
        "options": {k: v for k, v in options.items()
                    if k not in ("format", "schedule")},
    }

    def apply(cat_doc: dict) -> None:
        # commit rides _mutate (lock + merge-on-conflict) — a raw
        # load->save here raced concurrent DDL last-writer-wins
        if name in cat_doc.get("streams", {}):
            raise ValueError(f"stream {name!r} already exists")
        if table not in cat_doc["tables"]:
            # re-checked on the MERGED doc: a concurrent DROP TABLE
            # between the snapshot check and this commit would
            # otherwise mint a stream over a nonexistent table
            raise ValueError(
                f"stream target {table!r} is not a managed table "
                "(streams ingest through the INSERT path; CREATE TABLE "
                "it first)")
        cat_doc.setdefault("streams", {})[name] = entry

    cat._mutate(apply)


def run_stream(engine, name: str):
    """Process all currently-available files exactly once; returns the
    report DataFrame (stream, batches, rows_ingested)."""
    c = engine.catalog._load()
    entry = c.get("streams", {}).get(name)
    if entry is None:
        raise ValueError(f"unknown stream {name!r}")
    from beacon_spark.sources import bytesource as bs

    spark = engine.spark
    table, fmt = entry["table"], entry["format"]
    # schema comes from the target table: the stream's contract is
    # "rows that INSERT cleanly", not schema inference per run
    schema = engine.sql(f"SELECT * FROM {table} LIMIT 0").schema
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        # a stored 'header' 'false' used to be silently ignored — the
        # first data row of every headerless file was eaten as a header
        reader = reader.option(
            "header", str(entry["options"].get("header", "true")).lower())
        if entry["options"].get("delimiter"):
            reader = reader.option("sep", entry["options"]["delimiter"])
    src = bs.join(engine.datasets_root, entry["prefix"])
    df = reader.load(bs.spark_path(src))

    totals = {"batches": 0, "rows": 0}

    def _feed(batch_df, batch_id):
        # foreachBatch alone is AT-LEAST-once: a crash between the data
        # commit and Spark's checkpoint commit replays the batch. The
        # (stream, batch_id) marker commits in the SAME manifest write
        # as the rows (ManagedTable.insert), so the replay proves the
        # batch already landed and no-ops — exactly-once end to end.
        batch_df.persist()
        try:
            n = batch_df.count()
            if n == 0:
                return
            mt = engine.catalog.table(table)
            names = [f.name for f in mt.schema().fields]
            marker_key = entry.get("marker", name)
            # replay detection on the MARKER itself, not a pre-read
            # version (a concurrent INSERT bumping the version made a
            # replayed batch look freshly applied and over-report)
            prev = (mt._read_manifest().get("stream_batches")
                    or {}).get(marker_key)
            replay = prev is not None and int(prev) >= int(batch_id)
            if replay:
                version = mt.current_version()
            else:
                version = mt.insert(
                    batch_df.toDF(*names[: len(batch_df.columns)]),
                    stream_marker=(marker_key, int(batch_id)),
                )
            # mirror the engine's SQL-INSERT bookkeeping (index/stats
            # refresh + targeted catalog invalidation) — ALSO on replay:
            # the crash-recovery run (commit landed, checkpoint didn't)
            # is exactly the one that must heal a stale engine, and the
            # old early-return skipped the healing.
            engine._refresh_index_stats(table)
            engine._invalidate(table, version)
            if replay:
                return  # already applied: bookkeeping done, no re-count
            totals["batches"] += 1
            totals["rows"] += n
        finally:
            batch_df.unpersist()

    q = (
        df.writeStream.foreachBatch(_feed)
        .option("checkpointLocation",
                bs.spark_path(_checkpoint_dir(engine, name)))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import time as _time

    now = _time.time()

    def touch(cat_doc: dict) -> None:
        if name in cat_doc.get("streams", {}):
            cat_doc["streams"][name]["last_run"] = now

    if name in engine.catalog._load().get("streams", {}):
        engine.catalog._mutate(touch)
    return spark.createDataFrame(
        [(name, totals["batches"], totals["rows"])],
        "stream string, batches long, rows_ingested long",
    )


def run_due_streams(engine, now: float | None = None) -> list[tuple]:
    """Run every stream whose schedule interval has elapsed since its
    last run (never-run scheduled streams are due immediately; streams
    without a schedule only run via RUN STREAM) — the streams half of
    the crawler scheduler sweep."""
    import time as _time

    now = _time.time() if now is None else now
    out: list[tuple] = []
    for name, d in sorted(engine.catalog._load().get("streams", {}).items()):
        secs = d.get("schedule_secs")
        if secs is None:
            continue
        last = d.get("last_run")
        if last is not None and now - last < secs:
            continue
        try:
            out.extend(tuple(r) for r in run_stream(engine, name).collect())
        except Exception as e:
            # one permanently-failing stream must not starve every later
            # stream in the sweep; it retries next sweep, the rest run now
            import sys

            print(f"warning: stream {name!r} failed: {e}", file=sys.stderr)
    return out


def drop_stream(engine, name: str, if_exists: bool = False) -> bool:
    cat = engine.catalog
    if name not in cat._load().get("streams", {}):
        if if_exists:
            return False
        raise ValueError(f"stream {name!r} does not exist")
    cat._mutate(lambda d: d.get("streams", {}).pop(name, None))
    from beacon_spark.sources import bytesource as bs

    # dropping the checkpoint forgets the processed-file set (a
    # re-created stream starts from scratch, like a fresh table)
    bs.rmtree(_checkpoint_dir(engine, name))
    return True


def stream_rows(engine) -> list[tuple]:
    c = engine.catalog._load()
    return [
        (n, d["prefix"], d["table"], d["format"])
        for n, d in sorted(c.get("streams", {}).items())
    ]
