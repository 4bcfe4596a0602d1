"""Per-query resource limits for the server surface.

The reference enforces per-query row/byte/time budgets on every
transport (tested in ``beacon-db/beacon-core/tests/resource_limits.rs``);
without them one ``{"format": "json"}`` POST can drive the whole server
out of memory. :class:`QueryLimits` is shared by the HTTP, Flight and
MCP transports:

  - ``max_rows`` / ``max_bytes`` — enforced while the result is
    consumed, so driver memory is bounded by ``min(result, cap)`` —
    never by the result. Exceeding raises
    :class:`ResourceLimitExceeded`, which the transports turn into a
    clean 4xx / FlightError instead of an OOM.
  - ``timeout_seconds`` — enforced with a Spark job tag + a watchdog
    that interrupts the tag's jobs, so a runaway query stops consuming
    cluster resources too (not just the response path).

``None`` disables an individual limit. Server defaults are deliberately
generous (1M rows / 256 MiB / no timeout): they are a guard rail
against accidents, not a quota system.
"""

from __future__ import annotations

import logging
import threading
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

__all__ = ["QueryLimits", "ResourceLimitExceeded"]

_log = logging.getLogger("beacon_spark.server.limits")


class ResourceLimitExceeded(ValueError):
    """A query exceeded the server's row/byte/time budget."""


def _payload_bytes(v) -> int:
    """Lower-bound JSON payload size of a row value, recursively —
    array<string>/struct/map results carry their bulk below the top
    level and must count against the byte cap too."""
    if isinstance(v, (str, bytes, bytearray)):
        return len(v)
    if isinstance(v, dict):
        return sum(_payload_bytes(x) + 4 for x in v.values())
    if isinstance(v, (list, tuple)):
        return sum(_payload_bytes(x) + 2 for x in v)
    return 8


@dataclass
class QueryLimits:
    max_rows: int | None = 1_000_000
    max_bytes: int | None = 256 << 20
    timeout_seconds: float | None = None

    # ------------------------------------------------------------ rows

    def collect_rows(self, df) -> list[dict]:
        """Row dicts of ``df``, guarded: consumes ``toLocalIterator``
        (bounded driver memory) and raises the moment the row cap is
        passed instead of materializing an unbounded collect."""
        with self.time_guard(df.sparkSession):
            rows: list[dict] = []
            nbytes = 0
            for r in df.toLocalIterator():
                d = r.asDict(recursive=True)
                rows.append(d)
                if self.max_rows is not None and len(rows) > self.max_rows:
                    raise ResourceLimitExceeded(
                        f"result exceeds the server row limit "
                        f"({self.max_rows}); add a LIMIT or use a file "
                        f"export (output.format)"
                    )
                if self.max_bytes is not None:
                    # cheap lower-bound estimate: payload string/bytes
                    # lengths (the JSON encoding is never smaller), so
                    # wide-string results can't dodge the byte cap the
                    # Arrow paths enforce — recursing into arrays/
                    # structs/maps, where the wide strings often hide
                    nbytes += 16 * len(d) + _payload_bytes(d)
                    if nbytes > self.max_bytes:
                        raise ResourceLimitExceeded(
                            f"result exceeds the server byte limit "
                            f"({self.max_bytes}); add a LIMIT or use a "
                            f"file export (output.format)"
                        )
            return rows

    # ------------------------------------------------------------ batches

    def guard_batches(self, batches):
        """Wrap an Arrow record-batch iterator with row+byte accounting;
        raises mid-stream when a cap is passed (Flight surfaces this as
        a FlightError in the gRPC trailers — the clean over-limit signal
        the reference's resource-limited streams give)."""
        rows = nbytes = 0
        for batch in batches:
            rows += batch.num_rows
            nbytes += batch.nbytes
            if self.max_rows is not None and rows > self.max_rows:
                raise ResourceLimitExceeded(
                    f"result exceeds the server row limit ({self.max_rows})"
                )
            if self.max_bytes is not None and nbytes > self.max_bytes:
                raise ResourceLimitExceeded(
                    f"result exceeds the server byte limit ({self.max_bytes})"
                )
            yield batch

    # ------------------------------------------------------------ time

    @contextmanager
    def time_guard(self, spark):
        """Run the enclosed Spark actions under ``timeout_seconds``: the
        block's jobs carry a unique tag; a watchdog interrupts the tag
        when the budget runs out, and the resulting cancellation error
        is re-raised as :class:`ResourceLimitExceeded`."""
        if self.timeout_seconds is None:
            yield
            return
        tag = f"beacon-limit-{uuid.uuid4().hex}"
        fired = threading.Event()
        done = threading.Event()

        def _watchdog() -> None:
            if done.wait(self.timeout_seconds):
                return
            fired.set()
            # interruptTag only cancels jobs RUNNING at that instant; a
            # query that is a sequence of short jobs (toLocalIterator
            # consumption) would sail on if the interrupt landed in an
            # inter-job gap — keep interrupting until the block exits.
            # A failing interrupt is reported once per guard, not once
            # per retry
            warned = False
            while not done.is_set():
                try:
                    spark.interruptTag(tag)
                except Exception as exc:
                    if not warned:
                        _log.warning("time_guard: interruptTag(%s) failed: "
                                     "%s: %s", tag, type(exc).__name__, exc)
                        warned = True
                done.wait(0.25)

        watchdog = threading.Thread(target=_watchdog, daemon=True)
        spark.addTag(tag)
        watchdog.start()
        try:
            yield
        except Exception as e:
            if fired.is_set():
                raise ResourceLimitExceeded(
                    f"query exceeded the server time limit "
                    f"({self.timeout_seconds}s)"
                ) from e
            raise
        finally:
            done.set()
            try:
                spark.removeTag(tag)
            except Exception as exc:
                _log.warning("time_guard: removeTag(%s) failed: %s: %s",
                             tag, type(exc).__name__, exc)
        if fired.is_set():
            # the interrupt landed between the last job and the exit
            raise ResourceLimitExceeded(
                f"query exceeded the server time limit ({self.timeout_seconds}s)"
            )
