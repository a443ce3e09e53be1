"""Per-layer instrumentation for the traced run (``--trace 1``).

Everything here is installed from the benchmark's side: module-level
public functions of ``plans.pipeline`` and ``operators.txtable`` are
wrapped with timers, the ``LogStore`` methods with counters, and
streaming progress is taken from a benchmark-owned
``StreamingQueryListener``.  The package itself is not modified.  The
untraced run installs none of it, so end-to-end numbers never pay for
it.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import Counter

#: (module, function, span name) wrapped with a timer.  Calls inside a
#: module go through its globals, so a wrapper set on the module sees
#: them too.  Every commit-log read, ``read_log`` and the state fold
#: alike, goes through ``_read_commit``: it is the ``read_log`` span.
_TIMED = (
    ("pipeline", "ingest_batch", "pipeline.ingest_batch"),
    ("pipeline", "compact_staging", "pipeline.compact_staging"),
    ("txtable", "tx_replace_where", "txtable.tx_replace_where"),
    ("txtable", "commit", "txtable.commit"),
    ("txtable", "snapshot", "txtable.snapshot"),
    ("txtable", "_read_commit", "txtable.read_log"),
    ("txtable", "prune_files", "txtable.prune_files"),
    ("txtable", "read_table", "txtable.read_table"),
)
_LOG_READS = ("read_bytes", "list_dir", "exists", "mtime", "size", "list_files")
_LOG_WRITES = ("put_if_absent", "delete", "mkdirs")


class Tracer:
    """Accumulates span time (``<layer>.<fn>_s``) and call counts
    (``<layer>.<fn>_calls``) between :meth:`begin` and :meth:`end`."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._active = False
        self._cur: Counter = Counter()

    def install(self) -> None:
        from event_streaming_toy_example_spark.operators import logstore
        from event_streaming_toy_example_spark.operators import txtable
        from event_streaming_toy_example_spark.plans import pipeline

        modules = {"pipeline": pipeline, "txtable": txtable}
        for mod_name, fn_name, span in _TIMED:
            mod = modules[mod_name]
            setattr(mod, fn_name, self._timed(getattr(mod, fn_name), span))
        for meth in _LOG_READS:
            self._counted(logstore.PosixLogStore, meth, "logstore.reads")
        for meth in _LOG_WRITES:
            self._counted(logstore.PosixLogStore, meth, "logstore.writes")

    def _add(self, items: dict) -> None:
        with self._lock:
            if self._active:
                self._cur.update(items)

    def _timed(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._add({f"{name}_s": time.perf_counter() - t0,
                             f"{name}_calls": 1})
            if name == "txtable.prune_files":
                scan, skip = out
                tracer._add({"txtable.prune_kept": len(scan),
                             "txtable.prune_live": len(scan) + len(skip)})
            return out

        return wrapper

    def _counted(self, cls, meth: str, name: str) -> None:
        fn = getattr(cls, meth)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer._add({name: 1})
            return fn(*args, **kwargs)

        setattr(cls, meth, wrapper)

    def begin(self) -> None:
        with self._lock:
            self._cur = Counter()
            self._active = True

    def end(self) -> Counter:
        with self._lock:
            self._active = False
            return self._cur


class ProgressLog:
    """Progress records of one streaming query, kept from ``since``
    (epoch seconds) on; filled by :func:`progress_listener`."""

    def __init__(self) -> None:
        self.query_id: str | None = None
        self.since: float | None = None
        self.batches: list[dict] = []


def progress_listener(log: ProgressLog):
    """A benchmark-owned ``StreamingQueryListener`` feeding ``log``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            if str(p.id) != log.query_id or log.since is None:
                return
            if _epoch(p.timestamp) < log.since:
                return
            state = p.stateOperators[0] if p.stateOperators else None
            log.batches.append({
                "batch": p.batchId,
                "rows": p.numInputRows,
                "durations": dict(p.durationMs),
                "state_rows": state.numRowsTotal if state else 0,
                "state_bytes": state.memoryUsedBytes if state else 0,
                "state_commit_ms": state.commitTimeMs if state else 0,
            })

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return _Listener()


def _epoch(iso: str) -> float:
    """Progress timestamps are ISO-8601 UTC strings ending in ``Z``."""
    from datetime import datetime, timezone

    return (
        datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )
