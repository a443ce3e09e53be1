"""Custom stateful streaming operators (``applyInPandasWithState`` and
``transformWithStateInPandas``).

The reference has exactly one stateful construct — the external Redis
dedup set (``toy_lambda_function.py:48-52``); Spark's built-ins cover
that (``dropDuplicatesWithinWatermark``).  This module adds the custom
state surface a real pipeline needs beyond built-ins: per-key
sessionization with explicit state transitions, the canonical
"operator Spark's declarative API cannot express" (built-in
``session_window`` aggregates whole sessions; this emits each *closed*
session incrementally and carries open sessions across micro-batches).
State that a built-in aggregate can carry does not belong here: the
streaming CEP matcher is the batch matcher's aggregate run as a
JVM-side streaming aggregation (``plans/queries_ext17.cep_sequences``).

Scale design: state is one fixed-width row per key (3 longs), hash
partitioned by the group key — state-store size is O(active keys), not
O(events).  Arrow moves each group's rows in batches, and the
per-group sort is bounded by a micro-batch's rows for that key.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("last_event_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

#: (session_start_us, last_ts_us, n_events) — one fixed-width row per key.
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_start_us", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _session_fn_factory(gap_us: int):
    """Build the per-group transition function.

    Semantics (kept in lockstep with the batch oracle): an event at
    ``ts`` joins the open session iff ``ts - last_ts < gap``; at
    ``ts - last_ts >= gap`` the open session closes (emitted) and a new
    one starts.  Matches ``F.session_window``'s half-open
    ``[start, last + gap)`` windows.
    """

    def fn(
        key: tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        # Micro-batches deliver a group's rows unordered; sessionization
        # is order-defined, so sort within the batch (cross-batch order
        # is the stream's arrival order, as in any incremental engine).
        rows = rows.sort_values(["ts_us", "event_id"], kind="mergesort")

        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = -1
            n = 0

        closed: list[tuple[int, int, int, int]] = []
        uid = key[0]
        for ts_us in rows["ts_us"]:
            ts_us = int(ts_us)
            if n == 0:
                start_us, last_us, n = ts_us, ts_us, 1
            elif ts_us - last_us >= gap_us:
                closed.append((uid, start_us, last_us, n))
                start_us, last_us, n = ts_us, ts_us, 1
            else:
                last_us = ts_us
                n += 1
        state.update((start_us, last_us, n))
        if closed:
            yield pd.DataFrame(
                closed, columns=[f.name for f in SESSION_OUTPUT_SCHEMA.fields]
            )

    return fn


def sessionize_stateful(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Incremental sessionization over a (possibly streaming) DataFrame.

    Emits one row per *closed* session; the open tail session per key
    stays in state (callers flushing a bounded run append a per-key
    sentinel event beyond the gap horizon — see
    ``plans.queries_ext2.q_stream_session_stateful``).
    """
    gap_us = gap_minutes * 60 * 1_000_000
    prepped = events.select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(id_col).alias("event_id"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _session_fn_factory(gap_us),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Watermark-timeout flush: the UNBOUNDED-stream close path
# --------------------------------------------------------------------------

WM_COUNT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day", StringType()),
        StructField("n_events", LongType()),
        StructField("sum_value_cc", LongType()),
    ]
)

#: (n_events, sum_value_cc) — one fixed-width row per open (user, day).
WM_COUNT_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value_cc", LongType()),
    ]
)



def _wm_count_fn(
    key: tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-(user, day) accumulation flushed by EVENT-TIME TIMEOUT: the
    group emits when the watermark passes the end of its day — no
    sentinel rows, the way an unbounded deployment closes keys."""
    if state.hasTimedOut:
        n, sv = state.get
        state.remove()
        yield pd.DataFrame(
            [(int(key[0]), str(key[1]), n, sv)],
            columns=[f.name for f in WM_COUNT_OUTPUT_SCHEMA.fields],
        )
        return
    n, sv = state.get if state.exists else (0, 0)
    day_end_ms = 0
    for pdf in pdf_iter:
        n += len(pdf)
        sv += int(pdf["value_cc"].sum())
        # constant within the group: the planner computed it from the
        # SAME session-timezone day the group key carries (re-deriving
        # it here as UTC midnight would flush at the wrong boundary in
        # any non-UTC session)
        day_end_ms = int(pdf["day_end_ms"].iloc[0])
    state.update((n, sv))
    # the timeout must sit strictly beyond the current watermark; a
    # group whose day already closed flushes on the next batch
    state.setTimeoutTimestamp(
        max(day_end_ms, state.getCurrentWatermarkMs() + 1)
    )


def daily_counts_watermark_flush(
    events: DataFrame,
    delay: str = "1 second",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-(user, day) event counts + value sums over a stream, closed
    by WATERMARK rather than sentinels: each group times out when the
    event-time watermark passes its day boundary
    (``GroupStateTimeout.EventTimeTimeout``), which is how an
    unbounded deployment flushes — late data within ``delay`` still
    lands; anything later is dropped by the watermark operator.

    Scale design: state is one fixed-width row per OPEN (user, day) —
    the timeout bounds state lifetime to the day length plus the
    watermark delay, so state never accumulates dormant keys (the
    principled fix for the reference's forever-growing Redis set,
    ``toy_lambda_function.py:48-52``, applied to windowed aggregation
    state)."""
    prepped = events.withWatermark(ts_col, delay).select(
        F.col(user_col).alias("user_id"),
        F.date_format(ts_col, "yyyy-MM-dd").alias("day"),
        F.round(F.col(value_col) * 100).cast("long").alias("value_cc"),
        # the day boundary in the SESSION timezone — the same calendar
        # the day label uses; executors must not re-derive it as UTC.
        # The boundary is the CALENDAR's next midnight (+ INTERVAL 1
        # DAY), not start-of-day + a fixed 86.4M ms: on DST-shifted
        # days in non-UTC session timezones a 25-hour day would arm
        # the timeout an hour early, letting a still-open (user, day)
        # group flush and then re-open — duplicate rows in append mode.
        F.unix_millis(
            F.date_trunc("DAY", F.col(ts_col)) + F.expr("INTERVAL 1 DAY")
        ).alias("day_end_ms"),
        # the watermark column must reach the stateful operator or
        # Spark rejects EventTimeTimeout at analysis time
        F.col(ts_col).alias("ts"),
    )
    out = prepped.groupBy("user_id", "day").applyInPandasWithState(
        _wm_count_fn,
        outputStructType=WM_COUNT_OUTPUT_SCHEMA,
        stateStructType=WM_COUNT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # watermark-advancing rows (user_id < 0) must NOT be filtered
    # before the watermark operator — Catalyst pushes such a filter
    # into the scan, and the sentinel then never advances the
    # watermark (measured: the last day's groups never flush).  They
    # flow through as their own group, whose far-future day never
    # times out inside the run, and are dropped at the OUTPUT.
    return out.where(F.col("user_id") >= 0)


# --------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 state-v2 API)
# --------------------------------------------------------------------------

#: Known locations of a pure-Python ``google.protobuf`` runtime to fall
#: back on when the package is not pip-installed.  The Google Cloud SDK
#: bundles one (public protobuf, BSD-licensed) under its App Engine
#: tooling — a dev-container convenience only; production installs
#: protobuf normally.  ``SPARK_GRAFT_PROTOBUF_PATH`` prepends a
#: caller-supplied location.
_PROTOBUF_FALLBACK_PATHS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_state_v2_runtime() -> bool:
    """Make ``google.protobuf`` importable for the state-v2 Python
    runner, returning whether it is available.

    Besides the normal import this tries known fallback locations of a
    pure-Python protobuf runtime, adding them to BOTH ``sys.path`` (this
    process) and ``$PYTHONPATH`` (so Spark's Python *workers*, which the
    JVM launches with the inherited environment, can import it too —
    which is why callers that need workers to see it must run this
    BEFORE the SparkSession's JVM starts; ``session.get_spark`` does).

    The fallback runtime may trail pyspark's generated proto gencode by
    a minor version (observed: runtime 6.32 vs gencode 6.33, which are
    wire-compatible); protobuf's own documented escape hatch
    ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` waives the strict
    check for exactly that case.  The state-v2 integration test
    (``tests/test_streaming.py``) exercises the full path end-to-end,
    so an actually-incompatible runtime fails visibly there, not
    silently."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        pass
    candidates = [
        p
        for p in (
            os.environ.get("SPARK_GRAFT_PROTOBUF_PATH"),
            *_PROTOBUF_FALLBACK_PATHS,
        )
        if p
    ]
    for cand in candidates:
        if not os.path.isdir(os.path.join(cand, "google", "protobuf")):
            continue
        if cand not in sys.path:
            sys.path.insert(0, cand)
        existing = os.environ.get("PYTHONPATH", "")
        if cand not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                cand + (os.pathsep + existing if existing else "")
            )
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )
        try:
            from google.protobuf import descriptor  # noqa: F401

            return True
        except ImportError:
            continue
    return False


USER_STATS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value_cc", LongType()),
        StructField("last_ts_us", LongType()),
    ]
)

#: (n_events, sum_value_cc, last_ts_us) — one fixed-width row per key.
USER_STATS_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value_cc", LongType()),
        StructField("last_ts_us", LongType()),
    ]
)


def running_user_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` —
    the Spark 4 arbitrary-state API (named typed state variables,
    per-state TTL, timers) that supersedes ``applyInPandasWithState``
    for new operators.

    Each micro-batch emits the UPDATED cumulative row per user seen in
    that batch (update semantics, like a continuously-maintained
    profile table). Values accumulate in exact integer cents so a
    single-batch run is hash-comparable to a plain batch aggregate.

    Scale design: state is one fixed-width row per key in the
    state store, hash-partitioned by user — O(active users), not
    O(events) — and ``state_ttl_ms`` bounds it further by evicting
    dormant keys (the principled fix for the reference's forever-
    growing Redis dedup set, reference ``toy_lambda_function.py:48-52``,
    applied to profile state).
    """
    # the state-v2 Python runner speaks protobuf to the JVM; fail at
    # plan-build time with a clear message instead of a mid-query
    # worker crash when the dependency is missing (this container
    # ships pyspark without protobuf — ensure_state_v2_runtime can
    # discover a local pure-Python runtime as a fallback)
    if not ensure_state_v2_runtime():
        raise RuntimeError(
            "running_user_stats requires transformWithStateInPandas, whose "
            "Python worker needs the 'protobuf' package (google.protobuf); "
            "install protobuf (or point SPARK_GRAFT_PROTOBUF_PATH at a "
            "pure-Python runtime), or use sessionize_stateful "
            "(applyInPandasWithState) which has no such dependency."
        )

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", USER_STATS_STATE_SCHEMA, ttlDurationMs=state_ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._stats.exists():
                n, sum_cc, last_us = self._stats.get()
            else:
                n, sum_cc, last_us = 0, 0, -1
            for pdf in rows:
                n += len(pdf)
                sum_cc += int(pdf["value_cc"].sum())
                last_us = max(last_us, int(pdf["ts_us"].max()))
            self._stats.update((n, sum_cc, last_us))
            yield pd.DataFrame(
                [(key[0], n, sum_cc, last_us)],
                columns=[f.name for f in USER_STATS_OUTPUT_SCHEMA.fields],
            )

        def close(self) -> None:
            pass

    prepped = events.select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.round(F.col(value_col) * 100).cast("long").alias("value_cc"),
    )
    return prepped.groupBy("user_id").transformWithStateInPandas(
        _RunningStats(),
        outputStructType=USER_STATS_OUTPUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )
