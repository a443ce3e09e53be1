"""Streaming state-partition tuning (optimization guide §2.4/§5).

A streaming query's stateful operators create one state-store instance
per shuffle partition, and every micro-batch pays a fixed per-store
commit cost — one atomic delta-file write (create, write, rename) plus
provider load and maintenance bookkeeping per store per batch —
regardless of how many rows the partition carries.  Most of that cost
was the checkpoint writer, not the store: without libhadoop every
``setPermission`` on the local file system forks a ``chmod``, and
Spark's default FileContext-based checkpoint manager sets permissions
several times per atomic write (43-52 ms a write against 16-19 ms with
the FileSystem-based manager that local sessions now use, see
``session.get_spark`` and ``tools/checkpoint_write_probe.py``).  Batch
queries get their effective shuffle width coalesced at runtime by AQE;
streaming state partitioning is pinned into the checkpoint at query
start and never coalesced, so inheriting the batch
``spark.sql.shuffle.partitions`` over-partitions the state store
whenever per-batch state volume is small relative to the configured
width.

Measured on this workload (sf0.1, local[32] on 4 cores, 3-run medians,
``tools/time_entries.py``; state width 8 / 32; the per-batch breakdown
in ``tools/stream_profile.py`` attributes the gap to
``stateOperators.commitTimeMs``):

=====================  =================  =====================
entry                  default manager    FileSystem-based
                       8 / 32             8 / 32
=====================  =================  =====================
stream_join_outer      5.09 / 12.80 s     3.13 / 5.70 s
stream_session_window  3.02 / 5.14 s      2.10 / 3.33 s
stream_hourly_counts   1.39 / 2.24 s      1.13 / 2.11 s
=====================  =================  =====================

Narrowing the width still pays after the manager switch (1.8x on
``stream_join_outer``), so the per-store cost is smaller but not gone.

An earlier measurement under the default manager (local[32], the
same 32 and 8 widths) showed the limit of narrowing: the CEP stream,
then an ``applyInPandasWithState`` transition over 40k (user, day)
groups, ran 15.0 s at 32 and 24.1 s at 8, a regression.  That is the
design constraint: entries whose micro-batch work is
Python-compute-bound (``applyInPandasWithState`` over many/large
groups, e.g. ``stream_session_stateful``) need the full batch width
for worker parallelism, so they do not enter :func:`stream_tuning` at
all.  ``stream_cep_pattern`` is now a built-in streaming aggregation
with no Python in it; at sf0.1 on 4 cores it measured 3.04 s inside
:func:`stream_tuning` and 2.98 s outside, which is noise, so it
stays outside.

Sizing is scale-adaptive, never a local constant: the default is
``max(4, defaultParallelism // 4)`` — it grows with the cluster (250
state partitions at 1000 cores), but stays a fraction of the batch
width because stateful stages are commit-bound, not CPU-bound.  A
deployment whose state genuinely needs more width (state must fit the
executor heap per partition) sets ``spark_graft.stream.statePartitions``
on the session, which overrides the heuristic.

Concurrency note (ADVICE r12): ``stream_tuning`` mutates the
session-global ``spark.sql.shuffle.partitions`` for the whole
start→await region, so any OTHER query planned on the shared session
inside that window — a concurrent stream, or a batch action issued from
another driver thread — also plans at the reduced width.  Batch plans
are insulated in practice (AQE coalesces/grows batch shuffles at
runtime), but the scope is process-global state: callers driving
several streaming queries concurrently from one session must either
serialize the tuned regions or set the width once session-wide via the
conf override instead of this context manager.  Nested/overlapping
regions are not thread-safe (the restore writes back whatever value the
region saw at entry).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

_PARTS_CONF = "spark_graft.stream.statePartitions"
_SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def _parse_width(raw: str, source: str) -> int:
    """Parse a width override, naming the misconfigured source in the
    error instead of raising a bare ``ValueError`` from ``int()`` deep
    inside query execution (ADVICE r12).  Values below 1 are rejected,
    not clamped: a zero or negative width is a misconfiguration."""
    try:
        width = int(raw)
    except ValueError:
        width = 0  # not an integer: refused below like any width < 1
    if width < 1:
        raise ValueError(
            f"invalid streaming state-partition override {raw!r} from "
            f"{source}: expected a positive integer"
        )
    return width


def stream_state_partitions(spark: SparkSession) -> int:
    """Resolve the streaming state-partition width for this session:
    explicit conf > ``max(4, defaultParallelism // 4)``.  An empty
    conf value is treated as unset (falls through)."""
    conf = spark.conf.get(_PARTS_CONF, None)
    if conf:
        return _parse_width(conf, f"session conf {_PARTS_CONF}")
    return max(4, spark.sparkContext.defaultParallelism // 4)


@contextmanager
def stream_tuning(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to the streaming width
    for the duration of a start→awaitTermination region.

    The width a streaming query plans its stateful exchanges with is
    read from the session conf when the first micro-batch's offsets are
    constructed, so the override must stay in place until the query
    terminates — wrap the WHOLE start+await region, not just
    ``.start()``."""
    prev = spark.conf.get(_SHUFFLE_KEY)
    spark.conf.set(_SHUFFLE_KEY, str(stream_state_partitions(spark)))
    try:
        yield
    finally:
        spark.conf.set(_SHUFFLE_KEY, prev)
