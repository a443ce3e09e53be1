"""Round-12 optimization: streaming state-partition tuning.

``streaming/tuning.py`` scopes ``spark.sql.shuffle.partitions`` to a
smaller, scale-derived width for the start→await region of stateful
streaming queries (state-store commit cost is per partition per batch;
see the module docstring's measurements).  These tests pin:

- the resolver's precedence (conf > parallelism-derived default);
- that the context manager restores the session width on exit AND on
  error;
- that a stream started under the manager actually plans its stateful
  operator with the tuned width (the knob must land in the checkpoint,
  not just the conf).
"""

from __future__ import annotations

import uuid

import pytest

from pyspark.sql import functions as F

from event_streaming_toy_example_spark.streaming.tuning import (
    _SHUFFLE_KEY,
    stream_state_partitions,
    stream_tuning,
)


def test_resolver_precedence(spark):
    default = max(4, spark.sparkContext.defaultParallelism // 4)
    assert stream_state_partitions(spark) == default
    spark.conf.set("spark_graft.stream.statePartitions", "3")
    try:
        assert stream_state_partitions(spark) == 3
    finally:
        spark.conf.unset("spark_graft.stream.statePartitions")


def test_resolver_rejects_malformed_override(spark):
    """A malformed override names its source (ADVICE r12) instead of
    raising a bare ValueError from int() mid-query; a width below 1 is
    rejected the same way, never clamped."""
    try:
        for raw in ("many", "0", "-8"):
            spark.conf.set("spark_graft.stream.statePartitions", raw)
            with pytest.raises(
                ValueError, match="spark_graft.stream.statePartitions"
            ):
                stream_state_partitions(spark)
    finally:
        spark.conf.unset("spark_graft.stream.statePartitions")


def test_context_sets_and_restores(spark):
    prev = spark.conf.get(_SHUFFLE_KEY)
    with stream_tuning(spark):
        assert spark.conf.get(_SHUFFLE_KEY) == str(
            stream_state_partitions(spark)
        )
    assert spark.conf.get(_SHUFFLE_KEY) == prev
    with pytest.raises(RuntimeError):
        with stream_tuning(spark):
            raise RuntimeError("boom")
    assert spark.conf.get(_SHUFFLE_KEY) == prev


def test_stream_plans_with_tuned_width(spark, tmp_path):
    """The width must reach the streaming query's stateful operator —
    asserted through lastProgress.stateOperators.numShufflePartitions."""
    src = str(tmp_path / "in")
    spark.range(0, 100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    ).write.parquet(src)
    name = f"tune_probe_{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark_graft.stream.statePartitions", "3")
    try:
        with stream_tuning(spark):
            q = (
                spark.readStream.schema("k long, v long")
                .parquet(src)
                .groupBy("k")
                .agg(F.count(F.lit(1)).alias("n"))
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
            lp = q.lastProgress
    finally:
        spark.conf.unset("spark_graft.stream.statePartitions")
    parts = {s["numShufflePartitions"] for s in lp["stateOperators"]}
    assert parts == {3}, lp["stateOperators"]
    # and the result is partitioning-independent
    assert spark.table(name).count() == 7
