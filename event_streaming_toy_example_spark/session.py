"""SparkSession factory.

One place to build a correctly-configured session so every entry point
(tests, bench, driver contract, streaming jobs) shares the same tuning.

Scale notes (the knobs that matter at 100 TB / 1000 executors):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion replace any hand-tuned partition counts (the
  reference hard-codes ``repartition(2, "language_id")``; we never do).
- ``spark.sql.shuffle.partitions`` is only the *initial* number under
  AQE; locally we match core count, on a cluster set ~2-3x total cores.
- UTC session timezone: required for oracle comparison (DuckDB is
  UTC-naive) and the only sane choice for event-time partitioning.
- Arrow on: every Pandas-UDF path (similarity, multimodal, generator)
  moves data in Arrow batches, not pickled rows.
- Nested-schema pruning on: event payloads are one wide struct
  (``event_specifics``); queries projecting 2 of its 30 fields must not
  read the other 28 from Parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "event-streaming-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the same code
    runs unmodified under the bench/driver harness; on a real cluster the
    caller passes the cluster master (or spark-submit supplies it).
    """
    cpus = DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    # state-v2 (transformWithStateInPandas) needs google.protobuf in
    # the Python WORKERS, which inherit $PYTHONPATH from the JVM's
    # environment — so the fallback-runtime discovery must run before
    # the JVM starts.  Best-effort: sessions work fully without it,
    # minus the state-v2 operators (their gate stays loud).
    from event_streaming_toy_example_spark.streaming.stateful import (
        ensure_state_v2_runtime,
    )

    ensure_state_v2_runtime()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource filter pushdown (Spark 4.1) — lets the
        # txtable source (sources/txsource.py) translate SQL WHERE
        # clauses into commit-log stats/bloom file pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # INT64 micros over the legacy INT96 default: INT96 carries NO
        # parquet min/max statistics, so timestamp predicates can't
        # prune row groups (Spark) or files (the txtable commit-log
        # stats) — a retention delete or time-range scan on a 100 TB
        # time-clustered table would read everything
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # zstd over the snappy default for every parquet sink: measured
        # 32-40% smaller files on this workload's tables at equal write
        # time (docs/PLANS.md) — tens of TB at the 100 TB design point,
        # and smaller files also mean fewer scan bytes downstream
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # File-listing strategy for EXPLICIT file lists (the txtable
        # read path hands Spark one path per live data file): above
        # this threshold Spark schedules a DISTRIBUTED listing job with
        # one task per path — measured 190 ms at 34 paths, 0.9 s at
        # 340, 7.6 s at 3400 on local[32] (round-9 A/B,
        # tools/follower_ab_probe.py), because each task costs far more
        # than the getFileStatus it wraps.  Driver-side threadpool
        # listing handles the same counts in 107/166/728 ms (~10x).
        # The Spark default (32) is tuned for S3 listing of DIRECTORY
        # trees, not known-file manifests; 4096 keeps snapshot reads of
        # up-to-thousands-of-file tables off the scheduler while still
        # letting a genuinely huge (million-file) scan distribute.
        # This was the round-8 tx_feed_follower bench regression: the
        # follower table crossed 32 live files and every DataFrame
        # construction started paying a ~150 ms listing job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Generated-class cache (STATIC conf, default 100 entries): a
        # session running many distinct query shapes — this engine's
        # catalog is 227 — evicts and re-Janino-compiles codegen units
        # on every revisit, and each fresh class restarts cold in the
        # JIT.  Sized for a long-lived multi-query session; override via
        # env for constrained drivers.  Entries are small (bytecode +
        # weak-ref keys), so the memory cost is a few tens of MB.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "2000"),
        )
    )
    if master.startswith("local"):
        # Checkpoint writer for every streaming query (offset, commit,
        # source and sink logs, one state-store delta per shuffle
        # partition, each micro-batch).  Without libhadoop,
        # RawLocalFileSystem.setPermission forks a `chmod`, and Spark's
        # default FileContext-based manager sets permissions several
        # times per atomic write: measured 43-52 ms and ~20 process
        # creations per createAtomic+close on a 4-core VM, against
        # 16-19 ms and ~4 with the FileSystem-based manager
        # (tools/checkpoint_write_probe.py).  ingest_live under
        # --trace 1: state.commit_ms 422-444 -> 20 ms, trigger_ms
        # 851-869 -> 507 ms.  On file: both managers publish with an
        # exists check then a rename, so atomicity is unchanged and
        # existing checkpoints stay readable.  Cluster masters keep
        # Spark's default (object stores and HDFS have their own
        # atomic-rename story).
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    extra_java = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if extra_java:
        builder = builder.config("spark.driver.extraJavaOptions", extra_java)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
