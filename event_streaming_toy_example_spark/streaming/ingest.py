"""Streaming ingest (SURVEY.md §2.4 D1, §2.7 C1, §3.2 rebuilt).

The reference's "lambda" loop: per-record base64 decode, a Redis
set-membership dedup gate (2 TCP round-trips per event), Python dict
enrichment, and an append to an NDJSON file — 278 times per second
(``run_toy_example.py:21-36``, ``toy_lambda_function.py:32-81``).

Here the whole ingest minute is ONE streaming query:

    readStream (rate / file / kafka)
      -> decode_kinesis_data (from_json + unbase64, codegen)
      -> withWatermark + dropDuplicatesWithinWatermark   [D1]
      -> enrich (split/timestamp/partition cols)         [P1/P2/P5]
      -> writeStream partitioned NDJSON staging          [K1/K2]

Dedup-state semantics vs the reference (SURVEY.md §7 M2): the Redis set
is global-and-forever (unbounded state, §8.12). A watermark bounds the
state the way a production system must; choosing a watermark at least
as long as the test horizon reproduces the reference's observable
behavior exactly, and the delta is documented here rather than hidden.

State store: the default in-heap HDFS-backed provider.  RocksDB with
changelog checkpointing
(``spark.sql.streaming.stateStore.providerClass=...RocksDBStateStoreProvider``)
was measured on the live ingest benchmark (``perfbench`` ``ingest_live``,
4-core VM) and was slower: 1,042 ms a trigger against 851 ms, both
under Spark's default checkpoint manager, because its commit file sync
(``rocksdbCommitFileSyncLatencyMs``, about 395 ms a batch) goes through
the same forked-``chmod`` checkpoint writes that local sessions now
avoid (``session.get_spark``).  Revisit it when dedup state outgrows the
executor heap: ~1M events/hour x a 24 h watermark is ~24M keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from event_streaming_toy_example_spark.operators.enrich import (
    split_event_name,
    with_created_datetime,
)
from event_streaming_toy_example_spark.sources.kinesis import (
    decode_kinesis_records,
)
from event_streaming_toy_example_spark.sources.ndjson import (
    PARTITION_COLS_HOUR,
    with_time_partitions,
)


#: The ingest-source contract: ONE string column named ``record``
#: holding the Kinesis-envelope JSON. Any streaming DataFrame reduced
#: to this shape — file, rate, socket, Kafka — feeds the same
#: decode -> dedup -> enrich chain unchanged.
INGEST_RECORD_COLUMN = "record"


def from_kafka_records(df: DataFrame) -> DataFrame:
    """Adapt a Kafka-schema DataFrame to the ingest-source contract.

    Kafka sources (``spark.readStream.format("kafka")``) emit the fixed
    schema ``key binary, value binary, topic, partition, offset,
    timestamp, timestampType``; the envelope JSON rides in ``value``.
    This is the ONLY Kafka-specific step — everything downstream
    (decode, watermark dedup, enrichment, staging sink) is shared with
    the file and rate sources, so the integration test exercises the
    identical chain through a file source carrying the Kafka schema."""
    return df.select(F.col("value").cast("string").alias(INGEST_RECORD_COLUMN))


def kafka_event_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kinesis-envelope records from a Kafka topic, ready for
    ``start_ingest_stream``. Requires the spark-sql-kafka package on
    the classpath (not bundled here — this wires the contract):
    partitions map 1:1 to Kafka partitions, so ingest parallelism is
    the topic's partition count until the dedup shuffle."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return from_kafka_records(raw)


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """D1: stateful streaming dedup on ``event_uuid`` within a
    watermark. ``created_ts`` (event time) is added for the watermark
    and kept — downstream partitioning uses it anyway."""
    with_ts = events.withColumn(
        "created_ts", F.timestamp_seconds(F.col("created_at"))
    )
    return with_ts.withWatermark("created_ts", watermark).dropDuplicatesWithinWatermark(
        ["event_uuid"]
    )


def enrich_stream(events: DataFrame) -> DataFrame:
    """P1/P2 + event-time partition columns for the staging layout —
    the batch expressions, derived from ``created_at``."""
    return with_time_partitions(with_created_datetime(split_event_name(events)))


def start_ingest_stream(
    records: DataFrame,
    staging_path: str,
    checkpoint_path: str,
    watermark: str = "1 hour",
    trigger_seconds: int | None = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """Wire the full ingest query and start it.

    ``trigger_seconds=60`` mirrors the reference's one-batch-per-minute
    cadence (``run_toy_example.py:24-26``); ``available_now=True`` runs
    it as a self-terminating backfill (the "glue-style" catch-up).
    """
    staged = enrich_stream(
        dedup_stream(decode_kinesis_records(records), watermark)
    ).drop("created_ts")
    writer = (
        staged.writeStream.format("json")
        .option("path", staging_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy(*PARTITION_COLS_HOUR)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def start_ingest_stream_with_dlq(
    records: DataFrame,
    staging_path: str,
    dlq_path: str,
    checkpoint_path: str,
    trigger_seconds: int | None = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """Ingest with an error path: each micro-batch is decoded once and
    split (``decode_with_dead_letter``) inside ``foreachBatch`` —
    undecodable records append raw to the dead-letter dir for
    replay/repair; valid records are batch-deduped, enriched, and
    staged exactly like ``start_ingest_stream``.

    ``foreachBatch`` because one streaming query cannot fan out to two
    file sinks; the micro-batch is cached so both branches share one
    pass over the source. Cross-batch stateful dedup is traded for
    batch-local dedup plus the compaction tier's exact dedup — the
    two-tier design the reference README itself argues for
    (``README.md:269-289``); use ``start_ingest_stream`` when
    watermarked global dedup is wanted and inputs are trusted.

    Replay idempotence: ``foreachBatch`` re-runs a batch after a crash
    (two sinks = no atomic commit), so BOTH branches write
    mode-overwrite into ``ingest_batch=<batch_id>``-scoped partitions —
    a replayed batch replaces its own output instead of appending a
    duplicate copy, even after a partial failure between the two
    writes. Readers see ``ingest_batch`` as one more discovered
    partition column.
    """
    from event_streaming_toy_example_spark.operators.dedup import dedup_exact
    from event_streaming_toy_example_spark.sources.kinesis import (
        decode_with_dead_letter,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            valid, dead = decode_with_dead_letter(batch_df)
            dead.write.mode("overwrite").text(
                f"{dlq_path}/ingest_batch={batch_id}"
            )
            staged = enrich_stream(dedup_exact(valid, ["event_uuid"]))
            staged.write.mode("overwrite").partitionBy(*PARTITION_COLS_HOUR).json(
                f"{staging_path}/ingest_batch={batch_id}"
            )
        finally:
            batch_df.unpersist()

    writer = records.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def rate_event_source(spark: SparkSession, rows_per_second: int = 278,
                      seed: int = 42) -> DataFrame:
    """C1: a streaming synthetic source at the reference's 278 ev/s —
    the rate source drives the same seeded column-expression generator
    used in batch (``sources/generator.py``), then wraps envelopes.
    """
    from event_streaming_toy_example_spark.sources.generator import (
        _event_name_column,
        _specifics_column,
        _uuid,
        _h,
        _TS_SPAN,
        _TS_START,
    )
    from event_streaming_toy_example_spark.sources.kinesis import wrap_kinesis_envelope

    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", str(rows_per_second)
    ).load()
    id_col = F.col("value")
    frac = F.pmod(_h("ts_frac", seed, id_col), 1000000) / F.lit(1000000.0)
    created_at = (
        F.pmod(_h("ts", seed, id_col), _TS_SPAN) + F.lit(_TS_START) + frac
    ).cast("double")
    events = (
        rate.withColumn("event_name", _event_name_column(seed, id_col))
        .select(
            created_at.alias("created_at"),
            F.col("event_name"),
            _specifics_column(seed, id_col, F.col("event_name")).alias(
                "event_specifics"
            ),
            _uuid("event_uuid", seed, id_col).alias("event_uuid"),
        )
    )
    return wrap_kinesis_envelope(events)
