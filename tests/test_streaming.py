"""Structured Streaming ingest: watermarked dedup, file staging sink."""

from __future__ import annotations

import json
import pathlib

from event_streaming_toy_example_spark.sources import (
    generate_events,
    inject_duplicates,
    wrap_kinesis_envelope,
)
from event_streaming_toy_example_spark.streaming.ingest import start_ingest_stream


def test_stream_ingest_dedups_and_stages(spark, tmp_path):
    """File-source streaming run: duplicates injected upstream are
    removed by dropDuplicatesWithinWatermark; staged layout is
    hive-partitioned NDJSON with enrichment columns."""
    src = str(tmp_path / "incoming")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")

    events = generate_events(spark, 300, seed=21)
    records = wrap_kinesis_envelope(inject_duplicates(events, rate=0.08, seed=21))
    records.write.mode("overwrite").text(src)

    stream = spark.readStream.schema("record string").text(src).withColumnRenamed(
        "value", "record"
    )
    q = start_ingest_stream(
        stream, staging, ckpt, watermark="365 days", available_now=True
    )
    q.awaitTermination(120)

    staged = spark.read.json(staging)
    assert staged.count() == events.count()  # all dups removed
    assert {"event_type", "event_subtype", "created_datetime"} <= set(staged.columns)

    files = list(pathlib.Path(staging).rglob("*.json"))
    assert any("year=" in str(f) for f in files)
    obj = json.loads(open(files[0]).readline())
    assert "event_uuid" in obj


def test_stream_ingest_with_dlq_routes_bad_records(spark, tmp_path):
    """foreachBatch ingest: corrupt records land raw in the DLQ dir,
    valid records are deduped and staged with enrichment columns."""
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.streaming.ingest import (
        start_ingest_stream_with_dlq,
    )

    src = str(tmp_path / "incoming")
    staging = str(tmp_path / "staging")
    dlq = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")

    events = generate_events(spark, 200, seed=5)
    feed = wrap_kinesis_envelope(
        inject_duplicates(events, rate=0.1, seed=5), keep=["event_uuid"]
    ).select(
        F.when(
            F.crc32("event_uuid") % 10 == 0,
            F.concat(F.lit("BROKEN"), F.col("record")),
        )
        .otherwise(F.col("record"))
        .alias("record")
    )
    n_bad = feed.where(F.col("record").startswith("BROKEN")).count()
    n_valid_distinct = (
        wrap_kinesis_envelope(events, keep=["event_uuid"])
        .where(F.crc32("event_uuid") % 10 != 0)
        .select("event_uuid")
        .distinct()
        .count()
    )
    feed.write.mode("overwrite").text(src)

    stream = spark.readStream.schema("record string").text(src).withColumnRenamed(
        "value", "record"
    )
    q = start_ingest_stream_with_dlq(stream, staging, dlq, ckpt, available_now=True)
    q.awaitTermination(120)

    staged = spark.read.json(staging)
    assert staged.count() == n_valid_distinct
    assert staged.where(F.col("event_uuid").isNull()).count() == 0
    assert {"event_type", "event_subtype", "created_datetime"} <= set(staged.columns)

    dead = spark.read.text(dlq)
    assert dead.count() == n_bad
    assert dead.where(~F.col("value").startswith("BROKEN")).count() == 0


def test_stream_late_data_dropped_by_watermark(spark, tmp_path):
    """Late-data handling: rows older than the watermark horizon are
    dropped by the stateful operator. Batch 1 (fresh events) advances
    the watermark; batch 2 replays events 2 days older — with a 1-hour
    watermark every one of them is late and must not reach staging."""
    import time

    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.sources import (
        generate_events,
        wrap_kinesis_envelope,
    )

    src = tmp_path / "incoming"
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    events = generate_events(spark, 200, seed=55)
    on_time = events.where(F.col("created_at") >= F.lit(0))  # all
    late = events.select(
        (F.col("created_at") - 2 * 24 * 3600).alias("created_at"),
        "event_name",
        "event_specifics",
        F.concat(F.lit("late-"), F.col("event_uuid")).alias("event_uuid"),
    )

    # batch 1: on-time events establish the watermark
    wrap_kinesis_envelope(on_time).coalesce(1).write.mode("overwrite").text(
        str(src / "b1")
    )
    stream = (
        spark.readStream.schema("record string")
        .option("maxFilesPerTrigger", "1")
        .text(str(src / "b*" / "*.txt"))
        .withColumnRenamed("value", "record")
    )
    q = start_ingest_stream(stream, staging, ckpt, watermark="1 hour",
                            available_now=True)
    q.awaitTermination(120)
    n1 = spark.read.json(staging).count()
    assert n1 == 200

    # batch 2: replay 2-days-older events into the SAME checkpoint
    wrap_kinesis_envelope(late).coalesce(1).write.mode("overwrite").text(
        str(src / "b2")
    )
    stream2 = (
        spark.readStream.schema("record string")
        .option("maxFilesPerTrigger", "1")
        .text(str(src / "b*" / "*.txt"))
        .withColumnRenamed("value", "record")
    )
    q2 = start_ingest_stream(stream2, staging, ckpt, watermark="1 hour",
                             available_now=True)
    q2.awaitTermination(120)
    time.sleep(1)
    staged = spark.read.json(staging)
    assert staged.count() == 200, "late rows must be dropped"
    assert staged.where(staged.event_uuid.startswith("late-")).count() == 0


def test_stream_metrics_listener(spark, tmp_path):
    from event_streaming_toy_example_spark.streaming.metrics_listener import (
        PipelineMetricsListener,
    )

    listener = PipelineMetricsListener()
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "in")
        events = generate_events(spark, 50, seed=33)
        wrap_kinesis_envelope(events).write.mode("overwrite").text(src)
        stream = spark.readStream.schema("record string").text(src).withColumnRenamed(
            "value", "record"
        )
        q = start_ingest_stream(
            stream,
            str(tmp_path / "stage"),
            str(tmp_path / "ck"),
            available_now=True,
        )
        q.awaitTermination(120)
        # listener is async; poll briefly
        import time

        for _ in range(20):
            if listener.metrics.lambda_invocations > 0:
                break
            time.sleep(0.5)
        assert listener.metrics.lambda_invocations >= 1
    finally:
        spark.streams.removeListener(listener)


def test_kafka_shaped_source_contract(spark, tmp_path):
    """The same decode -> dedup -> enrich chain must run unchanged on a
    source carrying Kafka's exact schema (key/value binary + topic/
    partition/offset/timestamp), adapted by from_kafka_records — the
    only Kafka-specific step."""
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.streaming.ingest import (
        from_kafka_records,
        start_ingest_stream,
    )

    src = str(tmp_path / "kafka_shaped")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")

    events = generate_events(spark, 150, seed=11)
    feed = wrap_kinesis_envelope(
        inject_duplicates(events, rate=0.1, seed=11), keep=["event_uuid"]
    )
    kafka_schema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int"
    )
    kafka_shaped = feed.select(
        F.encode(F.col("event_uuid"), "UTF-8").alias("key"),
        F.encode(F.col("record"), "UTF-8").alias("value"),
        F.lit("events").alias("topic"),
        (F.crc32("event_uuid") % 8).cast("int").alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),
    )
    kafka_shaped.write.mode("overwrite").parquet(src)

    stream = from_kafka_records(spark.readStream.schema(kafka_schema).parquet(src))
    q = start_ingest_stream(
        stream, staging, ckpt, watermark="365 days", available_now=True
    )
    q.awaitTermination(120)

    staged = spark.read.json(staging)
    assert staged.count() == events.count()  # dups removed
    assert {"event_type", "event_subtype", "created_datetime"} <= set(staged.columns)


def test_dlq_ingest_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (fresh checkpoint, same input) must
    REPLACE its previous output, not append a duplicate copy — both
    sinks write mode-overwrite into ingest_batch-scoped partitions."""
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.streaming.ingest import (
        start_ingest_stream_with_dlq,
    )

    src = str(tmp_path / "incoming")
    staging = str(tmp_path / "staging")
    dlq = str(tmp_path / "dlq")

    events = generate_events(spark, 120, seed=13)
    feed = wrap_kinesis_envelope(events, keep=["event_uuid"]).select(
        F.when(
            F.crc32("event_uuid") % 10 == 0,
            F.concat(F.lit("BROKEN"), F.col("record")),
        )
        .otherwise(F.col("record"))
        .alias("record")
    )
    feed.write.mode("overwrite").text(src)

    for attempt in (1, 2):  # second run = replay with a fresh checkpoint
        stream = spark.readStream.schema("record string").text(src)
        q = start_ingest_stream_with_dlq(
            stream, staging, dlq, str(tmp_path / f"ckpt{attempt}"),
            available_now=True,
        )
        q.awaitTermination(120)

    n_bad = feed.where(F.col("record").startswith("BROKEN")).count()
    assert spark.read.text(dlq).count() == n_bad
    assert (
        spark.read.json(staging).count()
        == events.count() - events.where(F.crc32("event_uuid") % 10 == 0).count()
    )


def test_running_user_stats_gate_or_run(spark):
    """transformWithStateInPandas operator: in environments without
    protobuf (this container) the plan build must fail fast with a
    clear RuntimeError; with protobuf present it must produce the
    batch-aggregate-equal per-user totals."""
    import uuid

    import pytest
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.streaming.stateful import (
        running_user_stats,
    )

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.25),
         (1, "2024-01-01 01:00:00", 2.50),
         (2, "2024-01-01 02:00:00", 3.0)],
        "user_id bigint, ts_s string, value double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")

    from event_streaming_toy_example_spark.streaming.stateful import (
        ensure_state_v2_runtime,
    )

    if not ensure_state_v2_runtime():
        with pytest.raises(RuntimeError, match="protobuf"):
            running_user_stats(ev)
        return

    import shutil
    import tempfile

    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(d)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(
            "user_id bigint, ts timestamp, value double"
        ).parquet(d)
        name = f"tws_{uuid.uuid4().hex[:6]}"
        q = (
            running_user_stats(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        got = {
            r.user_id: (r.n_events, r.sum_value_cc)
            for r in spark.table(name).collect()
        }
        assert got == {1: (2, 375), 2: (1, 300)}
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        shutil.rmtree(d, ignore_errors=True)


def _upsert_sink_run(spark, in_path, schema, table, ckpt, app_id):
    """Drive the events change stream through ``tx_upsert_stream``
    into ``table`` (created empty first when absent)."""
    from event_streaming_toy_example_spark.operators import txtable as tx

    if not tx.table_version(table):
        tx.tx_append(spark.createDataFrame([], schema), table)
    changes = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_path)
    )
    q = tx.tx_upsert_stream(
        changes, table, ckpt,
        keys=["user_id"], order_by=["ts", "event_id"], app_id=app_id,
    )
    assert q.awaitTermination(300)


def test_upsert_sink_replay_and_checkpoint_idempotence(spark, tmp_path):
    """The streaming MERGE sink must (a) equal the batch latest-per-key
    result, (b) be a no-op when re-run over the same checkpoint, and
    (c) reproduce identical state from a fresh checkpoint (replay
    determinism)."""
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.operators import txtable as tx
    from event_streaming_toy_example_spark.plans.queries_ext import (
        stage_stream_input,
    )
    from event_streaming_toy_example_spark.schemas import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    in_path = stage_stream_input(ev, "upsink_test", SF_DIR)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )

    def run(state, ckpt):
        _upsert_sink_run(
            spark, in_path, schema, str(state), str(ckpt), "upsink_test"
        )
        return sorted(
            tuple(r)
            for r in tx.read_table(spark, str(state))
            .select("user_id", "event_id")
            .collect()
        )

    got = run(tmp_path / "s1", tmp_path / "c1")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = sorted(
        (r.user_id, r.event_id)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    )
    assert got == want
    # (b) same checkpoint: no new batches, no new commits, state unchanged
    version = tx.table_version(str(tmp_path / "s1"))
    assert run(tmp_path / "s1", tmp_path / "c1") == got
    assert tx.table_version(str(tmp_path / "s1")) == version
    # (c) fresh checkpoint + fresh state: deterministic replay
    assert run(tmp_path / "s2", tmp_path / "c2") == got


def test_upsert_sink_time_travel_versions(spark, tmp_path):
    """Every micro-batch commit stays readable via
    ``read_table(version=...)``: the newest version equals the current
    read, earlier versions are prefixes of the key history
    (latest-per-key row counts never shrink as batches accumulate),
    and a version past the log raises."""
    import pytest

    from event_streaming_toy_example_spark.operators import txtable as tx
    from event_streaming_toy_example_spark.plans.queries_ext import (
        stage_stream_input,
    )
    from event_streaming_toy_example_spark.schemas import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    in_path = stage_stream_input(ev, "upsink_tt", SF_DIR)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    state = str(tmp_path / "s")
    _upsert_sink_run(
        spark, in_path, schema, state, str(tmp_path / "c"), "upsink_tt"
    )
    last = tx.table_version(state)
    assert last >= 2  # the empty create + at least one micro-batch
    current = sorted(tuple(r) for r in tx.read_table(spark, state).collect())
    assert (
        sorted(
            tuple(r)
            for r in tx.read_table(spark, state, version=last).collect()
        )
        == current
    )
    counts = [
        tx.read_table(spark, state, version=v).count()
        for v in range(1, last + 1)
    ]
    assert counts == sorted(counts)  # latest-per-key never shrinks
    with pytest.raises(IndexError, match="outside committed range"):
        tx.read_table(spark, state, version=last + 1)


def test_running_user_stats_multibatch_state_carries(spark, tmp_path):
    """State must CARRY across micro-batches: two files processed as
    two batches accumulate into one running total per user, and the
    newest update row per user equals the all-data batch aggregate."""
    import uuid

    import pytest
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.streaming.stateful import (
        ensure_state_v2_runtime,
        running_user_stats,
    )

    if not ensure_state_v2_runtime():
        pytest.skip("no protobuf runtime available for state-v2")

    def _ev(rows):
        return spark.createDataFrame(
            rows, "user_id bigint, ts_s string, value double"
        ).select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
        )

    d = str(tmp_path / "in")
    _ev([(1, "2024-01-01 00:00:00", 1.0), (2, "2024-01-01 00:30:00", 2.0)]
        ).coalesce(1).write.mode("overwrite").parquet(d)
    _ev([(1, "2024-01-01 01:00:00", 4.0)]
        ).coalesce(1).write.mode("append").parquet(d)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)  # force one batch per file
            .parquet(d)
        )
        name = f"tws_mb_{uuid.uuid4().hex[:6]}"
        q = (
            running_user_stats(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        rows = spark.table(name).collect()
        # user 1 appears in two batches -> two update rows, running
        latest = {}
        for r in rows:
            cur = latest.get(r.user_id)
            if cur is None or r.n_events > cur[0]:
                latest[r.user_id] = (r.n_events, r.sum_value_cc, r.last_ts_us)
        assert latest[1] == (2, 500, 1704070800000000)
        assert latest[2] == (1, 200, 1704069000000000)
        assert sum(1 for r in rows if r.user_id == 1) == 2
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


def _resolved_checkpoint_manager(spark, path: str) -> str:
    jvm = spark._jvm
    mgr = getattr(jvm, _CKPT_PKG + "CheckpointFileManager").create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return mgr.getClass().getName()


def test_local_session_uses_filesystem_checkpoint_manager(spark, tmp_path):
    """Local sessions write streaming checkpoints through the
    FileSystem-based manager (no forked ``chmod`` per write without
    libhadoop).  Resolving the class by name here fails loudly if a
    pyspark upgrade renames or moves it."""
    assert (
        _resolved_checkpoint_manager(spark, str(tmp_path))
        == _CKPT_PKG + "FileSystemBasedCheckpointFileManager"
    )


def test_checkpoint_from_default_manager_restarts_exactly_once(spark, tmp_path):
    """A checkpoint written under Spark's default (FileContext-based)
    manager restarts under the session's manager: the offset, commit
    and dedup state written before the switch are read back, so a
    replayed record is still deduplicated and every event is staged
    exactly once."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "incoming")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema("record string").text(
            src
        ).withColumnRenamed("value", "record")
        q = start_ingest_stream(
            stream, staging, ckpt, watermark="365 days", available_now=True
        )
        assert q.awaitTermination(120)
        assert q.exception() is None

    first = generate_events(spark, 150, seed=31)
    first_feed = wrap_kinesis_envelope(inject_duplicates(first, rate=0.1, seed=31))
    first_feed.write.mode("overwrite").text(src)
    session_manager = spark.conf.get(_CKPT_MANAGER_KEY, None)
    spark.conf.set(_CKPT_MANAGER_KEY, _CKPT_PKG + "FileContextBasedCheckpointFileManager")
    try:
        assert _resolved_checkpoint_manager(spark, ckpt).endswith(
            "FileContextBasedCheckpointFileManager"
        )
        run()
    finally:
        if session_manager is None:
            spark.conf.unset(_CKPT_MANAGER_KEY)
        else:
            spark.conf.set(_CKPT_MANAGER_KEY, session_manager)
    assert spark.read.json(staging).count() == 150

    second = generate_events(spark, 100, seed=32)
    assert not {r.event_uuid for r in first.select("event_uuid").collect()} & {
        r.event_uuid for r in second.select("event_uuid").collect()
    }
    # new events plus a replay of every first-run record
    wrap_kinesis_envelope(second).unionByName(first_feed).write.mode(
        "append"
    ).text(src)
    run()

    staged = spark.read.json(staging)
    per_event = staged.groupBy("event_uuid").count()
    assert staged.count() == 250
    assert per_event.count() == 250
    assert per_event.where(F.col("count") != 1).count() == 0


def test_cep_stream_matches_batch_across_micro_batches(spark, tmp_path):
    """The CEP aggregate run as a stream over four micro-batches (real
    events in the two earlier files, the keys' sentinels in the two
    later ones) emits exactly the batch call's rows: state carries
    across batches, every key closes once, and no row is late — the
    (1, 2024-03-01) key's last event sits in its day's final second,
    where a sentinel past that event would land in the next day."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.plans.queries_ext17 import (
        cep_sentinels,
        cep_sequences,
    )

    def _ev(rows):
        return spark.createDataFrame(
            rows, "user_id bigint, ts_s string, event_id bigint, event_type string"
        ).select(
            "user_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            "event_id",
            "event_type",
        )

    early = _ev([
        (1, "2024-03-01 08:00:00", 1, "view"),
        (1, "2024-03-01 08:01:00", 2, "click"),
        (2, "2024-03-01 09:00:00", 3, "view"),
    ])
    late = _ev([
        (1, "2024-03-01 08:02:00", 4, "purchase"),
        (1, "2024-03-01 23:59:59.5", 5, "view"),
        (2, "2024-03-01 09:05:00", 6, "error"),
        (2, "2024-03-01 09:06:00", 7, "purchase"),
        (1, "2024-03-02 10:00:00", 8, "view"),
        (1, "2024-03-02 10:00:01", 9, "purchase"),
        (3, "2024-03-02 11:00:00", 10, "click"),
    ])
    events = early.unionAll(late)
    sentinels = cep_sentinels(events)
    day2 = F.col("ts") >= F.lit("2024-03-02").cast("timestamp")
    src = tmp_path / "in"
    src.mkdir()
    waves = [early, late, sentinels.where(~day2), sentinels.where(day2)]
    for i, wave in enumerate(waves):
        wave.coalesce(1).write.parquet(str(tmp_path / f"w{i}"))
        (part,) = (tmp_path / f"w{i}").glob("part-*.parquet")
        dst = src / f"{i}.parquet"
        part.rename(dst)
        # the file source picks files oldest-first by mtime
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_id bigint, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = f"cep_mb_{uuid.uuid4().hex[:6]}"
    q = (
        cep_sequences(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert q.exception() is None
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(progress) >= 2
    assert sum(
        op.numRowsDroppedByWatermark for p in progress for op in p.stateOperators
    ) == 0

    got = sorted(tuple(r) for r in spark.table(name).collect())
    want = sorted(tuple(r) for r in cep_sequences(events).collect())
    assert len(want) == 4
    assert got == want
