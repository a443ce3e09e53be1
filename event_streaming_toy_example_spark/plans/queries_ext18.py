"""Round-4 additions (eleventh wave).

- ``layout_compact_invariance`` — small-file compaction on the
  transactional table (``txtable.tx_compact``) driven end-to-end
  inside a query: a deliberately fragmented copy of the events table
  is bin-packed and the operator's CONTRACT — row content invariant
  under compaction, live file count strictly reduced — is emitted as
  a relation the DuckDB oracle predicts exactly from the base table.
  The reference's own README targets 100 MB-1 GB parquet files
  (``README.md:296-297``); compaction is how a real pipeline gets
  there from streaming-sized output files.
- ``stream_running_stats`` — per-user running profile totals via
  ``transformWithStateInPandas`` (the Spark 4 state-v2 API), unlocked
  in round 4 by the pure-Python protobuf fallback runtime
  (``streaming/stateful.ensure_state_v2_runtime``) and the RocksDB
  state-store provider (state-v2 needs column families the HDFS
  provider lacks).  A single available-now batch makes the running
  totals equal the plain batch aggregate, so the oracle is the batch
  GROUP BY — the same shared-oracle construction as the other
  stateful-streaming twins.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from event_streaming_toy_example_spark.schemas import load_table

_COMPACT_FRAGMENTS = 24

_COMPACT_INVARIANCE_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_rows", LongType()),
        StructField("value_sum", LongType()),
        StructField("invariant_ok", IntegerType()),
        StructField("files_reduced", IntegerType()),
    ]
)


def _compaction_invariance(
    df_before: DataFrame, df_after: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """The property a compaction must preserve, as a relation: per-key
    row counts and exact value sums before vs after, with a boolean
    equality column — the deterministic oracle shape for the catalog
    entry (the oracle recomputes the 'before' side and predicts
    equal=1 everywhere)."""
    a = df_before.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum(value_col).alias("sum_before"),
    )
    b = df_after.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum(value_col).alias("sum_after"),
    )
    return (
        a.join(b, key_col, "full_outer")
        .select(
            key_col,
            F.coalesce("n_before", F.lit(0)).alias("n_rows"),
            F.coalesce("sum_before", F.lit(0)).alias("value_sum"),
            (
                F.col("n_before").eqNullSafe(F.col("n_after"))
                & F.col("sum_before").eqNullSafe(F.col("sum_after"))
            )
            .cast("int")
            .alias("invariant_ok"),
        )
    )


def q_layout_compact_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment -> compact -> verify, in one query.

    The compaction mutates a throwaway directory, so the tiny per-type
    invariance relation (|event_type| rows) is materialized before
    cleanup — a bounded-artifact collect, same class as the PQ
    codebooks and BPE vocab."""
    from event_streaming_toy_example_spark.operators import txtable as tx

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cc"),
    )
    base = tempfile.mkdtemp(prefix="compact_q_")
    try:
        path = f"{base}/tbl"
        tx.tx_append(events.repartition(_COMPACT_FRAGMENTS), path)
        files_before = len(tx.snapshot(path).files)
        tx.tx_compact(spark, path, target_bytes=1 << 30)
        files_after = len(tx.snapshot(path).files)
        inv = _compaction_invariance(
            events,
            tx.read_table(spark, path),
            key_col="event_type",
            value_col="value_cc",
        ).withColumn(
            "files_reduced",
            F.lit(files_after < files_before).cast("int"),
        )
        rows = [
            (r["event_type"], r["n_rows"], r["value_sum"], r["invariant_ok"],
             r["files_reduced"])
            for r in inv.collect()
        ]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, _COMPACT_INVARIANCE_SCHEMA)


SQL_LAYOUT_COMPACT_INVARIANCE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_sum,
       CAST(1 AS INT) AS invariant_ok,
       CAST(1 AS INT) AS files_reduced
FROM events GROUP BY event_type
"""


# ------------------------------------------------- state-v2 streaming

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def q_stream_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` run
    as a real stream (file source -> state-v2 operator -> memory sink).

    One available-now batch means each user's single update row IS the
    final total, so the result equals the plain batch aggregate — the
    oracle.  The RocksDB state-store provider is required (state-v2
    uses column families); the session conf is restored afterwards."""
    import uuid as _uuid

    from event_streaming_toy_example_spark.plans.queries_ext import (
        await_or_raise,
        stage_stream_input,
    )
    from event_streaming_toy_example_spark.streaming.stateful import (
        ensure_state_v2_runtime,
        running_user_stats,
    )

    if not ensure_state_v2_runtime():
        raise RuntimeError(
            "stream_running_stats needs a google.protobuf runtime "
            "(see streaming/stateful.ensure_state_v2_runtime)"
        )
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    in_path = stage_stream_input(ev, "runstats", sf_dir)
    stream = spark.readStream.schema(
        "user_id bigint, ts timestamp, value double"
    ).parquet(in_path)

    from event_streaming_toy_example_spark.streaming.tuning import (
        stream_tuning,
    )

    name = f"stream_runstats_{_uuid.uuid4().hex[:8]}"
    prev = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(_PROVIDER_KEY, _ROCKSDB_PROVIDER)
    try:
        with stream_tuning(spark):
            q = (
                running_user_stats(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            await_or_raise(q, "stream_running_stats")
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev)
    return spark.table(name)


SQL_STREAM_RUNNING_STATS = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_value_cc,
       CAST(max(epoch_us(ts)) AS BIGINT) AS last_ts_us
FROM events GROUP BY user_id
"""


# ------------------------------------------------- progressive JPEG


def q_mm_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive-JPEG (SOF2) twin of ``mm_jpeg_decode``: the SAME
    per-id image is encoded with the 10-scan successive-approximation
    script and decoded through the full progressive path (DC/AC first
    and refinement scans, EOBRUN, correction bits) — the arithmetic
    dims oracle is identical, so a slip anywhere in the progressive
    machinery fails the hash.  Codec: ``functions/jpeg_codec.py``
    (round 4); pixel-identity with the baseline encoding is pinned in
    ``tests/test_jpeg_codec.py``."""
    from event_streaming_toy_example_spark.functions.multimodal import (
        attach_jpeg_payload,
        extract_media_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_media_features(
        attach_jpeg_payload(docs, progressive=True), fake=False
    )
    return feats.select("doc_id", "width", "height")


SQL_MM_JPEG_PROGRESSIVE = """
SELECT doc_id,
       CAST(14 + doc_id % 34 AS INT) AS width,
       CAST(7 + doc_id % 17 AS INT) AS height
FROM documents
"""


# ------------------------------------------------- OHLC downsampling


def q_timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to OHLC bars: per (event_type, day),
    open/high/low/close of the value series plus the row count — the
    resample operator every metrics/trading pipeline needs.

    open/close use ``min_by``/``max_by`` (one hash aggregate, no window
    and no second shuffle — the naive form is a row_number window PLUS
    a groupBy).  The order key is a zero-padded sortable string of
    ``(ts_us, event_id)`` so ties on the timestamp are broken
    deterministically — ``min_by`` on a tied key is otherwise
    partition-order dependent, which can never be hash-checked."""
    ev = load_table(spark, sf_dir, "events")
    value_cc = F.round(F.col("value") * 100).cast("long")
    okey = F.format_string(
        "%020d|%020d", F.unix_micros("ts"), F.col("event_id")
    )
    return (
        ev.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            value_cc.alias("value_cc"),
            okey.alias("okey"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.min_by("value_cc", "okey").alias("open_cc"),
            F.max("value_cc").alias("high_cc"),
            F.min("value_cc").alias("low_cc"),
            F.max_by("value_cc", "okey").alias("close_cc"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


SQL_TIMESERIES_OHLC = """
WITH pts AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(round(value * 100) AS BIGINT) AS value_cc,
         printf('%020d|%020d', epoch_us(ts), event_id) AS okey
  FROM events
)
SELECT event_type, day,
       arg_min(value_cc, okey) AS open_cc,
       CAST(max(value_cc) AS BIGINT) AS high_cc,
       CAST(min(value_cc) AS BIGINT) AS low_cc,
       arg_max(value_cc, okey) AS close_cc,
       CAST(count(*) AS BIGINT) AS n_points
FROM pts GROUP BY event_type, day
"""


# ------------------------------------------------- ORC format roundtrip


def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a second columnar store format: write the orders table
    as ORC (zlib, Spark's columnar writer), read it back, aggregate.
    The oracle computes the same aggregate from the parquet base table,
    so the WHOLE roundtrip — type mapping, compression, reader — is
    value-hash-checked (DuckDB cannot read ORC; it never needs to).

    Staged once per (sf_dir, content): like any layout artifact the
    conversion is pay-once; the measured query is the ORC scan."""
    from event_streaming_toy_example_spark.plans.queries_ext import (
        stage_dir_once,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = stage_dir_once(
        lambda tmp: orders.write.mode("overwrite").orc(tmp),
        "orders_orc",
        sf_dir,
    )
    back = spark.read.orc(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_price_cc"
            ),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
    )


SQL_SOURCE_ORC_ROUNDTRIP = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_price_cc,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders GROUP BY o_orderpriority
"""


# ------------------------------------------------- CSV with malformed rows


def q_source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion with corrupt-row handling: a staged CSV copy of
    the orders keys with every 10th row deliberately mangled is read
    in PERMISSIVE mode with ``columnNameOfCorruptRecord`` — the
    malformed rows surface as typed NULLs + the raw line instead of
    failing the scan or silently disappearing (the two failure modes
    of naive ingestion).  Output: per-status counts + checksum of the
    parsed keys; the oracle reconstructs both from the base table.

    At scale this is the dead-letter pattern at the SOURCE level
    (the pipeline-level DLQ twin is ``pipe_deadletter_split``)."""
    from event_streaming_toy_example_spark.plans.queries_ext import (
        stage_dir_once,
    )

    orders = load_table(spark, sf_dir, "orders")

    def _write_csv(tmp: str) -> None:
        # every 10th key becomes a non-numeric token -> unparseable as
        # BIGINT under the imposed schema
        (
            orders.select(
                F.when(
                    F.col("o_orderkey") % 10 == 0,
                    F.concat(F.lit("BAD|"), F.col("o_orderkey")),
                )
                .otherwise(F.col("o_orderkey").cast("string"))
                .alias("o_orderkey"),
                F.col("o_custkey").cast("string"),
            ).write.mode("overwrite").option("header", "false").csv(tmp)
        )

    path = stage_dir_once(_write_csv, "orders_csv_bad", sf_dir)
    parsed = (
        spark.read.schema(
            "o_orderkey bigint, o_custkey bigint, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    # cache: PERMISSIVE corrupt-record columns may not be observed in
    # isolation of the fields that failed to parse; aggregate once
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderkey").alias("n_parsed"),
        F.sum(F.col("_corrupt").isNotNull().cast("long")).alias("n_corrupt"),
        F.sum("o_orderkey").alias("key_sum"),
    )


SQL_SOURCE_CSV_MALFORMED = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_parsed,
       CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_corrupt,
       CAST(sum(CASE WHEN o_orderkey % 10 <> 0 THEN o_orderkey END)
            AS BIGINT) AS key_sum
FROM orders
"""


# ------------------------------------------------- k-hop reachability


_KHOP_K = 3

#: frontier seed: nations whose key is divisible by 5
_KHOP_SEED_MOD = 5


def q_graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop reachability over the nation trade graph (the same
    customer-nation -> supplier-nation edge list the PageRank entry
    uses): BFS by k rounds of frontier ∪ edge equi-join + distinct.

    Scale design: the frontier relation stays O(|nations|); each hop
    is one equi-join against the (cached) edge list — the iterative
    frontier-expansion shape of any distributed BFS.  k is a fixed
    small constant so the loop unrolls into one DAG (no driver-side
    convergence check needed, unlike PageRank's fixed-iteration loop
    which the cache-per-iteration test pins)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")

    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges = edges.persist()
    # Each hop's frontier is PERSISTED AND MATERIALIZED before the next
    # hop references it (round-12 optimization, guide §2.4/§5): the
    # lazy form re-derived frontier_{h-1} inside BOTH consumers of hop
    # h (the expansion join and the min-hop anti-join), so the single
    # final action re-executed every earlier hop's join+distinct a
    # compounding number of times — measured 5.2 s -> 3.3 s at sf0.1
    # (the remaining time is the edge-list derivation itself) with
    # identical output.  Each materialization is O(|nations|).
    frontier = (
        edges.select(F.col("src").alias("node"))
        .where(F.col("node") % _KHOP_SEED_MOD == 0)
        .distinct()
        .withColumn("hop", F.lit(0))
        .persist()
    )
    frontier.count()
    levels = [frontier]
    for hop in range(1, _KHOP_K + 1):
        seen = levels[0].select("node")
        for lv in levels[1:]:
            seen = seen.unionByName(lv.select("node"))
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("hop", F.lit(hop))
            # keep the MINIMUM hop per node: drop nodes already reached
            .join(seen, "node", "left_anti")
            .persist()
        )
        nxt.count()
        levels.append(nxt)
        frontier = nxt
    reached = levels[0]
    for lv in levels[1:]:
        reached = reached.unionByName(lv)
    out = reached.groupBy("hop").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").alias("node_sum"),
    )
    rows = out.collect()  # bounded: <= k+1 rows
    edges.unpersist()
    for lv in levels:
        lv.unpersist()
    return spark.createDataFrame(
        [(r["hop"], r["n_nodes"], r["node_sum"]) for r in rows],
        "hop int, n_nodes bigint, node_sum bigint",
    )


SQL_GRAPH_KHOP_REACH = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
), walk AS (
  SELECT DISTINCT src AS node, 0 AS hop FROM edges
  WHERE src % {_KHOP_SEED_MOD} = 0
  UNION ALL
  SELECT e.dst, w.hop + 1 FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.hop < {_KHOP_K}
), best AS (
  SELECT node, min(hop) AS hop FROM walk GROUP BY node
)
SELECT CAST(hop AS INT) AS hop,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS node_sum
FROM best GROUP BY hop
"""


EXT18_QUERIES = {
    "layout_compact_invariance": q_layout_compact_invariance,
    "stream_running_stats": q_stream_running_stats,
    "mm_jpeg_progressive": q_mm_jpeg_progressive,
    "timeseries_ohlc": q_timeseries_ohlc,
    "source_orc_roundtrip": q_source_orc_roundtrip,
    "source_csv_malformed": q_source_csv_malformed,
    "graph_khop_reach": q_graph_khop_reach,
}

EXT18_ORACLES = {
    "layout_compact_invariance": SQL_LAYOUT_COMPACT_INVARIANCE,
    "stream_running_stats": SQL_STREAM_RUNNING_STATS,
    "mm_jpeg_progressive": SQL_MM_JPEG_PROGRESSIVE,
    "timeseries_ohlc": SQL_TIMESERIES_OHLC,
    "source_orc_roundtrip": SQL_SOURCE_ORC_ROUNDTRIP,
    "source_csv_malformed": SQL_SOURCE_CSV_MALFORMED,
    "graph_khop_reach": SQL_GRAPH_KHOP_REACH,
}
