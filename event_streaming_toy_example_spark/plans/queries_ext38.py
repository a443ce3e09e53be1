"""Round-12 wave: the streaming txtable SINK and follow-on engine
surfaces.

- ``tx_stream_sink`` — ``df.writeStream.format("txtable")``
  (``sources/txsink.py``): executor-parallel parquet staging, ONE
  atomic log commit per micro-batch under an ``(app, batchId)``
  stream-transaction token (exactly-once replay, pinned in
  tests/test_txsink.py), footer stats harvested for streamed files.
  The entry streams the events corpus into a fresh table and
  hash-checks the read-back aggregate against DuckDB over the same
  parquet.

The reference's only sink rewrites an NDJSON directory wholesale
(``toy_glue.py:58-65``); the sink protocol here follows Delta's
streaming txn-action idempotence, re-expressed on this engine's
commit log through the public Spark 4.1
``DataSourceStreamArrowWriter`` API.
"""

from __future__ import annotations

import os as _os
import tempfile as _tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from event_streaming_toy_example_spark.plans.queries_ext import (
    await_or_raise,
    stage_stream_input,
)
from event_streaming_toy_example_spark.schemas import load_table

_SINK_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, value double"
)


def q_tx_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events corpus INTO a transactional table through the
    native sink, then read the table back (snapshot read through the
    log) and aggregate.  Asserted on the way: every commit carries the
    stream-transaction token (the exactly-once contract), the commits
    are appends, and the streamed files carry footer stats (data
    skipping applies to sink-written files like any other)."""
    from event_streaming_toy_example_spark.operators import txtable as tx
    from event_streaming_toy_example_spark.sources import txsource

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # 8 input files -> 8 executor write tasks per micro-batch (a
    # single-file stage would serialize the sink into one task)
    src = stage_stream_input(ev.repartition(8), "txsink_in_v2", sf_dir)
    txsource.register(spark)
    base = _tempfile.mkdtemp(prefix="txsink_q_")
    tgt = _os.path.join(base, "t")
    q = (
        spark.readStream.schema(_SINK_SCHEMA)
        .parquet(src)
        .writeStream.format("txtable")
        .option("path", tgt)
        .option("checkpointLocation", _os.path.join(base, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, "tx_stream_sink")
    log = tx.read_log(tgt)
    assert log and all(
        c.action == "append" and c.stream_txn is not None for c in log
    ), "sink commits must be stream-txn appends"
    snap = tx.snapshot(tgt)
    assert all(
        snap.stats.get(f, {}).get("event_id") for f in snap.files
    ), "streamed files must carry footer stats"
    return (
        tx.read_table(spark, tgt)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_cc"
            ),
        )
    )


SQL_TX_STREAM_SINK = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cc
FROM events
GROUP BY event_type
"""


# --------------------------------------- join matview with min/max


def _build_matview_minmax(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: a two-table join matview (the
    one-dimension star) carrying min/max (round 12 lifts the refusal —
    recompute-affected-groups mode).  The
    APPEND refresh is spy-asserted SOURCE-FREE (extrema merge
    monotonically from the delta); the DELETE refresh removes the
    global top-price rows — retracting the max in many groups — and
    repairs them through the bounded per-cell rescan."""
    import unittest.mock as _m

    from event_streaming_toy_example_spark.operators import (
        matview_star as ms,
    )
    from event_streaming_toy_example_spark.operators import txtable as tx
    from event_streaming_toy_example_spark.plans.queries_ext import (
        stage_dir_once,
    )

    def build(tmp: str) -> None:
        a = _os.path.join(tmp, "a")
        b = _os.path.join(tmp, "b")
        dst = _os.path.join(tmp, "mv")
        orders = load_table(spark, sf_dir, "orders")
        tx.tx_append(
            orders.select(
                F.col("o_custkey").alias("custkey"),
                "o_orderstatus",
                "o_totalprice",
            ).repartitionByRange(4, "custkey"),
            a,
        )
        tx.tx_append(
            load_table(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("custkey"),
                "c_mktsegment",
                "c_acctbal",
            ).repartitionByRange(4, "custkey"),
            b,
        )
        ms.tx_create_matview_star(
            spark, dst, a,
            dims=[{"name": "b", "src": b, "on": ["custkey"],
                   "group_by": ["c_mktsegment"]}],
            aggs={
                "n": ("count", "*"),
                "min_price": ("min", "fact.o_totalprice"),
                "max_price": ("max", "fact.o_totalprice"),
                "max_bal": ("max", "b.c_acctbal"),
                "revenue": ("sum", "fact.o_totalprice"),
            },
            group_by_fact=["o_orderstatus"],
        )
        # APPEND refresh: new global maxima, merged monotonically —
        # neither source may be re-read
        tx.tx_append(
            orders.where(F.col("o_orderkey") % 997 == 0).select(
                F.col("o_custkey").alias("custkey"),
                "o_orderstatus",
                (F.col("o_totalprice") + 100000.0).alias("o_totalprice"),
            ),
            a,
        )
        calls = []
        orig = tx.read_table

        def spy(sp, path, *args, **kwargs):
            calls.append(_os.path.abspath(path))
            return orig(sp, path, *args, **kwargs)

        with _m.patch.object(ms.tx, "read_table", side_effect=spy):
            ms.tx_refresh_matview_star(spark, dst)
        bad = set(calls) & {_os.path.abspath(a), _os.path.abspath(b)}
        assert not bad, (
            f"append-only minmax refresh re-read source table(s): {bad}"
        )
        # DELETE refresh: retract the top-price rows (the max of many
        # groups) — the bounded per-cell rescan repairs the extrema
        tx.tx_delete(spark, a, [("o_totalprice", ">", 400000.0)])
        ms.tx_refresh_matview_star(spark, dst)
        applied, current = ms.matview_star_lag(dst)
        assert applied == current == {"fact": 3, "b": 1}

    return stage_dir_once(build, "txtable_matview_minmax_v2", sf_dir)


def q_tx_matview_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained min/max join view's public columns, hash-checked
    against a full DuckDB recompute of the same add/delete history.
    min/max are exact value picks (no rounding needed); the sum is
    rounded (2dp) because incremental addition order legitimately
    differs from a single-pass recompute."""
    from event_streaming_toy_example_spark.operators import txtable as tx

    base = _build_matview_minmax(spark, sf_dir)
    out = tx.read_table(spark, _os.path.join(base, "mv"))
    return out.select(
        "o_orderstatus",
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        "min_price",
        "max_price",
        "max_bal",
        F.round(F.col("revenue"), 2).alias("revenue"),
    )


SQL_TX_MATVIEW_MINMAX = """
WITH a0 AS (
  SELECT o_custkey AS custkey, o_orderstatus, o_totalprice FROM orders
), added AS (
  SELECT o_custkey AS custkey, o_orderstatus,
         o_totalprice + 100000.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 997 = 0
), a AS (
  SELECT * FROM (
    SELECT * FROM a0 UNION ALL SELECT * FROM added
  ) WHERE o_totalprice <= 400000.0
), b AS (
  SELECT c_custkey AS custkey, c_mktsegment, c_acctbal FROM customer
)
SELECT a.o_orderstatus, b.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(a.o_totalprice) AS min_price,
       MAX(a.o_totalprice) AS max_price,
       MAX(b.c_acctbal) AS max_bal,
       ROUND(SUM(a.o_totalprice), 2) AS revenue
FROM a JOIN b ON a.custkey = b.custkey
GROUP BY 1, 2
"""


# ------------------------------------------------------- SQL views


def q_tx_sql_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE VIEW in session 1, query a NESTED view from a FRESH
    session 2 with zero registration calls (the warehouse catalog
    stores the SELECT text; resolution is lazy and recursive), with a
    base-table INSERT between create and read proving the view is
    re-materialized per query — a stale frozen plan would miss the
    inserted row.  SHOW VIEWS and the DROP VIEW refusal of DROP TABLE
    are driven along the way.  Hermetic per call: fresh temp
    warehouse."""
    import tempfile

    from event_streaming_toy_example_spark.operators import txsql

    def _sess(wh):
        s = spark.newSession()
        s.conf.set("spark_graft.warehouse.dir", wh)
        return s

    wh = tempfile.mkdtemp(prefix="txviews_wh_")
    s1 = _sess(wh)
    load_table(s1, sf_dir, "nation").createOrReplaceTempView(
        "views_nation_raw"
    )
    txsql.tx_sql(s1, """
        CREATE TABLE vn AS
        SELECT n_nationkey, n_regionkey, n_name FROM views_nation_raw
    """)
    txsql.tx_sql(s1, """
        CREATE VIEW region_counts AS
        SELECT n_regionkey,
               COUNT(*) AS n,
               CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
        FROM vn GROUP BY n_regionkey
    """)
    # freshness probe: the write happens AFTER the view exists
    txsql.tx_sql(s1, "INSERT INTO vn VALUES (999, 0, 'zzz')")
    txsql.tx_sql(s1, """
        CREATE VIEW region_top AS
        SELECT n_regionkey, n, key_sum FROM region_counts WHERE n >= 2
    """)
    assert {
        r["name"] for r in txsql.tx_sql(s1, "SHOW VIEWS").collect()
    } == {"region_counts", "region_top"}
    try:
        txsql.tx_sql(s1, "DROP TABLE region_top")
        raise AssertionError("DROP TABLE accepted a view")
    except ValueError:
        pass
    s2 = _sess(wh)  # fresh: catalog-only, recursive resolution
    return txsql.tx_sql(s2, "SELECT * FROM region_top")


SQL_TX_SQL_VIEWS = """
SELECT n_regionkey, n, key_sum FROM (
  SELECT n_regionkey,
         COUNT(*) AS n,
         CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
  FROM (
    SELECT n_nationkey, n_regionkey FROM nation
    UNION ALL SELECT 999, 0
  )
  GROUP BY n_regionkey
) WHERE n >= 2
"""


# ----------------------------------------------- token bloom pruning


def _build_token_index(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: documents as a txtable with a TOKEN
    Bloom index on ``text``, each language's docs tagged with a
    synthetic rare token (``marker_<lang>``) and appended as its own
    file — so a ``has_token`` probe for one language's marker can
    prove every other language's file skippable.  The build asserts
    the pruning actually happens."""
    from event_streaming_toy_example_spark.operators import (
        tokenindex as ti,
    )
    from event_streaming_toy_example_spark.operators import txtable as tx
    from event_streaming_toy_example_spark.plans.queries_ext import (
        stage_dir_once,
    )

    def build(tmp: str) -> None:
        t = _os.path.join(tmp, "t")
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        tagged = docs.withColumn(
            "text",
            F.concat_ws(
                " ",
                F.col("text"),
                F.concat(F.lit("marker_"), F.col("lang")),
            ),
        )
        langs = sorted(
            r["lang"] for r in docs.select("lang").distinct().collect()
        )
        # first language creates the table; the index property lands
        # right after, so that one file scans (conservative) while
        # every later language's file carries a token filter
        tx.tx_append(
            tagged.where(F.col("lang") == langs[0]).coalesce(1), t
        )
        ti.tx_set_token_index(t, ["text"])
        for lang in langs[1:]:
            tx.tx_append(
                tagged.where(F.col("lang") == lang).coalesce(1), t
            )
        probe = f"marker_{langs[-1]}"
        _scan, skip = tx.prune_files(t, [("text", "has_token", probe)])
        assert len(skip) >= len(langs) - 2, (
            f"token filters pruned only {len(skip)} files"
        )

    return stage_dir_once(build, "txtable_tokenindex_v1", sf_dir)


def q_tx_token_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level text search through the token Bloom index: the
    ``has_token`` probe opens only files that might hold the token
    (asserted), and the surviving rows re-filter with the same
    tokenizer expression — so the aggregate hash-checks against
    DuckDB filtering on the language the marker token encodes."""
    from event_streaming_toy_example_spark.operators import (
        tokenindex as ti,
    )
    from event_streaming_toy_example_spark.operators import txtable as tx

    base = _build_token_index(spark, sf_dir)
    t = _os.path.join(base, "t")
    _scan, skip = tx.prune_files(t, [("text", "has_token", "marker_es")])
    assert skip, "token filters must prune clustered files"
    return (
        ti.tx_text_search(spark, t, "text", "marker_es")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
    )


SQL_TX_TOKEN_PRUNING = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM documents
WHERE lang = 'es'
GROUP BY source
"""


EXT38_QUERIES = {
    "tx_stream_sink": q_tx_stream_sink,
    "tx_matview_minmax": q_tx_matview_minmax,
    "tx_sql_views": q_tx_sql_views,
    "tx_token_pruning": q_tx_token_pruning,
}

EXT38_ORACLES = {
    "tx_stream_sink": SQL_TX_STREAM_SINK,
    "tx_matview_minmax": SQL_TX_MATVIEW_MINMAX,
    "tx_sql_views": SQL_TX_SQL_VIEWS,
    "tx_token_pruning": SQL_TX_TOKEN_PRUNING,
}
