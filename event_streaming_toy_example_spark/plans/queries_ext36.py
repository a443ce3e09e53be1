"""Round-10 first wave: the SQL DDL / utility surface and inline time
travel in SQL text (VERDICT r9 items 1 and 3).

- ``tx_sql_ddl`` — a table created, evolved, mutated, re-shaped,
  optimized, and inspected ENTIRELY through SQL text routed by
  ``operators/txsql.py``: CTAS → ALTER ADD COLUMN → INSERT → UPDATE →
  RENAME COLUMN → DROP COLUMN → OPTIMIZE ZORDER BY → DESCRIBE HISTORY
  → VACUUM DRY RUN, with the final state hash-checked against the
  equivalent single-statement DuckDB projection.  A SQL-first user
  never touches the Python API; CREATE self-registers the name.
- ``tx_sql_timetravel`` — the query TEXT itself names two versions
  (``VERSION AS OF`` inline, Delta's and Spark's ``FOR`` form both
  parse): current-vs-v1 join computing per-order price drift after a
  SQL UPDATE and DELETE, hash-checked against the oracle's
  reconstruction of both snapshots.

The reference has no SQL at all (432-line pipeline, ``toy_glue.py``);
the statement surface follows public Delta Lake / Spark SQL DDL and
time-travel semantics re-expressed on this engine's commit log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from event_streaming_toy_example_spark.plans.queries_ext import (
    stage_dir_once,
)
from event_streaming_toy_example_spark.schemas import load_table


# ---------------------------------------------------- SQL DDL surface


def _build_sql_ddl_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: every DDL/utility verb the router
    supports, in one chain of pure SQL statements."""
    import os as _os

    from event_streaming_toy_example_spark.operators import txsql
    from event_streaming_toy_example_spark.operators import txtable as tx

    from event_streaming_toy_example_spark.plans.queries_ext import (
        private_warehouse,
    )

    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "orders").createOrReplaceTempView(
            "ddl_orders_raw"
        )
        loc = _os.path.join(tmp, "t")
        with private_warehouse(spark, tmp):
            txsql.tx_sql(spark, f"""
                CREATE TABLE sqlddl_orders LOCATION '{loc}'
                TBLPROPERTIES ('owner' = 'ddl-suite')
                AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
                   FROM ddl_orders_raw
            """)
            txsql.tx_sql(
                spark,
                "ALTER TABLE sqlddl_orders ADD COLUMN priority_flag STRING",
            )
            txsql.tx_sql(
                spark,
                "INSERT INTO sqlddl_orders VALUES "
                "(99999999, NULL, NULL, 'Z', 'new')",
            )
            txsql.tx_sql(
                spark,
                "UPDATE sqlddl_orders SET priority_flag = 'high' "
                "WHERE o_totalprice > 200000",
            )
            txsql.tx_sql(
                spark,
                "ALTER TABLE sqlddl_orders RENAME COLUMN priority_flag "
                "TO prio",
            )
            txsql.tx_sql(
                spark, "ALTER TABLE sqlddl_orders DROP COLUMN o_custkey"
            )
            # content-invariant maintenance, still pure SQL
            txsql.tx_sql(
                spark,
                "OPTIMIZE sqlddl_orders ZORDER BY (o_orderkey, o_totalprice)",
            )
            hist = txsql.tx_sql(
                spark, "DESCRIBE HISTORY sqlddl_orders"
            ).collect()
            assert [h["version"] for h in hist][-1] == 1
            assert hist[-1]["action"] == "append"  # the CTAS create
            dry = txsql.tx_sql(
                spark,
                "VACUUM sqlddl_orders RETAIN 1 VERSIONS RETAIN 0 HOURS "
                "DRY RUN",
            ).collect()
            assert dry, "the z-order rewrite left reclaimable originals"
            assert all(
                tx.get_data_store(loc).exists(_os.path.join(loc, r["path"]))
                for r in dry
            ), "DRY RUN must not delete"

    return stage_dir_once(build, "txtable_sqlddl_v1", sf_dir)


def q_tx_sql_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DDL-built table read back through plain SQL (the name is
    re-registered because replay may start from a staged directory in
    a fresh session)."""
    import os as _os

    from event_streaming_toy_example_spark.operators import txsql

    base = _build_sql_ddl_table(spark, sf_dir)
    txsql.tx_register(spark, _os.path.join(base, "t"), "sqlddl_orders")
    return txsql.tx_sql(
        spark,
        "SELECT o_orderkey, o_totalprice, o_orderstatus, prio "
        "FROM sqlddl_orders",
    )


SQL_TX_SQL_DDL = """
SELECT o_orderkey, o_totalprice, o_orderstatus,
       CASE WHEN o_totalprice > 200000 THEN 'high' END AS prio
FROM orders
UNION ALL
SELECT 99999999, CAST(NULL AS DOUBLE), 'Z', 'new'
"""


# ------------------------------------------------ inline time travel


def _build_sql_tt_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: v1 = CTAS of orders, v2 = UPDATE
    (+1.5 on every even key), v3 = DELETE ('F' status gone)."""
    import os as _os

    from event_streaming_toy_example_spark.operators import txsql

    from event_streaming_toy_example_spark.plans.queries_ext import (
        private_warehouse,
    )

    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "orders").createOrReplaceTempView(
            "tt_orders_raw"
        )
        loc = _os.path.join(tmp, "t")
        with private_warehouse(spark, tmp):
            txsql.tx_sql(spark, f"""
                CREATE TABLE sqltt_orders LOCATION '{loc}'
                AS SELECT o_orderkey, o_totalprice, o_orderstatus
                   FROM tt_orders_raw
            """)
            txsql.tx_sql(
                spark,
                "UPDATE sqltt_orders SET o_totalprice = o_totalprice + 1.5 "
                "WHERE o_orderkey % 2 = 0",
            )
            txsql.tx_sql(
                spark, "DELETE FROM sqltt_orders WHERE o_orderstatus = 'F'"
            )

    return stage_dir_once(build, "txtable_sqltt_v1", sf_dir)


def q_tx_sql_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE SQL string naming two snapshots of the same table inline —
    the live head joined to ``VERSION AS OF 1`` (both of Spark's and
    Delta's spellings), computing each surviving order's price drift
    since creation."""
    import os as _os

    from event_streaming_toy_example_spark.operators import txsql

    base = _build_sql_tt_table(spark, sf_dir)
    txsql.tx_register(spark, _os.path.join(base, "t"), "sqltt_orders")
    return txsql.tx_sql(spark, """
        SELECT cur.o_orderkey,
               ROUND(cur.o_totalprice, 2) AS price_now,
               ROUND(cur.o_totalprice - old.o_totalprice, 2) AS drift,
               (SELECT COUNT(*) FROM sqltt_orders FOR VERSION AS OF 1)
                 AS n_at_v1
        FROM sqltt_orders cur
        JOIN sqltt_orders VERSION AS OF 1 old
          ON cur.o_orderkey = old.o_orderkey
    """)


SQL_TX_SQL_TT = """
WITH v1 AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
), cur AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 2 = 0
              THEN o_totalprice + 1.5 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderstatus <> 'F'
)
SELECT cur.o_orderkey,
       ROUND(cur.o_totalprice, 2) AS price_now,
       ROUND(cur.o_totalprice - v1.o_totalprice, 2) AS drift,
       (SELECT COUNT(*) FROM v1) AS n_at_v1
FROM cur JOIN v1 ON cur.o_orderkey = v1.o_orderkey
"""


# ------------------------------------------------- join matview (IVM)


def _build_matview_join(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: a revenue-by-(status, segment) view over
    orders ⋈ customer, maintained through a delete on the A side and a
    partial update on the B side in ONE refresh — spy-asserted to
    never re-read either source (the factorized-state contract),
    applied exactly-once under the packed two-version token.  The
    two-table view is the one-dimension star (``fact = a``, dim
    ``b``)."""
    import os as _os
    import unittest.mock as _m

    from event_streaming_toy_example_spark.operators import (
        matview_star as ms,
    )
    from event_streaming_toy_example_spark.operators import txtable as tx

    def build(tmp: str) -> None:
        a = _os.path.join(tmp, "a")
        b = _os.path.join(tmp, "b")
        dst = _os.path.join(tmp, "mv")
        tx.tx_append(
            load_table(spark, sf_dir, "orders").select(
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
                "revenue": ("sum", "fact.o_totalprice"),
                "avg_bal": ("avg", "b.c_acctbal"),
            },
            group_by_fact=["o_orderstatus"],
        )
        tx.tx_delete(spark, a, [("o_orderstatus", "=", "P")])
        tx.tx_update(
            spark, b,
            set={"c_acctbal": "c_acctbal + 10.0"},
            where="custkey % 10 = 0",
        )
        calls = []
        orig = tx.read_table

        def spy(sp, path, *args, **kwargs):
            calls.append(_os.path.abspath(path))
            return orig(sp, path, *args, **kwargs)

        with _m.patch.object(ms.tx, "read_table", side_effect=spy):
            ms.tx_refresh_matview_star(spark, dst)
        bad = set(calls) & {_os.path.abspath(a), _os.path.abspath(b)}
        assert not bad, f"delta refresh re-read source table(s): {bad}"
        applied, current = ms.matview_star_lag(dst)
        assert applied == current == {"fact": 2, "b": 2}

    return stage_dir_once(build, "txtable_matview_join_v2", sf_dir)


def q_tx_matview_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained join view's public columns; double aggregates
    rounded (2dp) because incremental addition order legitimately
    differs from a single-pass recompute."""
    import os as _os

    from event_streaming_toy_example_spark.operators import txtable as tx

    base = _build_matview_join(spark, sf_dir)
    out = tx.read_table(spark, _os.path.join(base, "mv"))
    return out.select(
        "o_orderstatus",
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("revenue"), 2).alias("revenue"),
        F.round(F.col("avg_bal"), 2).alias("avg_bal"),
    )


SQL_TX_MATVIEW_JOIN = """
WITH a AS (
  SELECT o_custkey AS custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderstatus <> 'P'
), b AS (
  SELECT c_custkey AS custkey, c_mktsegment,
         CASE WHEN c_custkey % 10 = 0
              THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal
  FROM customer
)
SELECT a.o_orderstatus, b.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(a.o_totalprice), 2) AS revenue,
       ROUND(AVG(b.c_acctbal), 2) AS avg_bal
FROM a JOIN b ON a.custkey = b.custkey
GROUP BY 1, 2
"""


# ------------------------------- matview: count(col) + KMV distinct


def _build_matview_sketch(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: a per-event-type view carrying count(*),
    count(col) (null-bearing input) and a KMV approximate COUNT
    DISTINCT of user_id, maintained through an APPEND refresh
    (spy-asserted O(delta) sketch merge, no source re-read) and then a
    DELETE refresh (KMV cannot retract a hash: the fallback recomputes
    only the affected groups — asserted by both refreshes landing)."""
    import os as _os
    import unittest.mock as _m

    from event_streaming_toy_example_spark.operators import matview as mvw
    from event_streaming_toy_example_spark.operators import txtable as tx

    def build(tmp: str) -> None:
        src = _os.path.join(tmp, "src")
        dst = _os.path.join(tmp, "mv")
        base = load_table(spark, sf_dir, "events").select(
            "event_type",
            "user_id",
            F.when(F.col("event_id") % 7 == 0, None)
            .otherwise(F.col("value"))
            .alias("value"),
            "event_id",
        )
        tx.tx_append(base.repartitionByRange(4, "event_id"), src)
        mvw.tx_create_matview(
            spark, src, dst, ["event_type"],
            {
                "n_all": ("count", "*"),
                "n_val": ("count", "value"),
                "nd_users": ("approx_distinct", "user_id"),
            },
        )
        # APPEND refresh: sketch union + re-take-k, never the source
        tx.tx_append(
            tx.read_table(spark, src)
            .where("event_id % 5 = 0")
            .select(
                "event_type",
                (F.col("user_id") + 1000000).alias("user_id"),
                "value",
                (F.col("event_id") + 10000000).alias("event_id"),
            ),
            src,
        )
        calls = []
        orig = tx.read_table

        def spy(sp, path, *a, **kw):
            calls.append(path)
            return orig(sp, path, *a, **kw)

        with _m.patch.object(mvw.tx, "read_table", side_effect=spy):
            assert mvw.tx_refresh_matview(spark, dst) is not None
        assert src not in calls, "append-only sketch refresh re-read source"
        # DELETE refresh: the documented recompute fallback
        tx.tx_delete(spark, src, "event_id % 13 = 0")
        assert mvw.tx_refresh_matview(spark, dst) is not None
        applied, cur = mvw.matview_lag(dst)
        assert applied == cur == tx.table_version(src)

    return stage_dir_once(build, "txtable_matview_sketch_v1", sf_dir)


def q_tx_matview_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained view's public columns — the KMV estimate is pure
    BIGINT arithmetic, so it is hash-checked EXACTLY against the
    DuckDB twin (same md5-prefix hash, same integer estimator)."""
    import os as _os

    from event_streaming_toy_example_spark.operators import txtable as tx

    base = _build_matview_sketch(spark, sf_dir)
    return tx.read_table(spark, _os.path.join(base, "mv")).select(
        "event_type",
        F.col("n_all").cast("long").alias("n_all"),
        F.col("n_val").cast("long").alias("n_val"),
        F.col("nd_users").cast("long").alias("nd_users"),
    )


# 64-MinValues estimator over a 16^12 hash space: (k-1)*space = 63*16^12
SQL_TX_MATVIEW_SKETCH = """
WITH base AS (
  SELECT event_type, user_id,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value,
         event_id
  FROM events
), final AS (
  SELECT * FROM base
  UNION ALL
  SELECT event_type, user_id + 1000000 AS user_id, value,
         event_id + 10000000 AS event_id
  FROM base WHERE event_id % 5 = 0
), live AS (
  SELECT * FROM final WHERE event_id % 13 <> 0
), hashes AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(coalesce(CAST(user_id AS VARCHAR),
                                      '<NULL>')), 1, 12))::BIGINT AS h
  FROM live
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashes
), kmv AS (
  SELECT event_type,
         count(*) AS nd_exact,
         count(CASE WHEN rn <= 64 THEN 1 END) AS kc,
         max(CASE WHEN rn <= 64 THEN h END) AS hk
  FROM ranked GROUP BY 1
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_all,
         CAST(count(value) AS BIGINT) AS n_val
  FROM live GROUP BY 1
)
SELECT a.event_type, a.n_all, a.n_val,
       CAST(CASE WHEN k.kc < 64 THEN k.nd_exact
                 ELSE 17732923532771328 // k.hk END AS BIGINT) AS nd_users
FROM agg a JOIN kmv k USING (event_type)
"""


# ------------------------------------------ streaming txtable source


def _build_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: events as a transactional table built in
    THREE type-clustered append commits plus one compaction (which the
    stream must skip — content-invariant)."""
    from event_streaming_toy_example_spark.operators import txtable as tx

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        for i in range(3):
            tx.tx_append(
                ev.where(F.col("event_id") % 3 == i)
                .repartitionByRange(2, "event_type"),
                tmp,
            )
        assert tx.tx_compact(spark, tmp, small_file_bytes=1 << 40) is not None

    return stage_dir_once(build, "txtable_streamsrc_v1", sf_dir)


def q_tx_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.readStream.format("txtable")`` (VERDICT r9 item 7): the
    table's append stream with OPTION-borne clause pushdown (the
    streaming Python DataSource API has no planner hook) — the
    ``where`` clauses prune each commit's added files through the same
    stats/bloom machinery as the batch reader and re-apply row-exactly
    in-read; the staged compaction commit is skipped as
    content-invariant, so no row ever doubles."""
    import json as _json
    import uuid as _uuid

    from event_streaming_toy_example_spark.plans.queries_ext import (
        await_or_raise,
    )

    path = _build_stream_src(spark, sf_dir)
    txsource_mod = __import__(
        "event_streaming_toy_example_spark.sources.txsource",
        fromlist=["register"],
    )
    txsource_mod.register(spark)
    stream = (
        spark.readStream.format("txtable")
        .option("path", path)
        .option("where", _json.dumps([["value", ">=", 50.0]]))
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cc"),
    )
    name = f"txstream_{_uuid.uuid4().hex[:8]}"
    from event_streaming_toy_example_spark.streaming.tuning import (
        stream_tuning,
    )

    with stream_tuning(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, "tx_stream_source")
    return spark.table(name)


SQL_TX_STREAM_SOURCE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cc
FROM events
WHERE value >= 50.0
GROUP BY event_type
"""


# --------------------------------------------- auto-maintenance policy


def _build_auto_maintained(spark: SparkSession, sf_dir: str) -> str:
    """Stage once per corpus: a declared small-file policy under a
    follower-shaped workload — 8 small MERGE-apply commits; the build
    asserts EXACTLY ONE auto-compaction landed and the live file count
    stayed bounded (VERDICT r9 item 4's done-criteria)."""
    from event_streaming_toy_example_spark.operators import txtable as tx

    def build(tmp: str) -> None:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        tx.tx_append(o.where(F.col("o_orderkey") % 9 == 0).coalesce(1), tmp)
        tx.tx_set_maintenance(
            tmp, small_file_bytes=1 << 30, small_file_count=5
        )
        for i in range(1, 9):
            tx.tx_merge(
                spark, tmp,
                o.where(F.col("o_orderkey") % 9 == i).coalesce(1),
                on=["o_orderkey"],
                when_not_matched_insert=True,
            )
        acts = [c.action for c in tx.read_log(tmp)]
        assert acts.count("compact") == 1, acts
        assert len(tx.snapshot(tmp).files) <= 6, len(tx.snapshot(tmp).files)

    return stage_dir_once(build, "txtable_automaint_v1", sf_dir)


def q_tx_auto_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-maintained table reads back content-invariant: the
    policy's one compaction changed layout, never rows."""
    from event_streaming_toy_example_spark.operators import txtable as tx

    path = _build_auto_maintained(spark, sf_dir)
    return tx.read_table(spark, path)


SQL_TX_AUTO_MAINTENANCE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
"""


EXT36_QUERIES = {
    "tx_sql_ddl": q_tx_sql_ddl,
    "tx_sql_timetravel": q_tx_sql_timetravel,
    "tx_matview_join": q_tx_matview_join,
    "tx_matview_sketch": q_tx_matview_sketch,
    "tx_stream_source": q_tx_stream_source,
    "tx_auto_maintenance": q_tx_auto_maintenance,
}

EXT36_ORACLES = {
    "tx_sql_ddl": SQL_TX_SQL_DDL,
    "tx_sql_timetravel": SQL_TX_SQL_TT,
    "tx_matview_join": SQL_TX_MATVIEW_JOIN,
    "tx_matview_sketch": SQL_TX_MATVIEW_SKETCH,
    "tx_stream_source": SQL_TX_STREAM_SOURCE,
    "tx_auto_maintenance": SQL_TX_AUTO_MAINTENANCE,
}
