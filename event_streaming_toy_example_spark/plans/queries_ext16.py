"""Round-3 additions (ninth wave): spatial proximity join and the
streaming MERGE sink.

The reference has no spatial surface (its records carry no
coordinates at all, ``producer.py:1-173``); proximity joins are a
standard curation operation (geo dedup, store-customer matching).
``geo_grid_join`` derives deterministic integer coordinates from
customer keys — the SAME arithmetic on both engines, so the oracle is
the naive all-pairs distance join while the engine runs the scalable
grid-blocked plan (``functions/spatial.py``): a single missed
candidate (broken neighborhood) or spurious survivor flips the value
hash, exactly like the deletion-neighborhood fuzzy join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from event_streaming_toy_example_spark.schemas import load_table

#: deterministic point derivation (both engines): two co-prime
#: multipliers scatter customer keys over a 100k x 100k grid
_PX, _PY, _GRID = 7919, 104_729, 100_000
_RADIUS = 2_000


def q_geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of customers within ``_RADIUS`` grid units, via
    3x3-neighborhood grid blocking + exact integer distance verify."""
    from event_streaming_toy_example_spark.functions.spatial import (
        proximity_join_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("pid"),
        (F.col("c_custkey") * _PX % _GRID).alias("x"),
        (F.col("c_custkey") * _PY % _GRID).alias("y"),
    )
    return proximity_join_pairs(
        pts, id_col="pid", x_col="x", y_col="y", radius=_RADIUS
    ).select(
        F.col("a_id").alias("a_custkey"),
        F.col("b_id").alias("b_custkey"),
        "dist_sq",
    )


SQL_GEO_GRID_JOIN = f"""
WITH pts AS (
  SELECT c_custkey AS pid,
         c_custkey * {_PX} % {_GRID} AS x,
         c_custkey * {_PY} % {_GRID} AS y
  FROM customer
)
SELECT a.pid AS a_custkey, b.pid AS b_custkey,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
FROM pts a JOIN pts b ON a.pid < b.pid
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {_RADIUS * _RADIUS}
"""


def q_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply on the UNIFIED table stack: the event
    stream MERGEs into a keyed latest-row-per-user transactional table
    via ``txtable.tx_upsert_stream`` (one commit per micro-batch,
    exactly-once via the ``(app, batch)`` token), multiple
    micro-batches forced with ``maxFilesPerTrigger`` so the
    merge-into-state loop actually iterates.  Round 6 migrated this
    entry off a generation-pointer sink onto the one commit log the
    batch operators use.  The final snapshot must equal
    the batch latest-per-key — which is exactly what the oracle
    computes."""
    import tempfile
    import uuid

    from event_streaming_toy_example_spark.operators import txtable as tx
    from event_streaming_toy_example_spark.plans.queries_ext import (
        stage_stream_input,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    in_path = stage_stream_input(ev, "upsink", sf_dir)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    changes = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_path)
    )
    import shutil

    base = tempfile.mkdtemp(prefix=f"upsink_{uuid.uuid4().hex[:8]}_")
    try:
        table = f"{base}/state"
        tx.tx_append(ev.limit(0), table)  # explicit create, empty v1
        q = tx.tx_upsert_stream(
            changes,
            table,
            f"{base}/ckpt",
            keys=["user_id"],
            order_by=["ts", "event_id"],
            app_id="upsink",
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("upsert stream did not finish within 300 s")
        state = tx.read_table(spark, table)
        if state is None:
            raise RuntimeError("upsert stream committed no state")
        # materialize the (per-key, tiny) snapshot so the state/
        # checkpoint tempdir can be removed before returning — a lazy
        # DataFrame over the tempdir would leak it per bench iteration
        out = state.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.unix_micros("ts").alias("last_us"),
            F.col("event_type").alias("last_type"),
        )
        rows = out.collect()
        schema = out.schema
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


SQL_STREAM_UPSERT_SINK = """
SELECT user_id,
       event_id AS last_event_id,
       epoch_us(ts) AS last_us,
       event_type AS last_type
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM events
) WHERE rn = 1
"""


def q_assoc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining over per-user event-type baskets:
    support, per-item counts, and integer-ppm lift for every co-
    occurring event-type pair.

    The A-priori-style plan: distinct (user, item) once, ordered
    self-join per user for pair supports (baskets here are ≤5 items,
    so the per-user pair blowup is bounded by item-vocabulary, not
    data), broadcast item counts back.  Lift in exact integer ppm —
    ``n_ab * n_users * 1e6 div (n_a * n_b)`` — so the row hashes
    identically on both engines."""
    from event_streaming_toy_example_spark.caching import track

    ev = load_table(spark, sf_dir, "events")
    # the distinct basket relation feeds four consumers (user count,
    # item counts, both sides of the pair join) — persist so the
    # distinct aggregation runs once
    items = track(ev.select("user_id", "event_type").distinct().persist())
    n_users = items.select("user_id").distinct().count()
    counts = items.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a = items.select("user_id", F.col("event_type").alias("t1"))
    b = items.select("user_id", F.col("event_type").alias("t2"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ca = F.broadcast(counts.select(F.col("event_type").alias("t1"),
                                   F.col("n_item").alias("n_a")))
    cb = F.broadcast(counts.select(F.col("event_type").alias("t2"),
                                   F.col("n_item").alias("n_b")))
    return (
        pairs.join(ca, "t1")
        .join(cb, "t2")
        .select(
            "t1",
            "t2",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(f"n_ab * {n_users}L * 1000000L div (n_a * n_b)").alias(
                "lift_ppm"
            ),
        )
    )


SQL_ASSOC_PAIRS = """
WITH items AS (
  SELECT DISTINCT user_id, event_type FROM events
), nu AS (
  SELECT count(DISTINCT user_id) AS n_users FROM items
), counts AS (
  SELECT event_type, count(*) AS n_item FROM items GROUP BY 1
), pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS n_ab
  FROM items a JOIN items b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.t1, p.t2, p.n_ab, ca.n_item AS n_a, cb.n_item AS n_b,
       p.n_ab * nu.n_users * 1000000 // (ca.n_item * cb.n_item)
           AS lift_ppm
FROM pairs p
JOIN counts ca ON p.t1 = ca.event_type
JOIN counts cb ON p.t2 = cb.event_type, nu
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the undirected nation trade graph —
    the second classic distributed graph kernel next to PageRank.

    Edges: distinct customer-nation/supplier-nation trading pairs
    (ordered lo < hi so each undirected edge exists once).  Triangles
    enumerate via the standard two-join on ordered edges
    (a<b, b<c, a<c) — each triangle counted exactly once — then
    explode to per-node participation.  At scale the ordered-edge
    convention IS the degree-based load bound (every wedge is built
    at its lowest-id vertex)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    pairs = (
        lineitem.select("l_orderkey", "l_suppkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").cast("long").alias("lo"),
            F.greatest("c_nationkey", "s_nationkey").cast("long").alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )
    from event_streaming_toy_example_spark.caching import track

    # the edge list feeds all three join roles — persist so the
    # 4-table edge derivation runs once, not three times; and the
    # per-node fan-out is one explode over the triangle rows, not a
    # 3-way union that would re-enumerate the triangles per column
    pairs = track(pairs.persist())
    e1 = pairs.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = pairs.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = pairs.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


SQL_GRAPH_TRIANGLES = """
WITH pairs AS (
  SELECT DISTINCT
         least(c.c_nationkey, s.s_nationkey)::BIGINT AS lo,
         greatest(c.c_nationkey, s.s_nationkey)::BIGINT AS hi
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
), tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.hi = e2.lo
  JOIN pairs e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
)
SELECT node, count(*) AS n_triangles FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
) GROUP BY 1
"""


def _recursive_hierarchy_sql(tbl: str) -> str:
    """Shared WITH RECURSIVE body (ANSI, runs verbatim on Spark 4 and
    DuckDB): synthetic decimal-digit tree over customer keys —
    ``parent(c) = floor(c / 10)``, roots are keys < 10 — rolled up to
    (root, depth) node counts and key sums."""
    return f"""
WITH RECURSIVE h(custkey, root, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM {tbl} WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, h.root, h.depth + 1
  FROM {tbl} c JOIN h
    ON CAST(floor(c.c_custkey / 10) AS BIGINT) = h.custkey
  WHERE c.c_custkey >= 10
)
SELECT root, depth,
       count(*) AS n_nodes,
       CAST(sum(custkey) AS BIGINT) AS sum_keys
FROM h GROUP BY root, depth
"""


def q_sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE surface (Spark 4's WITH RECURSIVE): traverse the
    synthetic decimal-digit hierarchy over customer keys from the
    roots down, emitting per-(root, depth) rollups.  The SAME SQL
    text runs on both engines — this is the iterative-traversal
    capability ``operators/components.py`` implements as an explicit
    loop, expressed declaratively now that the engine supports it."""
    cust = load_table(spark, sf_dir, "customer")
    return spark.sql(
        _recursive_hierarchy_sql("{customer}"), customer=cust
    )


EXT16_QUERIES = {
    "geo_grid_join": q_geo_grid_join,
    "stream_upsert_sink": q_stream_upsert_sink,
    "assoc_pairs": q_assoc_pairs,
    "graph_triangles": q_graph_triangles,
    "sql_recursive_hierarchy": q_sql_recursive_hierarchy,
}

EXT16_ORACLES = {
    "geo_grid_join": SQL_GEO_GRID_JOIN,
    "stream_upsert_sink": SQL_STREAM_UPSERT_SINK,
    "assoc_pairs": SQL_ASSOC_PAIRS,
    "graph_triangles": SQL_GRAPH_TRIANGLES,
    "sql_recursive_hierarchy": _recursive_hierarchy_sql("customer"),
}
