"""MERGE-semantics checks for operators/upsert.py beyond the oracle-
checked catalog entry: tie-breaking (changes beat base) and CDC
tombstone deletes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators.upsert import upsert_snapshot


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, ts bigint, v string, deleted boolean"
    )


def test_changes_win_ties_and_newest_wins(spark):
    base = _df(spark, [(1, 10, "base-old", False), (2, 10, "base", False)])
    changes = _df(
        spark,
        [
            (1, 10, "change-tie", False),   # same ts as base -> change wins
            (2, 5, "change-stale", False),  # older than base -> base stays
            (3, 1, "insert", False),
        ],
    )
    out = {
        r["k"]: r["v"]
        for r in upsert_snapshot(
            base, changes, ["k"], ["ts"], tombstone_col="deleted"
        ).collect()
    }
    assert out == {1: "change-tie", 2: "base", 3: "insert"}


def test_tombstone_deletes_key(spark):
    base = _df(spark, [(1, 10, "a", False), (2, 10, "b", False)])
    changes = _df(spark, [(1, 20, "x", True)])  # delete key 1
    snap = upsert_snapshot(base, changes, ["k"], ["ts"], tombstone_col="deleted")
    assert [tuple(r) for r in snap.select("k", "v").collect()] == [(2, "b")]
    assert "deleted" not in snap.columns


def test_null_tombstone_treated_as_upsert(spark):
    base = _df(spark, [(1, 10, "a", False)])
    changes = spark.createDataFrame(
        [(1, 20, "new", None)], "k bigint, ts bigint, v string, deleted boolean"
    )
    snap = upsert_snapshot(base, changes, ["k"], ["ts"], tombstone_col="deleted")
    assert [r["v"] for r in snap.collect()] == ["new"]


def test_upsert_plan_single_shuffle(spark):
    base = _df(spark, [(1, 10, "a", False)])
    changes = _df(spark, [(1, 20, "b", False)])
    plan = (
        upsert_snapshot(base, changes, ["k"], ["ts"], tombstone_col="deleted")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan


def test_snapshot_diff_feed_applied_reproduces_next_snapshot(spark):
    """CDC round trip: the change feed DERIVED by snapshot_diff,
    applied with upsert_snapshot, must reproduce the next snapshot
    exactly — the two table-maintenance directions are inverses."""
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.operators.upsert import (
        upsert_snapshot,
    )
    from event_streaming_toy_example_spark.plans.queries_ext12 import (
        _DEL_MOD,
        _INS_MOD,
        _INS_SHIFT,
        _UPD_MOD,
        q_snapshot_diff,
    )
    from event_streaming_toy_example_spark.schemas import load_table
    from tests.conftest import SF_DIR

    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    nxt = (
        base.where(F.col("doc_id") % _DEL_MOD != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % _UPD_MOD == 0,
                F.concat(F.col("text"), F.lit(" v2")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            base.where(F.col("doc_id") % _INS_MOD == 0).select(
                (F.col("doc_id") + _INS_SHIFT).alias("doc_id"), "text"
            )
        )
    )
    feed = q_snapshot_diff(spark, SF_DIR)
    # materialize full change rows: upserts carry the next-snapshot
    # row, deletes a tombstone
    upserts = feed.where(F.col("change_type") != "delete").join(
        nxt, "doc_id"
    ).select("doc_id", "text", F.lit(False).alias("_deleted"))
    deletes = feed.where(F.col("change_type") == "delete").select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit(True).alias("_deleted"),
    )
    changes = upserts.unionByName(deletes)
    applied = upsert_snapshot(
        base.withColumn("_deleted", F.lit(False)),
        changes,
        keys=["doc_id"],
        order_by=["doc_id"],
        tombstone_col="_deleted",
    )
    got = sorted((r.doc_id, r.text) for r in applied.collect())
    want = sorted((r.doc_id, r.text) for r in nxt.collect())
    assert got == want


from hypothesis import given, settings, strategies as st

_VALS = st.sampled_from(["a", "b", "cc", "ddd", "e f", ""])


@settings(max_examples=5, deadline=None)
@given(
    st.dictionaries(st.integers(0, 15), _VALS, max_size=12),
    st.dictionaries(st.integers(0, 15), _VALS, max_size=12),
)
def test_diff_then_apply_round_trips_random_tables(spark, base_d, next_d):
    """diff_snapshots ∘ upsert_snapshot must be the identity from base
    to next for ARBITRARY keyed tables (random inserts, updates,
    deletes, no-ops, empty sides)."""
    from pyspark.sql import functions as F

    from event_streaming_toy_example_spark.operators.diff import (
        diff_snapshots,
    )
    from event_streaming_toy_example_spark.operators.upsert import (
        upsert_snapshot,
    )

    schema = "k int, v string"
    base = spark.createDataFrame(sorted(base_d.items()), schema)
    nxt = spark.createDataFrame(sorted(next_d.items()), schema)
    feed = diff_snapshots(base, nxt, "k", ["v"])
    upserts = feed.where(F.col("change_type") != "delete").join(
        nxt, "k"
    ).select("k", "v", F.lit(False).alias("_del"))
    deletes = feed.where(F.col("change_type") == "delete").select(
        "k", F.lit(None).cast("string").alias("v"),
        F.lit(True).alias("_del"),
    )
    applied = upsert_snapshot(
        base.withColumn("_del", F.lit(False)),
        upserts.unionByName(deletes),
        keys=["k"],
        order_by=["k"],
        tombstone_col="_del",
    )
    got = sorted((r.k, r.v) for r in applied.collect())
    assert got == sorted(next_d.items())


# ------------------------------------------------------------------
# MERGE replay on the transactional table
# ------------------------------------------------------------------


def test_replay_of_committed_batch_is_noop(spark, tmp_path):
    """Re-merging an already-applied batch (checkpoint replay after a
    crash landed AFTER the commit) must not change snapshot content or
    add a commit — also when a LATER batch has landed since: the log's
    ``(app, batch)`` floor covers every batch up to it."""
    from event_streaming_toy_example_spark.operators import txtable as tx

    path = str(tmp_path / "state")

    def batch(rows):
        return spark.createDataFrame(rows, "k int, v string, seq int")

    def apply(rows, batch_id):
        return tx.tx_upsert(
            spark, path, batch(rows), ["k"], ["seq"],
            stream_txn=("replay", batch_id),
        )

    tx.tx_append(batch([(1, "a", 1), (2, "b", 1)]), path)
    apply([(2, "B", 2)], batch_id=1)
    apply([(3, "c", 3)], batch_id=2)
    version = tx.table_version(path)
    want = sorted((r.k, r.v) for r in tx.read_table(spark, path).collect())
    for batch_id, rows in ((1, [(2, "B", 2)]), (2, [(3, "c", 3)])):
        with pytest.raises(tx.ConcurrentWriteError, match="already committed"):
            apply(rows, batch_id=batch_id)  # replay
    got = sorted((r.k, r.v) for r in tx.read_table(spark, path).collect())
    assert got == want == [(1, "a"), (2, "B"), (3, "c")]
    assert tx.table_version(path) == version
