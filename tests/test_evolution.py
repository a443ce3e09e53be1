"""Schema evolution contract of ``tx_append``: additive appends
reconcile, narrowing is tolerated via typed NULL fill, and type changes
are refused loudly — the fix for the reference's frozen inferred
schema (SURVEY.md §8.6)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators import txtable as tx


def _v1(spark):
    return spark.range(3).select(
        F.col("id").alias("event_id"), F.lit("click").alias("event_type")
    )


def test_additive_column_appears_null_for_history(spark, tmp_path):
    path = str(tmp_path / "tbl")
    tx.tx_append(_v1(spark), path)
    v2 = spark.range(3, 5).select(
        F.col("id").alias("event_id"),
        F.lit("view").alias("event_type"),
        F.lit("mobile").alias("channel"),  # NEW column
    )
    tx.tx_append(v2, path)
    out = tx.read_table(spark, path)
    assert set(out.columns) == {"event_id", "event_type", "channel"}
    rows = {r.event_id: r.channel for r in out.collect()}
    assert rows[0] is None and rows[4] == "mobile"
    assert out.count() == 5


def test_missing_column_filled_as_typed_null(spark, tmp_path):
    path = str(tmp_path / "tbl")
    tx.tx_append(_v1(spark), path)
    narrow = spark.range(5, 7).select(F.col("id").alias("event_id"))
    tx.tx_append(narrow, path)  # no event_type column
    out = tx.read_table(spark, path)
    assert out.count() == 5
    assert out.where("event_id >= 5").select("event_type").distinct().collect()[
        0
    ]["event_type"] is None
    # the fill is TYPED: the table schema keeps event_type as string
    assert dict(out.dtypes)["event_type"] == "string"


def test_type_change_refused(spark, tmp_path):
    path = str(tmp_path / "tbl")
    tx.tx_append(_v1(spark), path)
    bad = spark.range(2).select(
        F.col("id").cast("string").alias("event_id"),  # long -> string
        F.lit("x").alias("event_type"),
    )
    with pytest.raises(ValueError, match="event_id.*bigint -> string"):
        tx.tx_append(bad, path)
    # the refused append must not have committed anything
    assert tx.table_version(path) == 1
    assert tx.read_table(spark, path).count() == 3


def test_first_write_creates_table(spark, tmp_path):
    path = str(tmp_path / "fresh")
    assert tx.tx_append(_v1(spark), path) == 1
    assert tx.read_table(spark, path).count() == 3


def test_unreadable_existing_table_raises_not_overwrites(spark, tmp_path):
    """A read failure on an EXISTING table must raise, never fall back
    to the create path: a create-on-failure fallback would silently
    replace the whole table with the new batch (data loss in the
    operator whose contract is 'history is never rewritten')."""
    import pathlib

    path = str(tmp_path / "tbl")
    tx.tx_append(_v1(spark), path)
    # corrupt the table: every commit file becomes garbage bytes
    commits = list(pathlib.Path(path, "_txlog").glob("*.json"))
    assert commits
    for f in commits:
        f.write_bytes(b"not a commit")
    tx.invalidate_fold_memo(path)
    with pytest.raises(Exception):
        tx.tx_append(_v1(spark), path)
    # the corrupt log was NOT overwritten or extended by the append
    assert sorted(pathlib.Path(path, "_txlog").glob("*.json")) == sorted(
        commits
    )
    assert commits[0].read_bytes() == b"not a commit"
