"""Regression tests for the five round-11 ADVICE findings:

1. (medium) ``tx_compact(zorder_by=...)`` on a TIMESTAMP_NTZ column
   failed with a raw AnalysisException — Spark cannot cast
   TIMESTAMP_NTZ directly to DOUBLE; the key now routes through a
   TIMESTAMP cast first (session tz is UTC, matching the naive-UTC
   stats).
2. (medium) async maintenance leaked ``_MAINT_FUTURES`` without bound
   (only ``drain_maintenance`` cleared the list, which production
   writers never call) and silently discarded background failures;
   ``_maint_submit`` now sweeps completed futures and keeps their
   exceptions for the next drain.
3. (low) ``matview._estimated_change_rows`` counted a
   stats-less file as 0 rows, routing unknown-size backfills onto the
   driver-pandas path; unknown now means over-threshold.
4. (low) ``SHOW CREATE TABLE`` emitted string property values without
   escaping embedded single quotes, producing DDL its own parser
   rejects; values now escape via ``''``.
5. (low) ``DROP TABLE`` always unbound the warehouse-catalog name even
   when a session-only bind at a DIFFERENT path shadowed it, orphaning
   the catalog's untouched table; the unbind is now conditional on the
   paths matching.
"""

from __future__ import annotations

import datetime
import os
import unittest.mock as mock

import pytest
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators import (
    matview as mv,
    txsql,
    txtable as tx,
    warehouse as whcat,
)


def _fresh_session(spark, wh):
    s = spark.newSession()
    s.conf.set("spark_graft.warehouse.dir", str(wh))
    return s


# ------------------------------------------------- 1. NTZ z-order key


def test_zorder_on_timestamp_ntz_clusters_and_prunes(spark, tmp_path):
    """The engine's common timestamp flavor (schemas.py pins NTZ) must
    be a valid z-order key: the compaction succeeds, stays
    content-invariant, and the ts axis prunes files afterwards."""
    p = str(tmp_path / "t")
    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0 + datetime.timedelta(hours=i % 720), i) for i in range(2000)],
        "ts timestamp_ntz, k long",
    )
    tx.tx_append(df.repartition(6), p)
    before = sorted(tuple(r) for r in tx.read_table(spark, p).collect())
    total = sum(
        tx.get_data_store(p).size(os.path.join(p, f))
        for f in tx.snapshot(p).files
    )
    assert tx.tx_compact(
        spark, p, target_bytes=max(1, total // 16), zorder_by=("ts", "k")
    ) is not None
    after = sorted(tuple(r) for r in tx.read_table(spark, p).collect())
    assert after == before
    n = len(tx.snapshot(p).files)
    _, skip_ts = tx.prune_files(p, [("ts", "<", "2024-01-04T00:00:00")])
    _, skip_k = tx.prune_files(p, [("k", "<", 250)])
    assert len(skip_ts) >= n // 2, (len(skip_ts), n)
    assert len(skip_k) >= n // 2, (len(skip_k), n)


def test_zorder_on_timestamp_tz_still_works(spark, tmp_path):
    """The TZ flavor keeps the direct double cast."""
    p = str(tmp_path / "t")
    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0 + datetime.timedelta(hours=i % 720), i) for i in range(1000)],
        "ts timestamp, k long",
    )
    tx.tx_append(df.repartition(4), p)
    total = sum(
        tx.get_data_store(p).size(os.path.join(p, f))
        for f in tx.snapshot(p).files
    )
    assert tx.tx_compact(
        spark, p, target_bytes=max(1, total // 8), zorder_by=("ts", "k")
    ) is not None
    n = len(tx.snapshot(p).files)
    _, skip_ts = tx.prune_files(p, [("ts", "<", "2024-01-04T00:00:00")])
    assert len(skip_ts) >= n // 2, (len(skip_ts), n)


# --------------------------------------- 2. async future-queue sweep


def _row_batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 2.0).alias("amt"),
    )


def test_maint_submit_sweeps_completed_futures():
    """A long-running async writer that never calls drain must not
    accumulate one future per triggering commit: submit itself drops
    completed cycles, so the queue is O(in-flight), not O(commits)."""
    import time

    try:
        tx.drain_maintenance()
    except Exception:
        pass  # stale failures from other tests are not this test's
    for _ in range(20):
        tx._maint_submit(lambda: None)
    deadline = time.time() + 30
    while not all(f.done() for f in tx._MAINT_FUTURES):
        assert time.time() < deadline, "worker never drained"
        time.sleep(0.01)
    tx._maint_submit(lambda: None)
    # every completed future was swept; only the fresh one remains
    assert len(tx._MAINT_FUTURES) == 1
    tx.drain_maintenance()
    assert not tx._MAINT_FUTURES


def test_swept_async_failure_surfaces_in_next_drain(spark, tmp_path):
    """A background cycle that fails and is then swept off the queue
    by a LATER submit must still be re-raised by drain — sweeping is
    bookkeeping, not error suppression."""
    try:
        tx.drain_maintenance()
    except Exception:
        pass  # stale failures from other tests are not this test's
    p = str(tmp_path / "t")
    tx.tx_append(_row_batch(spark, 0, 3), p)
    tx.tx_set_maintenance(
        p, small_file_bytes=1 << 20, small_file_count=1, mode="async"
    )
    with mock.patch.object(
        tx, "tx_compact", side_effect=RuntimeError("swept-boom")
    ):
        tx.tx_append(_row_batch(spark, 100, 103), p)
        # let the failing cycle complete so the next submit sweeps it
        done = [f for f in tx._MAINT_FUTURES]
        for f in done:
            with pytest.raises(RuntimeError):
                f.result(60)
        tx.tx_append(_row_batch(spark, 200, 203), p)
        assert tx._MAINT_FAILURES, "completed failure was not collected"
        with pytest.raises(RuntimeError, match="swept-boom"):
            tx.drain_maintenance()
    tx.drain_maintenance()  # clear any leftover failing cycles
    assert not tx._MAINT_FAILURES


# ------------------------- 3. stats-less files → distributed deltas


def test_statless_change_window_routes_over_threshold(spark, tmp_path):
    """A commit whose files carry no per-column row stats has UNKNOWN
    size — the estimate must come back over DIST_DELTA_ROWS (taking
    the executor-parallel path) instead of 0 (driver pandas)."""
    import dataclasses

    p = str(tmp_path / "t")
    tx.tx_append(_row_batch(spark, 0, 50), p)
    v = tx.table_version(p)
    assert 0 < mv._estimated_change_rows(p, 0, v) <= mv.DIST_DELTA_ROWS

    real = tx._read_commit

    def stripped(src, ver):
        return dataclasses.replace(real(src, ver), stats={})

    with mock.patch.object(tx, "_read_commit", side_effect=stripped):
        est = mv._estimated_change_rows(p, 0, v)
    assert est > mv.DIST_DELTA_ROWS


def test_statless_removed_file_routes_over_threshold(spark, tmp_path):
    """Same for the REMOVE side: a removed file missing from the
    pre-commit snapshot's stats is unknown-size."""
    import dataclasses

    p = str(tmp_path / "t")
    tx.tx_append(_row_batch(spark, 0, 50), p)
    v = tx.tx_truncate(p)  # remove-only commit

    real_snap = tx.snapshot

    def snap_nostats(src, ver=None):
        s = real_snap(src, ver)
        return None if s is None else dataclasses.replace(s, stats={})

    with mock.patch.object(tx, "snapshot", side_effect=snap_nostats):
        est = mv._estimated_change_rows(p, v - 1, v)
    assert est > mv.DIST_DELTA_ROWS


# ------------------------------- 4. SHOW CREATE TABLE quote escaping


def test_show_create_escapes_quoted_property_values(spark, tmp_path):
    s1 = _fresh_session(spark, tmp_path / "wh")
    txsql.tx_sql(s1, "CREATE TABLE t_q (k INT)")
    txsql.tx_sql(
        s1,
        "ALTER TABLE t_q SET TBLPROPERTIES ('note' = 'it''s quoted')",
    )
    stmt = txsql.tx_sql(s1, "SHOW CREATE TABLE t_q").first()["createtab_stmt"]
    assert "'it''s quoted'" in stmt
    # the emitted DDL must re-parse through the engine's own parser
    replay = "\n".join(
        line for line in stmt.splitlines() if not line.startswith("LOCATION")
    )
    s2 = _fresh_session(spark, tmp_path / "wh2")
    txsql.tx_sql(s2, replay)
    loc2 = os.path.join(txsql._warehouse_dir(s2), "t_q")
    assert tx.table_properties(loc2)["note"] == "it's quoted"


# --------------------------- 5. DROP TABLE under a session shadow


def test_drop_shadowed_name_keeps_catalog_binding(spark, tmp_path):
    """Session-only bind shadows a catalog name at a DIFFERENT path:
    DROP must affect only the session-bound table and leave the
    catalog entry (and its data) untouched for every other session."""
    wh = tmp_path / "wh"
    s1 = _fresh_session(spark, wh)
    txsql.tx_sql(s1, "CREATE TABLE t_shadow (k INT)")
    txsql.tx_sql(s1, "INSERT INTO t_shadow VALUES (1)")
    cat_loc = os.path.join(txsql._warehouse_dir(s1), "t_shadow")

    s2 = _fresh_session(spark, wh)
    other = str(tmp_path / "other")
    tx.tx_append(_row_batch(s2, 0, 3), other)
    txsql.tx_register(s2, other, "t_shadow")  # session-only shadow
    txsql.tx_sql(s2, "DROP TABLE t_shadow PURGE")
    # the session-bound table is gone...
    assert not os.path.exists(other)
    # ...but the catalog entry and its table survive for everyone
    assert whcat.catalog_tables(str(wh)).get("t_shadow") == cat_loc
    assert tx.table_version(cat_loc) == 2
    s3 = _fresh_session(spark, wh)
    assert (
        txsql.tx_sql(s3, "SELECT count(*) n FROM t_shadow").first()["n"] == 1
    )


def test_drop_catalog_entry_still_unbinds(spark, tmp_path):
    """No shadow: DROP on a catalog-resolved name unbinds as before."""
    wh = tmp_path / "wh"
    s1 = _fresh_session(spark, wh)
    txsql.tx_sql(s1, "CREATE TABLE t_plain (k INT)")
    txsql.tx_sql(s1, "DROP TABLE t_plain")
    assert "t_plain" not in whcat.catalog_tables(str(wh))
