"""Unified transactional table (`operators/txtable.py`): snapshot
isolation, time travel, optimistic concurrency, crash windows, vacuum,
schema evolution, and MERGE file-pruning — the one-log replacement for
the three per-operator commit protocols.

Crash-injection style follows tests/test_upsert.py: monkeypatch the
single commit point (or skip it entirely) and assert readers/recovery
behave exactly-once."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators import txtable as tx


def _df(spark, rows, schema="k int, ts int, v string"):
    return spark.createDataFrame(rows, schema)


def _content(spark, path, version=None):
    df = tx.read_table(spark, path, version)
    return sorted(
        tuple(r) for r in df.select(*sorted(df.columns)).collect()
    )


# ------------------------------------------------------------ basics


def test_create_append_and_read(spark, tmp_path):
    p = str(tmp_path / "t")
    v1 = tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]), p)
    assert v1 == 1
    v2 = tx.tx_append(_df(spark, [(3, 1, "c")]), p)
    assert v2 == 2
    assert _content(spark, p) == [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]
    # time travel: version 1 never sees version 2's rows
    assert _content(spark, p, version=1) == [(1, 1, "a"), (2, 1, "b")]


def test_snapshot_isolation_reader_pinned_before_later_commits(
    spark, tmp_path
):
    """The defining property: a snapshot resolved at version N yields
    the same rows no matter how many commits land afterwards."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    pinned = tx.read_table(spark, p, version=1)  # lazy plan, pinned files
    before = sorted(tuple(r) for r in pinned.collect())
    tx.tx_append(_df(spark, [(2, 1, "b")]), p)
    tx.tx_upsert(
        spark, p, _df(spark, [(1, 2, "a2")]), keys=["k"], order_by=["ts"]
    )
    # the pinned version re-reads identically AFTER append+upsert
    assert _content(spark, p, version=1) == before == [(1, 1, "a")]
    assert _content(spark, p) == [(1, 2, "a2"), (2, 1, "b")]


def test_fold_memo_hands_each_caller_its_own_state(spark, tmp_path):
    """A caller that edits the folded state it got back must not change
    what the fold memo serves the next reader of the same version."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    tx.tx_append(_df(spark, [(2, 1, "b")]), p)
    before = tx.snapshot(p, 2)
    tx.invalidate_fold_memo(p)
    for _ in range(2):  # the first fold is a memo miss, the second a hit
        state = tx._fold_state(p, 2)
        state.files.clear()
        state.dvs["x.parquet"] = "dv.parquet"
        state.properties["k"] = "v"
        state.stream_txns["app"] = 7
        state.protocol["min_reader_features"] = ["bogus"]
    assert before.files and tx.snapshot(p, 2) == before
    again = tx._fold_state(p, 2)
    assert not again.dvs and not again.stream_txns
    assert "k" not in again.properties
    assert again.protocol.get("min_reader_features") != ["bogus"]


def test_upsert_merge_semantics_and_time_travel(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]), p)
    tx.tx_upsert(
        spark,
        p,
        _df(spark, [(2, 5, "b2"), (9, 1, "new")]),
        keys=["k"],
        order_by=["ts"],
    )
    assert _content(spark, p) == [(1, 1, "a"), (2, 5, "b2"), (9, 1, "new")]
    assert _content(spark, p, version=1) == [(1, 1, "a"), (2, 1, "b")]


def test_upsert_prunes_untouched_files(spark, tmp_path):
    """File-level MERGE pruning: a file holding no affected key must
    carry over by REFERENCE (same name in the next snapshot), not be
    rewritten."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]).coalesce(1), p)
    tx.tx_append(_df(spark, [(100, 1, "z")]).coalesce(1), p)
    files_before = set(tx.snapshot(p).files)
    tx.tx_upsert(
        spark, p, _df(spark, [(1, 2, "a2")]), keys=["k"], order_by=["ts"]
    )
    files_after = set(tx.snapshot(p).files)
    log = tx.read_log(p)
    assert log[-1].action == "upsert"
    # exactly the file holding k=1 was removed; k=100's file survives
    assert len(log[-1].remove) == 1
    assert (files_before - set(log[-1].remove)) <= files_after
    assert _content(spark, p) == [(1, 2, "a2"), (100, 1, "z")]


def test_compaction_is_content_invariant_and_commutes_with_history(
    spark, tmp_path
):
    p = str(tmp_path / "t")
    for i in range(6):
        tx.tx_append(_df(spark, [(i, 1, f"r{i}")]).coalesce(1), p)
    before = _content(spark, p)
    n_files_before = len(tx.snapshot(p).files)
    v = tx.tx_compact(spark, p, target_bytes=1 << 30)
    assert v == 7
    assert _content(spark, p) == before
    assert len(tx.snapshot(p).files) < n_files_before
    # pre-compaction versions still time-travel bit-identically
    assert _content(spark, p, version=3) == before[:3]


def test_compact_selective_leaves_big_files(spark, tmp_path):
    p = str(tmp_path / "t")
    big = (
        spark.range(2000)
        .select(
            F.col("id").cast("int").alias("k"),
            F.lit(1).alias("ts"),
            # incompressible content so the file genuinely exceeds the
            # small-file threshold after parquet compression
            F.sha2(F.col("id").cast("string"), 256).alias("v"),
        )
        .coalesce(1)
    )
    tx.tx_append(big, p)
    for i in range(4):
        tx.tx_append(_df(spark, [(10_000 + i, 1, "s")]).coalesce(1), p)
    sizes = {
        f: os.path.getsize(os.path.join(p, f)) for f in tx.snapshot(p).files
    }
    big_file = max(sizes, key=sizes.get)
    tx.tx_compact(spark, p, target_bytes=1 << 30, small_file_bytes=10_000)
    log = tx.read_log(p)
    assert log[-1].action == "compact"
    assert big_file not in log[-1].remove
    assert big_file in tx.snapshot(p).files


# ------------------------------------------------- schema evolution


def test_evolution_additive_column_and_null_fill(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    tx.tx_append(
        spark.createDataFrame(
            [(2, 1, "b", 0.5)], "k int, ts int, v string, score double"
        ),
        p,
    )
    df = tx.read_table(spark, p)
    assert set(df.columns) == {"k", "ts", "v", "score"}
    rows = {r["k"]: r["score"] for r in df.collect()}
    assert rows[1] is None and rows[2] == 0.5
    # missing column on a later append null-fills instead of narrowing
    tx.tx_append(_df(spark, [(3, 1, "c")]), p)
    rows = {r["k"]: r["score"] for r in tx.read_table(spark, p).collect()}
    assert rows[3] is None


def test_evolution_type_change_refused(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    with pytest.raises(ValueError, match="schema evolution refused"):
        tx.tx_append(
            spark.createDataFrame([(2, 1, 3.0)], "k int, ts int, v double"), p
        )


def test_evolution_through_upsert(spark, tmp_path):
    """A MERGE batch may carry a new column; history rows surface it
    as NULL and the log schema evolves once."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]), p)
    tx.tx_upsert(
        spark,
        p,
        spark.createDataFrame(
            [(1, 2, "a2", "eu")], "k int, ts int, v string, region string"
        ),
        keys=["k"],
        order_by=["ts"],
    )
    rows = {r["k"]: r["region"] for r in tx.read_table(spark, p).collect()}
    assert rows == {1: "eu", 2: None}


# --------------------------------------------------- crash windows


def test_crash_before_commit_leaves_readers_untouched(spark, tmp_path):
    """Data files staged but the commit file never created: readers
    see the prior version; vacuum sweeps the orphans."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    # stage files exactly as tx_append would, then "crash" (no commit)
    orphans = tx._stage_files(_df(spark, [(2, 1, "b")]), p)
    assert _content(spark, p) == [(1, 1, "a")]
    assert tx.table_version(p) == 1
    deleted = tx.vacuum(p, retain_versions=10, min_age_seconds=0.0)
    assert set(orphans) <= set(deleted)
    # table still intact and appendable after the sweep
    tx.tx_append(_df(spark, [(3, 1, "c")]), p)
    assert _content(spark, p) == [(1, 1, "a"), (3, 1, "c")]


def test_crash_during_commit_write_is_detected(spark, tmp_path, monkeypatch):
    """A torn commit file (crash between O_CREAT and the write) must
    fail loudly on the next read, never silently drop a version."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    # simulate the torn window: an empty version-2 commit file
    torn = tx._commit_path(p, 2)
    os.makedirs(os.path.dirname(torn), exist_ok=True)
    open(torn, "w").close()
    with pytest.raises(json.JSONDecodeError):
        tx.read_log(p)


def test_commit_version_gap_detected(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    tx.tx_append(_df(spark, [(2, 1, "b")]), p)
    os.remove(tx._commit_path(p, 1))
    with pytest.raises(IOError, match="transaction log corrupt"):
        tx.read_log(p)


# ------------------------------------------- optimistic concurrency


def test_concurrent_appends_both_commit(spark, tmp_path):
    """Two appends prepared against the same read version: the loser
    of the version race retries validation and lands at N+2."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    # both writers stage against read_version=1
    f_a = tx._stage_files(_df(spark, [(2, 1, "b")]), p)
    f_b = tx._stage_files(_df(spark, [(3, 1, "c")]), p)
    schema = tx.read_log(p)[-1].schema
    va = tx.commit(p, "append", f_a, [], schema, read_version=1)
    vb = tx.commit(p, "append", f_b, [], schema, read_version=1)
    assert (va, vb) == (2, 3)
    assert _content(spark, p) == [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]


def test_concurrent_upsert_vs_append_aborts_the_upsert(spark, tmp_path):
    """An upsert whose read snapshot went stale (a concurrent append
    landed first) must abort — its merge result is missing the new
    rows."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    snap = tx.snapshot(p)
    merged = tx._stage_files(_df(spark, [(1, 2, "a2")]), p)
    # a concurrent append wins the race
    tx.tx_append(_df(spark, [(2, 1, "b")]), p)
    with pytest.raises(tx.ConcurrentWriteError, match="stale"):
        tx.commit(
            p,
            "upsert",
            merged,
            list(snap.files),
            tx.read_log(p)[-1].schema,
            read_version=snap.version,
        )
    # table unharmed; the orphaned merge files are vacuumable
    assert _content(spark, p) == [(1, 1, "a"), (2, 1, "b")]
    assert set(merged) <= set(
        tx.vacuum(p, retain_versions=10, min_age_seconds=0.0)
    )


def test_concurrent_compaction_vs_append_commits(spark, tmp_path):
    """Compaction only rewrites its victims, so a concurrent append
    (new file, not a victim) must NOT abort it."""
    p = str(tmp_path / "t")
    for i in range(4):
        tx.tx_append(_df(spark, [(i, 1, f"r{i}")]).coalesce(1), p)
    snap = tx.snapshot(p)
    packed = tx._stage_files(
        spark.read.parquet(*[os.path.join(p, f) for f in snap.files]).coalesce(1),
        p,
    )
    tx.tx_append(_df(spark, [(99, 1, "late")]).coalesce(1), p)
    v = tx.commit(
        p,
        "compact",
        packed,
        list(snap.files),
        tx.read_log(p)[-1].schema,
        read_version=snap.version,
    )
    assert v == 6
    assert _content(spark, p) == [
        (0, 1, "r0"), (1, 1, "r1"), (2, 1, "r2"), (3, 1, "r3"), (99, 1, "late"),
    ]


def test_concurrent_compaction_vs_upsert_on_victim_aborts(spark, tmp_path):
    """If a concurrent commit removed one of the compaction's victims,
    rolling the compaction forward would resurrect the file's old rows
    — it must abort."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]).coalesce(1), p)
    tx.tx_append(_df(spark, [(2, 1, "b")]).coalesce(1), p)
    snap = tx.snapshot(p)
    packed = tx._stage_files(
        spark.read.parquet(*[os.path.join(p, f) for f in snap.files]).coalesce(1),
        p,
    )
    # concurrent upsert rewrites the file holding k=1
    tx.tx_upsert(spark, p, _df(spark, [(1, 5, "a5")]), ["k"], ["ts"])
    with pytest.raises(tx.ConcurrentWriteError, match="victim"):
        tx.commit(
            p,
            "compact",
            packed,
            list(snap.files),
            tx.read_log(p)[-1].schema,
            read_version=snap.version,
        )
    assert _content(spark, p) == [(1, 5, "a5"), (2, 1, "b")]


# ------------------------------------------------------------ vacuum


def test_threaded_append_race_all_commit(spark, tmp_path):
    """Eight writers racing the SAME read version from real threads:
    every append must land (the O_EXCL loser loop re-validates and
    retries), versions must be contiguous, and no rows may be lost."""
    from concurrent.futures import ThreadPoolExecutor

    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(0, 0, "seed")]), p)
    staged = [
        (i, tx._stage_files(_df(spark, [(i, 1, f"r{i}")]), p))
        for i in range(1, 9)
    ]
    schema = tx.read_log(p)[-1].schema

    def go(arg):
        i, files = arg
        return tx.commit(p, "append", files, [], schema, read_version=1)

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = sorted(ex.map(go, staged))
    assert versions == list(range(2, 10))
    assert tx.table_version(p) == 9
    assert len(_content(spark, p)) == 9


def test_compact_with_order_col_keeps_clustering(spark, tmp_path):
    p = str(tmp_path / "t")
    for lo in (30, 10, 20, 0):
        tx.tx_append(
            _df(spark, [(lo + i, 1, "x") for i in range(10)]).coalesce(1), p
        )
    before = _content(spark, p)
    v = tx.tx_compact(spark, p, target_bytes=2000, order_col="k")
    assert v == 5
    assert _content(spark, p) == before
    # each output file covers a contiguous, non-overlapping key range
    snap = tx.snapshot(p)
    ranges = []
    for f in snap.files:
        ks = [
            r["k"]
            for r in spark.read.parquet(
                str(tmp_path / "t" / f)
            ).select("k").collect()
        ]
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo, ranges


def test_tx_change_feed_between_versions(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]), p)
    tx.tx_upsert(
        spark,
        p,
        _df(spark, [(2, 5, "b2"), (9, 1, "new")]),
        keys=["k"],
        order_by=["ts"],
    )
    feed = {
        r["k"]: r["change_type"]
        for r in tx.tx_change_feed(
            spark, p, key_col="k", content_cols=["v"], from_version=1
        ).collect()
    }
    assert feed == {2: "update", 9: "insert"}


def test_vacuum_respects_retention_window(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    tx.tx_upsert(spark, p, _df(spark, [(1, 2, "a2")]), ["k"], ["ts"])
    tx.tx_upsert(spark, p, _df(spark, [(1, 3, "a3")]), ["k"], ["ts"])
    # retain 2 newest: version 1's files may go, 2 and 3 must stay
    tx.vacuum(p, retain_versions=2, min_age_seconds=0.0)
    assert _content(spark, p, version=2) == [(1, 2, "a2")]
    assert _content(spark, p, version=3) == [(1, 3, "a3")]
    with pytest.raises(Exception):
        _content(spark, p, version=1)  # physically vacuumed


def test_stream_schema_drift_evolves_and_null_fills(spark):
    """End-to-end streaming drift (catalog entry `stream_schema_drift`):
    wave 2 adds `late_tag` mid-stream; the evolved table must carry
    the union schema with wave-1 history NULL-filled, and the staged
    build asserts exactly one commit per micro-batch."""
    from event_streaming_toy_example_spark.operators import txtable as tx
    from event_streaming_toy_example_spark.plans.queries_ext29 import (
        _build_drift_table,
    )
    from tests.conftest import SF_DIR

    table = _build_drift_table(spark, SF_DIR)
    assert tx.table_version(table) == 2
    df = tx.read_table(spark, table)
    assert "late_tag" in df.columns
    log = tx.read_log(table)
    assert "late_tag" not in log[0].schema and "late_tag" in log[1].schema
    n_v1 = df.where(F.col("late_tag").isNull()).count()
    assert n_v1 == tx.read_table(spark, table, version=1).count() > 0


def test_replayed_upsert_batch_converges(spark, tmp_path):
    """The streaming-sink replay contract, on the unified log: merging
    the same change batch twice converges to the same table content."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]), p)
    batch = _df(spark, [(2, 5, "b2")])
    tx.tx_upsert(spark, p, batch, ["k"], ["ts"])
    once = _content(spark, p)
    tx.tx_upsert(spark, p, batch, ["k"], ["ts"])
    assert _content(spark, p) == once


def test_upsert_prune_probe_scans_only_key_columns(spark, tmp_path):
    """The MERGE pruning probe must be a NARROW scan: a wide table's
    probe plan reads only the key column (plus the implicit file name)
    — at 100 TB this is the difference between a key-column pass and a
    full-table pass just to find the files worth rewriting."""
    import re

    p = str(tmp_path / "t")
    wide = spark.range(100).select(
        F.col("id").cast("int").alias("k"),
        F.lit(1).alias("ts"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
        F.lit("x").alias("w1"),
        F.lit("y").alias("w2"),
    )
    tx.tx_append(wide, p)
    probe = tx.upsert_prune_probe(
        tx.read_table(spark, p),
        spark.createDataFrame([(3,)], "k int"),
        ["k"],
    )
    fmt = probe._jdf.queryExecution().explainString(
        probe.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    schemas = re.findall(r"ReadSchema: struct<(.*?)>", fmt)
    table_scan = [s for s in schemas if "k:int" in s]
    assert table_scan and all(
        len(s.split(",")) == 1 for s in table_scan
    ), schemas
    assert "BroadcastHashJoin" in fmt or "BroadcastNestedLoop" not in fmt


# ------------------------------------------------- streaming sink


def test_stream_txn_token_makes_replay_exactly_once(spark, tmp_path):
    """A replayed (app, batch) is skipped by the log token, not
    re-merged: the version history stays one-commit-per-batch."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    batch = _df(spark, [(1, 5, "a5")])
    v = tx.tx_upsert(spark, p, batch, ["k"], ["ts"], stream_txn=("app", 0))
    assert v == 2
    assert tx.last_committed_batch(p, "app") == 0
    with pytest.raises(tx.ConcurrentWriteError, match="already committed"):
        tx.tx_upsert(spark, p, batch, ["k"], ["ts"], stream_txn=("app", 0))
    assert tx.table_version(p) == 2  # no extra version from the replay
    # a different app's batch 0 is independent
    v = tx.tx_upsert(
        spark, p, _df(spark, [(2, 1, "b")]), ["k"], ["ts"],
        stream_txn=("other", 0),
    )
    assert v == 3


def test_tx_upsert_stream_end_to_end_and_restart(spark, tmp_path):
    """Drive a real availableNow stream through tx_upsert_stream, then
    RESTART it from a fresh checkpoint (forcing full re-delivery) and
    assert the log grew by zero commits — replay is exactly-once via
    the (app, batch) token."""
    import glob
    import os

    src = str(tmp_path / "src")
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 0, "init"), (2, 0, "init")]), p)
    waves = [
        _df(spark, [(1, 1, "w0"), (3, 1, "w0")]),
        _df(spark, [(2, 2, "w1"), (1, 2, "w1b")]),
    ]
    for i, w in enumerate(waves):
        w.coalesce(1).write.mode("overwrite" if i == 0 else "append").parquet(src)
    base = os.path.getmtime(src)
    for j, f in enumerate(sorted(glob.glob(f"{src}/part-*"))):
        os.utime(f, (base + 60 * j, base + 60 * j))

    def run(ck: str):
        stream = (
            spark.readStream.schema("k int, ts int, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = tx.tx_upsert_stream(
            stream, p, ck, keys=["k"], order_by=["ts"], app_id="sink-a"
        )
        assert q.awaitTermination(120)

    run(str(tmp_path / "ck1"))
    after_first = _content(spark, p)
    v_first = tx.table_version(p)
    assert after_first == [(1, 2, "w1b"), (2, 2, "w1"), (3, 1, "w0")]
    assert v_first == 3  # initial append + one commit per micro-batch
    # fresh checkpoint => Spark re-delivers both batches from scratch
    run(str(tmp_path / "ck2"))
    assert tx.table_version(p) == v_first  # zero new commits
    assert _content(spark, p) == after_first


# ------------------------------- round 6: OCC range-disjoint + expiry


def test_vacuum_age_guard_protects_inflight_writer(spark, tmp_path):
    """ADVICE r5: `_stage_files` moves a writer's files into data/
    BEFORE its commit lands; a vacuum racing that writer must NOT
    delete the young unreferenced files (default min_age window), or
    the writer would commit a version referencing deleted files."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    staged = tx._stage_files(_df(spark, [(2, 1, "b")]), p)
    # default window: the freshly staged (in-flight) files survive
    deleted = tx.vacuum(p, retain_versions=1)
    assert not set(staged) & set(deleted)
    # the in-flight writer can still commit and the table reads clean
    tx.commit(p, "append", staged, [], tx.read_log(p)[-1].schema, 1)
    assert _content(spark, p) == [(1, 1, "a"), (2, 1, "b")]
    # a crashed writer's week-old orphans DO get swept
    orphans = tx._stage_files(_df(spark, [(9, 1, "x")]), p)
    for f in orphans:
        os.utime(os.path.join(p, f), (1, 1))
    deleted = tx.vacuum(p, retain_versions=10)
    assert set(orphans) <= set(deleted)


def test_append_race_absorbs_concurrent_additive_evolution(spark, tmp_path):
    """ADVICE r5: a plain append that lost the version race to a
    concurrent ADDITIVE-evolving append must commit the UNION schema —
    otherwise the fold regresses the table schema and a later upsert's
    align drops the evolved column's data from every rewritten file."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    # writer A stages a plain append against version 1
    files = tx._stage_files(_df(spark, [(2, 1, "b")]), p)
    schema_v1 = tx.read_log(p)[-1].schema
    # writer B wins the race with an additive evolution (+score), its
    # file holding two keys so a later upsert rewrites a carried row
    tx.tx_append(
        spark.createDataFrame(
            [(3, 1, "c", 0.5), (4, 1, "d", 0.25)],
            "k int, ts int, v string, score double",
        ).coalesce(1),
        p,
    )
    # A commits with its stale schema: the log must carry the union
    tx.commit(p, "append", files, [], schema_v1, read_version=1)
    assert "score" in tx.snapshot(p).schema
    # upsert of k=4 rewrites the file also holding k=3; the carried
    # row must keep its evolved-column value
    tx.tx_upsert(spark, p, _df(spark, [(4, 2, "d2")]), ["k"], ["ts"])
    rows = {r["k"]: r["score"] for r in tx.read_table(spark, p).collect()}
    assert rows[3] == 0.5 and rows[4] is None and rows[1] is None


def test_append_race_type_conflict_is_loud(spark, tmp_path):
    """Same race, but the concurrent evolution CHANGES a type the
    loser also writes: must abort, never commit a mismatched union."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    files = tx._stage_files(_df(spark, [(2, 1, "b")]), p)
    schema_v1 = tx.read_log(p)[-1].schema
    # hand-craft an intervening commit whose schema retypes v
    other = tx._stage_files(
        spark.createDataFrame([(3, 1, 9.0)], "k int, ts int, v double"), p
    )
    import json as _json

    retyped = _json.loads(schema_v1)
    for f in retyped["fields"]:
        if f["name"] == "v":
            f["type"] = "double"
    tx.commit(p, "evolve-rewrite-lite", other, [], _json.dumps(retyped), 1)
    with pytest.raises(tx.ConcurrentWriteError, match="schema conflict"):
        tx.commit(p, "append", files, [], schema_v1, read_version=1)


def test_upsert_commutes_with_key_disjoint_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """VERDICT r5 item 2: the streaming-ingest + periodic-MERGE
    pattern.  An append of a PROVABLY key-disjoint range lands between
    the upsert's read and its commit: the upsert must commit (stats
    prove commutativity), and the final table holds both effects."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]).coalesce(1), p)

    orig = tx._stage_files
    fired = {"done": False}

    def hook(df, path_, schema_json=None):
        if not fired["done"]:
            fired["done"] = True
            # concurrent ingest append, far away in key space
            tx.tx_append(_df(spark, [(100, 1, "ingest")]).coalesce(1), p)
        return orig(df, path_, schema_json)

    monkeypatch.setattr(tx, "_stage_files", hook)
    v = tx.tx_upsert(spark, p, _df(spark, [(1, 5, "a5")]), ["k"], ["ts"])
    assert v == 3  # append took 2, upsert landed at 3 without aborting
    assert _content(spark, p) == [
        (1, 5, "a5"), (2, 1, "b"), (100, 1, "ingest"),
    ]
    assert [c.action for c in tx.read_log(p)] == [
        "append", "append", "upsert",
    ]


def test_upsert_aborts_on_key_overlapping_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """The overlapping twin: the concurrent append's file range covers
    a change key, so stats cannot prove disjointness — abort."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]).coalesce(1), p)

    orig = tx._stage_files
    fired = {"done": False}

    def hook(df, path_, schema_json=None):
        if not fired["done"]:
            fired["done"] = True
            tx.tx_append(_df(spark, [(1, 9, "race")]).coalesce(1), p)
        return orig(df, path_, schema_json)

    monkeypatch.setattr(tx, "_stage_files", hook)
    with pytest.raises(tx.ConcurrentWriteError, match="disjoint"):
        tx.tx_upsert(spark, p, _df(spark, [(1, 5, "a5")]), ["k"], ["ts"])
    # table unharmed: both appends visible, no partial merge
    assert _content(spark, p) == [(1, 1, "a"), (1, 9, "race"), (2, 1, "b")]


def test_delete_commutes_with_predicate_disjoint_append(
    spark, tmp_path, monkeypatch
):
    p = str(tmp_path / "t")
    tx.tx_append(
        _df(spark, [(i, 1, f"r{i}") for i in range(10)]).coalesce(1), p
    )

    orig = tx._stage_files
    fired = {"done": False}

    def hook(df, path_, schema_json=None):
        if not fired["done"]:
            fired["done"] = True
            tx.tx_append(_df(spark, [(100, 1, "new")]).coalesce(1), p)
        return orig(df, path_, schema_json)

    monkeypatch.setattr(tx, "_stage_files", hook)
    # straddling delete (forces a staged rewrite, so the hook fires)
    tx.tx_delete(spark, p, [("k", ">=", 5), ("k", "<", 8)])
    got = _content(spark, p)
    assert (100, 1, "new") in got
    assert all(not (5 <= k < 8) for k, _, _ in got)


def test_delete_aborts_on_predicate_matching_append(
    spark, tmp_path, monkeypatch
):
    p = str(tmp_path / "t")
    tx.tx_append(
        _df(spark, [(i, 1, f"r{i}") for i in range(10)]).coalesce(1), p
    )

    orig = tx._stage_files
    fired = {"done": False}

    def hook(df, path_, schema_json=None):
        if not fired["done"]:
            fired["done"] = True
            tx.tx_append(_df(spark, [(6, 9, "late")]).coalesce(1), p)
        return orig(df, path_, schema_json)

    monkeypatch.setattr(tx, "_stage_files", hook)
    with pytest.raises(tx.ConcurrentWriteError, match="disjoint"):
        tx.tx_delete(spark, p, [("k", ">=", 5), ("k", "<", 8)])
    # the late row survives — the delete never half-applied
    assert (6, 9, "late") in _content(spark, p)


# ------------------------------------------------ log expiry (round 6)


def _many_appends(spark, p, n, start=0):
    for i in range(start, start + n):
        tx.tx_append(_df(spark, [(i, 1, f"r{i}")]).coalesce(1), p)


def test_expire_log_time_travel_window_and_loud_expiry(spark, tmp_path):
    p = str(tmp_path / "t")
    _many_appends(spark, p, 6)
    before = {v: _content(spark, p, version=v) for v in range(1, 7)}
    deleted = tx.expire_log(p, retain_versions=3)  # K = 4
    assert deleted  # commits 1..4 dropped (checkpoint at 4 covers them)
    assert tx.oldest_readable_version(p) == 4
    for v in (4, 5, 6):
        assert _content(spark, p, version=v) == before[v]
    for v in (1, 2, 3):
        with pytest.raises(tx.VersionExpiredError):
            tx.snapshot(p, v)
    # read_log passes its prefix check and starts at the retained tail
    log = tx.read_log(p)
    assert [c.version for c in log] == [5, 6]
    # the table stays writable after expiry
    tx.tx_append(_df(spark, [(99, 1, "post")]), p)
    assert tx.table_version(p) == 7
    assert len(_content(spark, p)) == 7
    # a generous vacuum window clamps instead of crashing (ADVICE r5)
    tx.vacuum(p, retain_versions=100, min_age_seconds=0.0)
    assert _content(spark, p, version=4) == before[4]


def test_expire_log_missing_prefix_without_checkpoint_is_corrupt(
    spark, tmp_path
):
    p = str(tmp_path / "t")
    _many_appends(spark, p, 3)
    os.remove(tx._commit_path(p, 1))  # manual deletion, no checkpoint
    with pytest.raises(IOError, match="corrupt"):
        tx.read_log(p)


def test_checkpoint_fold_equals_full_fold(spark, tmp_path):
    p = str(tmp_path / "t")
    _many_appends(spark, p, 5)
    tx.tx_upsert(spark, p, _df(spark, [(2, 9, "u")]), ["k"], ["ts"])
    full = _content(spark, p)
    v = tx.write_checkpoint(p)
    assert v == 6
    assert tx.write_checkpoint(p) == 6  # idempotent
    # drop every commit the checkpoint subsumes; fold must still agree
    tx.expire_log(p, before_version=6)
    assert _content(spark, p) == full
    assert tx.oldest_readable_version(p) == 6


def test_stream_floor_survives_log_expiry(spark, tmp_path):
    """ADVICE r5: the exactly-once floor must come from the FOLDED
    state (checkpoint carries per-app floors), not the retained commit
    files — a replayed batch from the expired era must skip
    idempotently, not crash the stream."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 0, "init")]), p)
    for b in range(3):
        tx.tx_upsert(
            spark, p, _df(spark, [(1, b + 1, f"b{b}")]), ["k"], ["ts"],
            stream_txn=("app", b),
        )
    tx.expire_log(p, retain_versions=1)
    assert tx.last_committed_batch(p, "app") == 2
    # the sink's skip check: a replayed expired batch is a no-op
    floor = tx.last_committed_batch(p, "app")
    assert 0 <= floor and 1 <= floor  # batches 0,1 skip via floor
    # and the commit-level guard agrees rather than corrupting history
    with pytest.raises(tx.ConcurrentWriteError, match="already committed"):
        tx.tx_upsert(
            spark, p, _df(spark, [(1, 9, "replay")]), ["k"], ["ts"],
            stream_txn=("app", 1),
        )


def test_vacuum_keeps_pinned_reader_version_readable(spark, tmp_path):
    """VERDICT r5 item 5: a reader pinned on version N survives a
    concurrent vacuum whose window retains N; a version OUTSIDE the
    window fails loudly (missing files), never silently returns wrong
    rows."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    tx.tx_upsert(spark, p, _df(spark, [(1, 2, "a2")]), ["k"], ["ts"])
    tx.tx_upsert(spark, p, _df(spark, [(1, 3, "a3")]), ["k"], ["ts"])
    pinned = tx.read_table(spark, p, version=2)  # lazy, inside window
    tx.vacuum(p, retain_versions=2, min_age_seconds=0.0)
    assert sorted(tuple(r) for r in pinned.collect()) == [(1, 2, "a2")]
    with pytest.raises(Exception):
        tx.read_table(spark, p, version=1).collect()
    # after log expiry the failure is the TYPED loud error
    tx.expire_log(p, retain_versions=2)
    with pytest.raises(tx.VersionExpiredError):
        tx.read_table(spark, p, version=1)


# --------------------------------------------- replaceWhere (round 6)


def test_replace_where_full_overwrite_idempotent(spark, tmp_path):
    p = str(tmp_path / "t")
    v = tx.tx_replace_where(spark, p, _df(spark, [(1, 1, "a"), (2, 1, "b")]))
    assert v == 1  # first write creates the table
    tx.tx_replace_where(spark, p, _df(spark, [(3, 1, "c")]))
    assert _content(spark, p) == [(3, 1, "c")]
    # re-running the same batch replaces with identical content
    tx.tx_replace_where(spark, p, _df(spark, [(3, 1, "c")]))
    assert _content(spark, p) == [(3, 1, "c")]
    # prior versions still time-travel
    assert _content(spark, p, version=1) == [(1, 1, "a"), (2, 1, "b")]


def test_replace_where_region_scoped_and_idempotent(spark, tmp_path):
    """The incremental-compaction unit: replace one region, leave the
    rest untouched BY REFERENCE, replay idempotently."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(i, 1, f"old{i}") for i in range(0, 5)]).coalesce(1), p)
    tx.tx_append(_df(spark, [(i, 1, f"old{i}") for i in range(10, 15)]).coalesce(1), p)
    untouched = set(tx.snapshot(p).files)
    batch = _df(spark, [(11, 2, "new11"), (12, 2, "new12")])
    region = [("k", ">=", 10), ("k", "<", 15)]
    tx.tx_replace_where(spark, p, batch, region)
    got = _content(spark, p)
    assert got == [
        (0, 1, "old0"), (1, 1, "old1"), (2, 1, "old2"), (3, 1, "old3"),
        (4, 1, "old4"), (11, 2, "new11"), (12, 2, "new12"),
    ]
    log = tx.read_log(p)
    assert log[-1].action == "replace"
    # the low-range file survives by reference (stats-pruned, unopened)
    low_file = [f for f in untouched if f not in set(log[-1].remove)]
    assert len(low_file) == 1 and low_file[0] in tx.snapshot(p).files
    # replaying the same region+batch converges
    tx.tx_replace_where(spark, p, batch, region)
    assert _content(spark, p) == got


def test_replace_where_refuses_rows_outside_region(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    with pytest.raises(ValueError, match="OUTSIDE the replaced region"):
        tx.tx_replace_where(
            spark, p, _df(spark, [(50, 1, "stray")]), [("k", "<", 10)]
        )


def test_full_replace_commutes_with_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """A full replace reads nothing: a concurrent append composes as
    replace-then-append (the appended rows survive)."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]).coalesce(1), p)

    orig = tx._stage_files
    fired = {"done": False}

    def hook(df, path_, schema_json=None):
        if not fired["done"]:
            fired["done"] = True
            tx.tx_append(_df(spark, [(7, 1, "late")]).coalesce(1), p)
        return orig(df, path_, schema_json)

    monkeypatch.setattr(tx, "_stage_files", hook)
    tx.tx_replace_where(spark, p, _df(spark, [(2, 1, "b")]))
    assert _content(spark, p) == [(2, 1, "b"), (7, 1, "late")]


# ------------------------------- partition transforms (round 6)


def _ts_df(spark, rows):
    return spark.createDataFrame(rows, "k int, ts timestamp, v string")


def _day_rows(day, n=3):
    import datetime as dt

    return [
        (day * 100 + i, dt.datetime(2024, 1, day, 6 + i, 30), f"d{day}r{i}")
        for i in range(n)
    ]


def test_day_transform_prunes_and_filters_identically(spark, tmp_path):
    """A predicate on day(ts) prunes via stats DERIVED from the raw
    ts column (ISO-prefix truncation is the transform), and the row
    filter applies the same transform — result identical to filtering
    a full read."""
    p = str(tmp_path / "t")
    for day in (1, 2, 3):
        tx.tx_append(_ts_df(spark, _day_rows(day)).coalesce(1), p)
    scan, skip = tx.prune_files(p, [("day(ts)", "=", "2024-01-02")])
    assert len(scan) == 1 and len(skip) == 2
    got = sorted(
        r["k"]
        for r in tx.read_table(
            spark, p, where=[("day(ts)", "=", "2024-01-02")]
        ).collect()
    )
    full = tx.read_table(spark, p)
    want = sorted(
        r["k"]
        for r in full.where(
            F.date_format("ts", "yyyy-MM-dd") == "2024-01-02"
        ).collect()
    )
    assert got == want == [200, 201, 202]
    # month/hour grains derive from the same raw stats
    scan_m, _ = tx.prune_files(p, [("month(ts)", "=", "2024-01")])
    assert len(scan_m) == 3
    scan_h, skip_h = tx.prune_files(p, [("hour(ts)", "=", "2024-01-03T07")])
    assert len(scan_h) == 1 and len(skip_h) == 2


def test_day_transform_whole_file_delete_is_metadata_only(spark, tmp_path):
    """A retention delete keyed on day(ts) must drop the doomed day's
    file WITHOUT reading it (all-match proven from derived stats) and
    carry the other days over by reference."""
    p = str(tmp_path / "t")
    for day in (1, 2, 3):
        tx.tx_append(_ts_df(spark, _day_rows(day)).coalesce(1), p)
    before = set(tx.snapshot(p).files)
    tx.tx_delete(spark, p, [("day(ts)", "<", "2024-01-02")])
    log = tx.read_log(p)
    assert log[-1].action == "delete"
    assert log[-1].add == () and len(log[-1].remove) == 1  # whole drop
    assert set(tx.snapshot(p).files) == before - set(log[-1].remove)
    assert sorted(r["k"] for r in tx.read_table(spark, p).collect()) == [
        200, 201, 202, 300, 301, 302,
    ]


def test_table_properties_govern_compaction_clustering(spark, tmp_path):
    """Properties declared at create survive fold + checkpoint, and a
    default tx_compact re-clusters on the partition transform's raw
    column so derived-stat pruning stays selective after bin-packing."""
    p = str(tmp_path / "t")
    tx.tx_append(
        _ts_df(spark, _day_rows(1)).coalesce(1),
        p,
        properties={"partition_by": "day(ts)"},
    )
    for day in (2, 3, 1, 2, 3):
        tx.tx_append(_ts_df(spark, _day_rows(day)).coalesce(1), p)
    assert tx.table_properties(p) == {"partition_by": "day(ts)"}
    with pytest.raises(ValueError, match="declared at create"):
        tx.tx_append(_ts_df(spark, _day_rows(1)), p, properties={"x": 1})
    n_before = tx.read_table(spark, p).count()
    v = tx.tx_compact(spark, p, target_bytes=2500)  # no order_col: property
    assert v is not None
    assert tx.read_table(spark, p).count() == n_before
    assert 1 < len(tx.snapshot(p).files) < 6
    # pruning on day(ts) is still selective post-compaction: the
    # clustered rewrite keeps day ranges tight, so an edge-day query
    # provably skips the files holding only later days (a boundary
    # file may straddle two days — that scans, correctly)
    scan, skip = tx.prune_files(p, [("day(ts)", "=", "2024-01-01")])
    assert skip, "compaction destroyed the declared clustering"
    got = tx.read_table(
        spark, p, where=[("day(ts)", "=", "2024-01-01")]
    ).count()
    assert got == 6
    # properties survive log expiry (carried by the checkpoint)
    tx.expire_log(p, retain_versions=2)
    assert tx.table_properties(p) == {"partition_by": "day(ts)"}


def test_history_surface(spark, tmp_path):
    """DESCRIBE HISTORY: newest-first metadata-only view of the log,
    including the streaming token and contention evidence."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]), p)
    tx.tx_upsert(
        spark, p, _df(spark, [(2, 5, "b2")]), ["k"], ["ts"],
        stream_txn=("app", 0),
    )
    tx.tx_delete(spark, p, [("k", "=", 1)])
    h = tx.history(p)
    assert [e["version"] for e in h] == [3, 2, 1]
    assert [e["action"] for e in h] == ["delete", "upsert", "append"]
    assert h[1]["stream_app"] == "app" and h[1]["stream_batch"] == 0
    assert h[2]["stream_app"] is None
    assert all(e["n_columns"] == 3 for e in h)
    assert h[2]["rows_added"] == 2  # stats-backed row accounting


# ------------------------------------- restore + type migration (r6)


def test_restore_is_metadata_only_and_auditable(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]), p)
    tx.tx_upsert(spark, p, _df(spark, [(2, 5, "b2")]), ["k"], ["ts"])
    tx.tx_delete(spark, p, [("k", "=", 1)])
    v1_content = _content(spark, p, version=1)
    v = tx.tx_restore(p, 1)
    assert v == 4  # rollback IS a commit: history preserved
    assert _content(spark, p) == v1_content
    # the rolled-back states remain time-travelable (auditable)
    assert _content(spark, p, version=3) == [(2, 5, "b2")]
    log = tx.read_log(p)
    assert log[-1].action == "restore"
    # restored files carry their ORIGINAL stats: pruning still works
    scan, skip = tx.prune_files(p, [("k", "=", 1)])
    assert scan, "restored snapshot lost its files"
    # re-restore to the pre-restore state also works (revertible)
    tx.tx_restore(p, 3)
    assert _content(spark, p) == [(2, 5, "b2")]


def test_restore_past_vacuum_horizon_is_loud(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    tx.tx_upsert(spark, p, _df(spark, [(1, 2, "a2")]), ["k"], ["ts"])
    tx.tx_upsert(spark, p, _df(spark, [(1, 3, "a3")]), ["k"], ["ts"])
    tx.vacuum(p, retain_versions=1, min_age_seconds=0.0)
    with pytest.raises(tx.VersionExpiredError, match="vacuum already"):
        tx.tx_restore(p, 1)
    assert _content(spark, p) == [(1, 3, "a3")]  # table unharmed


def test_evolve_types_migration_and_occ_supersedes(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]).coalesce(1), p)
    # append with a retyped column is refused (the contract pointing
    # here)...
    with pytest.raises(ValueError, match="must rewrite"):
        tx.tx_append(
            spark.createDataFrame([(3, 1.0, "c")], "k int, ts double, v string"),
            p,
        )
    # ...and the explicit migration rewrites the table
    v = tx.tx_evolve_types(spark, p, {"ts": "double"})
    assert tx.read_log(p)[-1].action == "evolve-rewrite"
    assert v == 2
    df = tx.read_table(spark, p)
    assert dict(df.dtypes)["ts"] == "double"
    assert _content(spark, p) == [(1, 1.0, "a"), (2, 1.0, "b")]
    # new-typed appends flow; old-typed appends refuse
    tx.tx_append(
        spark.createDataFrame([(3, 2.5, "c")], "k int, ts double, v string"), p
    )
    with pytest.raises(ValueError, match="schema evolution refused"):
        tx.tx_append(_df(spark, [(4, 1, "d")]), p)
    # a writer that staged against the PRE-migration snapshot aborts
    files = tx._stage_files(
        spark.createDataFrame([(9, 9.0, "z")], "k int, ts double, v string"), p
    )
    with pytest.raises(tx.ConcurrentWriteError, match="evolve-rewrite"):
        tx.commit(p, "append", files, [], tx.read_log(p)[1].schema, 1)


def test_set_properties_alter_and_commute(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    tx.tx_append(_ts_df(spark, _day_rows(1)).coalesce(1), p)
    for day in (2, 3):
        tx.tx_append(_ts_df(spark, _day_rows(day)).coalesce(1), p)
    assert tx.table_properties(p) == {}
    tx.tx_set_properties(p, {"partition_by": "day(ts)", "owner": "etl"})
    assert tx.table_properties(p) == {
        "partition_by": "day(ts)", "owner": "etl",
    }
    # merge semantics: None removes, others persist
    tx.tx_set_properties(p, {"owner": None})
    assert tx.table_properties(p) == {"partition_by": "day(ts)"}
    # the altered layout intent governs the next compaction
    tx.tx_compact(spark, p, target_bytes=2500)
    scan, skip = tx.prune_files(p, [("day(ts)", "=", "2024-01-01")])
    assert skip, "altered partition_by did not govern compaction"
    # metadata-only: commutes with a concurrent append (stale read)
    files = tx._stage_files(_ts_df(spark, _day_rows(2)).coalesce(1), p)
    schema = tx.read_log(p)[-1].schema
    v_now = tx.table_version(p)
    tx.tx_set_properties(p, {"owner": "etl2"})
    tx.commit(p, "append", files, [], schema, read_version=v_now)
    assert tx.table_version(p) == v_now + 2
    # and survives checkpoint + expiry
    tx.expire_log(p, retain_versions=1)
    assert tx.table_properties(p)["owner"] == "etl2"


# --------------------------------------- restore conflict domain (r7)


def test_restore_aborts_on_concurrent_remove_only_commit(spark, tmp_path):
    """A remove-ONLY intervening commit (whole-file DELETE) that drops a
    file the TARGET snapshot contains must abort a stale restore: the
    file is in both cur and target, so it appears in neither of the
    restore's add/remove sets — only the full-target conflict domain
    can see it (ADVICE r6)."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]).coalesce(1), p)
    tx.tx_append(_df(spark, [(10, 1, "x"), (11, 1, "y")]).coalesce(1), p)
    target = tx.snapshot(p, 1)  # just file A
    cur = tx.snapshot(p)  # files A+B at version 2
    add = [f for f in target.files if f not in set(cur.files)]  # []
    remove = [f for f in cur.files if f not in set(target.files)]  # [B]
    assert add == [] and len(remove) == 1
    # intervening whole-file delete drops file A (k<=2, provable by stats)
    tx.tx_delete(spark, p, [("k", "<=", 2)])
    with pytest.raises(tx.ConcurrentWriteError, match="restore"):
        tx.commit(
            p,
            "restore",
            add,
            remove,
            target.schema,
            2,
            conflict={"kind": "restore", "files": sorted(target.files)},
        )


def test_restore_after_remove_only_history_is_exact(spark, tmp_path):
    """Non-racing regression: restoring past a whole-file DELETE brings
    the dropped file back (it lands in restore's add set)."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 1, "b")]).coalesce(1), p)
    tx.tx_append(_df(spark, [(10, 1, "x")]).coalesce(1), p)
    before = _content(spark, p, version=2)
    tx.tx_delete(spark, p, [("k", "<=", 2)])  # drops file A whole
    tx.tx_restore(p, 2)
    assert _content(spark, p) == before


# ------------------------------------------- NULL-region predicates (r7)


def test_delete_isnull_region(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 1, "a"), (None, 1, "b"), (3, 1, None)], "k int, ts int, v string"
    )
    tx.tx_append(df, p)
    tx.tx_delete(spark, p, [("k", "isnull", None)])
    assert _content(spark, p) == [(1, 1, "a"), (3, 1, None)]
    tx.tx_delete(spark, p, [("v", "notnull", None)])
    assert _content(spark, p) == [(3, 1, None)]


def test_replace_where_isnull_region_is_idempotent(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 1, "a"), (None, 1, "b"), (None, 1, "c")], "k int, ts int, v string"
    )
    tx.tx_append(df, p)
    repl = spark.createDataFrame([(None, 9, "z")], "k int, ts int, v string")

    def content():
        return {
            tuple(r) for r in tx.read_table(spark, p).collect()
        }

    tx.tx_replace_where(spark, p, repl, [("k", "isnull", None)])
    want = {(1, 1, "a"), (None, 9, "z")}
    assert content() == want
    tx.tx_replace_where(spark, p, repl, [("k", "isnull", None)])  # replay
    assert content() == want
    # a batch with rows OUTSIDE the NULL region is refused loudly
    stray = spark.createDataFrame([(5, 9, "no")], "k int, ts int, v string")
    with pytest.raises(ValueError, match="OUTSIDE"):
        tx.tx_replace_where(spark, p, stray, [("k", "isnull", None)])


# --------------------------- replace-vs-append OCC races (r7, item 8)


def test_replace_where_aborts_on_region_overlapping_append(
    spark, tmp_path, monkeypatch
):
    """tx_replace_where racing an append whose rows land INSIDE the
    replaced region must abort — the two serial orders diverge (the
    replace would silently eat or miss the appended rows)."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(i, 1, f"r{i}") for i in range(10)]).coalesce(1), p)

    orig = tx._stage_files
    fired = {"done": False}

    def hook(df, path_, schema_json=None):
        out = orig(df, path_, schema_json)
        if not fired["done"]:
            fired["done"] = True
            tx.tx_append(_df(spark, [(5, 9, "late")]).coalesce(1), p)
        return out

    monkeypatch.setattr(tx, "_stage_files", hook)
    batch = _df(spark, [(4, 9, "new4")])
    with pytest.raises(tx.ConcurrentWriteError, match="disjoint"):
        tx.tx_replace_where(spark, p, batch, [("k", ">=", 4), ("k", "<", 8)])
    # the appended row survives; the replace never half-applied
    assert (5, 9, "late") in _content(spark, p)
    assert (4, 9, "new4") not in _content(spark, p)


def test_replace_where_commutes_with_region_disjoint_append(
    spark, tmp_path, monkeypatch
):
    """...and when the racing append is provably OUTSIDE the region,
    both commits land (the streaming-ingest + partition-replace
    pattern must not livelock)."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(i, 1, f"r{i}") for i in range(10)]).coalesce(1), p)

    orig = tx._stage_files
    fired = {"done": False}

    def hook(df, path_, schema_json=None):
        out = orig(df, path_, schema_json)
        if not fired["done"]:
            fired["done"] = True
            tx.tx_append(_df(spark, [(100, 9, "far")]).coalesce(1), p)
        return out

    monkeypatch.setattr(tx, "_stage_files", hook)
    batch = _df(spark, [(4, 9, "new4")])
    tx.tx_replace_where(spark, p, batch, [("k", ">=", 4), ("k", "<", 6)])
    rows = _content(spark, p)
    assert (100, 9, "far") in rows and (4, 9, "new4") in rows
    assert (5, 1, "r5") not in rows  # region replaced


def test_full_replace_commutes_with_any_append(spark, tmp_path, monkeypatch):
    """where=None replaces only the files of ITS read snapshot, so the
    composed state equals replace-then-append for ANY concurrent add."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]).coalesce(1), p)

    orig = tx._stage_files
    fired = {"done": False}

    def hook(df, path_, schema_json=None):
        out = orig(df, path_, schema_json)
        if not fired["done"]:
            fired["done"] = True
            tx.tx_append(_df(spark, [(2, 9, "late")]).coalesce(1), p)
        return out

    monkeypatch.setattr(tx, "_stage_files", hook)
    tx.tx_replace_where(spark, p, _df(spark, [(7, 1, "seven")]), None)
    assert _content(spark, p) == [(2, 9, "late"), (7, 1, "seven")]


# ----------------------------------------- AS-OF-timestamp travel (r7)


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: each commit records its publish time; reads
    resolve to the newest version at or before the asked instant, and
    pre-field commits fall back to file mtime."""
    import time

    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    t1 = time.time()
    time.sleep(0.05)
    tx.tx_append(_df(spark, [(2, 1, "b")]), p)
    t2 = time.time()
    assert tx.version_as_of(p, t1) == 1
    assert tx.version_as_of(p, t2) == 2
    assert tx.version_as_of(p, time.time() + 3600) == 2
    assert _content(spark, p, version=None) == [(1, 1, "a"), (2, 1, "b")]
    old = tx.read_table(spark, p, as_of=t1)
    assert sorted(tuple(r) for r in old.collect()) == [(1, 1, "a")]
    with pytest.raises(ValueError, match="predates"):
        tx.version_as_of(p, 1.0)
    with pytest.raises(ValueError, match="not both"):
        tx.read_table(spark, p, version=1, as_of=t1)
    # history surfaces the publish time
    hs = tx.history(p)
    assert all(h["ts"] is not None for h in hs)
    # pre-field commits (no "ts" key) fall back to mtime
    import json as _json

    cpath = tx._commit_path(p, 1)
    body = _json.loads(open(cpath).read())
    orig_ts = body.pop("ts")
    with open(cpath, "w") as f:
        _json.dump(body, f)
    os.utime(cpath, (orig_ts, orig_ts))  # keep the original publish time
    assert tx.version_as_of(p, t1) == 1  # mtime fallback still resolves


def test_version_as_of_fully_expired_log_is_loud(spark, tmp_path):
    """When every commit file was expired into a checkpoint, the
    publish times are gone — AS OF must raise the typed expiry error,
    not a generic 'no commits'."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a")]), p)
    tx.tx_append(_df(spark, [(2, 1, "b")]), p)
    tx.expire_log(p, before_version=2)  # checkpoint at 2, drops 1..2
    commits, checkpoints = tx._list_log(p)
    if commits:  # layout keeps a tail commit: not the edge under test
        import pytest as _pytest

        _pytest.skip("log layout retained commit files")
    import time

    with pytest.raises(tx.VersionExpiredError, match="publish times"):
        tx.version_as_of(p, time.time())


# ------------------------------------------- CHECK constraints (r7)


def test_check_constraints_guard_every_write_path(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, 1, "a"), (2, 2, "b")]), p)
    tx.tx_add_constraint(spark, p, "ts_positive", "ts > 0")
    assert "ts_positive" in tx.table_properties(p)["__constraints"]
    # violating APPEND refused before staging; table untouched
    with pytest.raises(ValueError, match="ts_positive"):
        tx.tx_append(_df(spark, [(3, 0, "bad")]), p)
    # NULL follows SQL CHECK: not a violation
    tx.tx_append(
        spark.createDataFrame([(4, None, "ok")], "k int, ts int, v string"), p
    )
    # violating MERGE refused
    with pytest.raises(ValueError, match="ts_positive"):
        tx.tx_upsert(spark, p, _df(spark, [(1, -5, "bad")]), ["k"], ["ts"])
    # violating REPLACE refused
    with pytest.raises(ValueError, match="ts_positive"):
        tx.tx_replace_where(
            spark, p, _df(spark, [(1, -1, "bad")]), [("k", "=", 1)]
        )
    # passing writes flow
    tx.tx_upsert(spark, p, _df(spark, [(1, 9, "a9")]), ["k"], ["ts"])
    rows = {r["k"]: r["ts"] for r in tx.read_table(spark, p).collect()}
    assert rows[1] == 9 and rows[4] is None
    # drop releases the gate
    tx.tx_drop_constraint(p, "ts_positive")
    tx.tx_append(_df(spark, [(5, 0, "now ok")]), p)
    assert (5, 0, "now ok") in _content(spark, p)


def test_add_constraint_refuses_when_existing_data_violates(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(1, -1, "old")]), p)
    with pytest.raises(ValueError, match="existing table data"):
        tx.tx_add_constraint(spark, p, "ts_positive", "ts > 0")
    assert "__constraints" not in tx.table_properties(p)
    with pytest.raises(ValueError, match="no constraint"):
        tx.tx_drop_constraint(p, "ts_positive")


def test_zorder_compaction_makes_both_dimensions_prune(spark, tmp_path):
    """tx_compact(zorder_by=(a, b)) — OPTIMIZE ... ZORDER BY: after
    the Morton-clustered rewrite, point/range predicates on EITHER
    column skip most files via the logged stats (a single-column sort
    can only give one dimension), and the rewrite stays
    content-invariant."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).cast("int").alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
        F.col("id").cast("int").alias("payload"),
    )
    # row-major layout: x cycles per file, so x-predicates prune NOTHING
    tx.tx_append(df.repartitionByRange(8, "y"), p)
    before = sorted(tuple(r) for r in tx.read_table(spark, p).collect())
    scan_x0, _ = tx.prune_files(p, [("x", "<", 8)])
    assert len(scan_x0) == 8, "precondition: x unprunable in row-major"
    total = sum(
        tx.get_data_store(p).size(os.path.join(p, f))
        for f in tx.snapshot(p).files
    )
    v = tx.tx_compact(
        spark, p, target_bytes=max(1, total // 8), zorder_by=("x", "y")
    )
    assert v is not None
    # content-invariant
    after = sorted(tuple(r) for r in tx.read_table(spark, p).collect())
    assert after == before
    n_files = len(tx.snapshot(p).files)
    assert n_files >= 4
    scan_x, skip_x = tx.prune_files(p, [("x", "<", 8)])
    scan_y, skip_y = tx.prune_files(p, [("y", "<", 8)])
    assert len(skip_x) >= n_files // 2, (len(scan_x), n_files)
    assert len(skip_y) >= n_files // 2, (len(scan_y), n_files)
    # declared as a property, a later bare compaction keeps the layout
    tx.tx_set_properties(p, {"zorder_by": ["x", "y"]})
    tx.tx_append(
        spark.createDataFrame([(1, 1, 9)], "x int, y int, payload int"), p
    )
    v2 = tx.tx_compact(spark, p, target_bytes=max(1, total // 8))
    assert v2 is not None
    scan_x2, skip_x2 = tx.prune_files(p, [("x", "<", 8)])
    assert skip_x2, "property-declared zorder lost on re-compaction"


def test_vacuum_dry_run_and_history_surface(spark, tmp_path):
    """vacuum(dry_run=True) lists exactly what the real vacuum would
    delete, deleting nothing; history() surfaces the DV count and any
    protocol upgrade per commit."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(i, 1, f"r{i}") for i in range(10)]).coalesce(1), p)
    tx.tx_delete(spark, p, [("k", "<", 3)], merge_on_read=True)
    tx.tx_compact(spark, p, max_dv_fraction=0.2)  # materializes the DV
    planned = tx.vacuum(p, retain_versions=1, min_age_seconds=0.0, dry_run=True)
    assert planned, "the pre-compaction file + sidecar are unreferenced"
    assert tx.read_table(spark, p, version=1).count() == 10  # untouched
    deleted = tx.vacuum(p, retain_versions=1, min_age_seconds=0.0)
    assert sorted(deleted) == sorted(planned)
    h = {e["version"]: e for e in tx.history(p)}
    assert h[2]["n_dv"] == 1 and h[3]["n_dv"] == 0
    assert "parquet-checkpoint" in h[1]["protocol"]["min_reader_features"]
    assert "deletion-vectors" in h[2]["protocol"]["min_reader_features"]
    assert h[3]["protocol"] is None  # no upgrade carried


# ------------------------------------------ distributed vacuum (r9)


def test_distributed_vacuum_selects_the_same_victims(spark, tmp_path):
    """vacuum(spark=...) must pick EXACTLY the files the driver-side
    walk picks — crash orphans go, every retained version's files and
    DV sidecars stay — with victim selection running as an anti-join
    against the checkpoint inventory (VERDICT r8 item 5)."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, [(i, 1, f"r{i}") for i in range(20)]), p)
    tx.tx_delete(spark, p, [("k", "<", 3)], merge_on_read=True)
    tx.tx_upsert(spark, p, _df(spark, [(5, 9, "u5")]), ["k"], ["ts"])
    orphans = tx._stage_files(_df(spark, [(99, 1, "crash")]), p)
    would_driver = set(
        tx.vacuum(p, retain_versions=2, min_age_seconds=0.0, dry_run=True)
    )
    would_spark = set(
        tx.vacuum(
            p, retain_versions=2, min_age_seconds=0.0, dry_run=True,
            spark=spark,
        )
    )
    assert would_spark == would_driver
    assert set(orphans) <= would_spark
    deleted = tx.vacuum(
        p, retain_versions=2, min_age_seconds=0.0, spark=spark
    )
    assert set(deleted) == would_driver
    # retained versions still resolve; DV read path intact
    assert len(_content(spark, p)) == 17 + 1 - 1  # 20 - 3 deleted, u5 upserted in place
    assert _content(spark, p, version=2)


def test_distributed_vacuum_bounds_driver_list_calls(spark, tmp_path):
    """On a mounted object store the audit trail must show a BOUNDED
    number of driver LIST calls (the one data/ prefix list + the log
    listings), never a per-prefix recursive walk — the per-prefix
    listing ran on executors."""
    from event_streaming_toy_example_spark.operators.logstore import (
        SimulatedObjectStore,
        register_object_store,
        unregister_object_store,
    )

    p = str(tmp_path / "t")
    store = SimulatedObjectStore()
    register_object_store(p, store)
    try:
        tx.tx_append(_df(spark, [(i, 1, f"r{i}") for i in range(10)]), p)
        tx.tx_upsert(spark, p, _df(spark, [(1, 9, "u1")]), ["k"], ["ts"])
        tx._stage_files(_df(spark, [(50, 1, "crash")]), p)
        store.ops.clear()
        deleted = tx.vacuum(
            p, retain_versions=1, min_age_seconds=0.0, spark=spark
        )
        assert deleted
        lists = [
            (op, q)
            for op, q in store.ops
            if op in ("list", "list-recursive") and "/data" in q
        ]
        # exactly one driver LIST of the data tree (the prefix fetch);
        # the recursive walk would have shown list-recursive here
        assert len(lists) == 1, lists
        assert lists[0][0] == "list", lists
    finally:
        unregister_object_store(p)
