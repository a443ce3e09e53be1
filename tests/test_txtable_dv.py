"""Deletion vectors / merge-on-read (`operators/txtable.py`, VERDICT
r6 item 2): a k-row DELETE or MERGE against big files commits O(k)
bytes (one position sidecar) instead of rewriting every straddler,
reads apply the DVs at scan time via a broadcast anti-join on parquet
``_metadata`` row positions, and the rest of the stack — compaction,
vacuum, restore, time travel, OCC, the change feed — composes.

Every test checks TWO things: the answer equals copy-on-write
semantics (correctness) and the file accounting proves merge-on-read
actually happened (the O(k) contract)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators import txtable as tx


def _df(spark, rows, schema="k int, ts int, v string"):
    return spark.createDataFrame(rows, schema)


def _content(spark, path, version=None):
    df = tx.read_table(spark, path, version)
    return sorted(tuple(r) for r in df.collect())


def _rows(n):
    return [(i, 1, f"r{i}") for i in range(n)]


def _sidecar_rows(path, sidecar):
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(path, sidecar)).metadata.num_rows


def test_mor_delete_commits_o_k_bytes_and_reads_match_cow(spark, tmp_path):
    p_mor = str(tmp_path / "mor")
    p_cow = str(tmp_path / "cow")
    for p in (p_mor, p_cow):
        tx.tx_append(_df(spark, _rows(100)).coalesce(1), p)
    where = [("k", ">=", 10), ("k", "<", 13)]  # 3 doomed rows of 100
    tx.tx_delete(spark, p_mor, where, merge_on_read=True)
    tx.tx_delete(spark, p_cow, where)
    # identical answers, both against the predicate and in full
    assert _content(spark, p_mor) == _content(spark, p_cow)
    got = tx.read_table(spark, p_mor, where=[("k", "<", 20)]).collect()
    assert sorted(r["k"] for r in got) == [i for i in range(20) if not 10 <= i < 13]
    # the O(k) contract: no data file added or removed; ONE sidecar
    # holding exactly the 3 doomed positions
    c = tx.read_log(p_mor)[-1]
    assert c.add == () and c.remove == ()
    assert c.dv and len(set(c.dv.values())) == 1
    sidecar = next(iter(c.dv.values()))
    assert _sidecar_rows(p_mor, sidecar) == 3
    # time travel: the pre-delete snapshot still sees all 100 rows
    assert len(_content(spark, p_mor, version=1)) == 100


def test_mor_delete_is_cumulative_on_the_same_file(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(50)).coalesce(1), p)
    tx.tx_delete(spark, p, [("k", "<", 5)], merge_on_read=True)
    tx.tx_delete(spark, p, [("k", ">=", 45)], merge_on_read=True)
    assert [r[0] for r in _content(spark, p)] == list(range(5, 45))
    # the second commit's sidecar carries the UNION (5 + 5 positions)
    c = tx.read_log(p)[-1]
    assert _sidecar_rows(p, next(iter(c.dv.values()))) == 10
    # each intermediate version reads exactly its own holes
    assert len(_content(spark, p, version=2)) == 45


#: each row-level DML op, killing the LIVE rows k=6..9 left in the
#: file that an earlier MOR delete already holed (k<6), plus what the
#: op leaves of k<10 elsewhere (updated / superseded copies)
_KILL_REST = {
    "tx_delete": (
        lambda spark, p: tx.tx_delete(
            spark, p, [("k", "<", 10)], merge_on_read=True
        ),
        [],
    ),
    "tx_delete_keys": (
        lambda spark, p: tx.tx_delete_keys(
            spark, p, _df(spark, [(i, 0, "") for i in range(6, 10)]), ["k"],
            merge_on_read=True,
        ),
        [],
    ),
    "tx_update": (
        lambda spark, p: tx.tx_update(
            spark, p, {"v": "'u'"}, [("k", "<", 10)], merge_on_read=True
        ),
        [(i, 1, "u") for i in range(6, 10)],
    ),
    "tx_merge": (
        lambda spark, p: tx.tx_merge(
            spark, p, _df(spark, [(i, 2, "m") for i in range(6, 10)]), ["k"],
            when_matched_delete=True, merge_on_read=True,
        ),
        [],
    ),
    "tx_upsert": (
        lambda spark, p: tx.tx_upsert(
            spark, p, _df(spark, [(i, 2, f"n{i}") for i in range(6, 10)]),
            ["k"], ["ts"], merge_on_read=True,
        ),
        [(i, 2, f"n{i}") for i in range(6, 10)],
    ),
}


@pytest.mark.parametrize("op", list(_KILL_REST))
def test_mor_delete_fully_dead_file_drops_whole(spark, tmp_path, op):
    """The shared merge-on-read step: a file whose every row is dead
    after the op (its earlier DV unioned with the op's own doomed
    rows) must DROP, not carry a DV over all of its rows — for every
    row-level DML op."""
    kill_rest, left = _KILL_REST[op]
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(10)).coalesce(1), p)
    (dead,) = tx.snapshot(p).files
    tx.tx_append(_df(spark, [(i, 1, f"x{i}") for i in range(100, 110)]).coalesce(1), p)
    # first MOR wave: file 1 keeps 4 live rows behind a DV
    tx.tx_delete(spark, p, [("k", "<", 6)], merge_on_read=True)
    assert dead in tx.snapshot(p).dvs
    # second wave: the op leaves file 1 no live row
    kill_rest(spark, p)
    snap = tx.snapshot(p)
    assert dead not in snap.files  # file 1 gone
    assert not (snap.dvs or {})  # and no dangling DV entry
    assert _content(spark, p) == sorted(
        left + [(i, 1, f"x{i}") for i in range(100, 110)]
    )


def test_mor_upsert_matches_cow_and_keeps_untouched_rows_in_place(
    spark, tmp_path
):
    p_mor = str(tmp_path / "mor")
    p_cow = str(tmp_path / "cow")
    for p in (p_mor, p_cow):
        tx.tx_append(_df(spark, _rows(100)).coalesce(1), p)
        tx.tx_append(
            _df(spark, [(i, 1, f"o{i}") for i in range(200, 210)]).coalesce(1), p
        )
    changes = _df(spark, [(7, 9, "new7"), (8, 0, "stale8"), (500, 1, "ins")])
    tx.tx_upsert(spark, p_mor, changes, ["k"], ["ts"], merge_on_read=True)
    tx.tx_upsert(spark, p_cow, changes, ["k"], ["ts"])
    assert _content(spark, p_mor) == _content(spark, p_cow)
    # ts-tie/order semantics preserved: k=8's change LOSES to the
    # newer base row?  No — changes beat table rows on ties, and 0 < 1
    # means the base row is newer and must survive
    row8 = [r for r in _content(spark, p_mor) if r[0] == 8]
    assert row8 == [(8, 1, "r8")]
    # accounting: nothing removed, one merged file added, a DV on the
    # touched file only; the 200-file is untouched
    c = tx.read_log(p_mor)[-1]
    assert c.remove == () and len(c.add) >= 1
    assert c.dv and len(c.dv) == 1
    snap = tx.snapshot(p_mor)
    assert len(snap.files) == 3  # two originals + merged adds
    # the DV holds exactly the two touched live positions (k=7, k=8)
    assert _sidecar_rows(p_mor, next(iter(c.dv.values()))) == 2


def test_compaction_materializes_dvs_away(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(40)).coalesce(2), p)
    tx.tx_delete(spark, p, [("k", "<", 4)], merge_on_read=True)
    before = _content(spark, p)
    assert tx.snapshot(p).dvs
    v = tx.tx_compact(spark, p, target_bytes=1 << 30)
    assert v is not None
    snap = tx.snapshot(p)
    assert not (snap.dvs or {})  # DVs gone with their victims
    assert _content(spark, p) == before  # live content invariant


def test_vacuum_keeps_referenced_sidecars_then_drops_them(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(30)).coalesce(2), p)
    tx.tx_delete(spark, p, [("k", "<", 3)], merge_on_read=True)
    sidecar = next(iter(tx.snapshot(p).dvs.values()))
    # retained snapshot references the sidecar: vacuum must keep it
    tx.vacuum(p, retain_versions=2, min_age_seconds=0.0)
    assert os.path.exists(os.path.join(p, sidecar))
    assert len(_content(spark, p)) == 27
    # compaction replaces the DV; once the DV version ages out of the
    # retention window the sidecar is deletable
    tx.tx_compact(spark, p, target_bytes=1 << 30)
    tx.tx_append(_df(spark, [(999, 1, "z")]), p)
    deleted = tx.vacuum(p, retain_versions=2, min_age_seconds=0.0)
    assert sidecar in deleted
    assert len(_content(spark, p)) == 28


def test_restore_across_dv_commits_restores_the_holes(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(20)).coalesce(1), p)  # v1
    tx.tx_delete(spark, p, [("k", "<", 5)], merge_on_read=True)  # v2
    v2 = _content(spark, p)
    tx.tx_delete(spark, p, [("k", "<", 10)], merge_on_read=True)  # v3
    # restore BACK to v2: holes shrink to the first delete only
    tx.tx_restore(p, 2)
    assert _content(spark, p) == v2
    # restore to v1: all holes cleared (DV entry dropped)
    tx.tx_restore(p, 1)
    assert len(_content(spark, p)) == 20
    assert not (tx.snapshot(p).dvs or {})


def test_change_feed_emits_dv_deletes_and_mor_upsert_updates(spark, tmp_path):
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(10)).coalesce(1), p)  # v1
    tx.tx_delete(spark, p, [("k", "<", 2)], merge_on_read=True)  # v2
    rows = tx.commit_change_rows(p, 2, ["k"], ["v"])
    assert sorted(rows) == [(0, "r0", "delete", 2), (1, "r1", "delete", 2)]
    # second MOR delete: only the NEW holes feed (position delta)
    tx.tx_delete(spark, p, [("k", "<", 3)], merge_on_read=True)  # v3
    assert tx.commit_change_rows(p, 3, ["k"], ["v"]) == [(2, "r2", "delete", 3)]
    # MOR upsert feeds updates/inserts, silent on carried rows
    tx.tx_upsert(
        spark, p, _df(spark, [(5, 9, "up5"), (77, 1, "ins")]), ["k"], ["ts"],
        merge_on_read=True,
    )  # v4
    rows = tx.commit_change_rows(p, 4, ["k"], ["v"])
    assert sorted(rows) == [(5, "up5", "update", 4), (77, "ins", "insert", 4)]


def test_occ_dv_commit_conflicts_with_rewriters(spark, tmp_path, monkeypatch):
    """A concurrent MOR delete punching holes in a file another
    transaction is rewriting must abort that transaction — its rewrite
    was computed from pre-DV content and would resurrect the rows."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(10)).coalesce(1), p)

    orig = tx._stage_files
    fired = {"done": False}

    def hook(df, path_, schema_json=None):
        if not fired["done"]:
            fired["done"] = True
            tx.tx_delete(spark, p, [("k", "=", 3)], merge_on_read=True)
        return orig(df, path_, schema_json)

    monkeypatch.setattr(tx, "_stage_files", hook)
    with pytest.raises(tx.ConcurrentWriteError, match="deletion-vectored"):
        tx.tx_upsert(spark, p, _df(spark, [(5, 9, "up")]), ["k"], ["ts"])
    # the DV delete won; the merge never half-applied
    ks = [r[0] for r in _content(spark, p)]
    assert ks == [i for i in range(10) if i != 3]


def test_delete_keys_and_replace_where_read_through_dvs(spark, tmp_path):
    """Copy-on-write writers layered OVER existing DVs must not
    resurrect dead rows when they rewrite a holed file."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(20)).coalesce(1), p)
    tx.tx_delete(spark, p, [("k", "<", 2)], merge_on_read=True)
    # CoW key-set delete rewrites the holed file: holes must persist
    tx.tx_delete_keys(
        spark, p, spark.createDataFrame([(10,)], "k int"), ["k"]
    )
    assert [r[0] for r in _content(spark, p)] == [
        i for i in range(2, 20) if i != 10
    ]
    assert not (tx.snapshot(p).dvs or {})  # rewrite materialized the DV
    # and a predicate replace over a fresh DV region
    tx.tx_delete(spark, p, [("k", "=", 19)], merge_on_read=True)
    repl = _df(spark, [(4, 9, "four")])
    tx.tx_replace_where(spark, p, repl, [("k", ">=", 4), ("k", "<", 6)])
    ks = [(r[0], r[2]) for r in _content(spark, p)]
    assert (4, "four") in ks and (19, "r19") not in ks and (5, "r5") not in ks


def test_mor_delete_keys_matches_cow(spark, tmp_path):
    """The key-set delete's merge-on-read mode: O(deleted keys) sidecar,
    no rewrite, same answer as the copy-on-write mode."""
    p_mor = str(tmp_path / "mor")
    p_cow = str(tmp_path / "cow")
    for p in (p_mor, p_cow):
        tx.tx_append(_df(spark, _rows(50)).coalesce(2), p)
    doomed = spark.createDataFrame([(3,), (17,), (33,)], "k int")
    tx.tx_delete_keys(spark, p_mor, doomed, ["k"], merge_on_read=True)
    tx.tx_delete_keys(spark, p_cow, doomed, ["k"])
    assert _content(spark, p_mor) == _content(spark, p_cow)
    c = tx.read_log(p_mor)[-1]
    assert c.add == () and c.remove == ()
    total_dv = sum(
        _sidecar_rows(p_mor, s) for s in set(c.dv.values())
    )
    assert total_dv == 3
    # change feed emits exactly the three deletes
    rows = tx.commit_change_rows(p_mor, 2, ["k"], ["v"])
    assert sorted(r[0] for r in rows) == [3, 17, 33]
    assert all(r[-2] == "delete" for r in rows)


def test_follower_merge_on_read_replicates_exactly(spark, tmp_path):
    """A follower applying the feed with deletion vectors must
    replicate the source row-exactly while committing no rewrites for
    deletes (DV-borne) — the O(delta) CDC-apply cost model."""
    from event_streaming_toy_example_spark.sources import txfeed

    src = str(tmp_path / "src")
    fol = str(tmp_path / "fol")
    tx.tx_append(_df(spark, _rows(20)).coalesce(1), src)
    tx.tx_upsert(
        spark, src, _df(spark, [(2, 9, "up2"), (77, 1, "new")]), ["k"], ["ts"]
    )
    tx.tx_delete(spark, src, [("k", ">=", 10), ("k", "<", 13)])
    tx.tx_append(
        spark.createDataFrame([], "k int, v string, version long"), fol
    )
    txfeed.follow_table(
        spark, src, fol, str(tmp_path / "ck"), key="k", content_cols=["v"],
        merge_on_read=True,
        # the delete-action accounting below is the PAIR apply path's;
        # the merge-apply default's MOR accounting is pinned in
        # test_txfeed.py::test_follow_table_via_merge_single_commit_per_batch
        via_merge=False,
    )
    src_rows = sorted(
        (r["k"], r["v"]) for r in tx.read_table(spark, src).collect()
    )
    fol_rows = sorted(
        (r["k"], r["v"]) for r in tx.read_table(spark, fol).collect()
    )
    assert fol_rows == src_rows
    # the follower's delete batch committed through a DV, not a rewrite
    deletes = [c for c in tx.read_log(fol) if c.action == "delete"]
    assert deletes and all(c.dv for c in deletes)
    assert all(c.add == () for c in deletes)


def test_concurrent_mor_deletes_on_same_file_abort_not_resurrect(
    spark, tmp_path, monkeypatch
):
    """Two racing merge-on-read deletes against the SAME file must not
    both commit: each sidecar is cumulative, so the loser's (built
    without the winner's holes) would silently RESURRECT them.  The
    loser aborts; a retry sees the winner's DV and unions correctly."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(20)).coalesce(1), p)

    orig = tx._stage_dv
    fired = {"done": False}

    def hook(df, path_):
        if not fired["done"]:
            fired["done"] = True
            tx.tx_delete(spark, p, [("k", "=", 15)], merge_on_read=True)
        return orig(df, path_)

    monkeypatch.setattr(tx, "_stage_dv", hook)
    with pytest.raises(tx.ConcurrentWriteError, match="deletion-vectored"):
        tx.tx_delete(spark, p, [("k", "<", 3)], merge_on_read=True)
    monkeypatch.undo()
    # winner's hole intact; retry composes both deletes cumulatively
    assert [r[0] for r in _content(spark, p)] == [
        i for i in range(20) if i != 15
    ]
    tx.tx_delete(spark, p, [("k", "<", 3)], merge_on_read=True)
    assert [r[0] for r in _content(spark, p)] == [
        i for i in range(3, 20) if i != 15
    ]


def test_split_read_mixed_clean_and_holed_files(spark, tmp_path):
    """The split DV read (clean files plain + holed files anti-joined)
    must return exactly the same rows as before the optimization, for
    every mix of clean/holed files and under time travel."""
    p = str(tmp_path / "t")
    tx.tx_append(_df(spark, _rows(10)).coalesce(1), p)
    tx.tx_append(_df(spark, [(i, 1, f"x{i}") for i in range(50, 60)]).coalesce(1), p)
    tx.tx_append(_df(spark, [(i, 1, f"y{i}") for i in range(90, 95)]).coalesce(1), p)
    tx.tx_delete(spark, p, [("k", "=", 52)], merge_on_read=True)
    ks = [r[0] for r in _content(spark, p)]
    assert ks == [i for i in list(range(10)) + list(range(50, 60)) + list(range(90, 95)) if i != 52]
    # every file holed -> pure anti-join path
    tx.tx_delete(spark, p, [("k", "in", (0, 91))], merge_on_read=True)
    tx.tx_delete(spark, p, [("k", "=", 55)], merge_on_read=True)
    ks = [r[0] for r in _content(spark, p)]
    assert 0 not in ks and 91 not in ks and 55 not in ks and 52 not in ks
    assert len(ks) == 25 - 4
    # time travel before the holes
    assert len(_content(spark, p, version=3)) == 25


def test_dv_density_compaction_rewrites_only_dense_holed_files(
    spark, tmp_path
):
    """VERDICT r7 item 5: ``tx_compact(max_dv_fraction=...)`` bounds
    the merge-on-read read tax — a file that is 90% holes is rewritten
    (DV materialized away), clean and lightly-holed neighbors stay
    physically untouched."""
    p = str(tmp_path / "t")
    # three one-file appends: k 0..9 / 100..109 / 200..209
    for base in (0, 100, 200):
        tx.tx_append(
            _df(spark, [(base + i, 1, f"r{base + i}") for i in range(10)])
            .coalesce(1),
            p,
        )
    # 90% holes in file 1, 10% in file 2, file 3 clean
    tx.tx_delete(spark, p, [("k", "<", 9)], merge_on_read=True)
    tx.tx_delete(spark, p, [("k", "=", 100)], merge_on_read=True)
    before = _content(spark, p)
    snap = tx.snapshot(p)
    assert len(snap.dvs) == 2
    light = [f for f in snap.files if "200" not in str(_content(spark, p))]
    v = tx.tx_compact(spark, p, max_dv_fraction=0.5)
    assert v is not None
    c = tx.read_log(p)[-1]
    assert c.action == "compact"
    assert len(c.remove) == 1, c.remove  # ONLY the 90%-holed file
    # content invariant, light DV still present (below threshold)
    assert _content(spark, p) == before
    snap2 = tx.snapshot(p)
    assert len(snap2.dvs) == 1
    # idempotent: nothing above the threshold remains
    assert tx.tx_compact(spark, p, max_dv_fraction=0.5) is None
    # feed + restore still compose across the density compaction
    assert tx.commit_change_rows(p, v, ["k"], ["v"]) == []
    tx.tx_restore(p, v - 1)  # the pre-compaction version, DV included
    assert _content(spark, p) == before
    del light
