"""min/max aggregates in two-table JOIN matviews — the one-dimension
star of ``operators/matview_star.py`` (``fact = a``, dim ``b``): the
side states carry per-cell extrema, append-only refreshes stay
O(delta) and SOURCE-FREE (monotone least/greatest merges —
spy-asserted), a removal-touched cell pays a bounded per-cell source
rescan, and the touched view groups recompute from the post-delta
states join with the same expression create used."""

from __future__ import annotations

import os
import unittest.mock as mock

import pytest
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators import matview_star as ms
from event_streaming_toy_example_spark.operators import txtable as tx

_A = "k int, ga string, x double"
_B = "k int, gb string, y int"

_ROWS_A = [
    (1, "p", 10.0), (1, "p", 20.0), (1, "q", 5.0),
    (2, "p", 1.0), (3, "q", 7.0), (3, "q", None),
]
_ROWS_B = [
    (1, "u", 100), (1, "v", 200), (2, "u", 300),
    (2, "u", 400), (4, "u", 999),
]

_AGGS = {
    "n": ("count", "*"),
    "min_x": ("min", "fact.x"),
    "max_x": ("max", "fact.x"),
    "max_y": ("max", "b.y"),
    "sum_x": ("sum", "fact.x"),
}


def _expected(a_rows, b_rows):
    out = {}
    for (ka, ga, x) in a_rows:
        for (kb, gb, y) in b_rows:
            if ka is None or kb is None or ka != kb:
                continue
            g = out.setdefault((ga, gb), {"n": 0, "xs": [], "ys": []})
            g["n"] += 1
            if x is not None:
                g["xs"].append(x)
            if y is not None:
                g["ys"].append(y)
    return {
        k: (
            v["n"],
            min(v["xs"]) if v["xs"] else None,
            max(v["xs"]) if v["xs"] else None,
            max(v["ys"]) if v["ys"] else None,
            round(sum(v["xs"]), 6) if v["xs"] else None,
        )
        for k, v in out.items()
    }


def _got(spark, dst):
    return {
        (r["ga"], r["gb"]): (
            r["n"],
            r["min_x"],
            r["max_x"],
            r["max_y"],
            round(r["sum_x"], 6) if r["sum_x"] is not None else None,
        )
        for r in tx.read_table(spark, dst)
        .select("ga", "gb", "n", "min_x", "max_x", "max_y", "sum_x")
        .collect()
    }


def _create(spark, tmp_path, rows_a=_ROWS_A, rows_b=_ROWS_B):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    tx.tx_append(spark.createDataFrame(rows_a, _A), a)
    tx.tx_append(spark.createDataFrame(rows_b, _B), b)
    dst = str(tmp_path / "mv")
    ms.tx_create_matview_star(
        spark, dst, a,
        dims=[{"name": "b", "src": b, "on": ["k"], "group_by": ["gb"]}],
        aggs=_AGGS, group_by_fact=["ga"],
    )
    return a, b, dst


def _refresh_spied(spark, dst, forbidden):
    calls = []
    orig = tx.read_table

    def spy(sp, path, *args, **kwargs):
        calls.append(os.path.abspath(path))
        return orig(sp, path, *args, **kwargs)

    with mock.patch.object(ms.tx, "read_table", side_effect=spy):
        v = ms.tx_refresh_matview_star(spark, dst)
    bad = set(calls) & {os.path.abspath(p) for p in forbidden}
    assert not bad, f"append-only refresh re-read source table(s): {bad}"
    return v


def test_create_matches_direct_compute(spark, tmp_path):
    _a, _b, dst = _create(spark, tmp_path)
    assert _got(spark, dst) == _expected(_ROWS_A, _ROWS_B)
    # state tables carry per-cell extrema
    sa = tx.read_table(spark, str(tmp_path / "mv") + "__sf")
    assert {"__min_x", "__max_x"} <= set(sa.columns)


def test_append_only_refresh_is_source_free(spark, tmp_path):
    """Appends on BOTH sides in one refresh: extrema merge
    monotonically from the deltas — neither source is re-read."""
    a, b, dst = _create(spark, tmp_path)
    new_a = [(1, "p", 0.5), (4, "q", 50.0)]   # new min for (p,*)
    new_b = [(4, "v", 700), (2, "u", 50)]
    tx.tx_append(spark.createDataFrame(new_a, _A), a)
    tx.tx_append(spark.createDataFrame(new_b, _B), b)
    assert _refresh_spied(spark, dst, [a, b]) is not None
    assert _got(spark, dst) == _expected(_ROWS_A + new_a, _ROWS_B + new_b)


def test_removed_extremum_is_repaired(spark, tmp_path):
    """Deleting the current max of a cell forces the bounded per-cell
    rescan; the view's extrema come back exact."""
    a, b, dst = _create(spark, tmp_path)
    tx.tx_delete(spark, a, [("x", "=", 20.0)])  # (1, p)'s max
    assert ms.tx_refresh_matview_star(spark, dst) is not None
    remaining_a = [r for r in _ROWS_A if r[2] != 20.0]
    assert _got(spark, dst) == _expected(remaining_a, _ROWS_B)


def test_removal_with_dv_commit(spark, tmp_path):
    """Merge-on-read deletes ride the same change feed: the DV-borne
    removal repairs the extremum identically."""
    a, b, dst = _create(spark, tmp_path)
    tx.tx_delete(spark, b, [("y", "=", 400)], merge_on_read=True)
    assert ms.tx_refresh_matview_star(spark, dst) is not None
    remaining_b = [r for r in _ROWS_B if r[2] != 400]
    assert _got(spark, dst) == _expected(_ROWS_A, remaining_b)


def test_group_kill_deletes_view_row(spark, tmp_path):
    a, b, dst = _create(spark, tmp_path)
    # (2, p) x (2, u): removing a's only k=2 row kills ("p","u")'s
    # k=2 support but ("p","u") survives via k=1; kill ("q","u")
    # entirely instead: a's q-rows are k=1 and k=3; b has u-rows at
    # k=1, 2, 4 — remove a's (1, q) row and ("q","u") loses its only
    # joined support
    tx.tx_delete(spark, a, [("x", "=", 5.0)])
    assert ms.tx_refresh_matview_star(spark, dst) is not None
    got = _got(spark, dst)
    assert ("q", "u") not in got
    remaining_a = [r for r in _ROWS_A if r[2] != 5.0]
    assert got == _expected(remaining_a, _ROWS_B)


def test_mixed_add_and_remove_one_refresh(spark, tmp_path):
    a, b, dst = _create(spark, tmp_path)
    tx.tx_delete(spark, a, [("x", "=", 10.0)])
    new_a = [(2, "p", -3.0)]
    new_b = [(1, "u", 10_000)]
    tx.tx_append(spark.createDataFrame(new_a, _A), a)
    tx.tx_append(spark.createDataFrame(new_b, _B), b)
    assert ms.tx_refresh_matview_star(spark, dst) is not None
    remaining_a = [r for r in _ROWS_A if r[2] != 10.0] + new_a
    assert _got(spark, dst) == _expected(remaining_a, _ROWS_B + new_b)


def test_refresh_is_idempotent_and_exactly_once(spark, tmp_path):
    a, _b, dst = _create(spark, tmp_path)
    tx.tx_append(spark.createDataFrame([(1, "p", -1.0)], _A), a)
    v = ms.tx_refresh_matview_star(spark, dst)
    assert v is not None
    assert ms.tx_refresh_matview_star(spark, dst) is None  # current
    assert _got(spark, dst) == _expected(
        _ROWS_A + [(1, "p", -1.0)], _ROWS_B
    )


def test_crash_between_view_and_state_merges_self_heals(spark, tmp_path):
    """Simulate a crash AFTER the view merge landed but BEFORE the
    state merges: the next refresh's repair pass catches the states up
    to the view's watermark, and a subsequent delta still lands with
    exact extrema."""
    a, _b, dst = _create(spark, tmp_path)
    tx.tx_append(spark.createDataFrame([(1, "p", 0.25)], _A), a)

    real_advance = ms._advance_states
    calls = {"n": 0}

    def crashing_advance(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:  # the post-view-merge advance of refresh 1
            raise RuntimeError("simulated crash")
        return real_advance(*args, **kwargs)

    with mock.patch.object(ms, "_advance_states", crashing_advance):
        with pytest.raises(RuntimeError, match="simulated crash"):
            ms.tx_refresh_matview_star(spark, dst)
    # view advanced, states stale -> repair, then a second delta
    tx.tx_delete(spark, a, [("x", "=", 0.25)])
    assert ms.tx_refresh_matview_star(spark, dst) is not None
    assert _got(spark, dst) == _expected(_ROWS_A, _ROWS_B)


def test_all_null_extremum_column(spark, tmp_path):
    """A group whose min/max input is entirely NULL exposes NULL, and
    a later non-null append refines it."""
    rows_a = [(5, "r", None)]
    rows_b = [(5, "w", 1)]
    a, b, dst = _create(
        spark, tmp_path, _ROWS_A + rows_a, _ROWS_B + rows_b
    )
    got = _got(spark, dst)
    assert got[("r", "w")][1] is None and got[("r", "w")][2] is None
    tx.tx_append(spark.createDataFrame([(5, "r", 2.5)], _A), a)
    assert _refresh_spied(spark, dst, [a, b]) is not None
    got = _got(spark, dst)
    assert got[("r", "w")][1] == 2.5 and got[("r", "w")][2] == 2.5
