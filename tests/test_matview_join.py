"""Two-table join materialized views — the one-dimension star of
``operators/matview_star.py`` (``fact = a``, dim ``b``): create-time
correctness vs a direct join, delta refresh on either/both sides from
the change feeds alone (spy-asserted to never re-read a source), group
kills, exactly-once replay, the packed two-version token, and the
typed NULL-group-key refusal."""

from __future__ import annotations

import os
import unittest.mock as mock

import pytest
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators import matview_star as ms
from event_streaming_toy_example_spark.operators import txtable as tx

_A = "k int, ga string, x double"
_B = "k int, gb string, y int"


def _mk(spark, tmp_path, rows_a, rows_b):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    tx.tx_append(spark.createDataFrame(rows_a, _A), a)
    tx.tx_append(spark.createDataFrame(rows_b, _B), b)
    return a, b


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
    "sum_x": ("sum", "fact.x"),
    "avg_y": ("avg", "b.y"),
}


def _create_join(spark, a, b, dst, aggs=_AGGS):
    """``a JOIN b USING (k) GROUP BY ga, gb`` as a one-dimension star."""
    return ms.tx_create_matview_star(
        spark, dst, a,
        dims=[{"name": "b", "src": b, "on": ["k"], "group_by": ["gb"]}],
        aggs=aggs, group_by_fact=["ga"],
    )


def _expected(spark, a_rows, b_rows):
    """Direct recompute of the view over explicit row lists."""
    out = {}
    for (ka, ga, x) in a_rows:
        for (kb, gb, y) in b_rows:
            if ka is None or kb is None or ka != kb:
                continue
            g = out.setdefault((ga, gb), [0, 0.0, 0, 0, 0])
            g[0] += 1
            if x is not None:
                g[1] += x
                g[2] += 1
            if y is not None:
                g[3] += y
                g[4] += 1
    return {
        k: (
            v[0],
            round(v[1], 6) if v[2] else None,
            round(v[3] / v[4], 6) if v[4] else None,
        )
        for k, v in out.items()
    }


def _got(spark, dst):
    return {
        (r["ga"], r["gb"]): (
            r["n"],
            round(r["sum_x"], 6) if r["sum_x"] is not None else None,
            round(r["avg_y"], 6) if r["avg_y"] is not None else None,
        )
        for r in tx.read_table(spark, dst)
        .select("ga", "gb", "n", "sum_x", "avg_y")
        .collect()
    }


def _create(spark, tmp_path, rows_a=_ROWS_A, rows_b=_ROWS_B):
    a, b = _mk(spark, tmp_path, rows_a, rows_b)
    dst = str(tmp_path / "mv")
    _create_join(spark, a, b, dst)
    return a, b, dst


def _refresh_spied(spark, dst, forbidden):
    """Refresh with read_table spied: any read of a path in
    ``forbidden`` fails the test."""
    calls = []
    orig = tx.read_table

    def spy(sp, path, *args, **kwargs):
        calls.append(os.path.abspath(path))
        return orig(sp, path, *args, **kwargs)

    with mock.patch.object(ms.tx, "read_table", side_effect=spy):
        v = ms.tx_refresh_matview_star(spark, dst)
    bad = set(calls) & {os.path.abspath(p) for p in forbidden}
    assert not bad, f"delta refresh re-read source table(s): {bad}"
    return v


def test_create_matches_direct_join(spark, tmp_path):
    _a, _b, dst = _create(spark, tmp_path)
    assert _got(spark, dst) == _expected(spark, _ROWS_A, _ROWS_B)
    # NULL-join-key and unmatched-key rows contribute nothing
    assert ("q", "u") in _got(spark, dst)


def test_delta_on_a_side_only(spark, tmp_path):
    a, b, dst = _create(spark, tmp_path)
    new_a = [(1, "p", 40.0), (2, "q", 2.5)]
    tx.tx_append(spark.createDataFrame(new_a, _A), a)
    assert _refresh_spied(spark, dst, [a, b]) is not None
    assert _got(spark, dst) == _expected(spark, _ROWS_A + new_a, _ROWS_B)


def test_delta_on_b_side_only(spark, tmp_path):
    a, b, dst = _create(spark, tmp_path)
    new_b = [(3, "u", 50), (1, "v", None)]
    tx.tx_append(spark.createDataFrame(new_b, _B), b)
    _refresh_spied(spark, dst, [a, b])
    assert _got(spark, dst) == _expected(spark, _ROWS_A, _ROWS_B + new_b)


def test_delta_on_both_sides(spark, tmp_path):
    a, b, dst = _create(spark, tmp_path)
    new_a = [(4, "p", 3.0)]
    new_b = [(3, "w", 10), (4, "u", 1)]
    tx.tx_append(spark.createDataFrame(new_a, _A), a)
    tx.tx_append(spark.createDataFrame(new_b, _B), b)
    _refresh_spied(spark, dst, [a, b])
    assert _got(spark, dst) == _expected(
        spark, _ROWS_A + new_a, _ROWS_B + new_b
    )


def test_deletes_and_group_kill(spark, tmp_path):
    a, b, dst = _create(spark, tmp_path)
    # killing every k=1 row on side A removes groups (p,u) (p,v) (q,u)
    # (q,v) contributions from k=1; (q,*) survives only via k=3 — but
    # k=3 matches nothing in B, so ('q','u') dies entirely
    tx.tx_delete(spark, a, [("k", "=", 1)])
    _refresh_spied(spark, dst, [a, b])
    left_a = [r for r in _ROWS_A if r[0] != 1]
    assert _got(spark, dst) == _expected(spark, left_a, _ROWS_B)
    # and a b-side delete that empties the rest
    tx.tx_delete(spark, b, [("k", "in", (1, 2, 4))])
    _refresh_spied(spark, dst, [a, b])
    assert _got(spark, dst) == {}


def test_update_is_retract_then_add(spark, tmp_path):
    a, b, dst = _create(spark, tmp_path)
    tx.tx_update(spark, a, set={"x": "x + 100"}, where=[("ga", "=", "p")])
    _refresh_spied(spark, dst, [a, b])
    upd_a = [
        (k, g, x + 100 if g == "p" and x is not None else x)
        for (k, g, x) in _ROWS_A
    ]
    assert _got(spark, dst) == _expected(spark, upd_a, _ROWS_B)


def test_refresh_is_idempotent_and_exactly_once(spark, tmp_path):
    a, _b, dst = _create(spark, tmp_path)
    tx.tx_append(spark.createDataFrame([(1, "p", 1.0)], _A), a)
    v1 = ms.tx_refresh_matview_star(spark, dst)
    assert v1 is not None
    assert ms.tx_refresh_matview_star(spark, dst) is None  # current
    applied, current = ms.matview_star_lag(dst)
    assert applied == current == {"fact": 2, "b": 1}


def test_crash_between_view_and_state_merges_replays_clean(spark, tmp_path):
    a, b, dst = _create(spark, tmp_path)
    tx.tx_append(spark.createDataFrame([(2, "p", 9.0)], _A), a)
    # simulate a crash AFTER the view merge, BEFORE the state merges:
    # the refresh calls _advance_states twice (repair pass first, then
    # the post-view-merge advancement) — let the repair through, crash
    # the advancement
    orig_adv = ms._advance_states
    calls = {"n": 0}

    def crashing(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("crash")
        return orig_adv(*args, **kwargs)

    with mock.patch.object(ms, "_advance_states", side_effect=crashing):
        with pytest.raises(RuntimeError):
            ms.tx_refresh_matview_star(spark, dst)
    # replay: the view token has landed, so the refresh is "current" —
    # but the repair pass must still catch the STATES up, or the next
    # B-side delta (term2 = SA_new ⋈ ΔSB) would multiply against a
    # stale SA that is missing the crashed window's a-side row
    assert ms.tx_refresh_matview_star(spark, dst) is None
    new_b = [(2, "u", 50)]
    tx.tx_append(spark.createDataFrame(new_b, _B), b)
    _refresh_spied(spark, dst, [a, b])
    assert _got(spark, dst) == _expected(
        spark, _ROWS_A + [(2, "p", 9.0)], _ROWS_B + new_b
    )
    # and a later a-side delta still lands too
    tx.tx_append(spark.createDataFrame([(2, "p", 11.0)], _A), a)
    _refresh_spied(spark, dst, [a, b])
    assert _got(spark, dst) == _expected(
        spark,
        _ROWS_A + [(2, "p", 9.0), (2, "p", 11.0)],
        _ROWS_B + new_b,
    )


def test_null_group_key_refused(spark, tmp_path):
    a, b = _mk(
        spark, tmp_path, _ROWS_A + [(1, None, 1.0)], _ROWS_B
    )
    with pytest.raises(ValueError, match="NULL group-by key"):
        _create_join(spark, a, b, str(tmp_path / "mv"))


def test_null_join_keys_never_join(spark, tmp_path):
    a, b, dst = _create(
        spark, tmp_path,
        rows_a=_ROWS_A + [(None, "p", 777.0)],
        rows_b=_ROWS_B + [(None, "u", 888)],
    )
    assert _got(spark, dst) == _expected(spark, _ROWS_A, _ROWS_B)
    tx.tx_append(spark.createDataFrame([(None, "p", 1.0)], _A), a)
    _refresh_spied(spark, dst, [a, b])
    assert _got(spark, dst) == _expected(spark, _ROWS_A, _ROWS_B)


def test_version_pack_roundtrip_and_cap():
    # two sides get 60 // 2 = 30 bits each
    bits = ms._bits_for(2)
    assert bits == 30
    assert ms._unpack(ms._pack([3, 5], bits), 2, bits) == [3, 5]
    assert (
        ms._pack([4, 7], bits) > ms._pack([4, 6], bits)
        > ms._pack([3, 900000], bits)
    )
    assert ms._unpack(ms._pack([1 << 20, 1], bits), 2, bits) == [1 << 20, 1]
    with pytest.raises(ValueError, match="cap of the packed watermark"):
        ms._pack([1 << 30, 1], bits)


def test_count_col_through_the_factorization(spark, tmp_path):
    a, b = _mk(spark, tmp_path, _ROWS_A, _ROWS_B)
    dst = str(tmp_path / "mvc")
    _create_join(
        spark, a, b, dst,
        aggs={
            "n": ("count", "*"),
            "n_x": ("count", "fact.x"),
            "n_y": ("count", "b.y"),
        },
    )

    def check(a_rows, b_rows):
        got = {
            (r["ga"], r["gb"]): (r["n"], r["n_x"], r["n_y"])
            for r in tx.read_table(spark, dst)
            .select("ga", "gb", "n", "n_x", "n_y").collect()
        }
        want = {}
        for (ka, g1, x) in a_rows:
            for (kb, g2, y) in b_rows:
                if ka is None or ka != kb:
                    continue
                t = want.setdefault((g1, g2), [0, 0, 0])
                t[0] += 1
                t[1] += x is not None
                t[2] += y is not None
        assert got == {k: tuple(v) for k, v in want.items()}

    check(_ROWS_A, _ROWS_B)
    new_a = [(1, "p", None), (2, "q", 4.0)]
    tx.tx_append(spark.createDataFrame(new_a, _A), a)
    _refresh_spied(spark, dst, [a, b])
    check(_ROWS_A + new_a, _ROWS_B)


def test_create_retry_after_crash_does_not_double_state(spark, tmp_path):
    # round-10 review: a crashed create leaves partial state tables;
    # the retry must start them from scratch, not append onto them
    a, b = _mk(spark, tmp_path, _ROWS_A, _ROWS_B)
    dst = str(tmp_path / "mv")
    with mock.patch.object(
        ms, "_sum_deltas_star", side_effect=RuntimeError("crash mid-create")
    ):
        with pytest.raises(RuntimeError):
            _create_join(spark, a, b, dst)
    # states exist from the crashed attempt; dst does not
    assert tx.table_version(dst) == 0
    assert tx.table_version(dst + "__sf") == 1
    _create_join(spark, a, b, dst)
    assert _got(spark, dst) == _expected(spark, _ROWS_A, _ROWS_B)
