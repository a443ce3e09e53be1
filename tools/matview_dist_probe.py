#!/usr/bin/env python
"""Scale probe: does a BACKFILL-scale matview refresh keep its delta
off the driver?  (VERDICT r10 item 3's done-criterion.)

Builds a per-group matview over a seed table, then appends ONE
backfill commit of >= 1M rows (sf0.1's lineitem) and refreshes twice
from identical starting points:

- the DRIVER-PANDAS path (threshold forced above the delta), with
  tracemalloc recording the driver's peak python allocation;
- the DISTRIBUTED path (threshold forced below the delta), same
  measurement, plus a spy asserting the pandas frame builder is never
  called.

Prints one JSON line with both peaks, their ratio, and whether the
two refreshed views are value-identical.  The distributed peak should
stay ~flat (commit metadata only) while the pandas peak scales with
the delta's row count.

Run:  python tools/matview_dist_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import tracemalloc
import unittest.mock as mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from event_streaming_toy_example_spark.operators import (  # noqa: E402
    matview as mv,
)
from event_streaming_toy_example_spark.operators import txtable as tx  # noqa: E402
from event_streaming_toy_example_spark.schemas import load_table  # noqa: E402
from event_streaming_toy_example_spark.session import get_spark  # noqa: E402


def _build(spark, sf_dir: str, root: str) -> tuple[str, str]:
    src = os.path.join(root, "src")
    dst = os.path.join(root, "mv")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    tx.tx_append(li.limit(10_000).repartition(4), src)
    mv.tx_create_matview(
        spark, src, dst, group_by=["l_returnflag"],
        aggs={
            "n": ("count", "*"),
            "qty": ("sum", "l_quantity"),
            "avg_price": ("avg", "l_extendedprice"),
        },
    )
    # the backfill: two whole-lineitem appends (> 1M rows at sf0.1)
    # inside ONE refresh window
    tx.tx_append(li.repartition(16), src)
    tx.tx_append(li.repartition(16), src)
    return src, dst


def _refresh_peak(spark, dst: str, threshold: int,
                  forbid_pandas: bool) -> tuple[int, dict]:
    tracemalloc.start()
    ctx = (
        mock.patch.object(
            mv, "_change_frames",
            side_effect=AssertionError("driver pandas path used"),
        )
        if forbid_pandas
        else mock.patch.object(mv, "_change_frames",
                               wraps=mv._change_frames)
    )
    with mock.patch.object(mv, "DIST_DELTA_ROWS", threshold), ctx:
        mv.tx_refresh_matview(spark, dst)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    rows = {
        r["l_returnflag"]: (r["n"], round(r["qty"], 2),
                            round(r["avg_price"], 4))
        for r in tx.read_table(spark, dst)
        .select("l_returnflag", "n", "qty", "avg_price").collect()
    }
    return peak, rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="matview-dist-probe")
    roots = []
    try:
        results = {}
        views = {}
        for label, threshold, forbid in (
            ("pandas", 1 << 62, False),
            ("distributed", 1, True),
        ):
            root = tempfile.mkdtemp(prefix=f"mvd_{label}_")
            roots.append(root)
            _src, dst = _build(spark, sf_dir, root)
            peak, rows = _refresh_peak(spark, dst, threshold, forbid)
            results[f"{label}_peak_mb"] = round(peak / 1e6, 1)
            views[label] = rows
        n_rows = sum(v[0] for v in views["pandas"].values())
        print(json.dumps({
            **results,
            "delta_rows": n_rows,
            "peak_ratio_pandas_over_dist": round(
                results["pandas_peak_mb"]
                / max(results["distributed_peak_mb"], 0.1), 1,
            ),
            "views_identical": views["pandas"] == views["distributed"],
            "sf_dir": sf_dir,
        }))
    finally:
        for root in roots:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
