"""Sharded full-catalog oracle replay — the standalone form of
``tests/test_oracle_parity.py`` for big scale factors.

The pytest parametrization replays one entry at a time on one session;
at sf0.1 that is hours of wall clock.  This harness shards the catalog
across N OS processes (one smaller Spark local session + one DuckDB
connection each; ``stage_dir_once`` artifacts are already safe under
concurrent stagers via atomic-rename publish), so a 32-core box
re-establishes the full record in a fraction of the time.

Usage::

    python tools/replay_catalog.py --sf-dir /root/testdata/sf0.1 \
        --shards 4 --out /tmp/replay_sf01.json

Compare semantics are IDENTICAL to the pytest oracle gate (and the
driver): columns sorted by name, rows sorted by full value tuple,
floats compared exactly after float() coercion, NaN==NaN.  Entries
without an oracle get a rows-only record, marked as such.  Every
record also carries ``digest``, the md5 of the engine's normalized
result, so two replays (say, before and after a refactor) can be
compared entry by entry without an oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import multiprocessing
import os
import sys
import time

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(row):
        return tuple(
            (v is None, str(type(v)), str(v)) for v in (row[i] for i in order)
        )

    return sorted((tuple(row[i] for i in order) for row in rows), key=key), [
        cols[i] for i in order
    ]


def _values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b


def _run_shard(args: tuple) -> dict:
    shard, n_shards, sf_dir, cores, only = args
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import duckdb

    from event_streaming_toy_example_spark.plans.catalog import (
        ALL_ORACLES,
        ALL_QUERIES,
    )
    from event_streaming_toy_example_spark.session import get_spark

    spark = get_spark(
        app_name=f"replay{shard}",
        master=f"local[{cores}]",
        shuffle_partitions=max(4, cores),
    )
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    names = sorted(ALL_QUERIES)
    if only:
        names = [n for n in names if any(s in n for s in only)]
    names = names[shard::n_shards]
    out: dict[str, dict] = {}
    for name in names:
        t0 = time.monotonic()
        rec: dict = {"oracle": name in ALL_ORACLES}
        try:
            sdf = ALL_QUERIES[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rec["digest"] = hashlib.md5(
                repr(_normalize(srows, scols)).encode()
            ).hexdigest()
            if name in ALL_ORACLES:
                cur = duck.execute(ALL_ORACLES[name])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                sn, sc = _normalize(srows, scols)
                on, oc = _normalize(orows, ocols)
                ok = (
                    sc == oc
                    and len(sn) == len(on)
                    and all(
                        _values_equal(a, b)
                        for ra, rb in zip(sn, on)
                        for a, b in zip(ra, rb)
                    )
                )
                rec.update(
                    match=ok, rows=len(srows), oracle_rows=len(orows)
                )
            else:
                rec.update(match=None, rows=len(srows))
        except Exception as e:  # record, keep replaying the shard
            rec.update(match=False, error=f"{type(e).__name__}: {e}"[:300])
        rec["sec"] = round(time.monotonic() - t0, 2)
        out[name] = rec
        status = {True: "ok", False: "FAIL", None: "rows"}[rec.get("match")]
        print(f"[shard {shard}] {name}: {status} ({rec['sec']}s)", flush=True)
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--shards", type=int, default=4)
    ap.add_argument("--cores-per-shard", type=int, default=8)
    ap.add_argument("--out", default="/tmp/replay_catalog.json")
    ap.add_argument(
        "--only", nargs="*", default=None,
        help="substring filters (smoke-testing the harness)",
    )
    a = ap.parse_args()

    t0 = time.monotonic()
    ctx = multiprocessing.get_context("spawn")  # clean JVM per shard
    with ctx.Pool(a.shards) as pool:
        parts = pool.map(
            _run_shard,
            [
                (i, a.shards, a.sf_dir, a.cores_per_shard, a.only)
                for i in range(a.shards)
            ],
        )
    merged: dict[str, dict] = {}
    for p in parts:
        merged.update(p)
    bad = {k: v for k, v in merged.items() if v.get("match") is False}
    summary = {
        "sf_dir": a.sf_dir,
        "entries": len(merged),
        "oracle_checked": sum(1 for v in merged.values() if v["oracle"]),
        "failures": sorted(bad),
        "total_sec": round(time.monotonic() - t0, 1),
        "results": merged,
    }
    with open(a.out, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(
        f"replayed {summary['entries']} entries "
        f"({summary['oracle_checked']} oracle-checked) in "
        f"{summary['total_sec']}s; failures: {summary['failures']}"
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
