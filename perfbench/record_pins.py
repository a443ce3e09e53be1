#!/usr/bin/env python3
"""Record ``pins.json``: the row count and digest of every ``catalog_mix``
entry on the ``datagen`` tables, each verified against the entry's
DuckDB oracle (``plans.catalog.ALL_ORACLES``) before it is written.

    PYTHONPATH=. python3 perfbench/record_pins.py

Run it again only when ``catalog_mix.ENTRIES``, ``DATA_SEED`` or
``datagen`` change; it refuses to write when any entry disagrees with
its oracle.  Oracle comparison: columns sorted by name, rows sorted,
floats compared exactly after ``float()``, as the catalog's replay does.
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile

from perfbench import catalog_mix, common, datagen


def _row_key(row):
    return tuple((v is None, str(type(v)), str(v)) for v in row)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(row[i] for i in order) for row in rows), key=_row_key), sorted(cols)


def _equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return a == b


def main() -> int:
    import duckdb

    from event_streaming_toy_example_spark.plans.catalog import (
        ALL_ORACLES,
        ALL_QUERIES,
    )
    from event_streaming_toy_example_spark.session import get_spark

    data = datagen.write(tempfile.mkdtemp(prefix="perfbench_pins_"), catalog_mix.DATA_SEED)
    spark = get_spark(app_name="perfbench-pins",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    duck = duckdb.connect()
    for name in sorted(os.listdir(data)):
        t = name.removesuffix(".parquet")
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{name}')")
    pins, bad = {}, []
    for name in catalog_mix.ENTRIES:
        df = ALL_QUERIES[name](spark, data)
        rows = [tuple(r) for r in df.collect()]
        cur = duck.execute(ALL_ORACLES[name])
        sn, sc = _normalize(rows, df.columns)
        on, oc = _normalize(cur.fetchall(), [d[0] for d in cur.description])
        ok = sc == oc and len(sn) == len(on) and all(
            _equal(a, b) for ra, rb in zip(sn, on) for a, b in zip(ra, rb))
        print(f"{name}: {len(rows)} rows, oracle {'match' if ok else 'MISMATCH'}",
              flush=True)
        if not ok:
            bad.append(name)
        pins[name] = {"rows": len(rows), "digest": common.row_digest(rows, df.columns)}
    spark.stop()
    if bad:
        print("not written; oracle mismatch:", *bad, file=sys.stderr)
        return 1
    with open(catalog_mix.PINS, "w") as f:
        json.dump({"data_seed": catalog_mix.DATA_SEED, "oracle_checked": True,
                   "entries": pins}, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote", os.path.relpath(catalog_mix.PINS))
    return 0


if __name__ == "__main__":
    sys.exit(main())
