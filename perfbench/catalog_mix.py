"""The catalog queries ``hourly_batch`` runs after each hour's Glue job.

Downstream consumers of the LLM-data operators: ``plans.catalog``
entries built on ``functions.*``, one per family in ``ENTRIES``, each
run once per cycle in that order against tables that ``datagen`` writes
from the fixed ``DATA_SEED`` (scale factor 0.01 row counts).  The inputs
are pinned, so the run's seed changes nothing here.  A query is the
catalog builder call (Python plan construction plus any eager
persist/collect/``stage_once`` jobs) followed by ``count()``.

:meth:`CatalogMix.prepare` runs one cold pass that prestages every
entry, collects every result and checks its row count and
order-insensitive digest against ``pins.json`` (recorded once by
``record_pins.py``, which verified them against the DuckDB oracle).
After that a query fails when it raises or its row count differs from
the pin.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import common, datagen

#: catalog entry -> family
ENTRIES = {
    "text_quality": "text",
    "sim_embedding_near_dup": "sim",
}
DATA_SEED = 20241017
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")

PER_LAYER = [
    (f"query.{e}.{m}", u)
    for e in ENTRIES
    for m, u in (("build_s", "s"), ("action_s", "s"), ("jobs", "count"))
] + [(f"family.{f}.s", "s") for f in dict.fromkeys(ENTRIES.values())]


class CatalogMix:
    def __init__(self, spark, work: str, fault: str | None, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        with open(PINS) as f:
            pins = json.load(f)
        if pins["data_seed"] != DATA_SEED:
            raise ValueError("pins.json was recorded for another data seed")
        self.pins = {e: pins["entries"][e] for e in ENTRIES}
        if fault == "bad_pin":
            first = self.pins[next(iter(ENTRIES))]
            first["digest"] = format(int(first["digest"], 16) ^ 1, "016x")
        self.data = os.path.join(work, "data")
        #: (entry, build seconds, action seconds, jobs) of the window
        self.samples: list[tuple[str, float, float, int]] = []

    def prepare(self, out: common.Outcome) -> None:
        """Write the tables, then the cold pass: prestage every entry and
        check its full result against its pin."""
        from event_streaming_toy_example_spark.caching import release_caches
        from event_streaming_toy_example_spark.plans.catalog import ALL_QUERIES

        self.queries = ALL_QUERIES
        datagen.write(self.data, DATA_SEED)
        for e in ENTRIES:
            out.attempted += 1
            try:
                df = self.queries[e](self.spark, self.data)
                rows = df.collect()
                digest = common.row_digest(rows, df.columns)
            except Exception as ex:
                out.fail(f"{e} raised {type(ex).__name__}: {ex}")
                continue
            finally:
                release_caches()
            pin = self.pins[e]
            if (len(rows), digest) != (pin["rows"], pin["digest"]):
                out.fail(f"{e}: {len(rows)} rows, digest {digest}; pinned "
                         f"{pin['rows']} rows, digest {pin['digest']}")
        common.log("catalog entries checked")

    def run_once(self, out: common.Outcome, record: bool) -> None:
        """Every entry once; ``record`` keeps the samples."""
        from event_streaming_toy_example_spark.caching import release_caches

        for e in ENTRIES:
            out.attempted += 1
            traced = record and self.tracer is not None
            jobs0 = common.jobs_submitted(self.spark) if traced else 0
            try:
                t0 = time.perf_counter()
                df = self.queries[e](self.spark, self.data)
                t1 = time.perf_counter()
                n = df.count()
                t2 = time.perf_counter()
            except Exception as ex:
                out.fail(f"{e} raised {type(ex).__name__}: {ex}")
                continue
            finally:
                release_caches()
            jobs = common.jobs_submitted(self.spark) - jobs0 if traced else 0
            if n != self.pins[e]["rows"]:
                out.fail(f"{e}: {n} rows, pinned {self.pins[e]['rows']}")
            elif record:
                self.samples.append((e, t1 - t0, t2 - t1, jobs))

    def sampled_every_entry(self) -> bool:
        return {s[0] for s in self.samples} == set(ENTRIES)

    def latency_geomean_s(self) -> float:
        """Geometric mean over entries of each entry's median latency in
        the window: no percentile over a pool of different queries,
        which would jump between neighbouring entries."""
        total: dict[str, list[float]] = {}
        for e, b, a, _ in self.samples:
            total.setdefault(e, []).append(b + a)
        return common.geomean(common.median(v) for v in total.values())

    def layers(self, out: common.Outcome) -> None:
        family_s: dict[str, float] = {}
        for e, family in ENTRIES.items():
            mine = [s for s in self.samples if s[0] == e]
            build = common.median_or_zero(s[1] for s in mine)
            action = common.median_or_zero(s[2] for s in mine)
            out.per_layer[f"query.{e}.build_s"] = (build, "s")
            out.per_layer[f"query.{e}.action_s"] = (action, "s")
            out.per_layer[f"query.{e}.jobs"] = (common.median_or_zero(s[3] for s in mine), "count")
            family_s[family] = family_s.get(family, 0.0) + build + action
        for f, v in family_s.items():
            out.per_layer[f"family.{f}.s"] = (v, "s")
