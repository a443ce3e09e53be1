"""``hourly_batch``: the Glue job, once per event-time hour, and the
catalog queries downstream of it.

Closed loop, one caller.  Setup pre-renders a Kinesis-enveloped feed
per hour (about ``EVENTS_PER_HOUR`` events plus 5% duplicates, every
event inside its hour) and precomputes each hour's expected
``BatchResult`` from the feed.  Each cycle of the window takes the next
hour and runs, against one processed table whose commit log grows by a
version per cycle:

1. ``ingest_batch`` of the hour's feed into staging;
2. ``compact_staging(where=<hour>, incremental=True)``;
3. ``read_processed(where=<hour clauses>).count()``;

then ``READS_PER_CYCLE - 1`` more such reads (more consumers of the new
hour) and every ``catalog_mix`` entry once.  Steps 1-3 are the cycle's
latency; every read is a sample of the read latency.  The window runs a fixed number of cycles.  A
cycle fails when its ``BatchResult`` or the read count is wrong, a
query when it raises or returns a wrong row count.  Setup checks the
catalog results against their pins, then warms up with the same cycle
on hours of a disjoint throwaway table.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from perfbench import catalog_mix, common

EVENTS_PER_HOUR = {"full": 2000, "tiny": 200}
WARM_HOURS = 1
DUP_RATE = 0.05
FEED_PARTS = 4  # files per hourly feed
#: nominal seconds of one cycle, catalog queries included, on four
#: cores: the window runs ``--seconds / CYCLE_S`` cycles, at least
#: ``MIN_CYCLES``, however long they take, so every run has the same
#: latency samples
CYCLE_S = 3.5
MIN_CYCLES = 3
#: pruned reads of each new hour; the first is the cycle's step 3
READS_PER_CYCLE = 3
BASE_TS = 1709251200  # 2024-03-01T00:00:00Z

PER_LAYER = [
    ("pipeline.ingest_batch_s", "s"),
    ("pipeline.compact_staging_s", "s"),
    ("txtable.tx_replace_where_s", "s"),
    ("txtable.commit_s", "s"),
    ("txtable.snapshot_s", "s"),
    ("txtable.snapshot_calls", "count"),
    ("txtable.read_log_calls", "count"),
    ("txtable.prune_files_s", "s"),
    ("txtable.read_table_s", "s"),
    ("txtable.files_kept_share", "ratio"),
    ("logstore.reads", "count"),
    ("logstore.writes", "count"),
    ("spark.jobs_per_cycle", "count"),
    ("txtable.log_versions", "count"),
    ("txtable.live_files", "count"),
] + catalog_mix.PER_LAYER


class Workload:
    def __init__(self, spark, args, tracer) -> None:
        self.spark = spark
        self.seed = args.seed
        self.n_cycles = max(MIN_CYCLES, round(args.seconds / CYCLE_S))
        self.fault = args.fault
        self.tracer = tracer
        self.per_hour = EVENTS_PER_HOUR[args.scale]
        self.n_warm = WARM_HOURS
        self.work = args.work
        self.feeds = os.path.join(args.work, "feeds")
        self.expected: dict[int, tuple[int, int]] = {}
        self.cycles: list[dict] = []
        self.catalog = catalog_mix.CatalogMix(spark, args.work, args.fault, tracer)

    def setup(self, out: common.Outcome) -> None:
        from pyspark.sql import functions as F

        from event_streaming_toy_example_spark.sources.generator import (
            generate_events,
            inject_duplicates,
        )
        from event_streaming_toy_example_spark.sources.kinesis import (
            wrap_kinesis_envelope,
        )

        n_hours = self.n_warm + self.n_cycles
        events = generate_events(self.spark, n_hours * self.per_hour, seed=self.seed)
        hour = F.pmod(F.xxhash64(F.lit(f"hour:{self.seed}"), "event_uuid"), n_hours)
        events = events.withColumn(
            "created_at",
            F.lit(BASE_TS) + hour * 3600 + F.pmod(F.col("created_at"), F.lit(3600.0)),
        )
        events = inject_duplicates(events, DUP_RATE, seed=self.seed).withColumn(
            "h", F.floor((F.col("created_at") - BASE_TS) / 3600).cast("int")
        )
        feed = wrap_kinesis_envelope(events, keep=["h", "event_uuid"]).toPandas()
        for h, part in feed.groupby("h"):
            d = os.path.join(self.feeds, f"h={h}")
            os.makedirs(d)
            for i in range(FEED_PARTS):
                with open(os.path.join(d, f"part-{i:05d}.txt"), "w") as f:
                    f.writelines(r + "\n" for r in part["record"].iloc[i::FEED_PARTS])
            self.expected[int(h)] = (len(part), part["event_uuid"].nunique())
        self.hours = sorted(self.expected)
        common.log(f"feeds rendered: {len(self.hours)} hours")
        if self.fault == "drop_feed_part":
            # corrupt the first timed hour's feed: its BatchResult must fail
            d = os.path.join(self.feeds, f"h={self.hours[self.n_warm]}")
            os.remove(os.path.join(d, sorted(
                f for f in os.listdir(d) if f.startswith("part-"))[0]))

        self.catalog.prepare(out)
        for h in self.hours[:self.n_warm]:
            self._step(out, "warm", h)
            common.log(f"warm-up cycle {h} done")

    def _step(self, out: common.Outcome, table: str, h: int) -> None:
        """One cycle on hour ``h`` of ``table``, then the catalog queries;
        the window's cycles keep their samples."""
        out.attempted += 1
        try:
            ok, stats = self._cycle(table, h)
        except Exception as e:  # a failed cycle; keep measuring
            out.fail(f"{table} cycle for hour {h} raised {type(e).__name__}: {e}")
        else:
            if not ok:
                out.fail(f"{table} cycle for hour {h} wrong")
            elif table == "timed":
                self.cycles.append(stats)
        self.catalog.run_once(out, record=table == "timed")
        # collect garbage outside any operation's timing: without it the
        # JVM heap, and with it peak RSS, grows by a different amount in
        # every run
        self.spark.sparkContext._jvm.System.gc()

    def _cycle(self, table: str, h: int) -> tuple[bool, dict]:
        from event_streaming_toy_example_spark.plans import pipeline
        from event_streaming_toy_example_spark.plans.pipeline import BatchResult

        staging = os.path.join(self.work, table, "staging")
        processed = os.path.join(self.work, table, "processed")
        t = datetime.fromtimestamp(BASE_TS + h * 3600, tz=timezone.utc)
        where = f"year={t.year} AND month={t.month} AND day={t.day} AND hour={t.hour}"
        clauses = [("year", "=", t.year), ("month", "=", t.month),
                   ("day", "=", t.day), ("hour", "=", t.hour)]
        records = self.spark.read.text(
            os.path.join(self.feeds, f"h={h}")
        ).withColumnRenamed("value", "record")
        n_in, n_out = self.expected[h]

        traced = self.tracer is not None
        if traced:
            self.tracer.begin()
            jobs0 = common.jobs_submitted(self.spark)
        t0 = time.perf_counter()
        pipeline.ingest_batch(records, staging)
        result = pipeline.compact_staging(
            self.spark, staging, processed, where=where, incremental=True
        )
        t1 = time.perf_counter()
        n_read = pipeline.read_processed(self.spark, processed, where=clauses).count()
        t2 = time.perf_counter()
        stats = {"cycle_s": t2 - t0, "reads_s": [t2 - t1], "events": n_in}
        if traced:
            stats["jobs"] = common.jobs_submitted(self.spark) - jobs0
            stats["trace"] = self.tracer.end()
        ok = result == BatchResult(n_in, n_out, n_in - n_out) and n_read == n_out
        # more consumers read the new hour (untraced): more read samples
        for _ in range(READS_PER_CYCLE - 1):
            t1 = time.perf_counter()
            n_read = pipeline.read_processed(self.spark, processed, where=clauses).count()
            stats["reads_s"].append(time.perf_counter() - t1)
            ok = ok and n_read == n_out
        return ok, stats

    def run(self, out: common.Outcome) -> None:
        self.window_open = time.perf_counter()
        for h in self.hours[self.n_warm:]:
            self._step(out, "timed", h)
        self.window_s = time.perf_counter() - self.window_open

    def finish(self, out: common.Outcome) -> None:
        if not self.cycles or not self.catalog.sampled_every_entry():
            out.fail("no correct cycle, or a catalog entry never succeeded")
            return
        cycle = [c["cycle_s"] for c in self.cycles]
        out.end_to_end.update(
            throughput_per_s=(sum(c["events"] for c in self.cycles) / self.window_s, "1/s"),
            latency_p50_s=(common.percentile(cycle, 0.5), "s"),
            latency_p90_s=(common.percentile(cycle, 0.9), "s"),
            latency_geomean_s=(self.catalog.latency_geomean_s(), "s"),
            read_p50_s=(common.median(r for c in self.cycles for r in c["reads_s"]), "s"),
        )
        if self.tracer is not None:
            self._layers(out)
            self.catalog.layers(out)

    def _layers(self, out: common.Outcome) -> None:
        from event_streaming_toy_example_spark.operators import txtable as tx

        traces = [c["trace"] for c in self.cycles]

        def per_cycle(key: str) -> float:
            return common.median(t.get(key, 0) for t in traces)

        kept = sum(t.get("txtable.prune_kept", 0) for t in traces)
        live = sum(t.get("txtable.prune_live", 0) for t in traces)
        processed = os.path.join(self.work, "timed", "processed")
        out.per_layer.update({
            "pipeline.ingest_batch_s": (per_cycle("pipeline.ingest_batch_s"), "s"),
            "pipeline.compact_staging_s": (per_cycle("pipeline.compact_staging_s"), "s"),
            "txtable.tx_replace_where_s": (per_cycle("txtable.tx_replace_where_s"), "s"),
            "txtable.commit_s": (per_cycle("txtable.commit_s"), "s"),
            "txtable.snapshot_s": (per_cycle("txtable.snapshot_s"), "s"),
            "txtable.snapshot_calls": (per_cycle("txtable.snapshot_calls"), "count"),
            "txtable.read_log_calls": (per_cycle("txtable.read_log_calls"), "count"),
            "txtable.prune_files_s": (per_cycle("txtable.prune_files_s"), "s"),
            "txtable.read_table_s": (per_cycle("txtable.read_table_s"), "s"),
            "txtable.files_kept_share": (kept / live if live else 0.0, "ratio"),
            "logstore.reads": (per_cycle("logstore.reads"), "count"),
            "logstore.writes": (per_cycle("logstore.writes"), "count"),
            "spark.jobs_per_cycle": (common.median(c["jobs"] for c in self.cycles), "count"),
            "txtable.log_versions": (tx.table_version(processed) + 1, "count"),
            "txtable.live_files": (len(tx.snapshot(processed).files), "count"),
        })
