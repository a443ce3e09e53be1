"""``ingest_live``: the streaming ingest path under an open-loop feed.

One generator (the main thread) renames a file of Kinesis-enveloped
events into a landing directory every ``TICK_S`` seconds at a fixed
event rate, whether or not the stream keeps up.  Every event in a file
is stamped with ``created_at`` = the file's due time.  The files feed
``start_ingest_stream`` (file source, default trigger, ``1 hour``
watermark): decode, dedup within the watermark, enrich, partitioned
NDJSON staging.

Latency of a file = commit time of the micro-batch that read it (the
mtime of ``commits/<batch>`` in the checkpoint; the batch is found
through the file-source log under ``sources/0/`` and the offset log)
minus its due time; every
event in the file shares it.  Its read lag (``read_p50_s``) is the
batch's start (the mtime of ``offsets/<batch>``) minus the due time.  Correctness: the staged distinct count
equals the events sent, and no event is staged twice.
"""

from __future__ import annotations

import base64
import json
import math
import os
import random
import time

from perfbench import common

TICK_S = 0.06
RATE = {"full": 4000, "tiny": 400}  # events per second
WARM_S = 10.0
DUP_RATE = 0.05
WATERMARK = "1 hour"
_TS_SLOT = '"created_at":0.0'
_ARRIVAL_SLOT = '"approximateArrivalTimestamp":0.0'

PER_LAYER = [
    ("ingest.trigger_ms", "ms"),
    ("ingest.add_batch_ms", "ms"),
    ("ingest.trigger_tax_ms", "ms"),
    ("ingest.rows_per_batch", "count"),
    ("ingest.busy_share", "ratio"),
    ("state.dedup_rows", "count"),
    ("state.dedup_mem_mb", "MB"),
    ("state.commit_ms", "ms"),
    ("sink.files_per_batch", "count"),
    ("generator.late_max_s", "s"),
]
_TAX = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


def _mime_base64(data: bytes) -> str:
    """Base64 in 76-character lines joined by an escaped CRLF: the JSON
    form of Spark's ``base64`` inside ``wrap_kinesis_envelope``."""
    text = base64.b64encode(data).decode()
    return "\\r\\n".join(text[i:i + 76] for i in range(0, len(text), 76))


def _split_record(record: str) -> tuple[str, str, str]:
    """Envelope JSON -> (text before the base64 payload, decoded
    payload, text after it), so a file can be stamped at its due time
    without re-serialising the envelope."""
    start = record.index('"data":"') + len('"data":"')
    end = record.index('"', start)
    payload = base64.b64decode(json.loads(f'"{record[start:end]}"')).decode()
    if payload.count(_TS_SLOT) != 1 or record.count(_ARRIVAL_SLOT) != 1:
        raise ValueError("unexpected envelope layout")
    return record[:start], payload, record[end:]


class Workload:
    def __init__(self, spark, args, tracer) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.fault = args.fault
        self.tracer = tracer
        self.rate = RATE[args.scale]
        self.dirs = {
            k: os.path.join(args.work, k)
            for k in ("landing", "pending", "staging", "ckpt")
        }
        for k in ("landing", "pending"):
            os.makedirs(self.dirs[k])
        self.files: list[list[tuple[str, str, str, str]]] = []
        self.due: dict[int, float] = {}
        self.late: dict[int, float] = {}
        self.dropped: set[int] = set()
        self.progress = None
        self.query = None

    # ------------------------------------------------------------ inputs
    def setup(self, out: common.Outcome) -> None:
        from pyspark.sql import functions as F

        from event_streaming_toy_example_spark.sources.generator import (
            generate_events,
            inject_duplicates,
        )
        from event_streaming_toy_example_spark.sources.kinesis import (
            wrap_kinesis_envelope,
        )
        from event_streaming_toy_example_spark.streaming.ingest import (
            start_ingest_stream,
        )

        per_file = round(self.rate * TICK_S)
        self.n_warm = math.ceil(WARM_S / TICK_S)
        n_files = self.n_warm + math.ceil(self.seconds / TICK_S)
        events = generate_events(self.spark, n_files * per_file, seed=self.seed)
        events = inject_duplicates(
            events.withColumn("created_at", F.lit(0.0)), DUP_RATE, seed=self.seed
        )
        pdf = wrap_kinesis_envelope(events, keep=["event_uuid"]).toPandas()
        records = sorted(zip(pdf["event_uuid"], pdf["record"]))
        random.Random(self.seed).shuffle(records)
        size = math.ceil(len(records) / n_files)
        self.files = [
            [(uuid, *_split_record(rec)) for uuid, rec in records[i:i + size]]
            for i in range(0, len(records), size)
        ]
        common.log(f"rendered {len(records)} records into {len(self.files)} files")
        if self.fault == "drop_file":
            self.dropped.add(self.n_warm + (len(self.files) - self.n_warm) // 2)

        stream = self.spark.readStream.text(self.dirs["landing"])
        self.query = start_ingest_stream(
            stream.withColumnRenamed("value", "record"),
            self.dirs["staging"],
            self.dirs["ckpt"],
            watermark=WATERMARK,
            trigger_seconds=None,
        )
        if self.tracer is not None:
            from perfbench.tracing import ProgressLog, progress_listener

            self.progress = ProgressLog()
            self.progress.query_id = str(self.query.id)
            self.spark.streams.addListener(progress_listener(self.progress))
        common.log("stream started")
        # warm stream: the same query, fed for WARM_S at the same rate,
        # so query start and the first batches stay out of the window
        self._feed(range(self.n_warm), time.time())
        self.query.processAllAvailable()

    def _render(self, k: int, due: float) -> str:
        ts = f"{due:.6f}"
        stamp, arrival = f'"created_at":{ts}', f'"approximateArrivalTimestamp":{ts}'
        return "".join(
            pre
            + _mime_base64(payload.replace(_TS_SLOT, stamp).encode())
            + post.replace(_ARRIVAL_SLOT, arrival)
            + "\n"
            for _, pre, payload, post in self.files[k]
        )

    def _feed(self, ks, t_start: float) -> None:
        """Open loop: file ``ks[i]`` is due at ``t_start + i * TICK_S``."""
        for i, k in enumerate(ks):
            due = t_start + i * TICK_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            body = self._render(k, due)
            tmp = os.path.join(self.dirs["pending"], f"f{k:06d}.txt")
            with open(tmp, "w") as f:
                f.write(body)
            if k in self.dropped:
                os.remove(tmp)
            else:
                os.rename(tmp, os.path.join(self.dirs["landing"], f"f{k:06d}.txt"))
            self.due[k] = due
            self.late[k] = time.time() - due

    # ------------------------------------------------------------ window
    def run(self, out: common.Outcome) -> None:
        self.window_open = time.time()
        if self.progress is not None:
            self.progress.since = self.window_open
        self._feed(range(self.n_warm, len(self.files)), self.window_open)
        self.query.processAllAvailable()
        self.window_close = time.time()
        self.query.stop()

    # ------------------------------------------------------------ checks
    def finish(self, out: common.Outcome) -> None:
        from pyspark.sql import functions as F

        sent = {u for f in self.files for u, *_ in f}
        staged = (
            self.spark.read.schema("event_uuid string")
            .json(self.dirs["staging"])
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("event_uuid").alias("d"))
            .first()
        )
        out.attempted = len(sent)
        if staged["d"] != len(sent):
            out.fail(f"{len(sent) - staged['d']} events missing from staging",
                     abs(len(sent) - staged["d"]))
        if staged["n"] != staged["d"]:
            out.fail(f"{staged['n'] - staged['d']} events staged twice",
                     staged["n"] - staged["d"])

        timed = range(self.n_warm, len(self.files))
        late_max = max(self.late[k] for k in timed)
        if late_max > TICK_S:
            out.fail(f"generator ran {late_max:.3f}s late; run invalid")

        batch_of = self._file_batches()
        # a batch's offsets are logged when it starts reading and its
        # commit marker when its output is committed
        started_at, commit_at = {}, {}
        for b in set(batch_of.values()):
            started_at[b] = os.stat(
                os.path.join(self.dirs["ckpt"], "offsets", str(b))).st_mtime
            commit_at[b] = os.stat(
                os.path.join(self.dirs["ckpt"], "commits", str(b))).st_mtime
        # an event's latency is its file's; weight each file by the
        # events it is the first to deliver
        seen: set[str] = set()
        samples, reads, last_commit, staged_window = [], [], self.window_open, 0
        for k in range(len(self.files)):
            fresh = {u for u, *_ in self.files[k]} - seen
            seen |= fresh
            if k < self.n_warm or k in self.dropped:
                continue
            name = f"f{k:06d}.txt"
            if name not in batch_of:
                out.fail(f"file {name} never read by the stream")
                continue
            t = commit_at[batch_of[name]]
            samples.append((t - self.due[k], len(fresh)))
            reads.append((started_at[batch_of[name]] - self.due[k], len(fresh)))
            last_commit = max(last_commit, t)
            staged_window += len(fresh)
        if not samples:
            out.fail("no file of the window was staged")
            return
        out.end_to_end.update(
            throughput_per_s=(staged_window / (last_commit - self.window_open), "1/s"),
            latency_p50_s=(common.weighted_percentile(samples, 0.5), "s"),
            latency_p90_s=(common.weighted_percentile(samples, 0.9), "s"),
            latency_geomean_s=(common.weighted_geomean(samples), "s"),
            read_p50_s=(common.weighted_percentile(reads, 0.5), "s"),
        )
        if self.progress is not None:
            self._layers(out, late_max)

    def _file_batches(self) -> dict[str, int]:
        """File name -> the micro-batch that read it.  The file-source log
        (``sources/0/``) tags each file with the source's log offset; the
        batch that read it is the first whose ``offsets/<batch>`` entry
        reached that offset (no-data batches advance the batch id, not
        the source offset)."""
        ckpt = self.dirs["ckpt"]
        first_batch: dict[int, int] = {}
        for b in sorted(int(n) for n in os.listdir(os.path.join(ckpt, "offsets"))
                        if n.isdigit()):
            with open(os.path.join(ckpt, "offsets", str(b))) as f:
                offset = json.loads(f.read().splitlines()[2])["logOffset"]
            first_batch.setdefault(offset, b)
        log_dir = os.path.join(ckpt, "sources", "0")
        out: dict[str, int] = {}
        for name in os.listdir(log_dir):
            if name.startswith("."):
                continue
            with open(os.path.join(log_dir, name)) as f:
                for line in f.read().splitlines()[1:]:
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = first_batch[entry["batchId"]]
        return out

    def _sink_files(self) -> dict[int, int]:
        """Micro-batch id -> files the staging sink wrote, from the sink's
        ``_spark_metadata`` log (compacted every few batches, so counts
        come from the running total)."""
        log_dir = os.path.join(self.dirs["staging"], "_spark_metadata")
        entries: dict[int, tuple[int, bool]] = {}
        for name in os.listdir(log_dir):
            if name.startswith("."):
                continue
            batch = int(name.split(".")[0])
            with open(os.path.join(log_dir, name)) as f:
                n = len(f.read().splitlines()) - 1
            entries[batch] = (n, name.endswith(".compact"))
        total, out = 0, {}
        for b in sorted(entries):
            n, compact = entries[b]
            new_total = n if compact else total + n
            out[b] = new_total - total
            total = new_total
        return out

    def _layers(self, out: common.Outcome, late_max: float) -> None:
        batches = self.progress.batches
        busy = [b for b in batches if b["rows"] > 0]
        sink = self._sink_files()
        d = [b["durations"] for b in busy]
        window = self.window_close - self.window_open
        last = batches[-1] if batches else None
        out.per_layer.update({
            "ingest.trigger_ms": (common.median_or_zero(x.get("triggerExecution", 0) for x in d), "ms"),
            "ingest.add_batch_ms": (common.median_or_zero(x.get("addBatch", 0) for x in d), "ms"),
            "ingest.trigger_tax_ms": (common.median_or_zero(sum(x.get(k, 0) for k in _TAX) for x in d), "ms"),
            "ingest.rows_per_batch": (common.median_or_zero(b["rows"] for b in busy), "count"),
            "ingest.busy_share": (sum(b["durations"].get("triggerExecution", 0) for b in batches) / 1000 / window, "ratio"),
            "state.dedup_rows": (last["state_rows"] if last else 0, "count"),
            "state.dedup_mem_mb": ((last["state_bytes"] if last else 0) / 2**20, "MB"),
            "state.commit_ms": (common.median_or_zero(b["state_commit_ms"] for b in busy), "ms"),
            "sink.files_per_batch": (common.median_or_zero(sink.get(b["batch"], 0) for b in busy), "count"),
            "generator.late_max_s": (late_max, "s"),
        })
