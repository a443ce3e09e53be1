"""One benchmark run, inside the environment ``perfbench/run.py`` sets up.

Order of a run: session start, the workload's ``setup`` (inputs,
prestage, warm-up), the timed window (``run``), then the output checks
(``finish``).  ``setup_s`` spans launcher start to window open.
The worker creates the ``--window-open`` and ``--window-closed`` files
as the window opens and closes; the launcher samples ``peak_rss_mb``
between the two, so no sampler shares this process.  A failed operation
in warm-up or prestage is counted like one in the window; a setup that
cannot complete ends the run with a non-zero exit and no result.
"""

from __future__ import annotations

import argparse
import importlib
import os
import time
import traceback

from perfbench import common

WORKLOADS = ("ingest_live", "hourly_batch")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric of every workload, in a fixed order."""
    out = []
    for w in WORKLOADS:
        out += importlib.import_module(f"perfbench.{w}").PER_LAYER
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scale", default="full")
    ap.add_argument("--fault", default=None)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--window-open", required=True)
    ap.add_argument("--window-closed", required=True)
    args = ap.parse_args()
    t0 = float(os.environ["PERFBENCH_T0"])

    tracer = None
    if args.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer()
        tracer.install()
    from event_streaming_toy_example_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    common.log("session started")
    module = importlib.import_module(f"perfbench.{args.workload}")
    out = common.Outcome()
    try:
        wl = module.Workload(spark, args, tracer)
        wl.setup(out)
        setup_s = time.time() - t0
        common.touch(args.window_open)
        common.log("window open")
        wl.run(out)
        common.touch(args.window_closed)
        common.log("window closed")
        wl.finish(out)
        common.log("outputs checked")
    finally:
        spark.stop()
        common.log("session stopped")
    out.end_to_end["setup_s"] = (setup_s, "s")
    if out.notes:
        print("perfbench failures:", *out.notes, sep="\n  ", flush=True)
    if tracer is not None:
        # a bypassed layer did no work on this workload: it reads 0
        layers = {n: (0.0, u) for n, u in per_layer_names()}
        layers.update(out.per_layer)
        out.per_layer = layers
    # the launcher adds peak_rss_mb to the end-to-end metrics
    common.write_json(args.result, {"record": out.record(bool(args.trace)),
                                    "end_to_end": out.end_to_end})


if __name__ == "__main__":
    try:
        main()
    except Exception:
        traceback.print_exc()
        raise SystemExit(1)
