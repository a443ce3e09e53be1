#!/usr/bin/env python3
"""A/B and tracing-overhead runs of the benchmark.

Parent against change, two checkouts with identical benchmark files,
alternating which side runs first for each seed::

    python3 perfbench/ab.py --a ../parent --b . --workload hourly_batch \
        --seeds 1-10

Tracing overhead of one checkout (traced minus untraced end-to-end
numbers; a traced run prints its own end-to-end numbers on stderr)::

    python3 perfbench/ab.py --overhead . --workload ingest_live --seeds 1-3

Prints, per end-to-end metric, each side's median and quartiles, the
change of the medians, and how many seeds the second side won.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
RUN_SECONDS = BENCH["run_seconds"]
HIGHER_IS_BETTER = {m["name"] for m in BENCH["end_to_end"] if m["better"] == "higher"}
_TRACED = "perfbench-traced-e2e "


def _run(root: str, workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(RUN_SECONDS), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{root}: seed {seed} failed:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        print(f"warning: {root} seed {seed}: {result['failed']} failed", file=sys.stderr)
    if trace:
        line = [x for x in proc.stderr.splitlines() if x.startswith(_TRACED)][-1]
        return {k: v[0] for k, v in json.loads(line[len(_TRACED):]).items()}
    return {k: v["value"] for k, v in result["metrics"].items()}


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _report(a: list[dict], b: list[dict], label_a: str, label_b: str) -> None:
    for name in a[0]:
        xa, xb = [r[name] for r in a], [r[name] for r in b]
        qa = statistics.quantiles(xa, n=4) if len(xa) > 1 else [xa[0]] * 3
        qb = statistics.quantiles(xb, n=4) if len(xb) > 1 else [xb[0]] * 3
        better = (lambda u, v: v > u) if name in HIGHER_IS_BETTER else (lambda u, v: v < u)
        wins = sum(better(u, v) for u, v in zip(xa, xb))
        print(f"{name:20s} {label_a} {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
              f"{label_b} {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  "
              f"change {qb[1] / qa[1] - 1:+.1%}  {label_b} won {wins}/{len(xa)}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a")
    ap.add_argument("--b")
    ap.add_argument("--overhead")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    runs_a, runs_b = [], []
    for i, seed in enumerate(_seeds(args.seeds)):
        if args.overhead:
            sides = [(args.overhead, 0, runs_a), (args.overhead, 1, runs_b)]
        else:
            sides = [(args.a, 0, runs_a), (args.b, 0, runs_b)]
        for root, trace, sink in sides[::-1] if i % 2 else sides:
            sink.append(_run(root, args.workload, seed, trace))
    if args.overhead:
        _report(runs_a, runs_b, "untraced", "traced")
    else:
        _report(runs_a, runs_b, "A", "B")


if __name__ == "__main__":
    main()
