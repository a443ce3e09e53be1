#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest_live,hourly_batch} \
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout.  It launches one isolated worker
process (``perfbench/worker.py``) with

- ``PYTHONPATH`` set to the checkout, so Spark's Python workers can
  import the package;
- a fresh ``TMPDIR``, JVM ``java.io.tmpdir`` and ``SPARK_LOCAL_DIRS``
  under ``.perfbench_work/`` (``stage_once`` artifacts live under the
  temp dir, so no run inherits another's staging);
- ``SPARK_GRAFT_CPUS`` set to the number of usable cores.

While the worker's timed window is open (it marks the window's start
and end with two files), this launcher samples ``peak_rss_mb``: the
summed RSS of itself and all its descendants, read from ``/proc`` every
``RSS_INTERVAL_S``.  Sampling here keeps that work out of the measured
process.  The worker writes its result file; this launcher adds the
peak to it, prints it as the last line of standard output, removes the
work directory, and makes sure no process the worker started is left
running.  It exits non-zero, printing no result, when the package is
missing or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "event_streaming_toy_example_spark"
WORKLOADS = ("ingest_live", "hourly_batch")
#: the contract allows 180 s per run; stop the worker a little before
WORKER_TIMEOUT_S = 170.0
RSS_INTERVAL_S = 0.05
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", choices=("full", "tiny"), default="full",
        help="tiny: small inputs for the self-test",
    )
    ap.add_argument(
        "--fault", default=None,
        help="corrupt one input on purpose (self-test): drop_file, "
        "drop_feed_part or bad_pin",
    )
    return ap.parse_args(argv)


def _proc_table() -> dict[int, tuple[int, int, str | None]]:
    """``{pid: (ppid, rss_bytes, executable)}`` for every process in /proc."""
    out: dict[int, tuple[int, int, str | None]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        # the executable first: a vfork-style child that execs between
        # the two reads then shows its new, small memory under its
        # parent's executable (and is skipped), never the parent's
        # memory under its new executable
        try:
            exe = os.readlink(f"/proc/{name}/exe")
        except FileNotFoundError:
            continue  # exited between listdir and readlink
        except OSError:
            exe = None  # a zombie has no executable
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited before or while its stat was read
        rest = raw[raw.rfind(b")") + 2:].split()
        out[int(name)] = (int(rest[1]), int(rest[21]) * PAGE_BYTES, exe)
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants.  The JVM starts
    commands (Hadoop's local file system runs ``chmod`` as it writes
    files, for one) through a vfork-style spawn: until the child execs,
    it is a ``java`` process sharing the JVM's address space and
    reporting the JVM's RSS.  Such a child is skipped, so the JVM counts
    once."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        if pid not in table:
            continue
        ppid, rss, exe = table[pid]
        parent_exe = table.get(ppid, (0, 0, None))[2]
        if pid != root and exe and exe == parent_exe and exe.endswith("/java"):
            continue
        total += rss
    return total


def _wait_sampling(
    proc: subprocess.Popen, opened: str, closed: str
) -> tuple[int | None, int]:
    """Wait for the worker (at most ``WORKER_TIMEOUT_S``); return its exit
    code (None on timeout) and the peak tree RSS in bytes sampled between
    the ``opened`` and ``closed`` marks."""
    deadline = time.monotonic() + WORKER_TIMEOUT_S
    peak, sampled = 0, False
    while time.monotonic() < deadline:
        code = proc.poll()
        if code is not None:
            return code, peak
        if os.path.exists(opened) and not (sampled and os.path.exists(closed)):
            peak = max(peak, tree_rss_bytes(os.getpid()))
            sampled = True
        time.sleep(RSS_INTERVAL_S)
    return None, peak


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _reap_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (a JVM or Python
    worker that outlived the driver) and wait until it is gone.  By now
    the worker has stopped its session and written its result, or
    failed, so nothing in the group is waited for: a JVM left to shut
    down by itself would add about 2 s to every run."""
    pgid = proc.pid
    if not _group_alive(pgid):
        return
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10.0
    while time.monotonic() < deadline:
        proc.poll()  # reap the worker itself: a zombie stays in the group
        if not _group_alive(pgid):
            return
        time.sleep(0.05)


def main(argv: list[str]) -> int:
    t0 = time.time()
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    result_path = os.path.join(work, "result.json")
    opened = os.path.join(work, "window.open")
    closed = os.path.join(work, "window.closed")
    env = dict(os.environ)
    # the JVM ignores TMPDIR: point its temp dir into the work dir too,
    # and skip its /tmp/hsperfdata file
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_GRAFT_DRIVER_JAVA_OPTS=" ".join(
            p for p in (os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS"), java_opts) if p
        ),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_PYTHON=sys.executable,
        PERFBENCH_T0=repr(t0),
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", repr(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--work", work, "--result", result_path,
        "--window-open", opened, "--window-closed", closed,
    ]
    if args.fault:
        cmd += ["--fault", args.fault]
    # SIGTERM to this launcher still reaps the worker and the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        # the worker's own stdout (JVM chatter included) goes to stderr:
        # the result must be the last line of this process's stdout
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            code, peak = _wait_sampling(proc, opened, closed)
        finally:
            _reap_group(proc)
            proc.wait()
        if code is None:
            print("perfbench: worker timed out", file=sys.stderr)
            return 1
        if code != 0:
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
        record, e2e = result["record"], result["end_to_end"]
        e2e["peak_rss_mb"] = (peak / 2**20, "MB")
        if args.trace:
            # the traced run's own end-to-end numbers, for ab.py --overhead
            print("perfbench-traced-e2e " + json.dumps(e2e), file=sys.stderr)
        else:
            record["metrics"]["peak_rss_mb"] = {"value": peak / 2**20, "unit": "MB"}
        line = json.dumps(record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
