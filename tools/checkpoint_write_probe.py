#!/usr/bin/env python
"""Probe: what does one atomic streaming-checkpoint write cost?

Times ``CheckpointFileManager.createAtomic`` + write + close of a small
file, N times, under (a) the manager the engine's session resolves and
(b) Spark's default resolution (the conf key unset, which picks the
FileContext-based manager on ``file:``).  Also reports the process and
thread creations per write, from the ``processes`` counter of
``/proc/stat`` (machine-wide, so other load on the box adds noise).

Without libhadoop every ``setPermission`` on the local file system
forks a ``chmod``; on a box that has it, both managers should cost
about the same, and this probe shows whether the session's choice
still pays there.

Run:  python tools/checkpoint_write_probe.py [n_writes]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from event_streaming_toy_example_spark.session import get_spark  # noqa: E402

_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _forks() -> int:
    with open("/proc/stat") as f:
        return next(int(ln.split()[1]) for ln in f if ln.startswith("processes "))


def _probe(jvm, conf, root: str, n: int) -> dict:
    path = jvm.org.apache.hadoop.fs.Path(root)
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path, conf
    )
    mgr.mkdirs(path)
    payload = bytearray(b"v1\n" + b"{}" * 64)
    forks0, t0 = _forks(), time.perf_counter()
    for i in range(n):
        out = mgr.createAtomic(jvm.org.apache.hadoop.fs.Path(f"{root}/{i}"), False)
        out.write(payload)
        out.close()
    dt, forks = time.perf_counter() - t0, _forks() - forks0
    return {
        "manager": mgr.getClass().getSimpleName(),
        "ms_per_write": round(dt * 1000 / n, 2),
        "forks_per_write": round(forks / n, 1),
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    spark = get_spark()
    jvm = spark._jvm
    session_conf = spark._jsparkSession.sessionState().newHadoopConf()
    default_conf = spark._jsparkSession.sessionState().newHadoopConf()
    default_conf.unset(_KEY)
    root = tempfile.mkdtemp(prefix="ckpt_probe_")
    try:
        out = {"n_writes": n}
        for name, conf in (("session", session_conf), ("spark_default", default_conf)):
            _probe(jvm, conf, f"{root}/warm_{name}", 3)  # class loading, first fs use
            out[name] = _probe(jvm, conf, f"{root}/{name}", n)
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
