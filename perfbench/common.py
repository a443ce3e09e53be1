"""Pieces shared by the workloads: statistics, the Spark job counter,
the window markers and the result record."""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from dataclasses import dataclass, field


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..1) of a non-empty
    sample, the same rule as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def weighted_percentile(pairs, q: float) -> float:
    """Percentile of ``(value, weight)`` pairs: the smallest value whose
    cumulative weight reaches ``q`` of the total."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if total <= 0:
        raise ValueError("weighted percentile of an empty sample")
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


def median(values) -> float:
    return percentile(values, 0.5)


def median_or_zero(values) -> float:
    """Median of a layer's samples; 0 when the layer did no work on
    this workload (a bypassed layer)."""
    values = list(values)
    return percentile(values, 0.5) if values else 0.0


def weighted_geomean(pairs) -> float:
    """Geometric mean of ``(value, weight)`` pairs."""
    pairs = list(pairs)
    total = sum(w for _, w in pairs)
    return math.exp(sum(w * math.log(v) for v, w in pairs) / total)


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def jobs_submitted(spark) -> int:
    """Spark jobs submitted so far in this application.  Job ids are
    sequential, so the difference across a span counts its jobs
    exactly, whichever thread (a streaming query's included) ran them."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def row_digest(rows, columns) -> str:
    """Order-insensitive digest of a result: rows are normalised (columns
    sorted by name, floats to 10 significant digits), hashed one by one
    and the hashes summed modulo 2**64."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if isinstance(v, float):
            return "nan" if v != v else format(v, ".10g")
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return repr(v)

    acc = 0
    for row in rows:
        text = "|".join(norm(row[i]) for i in order)
        acc += int.from_bytes(hashlib.sha1(text.encode()).digest()[:8], "big")
    return format(acc % 2**64, "016x")


@dataclass
class Outcome:
    """What one workload run measured."""

    attempted: int = 0
    failed: int = 0
    end_to_end: dict = field(default_factory=dict)  # name -> (value, unit)
    per_layer: dict = field(default_factory=dict)  # name -> (value, unit)
    notes: list = field(default_factory=list)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.notes.append(what)

    def record(self, trace: bool) -> dict:
        metrics = self.per_layer if trace else self.end_to_end
        return {
            "correct": self.failed == 0,
            "attempted": max(int(self.attempted), 1),
            "failed": int(self.failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }


def touch(path: str) -> None:
    with open(path, "w"):
        pass


def write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def since_launch() -> float:
    """Seconds since the launcher (``run.py``) started."""
    return time.time() - float(os.environ["PERFBENCH_T0"])


def log(msg: str) -> None:
    """Progress line stamped with :func:`since_launch` (it reaches the
    launcher's stderr)."""
    print(f"perfbench [{since_launch():7.2f}s] {msg}", flush=True)
