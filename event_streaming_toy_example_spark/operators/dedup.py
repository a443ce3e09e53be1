"""Exact deduplication (SURVEY.md §2.3 A1, §2.4 D1/D2).

The reference's signature operation: a per-record Redis set-membership
gate in the ingest path (``toy_lambda_function.py:48-52``) and a
``dropDuplicates`` in the batch path (``toy_glue.py:52-53``). Here both
are Spark-native:

- batch: ``dropDuplicates`` (non-deterministic survivor) or
  ``dedup_keep_first`` (deterministic survivor via min/struct-min —
  required for oracle-checked results);
- streaming: ``dropDuplicatesWithinWatermark`` in
  ``streaming/ingest.py`` (RocksDB-backed state instead of an external
  Redis set; the reference's set grows forever — SURVEY.md §8.12 — a
  watermark bounds state at scale).

Scale notes: exact dedup on a key is one hash-shuffle; AQE handles
skew. ``count_duplicate_keys`` is a partial-agg-friendly double
aggregation (map-side combine applies before the shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def count_duplicate_keys(df: DataFrame, key: str = "event_uuid") -> int:
    """A1: number of keys appearing more than once
    (reference ``toy_glue.py:47-50``:
    ``groupBy(key).count().where("count > 1").count()``)."""
    return (
        df.groupBy(key).agg(F.count(F.lit(1)).alias("count")).where("count > 1").count()
    )


def dedup_exact(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """D2: exact dedup, arbitrary survivor — Spark's ``dropDuplicates``.
    Matches the reference's batch dedup (which passes a bare string;
    we pass a list — SURVEY.md §8.3). Fine when duplicate rows are
    verbatim copies (the reference's injection model)."""
    return df.dropDuplicates(keys or ["event_uuid"])


def incremental_dedup(
    new_df: DataFrame,
    prior_fingerprints: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Snapshot-over-snapshot dedup: from a new snapshot (already
    carrying a ``fp_col`` content fingerprint), keep one deterministic
    survivor per fingerprint (min ``id_col``), then drop every doc
    whose fingerprint already exists in the prior corpus.

    The backbone of an incremental training-data pipeline: each crawl
    snapshot dedupes against everything already ingested WITHOUT
    rescanning or rewriting the old corpus — the prior side is just its
    fingerprint column.

    Plan shape at 100 TB: intra-snapshot survivor selection is one
    hash aggregation on ``fp_col``; the cross-snapshot subtraction is a
    ``left_anti`` join, also keyed on ``fp_col``. With both sides
    bucketed on the fingerprint at write time (``operators/bucketing``)
    the anti-join runs shuffle-free; otherwise it is the one
    unavoidable exchange, and AQE handles per-fingerprint skew (a
    viral duplicate is exactly a hot key).
    """
    survivors = (
        new_df.groupBy(fp_col)
        .agg(F.min(id_col).alias(id_col))
        .join(prior_fingerprints.select(fp_col).distinct(), [fp_col], "left_anti")
    )
    return survivors.select(id_col, fp_col)


def dedup_keep_first(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """Deterministic exact dedup: keep the row with the smallest
    ``order_col`` per ``key``.

    Implemented as ``min_by`` over a single hash aggregation (one
    shuffle, partial-aggregatable) rather than a window + filter (which
    would sort inside every partition). Survivor choice is total as
    long as ``order_col`` is unique per key.
    """
    others = [c for c in df.columns if c != key]
    agg = [F.min_by(F.struct(*others), F.col(order_col)).alias("_row")]
    out = df.groupBy(key).agg(*agg)
    return out.select(key, *[F.col(f"_row.{c}").alias(c) for c in others]).select(
        *df.columns
    )
