"""Small-file compaction on the transactional table (``tx_compact``):
bin-packing, clustering preservation, selective
(no-rewrite-amplification) mode, and content invariance."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.operators import txtable as tx
from event_streaming_toy_example_spark.plans.queries_ext18 import (
    _compaction_invariance,
)


def _fragmented_table(spark, path: str, n_files: int = 32, rows: int = 4000):
    tx.tx_append(
        spark.range(rows)
        .select(
            F.col("id"),
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 3).alias("v"),
        )
        .repartition(n_files),
        path,
    )


def _live_files(path: str) -> list[tuple[str, int]]:
    """(table-relative name, size) of every live data file."""
    return [
        (f, os.path.getsize(os.path.join(path, f)))
        for f in tx.snapshot(path).files
    ]


def test_full_compaction_packs_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path)
    sum_before = tx.read_table(spark, path).agg(F.sum("v")).collect()[0][0]
    assert len(_live_files(path)) >= 30

    assert tx.tx_compact(spark, path, target_bytes=1 << 30) is not None
    assert len(_live_files(path)) == 1  # everything fits one target file
    after = tx.read_table(spark, path)
    assert after.count() == 4000
    assert after.agg(F.sum("v")).collect()[0][0] == sum_before


def test_target_size_controls_output_count(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path)
    total = sum(s for _, s in _live_files(path))
    tx.tx_compact(spark, path, target_bytes=total // 4 + 1)
    # ceil(total/target) = 4 packed files
    assert len(_live_files(path)) == 4


def test_order_col_preserves_clustering(spark, tmp_path):
    """Compacting a sorted/Z-ordered table with ``order_col`` must keep
    per-file key ranges disjoint so footer-stat pruning stays
    selective (a round-robin repack would destroy it)."""
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path, n_files=32, rows=8000)
    total = sum(s for _, s in _live_files(path))
    tx.tx_compact(spark, path, target_bytes=total // 4 + 1, order_col="id")
    ranges = []
    for f, _ in _live_files(path):
        meta = pq.ParquetFile(os.path.join(path, f)).metadata
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            for ci in range(meta.row_group(rg).num_columns):
                c = meta.row_group(rg).column(ci)
                if c.path_in_schema == "id" and c.statistics is not None:
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file key ranges {ranges}"


def test_selective_mode_leaves_big_files_alone(spark, tmp_path):
    """Only files below the threshold are rewritten — the property that
    makes continuous compaction affordable at scale."""
    path = str(tmp_path / "tbl")
    # one big file + many small ones
    tx.tx_append(
        spark.range(200_000).select(
            F.col("id"), (F.col("id") * 3).alias("v"),
            (F.col("id") % 7).alias("k"),
        ).coalesce(1),
        path,
    )
    big = [f for f, _ in _live_files(path)]
    assert len(big) == 1
    tx.tx_append(
        spark.range(200_000, 204_000).select(
            F.col("id"), (F.col("id") * 3).alias("v"),
            (F.col("id") % 7).alias("k"),
        ).repartition(16),
        path,
    )
    files = _live_files(path)
    assert len(files) == 17
    big_size = max(s for _, s in files)

    tx.tx_compact(
        spark, path, target_bytes=1 << 30, small_file_bytes=big_size
    )
    after = [f for f, _ in _live_files(path)]
    assert len(after) == 2  # untouched big file + one packed file
    # the big file survived verbatim (no rewrite amplification)
    assert big[0] in after
    # only the small files' rows were rewritten
    (packed,) = [f for f in after if f != big[0]]
    assert pq.ParquetFile(os.path.join(path, packed)).metadata.num_rows == 4000
    assert tx.read_table(spark, path).count() == 204_000


def test_noop_when_nothing_to_pack(spark, tmp_path):
    path = str(tmp_path / "tbl")
    tx.tx_append(spark.range(100).coalesce(1), path)
    files = _live_files(path)
    assert tx.tx_compact(spark, path, target_bytes=1 << 30) is None
    assert tx.table_version(path) == 1  # nothing committed
    assert _live_files(path) == files  # untouched


def test_invariance_relation_shape(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path)
    tx.tx_compact(spark, path, target_bytes=1 << 30)
    # the pre-compaction version stays readable (snapshot isolation)
    inv = _compaction_invariance(
        tx.read_table(spark, path, version=1).select("k", "v"),
        tx.read_table(spark, path).select("k", "v"),
        key_col="k",
        value_col="v",
    )
    rows = inv.collect()
    assert len(rows) == 7
    assert all(r["invariant_ok"] == 1 for r in rows)


def test_measured_scan_cost_drops(spark, tmp_path):
    """The point of compaction: same rows, fewer task-starting file
    splits.  Measure the scan's partition count before/after."""
    path = str(tmp_path / "tbl")
    _fragmented_table(spark, path, n_files=64, rows=20_000)
    n_splits_before = tx.read_table(spark, path).rdd.getNumPartitions()
    tx.tx_compact(spark, path, target_bytes=1 << 30)
    n_splits_after = tx.read_table(spark, path).rdd.getNumPartitions()
    assert n_splits_after < n_splits_before
    assert tx.read_table(spark, path).count() == 20_000
