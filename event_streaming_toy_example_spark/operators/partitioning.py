"""Physical layout: repartitioning + partitioned Parquet sink
(SURVEY.md §2.5 R1/R2, §2.6 K3).

The reference hard-codes ``repartition(2, "language_id")`` and writes
Parquet under hand-built date directories with ``partitionBy
("language_id")`` (``toy_glue.py:58-65``). Here the full partition
spec (``year/month/day/hour/language_id``) is declarative and the file
count per partition is left to AQE coalescing — at 100 TB you tune
``spark.sql.files.maxPartitionBytes`` / target file size, not a literal
``2``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from event_streaming_toy_example_spark.sources.ndjson import with_time_partitions

PROCESSED_PARTITION_COLS = ["year", "month", "day", "hour", "language_id"]


def write_processed_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    repartition_keys: list[str] | None = None,
    num_files_per_partition: int | None = None,
    dynamic_overwrite: bool = False,
    max_records_per_file: int | None = None,
    sort_within_partitions: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """R1+R2+K3: event-time partition columns -> optional keyed
    repartition (only if the caller insists — AQE normally does better)
    -> Hive-partitioned Parquet.

    ``dynamic_overwrite=True`` switches overwrite to partition-scoped:
    only partitions present in ``df`` are replaced, everything else on
    disk survives. This is the 100 TB incremental-compaction mode — an
    hourly job rewrites the hours it touched, idempotently (re-running
    the same batch replaces the same partitions with identical
    content), instead of truncating a petabyte store.

    File-shape knobs for the reference's 100 MB–1 GB-per-file target
    (``README.md:296-297``):
    - ``max_records_per_file`` caps rows per output file so one fat
      task can't emit a multi-GB file (rows ≈ target_bytes /
      avg_row_bytes);
    - ``sort_within_partitions`` clusters rows inside each task before
      writing, tightening parquet row-group min/max stats so readers
      filtering on those columns skip whole row groups (poor man's
      Z-order; no extra shuffle — sort is task-local). The sort key is
      prefixed with the Hive partition columns: the file writer
      requires rows grouped by partition values and would otherwise
      re-sort on them alone, discarding the clustering;
    - ``compression`` overrides the codec per sink; the session default
      is zstd (``session.py`` — measured 32-40% smaller than snappy at
      equal write time on this workload, ``docs/PLANS.md``).
    """
    out = with_time_partitions(df)
    if num_files_per_partition and repartition_keys:
        out = out.repartition(num_files_per_partition, *repartition_keys)
    if sort_within_partitions:
        out = out.sortWithinPartitions(
            *PROCESSED_PARTITION_COLS, *sort_within_partitions
        )
    writer = out.write.mode(mode)
    if dynamic_overwrite and mode == "overwrite":
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if compression:
        writer = writer.option("compression", compression)
    writer.partitionBy(*PROCESSED_PARTITION_COLS).parquet(path)
