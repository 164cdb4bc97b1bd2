"""Batch sinks: the storage layout that replaces the reference's hypertable
chunking + composite indexes (sql/01_schema.sql:22-75, SURVEY.md §4).

The driver's test tables are read-only unpartitioned parquet, so layout
cannot be demonstrated on them in place; this module is the write side any
deployment of the engine uses, and tests/test_sinks.py proves the two
benefits on a real write→read cycle:

  1. date partitioning → partition pruning (time predicates never touch
     other days' files — the hypertable chunk-exclusion equivalent);
  2. within-partition sort on the entity key → parquet row-group min/max
     skipping for per-vehicle scans (the (vehicle_id, time DESC) composite
     index equivalent).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COL = "event_date"


def export_csv(df: DataFrame, path: str, single_file: bool = True) -> str:
    """CSV export sink (SURVEY §2.1 S10) — the reference dumps query results
    and whole tables to ``results/*.csv`` with a header row
    (scripts/export_results.py:31-75, scripts/run_full_pipeline_local.py:218-245).

    ``single_file=True`` matches the reference's shape (one headered file per
    result): the frame is coalesced to one task, written by Spark's CSV
    writer, and the part file is moved to ``path``. This is for
    dashboard/report-sized results — the reference's exports are all metric
    outputs or local-mode tables. For genuinely large tables pass
    ``single_file=False`` and ``path`` becomes a directory of headered part
    files, one per partition, written fully distributed (no driver
    bottleneck, no coalesce).

    Returns the written path.
    """
    writer = (
        (df.coalesce(1) if single_file else df)
        .write.option("header", True)
        # full microsecond precision — the default .SSS truncates micros and
        # a re-import would silently disagree with the source frame
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .mode("overwrite")
    )
    if not single_file:
        writer.csv(path)
        return path
    tmp = tempfile.mkdtemp(prefix="export_csv_")
    try:
        out_dir = os.path.join(tmp, "out")
        writer.csv(out_dir)
        part = glob.glob(os.path.join(out_dir, "part-*.csv"))[0]
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def export_metric_results(spark: SparkSession, sf_dir: str, out_dir: str) -> list[str]:
    """Mirror of the reference's ``scripts/export_results.py`` driver: run
    each headline metric query and dump it to ``<out_dir>/<name>.csv`` (one
    headered file per query, same filenames modulo the engine's query
    names). Returns the list of files written."""
    from .operators import metrics as _metrics

    written = []
    for name, fn in _metrics.QUERIES.items():
        path = os.path.join(out_dir, f"{name}.csv")
        export_csv(fn(spark, sf_dir), path)
        written.append(path)
    return written


def write_time_partitioned(
    df: DataFrame,
    path: str,
    time_col: str = "ts",
    sort_cols: tuple[str, ...] = ("user_id",),
    mode: str = "overwrite",
) -> None:
    """Write `df` date-partitioned on `time_col`, sorted by `sort_cols`
    within each partition.

    repartition on the partition column keeps one task per output date
    (no small-file explosion: without it every task writes every date it
    sees). At very high volume add a bucket column to the repartition to
    spread one hot day over N tasks."""
    (
        df.withColumn(PARTITION_COL, F.to_date(F.col(time_col)))
        .repartition(F.col(PARTITION_COL))
        .sortWithinPartitions(PARTITION_COL, *sort_cols)
        .write.partitionBy(PARTITION_COL)
        .mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    key: str,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Write `df` as a bucketed+sorted table on `key` — the co-located-join
    layout for fact tables that are repeatedly joined on the same key.

    Two tables bucketed on their join key with the SAME bucket count
    sort-merge-join with ZERO exchanges: each task reads bucket i of both
    sides (proven in tests/test_sinks.py via plans.audit). At 100 TB this
    is the difference between re-shuffling the fact table on every query
    and shuffling it once at write time; bucket count is chosen so one
    bucket ≈ one task's memory (e.g. 4096 buckets for a 10 TB table).
    """
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .mode(mode)
        .format("parquet")
        .saveAsTable(table)
    )


def append_stream_exactly_once(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    time_col: str = "ts",
    sort_cols: tuple[str, ...] = ("user_id",),
) -> None:
    """Exactly-once foreachBatch sink: each micro-batch lands in its own
    `batch_id=N` partition via DYNAMIC partition overwrite, so a replayed
    batch (crash after data write, before checkpoint commit) overwrites
    its own output instead of appending a duplicate — idempotence comes
    from the layout, not from a fragile commit-marker protocol.

    This is the "checkpointing gives exactly-once to idempotent sinks"
    upgrade over the reference's at-least-once consumer (SURVEY §2.9 R5).
    Readers scan `path` and see `batch_id` as an ordinary partition
    column (filter it out or drop it); date partitioning nests inside so
    time-predicate pruning still works. At high volume, compaction
    (`maintenance.compact_partitions`) folds old batch dirs into the
    steady-state date layout.
    """
    (
        batch_df.withColumn(PARTITION_COL, F.to_date(F.col(time_col)))
        .withColumn("batch_id", F.lit(int(batch_id)))
        .repartition(F.col(PARTITION_COL))
        .sortWithinPartitions(PARTITION_COL, *sort_cols)
        .write.partitionBy("batch_id", PARTITION_COL)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
