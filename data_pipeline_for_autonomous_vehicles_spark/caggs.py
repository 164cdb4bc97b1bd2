"""Continuous-aggregate maintenance: materialized rollups with incremental
refresh and a merged (materialized + raw tail) serve path.

TimescaleDB pairs every hypertable with continuous aggregates that are
refreshed incrementally as data lands (the reference's schema is built on
hypertables — sql/01_schema.sql:22-69 — and its dashboard re-aggregates raw
rows on every 5 s refresh, src/visualization/dashboard.py:60-68). At 100 TB
re-scanning history per refresh is not an option; the warehouse answer is:

  1. **Materialize** the hourly rollup, date-partitioned, with all measures
     kept re-aggregatable (counts + scaled-int64 sums — never averages);
  2. **Refresh incrementally**: when late data lands for day D, recompute
     only D's partition. Dynamic partition overwrite rewrites exactly the
     touched dates; every other day's files are untouched;
  3. **Serve** by unioning the materialized history (partition-pruned scan
     of tiny rollup files) with an on-the-fly aggregate of the raw tail
     (today's not-yet-materialized slice) — the classic lambda serve path,
     here as one DataFrame so Catalyst prunes both sides.

Everything is a plain DataFrame program: no driver-side loops, no state —
the refresh watermark is just the max materialized day, read from the
rollup's partition column (file listing, not data scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLLUP_SCALE = 100  # value sums are stored as int64 of value*100


def hourly_rollup_frame(events: DataFrame) -> DataFrame:
    """The rollup definition: per (user, hour) counts + scaled-int sums.
    All measures re-aggregate losslessly to coarser grains (day/fleet)."""
    return events.groupBy(
        F.to_date("ts").alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("bucket_h"),
        "user_id",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.floor(F.col("value") * F.lit(float(ROLLUP_SCALE)) + F.lit(0.5)).cast(
                "long"
            )
        ).alias("v_scaled"),
    )


def refresh_rollup(
    spark: SparkSession,
    events: DataFrame,
    rollup_path: str,
    days: list[str] | None = None,
) -> None:
    """(Re)materialize the hourly rollup at `rollup_path`.

    With `days=None` this is the initial full build. With an explicit list
    (late-arriving data for those dates) only the named partitions are
    recomputed and replaced — dynamic partition overwrite leaves every
    other date's files untouched, so refresh cost is O(changed days), not
    O(history)."""
    src = events
    if days is not None:
        src = events.filter(F.to_date("ts").isin(days))
    (
        hourly_rollup_frame(src)
        .repartition(F.col("day"))
        .sortWithinPartitions("bucket_h", "user_id")
        .write.partitionBy("day")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(rollup_path)
    )


def serve_hourly(
    spark: SparkSession,
    events: DataFrame,
    rollup_path: str,
    raw_tail_from: str,
) -> DataFrame:
    """Hourly per-user series = materialized history (< raw_tail_from) ∪
    on-the-fly aggregation of the raw tail (>= raw_tail_from, the slice not
    yet materialized). Returns (user_id, bucket_h, n_events, sum_value).

    The materialized side is a partition-pruned scan of pre-aggregated rows
    (tiny vs raw); the raw side only touches the tail's date partitions —
    at scale both sides prune to a sliver of total bytes."""
    cut = F.lit(raw_tail_from).cast("date")
    hist = (
        spark.read.parquet(rollup_path)
        .filter(F.col("day") < cut)
        .select("user_id", "bucket_h", "n_events", "v_scaled")
    )
    tail = (
        hourly_rollup_frame(events.filter(F.to_date("ts") >= cut))
        .select("user_id", "bucket_h", "n_events", "v_scaled")
    )
    return (
        hist.unionByName(tail)
        # a (user, hour) never spans the cut, but re-aggregating keeps the
        # serve contract independent of that detail (and of multi-file
        # rollup layouts)
        .groupBy("user_id", "bucket_h")
        .agg(
            F.sum("n_events").alias("n_events"),
            (
                F.sum("v_scaled").cast("double") / F.lit(float(ROLLUP_SCALE))
            ).alias("sum_value"),
        )
    )
