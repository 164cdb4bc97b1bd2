"""Layout tests (pkg/sinks.py): prove partition pruning and row-group
skipping actually engage on the written layout — the SCALE.md §2 claims as
executable assertions."""

from __future__ import annotations

import contextlib
import glob
import io
import os

from pyspark.sql import functions as F

from data_pipeline_for_autonomous_vehicles_spark.catalog import load_table
from data_pipeline_for_autonomous_vehicles_spark.sinks import write_time_partitioned


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_write_round_trip_and_pruning(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_parts")
    write_time_partitioned(ev, path)

    # one directory per day, hive-style
    days = sorted(os.path.basename(p) for p in glob.glob(f"{path}/event_date=*"))
    assert len(days) >= 5 and days[0].startswith("event_date=")

    back = spark.read.parquet(path)
    assert back.count() == ev.count()

    # a one-day predicate must prune partitions at plan time
    one_day = back.filter(F.col("event_date") == "2024-01-05")
    plan = _plan(one_day)
    assert "PartitionFilters" in plan and "event_date" in plan
    # the filter is NOT a post-scan data filter: it never appears as a
    # parquet PushedFilter (it's resolved against directories instead)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert all("event_date" not in l for l in pushed)
    day_count = one_day.count()
    assert 0 < day_count < back.count()


def test_entity_predicate_pushed_on_sorted_layout(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_sorted")
    write_time_partitioned(ev, path)
    back = spark.read.parquet(path)
    plan = _plan(back.filter(F.col("user_id") == 3))
    # entity predicate reaches the parquet reader → row-group min/max
    # skipping applies on the within-partition-sorted files
    assert any(
        "PushedFilters" in l and "user_id" in l for l in plan.splitlines()
    ), plan


def test_bucketed_join_zero_exchange(spark, sf_dir, tmp_path):
    from data_pipeline_for_autonomous_vehicles_spark.plans.audit import (
        exchange_count,
        join_strategies,
    )
    from data_pipeline_for_autonomous_vehicles_spark.sinks import write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_bkt", 8, "o_orderkey", str(tmp_path / "ob"))
    write_bucketed(li, "lineitem_bkt", 8, "l_orderkey", str(tmp_path / "lb"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = spark.table("orders_bkt"), spark.table("lineitem_bkt")
        joined = a.join(b, a.o_orderkey == b.l_orderkey).select(
            "o_orderkey", "o_orderpriority", "l_extendedprice"
        )
        # bucket-aligned sort-merge join: no shuffle on either side
        assert join_strategies(joined) == ["SortMergeJoin"]
        assert exchange_count(joined) == 0
        # and it computes the same thing as the plain join
        plain = orders.join(li, orders.o_orderkey == li.l_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def test_dynamic_partition_pruning_from_dim_join(spark, sf_dir, tmp_path):
    """A join against a filtered dimension must prune the partitioned fact
    scan at RUNTIME (dynamic partition pruning): the fact side's partition
    filter is a subquery on the dim, so only the joined days' directories
    are read — at 100 TB, the difference between scanning two days and
    scanning the table. The dim filter is non-foldable (on a dim attribute,
    not the join key), so static pruning cannot do this."""
    from data_pipeline_for_autonomous_vehicles_spark.plans import plan_text

    path = str(tmp_path / "events")
    ev = load_table(spark, sf_dir, "events")
    write_time_partitioned(ev, path, time_col="ts")
    fact = spark.read.parquet(path)

    days = sorted(r["d"] for r in fact.select(F.col("event_date").alias("d")).distinct().collect())
    dim = spark.createDataFrame(
        [(d, "keep" if d in days[:2] else "drop") for d in days], "event_date date, tag string"
    )
    joined = fact.join(dim.filter(F.col("tag") == "keep"), "event_date").groupBy(
        "event_date"
    ).count()
    txt = plan_text(joined)
    assert "dynamicpruning" in txt.lower(), txt
    # and the result only covers the dim-selected days
    got = sorted(r["event_date"] for r in joined.collect())
    assert got == days[:2]


def test_exactly_once_sink_idempotent_on_replay(spark, sf_dir, tmp_path):
    """Replaying a micro-batch (same batch_id — the crash-recovery path)
    must overwrite its own batch partition, not append duplicates; a new
    batch_id must append. This is the idempotence that upgrades
    checkpointed streaming to exactly-once (SURVEY §2.9 R5)."""
    from data_pipeline_for_autonomous_vehicles_spark.sinks import append_stream_exactly_once

    path = str(tmp_path / "alerts")
    ev = load_table(spark, sf_dir, "events").limit(100)
    n = ev.count()

    append_stream_exactly_once(ev, 0, path)
    append_stream_exactly_once(ev, 0, path)  # replay of batch 0
    out = spark.read.parquet(path)
    assert out.count() == n  # no duplicates

    append_stream_exactly_once(ev, 1, path)  # genuinely new batch
    out = spark.read.parquet(path)
    assert out.count() == 2 * n
    # batch_id and event_date are partition columns readers can prune on
    assert {"batch_id", "event_date"} <= set(out.columns)


def test_csv_export_sink_round_trips(spark, sf_dir, tmp_path):
    """S10 (SURVEY §2.1): the reference dumps query results and whole tables
    to headered CSVs (scripts/export_results.py:31-75,
    scripts/run_full_pipeline_local.py:218-245). All four reference export
    shapes: (1) per-query metric result, (2) whole-table dump, (3) aggregate
    summary, (4) the distributed multi-part variant for large tables."""
    from data_pipeline_for_autonomous_vehicles_spark.sinks import export_csv
    from data_pipeline_for_autonomous_vehicles_spark.operators.metrics import (
        latest_telemetry,
        perception_summary,
    )

    def _read_back(df, path):
        return (
            spark.read.schema(df.schema)
            .option("header", True)
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .csv(path)
        )

    # (1) per-query metric result — single headered file, values round-trip
    lt = latest_telemetry(spark, sf_dir)
    p = export_csv(lt, str(tmp_path / "latest_telemetry.csv"))
    assert os.path.isfile(p)
    with open(p) as f:
        assert f.readline().strip().split(",") == lt.columns
    back = _read_back(lt, p)
    assert back.exceptAll(lt).count() == 0 and lt.exceptAll(back).count() == 0

    # (2) whole-table dump (reference: vehicle_telemetry/alerts/perception)
    ev = load_table(spark, sf_dir, "events").limit(500)
    p2 = export_csv(ev, str(tmp_path / "events_sample.csv"))
    assert _read_back(ev, p2).count() == 500

    # (3) aggregate summary (telemetry_summary.csv shape)
    ps = perception_summary(spark, sf_dir)
    p3 = export_csv(ps, str(tmp_path / "perception_summary_24h.csv"))
    back3 = _read_back(ps, p3)
    assert back3.exceptAll(ps).count() == 0 and ps.exceptAll(back3).count() == 0

    # (4) large-table path: distributed directory of headered parts
    p4 = export_csv(ev.repartition(4), str(tmp_path / "events_dir"), single_file=False)
    parts = glob.glob(os.path.join(p4, "part-*.csv"))
    assert len(parts) == 4
    assert _read_back(ev, p4).count() == 500


def test_export_metric_results_matches_reference_driver(spark, sf_dir, tmp_path):
    """export_metric_results mirrors scripts/export_results.py: one CSV per
    headline metric query, each headered and non-empty."""
    from data_pipeline_for_autonomous_vehicles_spark.sinks import export_metric_results
    from data_pipeline_for_autonomous_vehicles_spark.operators import metrics as m

    out = export_metric_results(spark, sf_dir, str(tmp_path / "results"))
    assert len(out) == len(m.QUERIES)
    for path in out:
        assert os.path.isfile(path)
        with open(path) as f:
            assert "," in f.readline() or f.readline()  # headered


def test_no_session_wide_partition_overwrite_mode():
    """Dynamic partition overwrite is a writer option: setting it on the
    session would race every writer that runs concurrently (a dashboard
    refresh runs nine threads)."""
    import re

    import data_pipeline_for_autonomous_vehicles_spark as pkg

    root = os.path.dirname(pkg.__file__)
    hits = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        with open(path) as f:
            text = f.read()
        if re.search(r"conf\.set\(\s*[\"']spark\.sql\.sources\.partitionOverwriteMode", text):
            hits.append(os.path.relpath(path, root))
    assert hits == []
