"""catalog.load_table: the schema is inferred once per version of a file."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from data_pipeline_for_autonomous_vehicles_spark.catalog import load_table


def test_second_load_runs_no_spark_job(spark, sf_dir):
    load_table(spark, sf_dir, "events")
    sc = spark.sparkContext
    sc.setJobGroup("load-table-memo", "a second load of the same file")
    try:
        df = load_table(spark, sf_dir, "events")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("load-table-memo") == []
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.createDataFrame([(1, "a")], "r_regionkey long, r_name string").write.parquet(path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    wider = spark.createDataFrame(
        [(1, "a", "c")], "r_regionkey long, r_name string, r_comment string"
    )
    wider.write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [(1, "a", "c")]


def test_missing_table_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "nation")
