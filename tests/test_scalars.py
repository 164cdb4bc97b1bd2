"""Unit tests for the scalar expression helpers (functions/scalars.py)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from data_pipeline_for_autonomous_vehicles_spark.functions.scalars import (
    clamp,
    clamped_span,
    coalesce_str,
    equirect_distance_m,
    exact_sum,
    nullif_zero,
    portable_hash,
    round_half_up,
    truthy_bool,
)


def _one(spark, col, **row):
    return spark.createDataFrame([Row(**row)]).select(col.alias("x")).first()["x"]


def test_round_half_up_matches_floor_form(spark):
    vals = [14.39374999999, 33.00375, 0.125, 2.5, -1.2345678, 99.99995]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = [r["r"] for r in df.select(round_half_up(F.col("v"), 4).alias("r")).collect()]
    expected = [math.floor(v * 10000 + 0.5) / 10000 for v in vals]
    assert out == expected


def test_exact_sum_is_order_independent(spark):
    vals = [(0.1,), (0.2,), (0.3,), (100.07,), (-5.55,)]
    df = spark.createDataFrame(vals, "v double")
    total = df.agg(exact_sum("v", 2).alias("s")).first()["s"]
    assert total == round(sum(v for (v,) in vals), 2)
    # repartitioned (different accumulation order) → identical result
    total2 = df.repartition(5).agg(exact_sum("v", 2).alias("s")).first()["s"]
    assert total2 == total


def test_portable_hash_equals_md5_prefix(spark):
    s = "hello"
    expected = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
    assert _one(spark, portable_hash(F.col("s")), s=s) == expected


def test_clamp_and_span(spark):
    assert _one(spark, clamp(F.col("v"), 20.0, 90.0), v=120.0) == 90.0
    assert _one(spark, clamp(F.col("v"), 20.0, 90.0), v=3.0) == 20.0
    # odometer regress: span clamps to 0 (queries.py:136 semantics)
    df = spark.createDataFrame([(100.0,), (40.0,)], "v double")
    span = clamped_span(F.max("v"), F.min("v")).alias("s")
    assert df.agg(span).first()["s"] == 60.0
    neg = spark.createDataFrame([(-10.0,), (-50.0,)], "v double")
    # COALESCE(MAX,0)-COALESCE(MIN,0) = -10 - (-50) = 40 → not clamped
    assert neg.agg(span).first()["s"] == 40.0


def test_nullif_zero(spark):
    assert _one(spark, nullif_zero(F.col("v")), v=0) is None
    assert _one(spark, nullif_zero(F.col("v")), v=7) == 7


def test_coalesce_str_na_default(spark):
    # reference: opensky_source.py:82-83 callsign cleanup
    assert _one(spark, coalesce_str(F.col("s")), s="  AB12  ") == "AB12"
    assert _one(spark, coalesce_str(F.col("s")), s="   ") == "N/A"


def test_truthy_falsy_coercion(spark):
    # reference: waymo_replay.py:53-55 — default-false truthy set
    for raw, expect in [("true", True), ("1", True), ("YES", True), ("0", False), ("x", False)]:
        assert _one(spark, truthy_bool(F.col("s"), default=False), s=raw) is expect
    # default-true falsy set
    for raw, expect in [("false", False), ("0", False), ("No", False), ("1", True), ("x", True)]:
        assert _one(spark, truthy_bool(F.col("s"), default=True), s=raw) is expect


def test_equirect_distance_matches_reference_formula(spark):
    # reference: opensky_source.py:125-127
    lat1, lon1, lat2, lon2 = 37.45, -122.2, 37.40, -122.1
    dlat = (lat1 - lat2) * 111_000.0
    dlon = (lon1 - lon2) * 111_000.0 * max(0.7, abs(lat1) / 90.0)
    expected = math.sqrt(dlat * dlat + dlon * dlon)
    got = _one(
        spark,
        equirect_distance_m(F.lit(lat1), F.lit(lon1), F.lit(lat2), F.lit(lon2)),
        dummy=1,
    )
    assert abs(got - expected) < 1e-9


def test_cell_quantiles_bitmatch_spark_percentile(spark):
    """quantiles_from_cells must reproduce F.percentile BIT-identically
    (same interpolation formula), including ties, n=1, and frac==0 cases."""
    import random

    from data_pipeline_for_autonomous_vehicles_spark.functions.quantiles import (
        quantiles_from_cells,
    )

    rng = random.Random(7)
    rows = [
        Row(k="a", v=round(rng.uniform(0, 100), 2))
        for _ in range(501)
    ] + [
        Row(k="b", v=float(rng.randint(0, 5)))  # heavy ties
        for _ in range(100)
    ] + [Row(k="c", v=42.5)] + [
        Row(k="a", v=None),  # F.percentile ignores NULLs; helper must too
        Row(k="b", v=None),
    ]
    df = spark.createDataFrame(rows)
    ps = [0.05, 0.25, 0.5, 0.9, 0.99]
    names = [f"q{i}" for i in range(len(ps))]
    ref = {
        r["k"]: [r[nm] for nm in names]
        for r in df.groupBy("k")
        .agg(*[F.percentile(F.col("v"), F.lit(p)).alias(nm) for p, nm in zip(ps, names)])
        .collect()
    }
    cells = df.groupBy("k", "v").agg(F.count(F.lit(1)).alias("cnt"))
    got = {
        r["k"]: [r[nm] for nm in names]
        for r in quantiles_from_cells(cells, ["k"], "v", "cnt", ps, names).collect()
    }
    assert got == ref  # exact float equality, not approx
