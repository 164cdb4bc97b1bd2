"""Deterministic fleet-telemetry simulator (batch generator).

Reference: src/ingestion/producer.py:75-131,147-181 — a per-vehicle random
walk (speed ±4 clamped [20,90], battery drain 0.04/0.08 by speed>60,
bbox-clamped movement, 2% driving-event Bernoulli, battery·5.2 range,
odometer += speed/3600 per tick, violation flag = speed > 65).

Spark-first re-expression: instead of a stateful Python loop, the walk is
generated distributively — `spark.range(vehicles × ticks)` gives the grid,
seeded `F.rand` the innovations, and per-vehicle cumulative sums over a
window integrate the walk. Same statistical process, fully parallel and
reproducible from the seed. (Divergence, documented: the reference clamps
speed per step; we clamp the integrated series — both stay in [20, 90].)

Scale: generating 10^9 rows is range(n) → narrow transforms → one window
shuffle on (vehicle_id); no driver loop, no collect.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import caching
from ..functions.scalars import clamp
from ..schemas import DIRECTIONS, DRIVING_EVENT_TYPES, OBJECT_CLASSES

# city bounding boxes (producer.py:48-52): name -> (lat_lo, lat_hi, lon_lo, lon_hi)
CITY_BBOXES = {
    "palo_alto": (37.35, 37.50, -122.25, -122.10),
    "san_francisco": (37.70, 37.85, -122.55, -122.35),
    "austin": (30.20, 30.40, -97.85, -97.65),
}
POIS = ("HQ", "Downtown", "Airport", "Depot", "Mall")

SPEED_LO, SPEED_HI = 20.0, 90.0  # producer.py:77
SPEED_LIMIT = 65.0  # producer.py:79 / settings.yaml:25
EVENT_PROB = 0.02  # producer.py:121
RANGE_PER_PCT = 5.2  # producer.py:97


def _choice(options: tuple[str, ...], r: F.Column) -> F.Column:
    """element_at(array, 1 + floor(rand·n)) — seeded categorical draw (F19)."""
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (F.floor(r * len(options)) + 1).cast("int"))


def _bbox(idx: int) -> F.Column:
    mapping = F.create_map(
        *[
            item
            for name, box in CITY_BBOXES.items()
            for item in (F.lit(name), F.lit(box[idx]))
        ]
    )
    return mapping[F.col("city")]


def generate_telemetry(
    spark: SparkSession,
    n_vehicles: int = 10,
    n_ticks: int = 60,
    seed: int = 42,
    start: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Seeded telemetry frame matching schemas.VEHICLE_TELEMETRY (+city col
    dropped before emit)."""
    start_ts = dt.datetime.fromisoformat(start)
    grid = spark.range(n_vehicles * n_ticks).select(
        (F.col("id") % n_vehicles + 1).cast("int").alias("vehicle_id"),
        (F.col("id") / n_vehicles).cast("long").alias("tick"),
    )
    # deterministic per-vehicle initial conditions from the portable hash
    vid_hash = F.conv(
        F.substring(F.md5(F.col("vehicle_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    base = grid.select(
        "vehicle_id",
        "tick",
        (F.lit(start_ts) + F.make_interval(secs=F.col("tick").cast("double"))).alias(
            "time"
        ),
        ((F.rand(seed) - 0.5) * 8.0).alias("speed_step"),
        ((F.rand(seed + 5) - 0.5) * 0.002).alias("dlat_step"),
        ((F.rand(seed + 6) - 0.5) * 0.002).alias("dlon_step"),
        F.rand(seed + 2).alias("r_event"),
        F.rand(seed + 3).alias("r_poi_a"),
        F.rand(seed + 4).alias("r_poi_b"),
        F.rand(seed + 7).alias("r_autopilot"),
        (20.0 + (vid_hash % 71).cast("double")).alias("speed0"),
        (70.0 + (vid_hash % 26).cast("double")).alias("battery0"),
        ((vid_hash % 5000).cast("double")).alias("odo0"),
        _choice(tuple(CITY_BBOXES), (vid_hash % 997).cast("double") / 997.0).alias(
            "city"
        ),
    )
    w = Window.partitionBy("vehicle_id").orderBy("tick").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # stage 1: integrate the speed walk (one window pass)
    s1 = base.withColumn(
        "current_speed_kmh",
        clamp(F.col("speed0") + F.sum("speed_step").over(w), SPEED_LO, SPEED_HI),
    )
    # stage 2: per-step contributions derived from the integrated speed
    s2 = s1.withColumn(
        "drain_step",
        F.when(F.col("current_speed_kmh") > 60.0, 0.08).otherwise(0.04),
    ).withColumn("odo_step", F.col("current_speed_kmh") / 3600.0)
    # stage 3: integrate drain / odometer / position (second window pass)
    s3 = s2.select(
        "time",
        "vehicle_id",
        "city",
        "current_speed_kmh",
        "r_event",
        "r_poi_a",
        "r_poi_b",
        "r_autopilot",
        "battery0",
        "odo0",
        F.sum("drain_step").over(w).alias("drain"),
        F.sum("odo_step").over(w).alias("odo_inc"),
        F.sum("dlat_step").over(w).alias("lat_off"),
        F.sum("dlon_step").over(w).alias("lon_off"),
    )
    battery = F.greatest(F.col("battery0") - F.col("drain"), F.lit(0.0))
    return s3.select(
        "time",
        "vehicle_id",
        "current_speed_kmh",
        (F.col("current_speed_kmh") > SPEED_LIMIT).alias("speed_limit_violation"),
        F.greatest(F.least((_bbox(0) + _bbox(1)) / 2 + F.col("lat_off"), _bbox(1)), _bbox(0)).alias("latitude"),
        F.greatest(F.least((_bbox(2) + _bbox(3)) / 2 + F.col("lon_off"), _bbox(3)), _bbox(2)).alias("longitude"),
        battery.alias("battery_level_pct"),
        (battery * RANGE_PER_PCT).alias("remaining_range_km"),
        (F.col("r_autopilot") < 0.95).alias("autopilot_engaged"),
        (F.col("odo0") + F.col("odo_inc")).alias("odometer_km"),
        _choice(POIS, F.col("r_poi_a")).alias("start_location"),
        _choice(POIS, F.col("r_poi_b")).alias("destination"),
        "r_event",
    )


def generate_driving_events(telemetry: DataFrame) -> DataFrame:
    """2% Bernoulli per tick (producer.py:121-131): event rows sampled from
    the telemetry frame, event_type uniform over the four classes, detail
    string formatted like producer.py:127."""
    ev_type = _choice(DRIVING_EVENT_TYPES, F.col("r_event") / EVENT_PROB)
    return (
        telemetry.filter(F.col("r_event") < EVENT_PROB)
        .select(
            F.col("time"),
            "vehicle_id",
            ev_type.alias("event_type"),
            F.format_string(
                "Driver %s at speed %.2f km/h", ev_type, F.col("current_speed_kmh")
            ).alias("event_detail"),
            F.col("latitude"),
            F.col("longitude"),
        )
    )


def generate_perception(
    telemetry: DataFrame, seed: int = 42
) -> DataFrame:
    """One perception event per telemetry tick (producer.py:105-115):
    class uniform over six, distance U(2,120), speed U(0,80), direction
    uniform over four, confidence U(0.85, 1.0)."""
    return telemetry.select(
        F.col("time"),
        "vehicle_id",
        _choice(OBJECT_CLASSES, F.rand(seed + 10)).alias("object_class"),
        (F.lit(2.0) + F.rand(seed + 11) * 118.0).alias("object_distance_m"),
        (F.rand(seed + 12) * 80.0).alias("object_speed_kmh"),
        _choice(DIRECTIONS, F.rand(seed + 13)).alias("object_relative_direction"),
        (F.lit(0.85) + F.rand(seed + 14) * 0.15).alias("confidence"),
    )


def generate_fleet(
    spark: SparkSession,
    n_vehicles: int = 10,
    n_ticks: int = 60,
    seed: int = 42,
    start: str = "2024-01-01 00:00:00",
) -> dict[str, DataFrame]:
    """The full reference stream set: telemetry + perception + driving events
    (the three Kafka topics, producer.py:134-202) as batch DataFrames."""
    tel = caching.materialize(generate_telemetry(spark, n_vehicles, n_ticks, seed, start), "generate_fleet.tel")
    return {
        "vehicle_telemetry": tel.drop("r_event"),
        "perception_events": generate_perception(tel, seed),
        "driving_events": generate_driving_events(tel),
    }
