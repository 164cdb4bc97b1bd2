"""The reference's nine metric queries, re-expressed as Spark DataFrame plans.

Reference: src/metrics/queries.py:29-223 (each function cites its line span).
Mapped onto the driver's `events` table per FIXTURES.md §5:
    user_id ↔ vehicle_id, ts ↔ time, value ↔ speed/odometer/distance,
    event_type 'view' ↔ telemetry tick, 'error' ↔ intervention,
    'click' ↔ disengagement.

Determinism: the reference anchors every window to NOW() (queries.py:36 et
al.), which is untestable against an oracle — our operators take an explicit
``as_of`` timestamp (SURVEY.md §7.1) with a fixed default covering the test
data's January-2024 span.

Scale notes: every metric is a single hash-aggregation on user_id (shuffles
once on the group key). The reference's join-of-aggregates metrics (J1
shape, queries.py:90-110: a telemetry aggregate LEFT JOIN an event-count
aggregate) and its fleet rollup (J2) are projections of one conditional
per-vehicle rollup, ``_vehicle_rollup``: one aggregation, no join. The
dashboard caches that rollup, so its five frames share one shuffle. The ts
window predicate is pushed into the parquet scan (at production scale the
table would be written partitionBy(date) so the same predicate prunes
partitions — see sources/sinks).

Each metric has a frame-level builder, ``<metric>_frame(events, ...)``, over
an events DataFrame the caller already loaded; the registered
``(spark, sf_dir, ...)`` functions are one-line wrappers that load the table
and call it. The dashboard loads the table once per refresh and builds every
frame from that one DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import clamped_span, exact_avg, exact_sum, nullif_zero, sql_exact_avg, round_half_up

# Deterministic "now" for the test tables (events span 2024-01-01..2024-01-30)
AS_OF = "2024-02-01 00:00:00"
DEFAULT_HOURS = 360  # 15 days → strict, non-empty subset of the data

# events → reference-domain mapping (FIXTURES.md §5)
TELEMETRY_TYPE = "view"  # value plays the odometer/speed role
INTERVENTION_TYPE = "error"
DISENGAGEMENT_TYPE = "click"
ENGAGED_THRESHOLD = 50.0  # value > 50 plays the autopilot_engaged role


def _win(df: DataFrame, hours: int = DEFAULT_HOURS, as_of: str = AS_OF) -> DataFrame:
    """P3: sliding time-window predicate `time > as_of - INTERVAL h HOURS`
    (reference: queries.py:36). Pushed down to the parquet scan."""
    cutoff = F.lit(as_of).cast("timestamp") - F.expr(f"INTERVAL {hours} HOURS")
    return df.filter(F.col("ts") > cutoff)


def _sql_win(hours: int = DEFAULT_HOURS, as_of: str = AS_OF) -> str:
    return f"ts > TIMESTAMP '{as_of}' - INTERVAL {hours} HOURS"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- 1. driving event counts (queries.py:29-44: A1+P3+P5+O2) ---------------


def driving_event_counts(
    spark: SparkSession,
    sf_dir: str,
    hours: int = DEFAULT_HOURS,
    vehicle_id: int | None = None,
    as_of: str = AS_OF,
) -> DataFrame:
    return driving_event_counts_frame(_events(spark, sf_dir), hours, vehicle_id, as_of)


def driving_event_counts_frame(
    events: DataFrame,
    hours: int = DEFAULT_HOURS,
    vehicle_id: int | None = None,
    as_of: str = AS_OF,
) -> DataFrame:
    """COUNT(*) of interventions/disengagements per vehicle and type."""
    df = _win(events, hours, as_of).filter(
        F.col("event_type").isin(INTERVENTION_TYPE, DISENGAGEMENT_TYPE)
    )
    if vehicle_id is not None:  # P4: optional equality filter (queries.py:38-41)
        df = df.filter(F.col("user_id") == vehicle_id)
    return (
        df.groupBy(F.col("user_id").alias("vehicle_id"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .orderBy("vehicle_id", "event_type")
    )


_DRIVING_EVENT_COUNTS_SQL = f"""
SELECT user_id AS vehicle_id, event_type, COUNT(*) AS event_count
FROM events
WHERE {_sql_win()} AND event_type IN ('{INTERVENTION_TYPE}', '{DISENGAGEMENT_TYPE}')
GROUP BY user_id, event_type
ORDER BY vehicle_id, event_type
"""


# --- alert derivation (consumer.py:90-124, R1-R3) --------------------------
# The reference derives an `alerts` table inside its Kafka consumer; here the
# same three rules run as a batch transform (streaming wrapper in
# streaming/rules.py). Thresholds follow config/settings.yaml:24-26.

SPEED_LIMIT = 65.0  # strict >  (producer.py:79)
LOW_BATTERY = 20.0  # strict <  (consumer.py:99)
RISK_VALUE = 10.0  # strict >  (consumer.py:114)


def derive_alerts(events: DataFrame) -> DataFrame:
    """One alert row per triggering event: one filter on the three rules,
    then one CASE projection. The rules are disjoint (speed and battery
    bound telemetry values from opposite sides, risk reads interventions),
    so an event raises at most one alert and the input is scanned once —
    a streaming micro-batch reads its source once, not once per rule.

    Messages use %.2f/%d only: both are tie-free across JVM String.format
    and C printf, so the DuckDB oracle twin is byte-identical.
    """
    vehicle, value = F.col("user_id"), F.col("value")
    telemetry = F.col("event_type") == TELEMETRY_TYPE
    speed = telemetry & (value > SPEED_LIMIT)
    battery = telemetry & (value < LOW_BATTERY)
    risk = (F.col("event_type") == INTERVENTION_TYPE) & (value > RISK_VALUE)
    return events.filter(speed | battery | risk).select(
        F.col("ts").alias("time"),
        vehicle.alias("vehicle_id"),
        F.when(speed, F.lit("Speed Violation"))
        .when(battery, F.lit("Low Battery"))
        .otherwise(F.lit("Collision Risk"))
        .alias("alert_type"),
        F.when(
            speed, F.format_string("Vehicle %d exceeded speed limit (%.2f km/h)", vehicle, value)
        )
        .when(battery, F.format_string("Vehicle %d battery low (%.2f%%)", vehicle, value))
        .otherwise(F.format_string("Vehicle %d collision risk (severity %.2f)", vehicle, value))
        .alias("alert_message"),
    )


_ALERTS_SQL_BODY = f"""
SELECT ts AS time, user_id AS vehicle_id,
       'Speed Violation' AS alert_type,
       printf('Vehicle %d exceeded speed limit (%.2f km/h)', user_id, value) AS alert_message
FROM events WHERE event_type = '{TELEMETRY_TYPE}' AND value > {SPEED_LIMIT}
UNION ALL
SELECT ts, user_id, 'Low Battery',
       printf('Vehicle %d battery low (%.2f%%)', user_id, value)
FROM events WHERE event_type = '{TELEMETRY_TYPE}' AND value < {LOW_BATTERY}
UNION ALL
SELECT ts, user_id, 'Collision Risk',
       printf('Vehicle %d collision risk (severity %.2f)', user_id, value)
FROM events WHERE event_type = '{INTERVENTION_TYPE}' AND value > {RISK_VALUE}
"""


def alerts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_alerts(_events(spark, sf_dir))


_ALERTS_BATCH_SQL = _ALERTS_SQL_BODY


# --- 2. recent alerts (queries.py:47-58: P1+P3+O1) -------------------------


def recent_alerts(
    spark: SparkSession,
    sf_dir: str,
    hours: int = DEFAULT_HOURS,
    limit: int = 100,
    vehicle_id: int | None = None,
    as_of: str = AS_OF,
) -> DataFrame:
    return recent_alerts_frame(_events(spark, sf_dir), hours, limit, vehicle_id, as_of)


def recent_alerts_frame(
    events: DataFrame,
    hours: int = DEFAULT_HOURS,
    limit: int = 100,
    vehicle_id: int | None = None,
    as_of: str = AS_OF,
) -> DataFrame:
    """Latest N alerts in the window. Top-k (TakeOrderedAndProject), with a
    deterministic (time, vehicle_id, alert_type) tiebreak — the reference's
    bare ORDER BY time DESC (queries.py:56) is nondeterministic under ties."""
    alerts = derive_alerts(_win(events, hours, as_of))
    if vehicle_id is not None:
        alerts = alerts.filter(F.col("vehicle_id") == vehicle_id)
    return alerts.orderBy(F.desc("time"), "vehicle_id", "alert_type").limit(limit)


_RECENT_ALERTS_SQL = f"""
SELECT * FROM ({_ALERTS_SQL_BODY.replace("FROM events WHERE", "FROM events WHERE " + _sql_win() + " AND")})
ORDER BY time DESC, vehicle_id, alert_type
LIMIT 100
"""


# --- 3. vehicle list (queries.py:61-68: A8) --------------------------------


def vehicle_list(spark: SparkSession, sf_dir: str, limit: int = 200) -> DataFrame:
    return vehicle_list_frame(_events(spark, sf_dir), limit)


def vehicle_list_frame(events: DataFrame, limit: int = 200) -> DataFrame:
    return (
        events.select(F.col("user_id").alias("vehicle_id"))
        .distinct()
        .orderBy("vehicle_id")
        .limit(limit)
    )


_VEHICLE_LIST_SQL = """
SELECT DISTINCT user_id AS vehicle_id FROM events ORDER BY vehicle_id LIMIT 200
"""


# --- 4. latest telemetry per vehicle (queries.py:71-83: W1 DISTINCT ON) ----


def latest_telemetry(
    spark: SparkSession, sf_dir: str, vehicle_id: int | None = None
) -> DataFrame:
    return latest_telemetry_frame(_events(spark, sf_dir), vehicle_id)


def latest_telemetry_frame(events: DataFrame, vehicle_id: int | None = None) -> DataFrame:
    """DISTINCT ON (vehicle_id) ... ORDER BY vehicle_id, time DESC →
    row_number over (partition vehicle ORDER BY ts DESC, event_id DESC) = 1.
    The event_id tiebreak makes PostgreSQL's nondeterministic DISTINCT ON
    deterministic (SURVEY.md §7.3 watch-out)."""
    if vehicle_id is not None:
        events = events.filter(F.col("user_id") == vehicle_id)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("vehicle_id"),
            F.col("ts").alias("time"),
            F.col("event_type"),
            F.col("value"),
        )
        .orderBy("vehicle_id")
    )


_LATEST_TELEMETRY_SQL = """
SELECT user_id AS vehicle_id, ts AS time, event_type, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1
ORDER BY vehicle_id
"""


# --- the per-vehicle rollup behind metrics 5, 7 and 8 ----------------------


def _vehicle_rollup(win: DataFrame) -> DataFrame:
    """One conditional aggregation per vehicle over the windowed events,
    the columns every J1/J2/A6 metric reads: telemetry count, max and min
    of value, engaged telemetry rows, intervention and disengagement
    counts. The metrics project it (and filter to one vehicle after it),
    so the dashboard's cached rollup serves all five of them."""
    telemetry = F.col("event_type") == TELEMETRY_TYPE
    tele_value = F.when(telemetry, F.col("value"))
    engaged = F.when(F.col("value") > ENGAGED_THRESHOLD, 1).otherwise(0)
    return win.groupBy(F.col("user_id").alias("vehicle_id")).agg(
        F.count(F.when(telemetry, 1)).alias("n_tele"),
        F.max(tele_value).alias("tele_max"),
        F.min(tele_value).alias("tele_min"),
        F.sum(F.when(telemetry, engaged)).alias("engaged"),
        F.count(F.when(F.col("event_type") == INTERVENTION_TYPE, 1)).alias("n_interv"),
        F.count(F.when(F.col("event_type") == DISENGAGEMENT_TYPE, 1)).alias("n_diseng"),
    )


def _vehicle_rows(
    events: DataFrame, hours: int, as_of: str, vehicle_id: int | None = None
) -> DataFrame:
    """The rollup's rows of vehicles with telemetry in the window (the
    telemetry side of the reference's LEFT joins), optionally one vehicle."""
    rollup = _vehicle_rollup(_win(events, hours, as_of)).filter(F.col("n_tele") > 0)
    if vehicle_id is not None:
        rollup = rollup.filter(F.col("vehicle_id") == vehicle_id)
    return rollup


# --- 5. km per intervention (queries.py:86-110: J1+A2) ---------------------


def km_per_intervention(
    spark: SparkSession,
    sf_dir: str,
    hours: int = DEFAULT_HOURS,
    vehicle_id: int | None = None,
    as_of: str = AS_OF,
) -> DataFrame:
    return km_per_intervention_frame(_events(spark, sf_dir), hours, vehicle_id, as_of)


def km_per_intervention_frame(
    events: DataFrame,
    hours: int = DEFAULT_HOURS,
    vehicle_id: int | None = None,
    as_of: str = AS_OF,
) -> DataFrame:
    """Distance span and intervention count of every vehicle with
    telemetry (the reference's LEFT join of two aggregates); NULL (not 0)
    when interventions = 0 (queries.py:106-107)."""
    n = F.col("n_interv")
    km = F.col("tele_max") - F.col("tele_min")
    return _vehicle_rows(events, hours, as_of, vehicle_id).select(
        "vehicle_id",
        km.alias("km_driven"),
        n.alias("interventions"),
        round_half_up(km / nullif_zero(n).cast("double"), 4).alias("km_per_intervention"),
    ).orderBy("vehicle_id")


_KM_PER_INTERVENTION_SQL = f"""
WITH dist AS (
  SELECT user_id AS vehicle_id, MAX(value) - MIN(value) AS km_driven
  FROM events WHERE {_sql_win()} AND event_type = '{TELEMETRY_TYPE}'
  GROUP BY user_id),
interv AS (
  SELECT user_id AS vehicle_id, COUNT(*) AS interventions
  FROM events WHERE {_sql_win()} AND event_type = '{INTERVENTION_TYPE}'
  GROUP BY user_id)
SELECT d.vehicle_id, d.km_driven,
       COALESCE(i.interventions, 0) AS interventions,
       CAST(FLOOR((d.km_driven / CAST(NULLIF(COALESCE(i.interventions, 0), 0) AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0
         AS km_per_intervention
FROM dist d LEFT JOIN interv i ON d.vehicle_id = i.vehicle_id
ORDER BY d.vehicle_id
"""


def _rate_per_100km(events: DataFrame, count_col: str, hours: int, as_of: str) -> DataFrame:
    """Shared J1 shape for intervention/disengagement rate per 100 km
    (queries.py:134-157 and :164-187): clamped odometer span, event count,
    rate = events / (km/100)."""
    n = F.col(count_col)
    km = clamped_span(F.col("tele_max"), F.col("tele_min"))
    return _vehicle_rows(events, hours, as_of).select(
        "vehicle_id",
        km.alias("km_driven"),
        n.alias("n_events"),
        round_half_up(n.cast("double") / nullif_zero(km / F.lit(100.0)), 4).alias("rate_per_100km"),
    ).orderBy("vehicle_id")


def _rate_sql(event_type: str) -> str:
    return f"""
WITH dist AS (
  SELECT user_id AS vehicle_id,
         GREATEST(0, COALESCE(MAX(value), 0) - COALESCE(MIN(value), 0)) AS km_driven
  FROM events WHERE {_sql_win()} AND event_type = '{TELEMETRY_TYPE}'
  GROUP BY user_id),
cnt AS (
  SELECT user_id AS vehicle_id, COUNT(*) AS n_events
  FROM events WHERE {_sql_win()} AND event_type = '{event_type}'
  GROUP BY user_id)
SELECT d.vehicle_id, d.km_driven,
       COALESCE(c.n_events, 0) AS n_events,
       CAST(FLOOR((CAST(COALESCE(c.n_events, 0) AS DOUBLE) / NULLIF(d.km_driven / 100.0, 0)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0
         AS rate_per_100km
FROM dist d LEFT JOIN cnt c ON d.vehicle_id = c.vehicle_id
ORDER BY d.vehicle_id
"""


def intervention_rate(
    spark: SparkSession, sf_dir: str, hours: int = DEFAULT_HOURS, as_of: str = AS_OF
) -> DataFrame:
    return intervention_rate_frame(_events(spark, sf_dir), hours, as_of)


def intervention_rate_frame(
    events: DataFrame, hours: int = DEFAULT_HOURS, as_of: str = AS_OF
) -> DataFrame:
    return _rate_per_100km(events, "n_interv", hours, as_of)


def disengagement_rate(
    spark: SparkSession, sf_dir: str, hours: int = DEFAULT_HOURS, as_of: str = AS_OF
) -> DataFrame:
    return disengagement_rate_frame(_events(spark, sf_dir), hours, as_of)


def disengagement_rate_frame(
    events: DataFrame, hours: int = DEFAULT_HOURS, as_of: str = AS_OF
) -> DataFrame:
    return _rate_per_100km(events, "n_diseng", hours, as_of)


# --- 6. perception summary (queries.py:113-129: A5) ------------------------


def perception_summary(
    spark: SparkSession,
    sf_dir: str,
    hours: int = DEFAULT_HOURS,
    vehicle_id: int | None = None,
    as_of: str = AS_OF,
) -> DataFrame:
    return perception_summary_frame(_events(spark, sf_dir), hours, vehicle_id, as_of)


def perception_summary_frame(
    events: DataFrame,
    hours: int = DEFAULT_HOURS,
    vehicle_id: int | None = None,
    as_of: str = AS_OF,
) -> DataFrame:
    """Detections per vehicle and class with mean confidence; class ↔
    event_type, confidence ↔ value (FIXTURES.md §5). Mean uses the
    count-divided exact sum so it is order-independent."""
    ev = _win(events, hours, as_of)
    if vehicle_id is not None:
        ev = ev.filter(F.col("user_id") == vehicle_id)
    return (
        ev.groupBy(F.col("user_id").alias("vehicle_id"), F.col("event_type").alias("object_class"))
        .agg(
            F.count(F.lit(1)).alias("detection_count"),
            round_half_up(exact_avg("value", 2), 4).alias("avg_confidence"),
        )
        .orderBy("vehicle_id", F.desc("detection_count"), "object_class")
    )


_PERCEPTION_SUMMARY_SQL = f"""
SELECT user_id AS vehicle_id, event_type AS object_class,
       COUNT(*) AS detection_count,
       CAST(FLOOR((({sql_exact_avg('value', 2)})) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS avg_confidence
FROM events WHERE {_sql_win()}
GROUP BY user_id, event_type
ORDER BY vehicle_id, detection_count DESC, object_class
"""


# --- 7. fleet summary (queries.py:190-204: J2+A7) --------------------------


def fleet_summary(
    spark: SparkSession, sf_dir: str, hours: int = DEFAULT_HOURS, as_of: str = AS_OF
) -> DataFrame:
    return fleet_summary_frame(_events(spark, sf_dir), hours, as_of)


def fleet_summary_frame(
    events: DataFrame, hours: int = DEFAULT_HOURS, as_of: str = AS_OF
) -> DataFrame:
    """Single-row fleet rollup: total km, total interventions, km/intervention.
    The reference stitches three scalar subqueries (queries.py:193-203);
    here one global aggregate over the per-vehicle rollup gives all of
    them. Only vehicles with telemetry contribute km, so a window without
    telemetry gives NULL km; an empty window gives (NULL, 0, NULL)."""
    km = F.when(F.col("n_tele") > 0, clamped_span(F.col("tele_max"), F.col("tele_min")))
    totals = _vehicle_rollup(_win(events, hours, as_of)).agg(
        # exact scaled sum: order-independent across partitions AND engines
        round_half_up(exact_sum(km, 2), 4).alias("total_km"),
        F.coalesce(F.sum("n_interv"), F.lit(0)).alias("total_interventions"),
    )
    return totals.select(
        "total_km",
        "total_interventions",
        round_half_up(
            F.col("total_km") / nullif_zero(F.col("total_interventions")).cast("double"), 4
        ).alias("km_per_intervention"),
    )


_FLEET_SUMMARY_SQL = f"""
WITH per_vehicle AS (
  SELECT user_id,
         GREATEST(0, COALESCE(MAX(value), 0) - COALESCE(MIN(value), 0)) AS km
  FROM events WHERE {_sql_win()} AND event_type = '{TELEMETRY_TYPE}'
  GROUP BY user_id),
tot AS (SELECT CAST(FLOOR((CAST(SUM(CAST(FLOOR(km * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS total_km FROM per_vehicle),
iv AS (
  SELECT COUNT(*) AS total_interventions
  FROM events WHERE {_sql_win()} AND event_type = '{INTERVENTION_TYPE}')
SELECT total_km, total_interventions,
       CAST(FLOOR((total_km / CAST(NULLIF(total_interventions, 0) AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0
         AS km_per_intervention
FROM tot, iv
"""


# --- 8. autopilot engagement (queries.py:207-223: A6) ----------------------


def autopilot_engagement(
    spark: SparkSession,
    sf_dir: str,
    hours: int = DEFAULT_HOURS,
    vehicle_id: int | None = None,
    as_of: str = AS_OF,
) -> DataFrame:
    return autopilot_engagement_frame(_events(spark, sf_dir), hours, vehicle_id, as_of)


def autopilot_engagement_frame(
    events: DataFrame,
    hours: int = DEFAULT_HOURS,
    vehicle_id: int | None = None,
    as_of: str = AS_OF,
) -> DataFrame:
    """SUM(CASE WHEN engaged THEN 1 ELSE 0 END) / NULLIF(COUNT,0) ratio,
    CAST(FLOOR((·) * 100.0 + 0.5) AS DOUBLE) / 100.0 — the conditional-aggregate shape of queries.py:210-223."""
    engaged, total = F.col("engaged"), F.col("n_tele")
    return _vehicle_rows(events, hours, as_of, vehicle_id).select(
        "vehicle_id",
        engaged.alias("engaged_rows"),
        total.alias("total_rows"),
        round_half_up(
            F.lit(100.0) * engaged.cast("double") / nullif_zero(total).cast("double"), 2
        ).alias("engagement_pct"),
    ).orderBy("vehicle_id")


_AUTOPILOT_SQL = f"""
SELECT user_id AS vehicle_id,
       CAST(SUM(CASE WHEN value > {ENGAGED_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS engaged_rows,
       COUNT(*) AS total_rows,
       CAST(FLOOR((100.0 * CAST(SUM(CASE WHEN value > {ENGAGED_THRESHOLD} THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(NULLIF(COUNT(*), 0) AS DOUBLE)) * 100.0 + 0.5) AS DOUBLE) / 100.0 AS engagement_pct
FROM events
WHERE {_sql_win()} AND event_type = '{TELEMETRY_TYPE}'
GROUP BY user_id
ORDER BY vehicle_id
"""


QUERIES = {
    "driving_event_counts": driving_event_counts,
    "alerts_batch": alerts_batch,
    "recent_alerts": recent_alerts,
    "vehicle_list": vehicle_list,
    "latest_telemetry": latest_telemetry,
    "km_per_intervention": km_per_intervention,
    "intervention_rate": intervention_rate,
    "disengagement_rate": disengagement_rate,
    "perception_summary": perception_summary,
    "fleet_summary": fleet_summary,
    "autopilot_engagement": autopilot_engagement,
}

ORACLES = {
    "driving_event_counts": _DRIVING_EVENT_COUNTS_SQL,
    "alerts_batch": _ALERTS_BATCH_SQL,
    "recent_alerts": _RECENT_ALERTS_SQL,
    "vehicle_list": _VEHICLE_LIST_SQL,
    "latest_telemetry": _LATEST_TELEMETRY_SQL,
    "km_per_intervention": _KM_PER_INTERVENTION_SQL,
    "intervention_rate": _rate_sql(INTERVENTION_TYPE),
    "disengagement_rate": _rate_sql(DISENGAGEMENT_TYPE),
    "perception_summary": _PERCEPTION_SUMMARY_SQL,
    "fleet_summary": _FLEET_SUMMARY_SQL,
    "autopilot_engagement": _AUTOPILOT_SQL,
}
