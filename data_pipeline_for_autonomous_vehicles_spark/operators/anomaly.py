"""CUSUM changepoint detection over the event stream — sequential anomaly
monitoring expressed as pure window algebra.

The one-sided CUSUM recursion S_t = max(0, S_{t-1} + x_t − k) looks
iterative, but has a closed form: with prefix sums P_t = Σ_{i≤t}(x_i − k),
    S_t = P_t − min_{j≤t} P_j
(the clamp is automatic — j = t gives 0). So the detector is ONE running
sum plus ONE running min over the same ordered frame: fully declarative,
no recursion, no stateful loop — and therefore identical in Spark and the
SQL oracle.

Exactness: the series is integer event counts per (event_type, hour) and
the drift target k is a per-series scaled integer (round(mean·1000)), so
every prefix sum is int64 — CUSUM values are exact on any partitioning.

Scale shape: the hourly series is a partial+final hash agg of the fact
table (one shuffle, |types|·|hours| cells); both windows partition by
event_type over those CELLS — thousands of rows per series, never raw
events. Per-series state is independent; fleet-scale cardinality just
means more parallel window partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table
from ..functions.scalars import round_half_up

_SCALE = 1000  # k and CUSUM carried as integer thousandths
ALERT_MULTIPLE_E3 = 5000  # alert when CUSUM > 5× the hourly mean


def cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours where the per-type event rate's one-sided CUSUM (drift target
    k = series mean) exceeds 5× the mean — sustained-rate-shift alerts."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_type = Window.partitionBy("event_type")
    # k_e3 = round(mean·1000) as int64: total and cell count via windows over
    # the cell frame (no second scan of the fact table)
    with_k = hourly.withColumn(
        "k_e3",
        F.floor(
            F.sum("n").over(per_type).cast("double")
            * F.lit(float(_SCALE))
            / F.count(F.lit(1)).over(per_type).cast("double")
            + F.lit(0.5)
        ).cast("long"),
    )
    ordered = Window.partitionBy("event_type").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_cusum = (
        with_k.withColumn("p", F.sum(F.col("n") * F.lit(_SCALE) - F.col("k_e3")).over(ordered))
        .withColumn("p_min", F.min("p").over(ordered))
        .withColumn("cusum_e3", F.col("p") - F.col("p_min"))
    )
    return (
        # pure-int64 alert predicate: cusum > k·multiple ⇔ cusum·S > k·(m·S)
        with_cusum.filter(
            F.col("cusum_e3") * F.lit(_SCALE) > F.col("k_e3") * F.lit(ALERT_MULTIPLE_E3)
        )
        .select(
            "event_type",
            "hour",
            "n",
            (F.col("k_e3").cast("double") / F.lit(float(_SCALE))).alias("k"),
            (F.col("cusum_e3").cast("double") / F.lit(float(_SCALE))).alias("cusum"),
        )
        .orderBy("event_type", "hour")
    )


_CUSUM_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events
  GROUP BY event_type, date_trunc('hour', ts)),
with_k AS (
  SELECT *,
         CAST(FLOOR(CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
               * {float(_SCALE)!r}
               / CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE)
               + 0.5) AS BIGINT) AS k_e3
  FROM hourly),
with_p AS (
  SELECT *,
         SUM(n * {_SCALE} - k_e3) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM with_k),
with_cusum AS (
  SELECT *,
         p - MIN(p) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_e3
  FROM with_p)
SELECT event_type, hour, n,
       CAST(k_e3 AS DOUBLE) / {float(_SCALE)!r} AS k,
       CAST(cusum_e3 AS DOUBLE) / {float(_SCALE)!r} AS cusum
FROM with_cusum
WHERE cusum_e3 * {_SCALE} > k_e3 * {ALERT_MULTIPLE_E3}
ORDER BY event_type, hour
"""


def daily_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend of daily spend: slope/intercept of the
    regression of exact daily value sums on the day index.

    The "aggregate once, derive every moment from the cells" pattern
    (SCALE.md, chi-square / value_outliers family): the fact table collapses
    to |types|·|days| cells carrying scaled-int64 daily sums; ALL regression
    moments (n, Σx, Σx², Σy, Σxy) are int64 sums over those cells, so the
    normal-equation numerator/denominator are exact integers and the only
    floating op is the final division — bit-identical on any partitioning.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("v_e2"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v_e2").alias("s_e2"))
    )
    per_type = Window.partitionBy("event_type")
    pts = daily.withColumn(
        "x", F.datediff(F.col("day"), F.min("day").over(per_type)).cast("long")
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("s_e2").alias("sy"),
        F.sum(F.col("x") * F.col("s_e2")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den / F.lit(100.0)  # cents/day → value units per day
    intercept = (
        F.col("sy").cast("double") / F.lit(100.0) - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        round_half_up(slope, 4).alias("slope_per_day"),
        round_half_up(intercept, 4).alias("intercept"),
    ).orderBy("event_type")


_TREND_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS s_e2
  FROM events
  GROUP BY event_type, CAST(ts AS DATE)),
pts AS (
  SELECT *,
         CAST(datediff('day', MIN(day) OVER (PARTITION BY event_type), day) AS BIGINT) AS x
  FROM daily),
m AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
         SUM(s_e2) AS sy, SUM(x * s_e2) AS sxy
  FROM pts GROUP BY event_type)
SELECT event_type, n AS n_days,
       CAST(FLOOR((CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0) * 10000.0 + 0.5) AS DOUBLE)
         / 10000.0 AS slope_per_day,
       CAST(FLOOR(((CAST(sy AS DOUBLE) / 100.0
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS intercept
FROM m
ORDER BY event_type
"""


def seasonal_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event count deviates ≥2× from the seasonal (ISO
    day-of-week × hour-of-day) baseline for that event type — the
    seasonality-adjusted companion to `cusum_alerts`: CUSUM finds sustained
    level shifts, this finds cells that break the weekly load shape
    (`timeseries.event_seasonality` is the descriptive half).

    Exactness: the baseline mean is never materialized as a float — the
    outlier predicate cross-multiplies (n·n_cells ≥ 2·sum_n for 'high',
    2·n·n_cells ≤ sum_n for 'low'), so the flags are pure int64 on any
    partitioning; the reported mean is display-only (round_half_up e3).

    Scale shape: one partial+final hash agg collapses the fact table to
    |types|·|hours| cells; the baseline windows partition those CELLS by
    (type, dow, hod) — ≤ |types|·168 independent groups whose size grows
    only with the calendar span, never with event volume. Absent hours are
    absent cells (count 0 is unobservable); a gap-fill spine
    (`timeseries.hourly_gapfill_locf`) is the composition for that.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            (F.expr("weekday(ts)") + F.lit(1)).cast("long").alias("dow_iso"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .groupBy("event_type", "hour", "dow_iso", "hod")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    season = Window.partitionBy("event_type", "dow_iso", "hod")
    b = cells.withColumn("sum_n", F.sum("n").over(season)).withColumn(
        "n_cells", F.count(F.lit(1)).over(season)
    )
    high = F.col("n") * F.col("n_cells") >= F.lit(2) * F.col("sum_n")
    low = F.lit(2) * F.col("n") * F.col("n_cells") <= F.col("sum_n")
    return (
        b.filter(high | low)
        .select(
            "event_type",
            "hour",
            F.col("n").alias("n_events"),
            round_half_up(
                F.col("sum_n").cast("double") / F.col("n_cells").cast("double"), 3
            ).alias("seasonal_mean"),
            F.when(high, F.lit("high")).otherwise(F.lit("low")).alias("direction"),
        )
        .orderBy("event_type", "hour")
    )


_SEASONAL_OUTLIER_SQL = """
WITH cells AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(isodow(ts) AS BIGINT) AS dow_iso,
         CAST(hour(ts) AS BIGINT) AS hod,
         COUNT(*) AS n
  FROM events
  GROUP BY 1, 2, 3, 4),
b AS (
  SELECT *,
         CAST(SUM(n) OVER w AS BIGINT) AS sum_n,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_cells
  FROM cells
  WINDOW w AS (PARTITION BY event_type, dow_iso, hod))
SELECT event_type, hour, n AS n_events,
       CAST(FLOOR((CAST(sum_n AS DOUBLE) / CAST(n_cells AS DOUBLE)) * 1000.0 + 0.5)
            AS DOUBLE) / 1000.0 AS seasonal_mean,
       CASE WHEN n * n_cells >= 2 * sum_n THEN 'high' ELSE 'low' END AS direction
FROM b
WHERE n * n_cells >= 2 * sum_n OR 2 * n * n_cells <= sum_n
ORDER BY event_type, hour
"""


# --- autocorrelation ----------------------------------------------------------

ACF_LAGS = (1, 24)


def value_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-24 Pearson autocorrelation of hourly value sums per
    event type — the two numbers that say "is this series sticky
    hour-to-hour, and is it daily-seasonal?" (high lag-24 r justifies the
    dow×hour baseline `seasonal_residual_outliers` uses; low lag-1 r says
    CUSUM needs a wider window).

    Exactness: the series is hourly int64-cent cells; for each lag the
    (x_t, x_{t+k}) pairs come from a cell self-join on (type, hour+k) and
    ALL five moments are int64 sums; numerator and variance terms are
    int64 (|Σx| ≤ 1e9 ⇒ (Σx)² ≤ 1e18 < 2⁶³), so only the final
    sqrt/divide is IEEE — identical on identical integers, then
    round-half-up 6dp.

    Scale: cells ≤ |types|·|hours| (calendar-bounded); the lag join is a
    cell equi-join. Same cells-not-corpus story as the trend/CUSUM family.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = caching.materialize(
        ev.select(
            "event_type",
            F.expr("CAST(to_unix_timestamp(ts) div 3600 AS BIGINT)").alias("h"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("v_e2"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("v_e2").alias("s")),
        "value_autocorrelation.cells",
    )
    outs = []
    for k in ACF_LAGS:
        a = cells.select("event_type", "h", F.col("s").alias("x"))
        b = cells.select("event_type", (F.col("h") - k).alias("h"), F.col("s").alias("y"))
        m = (
            a.join(b, ["event_type", "h"])
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("x").alias("sx"),
                F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("y") * F.col("y")).alias("syy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"),
            )
            .withColumn("lag", F.lit(k).cast("long"))
        )
        outs.append(m)
    m = outs[0].unionByName(outs[1])
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    d1 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    d2 = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        m.select(
            "event_type",
            "lag",
            F.col("n").alias("n_pairs"),
            round_half_up(num / (F.sqrt(d1) * F.sqrt(d2)), 6).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


def _sql_acf() -> str:
    arms = []
    for k in ACF_LAGS:
        arms.append(f"""
  SELECT a.event_type, {k} AS lag,
         COUNT(*) AS n, SUM(a.s) AS sx, SUM(b.s) AS sy,
         SUM(a.s * a.s) AS sxx, SUM(b.s * b.s) AS syy, SUM(a.s * b.s) AS sxy
  FROM cells a JOIN cells b
    ON b.event_type = a.event_type AND b.h = a.h + {k}
  GROUP BY a.event_type""")
    union = " UNION ALL ".join(arms)
    from ..functions.scalars import sql_round_half_up

    r = sql_round_half_up(
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))",
        6,
    )
    return f"""
WITH cells AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS s
  FROM events GROUP BY 1, 2),
m AS ({union})
SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       {r} AS acf
FROM m
ORDER BY event_type, lag
"""


# --- Theil–Sen robust trend --------------------------------------------------


def daily_trend_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Theil–Sen trend of daily spend: the MEDIAN of all pairwise
    day-to-day slopes — the robust companion to `daily_value_trend`'s
    least-squares slope (one outlier day can drag LS arbitrarily; the
    slope median has a 29% breakdown point).

    Exactness: each pairwise slope is an integer in 1e-4-cents/day units
    ((Δsum_cents · 10⁴) intdiv Δdays — truncation-toward-zero division,
    verified identical in Spark `div` and DuckDB `//`); the median comes
    from the cell-CDF order-statistic pattern over (type, slope) counts.
    No float enters until the final display division.

    Scale (100 TB): the fact table collapses to |types|·|days| daily cells
    first, so the pairwise stage is O(days²) per type — CALENDAR-bounded
    (a year is ~66 k pairs), independent of row count. The same shape
    holds for any cells-first robust estimator.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("v_e2"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v_e2").alias("s_e2"))
    )
    per_type = Window.partitionBy("event_type")
    pts = daily.withColumn(
        "x", F.datediff(F.col("day"), F.min("day").over(per_type)).cast("long")
    ).select("event_type", "x", "s_e2")
    a = pts.select("event_type", F.col("x").alias("xa"), F.col("s_e2").alias("ya"))
    b = pts.select("event_type", F.col("x").alias("xb"), F.col("s_e2").alias("yb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            F.expr("((yb - ya) * 10000) div (xb - xa)").alias("slope_e4"),
        )
        .groupBy("event_type", "slope_e4")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy("slope_e4")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cdf = (
        slopes.withColumn("n_pairs", F.sum("cnt").over(per_type))
        .withColumn("running", F.sum("cnt").over(run))
        .withColumn("k", F.expr("(50 * n_pairs + 99) div 100"))
    )
    med = with_cdf.groupBy("event_type").agg(
        F.min(F.when(F.col("running") >= F.col("k"), F.col("slope_e4"))).alias("med_e4"),
        F.min("n_pairs").alias("n_pairs"),
    )
    n_days = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        med.join(n_days, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            (F.col("med_e4").cast("double") / F.lit(1e6)).alias("theilsen_slope_per_day"),
        )
        .orderBy("event_type")
    )


_THEILSEN_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS s_e2
  FROM events
  GROUP BY event_type, CAST(ts AS DATE)),
pts AS (
  SELECT event_type,
         CAST(datediff('day', MIN(day) OVER (PARTITION BY event_type), day) AS BIGINT) AS x,
         s_e2
  FROM daily),
slopes AS (
  SELECT a.event_type, ((b.s_e2 - a.s_e2) * 10000) // (b.x - a.x) AS slope_e4,
         COUNT(*) AS cnt
  FROM pts a JOIN pts b ON a.event_type = b.event_type AND a.x < b.x
  GROUP BY 1, 2),
cdf AS (
  SELECT *,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY slope_e4
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
  FROM slopes),
med AS (
  SELECT event_type,
         MIN(CASE WHEN running >= (50 * n_pairs + 99) // 100 THEN slope_e4 END) AS med_e4,
         MIN(n_pairs) AS n_pairs
  FROM cdf GROUP BY event_type),
nd AS (SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY event_type)
SELECT m.event_type,
       CAST(nd.n_days AS BIGINT) AS n_days,
       CAST(m.n_pairs AS BIGINT) AS n_pairs,
       CAST(m.med_e4 AS DOUBLE) / 1000000.0 AS theilsen_slope_per_day
FROM med m JOIN nd USING (event_type)
ORDER BY event_type
"""


QUERIES = {
    "cusum_alerts": cusum_alerts,
    "daily_value_trend": daily_value_trend,
    "daily_trend_theilsen": daily_trend_theilsen,
    "value_autocorrelation": value_autocorrelation,
    "seasonal_residual_outliers": seasonal_residual_outliers,
}
ORACLES = {
    "cusum_alerts": _CUSUM_SQL,
    "daily_value_trend": _TREND_SQL,
    "daily_trend_theilsen": _THEILSEN_SQL,
    "value_autocorrelation": _sql_acf(),
    "seasonal_residual_outliers": _SEASONAL_OUTLIER_SQL,
}
