"""Dashboard refresh API — the reference's refresh cycle as one engine call.

The reference dashboard fires 9 independent SQL queries per 5-second
refresh, each opening a fresh connection and re-scanning storage
(src/visualization/dashboard.py:60-68, src/metrics/queries.py:16-24). The
engine equivalent loads the events table ONCE per refresh and builds every
metric frame from that one DataFrame. Two caches are registered, lazily:
the windowed slice, and the per-vehicle rollup over it
(`metrics._vehicle_rollup`) that five of the frames project. Every
windowed metric plan reads one of them (Spark plan-matches the cached
fragment when the frame's plan is built), so storage is scanned for the
window once per refresh instead of nine times, and the five rollup frames
share one aggregation. Nothing is materialized up front: the first frame
to run fills each cache while the others wait on its blocks, then read it.

`chart_frames` is the render edge: it builds each frame and collects it
with `.toPandas()` on its own thread, so the nine small plans (a few
single-task stages each) overlap instead of queueing one after another.
`dashboard_snapshot` returns the same frames lazily, for callers that
collect themselves (SURVEY.md §3.1: collect only at the visualization
edge). Both caches go through `caching.materialize`; `release` drops them.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from . import caching
from .catalog import load_table
from .operators import metrics


def _load_events(spark: SparkSession, sf_dir: str, hours: int, as_of: str) -> DataFrame:
    """The refresh's one load of the events table, with its windowed slice
    and the per-vehicle rollup over it registered as (lazy) caches for the
    windowed metrics to read."""
    events = load_table(spark, sf_dir, "events")
    win = caching.materialize(metrics._win(events, hours, as_of), "dashboard.window")
    caching.materialize(metrics._vehicle_rollup(win), "dashboard.rollup")
    return events


def _frame_builders(
    events: DataFrame, hours: int, as_of: str, vehicle_id: int | None
) -> dict[str, Callable[[], DataFrame]]:
    """The nine chart metrics, name → builder of its frame over `events`."""
    win = dict(hours=hours, as_of=as_of)
    winv = dict(win, vehicle_id=vehicle_id)
    return {
        "driving_event_counts": partial(metrics.driving_event_counts_frame, events, **winv),
        "recent_alerts": partial(metrics.recent_alerts_frame, events, **winv),
        "latest_telemetry": partial(metrics.latest_telemetry_frame, events, vehicle_id=vehicle_id),
        "km_per_intervention": partial(metrics.km_per_intervention_frame, events, **winv),
        "intervention_rate": partial(metrics.intervention_rate_frame, events, **win),
        "disengagement_rate": partial(metrics.disengagement_rate_frame, events, **win),
        "perception_summary": partial(metrics.perception_summary_frame, events, **winv),
        "fleet_summary": partial(metrics.fleet_summary_frame, events, **win),
        "autopilot_engagement": partial(metrics.autopilot_engagement_frame, events, **winv),
    }


def dashboard_snapshot(
    spark: SparkSession,
    sf_dir: str,
    hours: int = metrics.DEFAULT_HOURS,
    as_of: str = metrics.AS_OF,
    vehicle_id: int | None = None,
) -> dict[str, DataFrame]:
    """The nine chart metrics plus the sidebar's vehicle list for one
    refresh, all built from one load of the events table and sharing the
    cached windowed slice and per-vehicle rollup. Returns name → DataFrame;
    call `.toPandas()` per frame at the render edge.

    The caches fill when the first frame that reads them runs, and live
    until `release(spark)` (or Spark's LRU evicts them); call it when the
    refresh cycle is done.
    """
    events = _load_events(spark, sf_dir, hours, as_of)
    builders = _frame_builders(events, hours, as_of, vehicle_id)
    frames = {name: build() for name, build in builders.items()}
    frames["vehicle_list"] = metrics.vehicle_list_frame(events)
    return frames


def release(spark: SparkSession) -> int:
    """Drop the refresh's window and rollup caches, with every other cache
    and checkpoint registered through `caching` (`release_plan_caches`,
    process-wide, so `spark` is not needed): the caller must be done with
    every frame built since the last release. Caches the caller persisted
    itself stay. Returns how many were released."""
    return caching.release_plan_caches()


def _collect(build: Callable[[], DataFrame]):
    return build().toPandas()


def chart_frames(
    spark: SparkSession,
    sf_dir: str,
    hours: int = metrics.DEFAULT_HOURS,
    as_of: str = metrics.AS_OF,
    vehicle_id: int | None = None,
) -> dict:
    """Render harness: one refresh cycle's CHART-READY pandas frames, shaped
    exactly as the reference dashboard feeds its widgets
    (`/root/reference/src/visualization/dashboard.py:74-194`):

    - ``kpis``             — the 4-metric header row (:74-87)
    - ``speed_gauge``      — value + axis_max + threshold for the speed
                             Indicator (:96-104, axis max(120, min(1000, 1.2·v)))
    - ``events_bar``       — driving events grouped-bar input
                             (x=vehicle_id, y=event_count, color=event_type, :157)
    - ``perception_bar``   — detections stacked-bar input
                             (x=object_class, y=detection_count, color=vehicle_id, :187)
    - ``alerts``, ``km_per_intervention``, ``intervention_rate``,
      ``disengagement_rate``, ``engagement``, ``fleet`` — the table widgets

    All aggregation stays in-engine over one load of the events table and
    one cached windowed scan; only the final bounded frames cross to pandas
    — the sole driver-side collect in the dashboard path, matching
    SURVEY.md §3.1's "collect only at the visualization edge" rule. Each of
    the nine frames is built and collected in its own thread; the first to
    read the window (or rollup) cache fills it, the rest wait and read it.
    `inheritable_thread_target` gives every thread the caller's job group
    and local properties, so the refresh's jobs are attributed and
    cancelled as one. The exception of the first failed frame (in table
    order) propagates once every thread has finished.
    """
    events = _load_events(spark, sf_dir, hours, as_of)
    builders = _frame_builders(events, hours, as_of, vehicle_id)
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        # wrap per task: each wrapper clones the caller's local properties,
        # and threads sharing one clone would overwrite each other's
        # spark.sql.execution.id while their queries run
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(_collect), build)
            for name, build in builders.items()
        }
        pdf = {name: f.result() for name, f in futures.items()}

    telemetry = pdf["latest_telemetry"]
    alerts = pdf["recent_alerts"]
    mpi = pdf["km_per_intervention"]
    # widget parity: the reference KPI sums event_count over the WHOLE
    # interventions_per_vehicle frame — all four event types, including
    # lane_change/hard_brake (reference dashboard.py:80, despite the
    # metric's label). Reproduced as-is so the rendered number matches.
    interventions = int(pdf["driving_event_counts"]["event_count"].sum())
    kpis = {
        "vehicles_with_data": int(len(telemetry)),
        "alerts_latest": int(len(alerts)),
        "interventions_plus_disengagements": interventions,
        "avg_km_per_intervention": (
            float(mpi["km_per_intervention"].mean()) if len(mpi) else None
        ),
    }
    # the engine's events schema carries the reading in `value`
    # (current_speed_kmh in the reference's telemetry rows)
    speed = float(telemetry.iloc[0]["value"]) if len(telemetry) else 0.0
    speed_gauge = {
        "value": speed,
        "axis_max": max(120.0, min(1000.0, speed * 1.2)),
        "threshold": 65.0,
    }
    return {
        "kpis": kpis,
        "speed_gauge": speed_gauge,
        "events_bar": pdf["driving_event_counts"],
        "perception_bar": pdf["perception_summary"],
        "alerts": alerts,
        "km_per_intervention": mpi,
        "intervention_rate": pdf["intervention_rate"],
        "disengagement_rate": pdf["disengagement_rate"],
        "engagement": pdf["autopilot_engagement"],
        "fleet": pdf["fleet_summary"],
    }
