"""Edge-case tests for the reference metrics (FIXTURES.md §6 checklist),
run over a reference-shaped fixture written as a parquet sf_dir."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from data_pipeline_for_autonomous_vehicles_spark.operators import metrics

T0 = dt.datetime(2024, 1, 20, 12, 0, 0)


def _ev(event_id, minutes, user_id, event_type, value):
    return Row(
        event_id=event_id,
        ts=T0 + dt.timedelta(minutes=minutes),
        user_id=user_id,
        event_type=event_type,
        value=None if value is None else float(value),
        props="{}",
    )


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    """events fixture with the §6 edge cases:
    - user 1: telemetry span 100 km, 4 interventions → rate 4/km·100
    - user 2: telemetry span 50 km, ZERO interventions → NULL km/interv
    - user 3: interventions but NO telemetry → absent from J1 left side
    - user 4: odometer regress (span clamps to 0 in rate metrics)
    - threshold rows: value exactly 65 (not violation), 19.999 (low), 10 (not risk)
    - user 6: one telemetry value NULL, one 30 (span 0), one disengagement
    - user 7: telemetry whose only value is NULL
    """
    rows = [
        _ev(1, 0, 1, "view", 100.0),
        _ev(2, 10, 1, "view", 200.0),
        _ev(3, 11, 1, "error", 50.0),
        _ev(4, 12, 1, "error", 50.0),
        _ev(5, 13, 1, "error", 50.0),
        _ev(6, 14, 1, "error", 50.0),
        _ev(7, 0, 2, "view", 10.0),
        _ev(8, 20, 2, "view", 60.0),
        _ev(9, 0, 3, "error", 42.0),
        _ev(10, 0, 4, "view", 500.0),
        _ev(11, 30, 4, "view", 400.0),  # regress
        _ev(12, 40, 5, "view", 65.0),  # exactly at speed limit → NOT a violation
        _ev(13, 41, 5, "view", 19.999),  # below 20 → Low Battery
        _ev(14, 42, 5, "error", 10.0),  # exactly 10 → NOT collision risk
        _ev(15, 50, 6, "view", None),
        _ev(16, 51, 6, "view", 30.0),
        _ev(17, 52, 6, "click", 5.0),
        _ev(18, 53, 7, "view", None),
    ]
    d = tmp_path_factory.mktemp("fixture_sf")
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        str(d / "events.parquet")
    )
    return str(d)


AS_OF = "2024-01-21 00:00:00"
EMPTY_AS_OF = "2024-03-01 00:00:00"  # its 24 h window holds no fixture row
ABSENT_VEHICLE = 99


def test_km_per_intervention_null_when_zero_events(spark, fixture_dir):
    out = {
        r["vehicle_id"]: r
        for r in metrics.km_per_intervention(
            spark, fixture_dir, hours=24, as_of=AS_OF
        ).collect()
    }
    assert out[1]["km_driven"] == 100.0
    assert out[1]["interventions"] == 4
    assert out[1]["km_per_intervention"] == 25.0
    # zero interventions → NULL rate, not 0 (queries.py:106-107)
    assert out[2]["interventions"] == 0
    assert out[2]["km_per_intervention"] is None
    # interventions without telemetry → not present (LEFT join keeps dist side)
    assert 3 not in out
    # MAX/MIN skip the NULL value; a vehicle with only NULL values has no span
    assert out[6]["km_driven"] == 0.0
    assert out[7]["km_driven"] is None
    assert metrics.km_per_intervention(
        spark, fixture_dir, hours=24, vehicle_id=ABSENT_VEHICLE, as_of=AS_OF
    ).collect() == []


def test_rate_clamps_odometer_regress(spark, fixture_dir):
    out = {
        r["vehicle_id"]: r
        for r in metrics.intervention_rate(spark, fixture_dir, hours=24, as_of=AS_OF).collect()
    }
    # user 4 span = GREATEST(0, 400-500)... max=500,min=400 → 100? No:
    # clamp is GREATEST(0, COALESCE(MAX)-COALESCE(MIN)) = 500-400 = 100.
    assert out[4]["km_driven"] == 100.0
    # user 1: 4 interventions over 100 km → 4 per 100km
    assert out[1]["rate_per_100km"] == 4.0
    # telemetry only → 0 events, rate 0; interventions only → absent
    assert out[2]["n_events"] == 0
    assert out[2]["rate_per_100km"] == 0.0
    assert 3 not in out
    # only NULL values → clamped span 0, so no rate
    assert out[7]["km_driven"] == 0.0
    assert out[7]["rate_per_100km"] is None
    diseng = {
        r["vehicle_id"]: r
        for r in metrics.disengagement_rate(spark, fixture_dir, hours=24, as_of=AS_OF).collect()
    }
    assert diseng[6]["n_events"] == 1
    assert diseng[1]["n_events"] == 0
    assert 3 not in diseng


def test_alert_threshold_strictness(spark, fixture_dir):
    alerts = metrics.alerts_batch(spark, fixture_dir).collect()
    by_type = {}
    for a in alerts:
        by_type.setdefault(a["alert_type"], []).append(a)
    # value == 65 exactly → NOT a speed violation (strict >, producer.py:79)
    speed_vehicles = {a["vehicle_id"] for a in by_type.get("Speed Violation", [])}
    assert 5 not in speed_vehicles
    # 19.999 < 20 → Low Battery fires (strict <, consumer.py:99)
    low = [a for a in by_type.get("Low Battery", []) if a["vehicle_id"] == 5]
    assert len(low) == 1
    assert low[0]["alert_message"] == "Vehicle 5 battery low (20.00%)"  # %.2f rounds display
    # value == 10 exactly → NOT collision risk (strict >, consumer.py:114)
    risk_vehicles = {a["vehicle_id"] for a in by_type.get("Collision Risk", [])}
    assert 5 not in risk_vehicles


def test_derive_alerts_scans_its_input_once(spark, sf_dir):
    """The three rules are one filter and one projection, so a batch (or a
    streaming micro-batch) reads its source once, not once per rule."""
    from data_pipeline_for_autonomous_vehicles_spark.catalog import load_table

    alerts = metrics.derive_alerts(load_table(spark, sf_dir, "events"))
    leaves = alerts._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert leaves.size() == 1
    assert "parquet" in leaves.apply(0).toString()


def test_latest_telemetry_deterministic_tiebreak(spark, tmp_path_factory):
    # duplicate (user, ts) rows → highest event_id wins (FIXTURES.md §6.4)
    rows = [
        _ev(1, 0, 9, "view", 1.0),
        _ev(2, 0, 9, "view", 2.0),
        _ev(3, 0, 9, "view", 3.0),
    ]
    d = tmp_path_factory.mktemp("tie_sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(str(d / "events.parquet"))
    out = metrics.latest_telemetry(spark, str(d)).collect()
    assert len(out) == 1
    assert out[0]["value"] == 3.0


def test_fleet_summary_single_row(spark, fixture_dir):
    row = metrics.fleet_summary(spark, fixture_dir, hours=24, as_of=AS_OF).collect()
    assert len(row) == 1
    r = row[0]
    # spans: u1=100, u2=50, u4=100, u5=45.001, u6=0, u7=0 → 295.0 (cents-exact)
    assert r["total_km"] == pytest.approx(295.0, abs=0.01)
    # user 3's interventions count although it has no telemetry
    assert r["total_interventions"] == 6
    assert r["km_per_intervention"] == pytest.approx(295.0 / 6, abs=0.01)
    # an empty window still gives one row: no km, no interventions
    empty = metrics.fleet_summary(spark, fixture_dir, hours=24, as_of=EMPTY_AS_OF).collect()
    assert [tuple(e) for e in empty] == [(None, 0, None)]


# the metrics that project metrics._vehicle_rollup
_ROLLUP_METRICS = (
    "km_per_intervention",
    "intervention_rate",
    "disengagement_rate",
    "fleet_summary",
    "autopilot_engagement",
)


@pytest.mark.parametrize("as_of", [AS_OF, EMPTY_AS_OF])
def test_rollup_metrics_equal_oracle_on_fixture(spark, fixture_dir, as_of):
    """The rollup projections equal their DuckDB twins (the reference's
    joins of aggregates) on the edge cases: interventions without
    telemetry, telemetry without interventions, NULL values, an empty
    window."""
    import duckdb

    from tools.check_oracle import _duckdb_typed_rows, _norm_rows

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{fixture_dir}/events.parquet/*.parquet'")
    for name in _ROLLUP_METRICS:
        sdf = metrics.QUERIES[name](spark, fixture_dir, hours=24, as_of=as_of)
        srows = [tuple(r) for r in sdf.collect()]
        sql = metrics.ORACLES[name].replace(metrics._sql_win(), metrics._sql_win(24, as_of))
        dcols, drows, _ = _duckdb_typed_rows(con, sql)
        assert sorted(sdf.columns) == sorted(dcols), name
        assert _norm_rows(sdf.columns, srows) == _norm_rows(dcols, drows), name
        if as_of == AS_OF and name != "fleet_summary":
            assert {r[0] for r in srows} == {1, 2, 4, 5, 6, 7}, name  # not user 3


def test_autopilot_engagement_edge_cases(spark, fixture_dir):
    def run(vehicle_id=None):
        return {
            r["vehicle_id"]: r
            for r in metrics.autopilot_engagement(
                spark, fixture_dir, hours=24, vehicle_id=vehicle_id, as_of=AS_OF
            ).collect()
        }

    out = run()
    assert 3 not in out  # interventions only
    # a NULL value counts as a telemetry row that is not engaged
    assert (out[6]["engaged_rows"], out[6]["total_rows"]) == (0, 2)
    assert (out[7]["engaged_rows"], out[7]["total_rows"], out[7]["engagement_pct"]) == (0, 1, 0.0)
    assert (out[1]["engaged_rows"], out[1]["total_rows"]) == (2, 2)
    assert run(vehicle_id=6) == {6: out[6]}
    assert run(vehicle_id=ABSENT_VEHICLE) == {}


def test_window_predicate_excludes_old_rows(spark, fixture_dir):
    # as_of far in the future → 24h window selects nothing
    out = metrics.driving_event_counts(
        spark, fixture_dir, hours=24, as_of="2024-03-01 00:00:00"
    ).collect()
    assert out == []


def test_dashboard_snapshot_matches_individual_queries(spark, sf_dir):
    from data_pipeline_for_autonomous_vehicles_spark import dashboard
    from data_pipeline_for_autonomous_vehicles_spark.operators import metrics as m

    snap = dashboard.dashboard_snapshot(spark, sf_dir)
    assert set(snap) == {
        "driving_event_counts", "recent_alerts", "vehicle_list",
        "latest_telemetry", "km_per_intervention", "intervention_rate",
        "disengagement_rate", "perception_summary", "fleet_summary",
        "autopilot_engagement",
    }
    # snapshot frames equal the standalone metric results
    a = {tuple(map(str, r)) for r in snap["km_per_intervention"].collect()}
    b = {tuple(map(str, r)) for r in m.km_per_intervention(spark, sf_dir).collect()}
    assert a == b
    assert snap["fleet_summary"].count() == 1
    dashboard.release(spark)


def test_dashboard_snapshot_vehicle_filter(spark, sf_dir):
    from data_pipeline_for_autonomous_vehicles_spark import dashboard

    snap = dashboard.dashboard_snapshot(spark, sf_dir, vehicle_id=3)
    tele = snap["latest_telemetry"].collect()
    assert len(tele) <= 1
    for r in snap["driving_event_counts"].collect():
        assert r["vehicle_id"] == 3
    dashboard.release(spark)


def test_chart_frames_render_harness(spark, sf_dir):
    """chart_frames must produce the reference dashboard's widget inputs
    (dashboard.py:74-194): KPI header, speed gauge spec (axis max(120,
    min(1000, 1.2·v)), threshold 65), grouped/stacked bar frames with the
    exact plotly axis columns, and the table frames — all consistent with
    the underlying metric queries."""
    from data_pipeline_for_autonomous_vehicles_spark import dashboard
    from data_pipeline_for_autonomous_vehicles_spark.operators import metrics

    frames = dashboard.chart_frames(spark, sf_dir)
    assert set(frames) == {
        "kpis", "speed_gauge", "events_bar", "perception_bar", "alerts",
        "km_per_intervention", "intervention_rate", "disengagement_rate",
        "engagement", "fleet",
    }
    k = frames["kpis"]
    assert k["vehicles_with_data"] == metrics.latest_telemetry(spark, sf_dir).count()
    assert k["alerts_latest"] == metrics.recent_alerts(spark, sf_dir).count()
    assert k["interventions_plus_disengagements"] >= 0
    g = frames["speed_gauge"]
    assert g["threshold"] == 65.0
    assert g["axis_max"] == max(120.0, min(1000.0, g["value"] * 1.2))
    # the plotly bar inputs carry the reference's exact axis columns
    assert {"vehicle_id", "event_type", "event_count"} <= set(frames["events_bar"].columns)
    assert {"vehicle_id", "object_class", "detection_count"} <= set(
        frames["perception_bar"].columns
    )
    assert len(frames["events_bar"]) == metrics.driving_event_counts(spark, sf_dir).count()
    dashboard.release(spark)


def test_dashboard_app_contract_and_graceful_degrade(spark, sf_dir):
    """The runnable Streamlit entry (scripts/dashboard_app.py) consumes
    exactly the chart_frames payload — its REQUIRED_FRAME_KEYS must stay
    in lockstep — and exits with a clear message (code 2) when streamlit
    is absent, which is this container's documented state."""
    import importlib.util
    import subprocess
    import sys as _sys

    spec = importlib.util.spec_from_file_location(
        "dashboard_app", "/root/repo/scripts/dashboard_app.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # import must not require streamlit

    from data_pipeline_for_autonomous_vehicles_spark import dashboard

    frames = dashboard.chart_frames(spark, sf_dir)
    assert mod.REQUIRED_FRAME_KEYS == set(frames)
    dashboard.release(spark)

    try:
        import streamlit  # noqa: F401
    except ImportError:
        proc = subprocess.run(
            [_sys.executable, "/root/repo/scripts/dashboard_app.py"],
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert proc.returncode == 2
        assert "streamlit" in proc.stderr


# chart frame → (metric function, whether it takes the vehicle filter)
_CHART_METRICS = {
    "events_bar": (metrics.driving_event_counts, True),
    "perception_bar": (metrics.perception_summary, True),
    "alerts": (metrics.recent_alerts, True),
    "km_per_intervention": (metrics.km_per_intervention, True),
    "engagement": (metrics.autopilot_engagement, True),
    "intervention_rate": (metrics.intervention_rate, False),
    "disengagement_rate": (metrics.disengagement_rate, False),
    "fleet": (metrics.fleet_summary, False),
}


@pytest.mark.parametrize("vehicle_id", [None, 14])
def test_chart_frames_equal_standalone_metrics(spark, sf_dir, vehicle_id):
    """Every frame a refresh builds and collects on its own thread equals
    its metric function's own toPandas(), row order included."""
    from pandas.testing import assert_frame_equal

    from data_pipeline_for_autonomous_vehicles_spark import dashboard

    frames = dashboard.chart_frames(spark, sf_dir, vehicle_id=vehicle_id)
    dashboard.release(spark)
    for key, (fn, scoped) in _CHART_METRICS.items():
        kwargs = {"vehicle_id": vehicle_id} if scoped else {}
        assert_frame_equal(frames[key], fn(spark, sf_dir, **kwargs).toPandas(), obj=key)
    telemetry = metrics.latest_telemetry(spark, sf_dir, vehicle_id=vehicle_id).toPandas()
    assert frames["kpis"]["vehicles_with_data"] == len(telemetry)
    assert frames["speed_gauge"]["value"] == float(telemetry.iloc[0]["value"])


def test_chart_frames_jobs_carry_caller_job_group(spark, sf_dir):
    """The frames' jobs run on pool threads; each must still carry the
    caller's job group, which per-op job accounting and cancellation use."""
    from data_pipeline_for_autonomous_vehicles_spark import dashboard

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("chart-frames-test", "one dashboard refresh")
    try:
        dashboard.chart_frames(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        dashboard.release(spark)
    # at least one job per collected frame (the caches fill inside them)
    assert len(tracker.getJobIdsForGroup("chart-frames-test")) >= 9
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_dashboard_loads_events_once_per_refresh(spark, sf_dir, monkeypatch):
    from data_pipeline_for_autonomous_vehicles_spark import catalog, dashboard

    calls = []
    original = catalog.load_table

    def counting(*args, **kwargs):
        calls.append(args[2])
        return original(*args, **kwargs)

    for module in (catalog, dashboard, metrics):
        monkeypatch.setattr(module, "load_table", counting)
    dashboard.chart_frames(spark, sf_dir, vehicle_id=14)
    dashboard.release(spark)
    assert calls == ["events"]
    dashboard.dashboard_snapshot(spark, sf_dir)
    dashboard.release(spark)
    assert calls == ["events", "events"]


@pytest.mark.parametrize("vehicle_id", [None, 14])
def test_dashboard_windowed_frames_read_the_cache(spark, sf_dir, vehicle_id):
    """The one-scan design rests on Spark matching each windowed frame's
    plan to the cached window, and each rollup frame's plan to the cached
    per-vehicle rollup; a refactor that breaks the match would silently
    re-scan storage (or re-aggregate) per frame."""
    from data_pipeline_for_autonomous_vehicles_spark import dashboard

    snap = dashboard.dashboard_snapshot(spark, sf_dir, vehicle_id=vehicle_id)
    try:
        for name, df in snap.items():
            if name in ("latest_telemetry", "vehicle_list"):  # not windowed
                continue
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" in plan, name
            if name in _ROLLUP_METRICS:
                # reads the cached rollup, and projects it without a join
                assert any(
                    "InMemoryRelation" in line and "n_tele" in line for line in plan.splitlines()
                ), name
                assert "Join" not in plan, name
    finally:
        dashboard.release(spark)


def test_dashboard_release_keeps_caller_caches(spark, sf_dir):
    """release() drops the refresh's window cache but, unlike the
    session-wide clearCache(), leaves caches the caller owns."""
    from data_pipeline_for_autonomous_vehicles_spark import catalog, dashboard

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    own = spark.range(7).cache()
    own.count()
    try:
        dashboard.dashboard_snapshot(spark, sf_dir)
        assert dashboard.release(spark) >= 1
        assert cache_manager.lookupCachedData(own._jdf).isDefined()
        fresh = metrics.fleet_summary_frame(catalog.load_table(spark, sf_dir, "events"))
        assert "InMemoryRelation" not in fresh._jdf.queryExecution().optimizedPlan().toString()
    finally:
        own.unpersist()
