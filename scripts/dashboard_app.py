"""Runnable Streamlit dashboard — the reference's only user-facing surface.

Usage (on a host with streamlit installed; this container ships none):

    streamlit run scripts/dashboard_app.py [-- --sf-dir /root/testdata/sf0.001]

Mirrors `/root/reference/src/visualization/dashboard.py:40-199` widget for
widget: sidebar vehicle selector + 1-168h window slider + auto-refresh
toggle (:52-56), the 4-KPI header row (:74-87), the speed gauge with the
max(120, min(1000, 1.2*v)) axis rule (:96-104), latest alerts with the
severity icons (:127-133), the fleet summary metric row (:137-150), the
driving-events grouped bar / km-per-intervention table pair (:153-165),
the per-1000km rate tables (:168-176), the engagement table (:179-181),
the perception stacked bar (:184-190), and the 5-second
``st.rerun()`` refresh loop (:192-199).

Differences, by design:
  - each refresh loads the events table once and runs all nine metric
    queries against ONE cached windowed Spark scan, building and collecting
    the nine frames concurrently, one thread per frame
    (``data_pipeline_for_autonomous_vehicles_spark.dashboard.chart_frames``), instead of the
    reference's nine fresh psycopg2 connections re-scanning storage;
  - no folium map: the engine's events schema carries a scalar ``value``
    reading, not lat/lon columns (the spatial operators read the dedicated
    telemetry tables instead);
  - plotly is optional — widgets degrade to ``st.bar_chart`` when absent.

The data contract this script consumes (the exact keys of
``chart_frames``) is pinned by ``tests/test_metrics.py`` /
``REQUIRED_FRAME_KEYS`` below, so the render payload stays tested even
though streamlit itself cannot run in this container (documented blocker,
COVERAGE.md "Visualization edge").
"""

from __future__ import annotations

import argparse
import sys

REQUIRED_FRAME_KEYS = frozenset(
    {
        "kpis",
        "speed_gauge",
        "events_bar",
        "perception_bar",
        "alerts",
        "km_per_intervention",
        "intervention_rate",
        "disengagement_rate",
        "engagement",
        "fleet",
    }
)

REFRESH_SECONDS = 5  # reference config/settings.yaml:20 streamlit.refresh_seconds


def _parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--cpus", default="4")
    args, _ = p.parse_known_args()
    return args


def main() -> int:
    try:
        import pandas as pd
        import streamlit as st
    except ImportError:
        sys.stderr.write(
            "streamlit is not installed in this environment.\n"
            "Install it on a host with an index route (`pip install "
            "streamlit plotly`) and run:\n"
            "    streamlit run scripts/dashboard_app.py\n"
            "The render payload itself is tested without streamlit "
            "(data_pipeline_for_autonomous_vehicles_spark.dashboard.chart_frames).\n"
        )
        return 2

    try:
        import plotly.express as px
        import plotly.graph_objects as go
    except ImportError:
        px = go = None

    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from data_pipeline_for_autonomous_vehicles_spark.dashboard import chart_frames, release
    from data_pipeline_for_autonomous_vehicles_spark.operators import metrics
    from data_pipeline_for_autonomous_vehicles_spark.session import get_spark

    args = _parse_args()

    @st.cache_resource
    def _spark():
        return get_spark("dashboard", master=f"local[{args.cpus}]")

    spark = _spark()

    st.title("Fleet Data — Self-Driving Performance Dashboard")
    st.caption(
        "Real-time metrics from fleet telemetry, perception events, and driving events"
    )

    # sidebar: vehicle selector + window slider + refresh toggle
    # (reference dashboard.py:46-56)
    vehicle_rows = metrics.vehicle_list(spark, args.sf_dir).collect()
    vehicle_options = ["All"] + [str(r[0]) for r in vehicle_rows]
    selected_vehicle = st.sidebar.selectbox("Vehicle", options=vehicle_options)
    hours = st.sidebar.slider("Time window (hours)", 1, 168, 24)
    auto_refresh = st.sidebar.checkbox("Auto-refresh", value=True)
    if auto_refresh:
        st.sidebar.caption(f"Refreshing every {REFRESH_SECONDS}s")

    vehicle_id = None if selected_vehicle == "All" else int(selected_vehicle)
    frames = chart_frames(spark, args.sf_dir, hours=hours, vehicle_id=vehicle_id)
    missing_keys = REQUIRED_FRAME_KEYS - set(frames)
    if missing_keys:
        # Explicit check (not `assert`, which -O strips): surface a readable
        # page error naming the drifted keys instead of a bare traceback.
        st.error(
            "chart_frames payload contract drifted — missing keys: "
            + ", ".join(sorted(missing_keys))
        )
        st.stop()

    # KPI row (reference :74-87)
    kpis = frames["kpis"]
    c1, c2, c3, c4 = st.columns(4)
    c1.metric("Vehicles with data", kpis["vehicles_with_data"])
    c2.metric("Alerts (latest)", kpis["alerts_latest"])
    c3.metric(
        "Interventions / disengagements", kpis["interventions_plus_disengagements"]
    )
    mpi_avg = kpis["avg_km_per_intervention"]
    c4.metric(
        "Avg km per intervention", f"{mpi_avg:.1f}" if mpi_avg is not None else "—"
    )

    # speed gauge (reference :96-104)
    st.subheader("Latest telemetry")
    gauge = frames["speed_gauge"]
    if go is not None:
        fig = go.Figure(
            go.Indicator(
                mode="gauge+number",
                value=gauge["value"],
                title={"text": "Speed (km/h)"},
                gauge={
                    "axis": {"range": [0, gauge["axis_max"]]},
                    "threshold": {
                        "line": {"color": "red"},
                        "value": gauge["threshold"],
                    },
                },
            )
        )
        fig.update_layout(height=200, margin=dict(l=20, r=20))
        st.plotly_chart(fig, use_container_width=True)
    else:
        st.metric("Speed (km/h)", f"{gauge['value']:.1f}")

    # alerts feed (reference :127-133)
    st.subheader("Latest alerts")
    alerts = frames["alerts"]
    if len(alerts):
        for _, row in alerts.head(10).iterrows():
            a_type = str(row.get("alert_type", ""))
            icon = "🚨" if "Speed" in a_type else "⚠️" if "Collision" in a_type else "🔋"
            st.markdown(
                f"{icon} **{a_type}** (V{row['vehicle_id']}) — {row['alert_message']}"
            )
    else:
        st.info("No alerts.")

    # fleet summary (reference :137-150)
    st.subheader(f"Fleet Self-Driving summary (last {hours} h)")
    fleet = frames["fleet"]
    if len(fleet):
        row = fleet.iloc[0]
        f1, f2, f3 = st.columns(3)
        f1.metric("Total km driven", f"{row.get('total_km_driven', 0):.1f}")
        f2.metric(
            "Total interventions + disengagements",
            int(row.get("total_interventions_plus_disengagements", 0)),
        )
        avg = row.get("fleet_avg_km_per_intervention")
        f3.metric(
            "Fleet avg km per intervention",
            f"{avg:.1f}" if pd.notna(avg) and avg else "—",
        )

    # driving events bar + km/intervention table (reference :153-165)
    st.subheader(f"Self-Driving metrics & driving events (last {hours} h)")
    col_a, col_b = st.columns(2)
    with col_a:
        ev = frames["events_bar"]
        if len(ev):
            if px is not None:
                st.plotly_chart(
                    px.bar(
                        ev,
                        x="vehicle_id",
                        y="event_count",
                        color="event_type",
                        barmode="group",
                        title="Driving events per vehicle",
                    ),
                    use_container_width=True,
                )
            else:
                st.bar_chart(ev, x="vehicle_id", y="event_count")
        else:
            st.write("No driving events in window.")
    with col_b:
        st.dataframe(frames["km_per_intervention"], use_container_width=True)

    # rate tables (reference :168-176)
    st.caption("Rates (per 1000 km) — lower is better for Self-Driving performance")
    r1, r2 = st.columns(2)
    r1.dataframe(frames["intervention_rate"], use_container_width=True)
    r2.dataframe(frames["disengagement_rate"], use_container_width=True)

    # engagement table (reference :179-181)
    st.caption("Autopilot engagement (% of records with autopilot engaged)")
    st.dataframe(frames["engagement"], use_container_width=True)

    # perception stacked bar (reference :184-190)
    st.subheader("Perception events (object classes)")
    pc = frames["perception_bar"]
    if len(pc):
        if px is not None:
            st.plotly_chart(
                px.bar(
                    pc,
                    x="object_class",
                    y="detection_count",
                    color="vehicle_id",
                    barmode="stack",
                    title="Detections by class",
                ),
                use_container_width=True,
            )
        else:
            st.bar_chart(pc, x="object_class", y="detection_count")
    else:
        st.info("No perception events in window.")

    release(spark)  # drop the per-refresh cache before the rerun cycle

    # refresh loop (reference :192-199)
    if auto_refresh:
        import time

        time.sleep(REFRESH_SECONDS)
        st.rerun()
    elif st.sidebar.button("Refresh"):
        st.rerun()

    return 0


if __name__ == "__main__":
    raise SystemExit(main())
