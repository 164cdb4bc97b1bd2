"""Traced-run instrumentation: spans around calls into each engine layer,
per-op Spark counts, and the event-log task metrics.

An untraced run records nothing: its Tracer is disabled. The harness wraps the engine's
public functions from the outside (module attributes are rebound, no
engine file changes), tags every op with its own Spark job group, and
after the run reads the uncompressed event log Spark wrote for it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "data_pipeline_for_autonomous_vehicles_spark"


class Tracer:
    """In-memory span list. A span is (name, op, start_s, end_s); `op` is
    the index of the op it belongs to (-1 for set-up). Counts sit next to
    the spans under the same names."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, int, float, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op = -1
        self._lock = threading.Lock()

    def span(self, name: str, t0: float, t1: float, op: int | None = None) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append((name, self.op if op is None else op, t0, t1))

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def gauge(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = value

    def total(self, name: str, ops: set[int]) -> float:
        return sum(t1 - t0 for n, op, t0, t1 in self.spans if n == name and op in ops)

    def calls(self, name: str, ops: set[int]) -> int:
        return sum(1 for n, op, _, _ in self.spans if n == name and op in ops)

    def wrap(self, name: str, fn):
        """`fn` with a span named `name` recorded around every call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.span(name, t0, time.perf_counter())

        return traced

    def patch(self, module, attr: str, name: str) -> None:
        """Rebind `module.attr` to a traced wrapper, and every loaded engine
        module that imported the same function by name."""
        original = getattr(module, attr)
        traced = self.wrap(name, original)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PACKAGE) and getattr(mod, attr, None) is original:
                setattr(mod, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": n, "op": op, "start_s": t0, "end_s": t1}
                        for n, op, t0, t1 in self.spans
                    ],
                    "counts": dict(self.counts),
                },
                f,
            )


def instrument(tracer: Tracer) -> None:
    """Spans around the engine layers every workload passes through."""
    from data_pipeline_for_autonomous_vehicles_spark import catalog, dashboard, sinks
    from data_pipeline_for_autonomous_vehicles_spark.operators import all_queries, metrics

    all_queries()  # import every operator module, so patch() sees their bindings
    tracer.patch(catalog, "load_table", "catalog.load_table")
    tracer.patch(catalog, "spread_small_scan", "catalog.spread_small_scan")
    tracer.patch(dashboard, "dashboard_snapshot", "dashboard.snapshot")
    tracer.patch(sinks, "append_stream_exactly_once", "sinks.append")
    for name in metrics.QUERIES:
        tracer.patch(metrics, name, "operators.build")
    from pyspark.sql.classic.dataframe import DataFrame

    DataFrame.toPandas = tracer.wrap("dashboard.to_pandas", DataFrame.toPandas)


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def read_eventlog(log_dir: str) -> dict:
    """Per-job task totals from the event log: job → group/batch, and per
    job the tasks, stages run, task time, shuffle, spill, GC and the
    records read by scans."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "query": props.get("sql.streaming.queryId"),
                        "stages": set(),
                        "task_ms": [],
                        "shuffle_write": 0,
                        "shuffle_read": 0,
                        "spill": 0,
                        "gc_ms": 0,
                        "records_read": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    info = ev["Task Info"]
                    job["stages"].add(ev["Stage ID"])
                    job["task_ms"].append((ev["Stage ID"], info["Finish Time"] - info["Launch Time"]))
                    sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
                    job["shuffle_write"] += sw["Shuffle Bytes Written"]
                    job["shuffle_read"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    job["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    job["gc_ms"] += m["JVM GC Time"]
                    job["records_read"] += m["Input Metrics"]["Records Read"]
    return jobs


def task_totals(jobs: list[dict]) -> dict[str, float]:
    """Sums over the given jobs' tasks. Skew is the median, over stages with
    at least two tasks, of the stage's max/median task time."""
    per_stage: dict[int, list[int]] = defaultdict(list)
    for job in jobs:
        for sid, ms in job["task_ms"]:
            per_stage[sid].append(ms)
    skews = [
        max(ms) / max(statistics.median(ms), 1)
        for ms in per_stage.values()
        if len(ms) >= 2
    ]
    return {
        "stages": len(per_stage),
        "tasks": sum(len(ms) for ms in per_stage.values()),
        "task_time_s": sum(sum(ms) for ms in per_stage.values()) / 1000.0,
        "shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
        "shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
        "spill_bytes": sum(j["spill"] for j in jobs),
        "gc_time_s": sum(j["gc_ms"] for j in jobs) / 1000.0,
        "records_read": sum(j["records_read"] for j in jobs),
        "task_skew": statistics.median(skews) if skews else 1.0,
    }
