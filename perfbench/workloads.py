"""The three closed-loop, single-client workloads.

Each workload has a cold pass (run once during set-up, outputs kept for
the check), a timed op sequence, and a correctness check that runs after
the timed region. Ops call the engine only through its public functions.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data_pipeline_for_autonomous_vehicles_spark import caching, catalog, dashboard, sinks
from data_pipeline_for_autonomous_vehicles_spark.operators import all_oracles, all_queries, metrics
from data_pipeline_for_autonomous_vehicles_spark.sources import replay

from inputs import Sizes
from oracle import Oracle, loose_frame, typed
from tracing import Tracer


@dataclass
class Op:
    kind: str
    params: dict = field(default_factory=dict)
    latency_s: float = 0.0
    rows_in: int = 0
    rows_out: int = 0
    ok: bool = False
    error: str | None = None
    result: object = None


@dataclass
class Ctx:
    spark: object
    data_dir: str
    tmp_dir: str
    seed: int
    sizes: Sizes
    rows: dict[str, int]
    tracer: Tracer
    rng: np.random.Generator = field(init=False)

    def __post_init__(self):
        # op parameters draw from their own stream, apart from the inputs'
        self.rng = np.random.default_rng([self.seed, 99])

    def begin(self, op_index: int, kind: str) -> None:
        """Tag the Spark jobs and spans that follow with this op."""
        self.tracer.op = op_index
        self.spark.sparkContext.setJobGroup(f"op{op_index}", kind)


def _fail(op: Op, exc: BaseException) -> None:
    op.error = f"{type(exc).__name__}: {exc}"
    traceback.print_exc()


def persisted_state(spark) -> tuple[int, float]:
    """(persisted RDD count, MB held in memory and on disk by them)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return jsc.getPersistentRDDs().size(), mb


def release(ctx: Ctx, fn) -> None:
    """Run a workload's between-ops release `fn`; a traced run also records
    what a timed op's release released and what stayed persisted."""
    t0 = time.perf_counter()
    n = fn()
    ctx.tracer.span("caching.release", t0, time.perf_counter())
    if ctx.tracer.enabled and ctx.tracer.op >= 0:
        ctx.tracer.count("caching.released_count", n or 0)
        rdds, mb = persisted_state(ctx.spark)
        ctx.tracer.gauge("caching.persisted_rdds_after_release", rdds)
        ctx.tracer.gauge("caching.storage_mb_after_release", mb)


# --- fleet_dashboard ---------------------------------------------------------

# chart frame → (metric whose oracle twin produces it, filtered to the vehicle)
CHART_FRAMES = {
    "events_bar": ("driving_event_counts", True),
    "perception_bar": ("perception_summary", True),
    "alerts": ("recent_alerts", True),
    "km_per_intervention": ("km_per_intervention", True),
    "engagement": ("autopilot_engagement", True),
    "intervention_rate": ("intervention_rate", False),
    "disengagement_rate": ("disengagement_rate", False),
    "fleet": ("fleet_summary", False),
}


def _window_sql(as_of: str, hours: int) -> str:
    return f"ts > TIMESTAMP '{as_of}' - INTERVAL {hours} HOURS"


class FleetDashboard:
    """op = one `dashboard.chart_frames` refresh with a seeded window and
    vehicle filter; every refresh's frames are checked."""

    name = "fleet_dashboard"
    tables = ("events",)
    sizes = Sizes()
    nominal_op_s = 3.3

    def _params(self, ctx: Ctx) -> dict:
        day = int(ctx.rng.integers(10, 32))
        hour = int(ctx.rng.integers(0, 24))
        vehicle = int(ctx.rng.integers(0, ctx.sizes.vehicles))
        return {
            "as_of": f"2024-01-{day:02d} {hour:02d}:00:00",
            "hours": int(ctx.rng.choice([24, 72, 168, 360])),
            "vehicle_id": vehicle if ctx.rng.random() < 0.5 else None,
        }

    def _refresh(self, ctx: Ctx, i: int, params: dict) -> Op:
        op = Op(self.name, params=params, rows_in=ctx.rows["events"])
        ctx.begin(i, self.name)
        t0 = time.perf_counter()
        try:
            op.result = dashboard.chart_frames(ctx.spark, ctx.data_dir, **params)
            op.latency_s = time.perf_counter() - t0
            op.rows_out = sum(len(v) for v in op.result.values() if hasattr(v, "columns"))
        except Exception as exc:
            _fail(op, exc)
        release(ctx, lambda: dashboard.release(ctx.spark))
        return op

    def setup(self, ctx: Ctx) -> list[Op]:
        defaults = {"as_of": metrics.AS_OF, "hours": metrics.DEFAULT_HOURS, "vehicle_id": None}
        return [self._refresh(ctx, -1, defaults)]

    def run(self, ctx: Ctx, n_ops: int) -> list[Op]:
        params = [self._params(ctx) for _ in range(n_ops)]
        return [self._refresh(ctx, i, p) for i, p in enumerate(params)]

    def check(self, ctx: Ctx, ops: list[Op], cold: list[Op]) -> None:
        oracles = all_oracles()
        default_win = _window_sql(metrics.AS_OF, metrics.DEFAULT_HOURS)
        oracle = Oracle(ctx.data_dir, self.tables)
        try:
            for op in cold + ops:
                if op.error:
                    continue
                p = op.params
                win = _window_sql(p["as_of"], p["hours"])
                expected = {}
                for scoped in (False, True):
                    vid = p["vehicle_id"] if scoped else None
                    oracle.view("events", "" if vid is None else f"WHERE user_id = {vid}")
                    for key, (metric, s) in CHART_FRAMES.items():
                        if s == scoped:
                            sql = oracles[metric]
                            if default_win not in sql:
                                raise ValueError(f"oracle of {metric} has no default window")
                            expected[key] = oracle.loose_rows(sql.replace(default_win, win))
                    if scoped:
                        expected["latest_telemetry"] = oracle.loose_rows(oracles["latest_telemetry"])
                op.ok = all(
                    loose_frame(op.result[key]) == expected[key] for key in CHART_FRAMES
                ) and _same_kpis(op.result["kpis"], _kpis(expected))
        finally:
            oracle.close()


def _column(frame: tuple, name: str) -> list:
    cols, rows = frame
    i = cols.index(name)
    return [r[i][1] for r in rows if r[i][0] != "null"]


def _kpis(expected: dict) -> dict:
    """The dashboard's KPI row: the average is the pandas mean of the
    column, NaN when every row's value is NULL, None when there are no rows."""
    km = _column(expected["km_per_intervention"], "km_per_intervention")
    if not expected["km_per_intervention"][1]:
        avg_km = None
    else:
        avg_km = float(np.mean(km)) if km else math.nan
    return {
        "vehicles_with_data": len(expected["latest_telemetry"][1]),
        "alerts_latest": len(expected["alerts"][1]),
        "interventions_plus_disengagements": int(sum(_column(expected["events_bar"], "event_count"))),
        "avg_km_per_intervention": avg_km,
    }


def _same_kpis(got: dict, want: dict) -> bool:
    """Exact, except the float mean, whose summation order differs."""
    if got.keys() != want.keys():
        return False
    for k, v in want.items():
        w = got[k]
        if isinstance(v, float) and isinstance(w, float):
            if not (math.isclose(v, w, rel_tol=1e-12) or (math.isnan(v) and math.isnan(w))):
                return False
        elif v != w:
            return False
    return True


# --- curation_batch ----------------------------------------------------------

# the heavy `bench.py v2` families this workload cycles through, with the
# input tables each reads (its rows count towards rows_per_s): the CC loop,
# the composed funnel with its eager construction jobs and plan caches, and
# the spread_small_scan'd vector index
CURATION = {
    "near_dup_clusters": ("documents",),
    "curation_funnel_report": ("documents",),
    "ann_ivfpq_topk": ("embeddings",),
}


class CurationBatch:
    """op = one heavy curation query executed to the `noop` sink, then
    `release_plan_caches`. The cold pass collects each query once, and the
    check collects each once more after the timed ops (same session, same
    release between them); both are compared with the DuckDB oracle, and
    the second one vouches for the timed ops of its query."""

    name = "curation_batch"
    tables = ("documents", "embeddings")
    sizes = Sizes()
    nominal_op_s = 3.3  # one round of the three queries per 10 s

    def _op(self, ctx: Ctx, i: int, kind: str, collect: bool) -> Op:
        op = Op(kind, rows_in=sum(ctx.rows[t] for t in CURATION[kind]))
        ctx.begin(i, kind)
        t0 = time.perf_counter()
        try:
            df = all_queries()[kind](ctx.spark, ctx.data_dir)
            t1 = time.perf_counter()
            if collect:
                op.result = typed(df.columns, [tuple(r) for r in df.collect()])
                op.rows_out = len(op.result[1])
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            op.latency_s = t2 - t0
            ctx.tracer.span("operators.build", t0, t1)
            ctx.tracer.span("operators.execute", t1, t2)
        except Exception as exc:
            _fail(op, exc)
        release(ctx, caching.release_plan_caches)
        return op

    def setup(self, ctx: Ctx) -> list[Op]:
        return [self._op(ctx, -1, kind, collect=True) for kind in CURATION]

    def run(self, ctx: Ctx, n_ops: int) -> list[Op]:
        kinds = list(CURATION)
        return [self._op(ctx, i, kinds[i % len(kinds)], collect=False) for i in range(n_ops)]

    def check(self, ctx: Ctx, ops: list[Op], cold: list[Op]) -> None:
        # a wrong result that shows only on a repeated run (a stale or
        # leaked plan cache) shows in these
        after = {kind: self._op(ctx, -2, kind, collect=True) for kind in CURATION}
        oracles = all_oracles()
        oracle = Oracle(ctx.data_dir, self.tables)
        try:
            expected = {kind: oracle.rows(oracles[kind]) for kind in CURATION}
        finally:
            oracle.close()
        for op in cold + list(after.values()):
            op.ok = op.error is None and op.result == expected[op.kind]
        for op in ops:
            op.ok = op.error is None and after[op.kind].ok
            op.rows_out = after[op.kind].rows_out


# --- alert_stream ------------------------------------------------------------

BUCKET_S = 200
WARM_BUCKETS = 5  # the cold pass drains the first five buckets


class AlertStream:
    """op = one micro-batch. The backlog is split into 200 s buckets and
    drained with `availableNow` (one bucket per micro-batch) through
    `derive_alerts` into the exactly-once partitioned parquet sink. A drain
    starts from a fresh checkpoint and output directory; the timed region
    runs whole drains, the cold pass a drain of the first buckets only."""

    name = "alert_stream"
    tables = ("events",)
    # 20 events/s, the reference producer's designed rate, for 5,000 s: 25
    # micro-batches of ~4,000 events
    sizes = Sizes(events=100_000, event_seconds=5_000)
    nominal_op_s = 0.5

    def setup(self, ctx: Ctx) -> list[Op]:
        # input rows of each micro-batch: batch b reads the b-th bucket
        ts = pq.read_table(os.path.join(ctx.data_dir, "events.parquet"), columns=["ts"])
        us = ts.column("ts").cast(pa.int64()).to_numpy()
        self.bucket_events = np.unique(us // (BUCKET_S * 1_000_000), return_counts=True)[1].tolist()
        events = catalog.load_table(ctx.spark, ctx.data_dir, "events")
        self.schema = events.schema
        self.bucket_dir = os.path.join(ctx.tmp_dir, "buckets")
        t0 = time.perf_counter()
        self.n_buckets = replay.split_by_time_bucket(
            events, self.bucket_dir, time_col="ts", bucket_seconds=BUCKET_S
        )
        ctx.tracer.span("sources.replay.split", t0, time.perf_counter())
        # copies keep the files' mtimes, so the replay order holds
        warm_dir = os.path.join(ctx.tmp_dir, "warm-buckets")
        parts = sorted(p for p in os.listdir(self.bucket_dir) if p.startswith("replay_bucket="))
        for part in parts[:WARM_BUCKETS]:
            shutil.copytree(os.path.join(self.bucket_dir, part), os.path.join(warm_dir, part))
        self.drains: list[tuple[str, int, list[Op]]] = []
        return self._drain(ctx, None, warm_dir, min(WARM_BUCKETS, self.n_buckets))

    def _drain(self, ctx: Ctx, first_op: int | None, bucket_dir: str, n_buckets: int) -> list[Op]:
        """One availableNow drain of the first `n_buckets` buckets, which
        `bucket_dir` holds; `first_op` is the op index of its first
        micro-batch, None for the cold pass."""
        d = len(self.drains)
        out = os.path.join(ctx.tmp_dir, f"alerts-{d}")
        ctx.begin(-1 if first_op is None else first_op, self.name)
        stream, _ = replay.replay_stream(ctx.spark, bucket_dir, self.schema, bucket_seconds=BUCKET_S)

        def sink(batch_df, batch_id):
            ctx.tracer.op = -1 if first_op is None else first_op + batch_id
            sinks.append_stream_exactly_once(
                batch_df, batch_id, out, time_col="time", sort_cols=("vehicle_id",)
            )

        query = (
            metrics.derive_alerts(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(ctx.tmp_dir, f"ckpt-{d}"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        finally:
            query.stop()
        ops = []
        for p in query.recentProgress:
            if p.numInputRows == 0:
                continue
            # not numInputRows: that sums the rows of every scan of the
            # source, and derive_alerts may scan it more than once
            op = Op(self.name, params={"batch": p.batchId, "run": str(query.runId)},
                    rows_in=self.bucket_events[p.batchId])
            op.latency_s = p.durationMs["triggerExecution"] / 1000.0
            op.result = p
            ops.append(op)
        self.drains.append((out, n_buckets, ops))
        return ops

    def run(self, ctx: Ctx, n_ops: int) -> list[Op]:
        ops: list[Op] = []
        for _ in range(max(1, round(n_ops / self.n_buckets))):
            ops += self._drain(ctx, len(ops), self.bucket_dir, self.n_buckets)
        return ops

    def check(self, ctx: Ctx, ops: list[Op], cold: list[Op]) -> None:
        """Every drain's rows, batch by batch, must equal the oracle's alerts
        for that batch's event-time bucket; a whole drain's rows must equal
        `alerts_batch` on the same backlog (and the cold drain's the
        oracle's alerts of its buckets)."""
        sql = all_oracles()["alerts_batch"]
        batch = metrics.alerts_batch(ctx.spark, ctx.data_dir)
        alert_cols = batch.columns
        oracle = Oracle(ctx.data_dir, self.tables)
        try:
            expected_all = oracle.rows(sql)
            spark_ok = typed(alert_cols, [tuple(r) for r in batch.collect()]) == expected_all
            buckets = [
                b for (b,) in oracle.con.execute(
                    f"SELECT DISTINCT floor(epoch(ts) / {BUCKET_S}) b FROM events ORDER BY b"
                ).fetchall()
            ]
            per_bucket = {
                b: oracle.rows(
                    f"SELECT * FROM ({sql}) WHERE floor(epoch(time) / {BUCKET_S}) = {b}"
                )
                for b in buckets
            }
            for d, (out, n_buckets, drain_ops) in enumerate(self.drains):
                files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
                if d > 0:  # the timed drains
                    ctx.tracer.count("sinks.files_written", len(files))
                written = oracle.fetch(
                    f"SELECT batch_id, {', '.join(alert_cols)} FROM "
                    f"read_parquet({files!r}, hive_partitioning = true)"
                ) if files else []
                expected = expected_all if n_buckets == len(buckets) else (
                    expected_all[0],
                    tuple(sorted(r for b in buckets[:n_buckets] for r in per_bucket[b][1])),
                )
                drain_ok = spark_ok and typed(alert_cols, [r[1:] for r in written]) == expected
                for op in drain_ops:
                    b = op.params["batch"]
                    got = typed(alert_cols, [r[1:] for r in written if r[0] == b])
                    op.ok = drain_ok and b < len(buckets) and got == per_bucket[buckets[b]]
                    op.rows_out = len(got[1])
        finally:
            oracle.close()


WORKLOADS = {w.name: w for w in (FleetDashboard, CurationBatch, AlertStream)}
