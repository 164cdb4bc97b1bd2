"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The inputs are generated from the seed
into a private temp directory under the checkout, the engine runs in a
fresh local Spark session, and the last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics (see
BENCHMARK.json and perfbench/README.md). A run record with every op's
latency, the spans and the deterministic counters is kept under
`.perfbench_runs/`.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import tracing as tr  # noqa: E402
from inputs import TINY, write_inputs  # noqa: E402
COUNTERS_FILE = os.path.join(HERE, "counters.json")
BYTES_TOLERANCE = 0.001  # relative; counts of jobs, stages, tasks and rows must match exactly

# Task threads: two (never more than nproc). On a 4-core host local[2]
# gave steadier medians than local[4]; see perfbench/README.md.
THREADS = min(2, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (smoke run)")
    p.add_argument(
        "--record-counters",
        action="store_true",
        help="with --trace 1: add this run's deterministic counters to perfbench/counters.json",
    )
    return p.parse_args(argv)


def hermetic_env(tmp: str) -> None:
    """Point every scratch location of Spark, the JVM and Python into `tmp`."""
    for sub in ("local", "java", "py"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}/java -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(THREADS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    tempfile.tempdir = os.environ["TMPDIR"]
    # collected timestamps are converted in the process's local zone; the
    # session and the oracle work in UTC
    os.environ["TZ"] = "UTC"
    time.tzset()


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, tmp: str, stem: str) -> tuple[dict, dict]:
    """Returns (result line, run record); a traced run also writes its
    spans to `<stem>-spans.json`."""
    from workloads import WORKLOADS, Ctx

    from data_pipeline_for_autonomous_vehicles_spark.session import get_spark

    wl = WORKLOADS[args.workload]()
    sizes = TINY if args.tiny else wl.sizes
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "threads": THREADS,
        "loadavg_start": os.getloadavg(),
    }
    data_dir = os.path.join(tmp, "data")
    rows = write_inputs(data_dir, args.seed, sizes, wl.tables)
    info["input_rows"] = rows

    tracer = tr.Tracer(bool(args.trace))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    log_dir = os.path.join(tmp, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update(tr.eventlog_conf(log_dir))
        tr.instrument(tracer)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", extra_conf=conf)
    tracer.span("session.get_spark", t0, time.perf_counter())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = Ctx(spark, data_dir, tmp, args.seed, sizes, rows, tracer)
        cold = wl.setup(ctx)
        setup_s = time.perf_counter() - PROCESS_START

        n_ops = max(1, round(args.seconds / wl.nominal_op_s))
        t0 = time.perf_counter()
        ops = wl.run(ctx, n_ops)
        wall_s = time.perf_counter() - t0

        ctx.begin(-2, "check")  # jobs and spans of the check belong to no op
        wl.check(ctx, ops, cold)
        rss = {
            "python": vm_hwm_mb("self"),
            "jvm": vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid()),
        }
        jobs_per_op = job_counts(spark, ops) if args.trace else {}
    finally:
        stop_spark(spark)

    done = [op for op in ops if op.error is None]
    p50 = statistics.median(op.latency_s for op in done) if done else 0.0
    n_ok = sum(op.ok for op in ops)
    info.update(
        loadavg_end=os.getloadavg(),
        peak_rss_mb=rss,
        ops=[
            {"kind": op.kind, "latency_s": op.latency_s, "ok": op.ok, "error": op.error}
            for op in cold + ops
        ],
    )
    if args.trace:
        jobs = tr.read_eventlog(log_dir)
        metrics, counters = layer_metrics(wl.name, tracer, ops, jobs, jobs_per_op)
        metrics["memory.peak_rss_mb"] = (sum(rss.values()), "MB")
        metrics["trace.latency_p50_s"] = (p50, "s")
        key = f"{wl.name}/seed{args.seed}/{'tiny' if args.tiny else 'std'}"
        metrics["counters.changed"] = (compare_counters(key, counters, args.record_counters), "count")
        info["counters"] = counters
        tracer.dump(stem + "-spans.json")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "latency_p50_s": (p50, "s"),
            "rows_per_s": (sum(op.rows_in for op in done) / wall_s, "1/s"),
            "success_ratio": (n_ok / len(ops), "ratio"),
        }
    result = {
        "correct": n_ok == len(ops) and all(op.ok for op in cold),
        "attempted": len(ops),
        "failed": len(ops) - n_ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    info["result"] = result
    return result, info


def job_counts(spark, ops) -> dict[int, int]:
    """Jobs per timed op from the status tracker (ops run under `op<i>`)."""
    st = spark.sparkContext.statusTracker()
    return {i: len(st.getJobIdsForGroup(f"op{i}")) for i in range(len(ops))}


def _stream_op_jobs(ops, jobs: dict) -> dict[int, list[dict]]:
    """Streaming jobs carry the query run id as their job group and the
    micro-batch id as a property; map them to the timed ops."""
    by_batch = {(op.params["run"], str(op.params["batch"])): i for i, op in enumerate(ops)}
    out: dict[int, list[dict]] = {}
    for job in jobs.values():
        i = by_batch.get((job["group"], job["batch"]))
        if i is not None:
            out.setdefault(i, []).append(job)
    return out


def layer_metrics(name: str, tracer, ops, jobs: dict, jobs_per_op: dict) -> tuple[dict, dict]:
    """Per-layer metrics (means per timed op unless stated) and the
    deterministic counters of the run."""
    n = max(len(ops), 1)
    idx = set(range(len(ops)))
    if name == "alert_stream":
        op_jobs = _stream_op_jobs(ops, jobs)
        jobs_per_op = {i: len(js) for i, js in op_jobs.items()}
    else:
        op_jobs = {}
        for job in jobs.values():
            g = job["group"] or ""
            if g.startswith("op") and g[2:].isdigit() and int(g[2:]) in idx:
                op_jobs.setdefault(int(g[2:]), []).append(job)
    tot = tr.task_totals([j for js in op_jobs.values() for j in js])

    def per_op(span: str) -> float:
        return tracer.total(span, idx) / n

    progress = [op.result for op in ops] if name == "alert_stream" else []
    dur = [p.durationMs for p in progress]
    # events in the timed micro-batches' buckets (numInputRows would count
    # every scan of the source, which is what this ratio is to show)
    events = sum(op.rows_in for op in ops) if progress else 0
    m = {
        "session.get_spark_s": (tracer.total("session.get_spark", {-1}), "s"),
        "catalog.load_table_calls": (tracer.calls("catalog.load_table", idx) / n, "count"),
        "catalog.load_table_s": (per_op("catalog.load_table"), "s"),
        "catalog.spread_small_scan_calls": (tracer.calls("catalog.spread_small_scan", idx) / n, "count"),
        "catalog.spread_small_scan_s": (per_op("catalog.spread_small_scan"), "s"),
        "operators.build_s": (per_op("operators.build"), "s"),
        "operators.execute_s": (
            per_op("operators.execute") or per_op("dashboard.to_pandas"),
            "s",
        ),
        "spark.jobs_per_op": (sum(jobs_per_op.values()) / n, "count"),
        "spark.stages_per_op": (tot["stages"] / n, "count"),
        "spark.tasks_per_op": (tot["tasks"] / n, "count"),
        "spark.task_time_s": (tot["task_time_s"] / n, "s"),
        "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n, "bytes"),
        "spark.shuffle_read_bytes": (tot["shuffle_read_bytes"] / n, "bytes"),
        "spark.spill_bytes": (tot["spill_bytes"] / n, "bytes"),
        "spark.gc_time_s": (tot["gc_time_s"] / n, "s"),
        "spark.task_skew": (tot["task_skew"], "ratio"),
        "caching.release_s": (per_op("caching.release"), "s"),
        "caching.released_count": (tracer.counts.get("caching.released_count", 0.0) / n, "count"),
        "caching.persisted_rdds_after_release": (
            tracer.counts.get("caching.persisted_rdds_after_release", 0.0),
            "count",
        ),
        "caching.storage_mb_after_release": (
            tracer.counts.get("caching.storage_mb_after_release", 0.0),
            "MB",
        ),
        "dashboard.snapshot_s": (per_op("dashboard.snapshot"), "s"),
        "dashboard.to_pandas_s": (per_op("dashboard.to_pandas"), "s"),
        "sources.replay.split_s": (tracer.total("sources.replay.split", {-1}), "s"),
        "streaming.batch_s": (sum(d["triggerExecution"] for d in dur) / 1000.0 / n if dur else 0.0, "s"),
        "streaming.query_planning_s": (sum(d.get("queryPlanning", 0) for d in dur) / 1000.0 / n, "s"),
        "streaming.source_s": (
            sum(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur) / 1000.0 / n,
            "s",
        ),
        "streaming.commit_s": (
            sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1000.0 / n,
            "s",
        ),
        "streaming.source_rows_per_event": (
            tot["records_read"] / events if events else 0.0,
            "ratio",
        ),
        "sinks.append_s": (per_op("sinks.append"), "s"),
        "sinks.rows_written": (sum(op.rows_out for op in ops) if name == "alert_stream" else 0, "count"),
        "sinks.files_written": (tracer.counts.get("sinks.files_written", 0.0), "count"),
    }
    kinds: dict[str, dict] = {}
    for i, op in enumerate(ops):
        t = tr.task_totals(op_jobs.get(i, []))
        k = kinds.setdefault(op.kind, {"ops": 0, "jobs": 0, "stages": 0, "tasks": 0,
                                       "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                                       "rows_in": 0, "rows_out": 0})
        k["ops"] += 1
        k["jobs"] += jobs_per_op.get(i, 0)
        for key in ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes"):
            k[key] += t[key]
        k["rows_in"] += op.rows_in
        k["rows_out"] += op.rows_out
    counters = {
        f"{kind}.{key}": v / k["ops"]
        for kind, k in sorted(kinds.items())
        for key, v in k.items()
        if key != "ops"
    }
    # persisted_rdds_after_release is not among them: the ContextCleaner
    # unpersists unreachable checkpoint RDDs whenever the JVM collects
    # them, so the count after a release depends on GC timing
    counters["streaming.source_rows_per_event"] = m["streaming.source_rows_per_event"][0]
    return m, counters


def _same(name: str, a: float, b: float) -> bool:
    # shuffle bytes move by a few dozen bytes in a megabyte between runs of
    # one plan (block compression sees rows in another order)
    if name.endswith("_bytes"):
        return abs(a - b) <= BYTES_TOLERANCE * max(abs(a), 1)
    return a == b


def compare_counters(key: str, counters: dict, record: bool) -> int:
    """Number of counters whose value is none of those recorded for this
    workload, seed and input size; each is printed to stderr as a count
    change. With `record`, add this run's values to the record instead
    (a counter that differs between recording runs keeps every value seen)."""
    stored = {}
    if os.path.exists(COUNTERS_FILE):
        with open(COUNTERS_FILE) as f:
            stored = json.load(f)
    old = stored.get(key)
    if record:
        seen = old or {}
        for name, v in counters.items():
            values = seen.setdefault(name, [])
            if not any(_same(name, x, v) for x in values):
                values.append(v)
                values.sort()
        stored[key] = seen
        with open(COUNTERS_FILE, "w") as f:
            json.dump(stored, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    if old is None:
        print(f"counters: no record for {key}", file=sys.stderr)
        return 0
    changed = 0
    for name in sorted(set(old) | set(counters)):
        values, v = old.get(name, []), counters.get(name)
        if v is None or not any(_same(name, x, v) for x in values):
            changed += 1
            print(f"COUNT CHANGE {key} {name}: {values} -> {v}", file=sys.stderr)
    return changed


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import data_pipeline_for_autonomous_vehicles_spark  # noqa: F401
    except ImportError:
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    hermetic_env(tmp)
    try:
        result, record = run(args, tmp, stem)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still has its directory there
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(
        f"perfbench: {args.workload} seed={args.seed} nproc={record['nproc']} "
        f"threads={THREADS} loadavg start={record['loadavg_start'][0]:.2f} "
        f"end={record['loadavg_end'][0]:.2f} record={stem}.json",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
