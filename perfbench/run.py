"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload replay_rate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds nothing; it imports the
engine package from the checkout, makes its inputs from ``--seed`` under
``.perfbench_work/`` and removes them at the end, leaving only the run
record in ``.perfbench_work/records/``. ``--trace 1`` adds spans, Spark's
event log and extra passes, and prints the per-layer metrics instead of
the end-to-end ones. The last line of standard output is the result; the
exit code is 0 only when the run completed (a run whose outputs fail the
check still exits 0 and prints ``"correct": false``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (clock-tick precision)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start_epoch()

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import measure as M  # noqa: E402
import workloads as W  # noqa: E402
from batch import DASHBOARD_QUERIES  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "retained_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}

#: per-layer metric -> unit; a workload that never calls a layer reports 0
PER_LAYER = {
    "sources.mqtt.replay_rows_per_s": "1/s",
    "sources.mqtt.replay_read_share": "ratio",
    "sources.mqtt.live_backlog_msgs_tail": "count",
    "functions.mqtt_match.fanout_ratio": "ratio",
    "functions.mqtt_match.unknown_share": "ratio",
    "functions.mqtt_match.fanout_s": "s",
    "streaming.jobs.batches": "count",
    "streaming.jobs.trigger_ms_p50": "ms",
    "streaming.jobs.trigger_ms_tail": "ms",
    "streaming.jobs.add_batch_ms_p50": "ms",
    "streaming.jobs.query_planning_ms_p50": "ms",
    "streaming.jobs.latest_offset_ms_p50": "ms",
    "streaming.jobs.wal_commit_ms_p50": "ms",
    "streaming.jobs.commit_offsets_ms_p50": "ms",
    "streaming.jobs.state_rows_total": "count",
    "streaming.jobs.state_memory_bytes": "B",
    "streaming.jobs.state_commit_ms_p50": "ms",
    "streaming.jobs.state_store_instances": "count",
    "streaming.jobs.rows_dropped_by_watermark": "count",
    "sinks.parquet.merge_upsert_ms_p50": "ms",
    "sinks.parquet.merge_upsert_calls": "count",
    "sinks.parquet.history_append_ms_p50": "ms",
    "sinks.parquet.files_written": "count",
    "sinks.parquet.bytes_written": "B",
    "sinks.parquet.files_scanned_per_query": "count",
    "functions.promql.rate_over_store_plan_ms": "ms",
    "functions.promql.rate_over_store_exec_ms": "ms",
    "sinks.prometheus.render_ms_p50": "ms",
    "sinks.prometheus.series": "count",
    "sinks.prometheus.page_bytes": "B",
    "app.counter_table_ms_p50": "ms",
    "app.metrics_page_ms_p50": "ms",
    "app.spark_jobs_per_scrape": "count",
    "serving.http_overhead_ms_p50": "ms",
    "plans.dashboard.build_ms_p50": "ms",
    "plans.dashboard.exec_s_p50": "s",
    **{f"plans.{q}.exec_s": "s" for q in DASHBOARD_QUERIES},
    "operators.exchanges_total": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.tasks_per_stage_p50": "count",
    "session.executor_run_s": "s",
    "session.executor_cpu_s": "s",
    "session.gc_s": "s",
    "session.shuffle_read_bytes": "B",
    "session.shuffle_write_bytes": "B",
    "session.spill_bytes": "B",
    "session.scheduling_gap_s": "s",
    "session.local1_ingest_msgs_per_s": "1/s",
    "trace.overhead_pct": "%",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait until the JVM and
    every process it started (the Python worker daemons) have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = [pid for pid in M.process_tree() if pid != os.getpid()]
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "transitdata_monitor_data_collector_spark")):
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        result = _run(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, run_id: str, work: str) -> dict:
    """Set up, measure and check one workload; write the run record and
    return the printed result."""
    import tempfile

    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    calibration = M.host_calibration()
    tracer = M.Tracer(run_id, active=bool(args.trace))
    ctx = W.Ctx(work=work, seed=args.seed, seconds=args.seconds, tracer=tracer,
                cores=_cores())
    wl = W.WORKLOADS[args.workload]()
    res = W.Result()
    try:
        if args.trace:
            W.install_spans(ctx)
        wl.setup(ctx)
        # the first calibration slices of a session run several times
        # slower, and the next few still get faster
        warm_slice = ctx.cal_slice(wl.slice_kind)
        for _ in range(6):
            warm_slice()
        setup_s = time.time() - PROCESS_START
        if args.trace:
            W.traced_measure(ctx, wl, res)
        else:
            wl.measure(ctx, res)
        retained = M.retained_mb(ctx.spark)
        peak_by_proc = M.peak_rss_by_process()
        if args.trace:
            W.trace_extras(ctx, wl, res)
    finally:
        if hasattr(wl, "teardown"):
            wl.teardown(ctx)
        tracer.unwrap()
        if ctx.spark is not None:
            _stop_spark(ctx.spark)

    # every time is scaled to the reference host by the timed window's own
    # calibration (measure.HostSpeed); the raw figures go to the record
    lat = res.latencies_ms
    p_tail = M.tail_percentile(len(lat))
    e2e = {
        "setup_s": setup_s / res.host_factor,
        "retained_mb": retained,
        "throughput_per_s": res.throughput_per_s,
        "latency_p50_ms": M.p50(lat),
        "latency_tail_ms": M.tail(lat, p_tail),
    }
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": ctx.cores,
        "host_before_run": calibration,
        "setup_marks": {k: v - PROCESS_START for k, v in ctx.marks.items()},
        "attempted": res.attempted, "failed": res.failed, "errors": res.errors,
        "end_to_end": e2e, "host_factor": res.host_factor, "raw_setup_s": setup_s,
        "peak_rss_mb": sum(peak_by_proc.values()),
        "peak_rss_by_process": peak_by_proc,
        "latency_samples": len(lat), "latency_tail_percentile": p_tail,
        "details": res.extra,
    }
    if args.trace:
        log_dir = os.path.join(work, "eventlog")
        if os.path.isdir(log_dir):
            res.layers.setdefault("session", {}).update(
                M.read_event_log(log_dir, ctx.t0 * 1e3, ctx.t1 * 1e3,
                                 [(a * 1e3, b * 1e3) for a, b in ctx.cal_spans]))
        layers = {}
        for name in PER_LAYER:
            layer, metric = name.rsplit(".", 1)
            layers[name] = float(res.layers.get(layer, {}).get(metric) or 0.0)
        record["per_layer"] = layers
        record["layers_raw"] = res.layers
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    records = os.path.join(os.path.dirname(work), "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(records, f"{run_id}.spans.json"))
    for e in res.errors:
        print(f"check failed: {e}", file=sys.stderr)
    return {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": max(1, res.attempted),
        "failed": res.failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
