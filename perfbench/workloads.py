"""The benchmark's workloads. Each one sets up, measures for the run's
seconds, and checks every output against the Spark-free reference in
``corpus``. A workload returns its end-to-end figures and, in a traced
run, its per-layer figures; ``run.py`` turns them into the printed
result.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import batch
import corpus as C
import measure as M
from measure import HostSpeed, Tracer, p50, progress_layer, tail, tail_percentile


@dataclass
class Ctx:
    """One run: its seed, length, scratch directory and tracer."""

    work: str
    seed: int
    seconds: float
    tracer: Tracer
    cores: int
    spark: object = None
    #: epoch seconds at which each set-up phase ended
    marks: dict = field(default_factory=dict)
    #: progress of the counter job's drains (traced run)
    drained: list = field(default_factory=list)
    #: epoch seconds of the first and last timed operation
    t0: float = 0.0
    t1: float = 0.0
    #: (start, end) epoch seconds of every calibration slice
    cal_spans: list = field(default_factory=list)

    @property
    def trace(self) -> bool:
        return self.tracer.active

    def mark(self, name: str) -> None:
        """Note when a set-up phase ended."""
        self.marks[name] = time.time()

    def path(self, *parts: str) -> str:
        """A file path in the run's directory; its parent exists."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory in the run's directory, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def cal_slice(self, kind: str):
        """The calibration slice of ``kind`` ("compute" or "query") as a
        call without arguments; the query slice's table is written on
        first use."""
        if kind == "compute":
            return lambda: M.compute_slice(self.spark, self.cores)
        table = os.path.join(self.work, "slice_table")
        if not os.path.isdir(table):
            M.write_slice_table(table)
        return lambda: M.query_slice(self.spark, table)

    def host_speed(self, kind: str) -> HostSpeed:
        """Calibration slices of ``kind`` for one timed window."""
        return HostSpeed(self.cal_slice(kind), self.cal_spans)

    def session(self, cores: int | None = None):
        from transitdata_monitor_data_collector_spark.session import get_spark

        conf = {
            "spark.local.dir": self.dir("spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.sql.warehouse.dir": self.dir("warehouse"),
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.dir("eventlog")
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.sql.streaming.numRecentProgressUpdates"] = "100000"
        n = cores or self.cores
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{n}]",
            shuffle_partitions=n, extra_conf=conf,
        )
        return self.spark


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    #: mismatches found by the output check (each also counts as failed)
    errors: list = field(default_factory=list)
    #: both already divided by ``host_factor``: as on the reference host
    throughput_per_s: float = 0.0
    latencies_ms: list = field(default_factory=list)
    #: how many times slower than the reference host the timed window ran
    host_factor: float = 1.0
    layers: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def fail(self, msg: str, n: int = 1) -> None:
        """Count ``n`` failed operations under one message."""
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(msg)


def _checkpoints_inside(ctx: Ctx) -> None:
    """Replay and counter jobs put their throwaway checkpoints on /dev/shm
    or the system temp dir; keep them in the run's directory instead so
    the benchmark writes only inside its checkout."""
    import tempfile

    from transitdata_monitor_data_collector_spark.streaming import jobs

    base = ctx.dir("ckpt")
    jobs._tmp_checkpoint = lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=base)


def _epoch(iso: str) -> float:
    """Epoch seconds of a progress event's ISO-8601 UTC timestamp."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _replay_stream(spark, path: str, rows_per_batch: int, read_partitions: int):
    return (
        spark.readStream.format("mqtt-replay")
        .option("path", path)
        .option("rowsPerBatch", str(rows_per_batch))
        .option("readPartitions", str(read_partitions))
        .load()
    )


# ---------------------------------------------------------------------------
# The windowed-rate replay pipeline (replay source -> fan-out -> windowed
# rate -> memory sink), timed and checked in the store workload's traced run
# ---------------------------------------------------------------------------


def _windowed_drain(ctx: Ctx, path: str, rows_per_batch: int, parts: int):
    from transitdata_monitor_data_collector_spark.streaming import jobs

    stream = _replay_stream(ctx.spark, path, rows_per_batch, parts)
    job = jobs.windowed_rate_job(stream, C.DASHBOARD_FILTERS)
    t = time.perf_counter()
    rows = jobs.run_to_memory(ctx.spark, job, output_mode="update").collect()
    return rows, jobs.last_progress(), time.perf_counter() - t


def _check_windowed(rows, progress, ref: dict, res: Result) -> None:
    """Final update-mode counts per (window, broker, filter) and the
    watermark's dropped rows must equal the reference exactly."""
    res.attempted += 1
    final: dict = {}
    for r in rows:
        key = (int(r["window_start"].timestamp() * 1e6), r["broker"], r["topic_filter"])
        final[key] = max(final.get(key, 0), r["n"])
        if r["rate_msg_s"] != round(r["n"] / 60.0, 6):
            res.fail(f"rate_msg_s {r['rate_msg_s']} for n={r['n']}")
    if final != ref["counts"]:
        diff = set(final.items()) ^ set(ref["counts"].items())
        res.fail(f"window counts differ on {len(diff)} keys, e.g. {sorted(diff)[:2]}")
    dropped = progress_layer(progress)["rows_dropped_by_watermark"]
    if dropped != ref["dropped_rows"]:
        res.fail(f"watermark dropped {dropped} rows, reference {ref['dropped_rows']}")


def _noop_pass(ctx: Ctx, path: str, rows_per_batch: int, parts: int, fan: bool) -> float:
    """Drain the replay source (optionally through the fan-out) into the
    no-op sink: the job minus its window state and memory sink."""
    from transitdata_monitor_data_collector_spark.functions.mqtt_match import (
        with_topic_filter_fanout,
    )

    df = _replay_stream(ctx.spark, path, rows_per_batch, parts)
    if fan:
        df = with_topic_filter_fanout(df, C.DASHBOARD_FILTERS)
    t = time.perf_counter()
    q = (df.writeStream.format("noop")
         .option("checkpointLocation", ctx.path("ckpt", f"noop{time.time_ns()}"))
         .start())
    q.processAllAvailable()
    q.stop()
    return time.perf_counter() - t


# ---------------------------------------------------------------------------
# replay_rate: closed loop, replay source -> fan-out -> windowed rate
# ---------------------------------------------------------------------------


class ReplayRate:
    name = "replay_rate"
    #: the drains are compute-bound: the replay source's JSON parse and
    #: rescan in Python workers, the fan-out and the window state
    slice_kind = "compute"
    n_msgs = 18_000
    #: six micro-batches a drain: the late rows of the corpus's second half
    #: meet a watermark set two batches earlier, and a drain is short
    #: enough for two of them, with their calibration, in a 15 s run
    rows_per_batch = 3_000
    #: drains a run makes at least: on a slow host a second one did not
    #: always fit, and the first timed drain runs slower than the second
    min_drains = 2

    def setup(self, ctx: Ctx) -> None:
        from transitdata_monitor_data_collector_spark.sources.mqtt import register_sources

        spark = ctx.session()
        register_sources(spark)
        _checkpoints_inside(ctx)
        ctx.mark("session")
        self.parts = ctx.cores
        self.corpus = C.make_replay_corpus(ctx.seed, self.n_msgs)
        self.path = ctx.path("replay.jsonl")
        C.write_jsonl(self.path, self.corpus)
        self.ref = C.windowed_rate_reference(self.corpus, C.DASHBOARD_FILTERS,
                                             self.rows_per_batch)
        ctx.mark("inputs")
        # the first drain after start-up pays worker start-up and JIT, the
        # second still runs slower than the rest
        for _ in range(2):
            _windowed_drain(ctx, self.path, self.rows_per_batch, self.parts)
        ctx.mark("warmup")

    def measure(self, ctx: Ctx, res: Result) -> None:
        t_start = time.time()
        end = t_start + ctx.seconds
        drains: list[float] = []
        progress: list[dict] = []
        ctx.t0 = t_start
        host = ctx.host_speed(self.slice_kind)
        host.after(0.0)
        # past min_drains, another drain (and its calibration) starts only
        # while at least half of one fits before the end, so a run holds the
        # nearest whole number of drains
        while (len(drains) < self.min_drains
               or time.time() + p50(drains) * (1 + host.share) / 2 < end):
            with ctx.tracer.span("replay_rate.drain"):
                rows, prog, drain_s = _windowed_drain(
                    ctx, self.path, self.rows_per_batch, self.parts)
            drains.append(drain_s)
            progress.extend(prog)
            _check_windowed(rows, prog, self.ref, res)
            host.after(drain_s)
        ctx.t1 = time.time()
        h = res.host_factor = host.factor
        res.throughput_per_s = self.n_msgs * len(drains) / sum(drains) * h
        res.latencies_ms = [p["durationMs"]["triggerExecution"] / h
                            for p in progress if p.get("numInputRows", 0) > 0]
        res.extra.update(
            drain_s=drains, calibration_s=host.cal_s, host_factor=h,
            ingest_msgs_per_s=res.throughput_per_s,
            late_msgs=self.ref["late_msgs"], expected_dropped_rows=self.ref["dropped_rows"],
        )
        res.layers["streaming.jobs"] = progress_layer(progress)
        res.layers["functions.mqtt_match"] = {
            "fanout_ratio": self.ref["fanned_rows"] / self.n_msgs,
            "unknown_share": self.ref["unknown_rows"] / self.n_msgs,
        }

    def trace_passes(self, ctx: Ctx, res: Result) -> None:
        """Split the drain's time: the source alone and the source plus
        fan-out into the no-op sink, then the full job again on one core."""
        from transitdata_monitor_data_collector_spark.sources.mqtt import register_sources

        rpb, parts = self.rows_per_batch, self.parts
        read_s = min(_noop_pass(ctx, self.path, rpb, parts, False) for _ in range(2))
        fan_s = min(_noop_pass(ctx, self.path, rpb, parts, True) for _ in range(2))
        job_s = p50(res.extra["drain_s"])
        ctx.spark.stop()
        ctx.session(cores=1)
        register_sources(ctx.spark)
        _windowed_drain(ctx, self.path, rpb, 1)  # first query pays worker start-up
        rows1, progress1, one_core_s = _windowed_drain(ctx, self.path, rpb, 1)
        _check_windowed(rows1, progress1, self.ref, res)
        res.layers["sources.mqtt"] = {
            "replay_rows_per_s": self.n_msgs / read_s,
            "replay_read_share": read_s / job_s,
        }
        res.layers["functions.mqtt_match"]["fanout_s"] = max(0.0, fan_s - read_s)
        res.layers["session"] = {"local1_ingest_msgs_per_s": self.n_msgs / one_core_s}


# ---------------------------------------------------------------------------
# store_query: the counter store written, then read by the dashboard
# ---------------------------------------------------------------------------


class StoreQuery:
    name = "store_query"
    #: drains and reads alike wait on many small jobs, file listings and
    #: Py4J calls; on a slow host these stretched by up to twice as much as
    #: the compute slice did
    slice_kind = "query"
    n_msgs = 20_000
    rows_per_batch = 10_000
    history_days = 3
    warm_reads = 10
    #: timed 1 h reads a run makes at least, so its tail is a percentile
    #: near p66 rather than a maximum, even on a slow host
    min_reads = 30
    keys = ["broker", "topic_filter"]

    def setup(self, ctx: Ctx) -> None:
        from transitdata_monitor_data_collector_spark.sources.mqtt import register_sources

        spark = ctx.session()
        register_sources(spark)
        _checkpoints_inside(ctx)
        ctx.mark("session")
        self.parts = ctx.cores
        self.corpus = C.make_replay_corpus(ctx.seed, self.n_msgs)
        self.path = ctx.path("replay.jsonl")
        C.write_jsonl(self.path, self.corpus)
        self.table = ctx.path("store", "counter_table")
        self.history = ctx.path("store", "counter_history")
        series = sorted({(b, f) for b in C.BROKERS for f in (*C.DASHBOARD_FILTERS, C.UNKNOWN)})
        seeded = C.seed_history(ctx.seed, self.history_days, series,
                                end=C.EPOCH - timedelta(hours=1))
        C.write_history(self.history, seeded)
        samples = seeded + C.counter_samples(self.corpus, C.DASHBOARD_FILTERS, self.rows_per_batch)
        self.totals = C.counter_totals(self.corpus, C.DASHBOARD_FILTERS)
        day = C.EPOCH.replace(hour=0)
        lo = int(day.timestamp() * 1e6)
        hi = lo + 86_400_000_000
        self.day = day.strftime("%Y-%m-%d")
        self.hour_from = C.EPOCH - timedelta(minutes=54)
        hour_lo = int(self.hour_from.timestamp() * 1e6)
        self.ref = {
            "rate_1h": {k: v for k, v in C.rate_reference(samples, 60, lo, hi).items()
                        if k[0] >= hour_lo},
            "rate_1d": C.rate_reference(samples, 300, lo, hi),
        }
        ctx.mark("inputs")
        # a full drain lands the corpus day in the store (from here every
        # read must return exactly the reference) and pays the start-up; a
        # second one runs a fifth slower than drains after more warm-up.
        # Then reads, which also warm the planner the drains use: the 1 h
        # read still got faster by a quarter over its first 40 runs in a
        # session, and how far a run had got down that slope set its median
        self._drain(ctx)
        self._drain(ctx)
        for kind in ("rate_1d", "counters", *["rate_1h"] * self.warm_reads):
            self._read(ctx, kind)
        ctx.mark("warmup")

    def _drain(self, ctx: Ctx) -> float:
        from transitdata_monitor_data_collector_spark.streaming import jobs

        stream = _replay_stream(ctx.spark, self.path, self.rows_per_batch, self.parts)
        t = time.perf_counter()
        jobs.stream_merge_counter_job(
            ctx.spark, stream, self.table, C.DASHBOARD_FILTERS, history_path=self.history
        )
        return time.perf_counter() - t

    def _read(self, ctx: Ctx, kind: str):
        from pyspark.sql import functions as F

        from transitdata_monitor_data_collector_spark.functions import promql
        from transitdata_monitor_data_collector_spark.sinks import parquet as P
        from transitdata_monitor_data_collector_spark.sinks import prometheus

        spark = ctx.spark
        if kind == "counters":
            return prometheus.render_counter(
                "mqtt_messages_received_total",
                P.read_table(spark, self.table).orderBy(*self.keys),
                "messages_received_total", self.keys,
                "Messages received per broker and topic filter",
            )
        window = "1 minute" if kind == "rate_1h" else "5 minutes"
        with ctx.tracer.span("functions.promql.plan"):
            df = promql.rate_over_store(spark, self.history, self.keys, window,
                                        self.day, self.day)
            if kind == "rate_1h":
                df = df.filter(F.col("window_start") >= F.lit(self.hour_from))
        with ctx.tracer.span("functions.promql.exec"):
            rows = df.collect()
        if ctx.trace:
            ctx.tracer.add("sinks.parquet.files_scanned", len(df.inputFiles()))
            ctx.tracer.add("sinks.parquet.scans", 1)
        return rows

    def _check_read(self, kind: str, out, res: Result) -> None:
        """Every read happens with the store at rest, so it must equal the
        reference exactly."""
        if kind == "counters":
            got = {}
            for line in out.splitlines():
                if line.startswith("#"):
                    continue
                labels, value = line.rsplit(" ", 1)
                b = labels.split('broker="', 1)[1].split('"', 1)[0]
                f = labels.split('topic_filter="', 1)[1].split('"', 1)[0]
                got[(b, f)] = float(value)
            if got != {k: float(v) for k, v in self.totals.items()}:
                res.fail("counter page differs from reference")
            return
        got = {
            (int(r["window_start"].timestamp() * 1e6), r["broker"], r["topic_filter"]):
                (r["increase"], r["rate_per_s"])
            for r in out
        }
        if got != self.ref[kind]:
            diff = set(got.items()) ^ set(self.ref[kind].items())
            res.fail(f"{kind} differs on {len(diff)} rows, e.g. {sorted(diff)[:2]}")

    def measure(self, ctx: Ctx, res: Result) -> None:
        """One drain of the corpus into the store, then reads of what it
        left until the run's seconds end, and at least ``min_reads``.
        Alternating keeps each figure steady: with reads beside the drains,
        a read's latency depended on which phase of a drain it overlapped,
        and the median of ten runs spread by a fifth of its value. A fixed
        single drain keeps the read phase from shrinking whenever a second
        drain would just fit."""
        t_start = time.time()
        end = t_start + ctx.seconds
        drain_s = 0.0
        reads: dict[str, list[float]] = {"rate_1h": [], "rate_1d": [], "counters": []}
        store = os.path.dirname(self.table)
        before = _dir_files(store) if ctx.tracer.recording else {}
        ctx.t0 = t_start
        host = ctx.host_speed(self.slice_kind)
        host.after(0.0)
        res.attempted += 1
        try:
            with ctx.tracer.span("store_query.drain"):
                drain_s = self._drain(ctx)
        except Exception as e:  # a drain that raises is a failed operation
            res.fail(f"drain raised {e!r}")
        host.after(drain_s)
        if ctx.tracer.recording:
            new = {p: n for p, n in _dir_files(store).items() if p not in before}
            self.written = {"files_written": len(new), "bytes_written": sum(new.values())}
        # the counter page and the 1 day panel once, then the dashboard's
        # default 1 h panel until the end, and at least min_reads times: one
        # kind of read, so the median does not flip between two clusters
        i = 0
        while i < 2 + self.min_reads or time.time() < end:
            kind = ("counters", "rate_1d")[i] if i < 2 else "rate_1h"
            i += 1
            res.attempted += 1
            t = time.perf_counter()
            try:
                with ctx.tracer.span(f"store_query.read.{kind}"):
                    out = self._read(ctx, kind)
            except Exception as e:  # a read that raises is a failed operation
                res.fail(f"{kind} raised {e!r}")
                continue
            read_s = time.perf_counter() - t
            reads[kind].append(read_s * 1e3)
            self._check_read(kind, out, res)
            host.after(read_s)
        ctx.t1 = time.time()
        h = res.host_factor = host.factor
        res.throughput_per_s = self.n_msgs / drain_s * h if drain_s else 0.0
        res.latencies_ms = [ms / h for ms in reads["rate_1h"]]
        res.extra.update(
            drain_s=drain_s, calibration_s=host.cal_s, host_factor=h,
            ingest_msgs_per_s=res.throughput_per_s,
            reads={k: len(v) for k, v in reads.items()}, read_ms=reads,
            read_ms_p50={k: p50(v) for k, v in reads.items()},
        )

    def trace_passes(self, ctx: Ctx, res: Result) -> None:
        """The live collector and the dashboard registry queries, measured
        in this session once the store workload is done."""
        LiveCollector().trace_pass(ctx, res)


# ---------------------------------------------------------------------------
# The live collector: open loop, loopback brokers -> CollectorApp -> /metrics,
# measured in the store workload's traced run
# ---------------------------------------------------------------------------


class LiveCollector:
    """The deployed shape, driven for a few seconds inside a traced run.

    It is not a timed workload: measured on a shared 4-core host, its
    freshness and scrape latency swung by a quarter from run to run with
    outside load, wider than any bound a regression check could use."""

    #: seconds the publishers run
    seconds = 8.0
    #: the reference's peak HFP rate per broker connection
    #: (MqttTopicMonitorListener.java:31-32: ~110,000 msg/min)
    rate_per_broker = 1_833
    tick_s = 0.05
    #: two scraper threads alternate, so each has two periods per scrape
    scrape_every_s = 1.0
    scrape_timeout_s = 10.0
    catchup_timeout_s = 60.0
    warm_msgs = 500

    def setup(self, ctx: Ctx) -> None:
        from transitdata_monitor_data_collector_spark.app import (
            CollectorApp,
            build_broker_streams,
        )
        from transitdata_monitor_data_collector_spark.config import (
            EngineConfig,
            MqttBrokerConfig,
        )
        from transitdata_monitor_data_collector_spark.serving import MonitorHttpServer
        from transitdata_monitor_data_collector_spark.vendor.mqttshim import Client
        from transitdata_monitor_data_collector_spark.vendor.mqttshim.broker import (
            LoopbackBroker,
        )

        spark = ctx.session()
        ctx.mark("session")
        self.brokers = [LoopbackBroker().start() for _ in C.BROKERS]
        self.addresses = [f"tcp://127.0.0.1:{b.port}" for b in self.brokers]
        cfg = EngineConfig(
            port=0, gtfsrt_urls=(), gtfsrt_poll_interval_s=30.0,
            gtfsrt_client_timeout_s=5.0, mqtt_client_id="perfbench",
            mqtt_connection_timeout_s=15.0, mqtt_keep_alive_interval_s=20.0, mqtt_qos=0,
            mqtt_brokers=tuple(MqttBrokerConfig(a, C.LIVE_FILTERS) for a in self.addresses),
        )
        n = int(self.rate_per_broker * (self.seconds + 1)) + self.warm_msgs
        self.topics = C.make_live_topics(ctx.seed, n)
        # cum[i][k]: broker i's counter total once its first k messages count
        self.cum = [[0, *itertools.accumulate(C.live_weights(t))] for t in self.topics]
        self.created = [[0.0] * n for _ in C.BROKERS]
        self.sent = [0 for _ in C.BROKERS]
        self.app = CollectorApp(spark, cfg, build_broker_streams(spark, cfg)).start()
        self.server = MonitorHttpServer(
            self.app.liveness, self.app.readiness, self.app.metrics_page, port=0,
            host="127.0.0.1",
        ).start()
        self.url = f"http://127.0.0.1:{self.server.port}/metrics"
        for b in self.brokers:
            for f in C.LIVE_FILTERS:
                if not b.wait_for_subscription(f, timeout=60):
                    raise RuntimeError(f"collector never subscribed to {f}")
        # the counter and connection queries each hold a subscriber
        # session per broker; publish only once both have subscribed
        deadline = time.time() + 60
        while time.time() < deadline and not all(
            sum(len(s.subscriptions) == len(C.LIVE_FILTERS) for s in b._sessions) >= 2
            for b in self.brokers
        ):
            time.sleep(0.05)
        self.pubs = []
        for b in self.brokers:
            c = Client()
            c.connect("127.0.0.1", b.port)
            self.pubs.append(c)
        ctx.mark("inputs")
        for i in range(len(self.brokers)):
            self._publish(i, self.warm_msgs)
        if not self._await_reflected(60.0):
            raise RuntimeError("warm-up messages never reflected")
        for _ in range(3):
            self._scrape()
        ctx.mark("warmup")

    def _publish(self, i: int, k: int) -> None:
        lo = self.sent[i]
        hi = min(lo + k, len(self.topics[i]))
        now = time.time()
        self.pubs[i].publish_many((t, b"x") for t in self.topics[i][lo:hi])
        for j in range(lo, hi):
            self.created[i][j] = now
        self.sent[i] = hi

    def _scrape(self) -> tuple[int, str]:
        try:
            with urllib.request.urlopen(self.url, timeout=self.scrape_timeout_s) as r:
                return r.status, r.read().decode()
        except urllib.error.HTTPError as e:
            return e.code, ""

    def _per_broker_totals(self, page: str) -> list[int]:
        tot = {a: 0 for a in self.addresses}
        for line in page.splitlines():
            if line.startswith("mqtt_messages_received_total{"):
                labels, value = line.rsplit(" ", 1)
                b = labels.split('broker="', 1)[1].split('"', 1)[0]
                if b in tot:
                    tot[b] += int(float(value))
        return [tot[a] for a in self.addresses]

    def _reflected(self, i: int, total: int) -> int | None:
        """How many published messages a broker's counter total reflects,
        or None when the total is not an exact prefix sum."""
        k = bisect.bisect_right(self.cum[i], total) - 1
        return k if self.cum[i][k] == total else None

    def _await_reflected(self, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            totals = self._counter_totals()
            if all(t == self.cum[i][self.sent[i]] for i, t in enumerate(totals)):
                return True
            time.sleep(0.05)
        return False

    def _counter_totals(self) -> list[int]:
        rows = self.app.counter_table().collect()
        tot = {a: 0 for a in self.addresses}
        for r in rows:
            tot[r["broker"]] = tot.get(r["broker"], 0) + r["messages_received_total"]
        return [tot[a] for a in self.addresses]

    def measure(self, ctx: Ctx, res: Result) -> None:
        n_ticks = int(self.seconds / self.tick_s)
        per_tick = self.rate_per_broker * self.tick_s
        late_ms: list[float] = []
        scrapes: list[dict] = []
        lock = threading.Lock()
        t_start = time.time() + 0.1
        stop = threading.Event()
        base = list(self.sent)

        def publisher(i: int):
            owed = 0.0
            for k in range(n_ticks):
                due = t_start + k * self.tick_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                owed += per_tick
                self._publish(i, int(owed))
                owed -= int(owed)
                with lock:
                    late_ms.append(max(0.0, time.time() - due) * 1e3)

        def scraper(offset: int, stride: int):
            # each due time falls at a seeded random point of its period,
            # so the scrapes sample every phase of the micro-batch cycle
            # instead of locking onto one for the whole run
            rng = random.Random(ctx.seed * 31 + offset)
            k = offset
            while not stop.is_set():
                due = t_start + (k + rng.random()) * self.scrape_every_s
                delay = due - time.time()
                if delay > 0:
                    if stop.wait(delay):
                        break
                try:
                    with ctx.tracer.span("serving.scrape"):
                        status, page = self._scrape()
                except OSError as e:
                    status, page = -1, repr(e)
                done = time.time()
                with lock:
                    scrapes.append({"due": due, "done": done, "status": status, "page": page})
                k += stride

        ctx.t0 = t_start
        pubs = [threading.Thread(target=publisher, args=(i,)) for i in range(len(self.brokers))]
        scr = [threading.Thread(target=scraper, args=(j, 2)) for j in range(2)]
        for t in pubs + scr:
            t.start()
        for t in pubs:
            t.join()
        t_pub_end = time.time()
        stop.set()
        for t in scr:
            t.join()
        caught = self._await_reflected(self.catchup_timeout_s)
        t_caught = time.time()
        ctx.t1 = t_caught
        catchup_s = t_caught - t_pub_end
        published = sum(self.sent) - sum(base)
        res.attempted += published
        final = self._counter_totals()
        for i, tot in enumerate(final):
            k = self._reflected(i, tot)
            missing = self.sent[i] - (k if k is not None else 0)
            if missing:
                res.fail(f"broker {i}: {missing} messages unreflected after catch-up", missing)
        expected = [C.live_totals(t[: self.sent[i]]) for i, t in enumerate(self.topics)]
        got = {(r["broker"], r["topic_filter"]): r["messages_received_total"]
               for r in self.app.counter_table().collect()}
        for i, a in enumerate(self.addresses):
            for f in C.LIVE_FILTERS:
                if got.get((a, f), 0) != expected[i].get(f, 0):
                    res.fail(f"counter {a} {f}: {got.get((a, f), 0)} != {expected[i].get(f, 0)}")
        fresh_ms, scrape_ms, backlog = [], [], []
        for s in scrapes:
            res.attempted += 1
            if s["status"] != 200 or s["done"] - s["due"] > self.scrape_timeout_s:
                res.fail(f"scrape status {s['status']}")
                continue
            scrape_ms.append((s["done"] - s["due"]) * 1e3)
            for i, tot in enumerate(self._per_broker_totals(s["page"])):
                k = self._reflected(i, tot)
                if k is None:
                    res.fail(f"scrape total {tot} is not a prefix of broker {i}'s stream")
                    continue
                backlog.append(self._sent_before(i, s["done"]) - k)
                if k > base[i]:
                    fresh_ms.append((s["done"] - self.created[i][k - 1]) * 1e3)
        res.throughput_per_s = published / (t_caught - t_start)
        res.latencies_ms = fresh_ms
        p_scr = tail_percentile(len(scrape_ms))
        p_back = tail_percentile(len(backlog))
        p_fr = tail_percentile(len(fresh_ms))
        res.extra.update(
            published=published, caught_up=caught, catchup_s=catchup_s,
            freshness_p50_s=p50(fresh_ms) / 1e3,
            freshness_tail_s=tail(fresh_ms, p_fr) / 1e3,
            scrape_p50_ms=p50(scrape_ms), scrape_tail_ms=tail(scrape_ms, p_scr),
            scrape_tail_percentile=p_scr, scrapes=len(scrapes),
            generator_late_ms_p50=p50(late_ms), generator_late_ms_max=max(late_ms, default=0.0),
        )
        res.layers["sources.mqtt"] = {
            "live_backlog_msgs_tail": tail(backlog, p_back),
            "catchup_s": catchup_s,
        }
        progress = [json.loads(p.json) for q in self.app._queries for p in q.recentProgress]
        res.layers["streaming.jobs"] = progress_layer(
            [p for p in progress if _epoch(p["timestamp"]) >= ctx.t0])

    def trace_pass(self, ctx: Ctx, res: Result) -> None:
        """Set up, measure and check the collector in the running session,
        then run the cold dashboard registry queries. Its figures go to the
        ``sources.mqtt`` (live), ``app``, ``serving``, ``sinks.prometheus``,
        ``plans`` and ``operators`` layers and to the record."""
        saved = ctx.t0, ctx.t1, dict(ctx.marks)
        live = Result()
        try:
            self.setup(ctx)
            self.measure(ctx, live)
            self._layers(ctx, live)
        finally:
            self.teardown(ctx)
            ctx.t0, ctx.t1, ctx.marks = saved
        live.layers.update(batch.run_pass(ctx.spark, ctx.work, ctx.seed, live))
        res.attempted += live.attempted
        res.failed += live.failed
        res.errors.extend(live.errors)
        res.extra["live_collector"] = live.extra
        res.extra["live_collector"]["streaming.jobs"] = live.layers.pop("streaming.jobs")
        res.layers.setdefault("sources.mqtt", {}).update(live.layers.pop("sources.mqtt"))
        res.layers.update(live.layers)

    def _layers(self, ctx: Ctx, res: Result) -> None:
        """Per-layer figures of the timed window: span durations, and the
        Spark jobs one ``metrics_page()`` runs, counted in a job group of
        its own while the collector keeps ingesting."""
        t, window = ctx.tracer, (ctx.t0, ctx.t1)
        page_ms = t.durations_ms("app.metrics_page", *window)
        scrape_ms = t.durations_ms("serving.scrape", *window)
        sc = ctx.spark.sparkContext
        pages = []
        for k in range(3):
            sc.setJobGroup(f"perfbench-scrape-{k}", "one metrics page")
            pages.append(self.app.metrics_page())
        jobs = sum(len(sc.statusTracker().getJobIdsForGroup(f"perfbench-scrape-{k}"))
                   for k in range(3))
        sc.setJobGroup("perfbench", "after scrape count")
        page = pages[-1]
        res.layers["app"] = {
            "spark_jobs_per_scrape": jobs / 3,
            "counter_table_ms_p50": p50(t.durations_ms("app.counter_table", *window)),
            "metrics_page_ms_p50": p50(page_ms),
        }
        res.layers["serving"] = {"http_overhead_ms_p50": p50(scrape_ms) - p50(page_ms)}
        res.layers["sinks.prometheus"] = {
            "series": sum(1 for ln in page.splitlines() if ln and not ln.startswith("#")),
            "page_bytes": len(page.encode()),
        }

    def _sent_before(self, i: int, t: float) -> int:
        return bisect.bisect_right(self.created[i], t, 0, self.sent[i])

    def teardown(self, ctx: Ctx) -> None:
        """Stop publishers, server, queries and brokers; safe to repeat."""
        for c in getattr(self, "pubs", []):
            c.disconnect()
        self.pubs = []
        if getattr(self, "server", None) is not None:
            self.server.close()
            self.server = None
        if getattr(self, "app", None) is not None:
            self.app.stop()
            self.app = None
        for b in getattr(self, "brokers", []):
            b.stop()
        self.brokers = []


WORKLOADS = {w.name: w for w in (ReplayRate, StoreQuery)}


# ---------------------------------------------------------------------------
# Traced run
# ---------------------------------------------------------------------------


def install_spans(ctx: Ctx) -> None:
    """Wrap the public engine calls a user's time passes through. Callers
    that import a function inside their body (the counter job imports
    ``merge_upsert`` and ``write_time_partitioned`` per call; ``app``
    calls ``prometheus.render_*`` through the module) pick up the wrapper
    from the module attribute."""
    from transitdata_monitor_data_collector_spark import app
    from transitdata_monitor_data_collector_spark.sinks import parquet, prometheus
    from transitdata_monitor_data_collector_spark.streaming import jobs

    t = ctx.tracer
    t.wrap(jobs, "run_to_memory", "streaming.jobs.run_to_memory")
    t.wrap(jobs, "stream_merge_counter_job", "streaming.jobs.stream_merge_counter_job")
    t.wrap(parquet, "merge_upsert", "sinks.parquet.merge_upsert")
    t.wrap(parquet, "write_time_partitioned", "sinks.parquet.history_append")
    t.wrap(prometheus, "render_counter", "sinks.prometheus.render")
    t.wrap(prometheus, "render_gauge", "sinks.prometheus.render")
    t.wrap(app.CollectorApp, "counter_table", "app.counter_table")
    t.wrap(app.CollectorApp, "metrics_page", "app.metrics_page")

    # the counter job drains its query internally; keep its progress
    drained = ctx.drained
    orig = jobs._drain

    def drain(q):
        try:
            orig(q)
        finally:
            drained.extend(json.loads(p.json) for p in q.recentProgress)

    t._restore.append((jobs, "_drain", orig))
    jobs._drain = drain


def traced_measure(ctx: Ctx, wl, res: Result) -> None:
    """Measure twice in one session: first with the span wrappers inert,
    then recording. The throughput difference is the tracing overhead;
    every per-layer figure comes from the recording pass."""
    inert = Result()
    ctx.tracer.recording = False
    wl.measure(ctx, inert)
    ctx.tracer.recording = True
    ctx.drained.clear()
    wl.measure(ctx, res)
    res.attempted += inert.attempted
    res.failed += inert.failed
    res.errors.extend(inert.errors)
    res.extra["untraced_pass"] = {
        "throughput_per_s": inert.throughput_per_s,
        "latency_p50_ms": p50(inert.latencies_ms),
    }
    if inert.throughput_per_s and res.throughput_per_s:
        res.layers["trace"] = {
            "overhead_pct": (inert.throughput_per_s / res.throughput_per_s - 1) * 100
        }


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def trace_extras(ctx: Ctx, wl, res: Result) -> None:
    t = ctx.tracer
    window = (ctx.t0, ctx.t1)
    if hasattr(wl, "trace_passes"):
        wl.trace_passes(ctx, res)
    if ctx.drained:
        res.layers["streaming.jobs"] = progress_layer(ctx.drained)
    merge = t.durations_ms("sinks.parquet.merge_upsert", *window)
    append = t.durations_ms("sinks.parquet.history_append", *window)
    if merge or append:
        res.layers["sinks.parquet"] = {
            "merge_upsert_ms_p50": p50(merge),
            "merge_upsert_calls": len(merge),
            "history_append_ms_p50": p50(append),
            "files_scanned_per_query": (
                t.counts.get("sinks.parquet.files_scanned", 0)
                / max(1, t.counts.get("sinks.parquet.scans", 0))
            ),
            **getattr(wl, "written", {}),
        }
    plan = t.durations_ms("functions.promql.plan", *window)
    if plan:
        res.layers["functions.promql"] = {
            "rate_over_store_plan_ms": p50(plan),
            "rate_over_store_exec_ms": p50(t.durations_ms("functions.promql.exec", *window)),
        }
    render = t.durations_ms("sinks.prometheus.render", *window)
    if render:
        res.layers.setdefault("sinks.prometheus", {})["render_ms_p50"] = p50(render)
