"""Measurement helpers: statistics, run metadata, spans and Spark's own
records (streaming progress events and the event log).

Spans are recorded only in a traced run, from the benchmark's files: the
engine functions a user's time passes through are wrapped at their module
attribute (or class attribute) for the duration of the run and restored
afterwards. No engine file is changed.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile, at most p99, with at least ten of ``n``
    samples beyond it; None when fewer than 20 samples leave no such
    percentile above the median."""
    if n < 20:
        return None
    return min(99, (100 * (n - 10)) // n)


def pct(values, p: float) -> float:
    """Percentile ``p`` (0-100) by linear interpolation between ranks."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def p50(values) -> float:
    return statistics.median(values) if values else 0.0


def tail(values, p: int | None) -> float:
    """Value at percentile ``p``, or the maximum when ``p`` is None (fewer
    than 20 samples; the record stores which)."""
    return pct(values, p) if p is not None else (max(values) if values else 0.0)


# ---------------------------------------------------------------------------
# Run metadata: steal and a fixed spin calibration, taken BEFORE the run
# ---------------------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def host_calibration(spin_iters: int = 300_000) -> dict:
    """Steal share of all CPU time while a fixed spin loop runs, and the
    loop's wall time: a slow spin or high steal before the run marks a
    contended host, independent of the run's own load."""
    t0_total, t0_steal = _cpu_jiffies()
    t0 = time.perf_counter()
    x = 0
    for i in range(spin_iters):
        x ^= i * 2654435761 & 0xFFFFFFFF
    spin_s = time.perf_counter() - t0
    t1_total, t1_steal = _cpu_jiffies()
    total = t1_total - t0_total
    return {
        "spin_iters": spin_iters,
        "spin_ms": round(spin_s * 1e3, 3),
        "steal_share": round((t1_steal - t0_steal) / total, 4) if total else 0.0,
        "steal_jiffies_since_boot": t1_steal,
        "loadavg_1m": os.getloadavg()[0],
    }


# ---------------------------------------------------------------------------
# Host speed: a fixed calibration job timed between the measured operations
# ---------------------------------------------------------------------------

#: Wall seconds one calibration slice of either kind takes on the reference
#: host. A run divides every time it reports by its host factor, the mean
#: time of its own slices over this, so its figures read as if taken there.
CAL_REF_S = 0.5


def compute_slice(spark, cores: int) -> None:
    """A slice for compute-bound work: a Python spin split over one task
    per core (the replay source runs in Python workers), then a JVM hash
    over a range split the same way."""
    per_task = 4_000_000 // cores

    def spin(_):
        x = 0
        for k in range(per_task):
            x ^= k * 2654435761 & 0xFFFFFFFF
        return x

    spark.sparkContext.parallelize(range(cores), cores).map(spin).collect()
    spark.range(0, 150_000_000, 1, cores).selectExpr("bit_xor(xxhash64(id))").collect()


def write_slice_table(path: str) -> None:
    """The fixed input of :func:`query_slice`: a day of one-a-minute
    counter samples for 20 series, in 4 parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for part in range(4):
        series = range(part * 5, part * 5 + 5)
        rows = [(s, m) for s in series for m in range(1440)]
        pq.write_table(pa.table({
            "series": [f"s{s}" for s, _ in rows],
            "ts": [m * 60 for _, m in rows],
            "counter": [float((m * 37 + s) % 500 + m) for s, m in rows],
        }), os.path.join(path, f"part-{part}.parquet"))


def query_slice(spark, path: str) -> None:
    """A slice for latency-bound work (many small Spark jobs, planning,
    file listing and Py4J calls), shaped like a dashboard read: scan the
    table, take each series' deltas with a window, sum them per 5-minute
    bucket and collect the result; twice."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for _ in range(2):
        df = spark.read.parquet(path)
        prev = F.lag("counter").over(Window.partitionBy("series").orderBy("ts"))
        delta = F.when(prev.isNull(), 0.0).when(F.col("counter") < prev, F.col("counter"))
        delta = delta.otherwise(F.col("counter") - prev)
        (df.withColumn("d", delta)
         .groupBy("series", (F.col("ts") - F.col("ts") % 300).alias("bucket"))
         .agg(F.sum("d").alias("increase"))
         .collect())


class HostSpeed:
    """The host's speed over one timed window, from calibration slices run
    between the measured operations.

    The shared host this benchmark runs on changes speed by up to a factor
    of two from minute to minute, with no steal showing in /proc/stat, and
    by a sixth from one second to the next. A slice shaped like the
    measured operations slows down with it as they do, so operation time
    over slice time holds where raw times do not. Slices follow the
    operations until they add up to ``share`` of the measured time, so
    short and long operations are sampled alike. Their spans are kept so
    that the traced run leaves their stages out of the event-log figures."""

    share = 0.25

    def __init__(self, run_slice, spans: list):
        self.run_slice, self.spans = run_slice, spans
        self.cal_s: list[float] = []
        self.op_s = 0.0

    def after(self, op_s: float) -> None:
        """Count ``op_s`` seconds of measured work, then calibrate until
        the slices reach their share of it (at least one slice)."""
        self.op_s += op_s
        while not self.cal_s or sum(self.cal_s) < self.share * self.op_s:
            t0 = time.time()
            t = time.perf_counter()
            self.run_slice()
            self.cal_s.append(time.perf_counter() - t)
            self.spans.append((t0, time.time()))

    @property
    def factor(self) -> float:
        """How many times slower than the reference host this window ran.
        The mean, not the median, of the slices: over the same ten-run sets
        it left the scaled figures spread by a quarter to a half less."""
        return statistics.fmean(self.cal_s) / CAL_REF_S


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def retained_mb(spark) -> float:
    """Memory the process tree holds once garbage is gone: the driver
    JVM's heap in use after a full collection plus its non-heap memory,
    plus the proportional set size of every Python process (pages the
    forked Spark workers share with their daemon count once). Unlike a
    peak RSS, this does not depend on how far the JVM's collector chose
    to grow the heap, which swung peak RSS by up to 1 GB between runs."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm_bytes = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    py_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        py_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return jvm_bytes / 2**20 + py_kb / 1024.0


def peak_rss_by_process() -> dict[str, float]:
    """Peak resident set (MB) of this process and each descendant (the
    Spark JVM and its Python workers), keyed by pid and command name."""
    out = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            out[f"{pid}:{comm}"] = _status_kb(pid, "VmHWM:") / 1024.0
        except OSError:
            continue
    return out


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id) kept until the
    run ends. An inactive tracer (an untraced run) wraps nothing; an
    active one records only while ``recording`` is set, so a traced run
    can time one pass with its wrappers inert and one with them
    recording."""

    def __init__(self, run_id: str, active: bool):
        self.run_id = run_id
        self.active = active
        self.recording = active
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def add(self, name: str, value: float = 1) -> None:
        if self.recording:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + value

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned twin until :meth:`unwrap`."""
        if not self.active:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def durations_ms(self, name: str, lo: float, hi: float) -> list[float]:
        """Durations of the spans called ``name`` that started in [lo, hi]."""
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name and lo <= s["start"] <= hi]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "counts": self.counts}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.on = t.recording
        if not self.on:
            return self
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        self.rec = {
            "name": self.name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": t.run_id,
            "id": f"{threading.get_ident()}:{len(t.spans)}:{id(self)}",
        }
        stack.append(self.rec)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if not self.on:
            return False
        self.rec["end"] = time.time()
        t._local.stack.pop()
        with t._lock:
            t.spans.append(self.rec)
        return False


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def progress_layer(progress: list[dict]) -> dict:
    """``streaming.jobs`` per-micro-batch figures from progress events of
    batches that read input. State size sums the latest event of each
    query name: the app's concurrent queries add up, while the counter
    job's successive drains (all unnamed) count once."""
    live = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in live]
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    trig = [d.get("triggerExecution", 0) for d in dur]
    p_tail = tail_percentile(len(trig))
    latest = {p.get("name"): p for p in progress}
    last_ops = [op for p in latest.values() for op in p.get("stateOperators", [])]
    return {
        "batches": len(live),
        "trigger_ms_p50": p50(trig),
        "trigger_ms_tail": tail(trig, p_tail),
        "trigger_tail_percentile": p_tail,
        "add_batch_ms_p50": p50([d.get("addBatch", 0) for d in dur]),
        "query_planning_ms_p50": p50([d.get("queryPlanning", 0) for d in dur]),
        "latest_offset_ms_p50": p50([d.get("latestOffset", 0) for d in dur]),
        "wal_commit_ms_p50": p50([d.get("walCommit", 0) for d in dur]),
        "commit_offsets_ms_p50": p50([d.get("commitOffsets", 0) for d in dur]),
        "state_rows_total": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "state_memory_bytes": sum(op.get("memoryUsedBytes", 0) for op in last_ops),
        "state_commit_ms_p50": p50([op.get("commitTimeMs", 0) for op in ops]),
        "state_store_instances": max(
            (op.get("numShufflePartitions", 0) for op in ops), default=0
        ),
        "rows_dropped_by_watermark": sum(
            op.get("numRowsDroppedByWatermark", 0) for op in ops
        ),
        "input_rows": sum(p.get("numInputRows", 0) for p in progress),
    }


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str, t0_ms: float, t1_ms: float, skip=()) -> dict:
    """Stage and task totals of the stages that ran during the timed
    window [t0_ms, t1_ms] (epoch ms), and the scheduling gap: timed wall
    time not covered by any running stage. Stages submitted inside a
    ``skip`` span (epoch ms: the calibration slices) are left out, and so
    is the skipped time."""
    stages, tasks = [], []
    files = [os.path.join(d, n) for d, _, ns in os.walk(log_dir) for n in ns
             if not n.startswith((".", "appstatus"))]
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageCompleted":
                    stages.append(ev["Stage Info"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    spans = []
    n_tasks = []
    keep_stages = set()
    for st in stages:
        lo, hi = st.get("Submission Time"), st.get("Completion Time")
        if lo is None or hi is None or hi < t0_ms or lo > t1_ms:
            continue
        if any(a <= lo <= b for a, b in skip):
            continue
        keep_stages.add((st["Stage ID"], st.get("Stage Attempt ID", 0)))
        spans.append((max(lo, t0_ms), min(hi, t1_ms)))
        n_tasks.append(st.get("Number of Tasks", 0))
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(spans):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    skipped = sum(max(0.0, min(b, t1_ms) - max(a, t0_ms)) for a, b in skip)
    agg = dict(run=0.0, cpu=0.0, gc=0.0, shr=0.0, shw=0.0, spill=0.0, n=0)
    for ev in tasks:
        if (ev.get("Stage ID"), ev.get("Stage Attempt ID", 0)) not in keep_stages:
            continue
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        agg["n"] += 1
        agg["run"] += m.get("Executor Run Time", 0) / 1e3
        agg["cpu"] += m.get("Executor CPU Time", 0) / 1e9
        agg["gc"] += m.get("JVM GC Time", 0) / 1e3
        agg["shr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        agg["shw"] += sw.get("Shuffle Bytes Written", 0)
        agg["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "stages": len(spans),
        "tasks": agg["n"],
        "tasks_per_stage_p50": p50(n_tasks),
        "executor_run_s": agg["run"],
        "executor_cpu_s": agg["cpu"],
        "gc_s": agg["gc"],
        "shuffle_read_bytes": agg["shr"],
        "shuffle_write_bytes": agg["shw"],
        "spill_bytes": agg["spill"],
        "scheduling_gap_s": max(0.0, (t1_ms - t0_ms) - skipped - covered) / 1e3,
    }
