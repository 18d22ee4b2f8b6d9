"""Seeded inputs and their Spark-free reference results.

Everything here is plain Python: the generators make the benchmark's inputs
from a seed, and the reference functions compute what the engine must
output for those inputs, so the check never trusts the code it measures.

Topics never carry empty levels other than the leading one (and never a
trailing slash), so the MQTT spec match used by the broker and the Java
``String.split`` match used by the engine agree on every generated topic;
one matcher serves both.
"""

from __future__ import annotations

import json
import random
from collections import defaultdict
from datetime import datetime, timedelta, timezone

#: The 9 Grafana dashboard filters (grafana/mqtt-dashboard.json:92-820),
#: kept here as data so the reference does not import the engine.
DASHBOARD_FILTERS = (
    "/hfp/v2/journey/ongoing/apc/#",
    "/hfp/v2/journey/#",
    "/hfp/v2/journey/ongoing/+/+/+/+/7280/#",
    "/hfp/v2/journey/ongoing/+/ferry/#",
    "/hfp/v2/journey/ongoing/+/metro/#",
    "gtfsrt/v2/fi/hsl/tu",
    "gtfsrt/dev/fi/hsl/sa",
    "gtfsrt/dev/fi/hsl/tu",
    "gtfsrt/dev/fi/hsl/vp/#",
)
UNKNOWN = "unknown"

#: Overlapping production filters for the live collector: a journey
#: message matches up to three of them, so it is delivered (and counted)
#: once per matching subscription.
LIVE_FILTERS = (
    "/hfp/v2/journey/#",
    "/hfp/v2/journey/ongoing/+/bus/#",
    "/hfp/v2/journey/ongoing/vp/+/+/+/7280/#",
    "gtfsrt/dev/fi/hsl/vp/#",
)

BROKERS = ("tcp://broker-a.local:1883", "tcp://broker-b.local:1883")
EPOCH = datetime(2024, 5, 1, 12, 0, tzinfo=timezone.utc)

# (weight, family) — Zipf-like skew: most traffic is bus vehicle
# positions, a long tail covers every dashboard filter plus topics that
# match none of them.
_FAMILIES = (
    (48, "vp_bus"),
    (16, "apc"),
    (10, "ferry"),
    (8, "metro"),
    (6, "route_7280"),
    (4, "gtfs_vp"),
    (3, "gtfs_tu_v2"),
    (2, "gtfs_sa"),
    (1, "gtfs_tu_dev"),
    (2, "unknown"),
)


def levels(s: str) -> list[str]:
    return s.split("/")


def topic_matches(topic_filter: str, topic: str) -> bool:
    """MQTT 3.1.1 filter match (``+`` one level, ``#`` the rest, zero or
    more levels)."""
    fparts, tparts = levels(topic_filter), levels(topic)
    for i, fp in enumerate(fparts):
        if fp == "#":
            return True
        if i >= len(tparts) or (fp != "+" and fp != tparts[i]):
            return False
    return len(tparts) == len(fparts)


_FANOUT_MEMO: dict = {}


def fanout(topic: str, filters) -> list[str]:
    """Filters a message counts toward: every match, or the unknown bucket."""
    key = (topic, tuple(filters))
    hit = _FANOUT_MEMO.get(key)
    if hit is None:
        hit = _FANOUT_MEMO[key] = (
            [f for f in filters if topic_matches(f, topic)] or [UNKNOWN]
        )
    return hit


def make_topic(rng: random.Random, family: str | None = None) -> str:
    if family is None:
        family = rng.choices(
            [f for _, f in _FAMILIES], [w for w, _ in _FAMILIES]
        )[0]
    veh = rng.randrange(1, 400)
    route = rng.randrange(1000, 9999)
    if family in ("vp_bus", "apc", "ferry", "metro", "route_7280"):
        kind = "apc" if family == "apc" else "vp"
        mode = {"ferry": "ferry", "metro": "metro"}.get(family, "bus")
        oper = "7280" if family == "route_7280" else str(route)
        return (
            f"/hfp/v2/journey/ongoing/{kind}/{mode}/{veh:04d}/{veh % 97:05d}/"
            f"{oper}/1/Tapiola/11:06/2265203/5/60;24/18/80/57"
        )
    if family == "gtfs_vp":
        return f"gtfsrt/dev/fi/hsl/vp/{veh}"
    if family == "gtfs_tu_v2":
        return "gtfsrt/v2/fi/hsl/tu"
    if family == "gtfs_sa":
        return "gtfsrt/dev/fi/hsl/sa"
    if family == "gtfs_tu_dev":
        return "gtfsrt/dev/fi/hsl/tu"
    return f"ext/telemetry/{veh}"


# ---------------------------------------------------------------------------
# Replay corpus
# ---------------------------------------------------------------------------


def make_replay_corpus(
    seed: int,
    n_msgs: int,
    span_s: float = 360.0,
    disorder_share: float = 0.05,
    late_share: float = 0.005,
    start: datetime = EPOCH,
) -> list[dict]:
    """``n_msgs`` messages over 2 brokers whose event time advances over
    ``span_s`` seconds. A ``disorder_share`` of them arrive up to 30 s
    behind the newest event (inside the 2-minute watermark); a
    ``late_share`` arrive 10 minutes behind it, beyond the watermark, and
    only in the second half of the corpus, so that with at least four
    micro-batches a watermark from two batches back exists for them. Event
    times are distinct microseconds, so no two samples of one series can
    tie on time."""
    rng = random.Random(seed)
    step_us = int(span_s * 1e6 / n_msgs)
    base_us = int(start.timestamp() * 1e6)
    used: set[int] = set()
    out = []
    for i in range(n_msgs):
        ts = base_us + i * step_us
        r = rng.random()
        if i > n_msgs // 2 and r < late_share:
            ts -= 600_000_000 + rng.randrange(60_000_000)
        elif r < late_share + disorder_share:
            ts -= rng.randrange(1, 30_000_000)
        while ts in used:
            ts += 1
        used.add(ts)
        out.append(
            {
                "broker": BROKERS[rng.random() < 0.4],
                "topic": make_topic(rng),
                "payload": f"m{i}",
                "ts_us": ts,
            }
        )
    return out


def us_to_iso(ts_us: int) -> str:
    return (datetime(1970, 1, 1, tzinfo=timezone.utc)
            + timedelta(microseconds=ts_us)).isoformat()


def write_jsonl(path: str, corpus: list[dict]) -> None:
    with open(path, "w") as f:
        for m in corpus:
            rec = {
                "broker": m["broker"],
                "topic": m["topic"],
                "payload": m["payload"],
                "ts": us_to_iso(m["ts_us"]),
            }
            f.write(json.dumps(rec) + "\n")


def batches(n: int, rows_per_batch: int) -> list[tuple[int, int]]:
    """Row ranges of the replay source's micro-batches."""
    return [(lo, min(lo + rows_per_batch, n)) for lo in range(0, n, rows_per_batch)]


WINDOW_US = 60_000_000
WATERMARK_US = 120_000_000


def windowed_rate_reference(corpus: list[dict], filters, rows_per_batch: int) -> dict:
    """What ``windowed_rate_job`` in update mode must end with.

    Spark's watermark for a batch is the newest event time seen in the
    batches before it minus the 2-minute delay; a row is late, and
    dropped, when its 60-second window ends at or before the watermark
    that was in force one batch earlier (the late-event watermark of
    Spark >= 3.4). The stateful operator counts drops after the shuffle
    has merged the partial aggregates, so the expected drop count is the
    number of distinct (batch, window, broker, filter) groups among late
    fanned rows. Late rows in this corpus are 10 minutes behind, far past
    either watermark, so the count does not hinge on which one applies.
    """
    counts: dict = defaultdict(int)
    late_msgs = 0
    dropped_groups = 0
    max_seen = None
    wm_history = [None]  # wm_history[k] = watermark in force during batch k
    for b, (lo, hi) in enumerate(batches(len(corpus), rows_per_batch)):
        wm = wm_history[b - 1] if b >= 1 else None
        groups = set()
        for m in corpus[lo:hi]:
            w = m["ts_us"] - m["ts_us"] % WINDOW_US
            is_late = wm is not None and w + WINDOW_US <= wm
            late_msgs += is_late
            for f in fanout(m["topic"], filters):
                key = (w, m["broker"], f)
                if is_late:
                    groups.add(key)
                else:
                    counts[key] += 1
        dropped_groups += len(groups)
        batch_max = max(m["ts_us"] for m in corpus[lo:hi])
        max_seen = batch_max if max_seen is None else max(max_seen, batch_max)
        wm_history.append(max(wm_history[-1] or 0, max_seen - WATERMARK_US))
    return {
        "counts": dict(counts),
        "late_msgs": late_msgs,
        "dropped_rows": dropped_groups,
        "fanned_rows": sum(len(fanout(m["topic"], filters)) for m in corpus),
        "unknown_rows": sum(fanout(m["topic"], filters) == [UNKNOWN] for m in corpus),
    }


def counter_totals(corpus: list[dict], filters) -> dict:
    """Final ``messages_received_total`` per (broker, topic_filter); the
    counter job's groups carry no event time, so the watermark drops
    nothing."""
    out: dict = defaultdict(int)
    for m in corpus:
        for f in fanout(m["topic"], filters):
            out[(m["broker"], f)] += 1
    return dict(out)


def counter_samples(corpus: list[dict], filters, rows_per_batch: int) -> list[tuple]:
    """History samples ``stream_merge_counter_job`` appends: one per key
    changed in a micro-batch, stamped with the newest event time of that
    key's rows in the batch and carrying the running total."""
    totals: dict = defaultdict(int)
    out = []
    for lo, hi in batches(len(corpus), rows_per_batch):
        newest: dict = {}
        for m in corpus[lo:hi]:
            for f in fanout(m["topic"], filters):
                key = (m["broker"], f)
                totals[key] += 1
                newest[key] = max(newest.get(key, m["ts_us"]), m["ts_us"])
        out.extend((ts, k[0], k[1], float(totals[k])) for k, ts in newest.items())
    return out


def seed_history(seed: int, days: int, series, end: datetime = EPOCH) -> list[tuple]:
    """Pre-existing counter history: one sample a minute per series for
    ``days`` whole days before ``end``'s day and for ``end``'s day up to
    ``end``, with one counter reset per series per day."""
    rng = random.Random(seed ^ 0x5EED)
    day0 = end.replace(hour=0, minute=0, second=0, microsecond=0) - timedelta(days=days)
    n_min = int((end - day0).total_seconds() // 60)
    base_us = int(day0.timestamp() * 1e6)
    out = []
    for broker, filt in series:
        value = float(rng.randrange(1000))
        reset_at = {d * 1440 + rng.randrange(1440) for d in range(days + 1)}
        for k in range(n_min):
            value = float(rng.randrange(50)) if k in reset_at else value + rng.randrange(1, 400)
            out.append((base_us + k * 60_000_000 + rng.randrange(1, 59_000_000), broker, filt, value))
    return out


def write_history(path: str, samples: list[tuple]) -> None:
    """Lay pre-existing samples out as the history store does: one parquet
    file per ``dt=YYYY-MM-DD`` directory with columns ts (UTC micros),
    broker, topic_filter, counter."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    by_day: dict = defaultdict(list)
    for row in samples:
        by_day[us_to_iso(row[0])[:10]].append(row)
    for day, rows in by_day.items():
        rows.sort(key=lambda r: (r[1], r[2]))
        table = pa.table({
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us", tz="UTC")),
            "broker": [r[1] for r in rows],
            "topic_filter": [r[2] for r in rows],
            "counter": pa.array([r[3] for r in rows], pa.float64()),
        })
        os.makedirs(os.path.join(path, f"dt={day}"), exist_ok=True)
        pq.write_table(table, os.path.join(path, f"dt={day}", "part-seed.parquet"))


def rate_reference(samples, window_s: int, lo_us: int, hi_us: int) -> dict:
    """PromQL ``rate()`` per tumbling window and series over the samples
    whose day partition lies in [lo_us, hi_us): reset-guarded deltas
    (first sample 0, a drop counts its new value), summed per window,
    ``increase`` rounded to 6 and ``rate_per_s`` to 8 decimals."""
    by_key: dict = defaultdict(list)
    for ts, broker, filt, counter in samples:
        if lo_us <= ts < hi_us:
            by_key[(broker, filt)].append((ts, counter))
    inc: dict = defaultdict(float)
    w_us = window_s * 1_000_000
    for key, rows in by_key.items():
        rows.sort()
        prev = None
        for ts, c in rows:
            d = 0.0 if prev is None else (c if c < prev else c - prev)
            prev = c
            inc[(ts - ts % w_us, *key)] += d
    return {
        k: (round(v, 6), round(round(v, 6) / window_s, 8)) for k, v in inc.items()
    }


# ---------------------------------------------------------------------------
# Live publisher schedule
# ---------------------------------------------------------------------------


def make_live_topics(seed: int, n_per_broker: int) -> list[list[str]]:
    """Per-broker publish order for the live collector (topics only; the
    creation time is taken when the publisher sends). Every topic matches
    at least one of ``LIVE_FILTERS``, because the broker drops the rest."""
    rng = random.Random(seed ^ 0x11FE)
    fams = ("vp_bus", "vp_bus", "vp_bus", "apc", "ferry", "route_7280", "gtfs_vp")
    return [
        [make_topic(rng, rng.choice(fams)) for _ in range(n_per_broker)]
        for _ in BROKERS
    ]


def live_weights(topics: list[str], filters=LIVE_FILTERS) -> list[int]:
    """Counter increments each message causes on its broker: it arrives
    once per matching subscription, and each copy fans out to every
    matching filter, so a message matching d filters adds d * d."""
    out = []
    for t in topics:
        d = sum(topic_matches(f, t) for f in filters)
        out.append(d * d)
    return out


def live_totals(topics: list[str], filters=LIVE_FILTERS) -> dict:
    out: dict = defaultdict(int)
    for t in topics:
        matched = [f for f in filters if topic_matches(f, t)]
        for f in matched:
            out[f] += len(matched)
    return dict(out)
