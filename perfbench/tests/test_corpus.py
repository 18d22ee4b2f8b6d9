"""Generator determinism and the Spark-free reference on hand-built inputs.

Run with ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import corpus as C

JOURNEY = "/hfp/v2/journey/ongoing/vp/bus/0001/00001/1234/1/Tapiola/11:06/2265203/5/60;24/18/80/57"
BUS_7280 = "/hfp/v2/journey/ongoing/vp/bus/0001/00001/7280/1/Tapiola/11:06/2265203/5/60;24/18/80/57"
MIN = 60_000_000
T0 = int(C.EPOCH.timestamp() * 1e6)


def test_replay_corpus_is_a_function_of_the_seed():
    a = C.make_replay_corpus(7, 2_000)
    assert a == C.make_replay_corpus(7, 2_000)
    assert a != C.make_replay_corpus(8, 2_000)
    assert len({m["ts_us"] for m in a}) == len(a)
    assert {m["broker"] for m in a} == set(C.BROKERS)


def test_replay_corpus_has_every_input_property():
    corpus = C.make_replay_corpus(3, 20_000)
    fanned = [C.fanout(m["topic"], C.DASHBOARD_FILTERS) for m in corpus]
    hit = {f for fs in fanned for f in fs}
    assert hit == {*C.DASHBOARD_FILTERS, C.UNKNOWN}
    assert any(len(fs) > 1 for fs in fanned)
    nominal_step = 360 * 1_000_000 // 20_000
    behind = [T0 + i * nominal_step - m["ts_us"] for i, m in enumerate(corpus)]
    assert any(0 < b < 30_000_000 for b in behind)
    late = [i for i, b in enumerate(behind) if b >= 600_000_000]
    assert late and min(late) > len(corpus) // 2


def test_live_topics_are_a_function_of_the_seed_and_all_delivered():
    a = C.make_live_topics(5, 300)
    assert a == C.make_live_topics(5, 300)
    assert a != C.make_live_topics(6, 300)
    assert all(w > 0 for ts in a for w in C.live_weights(ts))


def test_windowed_reference_drops_one_late_event():
    def msg(minute: float, topic: str = JOURNEY) -> dict:
        return {"broker": C.BROKERS[0], "topic": topic, "payload": "",
                "ts_us": T0 + int(minute * MIN)}

    # one message per micro-batch; by batch 3 the watermark from batch 1
    # (newest event 10 min, minus 2 min) has passed minute 0's window
    corpus = [msg(0), msg(10), msg(10.5), msg(0.5), msg(11)]
    ref = C.windowed_rate_reference(corpus, C.DASHBOARD_FILTERS, rows_per_batch=1)
    assert ref["late_msgs"] == 1
    assert ref["dropped_rows"] == 1  # the journey filter only
    w0, w10, w11 = T0, T0 + 10 * MIN, T0 + 11 * MIN
    journey = "/hfp/v2/journey/#"
    assert ref["counts"] == {
        (w0, C.BROKERS[0], journey): 1,
        (w10, C.BROKERS[0], journey): 2,
        (w11, C.BROKERS[0], journey): 1,
    }


def test_overlapping_filters_count_once_per_subscription():
    # BUS_7280 matches three live filters: it arrives three times and each
    # copy fans out to the three filters
    assert C.live_weights([BUS_7280, JOURNEY, "gtfsrt/dev/fi/hsl/vp/9"]) == [9, 4, 1]
    assert C.live_totals([BUS_7280, JOURNEY]) == {
        "/hfp/v2/journey/#": 3 + 2,
        "/hfp/v2/journey/ongoing/+/bus/#": 3 + 2,
        "/hfp/v2/journey/ongoing/vp/+/+/+/7280/#": 3,
    }


def test_counter_samples_and_rate_reference():
    corpus = [
        {"broker": "b", "topic": "gtfsrt/dev/fi/hsl/sa", "payload": "", "ts_us": T0 + k * MIN}
        for k in range(4)
    ]
    samples = C.counter_samples(corpus, C.DASHBOARD_FILTERS, rows_per_batch=2)
    assert samples == [
        (T0 + MIN, "b", "gtfsrt/dev/fi/hsl/sa", 2.0),
        (T0 + 3 * MIN, "b", "gtfsrt/dev/fi/hsl/sa", 4.0),
    ]
    # a reset: the counter restarts, so the step adds its new value
    samples.append((T0 + 4 * MIN, "b", "gtfsrt/dev/fi/hsl/sa", 1.0))
    rate = C.rate_reference(samples, 300, T0, T0 + 86_400_000_000)
    assert rate == {(T0, "b", "gtfsrt/dev/fi/hsl/sa"): (3.0, 0.01)}


def test_events_table_is_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    import batch

    for name, seed in (("a", 4), ("b", 4), ("c", 5)):
        batch.write_events(str(tmp_path / name), seed, n=1_000, files=3)
    read = {n: pq.read_table(str(tmp_path / n)).to_pylist() for n in "abc"}
    assert read["a"] == read["b"] != read["c"]
    assert sorted(r["event_id"] for r in read["a"]) == list(range(1_000))
    assert {r["event_type"] for r in read["a"]} == set(batch.EVENT_TYPES)
