"""Unit tests of the benchmark's own helpers on synthetic inputs (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, oracle  # noqa: E402
from perfbench.stats import (  # noqa: E402
    OpenLoop,
    Outcomes,
    Span,
    geomean,
    self_times,
    tail,
)


# --- tail percentile ------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    pct, value = tail(xs)
    assert value == 90.0 and pct == 90.0
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_independent_and_counts_ties_by_rank():
    xs = [5.0] * 30 + [1.0] * 10
    assert tail(xs) == tail(list(reversed(xs))) == (75.0, 5.0)


def test_tail_of_few_samples_is_the_maximum():
    # with 20 samples the only percentile with 10 beyond is the median
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert tail([float(i) for i in range(20)]) == (100.0, 19.0)
    pct, v = tail([float(i) for i in range(21)])
    assert v == 10.0 and math.isclose(pct, 100 * 11 / 21)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        tail([])


def test_geomean():
    assert math.isclose(geomean([1.0, 100.0]), 10.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


# --- open loop ------------------------------------------------------------


def test_open_loop_latency_runs_from_due_time():
    loop = OpenLoop(start=100.0, rate=4.0)  # due at 100, 100.25, 100.5
    loop.record(0, sent=100.0, done=100.1)
    # the generator stalled: request 1 went out 0.5 s late
    loop.record(1, sent=100.75, done=100.8)
    loop.record(2, sent=100.5, done=100.6)
    assert [round(x, 6) for x in loop.latency] == [0.1, 0.55, 0.1]
    assert [round(x, 6) for x in loop.late] == [0.0, 0.5, 0.0]


def test_open_loop_sending_early_is_not_negative_lateness():
    loop = OpenLoop(start=0.0, rate=1.0)
    loop.record(3, sent=2.9, done=3.2)
    assert loop.late == [0.0] and math.isclose(loop.latency[0], 0.2)


# --- failure counting -----------------------------------------------------


def test_outcomes_count_wrong_errors_and_limit_misses_once_each():
    out = Outcomes()
    assert out.add(True, 0.5, 1.0)
    assert not out.add(False, 0.5, 1.0)            # wrong answer
    assert not out.add(True, 2.0, 1.0)             # over the latency limit
    assert not out.add(True, 0.1, 1.0, "boom")     # raised
    assert not out.add(False, 2.0, 1.0)            # wrong and late: one failure
    out.check(True, "conservation")
    out.check(False, "rows")
    assert (out.attempted, out.failed) == (7, 5)
    assert (out.wrong, out.errors, out.over_limit) == (3, 1, 2)
    assert math.isclose(out.ok_ratio, 2 / 7)
    assert out.notes == ["boom", "check failed: rows"]


def test_outcomes_empty_ratio():
    assert Outcomes().ok_ratio == 0.0


# --- span self time -------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        Span("build", 0.0, 10.0, 1),
        Span("dwd", 1.0, 5.0, 2, parent=1),
        Span("dws", 4.0, 7.0, 3, parent=1),     # overlaps dwd: union is 1..7
        Span("table", 1.5, 2.0, 4, parent=2),
        Span("other", 20.0, 21.0, 5),
    ]
    st = self_times(spans)
    assert math.isclose(st["build"], 10.0 - 6.0)
    assert math.isclose(st["dwd"], 4.0 - 0.5)
    assert math.isclose(st["dws"], 3.0)
    assert math.isclose(st["table"], 0.5)
    assert math.isclose(st["other"], 1.0)


def test_self_time_clips_children_to_the_parent_and_sums_names():
    spans = [
        Span("req", 0.0, 2.0, 1),
        Span("fn", 1.0, 3.0, 2, parent=1),      # ends after its parent
        Span("req", 5.0, 6.0, 3),
    ]
    st = self_times(spans)
    assert math.isclose(st["req"], (2.0 - 1.0) + 1.0)
    assert math.isclose(st["fn"], 2.0)


# --- reference answers ----------------------------------------------------


def test_traffic_windows_keep_first_entry_per_device_day():
    lines = [
        '{"common":{"mid":"m1","vc":"v1","ch":"app","ar":"1","is_new":"0"},'
        '"page":{"page_id":"home","last_page_id":null},"ts":1704067205000}',
        # same device and day, later: not a new visitor
        '{"common":{"mid":"m1","vc":"v1","ch":"app","ar":"1","is_new":"0"},'
        '"page":{"page_id":"home","last_page_id":null},"ts":1704067299000}',
        # not a session entry
        '{"common":{"mid":"m2","vc":"v1","ch":"app","ar":"1","is_new":"0"},'
        '"page":{"page_id":"cart","last_page_id":"home"},"ts":1704067206000}',
        # app launch, no page
        '{"common":{"mid":"m3","vc":"v1","ch":"app","ar":"1","is_new":"0"},'
        '"start":{"entry":"icon"},"ts":1704067207000}',
        "CORRUPT{not json",
    ]
    assert oracle.traffic_windows(lines) == {
        ("2024-01-01 00:00:00", 1704067210000, "v1", "app", "1", "0"): 1
    }


def test_cart_daily_uu_filters_like_the_cart_add_fact():
    env = '{{"type":"{t}","ts":"{ts}","data":{d}{old}}}'
    lines = [
        env.format(t="insert", ts=1704067200, old="",
                   d='{"id":"1","user_id":"u1","sku_num":"1"}'),
        env.format(t="update", ts=1704067300, old=',"old":{"sku_num":"3"}',
                   d='{"id":"2","user_id":"u2","sku_num":"2"}'),   # decrease
        env.format(t="update", ts=1704067400, old=',"old":{"sku_num":"1"}',
                   d='{"id":"3","user_id":"u3","sku_num":"2"}'),   # increase
        env.format(t="bootstrap-start", ts=1704067500, old="", d="{}"),
        env.format(t="insert", ts=1704153600, old="",
                   d='{"id":"4","user_id":"u1","sku_num":"1"}'),   # next day
    ]
    assert oracle.cart_daily_uu(lines) == {
        "2024-01-01": (2, 1704153600000),
        "2024-01-02": (1, 1704240000000),
    }


def test_payload_matches():
    assert oracle.payload_matches("/gmv", {"status": 0, "data": 12.5}, 12.5)
    assert not oracle.payload_matches("/gmv", {"status": 1, "data": 12.5}, 12.5)
    got = {"status": 0, "data": {"mapData": [{"name": "A", "value": 1.0}]}}
    assert oracle.payload_matches("/province", got, {"A": 1.0})
    assert not oracle.payload_matches("/province", got, {"A": 1.0, "B": 2.0})


# --- stream generator -----------------------------------------------------


def _stamps(log, db):
    import json

    ms = [json.loads(x.removeprefix("CORRUPT{"))["ts"] for x in log]
    s = [int(json.loads(x)["ts"]) for x in db]
    return ms, s


def test_stream_batches_are_short_bursts_spaced_by_the_gap():
    g = gen.StreamGen(7, 200, burst_ms=2_000, gap_s=28 * 3600, offset_s=22 * 3600)
    for b in range(3):
        ms, s = _stamps(*g.next())
        lo = (gen.STREAM_T0_S + 22 * 3600 + b * 28 * 3600) * 1000
        assert ms == sorted(ms) and len(set(ms)) == len(ms)
        assert lo <= ms[0] and ms[-1] < lo + 2_000  # under a 3 s watermark delay
        assert all(lo // 1000 <= t <= (lo + 2_000) // 1000 for t in s)


def test_stream_generator_is_seeded():
    a = gen.StreamGen(3, 50, 1_000, 60)
    b = gen.StreamGen(3, 50, 1_000, 60)
    assert [a.next() for _ in range(2)] == [b.next() for _ in range(2)]
    with pytest.raises(ValueError):
        gen.StreamGen(3, 50, 10, 60)  # fewer milliseconds than events
