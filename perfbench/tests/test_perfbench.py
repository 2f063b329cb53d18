"""The benchmark's own tests: generator, answer check, span arithmetic and
the percentile helper. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import answers as A  # noqa: E402
from perfbench import gen  # noqa: E402
from perfbench.spans import (  # noqa: E402
    Span, Tracer, beyond, quantile, self_times, tail_percentile)


@pytest.fixture(scope="module")
def readings():
    return gen.readings(7, 60)


# -- generator ---------------------------------------------------------------


def test_generator_is_deterministic_per_seed(readings):
    again = gen.readings(7, 60)
    other = gen.readings(8, 60)
    for col in ("metric_id", "geohash", "ts_ms", "value"):
        assert np.array_equal(getattr(readings, col), getattr(again, col))
    assert not np.array_equal(readings.value, other.value)
    assert not np.array_equal(readings.ts_ms, other.ts_ms)
    # one sensor layout for every seed
    assert readings.sensors == again.sensors == other.sensors


def test_reference_minute_holds_antwerp_data(readings):
    minute = (readings.ts_ms // gen.MINUTE_MS) * gen.MINUTE_MS
    at_ref = readings.geohash[minute == gen.REF_TS_MS]
    assert len(at_ref) > 0
    ans = A.Answers(readings)
    req = A.antwerp_snapshot()
    assert ans.answer(req), "the reference request must have rows to check"


def test_generated_geohash_matches_engine_encoder():
    from explora_kafka_spark.functions import geo

    rng = np.random.default_rng(3)
    for lat, lon in zip(rng.uniform(-89, 89, 200), rng.uniform(-179, 179, 200)):
        assert gen.geohash_encode(lat, lon) == geo.geohash_encode(lat, lon, 12)


def test_cover_membership_matches_engine_cover(readings):
    """The answer check decides cover membership from the sensors' own
    geohashes; it must agree with the engine's enumerated cover."""
    from explora_kafka_spark.functions import geo

    rng = np.random.default_rng(4)
    for shape in ("block", "city", "strip"):
        for _ in range(5):
            req = A.random_snapshot(rng, readings.sensors, shape)
            n, w, s, e = (float(x) for x in req.params["bbox"].split(","))
            p = A.cover_precision(n, w, s, e, int(req.params["gh_precision"]))
            cover = set(geo.geohash_cover_bbox(n, w, s, e, p))
            for g in readings.sensors:
                assert A.in_cover(g, n, w, s, e, p) == (g[:p] in cover)


# -- answer check ------------------------------------------------------------


def _body(req):
    key = "timestamp" if req.kind == "history" else "geohash"
    return {"columns": [key, req.agg], "data": [[k, v] for k, v in req.expected],
            "metadata": {"metric_id": req.metric}}


def test_answer_check_accepts_the_right_body(readings):
    reqs = [A.antwerp_snapshot()] + A.read_mix(5, readings.sensors, 10)
    A.Answers(readings).fill(reqs)
    for req in reqs:
        assert A.check_body(req, _body(req)) is None


def test_answer_check_rejects_corrupted_body(readings):
    req = A.antwerp_snapshot()
    A.Answers(readings).fill([req])
    body = _body(req)
    body["data"][0][1] += 0.5
    assert A.check_body(req, body) is not None
    body = _body(req)
    body["data"][0][0] = "zzzzzz"
    assert A.check_body(req, body) is not None
    body = _body(req)
    body["data"].pop()
    assert A.check_body(req, body) is not None


def test_answer_check_rejects_empty_body(readings):
    req = A.antwerp_snapshot()
    A.Answers(readings).fill([req])
    body = _body(req)
    body["data"] = []
    assert A.check_body(req, body) == "empty body where data exists"


# -- spans -------------------------------------------------------------------


def _span(i, parent, start, end, name="x"):
    return Span(i, parent, name, "r1", start, end)


def test_self_time_on_a_synthetic_tree():
    # root [0, 10] with children [1, 4] and [3, 6] (overlapping: union 5)
    # and [8, 9]; the first child has a grandchild [2, 3]
    spans = [_span(1, None, 0, 10), _span(2, 1, 1, 4), _span(3, 1, 3, 6),
             _span(4, 1, 8, 9), _span(5, 2, 2, 3)]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 6)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3)
    assert st[5] == pytest.approx(1)
    # self times of a tree without overlapping siblings add up to the root
    tree = [s for s in spans if s.id != 3]
    assert sum(self_times(tree).values()) == pytest.approx(10)


def test_tracer_nests_spans_per_thread():
    tr = Tracer()
    outer = tr.wrap(lambda: inner(), "outer")
    inner = tr.wrap(lambda: 1, "inner")
    assert outer() == 1
    by_name = {s.name: s for s in tr.spans}
    assert by_name["inner"].parent == by_name["outer"].id
    tr.enabled = False
    outer()
    assert len(tr.spans) == 2


# -- percentiles ---------------------------------------------------------------


@pytest.mark.parametrize("n", [1, 9, 19, 20, 21, 39, 40, 99, 100, 101, 1000, 1001])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    values = list(range(n))
    q = tail_percentile(values)
    if q is None:
        assert beyond(values, 50) < 10
        return
    assert beyond(values, q) >= 10
    assert sum(v > quantile(values, q) for v in values) >= 10
    higher = [p for p in (50, 75, 90, 95, 99, 99.9) if p > q]
    if higher:
        assert beyond(values, higher[0]) < 10


def test_tail_percentile_examples():
    assert tail_percentile(list(range(20))) == 50
    assert tail_percentile(list(range(40))) == 75
    assert tail_percentile(list(range(100))) == 90
    assert tail_percentile(list(range(200))) == 95


# -- harness accounting --------------------------------------------------------


def test_each_appended_file_counts_once():
    from perfbench.run import classify_files

    timed = range(10, 14)
    due = {k: float(k) for k in range(0, 14)}
    # 10 shown right; 11 shown wrong, later right; 12 only wrong; 13 never;
    # warm-up file 3 shown wrong is not a timed file
    seen = {10: 12.5, 11: 13.0, 3: 4.0}
    wrong = {11: "count 1 where 2", 12: "count 3 where 2", 3: "count 0 where 2"}
    fresh, lost, bad = classify_files(timed, seen, wrong, due)
    assert fresh == [2.5]
    assert lost == [13]
    assert sorted(bad) == [11, 12]
    assert len(fresh) + len(lost) + len(bad) == len(timed)


def test_closed_loop_rate_ignores_idle_tail():
    from perfbench.run import Op, closed_loop_rate

    # 2 clients, each busy back to back with 1 s requests: 2 per second,
    # however long the window ran past the last answer
    stream = [A.antwerp_snapshot()]
    ops = [Op(str(i), "snapshot", float(i // 2), 1.0, None, shape="antwerp") for i in range(10)]
    assert closed_loop_rate(ops, 2, stream) == pytest.approx(2.0)


def test_closed_loop_rate_weighs_shapes_by_stream_share():
    from perfbench.run import Op, closed_loop_rate

    # the stream is half 1 s requests, half 3 s ones: a mean of 2 s, even
    # when the window caught three fast requests for one slow one
    stream = [A.Request("snapshot", "m", "avg", {}, shape=s) for s in ("fast", "slow")]
    ops = [Op(str(i), "snapshot", 0.0, 1.0, None, shape="fast") for i in range(3)]
    ops.append(Op("3", "snapshot", 0.0, 3.0, None, shape="slow"))
    assert closed_loop_rate(ops, 1, stream) == pytest.approx(0.5)
