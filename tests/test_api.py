"""API layer tests: the L5 validation matrix (table-driven against the
exact reference messages — QueryingService.java:46-222) and the S7
Message envelope golden shape."""

from __future__ import annotations

import sys
import threading

import pytest

from explora_kafka_spark import api
from explora_kafka_spark.plans import query as Q
from explora_kafka_spark.plans.views import view_lattice
from explora_kafka_spark.sources.tables import load_readings
from tests.conftest import SMALL_BBOXES, SMALL_CELLS, SMALL_TS_MS

NOW = 1706616000000  # 2024-01-30T12:00:00Z

HISTORY_400S = [
    # (params-override, expected message) — order-sensitive matrix
    ({"geohashes": ""},
     "[getAirQualityHistory] You need to provide a list of comma-separated "
     "geohash prefixes"),
    ({"aggregate": "median"},
     "[getAirQualityHistory] aggregate median is not yet supported"),
    ({"gh_precision": "abc"}, 'For input string: "abc"'),
    ({"from": "xyz"}, 'For input string: "xyz"'),
    ({"from": str(NOW + 1)},
     "[getAirQualityHistory] fromDate cannot be set to a future date"),
    ({"from": "200", "to": "100"},
     "[getAirQualityHistory] fromDate parameter should be less than toDate"),
    ({"gh_precision": "9"},
     "[getAirQualityHistory] precision 9 is not yet supported"),
    ({"res": "", "interval": ""},
     "[getAirQualityHistory] Invalid values for resolution () or interval ()"),
    ({"res": "decade", "interval": "2years"},
     "[getAirQualityHistory] Invalid values for resolution (decade) or "
     "interval (2years)"),
]


@pytest.mark.parametrize("override,msg", HISTORY_400S)
def test_history_validation_matrix(override, msg):
    params = {"geohashes": "u4pru", "res": "hour"}
    aggregate = override.pop("aggregate", "avg")
    params.update(override)
    with pytest.raises(api.ApiError) as exc:
        api.validate_history("m", aggregate, params, now_ms=NOW)
    assert str(exc.value) == msg
    assert exc.value.body == {"errorMessage": msg, "errorCode": 400}


SNAPSHOT_400S = [
    ({"ts": "-1"},
     "[getAirQualitySnapshot] You need to provide a valid timestamp in "
     "milliseconds"),
    ({"ts": "nope"},
     "[getAirQualitySnapshot] You need to provide a valid timestamp in "
     "milliseconds"),
    ({"bbox": ""},
     "[getAirQualitySnapshot] You need to provide a set of coordinates "
     "corresponding to a valid bounding box: (N,W,S,E)"),
    ({"bbox": "a,b,c,d"},
     "[getAirQualitySnapshot] You need to provide valid double values for "
     "the bounding box coordinates"),
    ({"aggregate": "p99"},
     "[getAirQualitySnapshot] aggregate p99 is not yet supported"),
    ({"gh_precision": "zz"}, 'For input string: "zz"'),
    ({"gh_precision": "3"},
     "[getAirQualitySnapshot] geohash precision 3 is not yet supported"),
    ({"bbox": "nan,4.31,51.17,4.50"},
     "[getAirQualitySnapshot] You need to provide valid double values for "
     "the bounding box coordinates"),
    ({"bbox": "51.31,-inf,51.17,4.50"},
     "[getAirQualitySnapshot] You need to provide valid double values for "
     "the bounding box coordinates"),
]


@pytest.mark.parametrize("override,msg", SNAPSHOT_400S)
def test_snapshot_validation_matrix(override, msg):
    params = {"ts": "1704844800000", "bbox": "51.31,4.31,51.17,4.50"}
    aggregate = override.pop("aggregate", "avg")
    params.update(override)
    with pytest.raises(api.ApiError) as exc:
        api.validate_snapshot("m", aggregate, params)
    assert str(exc.value) == msg


def test_history_valid_spatial_and_interval():
    req = api.validate_history(
        "m", "AVG",
        {"geohashes": "U4,C2", "res": "hour", "gh_precision": "7"},
        now_ms=NOW,
    )
    assert req.mode == "spatial" and req.aggregate == "avg"
    assert req.geohashes == ["u4", "c2"] and req.precision == 7
    req2 = api.validate_history(
        "m", "sum", {"geohashes": "u4", "interval": "1day"}, now_ms=NOW
    )
    assert req2.mode == "spatiotemporal" and req2.interval == "1day"
    # res takes priority over interval when both valid (reference if/else)
    req3 = api.validate_history(
        "m", "sum", {"geohashes": "u4", "res": "min", "interval": "1day"},
        now_ms=NOW,
    )
    assert req3.mode == "spatial"


@pytest.fixture(scope="module")
def lattice(spark):
    readings = load_readings(spark, "/root/testdata/sf0.001")
    return view_lattice(readings, precisions=(6,), resolutions=("min", "hour", "day"))


def test_history_envelope_shape(spark, lattice):
    cells = [r.gh for r in lattice.select("gh").distinct().limit(3).collect()]
    env = api.handle_history(
        lattice, "view", "avg",
        {"geohashes": ",".join(cells), "res": "hour"},
        supported_precision=(6,), now_ms=NOW,
    )
    assert env["columns"] == ["timestamp", "avg"]
    assert env["metadata"] == {"metric_id": "view"}
    assert env["data"], "expected data rows"
    for ts_ms, v in env["data"]:
        assert isinstance(ts_ms, int) and isinstance(v, float)
    assert [d[0] for d in env["data"]] == sorted(d[0] for d in env["data"])


def test_snapshot_envelope_shape(spark, lattice):
    env = api.handle_snapshot(
        lattice, "view", "count",
        {"ts": "1704844800000", "bbox": "40.0,-90.0,-40.0,90.0",
         "res": "day", "gh_precision": "6"},
        geo_index="geohashing", supported_precision=(6,),
    )
    assert env["columns"] == ["geohash", "count"]
    keys = [d[0] for d in env["data"]]
    assert keys == sorted(keys)


def test_history_raw_dispatch(spark, lattice):
    readings = load_readings(spark, "/root/testdata/sf0.001")
    env = api.handle_history(
        lattice, "error", "sum",
        {"geohashes": "a,b,c,d,e,f,0,1,2,3,4,5,6,7,8,9", "res": "min",
         "src": "raw", "gh_precision": "1"},
        supported_precision=(1,), now_ms=NOW, readings=readings,
    )
    assert env["columns"] == ["timestamp", "sum"]


# ---------------------------------------------------------------------------
# plan reuse (api.PlanCache)
# ---------------------------------------------------------------------------

def _bbox(name):
    return ",".join(str(c) for c in SMALL_BBOXES[name])


def _snapshot_case(geo_index, bbox):
    ts = SMALL_TS_MS + 5_000
    params = {"ts": str(ts), "bbox": _bbox(bbox), "res": "min",
              "gh_precision": "6"}
    # a ts in the same minute has the same plan inputs
    return ("snapshot", geo_index, params, {**params, "ts": str(ts + 50_000)})


def _history_case(extra):
    return ("history", "", extra, extra)


CACHE_CASES = {
    "snapshot_geohashing": _snapshot_case("geohashing", "city"),
    "snapshot_quadtiling": _snapshot_case("quadtiling", "quad"),
    "history_res": _history_case({"res": "hour", "from": str(SMALL_TS_MS - 1),
                                  "to": str(SMALL_TS_MS + 60_000)}),
    "history_interval": _history_case({"interval": "1day"}),
}
ROUTES = {"snapshot_geohashing": "snapshot_bbox_geohashing",
          "snapshot_quadtiling": "snapshot_bbox_quadtiling",
          "history_res": "history", "history_interval": "history_interval"}


def _call(case, lattice, params, plans=None):
    kind, geo_index, _, _ = case
    if kind == "snapshot":
        return api.handle_snapshot(lattice, "m", "avg", params,
                                   geo_index=geo_index,
                                   supported_precision=(6,), plans=plans)
    params = {"geohashes": ",".join(SMALL_CELLS["city"][:12]),
              "gh_precision": "6", **params}
    return api.handle_history(lattice, "m", "avg", params,
                              supported_precision=(6,),
                              now_ms=SMALL_TS_MS + 3_600_000, plans=plans)


def _count_calls(monkeypatch, module, name):
    calls = []
    fn = getattr(module, name)
    monkeypatch.setattr(module, name,
                        lambda *a, **kw: calls.append(1) or fn(*a, **kw))
    return calls


@pytest.mark.parametrize("name", CACHE_CASES)
def test_plan_cache_repeat_builds_no_plan(spark, small_lattice, monkeypatch,
                                          name):
    case, lattice = CACHE_CASES[name], small_lattice()
    uncached = _call(case, lattice, case[2])
    assert uncached["data"], "expected rows"
    builds = _count_calls(monkeypatch, Q, ROUTES[name])
    frame, collected = type(lattice), []
    collect = frame.collect
    monkeypatch.setattr(frame, "collect",
                        lambda df: collected.append(df) or collect(df))
    plans = api.PlanCache(lattice)
    first = _call(case, lattice, case[2], plans)
    again = _call(case, lattice, case[3], plans)
    assert first == again == uncached
    assert len(builds) == 1 and len(plans) == 1
    # the hit answers from the stored rows: no Spark job at all
    assert len(collected) == 1


def test_plan_cache_miss_adds_no_py4j_calls(spark, small_lattice, monkeypatch):
    import py4j.java_gateway as gw

    case, lattice = CACHE_CASES["snapshot_geohashing"], small_lattice()
    sent = []
    send = gw.GatewayClient.send_command

    def counted(client, command, *a, **kw):
        # object releases ("m" "d") come whenever Python's GC runs
        if not command.startswith("m\nd\n"):
            sent.append(1)
        return send(client, command, *a, **kw)

    monkeypatch.setattr(gw.GatewayClient, "send_command", counted)

    def calls(plans):
        before = len(sent)
        _call(case, lattice, case[2], plans)
        return len(sent) - before

    calls(None)  # warms lazily fetched JVM handles
    uncached = calls(None)
    plans = api.PlanCache(lattice)
    assert calls(plans) <= uncached  # a miss
    assert calls(plans) < uncached / 2  # a hit: the collect only


#: py4j commands building the small city snapshot plan may take (it takes
#: 100); with PySpark's call-site capture on and a global sort it took 365
PLAN_PY4J_BUDGET = 110


def test_snapshot_plan_build_stays_in_py4j_budget(spark, small_lattice,
                                                  monkeypatch):
    import py4j.java_gateway as gw

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    lattice, sent = small_lattice(), []
    send = gw.GatewayClient.send_command

    def counted(client, command, *a, **kw):
        if not command.startswith("m\nd\n"):  # object releases, as above
            sent.append(1)
        return send(client, command, *a, **kw)

    monkeypatch.setattr(gw.GatewayClient, "send_command", counted)

    def calls():
        before = len(sent)
        Q.snapshot_bbox_geohashing(lattice, "m", "avg", 6, "min", SMALL_TS_MS,
                                   *SMALL_BBOXES["city"])
        return len(sent) - before

    calls()  # warms lazily fetched JVM handles
    assert calls() <= PLAN_PY4J_BUDGET


@pytest.mark.parametrize("name", CACHE_CASES)
def test_plan_cache_hit_body_is_fresh(spark, small_lattice, name):
    case, lattice = CACHE_CASES[name], small_lattice()
    plans = api.PlanCache(lattice)
    first = _call(case, lattice, case[2], plans)
    want = _call(case, lattice, case[2])
    assert first == want and want["data"]
    for body in (first, _call(case, lattice, case[3], plans)):
        body["data"][0][1] = "changed"
        body["data"].append(["extra", 0])
        body["columns"].append("extra")
        body["metadata"]["metric_id"] = "changed"
    assert _call(case, lattice, case[3], plans) == want


def test_plan_cache_does_not_store_an_answer_over_the_row_bound(
        spark, small_lattice, monkeypatch):
    case, lattice = CACHE_CASES["snapshot_geohashing"], small_lattice()
    rows = len(_call(case, lattice, case[2])["data"])
    builds = _count_calls(monkeypatch, Q, ROUTES["snapshot_geohashing"])
    plans = api.PlanCache(lattice)
    monkeypatch.setattr(api, "PLAN_CACHE_ROWS", rows - 1)
    for _ in range(2):
        _call(case, lattice, case[2], plans)
    assert len(builds) == 2 and len(plans) == 0 and plans.rows == 0
    monkeypatch.setattr(api, "PLAN_CACHE_ROWS", rows)
    for _ in range(2):
        _call(case, lattice, case[2], plans)
    assert len(builds) == 3 and len(plans) == 1 and plans.rows == rows


def test_plan_cache_evicts_down_to_the_row_bound():
    lattice, bound = object(), api.PLAN_CACHE_ROWS
    plans = api.PlanCache(lattice)
    third = bound // 3
    for i in range(3):
        plans.put(lattice, (i,), i, third)
    plans.put(lattice, ("over",), "over", bound + 1)  # dropped, evicts nothing
    assert len(plans) == 3 and plans.rows == 3 * third
    assert plans.get(lattice, (0,)) == 0  # now the most recent
    plans.put(lattice, (3,), 3, third)
    assert plans.rows <= bound
    assert [plans.get(lattice, (i,)) for i in range(4)] == [0, None, 2, 3]
    plans.put(lattice, (0,), 0, bound)  # a replaced answer's rows leave
    assert plans.rows == bound and len(plans) == 1
    assert plans.get(lattice, (0,)) == 0


def test_plan_cache_is_scoped_to_its_lattice(spark, small_lattice, monkeypatch):
    case = CACHE_CASES["snapshot_geohashing"]
    old, new = small_lattice(), small_lattice(scale=2.0)
    want_old, want_new = _call(case, old, case[2]), _call(case, new, case[2])
    assert want_old != want_new
    plans = api.PlanCache(old)
    assert _call(case, old, case[2], plans) == want_old
    plans.bind(new)
    assert len(plans) == 0
    # a request still on the old lattice builds and stores nothing
    builds = _count_calls(monkeypatch, Q, "snapshot_bbox_geohashing")
    assert _call(case, old, case[2], plans) == want_old
    assert len(plans) == 0
    assert _call(case, new, case[2], plans) == want_new
    assert _call(case, new, case[2], plans) == want_new
    assert len(builds) == 2 and len(plans) == 1


def test_plan_cache_evicts_least_recently_used():
    lattice = object()
    plans = api.PlanCache(lattice)
    for i in range(api.PLAN_CACHE_SIZE):
        plans.put(lattice, (i,), i)
    assert plans.get(lattice, (0,)) == 0  # now the most recent
    for i in range(api.PLAN_CACHE_SIZE, api.PLAN_CACHE_SIZE + 10):
        plans.put(lattice, (i,), i)
        assert len(plans) == api.PLAN_CACHE_SIZE
    assert plans.get(lattice, (0,)) == 0
    assert [plans.get(lattice, (i,)) for i in range(1, 11)] == [None] * 10
    assert plans.get(lattice, (11,)) == 11
    assert plans.get(object(), (11,)) is None


def test_plan_cache_stress_keeps_scope_and_bound():
    # threads store, look up and re-bind at once; every value names the
    # lattice it was stored for, so a plan served across a re-bind shows
    lattices = [object() for _ in range(3)]
    plans, wrong, interval = api.PlanCache(lattices[0]), [], sys.getswitchinterval()

    def worker(w):
        for i in range(3000):
            lattice = lattices[(w + i // 500) % len(lattices)]
            if i % 700 == 0:
                plans.bind(lattice)
            key = ((w * 7 + i) % (2 * api.PLAN_CACHE_SIZE),)
            got = plans.get(lattice, key)
            if got is not None and got is not lattice:
                wrong.append((w, i))
            plans.put(lattice, key, lattice)
            if len(plans) > api.PLAN_CACHE_SIZE:
                wrong.append(("bound", len(plans)))

    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert wrong == []


def test_plan_cache_skips_raw_history(spark, lattice, monkeypatch):
    readings = load_readings(spark, "/root/testdata/sf0.001")
    builds = _count_calls(monkeypatch, Q, "history_raw")
    plans = api.PlanCache(lattice)
    for _ in range(2):
        api.handle_history(
            lattice, "error", "sum",
            {"geohashes": "u,0,1", "res": "min", "src": "raw",
             "gh_precision": "1"},
            supported_precision=(1,), now_ms=NOW, readings=readings,
            plans=plans,
        )
    assert len(builds) == 2 and len(plans) == 0
