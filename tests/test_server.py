"""REST tier tests: real HTTP round-trips against the engine routes."""

from __future__ import annotations

import json
import logging
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from explora_kafka_spark import api, server
from explora_kafka_spark.plans.views import view_lattice
from explora_kafka_spark.sources.tables import load_readings
from tests.conftest import SMALL_BBOXES, SMALL_CELLS, SMALL_TS_MS

NOW = 1706616000000


@pytest.fixture(scope="module")
def srv(spark):
    readings = load_readings(spark, "/root/testdata/sf0.001")
    lattice = view_lattice(readings, precisions=(6,),
                           resolutions=("min", "hour", "day"))
    ctx = server.EngineContext(
        lattice, readings=readings, supported_precision=(6,), now_ms=NOW
    )
    s = server.serve(ctx)
    yield f"http://127.0.0.1:{s.server_address[1]}"
    s.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_history_route_ok(srv, spark):
    code, body = _get(
        f"{srv}/api/airquality/view/aggregate/avg/history"
        "?geohashes=c&res=hour&gh_precision=6"
    )
    # 'c' is a list entry (not prefix): may match nothing — still 200
    assert code == 200
    assert body["columns"] == ["timestamp", "avg"]
    assert body["metadata"] == {"metric_id": "view"}


@pytest.mark.parametrize("cells", ["'", "\\", "') OR (1=1"])
def test_history_route_quotes_cell_literals(srv, cells):
    # cells are rendered into one SQL IN string: quotes and backslashes
    # stay inside their literal, so they match nothing and raise nothing
    code, body = _get(
        f"{srv}/api/airquality/view/aggregate/avg/history"
        f"?geohashes={urllib.parse.quote(cells)}&res=hour&gh_precision=6"
    )
    assert code == 200
    assert body == {"columns": ["timestamp", "avg"], "data": [],
                    "metadata": {"metric_id": "view"}}


def test_history_route_400_matrix(srv):
    code, body = _get(f"{srv}/api/airquality/view/aggregate/avg/history")
    assert code == 400
    assert body == {
        "errorMessage": "[getAirQualityHistory] You need to provide a list "
                        "of comma-separated geohash prefixes",
        "errorCode": 400,
    }
    code, body = _get(
        f"{srv}/api/airquality/view/aggregate/median/history?geohashes=c&res=hour"
    )
    assert code == 400
    assert "median is not yet supported" in body["errorMessage"]


def test_snapshot_route_ok(srv):
    code, body = _get(
        f"{srv}/api/airquality/view/aggregate/count/snapshot"
        "?ts=1704844800000&bbox=40.0,-90.0,-40.0,90.0&res=day&gh_precision=6"
    )
    assert code == 200
    assert body["columns"] == ["geohash", "count"]
    keys = [d[0] for d in body["data"]]
    assert keys == sorted(keys)


def test_snapshot_route_400(srv):
    code, body = _get(f"{srv}/api/airquality/view/aggregate/avg/snapshot?ts=-1")
    assert code == 400
    assert "valid timestamp in milliseconds" in body["errorMessage"]


def test_unknown_route_404(srv):
    code, body = _get(f"{srv}/api/nope")
    assert code == 404


# ---------------------------------------------------------------------------
# plan reuse, concurrency and failures
# ---------------------------------------------------------------------------


@pytest.fixture
def small_srv(small_lattice):
    ctx = server.EngineContext(small_lattice(), supported_precision=(6,),
                               now_ms=NOW)
    s = server.serve(ctx)
    yield ctx, f"http://127.0.0.1:{s.server_address[1]}"
    s.shutdown()
    s.server_close()


def _snapshot_url(base, bbox, agg="avg"):
    n, w, s, e = SMALL_BBOXES[bbox]
    return (f"{base}/api/airquality/m/aggregate/{agg}/snapshot"
            f"?ts={SMALL_TS_MS}&bbox={n},{w},{s},{e}&res=min&gh_precision=6")


def _uncached(lattice, bbox, agg="avg"):
    return api.handle_snapshot(
        lattice, "m", agg,
        {"ts": str(SMALL_TS_MS), "res": "min", "gh_precision": "6",
         "bbox": ",".join(str(c) for c in SMALL_BBOXES[bbox])},
        supported_precision=(6,))


def test_repoint_serves_the_new_lattice(small_srv, small_lattice):
    ctx, base = small_srv
    old, other = ctx.lattice, small_lattice(scale=3.0)
    want_old, want_other = _uncached(old, "city"), _uncached(other, "city")
    assert want_old["data"] and want_old != want_other
    for _ in range(2):
        assert _get(_snapshot_url(base, "city")) == (200, want_old)
    assert len(ctx.plans) == 1
    ctx.lattice = other
    assert len(ctx.plans) == 0
    for _ in range(2):
        assert _get(_snapshot_url(base, "city")) == (200, want_other)
    assert len(ctx.plans) == 1


def test_cached_requests_answer_concurrently(small_srv):
    # a small and a long thin bbox, each filtering the stored rectangle
    ctx, base = small_srv
    cases = [(bbox, agg) for bbox in ("city", "strip") for agg in ("avg", "sum", "count")]
    want = {c: _uncached(ctx.lattice, *c) for c in cases}
    assert all(body["data"] for body in want.values())
    for c in cases:  # build every plan once
        assert _get(_snapshot_url(base, *c)) == (200, want[c])
    mismatches = []

    def client(i):
        for j in range(15):
            c = cases[(i + j) % len(cases)]
            got = _get(_snapshot_url(base, *c))
            if got != (200, want[c]):
                mismatches.append((c, got))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert mismatches == []
    assert len(ctx.plans) == len(cases)


@pytest.mark.parametrize("cached", [False, True], ids=["miss", "hit"])
def test_failed_collect_is_not_cached(small_srv, spark, monkeypatch, cached):
    ctx, base = small_srv
    want = _uncached(ctx.lattice, "city")
    if cached:
        assert _get(_snapshot_url(base, "city")) == (200, want)
        assert len(ctx.plans) == 1
    frame = type(spark.range(0))
    collect, failures = frame.collect, []

    def collect_once_failing(df):
        if not failures:
            failures.append(1)
            raise RuntimeError("executor lost")
        return collect(df)

    monkeypatch.setattr(frame, "collect", collect_once_failing)
    if cached:  # a hit runs no collect, so the failure never comes
        assert _get(_snapshot_url(base, "city")) == (200, want)
        assert failures == []
    else:
        assert _get(_snapshot_url(base, "city")) == (500, server.INTERNAL_ERROR)
        assert len(ctx.plans) == 0
        assert _get(_snapshot_url(base, "city")) == (200, want)
    assert len(ctx.plans) == 1


def test_500_body_hides_exception_text(small_srv, monkeypatch, caplog):
    _, base = small_srv
    secret = "/srv/views/v0007/part-00000.parquet"

    def fail(*a, **kw):
        raise FileNotFoundError(f"no such file: {secret}")

    monkeypatch.setattr(api, "handle_snapshot", fail)
    with caplog.at_level(logging.ERROR, logger=server.__name__):
        code, body = _get(_snapshot_url(base, "city"))
    assert (code, body) == (500, server.INTERNAL_ERROR)
    assert secret not in json.dumps(body)
    assert secret in caplog.text  # the traceback goes to the log


# ---------------------------------------------------------------------------
# bbox edges: the poles and non-finite coordinates, on both bbox routes
# ---------------------------------------------------------------------------


@pytest.fixture(params=["geohashing", "quadtiling"])
def index_srv(request, small_lattice):
    ctx = server.EngineContext(small_lattice(), geo_index=request.param,
                               supported_precision=(6,), now_ms=NOW)
    s = server.serve(ctx)
    yield f"http://127.0.0.1:{s.server_address[1]}"
    s.shutdown()
    s.server_close()


def _bbox_url(base, bbox):
    return (f"{base}/api/airquality/m/aggregate/count/snapshot"
            f"?ts={SMALL_TS_MS}&bbox={bbox}&res=min&gh_precision=6")


@pytest.mark.parametrize("bbox", ["nan,-10.0,40.0,20.0", "60.0,-10.0,40.0,inf",
                                  "60.0,-Infinity,40.0,20.0"])
def test_non_finite_bbox_is_400(index_srv, bbox):
    assert _get(_bbox_url(index_srv, bbox)) == (400, {
        "errorMessage": "[getAirQualitySnapshot] You need to provide valid "
                        "double values for the bounding box coordinates",
        "errorCode": 400,
    })


def test_quad_bbox_to_the_south_pole_answers_200(small_lattice):
    """South = -90 is past the last quad tile row: the cover stops at
    the Mercator limit instead of failing."""
    ctx = server.EngineContext(small_lattice(), geo_index="quadtiling",
                               supported_precision=(6,), now_ms=NOW)
    s = server.serve(ctx)
    try:
        n, w, _, e = SMALL_BBOXES["quad"]
        code, body = _get(_bbox_url(f"http://127.0.0.1:{s.server_address[1]}",
                                    f"{n},{w},-90.0,{e}"))
    finally:
        s.shutdown()
        s.server_close()
    assert code == 200
    assert {d[0] for d in body["data"]} >= set(SMALL_CELLS["quad"])
