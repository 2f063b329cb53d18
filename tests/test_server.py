"""REST tier tests: real HTTP round-trips against the engine routes."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from explora_kafka_spark import server
from explora_kafka_spark.plans.views import view_lattice
from explora_kafka_spark.sources.tables import load_readings

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
