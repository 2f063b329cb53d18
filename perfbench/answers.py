"""Seeded request streams and their answers, computed with DuckDB.

Every distinct request gets its expected body before the timed phase.
A snapshot answer is computed from the cover definition (every cell at
the cover precision that the bbox touches, the cover precision being the
finest one at most 65,536 cells wide) applied to the sensors' own
geohashes; a history answer is a plain range aggregation. Neither reuses
engine code.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from urllib.parse import quote, urlencode

import duckdb
import numpy as np
import pyarrow as pa

from . import gen

#: widest cover the engine enumerates before it coarsens the precision
COVER_ENUM_LIMIT = 65536
RES_MS = {"min": 60_000, "hour": 3_600_000, "day": 86_400_000}
INTERVALS = {"1hour": ("min", 3_600_000), "1day": ("hour", 86_400_000),
             "1week": ("hour", 7 * 86_400_000)}
AGGS = ("avg", "sum", "count")
#: the engine's fixed "now" (end of the generated window)
NOW_MS = gen.WINDOW_START_MS + gen.WINDOW_MS


@dataclass
class Request:
    kind: str  # "snapshot" | "history"
    metric: str
    agg: str
    params: dict[str, str]
    #: what the request stands for: antwerp, a bbox shape, or history
    shape: str = field(default="", compare=False)
    #: expected (key, value) rows, filled in by `Answers`
    expected: list[tuple] | None = field(default=None, compare=False)

    def key(self) -> tuple:
        return (self.kind, self.metric, self.agg, tuple(sorted(self.params.items())))

    def path(self, rid: str | None = None) -> str:
        q = dict(self.params)
        if rid is not None:
            q["rid"] = rid
        return (f"/api/airquality/{quote(self.metric, safe=':')}/aggregate/{self.agg}/"
                f"{self.kind}?{urlencode(q)}")


# ---------------------------------------------------------------------------
# request generation
# ---------------------------------------------------------------------------


def antwerp_snapshot() -> Request:
    """The exact request of the reference's `sim_api_load.sh`."""
    n, w, s, e = gen.REF_BBOX
    return Request("snapshot", gen.METRICS[0], "avg", {
        "gh_precision": "6", "res": "min", "src": "tiles",
        "ts": str(gen.REF_TS_MS), "bbox": f"{n},{w},{s},{e}",
    }, shape="antwerp")


def _minute_of(rng: np.random.Generator, sensor_idx: int) -> int:
    """A minute of the window in which sensor `sensor_idx` reports."""
    slots = gen.WINDOW_MS // gen.MINUTE_MS // gen.CADENCE_MIN
    m = int(rng.integers(0, slots - 1)) * gen.CADENCE_MIN + sensor_idx % gen.CADENCE_MIN
    return gen.WINDOW_START_MS + m * gen.MINUTE_MS


#: shape -> (half-height range deg, half-width range deg, precision);
#: narrow ranges, so every seed's covers are about the same size.
#: Each shape takes one cover path: a block is a literal list (<= 1024
#: cells); a city and a country (coarsened to p5) compress to a few
#: hundred prefixes; a strip is one or two p7 rows ~6 degrees long, over
#: 4096 cells with no complete sibling family, so the planner falls back
#: to a broadcast semi-join.
BBOX_SHAPES = {
    "block": ((0.004, 0.005), (0.004, 0.005), 7),
    "city": ((0.14, 0.16), (0.23, 0.27), 6),
    "country": ((1.2, 1.3), (1.7, 1.8), 6),
    "strip": ((0.0001, 0.0002), (3.1, 3.2), 7),
}
#: the order bbox shapes repeat in: any 4 consecutive seeded bboxes hold
#: the same mix, so runs on different seeds do the same kind of work, and
#: every timed window holds each shape several times. The strip comes
#: first so that warm-up, which sends a stream's first requests, runs
#: every shape.
SHAPE_CYCLE = ("strip", "block", "city", "country")


def random_snapshot(rng: np.random.Generator, sensors: tuple[str, ...],
                    shape: str) -> Request:
    hh, hw, precision = BBOX_SHAPES[shape]
    i = int(rng.integers(0, len(sensors)))
    lat, lon = gen.cell_center(sensors[i])
    dlat, dlon = rng.uniform(*hh), rng.uniform(*hw)
    lat += rng.uniform(-0.5, 0.5) * dlat
    lon += rng.uniform(-0.5, 0.5) * dlon
    res = str(rng.choice(list(RES_MS)))
    return Request("snapshot", str(rng.choice(gen.METRICS)), str(rng.choice(AGGS)), {
        "gh_precision": str(precision), "res": res,
        "ts": str(_minute_of(rng, i) + int(rng.integers(0, gen.MINUTE_MS))),
        "bbox": f"{lat + dlat:.6f},{lon - dlon:.6f},{lat - dlat:.6f},{lon + dlon:.6f}",
    }, shape=shape)


#: (cells, precision, time range) of history requests, in the order
#: they repeat: a range is (res, span ms) or an interval name. Seeds pick
#: the cells and where the range starts, so every seed's mix of
#: small/large and short/long requests is the same.
HISTORY_CYCLE = (
    (1, 6, ("min", 3_600_000)), (4, 7, ("hour", 6 * 3_600_000)),
    (16, 6, ("day", gen.WINDOW_MS)), (64, 7, ("min", 3 * 3_600_000)),
    (8, 6, "1day"), (2, 7, ("min", 12 * 3_600_000)),
    (32, 6, ("hour", 24 * 3_600_000)), (4, 7, "1hour"),
    (16, 7, ("hour", gen.WINDOW_MS)), (1, 6, "1week"),
)


def random_history(rng: np.random.Generator, sensors: tuple[str, ...], i: int) -> Request:
    """The i-th history request of a stream (HISTORY_CYCLE class i)."""
    k, p, rng_spec = HISTORY_CYCLE[i % len(HISTORY_CYCLE)]
    cells = sorted({s[:p] for s in sensors})
    pick = [cells[j] for j in rng.choice(len(cells), size=min(k, len(cells)), replace=False)]
    params = {"gh_precision": str(p), "geohashes": ",".join(pick)}
    if isinstance(rng_spec, str):
        params["interval"] = rng_spec
    else:
        res, span = rng_spec
        start = gen.WINDOW_START_MS + int(rng.integers(0, gen.WINDOW_MS - span + 1))
        params.update(res=res, **{"from": str(start), "to": str(start + span)})
    return Request("history", str(rng.choice(gen.METRICS)), str(rng.choice(AGGS)), params,
                   shape="history")


def snapshot_stream(seed: int, sensors: tuple[str, ...], n_distinct: int) -> list[Request]:
    """Every other request is the Antwerp one; the rest are `n_distinct`
    seeded bboxes in SHAPE_CYCLE order."""
    rng = np.random.default_rng([seed, 1])
    ref = antwerp_snapshot()
    out = []
    for i in range(n_distinct):
        out += [ref, random_snapshot(rng, sensors, SHAPE_CYCLE[i % len(SHAPE_CYCLE)])]
    return out


def read_mix(seed: int, sensors: tuple[str, ...], n_distinct: int) -> list[Request]:
    """Seeded snapshot and history requests, alternating, none repeated
    within `n_distinct`."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(n_distinct // 2):
        out += [random_history(rng, sensors, i),
                random_snapshot(rng, sensors, SHAPE_CYCLE[i % len(SHAPE_CYCLE)])]
    return out


# ---------------------------------------------------------------------------
# answers
# ---------------------------------------------------------------------------


def cover_precision(n: float, w: float, s: float, e: float, precision: int) -> int:
    p = precision
    while p > 1:
        lon_bits, lat_bits = gen.axis_bits(p)
        lat_step, lon_step = 180.0 / (1 << lat_bits), 360.0 / (1 << lon_bits)
        rows = int((n + 90.0) / lat_step) - int((s + 90.0) / lat_step) + 1
        cols = int((e + 180.0) / lon_step) - int((w + 180.0) / lon_step) + 1
        if max(rows, 1) * max(cols, 1) <= COVER_ENUM_LIMIT:
            break
        p -= 1
    return p


def in_cover(gh: str, n: float, w: float, s: float, e: float, p: int) -> bool:
    """Whether the p-cell holding `gh` is touched by the bbox."""
    lat_idx, lon_idx = gen.cell_index(gh[:p])
    lon_bits, lat_bits = gen.axis_bits(p)
    lat_step, lon_step = 180.0 / (1 << lat_bits), 360.0 / (1 << lon_bits)
    return (int((s + 90.0) / lat_step) <= lat_idx <= int((n + 90.0) / lat_step)
            and int((w + 180.0) / lon_step) <= lon_idx <= int((e + 180.0) / lon_step))


_AGG_SQL = {"avg": "sum(value) / count(*)", "sum": "sum(value)", "count": "count(*)"}


class Answers:
    """DuckDB over the generated readings (ts as epoch ms)."""

    def __init__(self, *tables: gen.Readings):
        self.con = duckdb.connect()
        self.sensors = sorted({g for t in tables for g in t.sensors})
        self.con.register("r_arrow", pa.concat_tables([pa.table({
            "metric_id": pa.array(t.metric_id, pa.string()),
            "geohash": pa.array(t.geohash, pa.string()),
            "ts_ms": pa.array(t.ts_ms, pa.int64()),
            "value": pa.array(t.value, pa.float64()),
        }) for t in tables]))
        self.con.execute("CREATE TABLE r AS SELECT * FROM r_arrow")
        self._memo: dict[tuple, list[tuple]] = {}

    def fill(self, requests: list[Request]) -> int:
        """Set `expected` on every request; returns the distinct count."""
        for req in requests:
            k = req.key()
            if k not in self._memo:
                self._memo[k] = self.answer(req)
            req.expected = self._memo[k]
        return len(self._memo)

    def answer(self, req: Request) -> list[tuple]:
        p = int(req.params["gh_precision"])
        agg = _AGG_SQL[req.agg]
        if req.kind == "snapshot":
            n, w, s, e = (float(x) for x in req.params["bbox"].split(","))
            cp = cover_precision(n, w, s, e, p)
            members = [g for g in self.sensors if in_cover(g, n, w, s, e, cp)]
            unit = RES_MS[req.params.get("res") or "min"]
            t = int(req.params["ts"])
            rows = self.con.execute(
                f"SELECT substr(geohash, 1, {p}) AS k, {agg} FROM r "
                f"WHERE metric_id = ? AND ts_ms - ts_ms % {unit} = ? "
                f"AND list_contains(?, geohash) GROUP BY k ORDER BY k",
                [req.metric, t - t % unit, members]).fetchall()
        else:
            if "interval" in req.params:
                res, span = INTERVALS[req.params["interval"]]
                lo, hi = NOW_MS - span, NOW_MS
            else:
                res = req.params["res"]
                lo, hi = int(req.params["from"]), int(req.params["to"])
            unit = RES_MS[res]
            rows = self.con.execute(
                f"SELECT ts_ms - ts_ms % {unit} AS k, {agg} FROM r "
                f"WHERE metric_id = ? AND list_contains(?, substr(geohash, 1, {p})) "
                f"AND ts_ms - ts_ms % {unit} BETWEEN ? AND ? GROUP BY k ORDER BY k",
                [req.metric, req.params["geohashes"].split(","), lo, hi]).fetchall()
        return [(k, int(v) if req.agg == "count" else float(v)) for k, v in rows]


def check_body(req: Request, body: dict) -> str | None:
    """None when `body` is the right answer to `req`, else the reason."""
    wire_key = "timestamp" if req.kind == "history" else "geohash"
    if body.get("columns") != [wire_key, req.agg]:
        return f"columns {body.get('columns')}"
    if body.get("metadata") != {"metric_id": req.metric}:
        return "metadata"
    data = body.get("data")
    if not isinstance(data, list):
        return "no data array"
    exp = req.expected or []
    if exp and not data:
        return "empty body where data exists"
    if len(data) != len(exp):
        return f"{len(data)} rows, expected {len(exp)}"
    for got, (k, v) in zip(data, exp):
        if not isinstance(got, list) or len(got) != 2 or got[0] != k:
            return f"key {got!r:.60}, expected {k!r}"
        g = got[1]
        if isinstance(v, int):
            if g != v:
                return f"{k}: {g!r} != {v}"
        elif not (isinstance(g, (int, float)) and math.isclose(g, v, rel_tol=1e-9, abs_tol=1e-9)):
            return f"{k}: {g!r} != {v}"
    return None
