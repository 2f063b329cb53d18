"""API layer: parameter validation (L5), query dispatch, and the
`Message` response envelope (S7) — wire parity with the reference's REST
tier (querying/QueryingService.java:38-258) minus the HTTP server itself
(any thin WSGI wrapper can call `handle_history` / `handle_snapshot`).

Every 400 condition, its decision order, and its exact message text
mirror QueryingService.java:46-114 (history) and :145-222 (snapshot);
config whitelists mirror util/AppConfig.java:10-23. Number-parse errors
reproduce Java's `NumberFormatException.getMessage()` format
(`For input string: "x"`) so error bodies are byte-identical.

Answer reuse: `handle_history` / `handle_snapshot` take an optional
`PlanCache`, a bounded LRU of the answers (collected rows) of plans built
on one lattice object. A repeated request rebuilds its envelope from the
stored rows: no cell cover, no plan building and no Spark job. The key
is the validated plan input, never the raw query string: a snapshot's
(geo index, metric, aggregate, precision, res, ts truncated to res,
bbox), so two `ts` in one grain share an answer; a history's
`Q.history` / `Q.history_interval` arguments with from/to/now resolved.
The cache holds at most PLAN_CACHE_SIZE answers and PLAN_CACHE_ROWS data
rows in total. `src=raw` history reads the readings table, which no
lattice versions, and is never cached. Only an answer that collected is
stored. Callers that pass no cache build every time.
"""

from __future__ import annotations

import math
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame

from .functions.timeutil import truncate_ts_ms
from .plans import query as Q

# --- AppConfig.java:10-23 ---------------------------------------------------
SUPPORTED_AGGR = ("avg", "sum", "count")
SUPPORTED_INTERVALS = ("5min", "1hour", "1day", "1week", "1month", "all")
SUPPORTED_RESOLUTIONS = ("min", "hour", "day", "month")
DEFAULT_SUPPORTED_PRECISION = (6, 7)
SUPPORTED_GEO_INDEXING = ("geohashing", "quadtiling")
TIME_RANGES = {
    "5min": "min", "1hour": "min", "1day": "hour",
    "1week": "hour", "1month": "day", "all": "day",
}


class ApiError(Exception):
    """HTTP 400 with the reference's ErrorMessage body
    (model/ErrorMessage.java:3-13)."""

    def __init__(self, message: str, code: int = 400):
        super().__init__(message)
        self.body = {"errorMessage": message, "errorCode": code}
        self.code = code


def _parse_long(params: dict, key: str, default: str) -> int:
    raw = params.get(key, default)
    try:
        return int(raw)
    except (TypeError, ValueError):
        raise ApiError(f'For input string: "{raw}"') from None


@dataclass
class HistoryRequest:
    metric_id: str
    aggregate: str
    geohashes: list[str]
    precision: int
    source: str
    mode: str  # 'spatial' (res) | 'spatiotemporal' (interval)
    resolution: str = ""
    interval: str = ""
    from_ms: int = -1
    to_ms: int = -1


@dataclass
class SnapshotRequest:
    metric_id: str
    aggregate: str
    ts_ms: int
    bbox: list[float]
    precision: int
    source: str
    resolution: str = ""


def validate_history(
    metric_id: str,
    aggregate: str,
    params: dict[str, str],
    supported_precision=DEFAULT_SUPPORTED_PRECISION,
    now_ms: int | None = None,
) -> HistoryRequest:
    """QueryingService.java:46-130 — same checks, same order, same text."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    geohashes = params.get("geohashes", "").lower()
    if geohashes == "":
        raise ApiError(
            "[getAirQualityHistory] You need to provide a list of "
            "comma-separated geohash prefixes"
        )
    aggr_op = aggregate.lower()
    if aggr_op not in SUPPORTED_AGGR:
        raise ApiError(
            f"[getAirQualityHistory] aggregate {aggregate} is not yet supported"
        )
    source = params.get("src", "tiles").lower()
    resolution = params.get("res", "").lower()
    interval = params.get("interval", "").lower()
    precision = _parse_long(params, "gh_precision", "6")
    from_ms = _parse_long(params, "from", "-1")
    to_ms = _parse_long(params, "to", "-1")
    if from_ms > now_ms:
        raise ApiError(
            "[getAirQualityHistory] fromDate cannot be set to a future date"
        )
    if to_ms > 0 and from_ms >= to_ms:
        raise ApiError(
            "[getAirQualityHistory] fromDate parameter should be less than toDate"
        )
    if precision not in supported_precision:
        raise ApiError(
            f"[getAirQualityHistory] precision {precision} is not yet supported"
        )
    if resolution and resolution in SUPPORTED_RESOLUTIONS:
        mode = "spatial"
    elif interval and interval in SUPPORTED_INTERVALS:
        mode = "spatiotemporal"
    else:
        raise ApiError(
            f"[getAirQualityHistory] Invalid values for resolution "
            f"({resolution}) or interval ({interval})"
        )
    return HistoryRequest(
        metric_id=metric_id, aggregate=aggr_op,
        geohashes=geohashes.split(","), precision=precision, source=source,
        mode=mode, resolution=resolution, interval=interval,
        from_ms=from_ms, to_ms=to_ms,
    )


def validate_snapshot(
    metric_id: str,
    aggregate: str,
    params: dict[str, str],
    supported_precision=DEFAULT_SUPPORTED_PRECISION,
) -> SnapshotRequest:
    """QueryingService.java:145-222 — same checks, same order, same text."""
    raw_ts = params.get("ts", "-1")
    try:
        ts_ms = int(raw_ts)
    except (TypeError, ValueError):
        raise ApiError(
            "[getAirQualitySnapshot] You need to provide a valid timestamp "
            "in milliseconds"
        ) from None
    if ts_ms == -1:
        raise ApiError(
            "[getAirQualitySnapshot] You need to provide a valid timestamp "
            "in milliseconds"
        )
    bbox_raw = params.get("bbox", "").lower()
    if bbox_raw == "":
        raise ApiError(
            "[getAirQualitySnapshot] You need to provide a set of coordinates "
            "corresponding to a valid bounding box: (N,W,S,E)"
        )
    try:
        bbox = [float(c) for c in bbox_raw.split(",")]
    except ValueError:
        bbox = None
    # float() also parses nan/inf, which no cover can be sized for
    if bbox is None or not all(map(math.isfinite, bbox)):
        raise ApiError(
            "[getAirQualitySnapshot] You need to provide valid double values "
            "for the bounding box coordinates"
        )
    if len(bbox) < 4:
        # the reference would 500 on an IndexOutOfBounds here; a 400 with
        # the bbox-shape message is the intended behavior
        raise ApiError(
            "[getAirQualitySnapshot] You need to provide a set of coordinates "
            "corresponding to a valid bounding box: (N,W,S,E)"
        )
    aggr_op = aggregate.lower()
    if aggr_op not in SUPPORTED_AGGR:
        raise ApiError(
            f"[getAirQualitySnapshot] aggregate {aggregate} is not yet supported"
        )
    source = params.get("src", "tiles").lower()
    resolution = params.get("res", "").lower()
    precision = _parse_long(params, "gh_precision", "6")
    if precision not in supported_precision:
        raise ApiError(
            f"[getAirQualitySnapshot] geohash precision {precision} is not "
            f"yet supported"
        )
    return SnapshotRequest(
        metric_id=metric_id, aggregate=aggr_op, ts_ms=ts_ms, bbox=bbox,
        precision=precision, source=source, resolution=resolution,
    )


# ---------------------------------------------------------------------------
# S7 response envelope (model/Message.java:7-16; prepareResponse
# QueryingService.java:232-254)
# ---------------------------------------------------------------------------


def _envelope(rows, key_col: str, aggregate: str,
              metric_id: str) -> dict[str, Any]:
    """A new envelope around (key, value) rows."""
    wire_key = "timestamp" if key_col == "timestamp" else "geohash"
    return {
        "columns": [wire_key, aggregate],
        "data": [[r[0], r[1]] for r in rows],
        "metadata": {"metric_id": metric_id},
    }


def message_envelope(
    result: DataFrame, key_col: str, aggregate: str, metric_id: str
) -> dict[str, Any]:
    """Serialize a 2-column query result to the reference's wire shape:
    {columns: [key, aggregate], data: [[key, value]...], metadata:
    {metric_id}}. `result` is a `Q.*` route's frame, already exactly
    [key, aggregate] (`_agg_projection`, the reference's reflection
    `getField(aggregate)`, L6), and is collected as it is."""
    return _envelope(result.collect(), key_col, aggregate, metric_id)


# ---------------------------------------------------------------------------
# answer reuse
# ---------------------------------------------------------------------------

#: answers a PlanCache holds before it evicts the least recently used
PLAN_CACHE_SIZE = 256
#: data rows all of a PlanCache's answers hold together (a year of `min`
#: history is 525,600 rows, so the entry bound alone does not bound
#: memory); least recently used answers go until the total fits, and an
#: answer larger than this is not stored
PLAN_CACHE_ROWS = 1 << 18


class PlanCache:
    """Bounded LRU of plan answers (collected rows, tuples of tuples),
    all computed on one lattice.

    The cache is scoped to the lattice object it was bound to last: a
    lookup or store for any other lattice misses or is dropped (an
    identity check under the lock), so an answer computed on an old
    lattice while the served one is re-pointed is never served for the
    new one. Reuse is safe because a lattice frame pins its input: the
    file listing is fixed when the frame is created, and view-store
    versions are immutable directories, so the plan would collect the
    same rows again. Holding rows, not DataFrames, pins no shuffle files
    or broadcast blocks."""

    def __init__(self, lattice: DataFrame | None = None):
        self._lock = threading.Lock()
        self._lattice = lattice
        # key -> (answer, its data rows), least recently used first
        self._answers: OrderedDict[tuple, tuple[Any, int]] = OrderedDict()
        self._rows = 0

    def __len__(self) -> int:
        return len(self._answers)

    @property
    def rows(self) -> int:
        """Data rows the stored answers hold together."""
        return self._rows

    def bind(self, lattice: DataFrame) -> None:
        """Scope the cache to `lattice`; answers computed on another go."""
        with self._lock:
            if lattice is not self._lattice:
                self._lattice = lattice
                self._answers.clear()
                self._rows = 0

    def get(self, lattice: DataFrame, key: tuple) -> Any:
        with self._lock:
            if lattice is not self._lattice:
                return None
            entry = self._answers.get(key)
            if entry is None:
                return None
            self._answers.move_to_end(key)
            return entry[0]

    def put(self, lattice: DataFrame, key: tuple, answer: Any,
            rows: int = 1) -> None:
        """Store `answer`, weighing `rows` against PLAN_CACHE_ROWS."""
        with self._lock:
            if lattice is not self._lattice or rows > PLAN_CACHE_ROWS:
                return
            _, replaced = self._answers.pop(key, (None, 0))
            self._answers[key] = (answer, rows)
            self._rows += rows - replaced
            while (len(self._answers) > PLAN_CACHE_SIZE
                   or self._rows > PLAN_CACHE_ROWS):
                _, (_, evicted) = self._answers.popitem(last=False)
                self._rows -= evicted


def _answer(
    plans: PlanCache | None,
    lattice: DataFrame,
    key: tuple,
    build: Callable[[], DataFrame],
    key_col: str,
    aggregate: str,
    metric_id: str,
) -> dict[str, Any]:
    """A new envelope around the stored answer for `key`, or `build()`'s
    collected; an answer is stored only after its collect returned."""
    rows = None if plans is None else plans.get(lattice, key)
    if rows is not None:
        return _envelope(rows, key_col, aggregate, metric_id)
    body = message_envelope(build(), key_col, aggregate, metric_id)
    if plans is not None:
        rows = tuple((k, v) for k, v in body["data"])
        plans.put(lattice, key, rows, len(rows))
    return body


# ---------------------------------------------------------------------------
# dispatch (QueryingService route bodies minus HTTP)
# ---------------------------------------------------------------------------


def handle_history(
    lattice: DataFrame,
    metric_id: str,
    aggregate: str,
    params: dict[str, str],
    supported_precision=DEFAULT_SUPPORTED_PRECISION,
    now_ms: int | None = None,
    readings: DataFrame | None = None,
    plans: PlanCache | None = None,
) -> dict[str, Any]:
    req = validate_history(
        metric_id, aggregate, params, supported_precision, now_ms
    )
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if req.source == "raw":
        if readings is None:
            raise ApiError("src=raw requires a readings table", 400)
        df = Q.history_raw(
            readings, req.metric_id, req.aggregate, req.precision,
            cells=req.geohashes,
            from_ms=None if req.from_ms <= 0 else req.from_ms,
            to_ms=now_ms if req.to_ms <= 0 else req.to_ms,
        )
        return message_envelope(df, "timestamp", req.aggregate, req.metric_id)
    if req.mode == "spatial":
        from_ms = None if req.from_ms <= 0 else req.from_ms
        # reference clamps a missing 'to' to now
        # (QueryingController.java:213-218)
        to_ms = now_ms if req.to_ms <= 0 else req.to_ms
        key = ("history", req.metric_id, req.aggregate, req.precision,
               req.resolution, tuple(req.geohashes), from_ms, to_ms)

        def build() -> DataFrame:
            return Q.history(
                lattice, req.metric_id, req.aggregate, req.precision,
                req.resolution, cells=req.geohashes, from_ms=from_ms,
                to_ms=to_ms,
            )
    else:
        to_ms = now_ms if req.from_ms <= 0 else req.from_ms
        key = ("history_interval", req.metric_id, req.aggregate,
               req.precision, req.interval, to_ms, tuple(req.geohashes))

        def build() -> DataFrame:
            return Q.history_interval(
                lattice, req.metric_id, req.aggregate, req.precision,
                req.interval, to_ms, cells=req.geohashes,
            )
    return _answer(plans, lattice, key, build, "timestamp", req.aggregate,
                   req.metric_id)


def handle_snapshot(
    lattice: DataFrame,
    metric_id: str,
    aggregate: str,
    params: dict[str, str],
    geo_index: str = "geohashing",
    supported_precision=DEFAULT_SUPPORTED_PRECISION,
    plans: PlanCache | None = None,
) -> dict[str, Any]:
    req = validate_snapshot(metric_id, aggregate, params, supported_precision)
    n, w, s, e = req.bbox[0], req.bbox[1], req.bbox[2], req.bbox[3]
    res = req.resolution or "min"
    key = ("snapshot", geo_index, req.metric_id, req.aggregate, req.precision,
           res, truncate_ts_ms(req.ts_ms, res), (n, w, s, e))

    def build() -> DataFrame:
        route = (Q.snapshot_bbox_quadtiling if geo_index == "quadtiling"
                 else Q.snapshot_bbox_geohashing)
        return route(lattice, req.metric_id, req.aggregate, req.precision,
                     res, req.ts_ms, n, w, s, e)

    return _answer(plans, lattice, key, build, "gh", req.aggregate,
                   req.metric_id)
