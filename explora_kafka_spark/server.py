"""Thin REST serving tier (D4): the reference's Jetty/Jersey routes
(querying/QueryingService.java:38-143, server bootstrap :260-298)
re-expressed as a stdlib HTTP server over the api layer.

Routes (wire-identical paths and bodies):
    GET /api/airquality/{metricId}/aggregate/{aggregate}/history
    GET /api/airquality/{metricId}/aggregate/{aggregate}/snapshot

Responses: 200 → Message envelope {columns, data, metadata};
400 → ErrorMessage {errorMessage, errorCode}; any other failure → a
fixed 500 ErrorMessage, its traceback logged through `logging` and never
sent to the client. The scatter-gather
`local=true` flag (QueryingController.java:123-210) has no equivalent —
Spark executes the distributed merge itself (SURVEY §2.6 D2).

Answer reuse: the context owns one `api.PlanCache` (at most
`api.PLAN_CACHE_SIZE` answers and `api.PLAN_CACHE_ROWS` data rows, least
recently used evicted), scoped to the lattice object it serves. A
repeated request, keyed by its validated plan inputs (see `api`), is
answered from the rows an earlier one collected: no cover, no plan
building, no Spark job. Re-pointing `EngineContext.lattice` (e.g. at a
view store's new version) empties the cache.

Deliberately stdlib-only (no Flask/FastAPI in the sandbox); a production
deployment would mount `handle_history`/`handle_snapshot` behind any
WSGI/ASGI framework unchanged.
"""

from __future__ import annotations

import json
import logging
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlparse

from pyspark.sql import DataFrame

from . import api

_log = logging.getLogger(__name__)

#: the body of every 500: exception text can hold paths and plan details
INTERNAL_ERROR = {"errorMessage": "internal server error", "errorCode": 500}

_ROUTE = re.compile(
    r"^/api/airquality/(?P<metric>[^/]+)/aggregate/(?P<agg>[^/]+)"
    r"/(?P<shape>history|snapshot)$"
)


class EngineContext:
    """Everything the routes need: the materialized lattice, optional
    bronze readings (src=raw), config mirroring AppConfig env, and the
    answer cache scoped to the lattice."""

    def __init__(
        self,
        lattice: DataFrame,
        readings: DataFrame | None = None,
        geo_index: str = "geohashing",
        supported_precision=api.DEFAULT_SUPPORTED_PRECISION,
        now_ms: int | None = None,
    ):
        self.plans = api.PlanCache()
        self.lattice = lattice
        self.readings = readings
        self.geo_index = geo_index
        self.supported_precision = supported_precision
        self.now_ms = now_ms

    @property
    def lattice(self) -> DataFrame:
        return self._lattice

    @lattice.setter
    def lattice(self, lattice: DataFrame) -> None:
        # answers from the old lattice must not answer for the new one
        self.plans.bind(lattice)
        self._lattice = lattice


def _make_handler(ctx: EngineContext):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet test output
            pass

        def _send(self, code: int, body: dict) -> None:
            data = json.dumps(body).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):  # noqa: N802 (stdlib API)
            url = urlparse(self.path)
            m = _ROUTE.match(url.path)
            if not m:
                self._send(404, {"errorMessage": "not found", "errorCode": 404})
                return
            # keep the FIRST occurrence of a repeated param — parity with
            # the reference's queryParameters.get(0) (QueryingService.java)
            params: dict[str, str] = {}
            for k, v in parse_qsl(url.query):
                params.setdefault(k, v)
            try:
                if m["shape"] == "history":
                    body = api.handle_history(
                        ctx.lattice, m["metric"], m["agg"], params,
                        supported_precision=ctx.supported_precision,
                        now_ms=ctx.now_ms, readings=ctx.readings,
                        plans=ctx.plans,
                    )
                else:
                    body = api.handle_snapshot(
                        ctx.lattice, m["metric"], m["agg"], params,
                        geo_index=ctx.geo_index,
                        supported_precision=ctx.supported_precision,
                        plans=ctx.plans,
                    )
                self._send(200, body)
            except api.ApiError as exc:
                self._send(exc.code, exc.body)
            except Exception:  # noqa: BLE001 — logged, not sent
                _log.exception("%s failed", url.path)
                self._send(500, INTERNAL_ERROR)

    return Handler


def serve(ctx: EngineContext, host: str = "127.0.0.1", port: int = 0):
    """Start the server on a background thread; returns the server object
    (`.server_address` for the bound port, `.shutdown()` to stop)."""
    srv = ThreadingHTTPServer((host, port), _make_handler(ctx))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
