"""Seeded input generator: air-quality readings in the reference's shape.

Every reading is (metric_id, 12-char geohash, ts, value). Sensors sit at
fixed positions clustered around Antwerp plus a few other cities, and
each sensor reports both dev-default metrics at a fixed cadence. Sensor
phases are spread over the cadence, so every minute of the window holds
readings from every city, including the minute that the reference's
load script queries (``REF_TS_MS``).

The geohash code here is the benchmark's own (scaled-integer axis
indices, the textbook definition); the answer check uses it to decide
which sensors a bbox cover reaches, independently of the engine.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

METRICS = ("airquality.no2::number", "airquality.pm10::number")
#: the instant `sim_api_load.sh` queries (2019-08-31T23:59:00Z)
REF_TS_MS = 1567295940000
#: the `sim_api_load.sh` bbox (N, W, S, E) around Antwerp
REF_BBOX = (51.311646, 4.306641, 51.168823, 4.504395)

MINUTE_MS = 60_000
#: generated window: 2019-08-31T00:00Z .. 2019-09-01T12:00Z (36 h)
WINDOW_START_MS = 1567209600000
WINDOW_MS = 36 * 3600 * 1000
#: minutes between two readings of one sensor and metric
CADENCE_MIN = 5

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_BASE32_IDX = {c: i for i, c in enumerate(_BASE32)}

#: (name, lat, lon, half-height deg, half-width deg, share of sensors)
CITIES = (
    ("antwerp", 51.25, 4.40, 0.10, 0.40, 0.50),
    ("brussels", 50.85, 4.35, 0.06, 0.10, 0.15),
    ("ghent", 51.05, 3.72, 0.05, 0.08, 0.10),
    ("amsterdam", 52.37, 4.90, 0.06, 0.10, 0.10),
    ("paris", 48.86, 2.35, 0.08, 0.12, 0.10),
    ("cologne", 50.94, 6.96, 0.05, 0.08, 0.05),
)


def axis_bits(precision: int) -> tuple[int, int]:
    """(lon bits, lat bits) of a geohash of `precision` characters."""
    total = precision * 5
    return (total + 1) // 2, total // 2


def geohash_encode(lat: float, lon: float, precision: int = 12) -> str:
    lon_bits, lat_bits = axis_bits(precision)
    lon_idx = min(int((lon + 180.0) / 360.0 * (1 << lon_bits)), (1 << lon_bits) - 1)
    lat_idx = min(int((lat + 90.0) / 180.0 * (1 << lat_bits)), (1 << lat_bits) - 1)
    bits = []
    li, ai = lon_bits, lat_bits
    for b in range(total := precision * 5):
        if b % 2 == 0:
            li -= 1
            bits.append((lon_idx >> li) & 1)
        else:
            ai -= 1
            bits.append((lat_idx >> ai) & 1)
    return "".join(
        _BASE32[int("".join(map(str, bits[i:i + 5])), 2)]
        for i in range(0, total, 5)
    )


def cell_index(gh: str) -> tuple[int, int]:
    """(lat index, lon index) of the cell a geohash names."""
    lon_idx = lat_idx = 0
    b = 0
    for c in gh:
        v = _BASE32_IDX[c]
        for t in range(4, -1, -1):
            bit = (v >> t) & 1
            if b % 2 == 0:
                lon_idx = (lon_idx << 1) | bit
            else:
                lat_idx = (lat_idx << 1) | bit
            b += 1
    return lat_idx, lon_idx


def cell_center(gh: str) -> tuple[float, float]:
    """(lat, lon) of the centre of the cell a geohash names."""
    lat_idx, lon_idx = cell_index(gh)
    lon_bits, lat_bits = axis_bits(len(gh))
    return ((lat_idx + 0.5) * 180.0 / (1 << lat_bits) - 90.0,
            (lon_idx + 0.5) * 360.0 / (1 << lon_bits) - 180.0)


@dataclass(frozen=True)
class Readings:
    """The generated readings, column-wise (ts in epoch ms)."""

    metric_id: np.ndarray
    geohash: np.ndarray
    ts_ms: np.ndarray
    value: np.ndarray
    sensors: tuple[str, ...]

    def __len__(self) -> int:
        return len(self.ts_ms)

    def table(self) -> pa.Table:
        return pa.table({
            "metric_id": pa.array(self.metric_id, pa.string()),
            "geohash": pa.array(self.geohash, pa.string()),
            "ts": pa.array(self.ts_ms * 1000, pa.timestamp("us", tz="UTC")),
            "value": pa.array(self.value, pa.float64()),
        })


#: seed of the sensors' positions. Where sensors stand decides how many of
#: the Antwerp request's cells hold data, and with positions drawn from
#: the run's seed that request's median latency differed by 20-30%
#: between seeds, run after run.
LAYOUT_SEED = 0


def sensors(rng: np.random.Generator, n: int) -> tuple[str, ...]:
    """`n` sensors at seeded positions, in seeded order. Each city holds
    its share of them on every seed (the rounding rest goes to the
    first), so a request over a city finds as much data on any seed."""
    shares = np.array([c[5] for c in CITIES])
    counts = np.round(shares / shares.sum() * n).astype(int)
    counts[0] += n - counts.sum()
    city = rng.permutation(np.repeat(np.arange(len(CITIES)), counts))
    out = []
    for k in city:
        _, lat, lon, dlat, dlon, _ = CITIES[k]
        out.append(geohash_encode(lat + rng.uniform(-dlat, dlat),
                                  lon + rng.uniform(-dlon, dlon)))
    return tuple(out)


def readings(seed: int, n_sensors: int) -> Readings:
    """Every sensor reports each metric once per CADENCE_MIN minutes over
    the window. Sensor i reports in the minutes congruent to i mod
    CADENCE_MIN, at a seeded second within the minute. The sensors stand
    where LAYOUT_SEED puts them, on every seed."""
    rng = np.random.default_rng(seed)
    gh = sensors(np.random.default_rng(LAYOUT_SEED), n_sensors)
    minutes = WINDOW_MS // MINUTE_MS
    base_min = WINDOW_START_MS // MINUTE_MS
    slots = np.arange(0, minutes, CADENCE_MIN)
    sid = np.repeat(np.arange(n_sensors), len(slots))
    minute = base_min + np.tile(slots, n_sensors) + sid % CADENCE_MIN
    keep = minute < base_min + minutes
    sid, minute = sid[keep], minute[keep]
    cols = {k: [] for k in ("metric_id", "geohash", "ts_ms", "value")}
    for m, level in zip(METRICS, (35.0, 22.0)):
        n = len(sid)
        cols["metric_id"].append(np.full(n, m, dtype=object))
        cols["geohash"].append(np.asarray(gh, dtype=object)[sid])
        cols["ts_ms"].append(minute * MINUTE_MS + rng.integers(0, MINUTE_MS, n))
        cols["value"].append(np.round(level + rng.gamma(2.0, 6.0, n), 2))
    return Readings(
        *(np.concatenate(cols[k]) for k in ("metric_id", "geohash", "ts_ms", "value")),
        sensors=gh,
    )


def minute_file(seed: int, minute_ms: int, sensor_set: tuple[str, ...]) -> Readings:
    """One reading per sensor and metric inside the minute at `minute_ms`:
    the content of one file appended to a live stream."""
    rng = np.random.default_rng(seed)
    n = len(sensor_set)
    return Readings(
        np.repeat(np.array(METRICS, dtype=object), n),
        np.tile(np.asarray(sensor_set, dtype=object), len(METRICS)),
        minute_ms + rng.integers(0, MINUTE_MS, n * len(METRICS)),
        np.round(20.0 + rng.gamma(2.0, 6.0, n * len(METRICS)), 2),
        sensors=sensor_set,
    )


def write_parquet(r: Readings, path: str) -> int:
    """Write the readings as one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(r.table(), path)
    return os.path.getsize(path)
