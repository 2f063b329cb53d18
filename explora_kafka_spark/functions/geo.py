"""Geospatial cell functions: geohash codec + web-Mercator tiles/quadkeys.

Semantics pinned to the reference:
- tile math & quadkey interleave: /root/reference/src/main/java/util/QuadHash.java:8-30
  (x = floor((lon+180)/360*2^z); y from the Mercator formula; quadkey digit i =
  bit i of x plus 2 * bit i of y, most-significant first).
- bbox tile cover: QuadHash.java:32-50 — note y grows *southward*: the minTile
  comes from (south, west)… actually (bottomRightLat, topLeftLon) and maxTile
  from (topLeftLat, bottomRightLon); x runs min→max while y runs maxTile.y→minTile.y.
  Output sorted lexicographically.
- geohash truncation as cell id: IngestStream.java:316 (substring(0, precision)).
- geohash children enumeration: QueryingController.java:264-282 (base-32 expansion
  of a prefix). In Spark we replace the 32^k point lookups with a startswith
  predicate (strictly better — SURVEY.md §4), but the enumeration is kept for
  wire/tests parity.

The geohash codec itself is a from-scratch implementation of the public geohash
algorithm (Niemeyer 2008); the reference uses com.github.davidmoten:geo for it.

Driver-side covers are pure functions. A bbox cover is an index rectangle
(`geohash_bbox_rect`, `quadkey_bbox_rect`, O(1)), which the bbox snapshots
filter on each lattice row's cell axes, read from its `gh` as a Morton code
(`cell_morton_sql`), without enumerating it; refined region covers (circle, polygon, route) are
enumerated and pushed down as one `IN` expression, or broadcast-joined when
large. Per-row cell derivation is exposed as **native Column expressions**
(bit arithmetic / substring), not Python UDFs, so the hot path stays inside
whole-stage codegen.
"""

from __future__ import annotations

import math
from typing import List, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Geohash (base-32, even bit = longitude first)
# ---------------------------------------------------------------------------

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_BASE32_IDX = {c: i for i, c in enumerate(_BASE32)}


def geohash_axis_bits(precision: int) -> Tuple[int, int]:
    """(lon_bits, lat_bits) of a geohash of `precision` characters: the
    5·precision interleaved bits start with longitude, so longitude takes
    the odd one."""
    total_bits = precision * 5
    return (total_bits + 1) // 2, total_bits // 2


def _axis_index(v: float, offset: float, span: float, bits: int) -> int:
    """Cell index of coordinate `v` on an axis of 2^bits cells spanning
    [-offset, span - offset]: floor of the scaled coordinate, the top edge
    clamped into the last cell."""
    return min(int((v + offset) / span * (1 << bits)), (1 << bits) - 1)


def geohash_cell_index(lat: float, lon: float, precision: int) -> Tuple[int, int]:
    """(lon index, lat index) of the `precision` cell holding (lat, lon)
    — the integer axes `geohash_encode` interleaves."""
    lon_bits, lat_bits = geohash_axis_bits(precision)
    return (_axis_index(lon, 180.0, 360.0, lon_bits),
            _axis_index(lat, 90.0, 180.0, lat_bits))


def geohash_from_index(lon_idx: int, lat_idx: int, precision: int) -> str:
    """The geohash of the `precision` cell at axis indices (lon, lat)."""
    _, _, chars = _geohash_bit_layout(precision)
    axis = {"lon": lon_idx, "lat": lat_idx}
    out = []
    for spec in chars:
        idx = 0
        for ax, shift in spec:
            idx = (idx << 1) | ((axis[ax] >> shift) & 1)
        out.append(_BASE32[idx])
    return "".join(out)


def geohash_to_index(gh: str) -> Tuple[int, int]:
    """(lon index, lat index) of a geohash cell at its own precision —
    the inverse of `geohash_from_index`."""
    _, _, chars = _geohash_bit_layout(len(gh))
    axis = {"lon": 0, "lat": 0}
    for c, spec in zip(gh, chars):
        idx = _BASE32_IDX[c]
        for pos, (ax, shift) in enumerate(spec):
            axis[ax] |= ((idx >> (4 - pos)) & 1) << shift
    return axis["lon"], axis["lat"]


def geohash_encode(lat: float, lon: float, precision: int = 12) -> str:
    """Encode (lat, lon) to a geohash of `precision` characters.

    Uses the SAME scaled-integer arithmetic as the Column builder
    (`geohash_col`) and the SQL mirror (`geohash_sql`): axis index =
    floor of the scaled coordinate, top edge clamped. A bisection loop
    (the textbook formulation) disagrees with scaled multiplication
    within 1 ulp of cell boundaries (e.g. lon = -1e-45 bisects west but
    scales east) — one definition everywhere keeps all three
    implementations bit-identical, which the hypothesis property tests
    enforce."""
    return geohash_from_index(*geohash_cell_index(lat, lon, precision),
                              precision)


def geohash_decode_bbox(gh: str) -> Tuple[float, float, float, float]:
    """Decode a geohash to its bounding box (lat_lo, lat_hi, lon_lo, lon_hi)."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    even = True
    for c in gh:
        idx = _BASE32_IDX[c]
        for shift in range(4, -1, -1):
            bit = (idx >> shift) & 1
            if even:
                mid = (lon_lo + lon_hi) / 2
                if bit:
                    lon_lo = mid
                else:
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if bit:
                    lat_lo = mid
                else:
                    lat_hi = mid
            even = not even
    return lat_lo, lat_hi, lon_lo, lon_hi


def geohash_decode(gh: str) -> Tuple[float, float]:
    """Decode a geohash to its centroid (lat, lon) — parity with
    GeoHash.decodeHash used at IngestStream.java:313."""
    lat_lo, lat_hi, lon_lo, lon_hi = geohash_decode_bbox(gh)
    return (lat_lo + lat_hi) / 2, (lon_lo + lon_hi) / 2


def geohash_children(prefix: str, precision: int) -> List[str]:
    """All geohashes of length `precision` under `prefix`, sorted.

    Parity with the base-32 expansion at QueryingController.java:264-282.
    Size is 32^(precision-len(prefix)) — only use for small deltas; the engine
    query path uses a startswith predicate instead.
    """
    if len(prefix) >= precision:
        return [prefix[:precision]]
    out = [prefix]
    for _ in range(precision - len(prefix)):
        out = [p + c for p in out for c in _BASE32]
    return sorted(out)


def geohash_bbox_rect(
    north: float, west: float, south: float, east: float, precision: int
) -> Tuple[int, int, int, int]:
    """(x0, x1, y0, y1): the inclusive lon/lat index rectangle of the
    cells `geohash_cover_bbox` enumerates, in O(1). Corners come from the
    encoder's clamped index (`geohash_cell_index`). A box with west > east
    (or south > north) walks one column at west (one row at south), as
    the cover walk does."""
    x0, y0 = geohash_cell_index(south, west, precision)
    x1, y1 = geohash_cell_index(north, east, precision)
    return x0, max(x0, x1), y0, max(y0, y1)


def geohash_cover_size(
    north: float, west: float, south: float, east: float, precision: int
) -> int:
    """Exact cell count `geohash_cover_bbox` would produce, in O(1) —
    lets the query planner pick a cover precision BEFORE enumerating
    (a precision-6 cover of a continent is ~10^8 cells; enumerating it
    driver-side is the scale bug, not just shipping it)."""
    x0, x1, y0, y1 = geohash_bbox_rect(north, west, south, east, precision)
    return (x1 - x0 + 1) * (y1 - y0 + 1)


def quadkey_cover_size(
    north: float, west: float, south: float, east: float, zoom: int
) -> int:
    """Exact tile count `quadkey_cover_bbox` would produce, in O(1) (0
    when west > east or south > north: the reference loop runs empty)."""
    rect = quadkey_bbox_rect(north, west, south, east, zoom)
    if rect is None:
        return 0
    x0, x1, y0, y1 = rect
    return (x1 - x0 + 1) * (y1 - y0 + 1)


def quadkey_bbox_rect(
    north: float, west: float, south: float, east: float, zoom: int
) -> Tuple[int, int, int, int] | None:
    """(x0, x1, y0, y1): the inclusive tile index rectangle
    `quadkey_cover_bbox` enumerates, in O(1); None when the cover is
    empty. y grows southward, so y0 comes from the north edge."""
    x0, y1 = latlon_to_tile(south, west, zoom)
    x1, y0 = latlon_to_tile(north, east, zoom)
    return (x0, x1, y0, y1) if x0 <= x1 and y0 <= y1 else None


def geohash_cover_bbox(
    north: float, west: float, south: float, east: float, precision: int
) -> List[str]:
    """All geohashes at `precision` intersecting the bbox, sorted.

    Parity with GeoHash.coverBoundingBox (library call at
    QueryingController.java:240-244): walk the lat/lon grid in steps of the
    cell size, encoding each sample point.
    """
    lon_bits, lat_bits = geohash_axis_bits(precision)
    lat_step = 180.0 / (1 << lat_bits)
    lon_step = 360.0 / (1 << lon_bits)
    hashes = set()
    lat = south
    while True:
        lon = west
        while True:
            hashes.add(geohash_encode(lat, lon, precision))
            if lon >= east:
                break
            lon = min(lon + lon_step, east)
        if lat >= north:
            break
        lat = min(lat + lat_step, north)
    return sorted(hashes)


# ---------------------------------------------------------------------------
# Web-Mercator tiles / quadkeys (QuadHash.java parity)
# ---------------------------------------------------------------------------


#: Web-Mercator latitude domain — no quad tile exists beyond this, so quad
#: covers clamp here (same domain limit as the reference's QuadHash)
MERCATOR_MAX_LAT = 85.05112877980659


def latlon_to_tile(lat: float, lon: float, zoom: int) -> Tuple[int, int]:
    """(x, y) tile containing (lat, lon) at `zoom` — QuadHash.java:8-13,
    kept on the grid: the latitude is clamped to ±MERCATOR_MAX_LAT (the
    projection diverges at the poles) and each index into
    [0, 2^zoom - 1] (lon = 180 would name tile 2^zoom), as
    `geohash_cell_index` clamps the top edge. A point on the grid maps
    to the same tile as the reference's formula."""
    n = 2.0**zoom
    last = (1 << zoom) - 1
    xtile = int(math.floor((lon + 180.0) / 360.0 * n))
    lat_rad = math.radians(min(max(lat, -MERCATOR_MAX_LAT), MERCATOR_MAX_LAT))
    ytile = int(math.floor((1.0 - math.log(math.tan(lat_rad) + 1.0 / math.cos(lat_rad)) / math.pi) / 2.0 * n))
    return min(max(xtile, 0), last), min(max(ytile, 0), last)


def tile_to_quadkey(x: int, y: int, zoom: int) -> str:
    """Interleave x/y bits → base-4 quadkey string — QuadHash.java:15-30."""
    digits = []
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        d = 0
        if x & mask:
            d += 1
        if y & mask:
            d += 2
        digits.append(str(d))
    return "".join(digits)


def quadkey_to_tile(qk: str) -> Tuple[int, int]:
    """(x, y) tile of a quadkey at its own zoom — the inverse of
    `tile_to_quadkey`."""
    x = y = 0
    for c in qk:
        d = int(c)
        x = x * 2 + (d & 1)
        y = y * 2 + ((d >> 1) & 1)
    return x, y


def quadkey(lat: float, lon: float, zoom: int) -> str:
    x, y = latlon_to_tile(lat, lon, zoom)
    return tile_to_quadkey(x, y, zoom)


def quadkey_cover_bbox(
    north: float, west: float, south: float, east: float, zoom: int
) -> List[str]:
    """Quadkeys of all tiles covering the bbox, sorted — QuadHash.java:32-50.

    y grows southward, so the y-range endpoints come from opposite corners:
    minTile = tile(south, west) has the *larger* y; maxTile = tile(north, east)
    the smaller. Replicates the reference loop exactly.
    """
    min_x, min_y = latlon_to_tile(south, west, zoom)  # minTile (bottom-left)
    max_x, max_y = latlon_to_tile(north, east, zoom)  # maxTile (top-right)
    keys = []
    for x in range(min_x, max_x + 1):
        for y in range(max_y, min_y + 1):
            keys.append(tile_to_quadkey(x, y, zoom))
    return sorted(keys)


#: last-character alphabets for cover compression, by cell scheme
QUAD_ALPHABET = "0123"
GEOHASH_ALPHABET = _BASE32

# ---------------------------------------------------------------------------
# circle (radius) covers — engine extension beyond the reference's bbox-only
# query surface (QueryingController.java:240-282). All geometry is computed
# DRIVER-SIDE in pure Python (like the bbox covers), so the serving plan
# stays a literal cell predicate and no trigonometry ever runs engine-side.
# ---------------------------------------------------------------------------

#: mean Earth radius (IUGG), meters
EARTH_RADIUS_M = 6371008.8


def haversine_m(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Great-circle distance in meters (haversine on the mean sphere)."""
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = p2 - p1
    dl = math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(a))


#: pull the east edge a hair inside +180 so bbox walks never index the
#: phantom wrap column (x = 2^zoom / the duplicate geohash column)
_LON_EDGE_EPS = 1e-9


def _wrap_lon_delta(d: float) -> float:
    """Signed longitude difference folded into [-180, 180)."""
    return (d + 180.0) % 360.0 - 180.0


def circle_bboxes(
    lat: float, lon: float, radius_m: float
) -> List[Tuple[float, float, float, float]]:
    """One or two (north, west, south, east) boxes jointly bounding the
    circle (ADVICE r6: the old single clamped box silently clipped
    antimeridian-crossing and pole-containing circles).

    - Crosses ±180: SPLIT into two boxes, one per side of the line.
    - Reaches a pole (|lat| + dlat ≥ 90) or spans ≥ 360° of longitude at
      its pole-nearest latitude: degrade to ONE full-longitude band over
      the circle's latitude range — every cell there may intersect.

    Latitudes are returned unclamped (up to ±90); each cover function
    clamps to ITS encoding's domain (Mercator ±85.05…, geohash ±90)."""
    dlat = math.degrees(radius_m / EARTH_RADIUS_M)
    north, south = lat + dlat, lat - dlat
    if north >= 90.0 or south <= -90.0:
        return [(min(north, 90.0), -180.0, max(south, -90.0),
                 180.0 - _LON_EDGE_EPS)]
    edge = max(abs(north), abs(south))
    dlon = math.degrees(
        radius_m / (EARTH_RADIUS_M * math.cos(math.radians(edge)))
    )
    if dlon >= 180.0:
        return [(north, -180.0, south, 180.0 - _LON_EDGE_EPS)]
    west, east = lon - dlon, lon + dlon
    if west < -180.0:
        return [(north, west + 360.0, south, 180.0 - _LON_EDGE_EPS),
                (north, -180.0, south, east)]
    if east > 180.0:
        return [(north, west, south, 180.0 - _LON_EDGE_EPS),
                (north, -180.0, south, east - 360.0)]
    return [(north, west, south, min(east, 180.0 - _LON_EDGE_EPS))]


def circle_bbox(
    lat: float, lon: float, radius_m: float
) -> Tuple[float, float, float, float]:
    """Single (north, west, south, east) box bounding the circle — valid
    only when no antimeridian split is needed; raises otherwise (use
    `circle_bboxes`). Kept for the common non-wrapping case (adaptive
    cover sizing, tests)."""
    boxes = circle_bboxes(lat, lon, radius_m)
    if len(boxes) != 1:
        raise ValueError(
            "circle crosses the antimeridian — use circle_bboxes()")
    return boxes[0]


def quadkey_decode_bbox(qk: str) -> Tuple[float, float, float, float]:
    """(north, west, south, east) of a quadkey tile — inverse of
    tile_to_quadkey + the Mercator tile edges."""
    x, y = quadkey_to_tile(qk)
    n = 2.0 ** len(qk)

    def _lat(yy: float) -> float:
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * yy / n))))

    return (_lat(y), x / n * 360.0 - 180.0,
            _lat(y + 1), (x + 1) / n * 360.0 - 180.0)


def bbox_min_dist_m(
    bbox: Tuple[float, float, float, float], lat: float, lon: float
) -> float:
    """EXACT great-circle distance from a point to the nearest point of a
    lat/lon-aligned cell bbox (0 when inside) — the circle-intersection
    test. Longitude-wrap-aware.

    ADVICE r6: the old lat/lon-clamped haversine OVERestimates the
    distance to a meridian edge at high |lat| (the perpendicular foot sits
    poleward of the clamped latitude), which could prune a genuinely
    intersecting tile. Exact evaluation: the minimum over a meridian
    segment is attained at the perpendicular-foot latitude
    (tan(foot) = tan(lat)/cos(dlon)) when that lies in range and faces the
    point (cos(dlon) > 0), else at a segment endpoint; the minimum over a
    parallel segment is attained at the point's own longitude when that
    falls inside the segment, else at a corner (covered by the meridian
    endpoints). Taking the min of haversine at those candidate points is
    therefore the true minimum, not a bound."""
    north, west, south, east = bbox
    width = (east - west) % 360.0
    dw = (lon - west) % 360.0
    lon_inside = dw <= width
    if lon_inside and south <= lat <= north:
        return 0.0
    cands = []
    if lon_inside:
        cands.append(haversine_m(lat, lon, south, lon))
        cands.append(haversine_m(lat, lon, north, lon))
    for elon in (west, east):
        dlon = math.radians(_wrap_lon_delta(elon - lon))
        c = math.cos(dlon)
        if abs(c) > 1e-12:
            foot = math.degrees(math.atan(math.tan(math.radians(lat)) / c))
        else:
            foot = math.copysign(90.0, lat)
        for flat in (min(max(foot, south), north), south, north):
            cands.append(haversine_m(lat, lon, flat, elon))
    return min(cands)


#: geohash cells span the full latitude range; stay a hair inside the pole
#: so the encode bisection never sees lat == ±90
_GEOHASH_MAX_LAT = 90.0 - 1e-9


def clamp_bbox_lat(bbox: Tuple[float, float, float, float],
                   max_lat: float) -> Tuple[float, float, float, float] | None:
    """Clamp a box's latitudes into the encoding's domain; None when the
    box lies entirely outside it."""
    north, west, south, east = bbox
    if south >= max_lat or north <= -max_lat:
        return None
    return (min(north, max_lat), west, max(south, -max_lat), east)


def quadkey_cover_circle(
    lat: float, lon: float, radius_m: float, zoom: int
) -> List[str]:
    """Quadkeys of all tiles intersecting the circle: the bounding-box
    cover(s) — split at the antimeridian, full-longitude band at a pole
    (circle_bboxes) — refined by the EXACT per-tile min-distance test.
    Conservative: every point within `radius_m` that lies inside the
    Mercator domain (|lat| ≤ 85.05…, where quad tiles exist at all) lands
    in some kept tile."""
    out = set()
    for raw in circle_bboxes(lat, lon, radius_m):
        bbox = clamp_bbox_lat(raw, MERCATOR_MAX_LAT)
        if bbox is None:
            continue
        for qk in quadkey_cover_bbox(*bbox, zoom):
            if bbox_min_dist_m(quadkey_decode_bbox(qk), lat, lon) <= radius_m:
                out.add(qk)
    return sorted(out)


def geohash_cover_circle(
    lat: float, lon: float, radius_m: float, precision: int
) -> List[str]:
    """Geohashes of all cells intersecting the circle (same split/band +
    refinement as quadkey_cover_circle over the geohash bbox cover; note
    geohash_decode_bbox's (lat_lo, lat_hi, lon_lo, lon_hi) order)."""
    out = set()
    for raw in circle_bboxes(lat, lon, radius_m):
        bbox = clamp_bbox_lat(raw, _GEOHASH_MAX_LAT)
        if bbox is None:
            continue
        for gh in geohash_cover_bbox(*bbox, precision):
            la_lo, la_hi, lo_lo, lo_hi = geohash_decode_bbox(gh)
            if bbox_min_dist_m((la_hi, lo_lo, la_lo, lo_hi),
                               lat, lon) <= radius_m:
                out.add(gh)
    return sorted(out)


def polygon_bbox(
    points: List[Tuple[float, float]]
) -> Tuple[float, float, float, float]:
    """(north, west, south, east) bounding the polygon's (lat, lon)
    vertices. Polygon covers use PLANAR lat/lon geometry (geofence
    semantics — the standard for region filters at city/country scale)
    and require the polygon NOT to cross the antimeridian; split such a
    region into two polygons, like circle_bboxes splits its circle."""
    lats = [p[0] for p in points]
    lons = [p[1] for p in points]
    return (max(lats), min(lons), min(lats), max(lons))


def _orient2d(ax: float, ay: float, bx: float, by: float,
              cx: float, cy: float) -> int:
    v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    return (v > 0) - (v < 0)


def _on_segment(ax: float, ay: float, bx: float, by: float,
                px: float, py: float) -> bool:
    return (min(ax, bx) <= px <= max(ax, bx)
            and min(ay, by) <= py <= max(ay, by))


def _segments_intersect(p1, p2, q1, q2) -> bool:
    """Planar segment intersection incl. endpoint/collinear touches —
    the strict test fires only when all four orientations are nonzero;
    every degenerate contact is caught by the on-segment checks."""
    o1 = _orient2d(*p1, *p2, *q1)
    o2 = _orient2d(*p1, *p2, *q2)
    o3 = _orient2d(*q1, *q2, *p1)
    o4 = _orient2d(*q1, *q2, *p2)
    if 0 not in (o1, o2, o3, o4) and o1 != o2 and o3 != o4:
        return True
    if o1 == 0 and _on_segment(*p1, *p2, *q1):
        return True
    if o2 == 0 and _on_segment(*p1, *p2, *q2):
        return True
    if o3 == 0 and _on_segment(*q1, *q2, *p1):
        return True
    if o4 == 0 and _on_segment(*q1, *q2, *p2):
        return True
    return False


def point_in_polygon(lat: float, lon: float,
                     points: List[Tuple[float, float]]) -> bool:
    """Ray casting in the (lon, lat) plane; boundary points count as
    inside often enough for a CONSERVATIVE cover (edge touches are also
    caught by the segment tests in polygon_intersects_bbox)."""
    inside = False
    n = len(points)
    for i in range(n):
        la1, lo1 = points[i]
        la2, lo2 = points[(i + 1) % n]
        if (la1 > lat) != (la2 > lat):
            x = lo1 + (lat - la1) * (lo2 - lo1) / (la2 - la1)
            if lon < x:
                inside = not inside
    return inside


def polygon_intersects_bbox(
    points: List[Tuple[float, float]],
    north: float, west: float, south: float, east: float,
) -> bool:
    """True iff the (possibly concave) simple polygon intersects the
    lat/lon-aligned box: vertex-in-box ∨ box-corner-in-polygon ∨ any
    edge crossing. Exact in planar lat/lon."""
    pn, pw, ps, pe = polygon_bbox(points)
    if ps > north or pn < south or pw > east or pe < west:
        return False
    for la, lo in points:
        if south <= la <= north and west <= lo <= east:
            return True
    for la, lo in ((north, west), (north, east), (south, west),
                   (south, east)):
        if point_in_polygon(la, lo, points):
            return True
    corners = [(west, south), (east, south), (east, north), (west, north)]
    n = len(points)
    for i in range(n):
        p1 = (points[i][1], points[i][0])
        p2 = (points[(i + 1) % n][1], points[(i + 1) % n][0])
        for j in range(4):
            if _segments_intersect(p1, p2, corners[j],
                                   corners[(j + 1) % 4]):
                return True
    return False


def quadkey_cover_polygon(
    points: List[Tuple[float, float]], zoom: int
) -> List[str]:
    """Quadkeys of all tiles intersecting the polygon: bbox cover refined
    by the exact planar polygon/box test (the circle-cover pattern with
    polygon_intersects_bbox as the refinement)."""
    bbox = clamp_bbox_lat(polygon_bbox(points), MERCATOR_MAX_LAT)
    if bbox is None:
        return []
    out = [
        qk for qk in quadkey_cover_bbox(*bbox, zoom)
        if polygon_intersects_bbox(points, *quadkey_decode_bbox(qk))
    ]
    return sorted(out)


def geohash_cover_polygon(
    points: List[Tuple[float, float]], precision: int
) -> List[str]:
    """Geohash twin of quadkey_cover_polygon (note decode order)."""
    bbox = clamp_bbox_lat(polygon_bbox(points), _GEOHASH_MAX_LAT)
    if bbox is None:
        return []
    out = []
    for gh in geohash_cover_bbox(*bbox, precision):
        la_lo, la_hi, lo_lo, lo_hi = geohash_decode_bbox(gh)
        if polygon_intersects_bbox(points, la_hi, lo_lo, la_lo, lo_hi):
            out.append(gh)
    return sorted(out)


def compress_cover(cells: List[str], alphabet: str) -> List[str]:
    """Collapse complete sibling groups into their parent prefix, recursively.

    Input: same-length cell ids (a bbox cover, or any exact cell set).
    Output: mixed-length prefixes whose descendant sets partition exactly the
    input set — `cell in cells` ⇔ `any(cell.startswith(p) for p in output)`.

    A length-L sibling group is complete when all `len(alphabet)` children of
    its length-(L-1) parent are present; the group is then replaced by the
    parent and compression re-runs one level up. Spatial covers compress
    dramatically (a half-globe precision-3 geohash cover: 7482 → ~250
    prefixes) because bbox interiors are full subtrees; adversarial
    non-spatial sets may not compress at all — callers should bound the
    result and fall back if it stays large.

    This is the inverse of the reference's children enumeration
    (QueryingController.java:264-282): instead of expanding a prefix to 32^k
    point lookups, complete families fold back into one prefix predicate.
    """
    branching = len(alphabet)
    alpha = set(alphabet)
    out: set[str] = set(cells)
    # group by parent, fold complete families, repeat until fixpoint; each
    # pass only ever shrinks lengths so this terminates in ≤ max-length passes
    changed = True
    while changed:
        changed = False
        by_parent: dict[str, set[str]] = {}
        for c in out:
            if len(c) > 1:
                by_parent.setdefault(c[:-1], set()).add(c[-1])
        for parent, lasts in by_parent.items():
            if len(lasts) == branching and lasts <= alpha:
                out.difference_update(parent + ch for ch in lasts)
                out.add(parent)
                changed = True
    return sorted(out)


# ---------------------------------------------------------------------------
# Column-expression builders (JVM-side, codegen-friendly — no Python UDFs)
# ---------------------------------------------------------------------------


def tile_x_col(lon_col: Column, zoom: int) -> Column:
    """Valid domain: lon ∈ [-180, 180). lon=180 yields tile 2^zoom (out of
    range) — parity with QuadHash.java:8-13, which does not clamp; the
    scalar `latlon_to_tile` clamps, so the two agree on the domain only."""
    return F.floor((lon_col + F.lit(180.0)) / F.lit(360.0) * F.lit(float(2**zoom))).cast("int")


def tile_y_col(lat_col: Column, zoom: int) -> Column:
    """Valid domain: |lat| < ~85.0511 (Web-Mercator). Outside it the
    projection diverges: this Column path yields an out-of-range tile or
    null (NaN cast), while the scalar twin clamps onto the grid.
    Deliberate QuadHash.java parity — callers clamp inputs if they
    accept open-domain data."""
    lat_rad = F.radians(lat_col)
    merc = F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad))
    return F.floor((F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * F.lit(float(2**zoom))).cast("int")


def quadkey_col(x_col: Column, y_col: Column, zoom: int) -> Column:
    """Quadkey as native bit arithmetic (stays in whole-stage codegen)."""
    digits = []
    for i in range(zoom, 0, -1):
        d = (F.shiftright(x_col, i - 1).bitwiseAND(F.lit(1))
             + F.shiftright(y_col, i - 1).bitwiseAND(F.lit(1)) * F.lit(2))
        digits.append(F.char(d + F.lit(48)))
    return F.concat(*digits)


def quadkey_from_latlon_col(lat_col: Column, lon_col: Column, zoom: int) -> Column:
    return quadkey_col(tile_x_col(lon_col, zoom), tile_y_col(lat_col, zoom), zoom)


def _geohash_bit_layout(precision: int):
    """(lon_bits, lat_bits, per-char bit specs) for a geohash of `precision`.

    Each of the 5·precision interleaved bits (even = longitude, odd = latitude,
    MSB first — Niemeyer base-32 geohash) maps to one bit of the integer cell
    index along its axis."""
    lon_bits, lat_bits = geohash_axis_bits(precision)
    chars = []
    for k in range(precision):
        spec = []  # (axis, shift) per bit, MSB→LSB within the char
        for t in range(5):
            b = 5 * k + t
            if b % 2 == 0:
                spec.append(("lon", lon_bits - 1 - b // 2))
            else:
                spec.append(("lat", lat_bits - 1 - (b - 1) // 2))
        chars.append(spec)
    return lon_bits, lat_bits, chars


#: base-32 digits in `conv`'s order, position for position with _BASE32
_CONV_BASE32 = "0123456789abcdefghijklmnopqrstuv"


def dilate(v: int, offset: int) -> int:
    """`v` with its bits spread to every other bit of a Morton code, bit i
    to bit 2i + `offset`. Spreading keeps order, so an axis range
    a ≤ x ≤ b is `dilate(a) ≤ code & dilate(all ones) ≤ dilate(b)`."""
    out, i = 0, 0
    while v:
        out |= (v & 1) << (2 * i + offset)
        v >>= 1
        i += 1
    return out


def cell_morton_sql(cells: str, precision: int) -> Tuple[str, int, int]:
    """(SQL, x offset, y offset): a lattice `gh` read as its cell's Morton
    code — a BIGINT whose bits alternate between the axes, x (longitude,
    tile x) on the bits from `x offset` up, y on those from `y offset` —
    natively, no Python UDF.

    `cells` names the scheme `gh` holds ("geohash" or "quadkey"): the
    route knows it, and it is never guessed from the data (a quadkey's
    digits are valid base-32 too). A `gh` that is no `precision` cell of
    the scheme (another length, or a character outside its alphabet)
    reads as null, so no axis range selects it — as no cover would."""
    if cells == "geohash":
        alphabet = _BASE32
        digits = f"conv(translate(gh, '{_BASE32}', '{_CONV_BASE32}'), 32, 10)"
        # 5·precision bits with longitude on the top one: longitude sits
        # on the even bits iff the bit count is odd
        x_off = 1 - precision % 2
    elif cells == "quadkey":
        alphabet, digits, x_off = QUAD_ALPHABET, "conv(gh, 4, 10)", 0
    else:
        raise ValueError(f"cells must be 'geohash' or 'quadkey'; got {cells!r}")
    sql = (f"CASE WHEN length(gh) = {precision}"
           f" AND translate(gh, '{alphabet}', '') = ''"
           f" THEN CAST({digits} AS BIGINT) END")
    return sql, x_off, 1 - x_off


def geohash_col(lat_col: Column, lon_col: Column, precision: int) -> Column:
    """Geohash of (lat, lon) as a native Column expression (no Python UDF).

    Same bit math as `geohash_encode` (axis index = floor of the scaled
    coordinate, clamped at the top edge), composed from floor/shift/substring
    so the hot path stays inside whole-stage codegen. Mirrored exactly by
    `geohash_sql` for DuckDB oracles. Valid domain: lat ∈ [-90, 90],
    lon ∈ [-180, 180] (top edges clamp; out-of-range inputs are undefined,
    matching geohash_encode)."""
    lon_bits, lat_bits, chars = _geohash_bit_layout(precision)
    lon_idx = F.least(
        F.floor((lon_col + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lon_bits))),
        F.lit((1 << lon_bits) - 1),
    ).cast("long")
    lat_idx = F.least(
        F.floor((lat_col + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << lat_bits))),
        F.lit((1 << lat_bits) - 1),
    ).cast("long")
    axis = {"lon": lon_idx, "lat": lat_idx}
    out = []
    for spec in chars:
        idx = F.lit(0)
        for pos, (ax, shift) in enumerate(spec):
            idx = idx + F.shiftright(axis[ax], shift).bitwiseAND(F.lit(1)) * F.lit(1 << (4 - pos))
        out.append(F.substring(F.lit(_BASE32), idx.cast("int") + F.lit(1), F.lit(1)))
    return F.concat(*out)


def geohash_sql(lat_expr: str, lon_expr: str, precision: int) -> str:
    """ANSI-SQL (DuckDB-compatible) mirror of `geohash_col` — used to build
    oracle queries that derive the identical cell id."""
    lon_bits, lat_bits, chars = _geohash_bit_layout(precision)
    lon_idx = (
        f"least(CAST(floor(({lon_expr} + 180.0) / 360.0 * {float(1 << lon_bits)}) AS BIGINT), "
        f"{(1 << lon_bits) - 1})"
    )
    lat_idx = (
        f"least(CAST(floor(({lat_expr} + 90.0) / 180.0 * {float(1 << lat_bits)}) AS BIGINT), "
        f"{(1 << lat_bits) - 1})"
    )
    axis = {"lon": lon_idx, "lat": lat_idx}
    parts = []
    for spec in chars:
        terms = [
            f"(({axis[ax]} >> {shift}) & 1) * {1 << (4 - pos)}"
            for pos, (ax, shift) in enumerate(spec)
        ]
        idx = " + ".join(terms)
        parts.append(f"substr('{_BASE32}', CAST({idx} AS INTEGER) + 1, 1)")
    return "(" + " || ".join(parts) + ")"


def tile_x_sql(lon_expr: str, zoom: int) -> str:
    """ANSI-SQL mirror of `tile_x_col` (same unclamped domain)."""
    return (f"CAST(floor(({lon_expr} + 180.0) / 360.0"
            f" * {float(2 ** zoom)}) AS INTEGER)")


def tile_y_sql(lat_expr: str, zoom: int) -> str:
    """ANSI-SQL mirror of `tile_y_col` (same Web-Mercator domain)."""
    return (
        f"CAST(floor((1.0 - ln(tan(radians({lat_expr})) + 1.0 / cos(radians({lat_expr})))"
        f" / pi()) / 2.0 * {float(2 ** zoom)}) AS INTEGER)"
    )


def quadkey_sql(lat_expr: str, lon_expr: str, zoom: int) -> str:
    """ANSI-SQL (DuckDB-compatible) rendering of the same quadkey math, used to
    build oracle queries that mirror `quadkey_from_latlon_col` exactly."""
    x = tile_x_sql(lon_expr, zoom)
    y = tile_y_sql(lat_expr, zoom)
    digits = [
        f"chr(48 + (({x} >> {i - 1}) & 1) + 2 * (({y} >> {i - 1}) & 1))"
        for i in range(zoom, 0, -1)
    ]
    return "(" + " || ".join(digits) + ")"


# ---------------------------------------------------------------------------
# route corridor (polyline + radius) covers
# ---------------------------------------------------------------------------

#: meters per degree of latitude (and of longitude at the equator)
_M_PER_DEG = math.pi * EARTH_RADIUS_M / 180.0


def _seg_point_d2(ax: float, ay: float, bx: float, by: float,
                  px: float, py: float) -> float:
    """Squared planar distance from point P to segment AB."""
    dx, dy = bx - ax, by - ay
    l2 = dx * dx + dy * dy
    t = 0.0 if l2 == 0.0 else max(
        0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / l2))
    qx, qy = ax + t * dx, ay + t * dy
    return (px - qx) ** 2 + (py - qy) ** 2


def segment_box_dist_m(
    a: Tuple[float, float],
    b: Tuple[float, float],
    north: float, west: float, south: float, east: float,
    lon_scale: float,
) -> float:
    """Planar (equirectangular, fixed `lon_scale` = cos of the route's
    mean latitude) distance in meters from segment a→b (lat, lon) to a
    lat/lon-aligned box; 0 when they touch. The corridor twin of the
    polygon family's planar geometry contract — valid at city/route
    scale, no antimeridian crossing."""
    ax, ay = a[1] * lon_scale * _M_PER_DEG, a[0] * _M_PER_DEG
    bx, by = b[1] * lon_scale * _M_PER_DEG, b[0] * _M_PER_DEG
    w, e = west * lon_scale * _M_PER_DEG, east * lon_scale * _M_PER_DEG
    s, n = south * _M_PER_DEG, north * _M_PER_DEG
    if (w <= ax <= e and s <= ay <= n) or (w <= bx <= e and s <= by <= n):
        return 0.0
    corners = [(w, s), (e, s), (e, n), (w, n)]
    for j in range(4):
        if _segments_intersect((ax, ay), (bx, by), corners[j],
                               corners[(j + 1) % 4]):
            return 0.0
    d2 = min(_seg_point_d2(ax, ay, bx, by, cx, cy) for cx, cy in corners)
    for px, py in ((ax, ay), (bx, by)):
        qx = min(max(px, w), e)
        qy = min(max(py, s), n)
        d2 = min(d2, (px - qx) ** 2 + (py - qy) ** 2)
    return math.sqrt(d2)


def route_min_dist_m(
    points: List[Tuple[float, float]],
    north: float, west: float, south: float, east: float,
    lon_scale: float,
) -> float:
    """Min planar distance from a box to any segment of the open
    polyline `points` (a single point is a degenerate route)."""
    if len(points) == 1:
        points = [points[0], points[0]]
    return min(
        segment_box_dist_m(points[i], points[i + 1],
                           north, west, south, east, lon_scale)
        for i in range(len(points) - 1)
    )


def _route_lon_scale(points: List[Tuple[float, float]]) -> float:
    return math.cos(math.radians(
        sum(p[0] for p in points) / len(points)))


def _route_bbox_expanded(
    points: List[Tuple[float, float]], radius_m: float
) -> Tuple[float, float, float, float]:
    """Route vertex bbox expanded by the corridor radius (dlon scaled at
    the bbox's pole-nearest latitude — conservative)."""
    north, west, south, east = polygon_bbox(points)
    dlat = math.degrees(radius_m / EARTH_RADIUS_M)
    edge = min(max(abs(north + dlat), abs(south - dlat)), 89.9)
    dlon = math.degrees(
        radius_m / (EARTH_RADIUS_M * math.cos(math.radians(edge))))
    return (north + dlat, west - dlon, south - dlat, east + dlon)


def quadkey_cover_route(
    points: List[Tuple[float, float]], radius_m: float, zoom: int
) -> List[str]:
    """Quadkeys of all tiles within `radius_m` of the polyline — the
    CORRIDOR cover (route/fleet telemetry: "events along this road"):
    the radius-expanded route bbox cover refined by the exact planar
    box-to-segment distance (the circle/polygon refinement pattern).
    Planar contract as the polygon family: no antimeridian crossing."""
    bbox = clamp_bbox_lat(_route_bbox_expanded(points, radius_m),
                          MERCATOR_MAX_LAT)
    if bbox is None:
        return []
    k = _route_lon_scale(points)
    out = [
        qk for qk in quadkey_cover_bbox(*bbox, zoom)
        if route_min_dist_m(points, *quadkey_decode_bbox(qk), k)
        <= radius_m
    ]
    return sorted(out)


def geohash_cover_route(
    points: List[Tuple[float, float]], radius_m: float, precision: int
) -> List[str]:
    """Geohash twin of quadkey_cover_route (note decode order)."""
    bbox = clamp_bbox_lat(_route_bbox_expanded(points, radius_m),
                          _GEOHASH_MAX_LAT)
    if bbox is None:
        return []
    k = _route_lon_scale(points)
    out = []
    for gh in geohash_cover_bbox(*bbox, precision):
        la_lo, la_hi, lo_lo, lo_hi = geohash_decode_bbox(gh)
        if route_min_dist_m(points, la_hi, lo_lo, la_lo, lo_hi,
                            k) <= radius_m:
            out.append(gh)
    return sorted(out)
