"""Property-based parity tests (hypothesis): the native Column
expressions, the pure-Python codecs, and the SQL oracle fragments must
agree on arbitrary inputs — these three implementations are the engine's
correctness triangle for geo keys."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from explora_kafka_spark.functions import geo
from explora_kafka_spark.plans import query as Q

# Mercator-safe domain; stay off exact cell boundaries (float paths may
# differ by 1 ulp exactly on an edge, flipping the floor)
lat_s = st.floats(min_value=-84.9, max_value=84.9,
                  allow_nan=False, allow_infinity=False)
lon_s = st.floats(min_value=-179.9, max_value=179.9,
                  allow_nan=False, allow_infinity=False)


@settings(max_examples=30, deadline=None)
@given(lat=lat_s, lon=lon_s, zoom=st.integers(min_value=1, max_value=14))
def test_quadkey_sql_matches_pure(lat, lon, zoom):
    # CAST: a bare high-precision literal parses as DECIMAL in DuckDB and
    # overflows on +180; the engine always feeds DOUBLE columns
    sql = geo.quadkey_sql(f"CAST({lat!r} AS DOUBLE)",
                          f"CAST({lon!r} AS DOUBLE)", zoom)
    got = duckdb.sql(f"SELECT {sql}").fetchone()[0]
    assert got == geo.quadkey(lat, lon, zoom)


@settings(max_examples=30, deadline=None)
@given(lat=lat_s, lon=lon_s, precision=st.integers(min_value=1, max_value=9))
def test_geohash_sql_matches_pure(lat, lon, precision):
    sql = geo.geohash_sql(f"CAST({lat!r} AS DOUBLE)",
                          f"CAST({lon!r} AS DOUBLE)", precision)
    got = duckdb.sql(f"SELECT {sql}").fetchone()[0]
    assert got == geo.geohash_encode(lat, lon, precision)


@settings(max_examples=30, deadline=None)
@given(lat=lat_s, lon=lon_s, precision=st.integers(min_value=1, max_value=9))
def test_geohash_decode_roundtrip(lat, lon, precision):
    gh = geo.geohash_encode(lat, lon, precision)
    lat_lo, lat_hi, lon_lo, lon_hi = geo.geohash_decode_bbox(gh)
    # scaled-multiply encoding absorbs sub-ulp offsets near cell edges
    # (90.0 + 2e-16 == 90.0), so containment holds to float epsilon
    tol = 1e-9
    assert lat_lo - tol <= lat <= lat_hi + tol
    assert lon_lo - tol <= lon <= lon_hi + tol


@settings(max_examples=20, deadline=None)
@given(
    s=st.floats(min_value=-60, max_value=50, allow_nan=False),
    w=st.floats(min_value=-170, max_value=160, allow_nan=False),
    dlat=st.floats(min_value=0.1, max_value=20, allow_nan=False),
    dlon=st.floats(min_value=0.1, max_value=20, allow_nan=False),
    zoom=st.integers(min_value=3, max_value=8),
)
def test_quadkey_cover_contains_interior_points(s, w, dlat, dlon, zoom):
    n, e = s + dlat, w + dlon
    cover = set(geo.quadkey_cover_bbox(n, w, s, e, zoom))
    assert geo.quadkey_cover_size(n, w, s, e, zoom) == len(cover)
    # the center of the bbox must be covered
    assert geo.quadkey((s + n) / 2, (w + e) / 2, zoom) in cover


def test_column_exprs_match_pure_on_batch(spark):
    """One Spark job covering many random points (cheaper than a job per
    hypothesis example): Column-built quadkeys/geohashes == pure Python."""
    import random

    rng = random.Random(42)
    rows = [
        (i, rng.uniform(-84.9, 84.9), rng.uniform(-179.9, 179.9))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    got = {
        r.id: (r.qk, r.gh)
        for r in df.select(
            "id",
            geo.quadkey_from_latlon_col(F.col("lat"), F.col("lon"), 12).alias("qk"),
            geo.geohash_col(F.col("lat"), F.col("lon"), 7).alias("gh"),
        ).collect()
    }
    for i, lat, lon in rows:
        assert got[i][0] == geo.quadkey(lat, lon, 12), (lat, lon)
        assert got[i][1] == geo.geohash_encode(lat, lon, 7), (lat, lon)


@settings(max_examples=25, deadline=None)
@given(
    s=st.floats(min_value=-60, max_value=50, allow_nan=False),
    w=st.floats(min_value=-170, max_value=160, allow_nan=False),
    dlat=st.floats(min_value=0.5, max_value=40, allow_nan=False),
    dlon=st.floats(min_value=0.5, max_value=40, allow_nan=False),
)
def test_compress_cover_membership_equivalence(s, w, dlat, dlon):
    """compress_cover output must decide membership identically to the
    enumerated cover: cell ∈ cover ⇔ some compressed prefix prefixes it —
    on cover members, perturbed neighbours, and far-away cells."""
    n, e = min(s + dlat, 85.0), min(w + dlon, 179.9)
    for alphabet, cover_fn, grain in (
        (geo.QUAD_ALPHABET, geo.quadkey_cover_bbox, 6),
        (geo.GEOHASH_ALPHABET, geo.geohash_cover_bbox, 3),
    ):
        cover = cover_fn(n, w, s, e, grain)
        comp = geo.compress_cover(cover, alphabet)
        full = set(cover)

        def member(c):
            return any(c.startswith(p) for p in comp)

        # exact partition: all members match, and compression never grows
        assert all(member(c) for c in cover)
        assert len(comp) <= len(cover)
        # non-members (flip last char to something outside the sibling set
        # only when the parent family was NOT complete) must not match
        probe = cover[:: max(1, len(cover) // 50)]
        for c in probe:
            for ch in alphabet:
                cand = c[:-1] + ch
                assert member(cand) == (cand in full)


# ---------------------------------------------------------------------------
# bbox covers as index rectangles: cover sizes, and the axis-range
# predicate the bbox snapshots filter (`Q.*_rect_predicate`)
# ---------------------------------------------------------------------------


def _coord(draw, lo, hi, step):
    """A coordinate in [lo, hi]: a float, an exact cell edge, or a bound."""
    kind = draw(st.sampled_from(["float", "edge", "lo", "hi"]))
    if kind == "float":
        return draw(st.floats(min_value=lo, max_value=hi, allow_nan=False))
    if kind == "edge":
        return lo + draw(st.integers(0, round((hi - lo) / step))) * step
    return lo if kind == "lo" else hi


def _far(draw, start, lo, hi, step):
    """The box's other bound: up to 30 cells past `start` (clamped to
    `hi`, so the top edge comes up), `hi` itself, or below `start`
    (a box with west > east or south > north)."""
    kind = draw(st.sampled_from(["cells", "span", "hi", "below"]))
    if kind == "cells":
        return min(hi, start + draw(st.integers(0, 30)) * step)
    if kind == "span":
        return min(hi, start + draw(st.floats(0, 30 * step, allow_nan=False)))
    if kind == "hi":
        return hi
    return max(lo, start - draw(st.floats(0, 30 * step, allow_nan=False)))


@st.composite
def geohash_boxes(draw):
    p = draw(st.integers(min_value=1, max_value=8))
    lon_bits, lat_bits = geo.geohash_axis_bits(p)
    lat_step, lon_step = 180.0 / (1 << lat_bits), 360.0 / (1 << lon_bits)
    south = _coord(draw, -90.0, 90.0, lat_step)
    west = _coord(draw, -180.0, 180.0, lon_step)
    north = _far(draw, south, -90.0, 90.0, lat_step)
    east = _far(draw, west, -180.0, 180.0, lon_step)
    return (north, west, south, east), p


@st.composite
def quadkey_boxes(draw):
    z = draw(st.integers(min_value=1, max_value=16))
    step = 360.0 / (1 << z)
    m = geo.MERCATOR_MAX_LAT
    south = _coord(draw, -m, m, 170.0 / (1 << z))
    west = _coord(draw, -180.0, 180.0, step)
    north = _far(draw, south, -m, draw(st.sampled_from([m, 89.0])),
                 170.0 / (1 << z))
    east = _far(draw, west, -180.0, 180.0, step)
    return (north, west, south, east), z


@settings(max_examples=300, deadline=None)
@given(box=geohash_boxes())
def test_geohash_cover_size_is_the_cover_length(box):
    bbox, p = box
    size = geo.geohash_cover_size(*bbox, p)
    assume(size <= 4000)
    assert size == len(geo.geohash_cover_bbox(*bbox, p))


@settings(max_examples=300, deadline=None)
@given(box=quadkey_boxes())
def test_quadkey_cover_size_is_the_cover_length(box):
    bbox, z = box
    size = geo.quadkey_cover_size(*bbox, z)
    assume(size <= 4000)
    assert size == len(geo.quadkey_cover_bbox(*bbox, z))


@settings(max_examples=300, deadline=None)
@given(box=quadkey_boxes(), south_pole=st.booleans())
def test_quadkey_cover_has_no_repeated_key(box, south_pole):
    """Tile indices stay on the grid, so no two steps of the cover loop
    name the same key, even for a box reaching lon 180 or a pole."""
    (north, west, south, east), z = box
    bbox = (north, west, -90.0 if south_pole else south, east)
    size = geo.quadkey_cover_size(*bbox, z)
    assume(size <= 4000)
    cover = geo.quadkey_cover_bbox(*bbox, z)
    assert len(set(cover)) == len(cover) == size


def test_quad_tiles_stay_on_the_grid():
    assert geo.latlon_to_tile(-90, 0, 5) == (16, 31)
    assert geo.latlon_to_tile(90, 0, 5) == (16, 0)
    assert geo.latlon_to_tile(0, 180, 5) == (31, 16)
    assert geo.quadkey_cover_bbox(10, -180, 9, 180, 2) == ["02", "03", "12", "13"]
    assert geo.quadkey_cover_size(10, -180, 9, 180, 2) == 4


def test_cover_sizes_at_the_top_edges():
    """The walk clamps north = 90 / east = 180 into the last cell; so
    does the size."""
    for bbox, p in [((90, 10, 89.9, 10.5), 3), ((10, 179, 9.5, 180), 3),
                    ((90, 179, 89, 180), 2)]:
        assert geo.geohash_cover_size(*bbox, p) \
            == len(geo.geohash_cover_bbox(*bbox, p)) \
            == {(90, 10, 89.9, 10.5): 1, (10, 179, 9.5, 180): 2,
                (90, 179, 89, 180): 1}[bbox]


def test_antimeridian_boxes_keep_todays_covers():
    """west > east is not split at ±180: the geohash walk covers one
    column at west, the quad loop nothing. Sizes and the rectangle
    predicates say the same."""
    bbox = (10, 179.5, 9, -179.5)
    gh = geo.geohash_cover_bbox(*bbox, 4)
    assert len(gh) == geo.geohash_cover_size(*bbox, 4) == 6
    assert {geo.geohash_to_index(c)[0] for c in gh} \
        == {geo.geohash_cell_index(9, 179.5, 4)[0]}
    predicate = Q.geohash_rect_predicate(*bbox, 4, 4, _morton("geohash", 4))
    assert _selected(predicate, _geohash_cells(gh, 4), "geohash") == set(gh)
    assert geo.quadkey_cover_bbox(*bbox, 4) == []
    assert geo.quadkey_cover_size(*bbox, 4) == 0
    assert Q.quadkey_rect_predicate(*bbox, 4, 4) == "false"


_TO_CONV = str.maketrans(geo.GEOHASH_ALPHABET, "0123456789abcdefghijklmnopqrstuv")


def _code(gh: str, cells: str) -> int:
    """A cell's Morton code: its digits read in base 32 (base 4)."""
    return int(gh.translate(_TO_CONV), 32) if cells == "geohash" else int(gh, 4)


def _morton(cells: str, precision: int):
    """A rectangle predicate's `morton` reading DuckDB's column `m`."""
    return ("m", *geo.cell_morton_sql(cells, precision)[1:])


def _selected(predicate: str, cells, scheme: str) -> set:
    """The `gh` of the (gh, x, y) cells `predicate` keeps, run in DuckDB
    over each cell's Morton code `m`."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t (gh VARCHAR, m BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(gh, _code(gh, scheme)) for gh, _, _ in cells])
    return {r[0] for r in con.execute(f"SELECT gh FROM t WHERE {predicate}").fetchall()}


def _geohash_cells(cover, p):
    """(gh, cx, cy) of every precision-`p` cell under the cover and of its
    one-cell ring (which the predicate must drop)."""
    lon_bits, lat_bits = geo.geohash_axis_bits(p)
    xy = set()
    for c in cover:
        x, y = geo.geohash_to_index(c)
        kx = lon_bits - geo.geohash_axis_bits(len(c))[0]
        ky = lat_bits - geo.geohash_axis_bits(len(c))[1]
        for dx in range(-1, (1 << kx) + 1):
            for dy in range(-1, (1 << ky) + 1):
                X, Y = (x << kx) + dx, (y << ky) + dy
                if 0 <= X < (1 << lon_bits) and 0 <= Y < (1 << lat_bits):
                    xy.add((X, Y))
    return [(geo.geohash_from_index(X, Y, p), X, Y) for X, Y in xy]


@settings(max_examples=200, deadline=None)
@given(box=geohash_boxes(), finer=st.integers(0, 1))
def test_geohash_rect_predicate_selects_exactly_the_cover(box, finer):
    """Decoding the enumerated cover to its axes: the snapshot's
    predicate at view precision p + `finer` keeps exactly the view cells
    under the cover (and none of its ring)."""
    bbox, p = box
    assume(geo.geohash_cover_size(*bbox, p) * 32 ** finer <= 3000)
    cover = geo.geohash_cover_bbox(*bbox, p)
    view = p + finer
    cells = _geohash_cells(cover, view)
    want = {gh for gh, _, _ in cells if gh[:p] in set(cover)}
    predicate = Q.geohash_rect_predicate(*bbox, p, view, _morton("geohash", view))
    assert _selected(predicate, cells, "geohash") == want


@settings(max_examples=200, deadline=None)
@given(box=quadkey_boxes(), finer=st.integers(0, 2))
def test_quadkey_rect_predicate_selects_exactly_the_cover(box, finer):
    bbox, z = box
    assume(geo.quadkey_cover_size(*bbox, z) * 4 ** finer <= 3000)
    cover = set(geo.quadkey_cover_bbox(*bbox, z))
    view, n = z + finer, 1 << (z + finer)
    if not cover:  # south > north or west > east: the loop runs empty
        assert Q.quadkey_rect_predicate(*bbox, z, view) == "false"
        return
    xy = set()
    for c in cover:
        x, y = geo.quadkey_to_tile(c)
        for dx in range(-1, (1 << finer) + 1):
            for dy in range(-1, (1 << finer) + 1):
                xy.add((((x << finer) + dx) % n, ((y << finer) + dy) % n))
    cells = [(geo.tile_to_quadkey(X, Y, view), X, Y) for X, Y in xy]
    want = {qk for qk, _, _ in cells if qk[:z] in cover}
    predicate = Q.quadkey_rect_predicate(*bbox, z, view, _morton("quadkey", view))
    assert _selected(predicate, cells, "quadkey") == want


def _even_bits(v: int) -> int:
    """The even bits of `v`, packed: one axis of a Morton code."""
    out, i = 0, 0
    while v:
        out |= (v & 1) << i
        v >>= 2
        i += 1
    return out


def test_cell_morton_sql_decodes_to_the_pure_axes(spark):
    """`cell_morton_sql` (native SQL) reads random cells of every
    precision as the Morton code whose bits from the x and y offsets up
    are `geohash_to_index` / `quadkey_to_tile`; a string that is no cell
    of the scheme and precision reads as null."""
    import random

    rng = random.Random(11)
    points = [(rng.uniform(-85, 85), rng.uniform(-180, 180)) for _ in range(400)]
    cases = {
        "geohash": (12, [geo.geohash_encode(la, lo, rng.randint(1, 12)) for la, lo in points]
                    + [geo.geohash_encode(90.0, 180.0, 12), geo.geohash_encode(-90.0, -180.0, 1)],
                    geo.geohash_to_index, ["u1a", "u1b0000000000", "UB"]),
        "quadkey": (31, [geo.quadkey(la, lo, rng.randint(1, 31)) for la, lo in points],
                    geo.quadkey_to_tile, ["124", "0" * 32]),
    }
    for cells, (top, valid, decode, invalid) in cases.items():
        df = spark.createDataFrame([(c,) for c in valid + invalid], "gh string")
        # each precision's expression reads only its own length
        codes = ", ".join(geo.cell_morton_sql(cells, p)[0] for p in range(1, top + 1))
        got = {r.gh: r.m for r in df.selectExpr("gh", f"coalesce({codes}) AS m").collect()}
        for c in valid:
            _, x_off, y_off = geo.cell_morton_sql(cells, len(c))
            assert got[c] == _code(c, cells), (cells, c)
            assert (_even_bits(got[c] >> x_off), _even_bits(got[c] >> y_off)) == decode(c)
        assert all(got[c] is None for c in invalid), cells
