"""View lattice + query algebra tests: lattice-vs-direct equivalence (the A2
merge algebra), incremental update, and history/snapshot vs DuckDB oracles."""

import gc
import re
import threading

import duckdb
import pytest
from pyspark.sql import functions as F

from explora_kafka_spark.functions import geo
from explora_kafka_spark.functions.timeutil import (
    interval_to_range,
    truncate_ts_ms,
    format_ts_ms,
    parse_key_ts,
)
from explora_kafka_spark.plans import query as Q
from explora_kafka_spark.plans import views as V
from tests.conftest import SMALL_BBOXES, SMALL_CELLS, SMALL_TS_MS


@pytest.fixture(scope="module")
def lattice(readings):
    return V.view_lattice(readings, precisions=(6, 7)).cache()


def _duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    con.execute(
        "CREATE VIEW readings AS SELECT event_id, event_type AS metric_id, "
        "substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS geohash, ts, value FROM events"
    )
    return con


def test_lattice_equals_direct_groupby(readings, lattice):
    """Every (precision, res) slice of the lattice must equal the direct
    groupBy from raw readings — validates the fold algebra (A2/A6)."""
    for p in (6, 7):
        for res in ("min", "hour", "day", "month"):
            direct = (
                readings.select(
                    "metric_id",
                    F.substring("geohash", 1, p).alias("gh"),
                    F.date_trunc(
                        {"min": "minute", "hour": "hour", "day": "day", "month": "month"}[res],
                        "ts",
                    ).alias("ts"),
                    "value",
                )
                .groupBy("metric_id", "gh", "ts")
                .agg(F.count("*").alias("count"), F.sum("value").alias("sum"))
            )
            slice_ = lattice.filter((F.col("precision") == p) & (F.col("res") == res)).select(
                "metric_id", "gh", "ts", "count", "sum"
            )
            d = {tuple(r[:3]): (r[3], round(r[4], 6)) for r in direct.collect()}
            s = {tuple(r[:3]): (r[3], round(r[4], 6)) for r in slice_.collect()}
            assert d == s, f"lattice mismatch at precision={p} res={res}"


LATTICE_KEY = ("metric_id", "precision", "res", "gh", "ts")


def test_build_views_equals_duckdb_groupby(sf_dir, readings, tmp_path):
    """Every (precision, res) view `build_views` stores is a DuckDB
    GROUP BY of the raw readings: the same keys, count/min/max exactly,
    sum and avg to 1e-12 relative (the fold adds partials in another
    order than one pass over the raw values)."""
    path = str(tmp_path / "views")
    V.build_views(readings, path, precisions=(7, 6))
    con = _duck(sf_dir)
    direct = " UNION ALL ".join(
        f"SELECT metric_id, {p} AS precision, '{res}' AS res,"
        f" substr(geohash, 1, {p}) AS gh, date_trunc('{unit}', ts) AS ts,"
        " count(*) AS count, sum(value) AS sum, sum(value) / count(*) AS avg,"
        " min(value) AS min, max(value) AS max FROM readings GROUP BY ALL"
        for p in (7, 6)
        for res, unit in (("min", "minute"), ("hour", "hour"),
                          ("day", "day"), ("month", "month")))
    key = ", ".join(LATTICE_KEY)
    rows, bad_keys, bad_exact, bad_float = con.execute(f"""
        WITH want AS ({direct}),
             got AS (SELECT * FROM read_parquet('{path}/**/*.parquet',
                                                hive_partitioning = true))
        SELECT count(*),
               count(*) FILTER (w.count IS NULL OR g.count IS NULL),
               count(*) FILTER (w.count <> g.count OR w.min <> g.min
                                OR w.max <> g.max),
               count(*) FILTER (abs(w.sum - g.sum) > 1e-12 * abs(w.sum)
                                OR abs(w.avg - g.avg) > 1e-12 * abs(w.avg))
        FROM want w FULL OUTER JOIN got g USING ({key})""").fetchone()
    assert rows > 0
    assert (bad_keys, bad_exact, bad_float) == (0, 0, 0)


def test_build_views_runs_few_jobs_and_persists_nothing(spark, readings, tmp_path):
    """The build is two aggregations and a range-partitioned write: at
    most five jobs, and no cached level is left behind."""
    sc = spark.sparkContext
    persisted = len(sc._jsc.getPersistentRDDs())
    sc.setJobGroup("build_views_jobs", "build_views")
    try:
        V.build_views(readings, str(tmp_path / "views"), precisions=(7, 6))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(sc.statusTracker().getJobIdsForGroup("build_views_jobs")) <= 5
    assert len(sc._jsc.getPersistentRDDs()) == persisted


def test_avg_is_sum_over_count(lattice):
    bad = lattice.filter(F.abs(F.col("avg") - F.col("sum") / F.col("count")) > 1e-9).count()
    assert bad == 0


def test_incremental_update_equals_full_build(readings):
    """Splitting the stream in two and merging batch views == one-shot build
    (parity with the per-record incremental aggregator IngestStream.java:84-92)."""
    first = readings.filter(F.col("event_id") % 2 == 0)
    second = readings.filter(F.col("event_id") % 2 == 1)
    merged = V.incremental_update(
        V.view_lattice(first, precisions=(6,)), V.view_lattice(second, precisions=(6,))
    )
    full = V.view_lattice(readings, precisions=(6,))
    m = {tuple(r[:5]): (r[5], round(r[6], 6)) for r in
         merged.select("metric_id", "precision", "res", "gh", "ts", "count", "sum").collect()}
    f = {tuple(r[:5]): (r[5], round(r[6], 6)) for r in
         full.select("metric_id", "precision", "res", "gh", "ts", "count", "sum").collect()}
    assert m == f


def test_history_matches_oracle(lattice, sf_dir):
    con = _duck(sf_dir)
    got = {
        r.timestamp: round(r.avg, 6)
        for r in Q.history(
            lattice, "view", "avg", 6, "hour",
            from_ms=1704412800000,  # 2024-01-05
            to_ms=1705708800000,    # 2024-01-20
        ).collect()
    }
    want = {
        r[0]: round(r[1], 6)
        for r in con.execute(
            """
            SELECT epoch_ms(date_trunc('hour', ts)) AS t, sum(value)/count(*) AS a
            FROM readings WHERE metric_id = 'view'
              AND epoch_ms(date_trunc('hour', ts)) BETWEEN 1704412800000 AND 1705708800000
            GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_history_cell_filter(lattice, readings):
    cells = [r.gh for r in
             lattice.filter((F.col("precision") == 6) & (F.col("res") == "day"))
             .select("gh").distinct().limit(3).collect()]
    out = Q.history(lattice, "click", "count", 6, "day", cells=cells).collect()
    direct = (
        readings.filter((F.col("metric_id") == "click")
                        & F.substring("geohash", 1, 6).isin(cells))
        .groupBy(F.date_trunc("day", "ts").alias("ts"))
        .count()
    )
    want = {int(r.ts.timestamp() * 1000): r["count"] for r in direct.collect()}
    got = {r.timestamp: r["count"] for r in out}
    assert got == want and len(got) > 0


def test_snapshot_matches_oracle(lattice, sf_dir):
    con = _duck(sf_dir)
    ts = 1704844800000  # 2024-01-10 00:00 UTC, day grain
    got = {r.gh: round(r.sum, 6) for r in
           Q.snapshot(lattice, "purchase", "sum", 6, "day", ts).collect()}
    want = {r[0]: round(r[1], 6) for r in con.execute(
        """
        SELECT substr(geohash, 1, 6) AS gh, sum(value) AS s
        FROM readings WHERE metric_id = 'purchase'
          AND date_trunc('day', ts) = TIMESTAMP '2024-01-10'
        GROUP BY 1
        """
    ).fetchall()}
    assert got == want and len(got) > 0


def test_snapshot_truncates_instant(lattice):
    """L4: a mid-bucket instant must hit the containing bucket."""
    exact = Q.snapshot(lattice, "purchase", "count", 6, "day", 1704844800000).collect()
    mid = Q.snapshot(lattice, "purchase", "count", 6, "day", 1704844800000 + 7 * 3600 * 1000 + 123).collect()
    assert {(r.gh, r["count"]) for r in exact} == {(r.gh, r["count"]) for r in mid}
    assert len(exact) > 0


def test_snapshot_prefix_equals_children_isin(lattice):
    """startswith(prefix) ≡ the reference's base-32 children enumeration (Q3)."""
    pfx = "c"
    by_prefix = Q.snapshot(lattice, "view", "avg", 6, "day", 1704844800000, cell_prefix=pfx)
    cells = [r.gh for r in
             lattice.filter((F.col("precision") == 6) & F.col("gh").startswith(pfx))
             .select("gh").distinct().collect()]
    by_isin = Q.snapshot(lattice, "view", "avg", 6, "day", 1704844800000, cells=cells)
    a = {(r.gh, round(r.avg, 9)) for r in by_prefix.collect()}
    b = {(r.gh, round(r.avg, 9)) for r in by_isin.collect()}
    assert a == b and len(a) > 0


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_cover_limit_boundary_keeps_rows(lattice):
    """4,096 cells ship as one IN expression, 4,097 as a broadcast
    semi-join; both return the same rows. The padding cells are not hex,
    so they never match an md5-derived cell."""
    def snap(cells=None):
        return Q.snapshot(lattice, "view", "count", 6, "day", 1704844800000,
                          cells=cells)

    real = [r.gh for r in snap().collect()[:100]]
    pad = [f"z{i:05d}" for i in range(4097)]
    at, above = (snap((real + pad)[:n]) for n in (4096, 4097))
    assert "Join" not in _plan(at)
    assert "BroadcastHashJoin" in _plan(above) and "LeftSemi" in _plan(above)
    rows = at.collect()
    assert rows == above.collect() and len(rows) > 0


def test_snapshot_plan_cost_does_not_grow_with_the_cover(lattice, monkeypatch):
    """Building a snapshot plan takes about as many py4j round trips for
    the 532-cell Antwerp cover (p6) as for a one-cell cover: the cover
    reaches the JVM as one SQL predicate, not as one call chain per cell."""
    import py4j.java_gateway as gw

    sent = []
    send = gw.GatewayClient.send_command
    me = threading.get_ident()

    def counted(client, command, *a, **kw):
        # only this thread's commands are the plan's: py4j's
        # FinalizerWorker thread sends the object releases ("m" "d") of
        # earlier garbage whenever it wakes (once a second)
        if threading.get_ident() == me:
            sent.append(1)
        return send(client, command, *a, **kw)

    monkeypatch.setattr(gw.GatewayClient, "send_command", counted)

    def calls(bbox):
        gc.collect()  # free earlier tests' garbage before counting
        before = len(sent)
        Q.snapshot_bbox_geohashing(lattice, "view", "avg", 6, "min",
                                   1704844800000, *bbox)
        return len(sent) - before

    one_cell = (51.2001, 4.4, 51.2, 4.4001)
    antwerp = (51.311646, 4.306641, 51.168823, 4.504395)
    assert len(geo.geohash_cover_bbox(*one_cell, 6)) == 1
    assert len(geo.geohash_cover_bbox(*antwerp, 6)) > 500
    calls(one_cell)  # first build warms lazily fetched JVM handles
    assert calls(antwerp) <= calls(one_cell) + 5


@pytest.fixture(scope="module")
def spread_lattice(spark, small_lattice, tmp_path_factory):
    """`small_lattice` over ten minutes, written as 8 parquet files, so
    every slice spans several files and input partitions."""
    from functools import reduce

    from pyspark.sql import DataFrame

    base = small_lattice()
    minutes = [base.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {k} MINUTES"))
               for k in range(10)]
    path = str(tmp_path_factory.mktemp("spread") / "lattice")
    reduce(DataFrame.unionByName, minutes).repartition(8).write.parquet(path)
    return spark.read.parquet(path)


TAIL_ROUTES = {
    "history": lambda lat: Q.history(
        lat, "m", "sum", 6, "min", cells=SMALL_CELLS["city"]),
    "snapshot_in": lambda lat: Q.snapshot_bbox_geohashing(
        lat, "m", "avg", 6, "min", SMALL_TS_MS + 120_000, *SMALL_BBOXES["city"]),
    "snapshot_strip": lambda lat: Q.snapshot_bbox_geohashing(
        lat, "m", "count", 6, "min", SMALL_TS_MS, *SMALL_BBOXES["strip"]),
}


def _cover_snapshot(lattice, aggregate, res, ts_ms, bbox, cells, precision=6):
    """A bbox snapshot through its enumerated cover at the adaptive
    precision (IN list, or broadcast semi-join above
    COMPRESSED_COVER_LIMIT prefixes): the route's plan before it
    filtered the cover's index rectangle."""
    if cells == "quadkey":
        z = Q.adaptive_cover_zoom(*bbox, precision)
        cover, alphabet = geo.quadkey_cover_bbox(*bbox, z), geo.QUAD_ALPHABET
    else:
        p = Q.adaptive_cover_precision(*bbox, precision)
        cover, alphabet = geo.geohash_cover_bbox(*bbox, p), geo.GEOHASH_ALPHABET
    return Q._snapshot(lattice, "m", aggregate, precision, res, ts_ms, cover,
                       alphabet=alphabet)


COVER_ROUTES = {
    "snapshot_in": lambda lat: _cover_snapshot(
        lat, "avg", "min", SMALL_TS_MS + 120_000, SMALL_BBOXES["city"], "geohash"),
    "snapshot_strip": lambda lat: _cover_snapshot(
        lat, "count", "min", SMALL_TS_MS, SMALL_BBOXES["strip"], "geohash"),
}


@pytest.fixture
def uncoalesced_shuffles(spark):
    """AQE keeps every shuffle partition, so a tiny result still spans
    several partitions."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, before)


@pytest.mark.parametrize("route", TAIL_ROUTES)
def test_served_result_takes_one_shuffle(spread_lattice, uncoalesced_shuffles,
                                         monkeypatch, route):
    """A served route sorts its result in one partition: no range
    partitioning, at most one hash exchange, and the rows and order of
    the same aggregate under a global `orderBy(key)`."""
    files = (spread_lattice.filter(F.col("res") == "min")
             .select(F.input_file_name()).distinct().count())
    assert files >= 4
    df = TAIL_ROUTES[route](spread_lattice)
    rows = df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]  # AQE's final plan
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Join" not in plan
    monkeypatch.setattr(Q, "_sorted", lambda d, key: d.orderBy(key))
    assert len(rows) > 1 and rows == TAIL_ROUTES[route](spread_lattice).collect()


def _jobs_and_stages(sc, group):
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    return len(jobs), sum(len(st.getJobInfo(j).stageIds) for j in jobs)


@pytest.mark.parametrize("route", ["snapshot_in", "snapshot_strip"])
def test_snapshot_tail_merges_nothing(spark, spread_lattice, monkeypatch,
                                      route):
    """A snapshot slice holds one row per cell, so the tail serves it as
    it is: a bbox snapshot, the city's or the strip's whose 5,462-cell
    cover once took a broadcast join, plans no exchange and no aggregate
    and runs one job of one stage. Rows and order equal the enumerated
    cover's under the per-cell group-by form the tail had before."""
    sc = spark.sparkContext
    group = f"snapshot-tail-{route}"
    sc.setJobGroup(group, group)
    try:
        df = TAIL_ROUTES[route](spread_lattice)
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "HashAggregate" not in plan
    assert re.findall(r"\w*Exchange\b", plan) == []
    assert _jobs_and_stages(sc, group) == (1, 1)
    cells = Q._filter_cells
    monkeypatch.setattr(Q, "_filter_cells", lambda *a: cells(*a).groupBy(
        "gh").agg(*Q._merge_cols()))
    assert len(rows) > 1 and rows == COVER_ROUTES[route](spread_lattice).collect()


RECT_CASES = [("geohash", box) for box in ("city", "strip")] + [("quadkey", "quad")]


@pytest.mark.parametrize("cells,box", RECT_CASES)
def test_bbox_snapshot_filters_the_cover_rectangle(spark, small_lattice,
                                                   cells, box):
    """A bbox snapshot filters its cover's index rectangle on the axes it
    reads from each row's `gh`: the rows and order equal the enumerated
    cover's."""
    lattice = small_lattice()
    route = (Q.snapshot_bbox_quadtiling if cells == "quadkey"
             else Q.snapshot_bbox_geohashing)
    df = route(lattice, "m", "avg", 6, "min", SMALL_TS_MS, *SMALL_BBOXES[box])
    rows = df.collect()
    assert set(SMALL_CELLS[box]) <= {r.gh for r in rows}
    assert rows == _cover_snapshot(lattice, "avg", "min", SMALL_TS_MS,
                                   SMALL_BBOXES[box], cells).collect()


@pytest.mark.parametrize("cells,box", RECT_CASES)
def test_bbox_rectangle_reaches_the_parquet_scan(spark, small_lattice,
                                                 tmp_path, cells, box):
    """Written to parquet, the rectangle's `gh` Morton range reaches the
    scan's PushedFilters, and the plan has no exchange and no join."""
    path = str(tmp_path / "lattice")
    small_lattice().write.partitionBy("metric_id", "precision", "res").parquet(path)
    lattice = spark.read.parquet(path)
    route = (Q.snapshot_bbox_quadtiling if cells == "quadkey"
             else Q.snapshot_bbox_geohashing)
    df = route(lattice, "m", "count", 6, "min", SMALL_TS_MS, *SMALL_BBOXES[box])
    # print the scan's whole filter list, not its first 100 characters
    key = "spark.sql.maxMetadataStringLength"
    before = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        plan = _plan(df)
    finally:
        spark.conf.set(key, before)
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "GreaterThanOrEqual(gh," in pushed and "LessThanOrEqual(gh," in pushed
    assert "Exchange" not in plan and "Join" not in plan
    assert set(SMALL_CELLS[box]) <= {r.gh for r in df.collect()}


def test_interval_arithmetic():
    # 2024-01-29T12:34:56.789Z
    now = 1706531696789
    assert interval_to_range(now, "5min") == (now - 5 * 60_000, now)
    assert interval_to_range(now, "1hour") == (now - 3_600_000, now)
    assert interval_to_range(now, "1day") == (now - 86_400_000, now)
    assert interval_to_range(now, "1week") == (now - 7 * 86_400_000, now)
    # 1 month back from Jan 29 = Dec 29 (calendar month, Calendar.add parity)
    f, t = interval_to_range(now, "1month")
    assert t == now and f == now - 31 * 86_400_000
    # unknown interval falls back to 5min (QueryingController.java:306-307)
    assert interval_to_range(now, "bogus") == (now - 300_000, now)


def test_ts_truncation_scalar():
    ts = 1706531696789  # 2024-01-29T12:34:56.789Z
    assert truncate_ts_ms(ts, "min") == 1706531640000
    assert truncate_ts_ms(ts, "hour") == 1706529600000
    assert truncate_ts_ms(ts, "day") == 1706486400000
    assert truncate_ts_ms(ts, "month") == 1704067200000
    assert truncate_ts_ms(ts, "year") == 1704067200000
    assert truncate_ts_ms(ts, "raw") == ts


def test_composite_key_roundtrip():
    ts = 1706531696789
    s = format_ts_ms(ts)
    assert s == "20240129:123456:789"
    assert parse_key_ts(s) == ts


def test_snapshot_regions_matches_per_polygon_sums(spark):
    """The multi-region rollup's r1 row equals the single-polygon
    snapshot (same geofence) summed over its cells — one broadcast
    pass ≡ N per-region queries."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.01"  # sf0.001's snapshot day misses r1
    regions = {r["region_id"]: r["count"]
               for r in E.queries()["snapshot_regions_quad"](
                   spark, sf).collect()}
    single = sum(r["count"] for r in
                 E.queries()["snapshot_polygon_quad"](spark, sf)
                 .collect())
    assert regions.get("r1", 0) == single
    assert set(regions) <= {"r1", "r2", "r3"}
    assert regions["r1"] > 0


def test_snapshot_nearest_is_the_exhaustive_ranking(spark):
    """The 5 returned cells are exactly the 5 nearest NON-EMPTY cells
    (by the same exact per-cell distance) among all cells with data on
    the snapshot day — checked against a raw exhaustive rebuild."""
    import __spark_entry__ as E
    from explora_kafka_spark.functions import geo

    sf = "/root/testdata/sf0.01"
    got = [(r["gh"], r["dist_m"], r["count"]) for r in
           E.queries()["snapshot_nearest_quad"](spark, sf).collect()]
    assert [d for _, d, _ in got] == sorted(d for _, d, _ in got)
    raw = (E._geo_readings(spark, sf, "quad", 6)
           .filter((F.col("metric_id") == "view")
                   & (F.date_trunc("day", F.col("ts").cast("timestamp"))
                      == "2024-01-10"))
           .groupBy("geohash").count().collect())
    ranked = sorted(
        ((round(geo.bbox_min_dist_m(
            geo.quadkey_decode_bbox(r["geohash"]), -10.0, -20.0), 6),
          r["geohash"], r["count"]) for r in raw
         if geo.bbox_min_dist_m(
             geo.quadkey_decode_bbox(r["geohash"]), -10.0, -20.0)
         <= 4_000_000.0))
    assert got == [(g, d, c) for d, g, c in ranked[:5]]
