import os

import pytest

from explora_kafka_spark.functions import geo

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from explora_kafka_spark.session import get_spark

    s = get_spark(app_name="explora-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    from explora_kafka_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "events").cache()


@pytest.fixture(scope="session")
def readings(events):
    from explora_kafka_spark.sources.tables import readings_from_events

    return readings_from_events(events).cache()


#: the one instant of `small_lattice`'s views (2024-01-10T00:00:00Z)
SMALL_TS_MS = 1704844800000
#: (N, W, S, E) boxes `small_lattice` has cells in: a city in geohash
#: cells, a strip too long and thin for its cover to compress (so it
#: takes the broadcast path), and a region in zoom-6 quad tiles
SMALL_BBOXES = {
    "city": (51.31, 4.30, 51.17, 4.50),
    "strip": (51.2005, -30.0, 51.1995, 30.0),
    "quad": (60.0, -10.0, 40.0, 20.0),
}


#: the p6 cells `small_lattice` holds, per SMALL_BBOXES box
SMALL_CELLS = {
    "city": geo.geohash_cover_bbox(*SMALL_BBOXES["city"], 6)[::9],
    "strip": geo.geohash_cover_bbox(*SMALL_BBOXES["strip"], 6)[::97],
    "quad": geo.quadkey_cover_bbox(*SMALL_BBOXES["quad"], 6),
}


@pytest.fixture(scope="session")
def small_lattice(spark):
    """`make(scale)`: a p6 lattice of the SMALL_CELLS at SMALL_TS_MS,
    `min` and `hour` views of metric "m"; `scale` multiplies every sum,
    min and max."""
    import datetime as dt

    ts = dt.datetime.fromtimestamp(SMALL_TS_MS / 1000, tz=dt.timezone.utc)
    cells = [c for box in SMALL_CELLS.values() for c in box]

    def make(scale: float = 1.0):
        rows = []
        for i, cell in enumerate(cells):
            count, total = 1 + i % 3, scale * (i + 1.5)
            for res in ("min", "hour"):
                rows.append(("m", 6, res, cell, ts, count, total,
                             total / count, total / count, total))
        return spark.createDataFrame(
            rows, "metric_id string, precision int, res string, gh string, "
                  "ts timestamp, count long, sum double, avg double, "
                  "min double, max double")

    return make
