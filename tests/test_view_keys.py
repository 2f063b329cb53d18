"""The view store's key-uniqueness invariant: every writer leaves exactly
one row per (metric_id, precision, res, gh, ts). The snapshot tail
(`plans/query.py::_snapshot`) serves a slice's rows without re-merging
them, so a writer that repeated a key would answer two rows for one
cell."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from explora_kafka_spark.plans import views as V
from explora_kafka_spark.sources.tables import load_readings
from explora_kafka_spark.streaming import pipeline as P
from tests.conftest import SF_DIR

KEY = ("metric_id", "precision", "res", "gh", "ts")
LATTICE = dict(precisions=(7, 6), resolutions=("min", "hour"))


def _unique_rows(df) -> int:
    """Row count of `df`, asserted non-zero and equal to its distinct
    view keys."""
    rows = df.count()
    assert rows > 0
    assert df.select(*KEY).distinct().count() == rows
    return rows


def _counts(df) -> dict:
    return {tuple(r[:5]): r[5] for r in df.select(*KEY, "count").collect()}


@pytest.fixture(scope="module")
def halves(spark):
    """Two batches with overlapping view keys: the even and the odd
    events share cells and hours."""
    readings = load_readings(spark, SF_DIR)
    return (readings.filter(F.col("event_id") % 2 == 0),
            readings.filter(F.col("event_id") % 2 == 1))


def _delta(batch):
    return V.view_lattice(batch, **LATTICE)


def _legacy_store(path, lattice) -> P.ParquetViewStore:
    """A store in the flat layout that predates the `ts_m` partitions."""
    lattice.write.parquet(os.path.join(path, "v_legacy"))
    with open(os.path.join(path, "_CURRENT"), "w") as f:
        f.write("v_legacy\n0")
    return P.ParquetViewStore(path)


def test_build_views_writes_unique_keys(spark, halves, tmp_path):
    path = str(tmp_path / "views")
    V.build_views(halves[0].unionByName(halves[1]), path, **LATTICE)
    _unique_rows(spark.read.parquet(path))


def test_merge_writes_unique_keys(spark, halves, tmp_path):
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, _delta(halves[0]), batch_id=0)
    first = _unique_rows(store.read(spark))
    delta = _delta(halves[1])
    assert store.merge(spark, delta, batch_id=1)
    # the incremental merge folded keys both batches hold
    assert _unique_rows(store.read(spark)) < first + delta.count()


def test_merge_first_version_folds_a_repeated_key(spark, halves, tmp_path):
    """A delta that holds a key twice lands on an empty store as one row
    with both rows' counts, as it would on a non-empty one."""
    delta = _delta(halves[0])
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, delta.unionByName(delta), batch_id=0)
    got = store.read(spark)
    _unique_rows(got)
    assert _counts(got) == {k: 2 * c for k, c in _counts(delta).items()}


def test_merge_readings_writes_unique_keys(spark, halves, tmp_path):
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge_readings(spark, halves[0], batch_id=0, **LATTICE)
    first = _unique_rows(store.read(spark))
    assert store.merge_readings(spark, halves[1], batch_id=1, **LATTICE)
    assert _unique_rows(store.read(spark)) < first + _delta(halves[1]).count()


@pytest.mark.parametrize("writer", ["merge", "merge_readings"])
def test_legacy_store_migration_writes_unique_keys(spark, halves, tmp_path,
                                                   writer):
    store = _legacy_store(str(tmp_path / "store"), _delta(halves[0]))
    if writer == "merge":
        assert store.merge(spark, _delta(halves[1]), batch_id=1)
    else:
        assert store.merge_readings(spark, halves[1], batch_id=1, **LATTICE)
    assert "ts_m" in store._read_raw(spark).columns  # migrated
    _unique_rows(store.read(spark))


def test_compact_and_expire_keep_unique_keys(spark, halves, tmp_path):
    """Both maintenance writers, over a store of two months."""
    later = halves[1].withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 MONTH"))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge_readings(spark, halves[0], batch_id=0, **LATTICE)
    assert store.merge_readings(spark, later, batch_id=1, **LATTICE)
    before = _unique_rows(store.read(spark))
    P.compact_store(spark, store)
    assert _unique_rows(store.read(spark)) == before
    assert P.expire_store(store, 202402) > 0
    assert 0 < _unique_rows(store.read(spark)) < before
