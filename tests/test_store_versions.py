"""Version retention + time travel on the ParquetViewStore
(streaming/pipeline.py): opt-in snapshot retention, VERSION-AS-OF
reads, key-level version diffs, and the unchanged default policy."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from explora_kafka_spark.plans.views import view_lattice
from explora_kafka_spark.sources.tables import load_readings
from explora_kafka_spark.streaming import pipeline as P
from tests.conftest import SF_DIR


def _delta(spark, metric=None):
    readings = load_readings(spark, SF_DIR)
    if metric:
        readings = readings.filter(F.col("metric_id") == metric)
    return view_lattice(readings, precisions=(6,), resolutions=("min",))


def test_default_policy_keeps_only_current(spark, tmp_path):
    store = P.ParquetViewStore(str(tmp_path / "store"))
    d = _delta(spark, "view")
    store.merge(spark, d, batch_id=0)
    v0 = store.current_version()
    store.merge(spark, d, batch_id=1)
    assert store.list_versions() == [store.current_version()]
    assert not os.path.isdir(os.path.join(store.path, v0))
    with pytest.raises(ValueError):
        store.read_version(spark, v0)


def test_time_travel_reads_the_old_snapshot(spark, tmp_path):
    store = P.ParquetViewStore(str(tmp_path / "store"), keep_versions=3)
    d = _delta(spark, "view")
    store.merge(spark, d, batch_id=0)
    v0 = store.current_version()
    store.merge(spark, d, batch_id=1)
    v1 = store.current_version()
    assert store.list_versions() == [v0, v1]
    old = {(r.gh, str(r.ts)): r["count"]
           for r in store.read_version(spark, v0).collect()}
    cur = {(r.gh, str(r.ts)): r["count"]
           for r in store.read(spark).collect()}
    assert cur == {k: 2 * v for k, v in old.items()}  # v0 is pre-batch-1
    # retention window GCs the oldest once exceeded
    store.merge(spark, d, batch_id=2)
    store.merge(spark, d, batch_id=3)
    vs = store.list_versions()
    assert len(vs) == 3 and v0 not in vs
    assert not os.path.isdir(os.path.join(store.path, v0))


def test_diff_versions_reports_added_and_changed_keys(spark, tmp_path):
    store = P.ParquetViewStore(str(tmp_path / "store"), keep_versions=3)
    store.merge(spark, _delta(spark, "view"), batch_id=0)
    v0 = store.current_version()
    # batch 1 re-applies `view` (counts change) and adds `click` keys
    store.merge(
        spark,
        _delta(spark, "view").unionByName(_delta(spark, "click")),
        batch_id=1)
    v1 = store.current_version()
    diff = store.diff_versions(spark, v0, v1).collect()
    by_status = {}
    for r in diff:
        by_status.setdefault(r["status"], []).append(r)
    assert set(by_status) == {"added", "changed"}
    assert all(r["metric_id"] == "click" for r in by_status["added"])
    assert all(r["old_count"] is None for r in by_status["added"])
    for r in by_status["changed"]:
        assert r["metric_id"] == "view"
        assert r["new_count"] == 2 * r["old_count"]
