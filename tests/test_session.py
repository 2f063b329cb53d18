"""`session.configure` on sessions whose runtime conf refuses a change."""

from __future__ import annotations

import types

import pytest
from pyspark.errors import AnalysisException

from explora_kafka_spark.session import configure


class _Conf:
    def __init__(self, refuse: str, error: Exception):
        self.values = {"spark.sql.shuffle.partitions": "200"}
        self.refuse, self.error = refuse, error

    def get(self, key):
        return self.values[key]

    def set(self, key, value):
        if key == self.refuse:
            raise self.error
        self.values[key] = value


def _session(refuse: str, error: Exception):
    return types.SimpleNamespace(
        conf=_Conf(refuse, error),
        sparkContext=types.SimpleNamespace(defaultParallelism=4))


def test_configure_warns_on_a_conf_it_cannot_modify():
    spark = _session("spark.sql.adaptive.skewJoin.enabled",
                     AnalysisException("CANNOT_MODIFY_CONFIG"))
    with pytest.warns(UserWarning, match="spark.sql.adaptive.skewJoin.enabled"):
        assert configure(spark) is spark
    # the other confs are still applied
    assert spark.conf.values["spark.sql.session.timeZone"] == "UTC"
    assert spark.conf.values["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert spark.conf.values["spark.sql.shuffle.partitions"] == "8"


def test_configure_propagates_other_errors():
    spark = _session("spark.sql.adaptive.enabled", RuntimeError("gateway down"))
    with pytest.raises(RuntimeError, match="gateway down"):
        configure(spark)
