"""SparkSession factory with engine defaults.

All engine semantics are pinned to UTC (SURVEY.md §1.3: the reference truncates
timestamps in the JVM's system zone — a DST bug we deliberately fix by doing all
truncation in UTC).
"""

from __future__ import annotations

import os
import warnings

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "explora-kafka-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults target the driver harness (local[N]); on a real cluster the same
    configs apply, only master/shuffle sizing change. AQE is on so skewed cell
    keys and over-partitioned shuffles get re-planned at runtime.

    PySpark's DataFrame-debugging call-site capture is off: with it on,
    every Column function walks the Python stack and makes extra py4j
    round trips (active session, a conf read, origin set/clear), about
    two thirds of a served plan's calls. The only loss is the Python
    call-site section of an AnalysisException's text. It is a static
    conf, fixed when the SparkContext starts, so only a session this
    factory creates gets it. `__spark_entry__.py` cannot set it: its
    `entry(spark)` and `queries()` are handed a session the caller has
    already started, a running session takes only runtime confs (see
    `configure`), and one process holds one SparkContext. There the
    capture stays on, which costs plan-building py4j calls per registry
    query, small next to the query's runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    # Ensure UTC even when reusing a session created elsewhere (driver harness).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an externally created session.

    UTC is the one hard requirement. A tuning conf the deployment does not
    let a session modify (pyspark's `AnalysisException`) is skipped with a
    warning naming it; any other error propagates. Static confs cannot be
    set here, so `get_spark`'s `spark.python.sql.dataFrameDebugging.enabled`
    is not among them: on a running session it would only warn."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tuning = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    # right-size shuffles for a session left at Spark's stock default
    # (the driver harness creates a bare local[N] session): 200-part
    # shuffles on a small box waste more in task launch than they
    # parallelize. Only touch the exact stock value — a deliberately
    # configured session (any other setting) is left alone; on a real
    # cluster the operator sizes this to the data, not the driver.
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        par = spark.sparkContext.defaultParallelism
        tuning["spark.sql.shuffle.partitions"] = str(max(par * 2, 8))
    for key, value in tuning.items():
        try:
            spark.conf.set(key, value)
        except AnalysisException as exc:
            warnings.warn(f"cannot set {key}: {exc}", stacklevel=2)
    return spark
