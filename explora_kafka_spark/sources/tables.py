"""Parquet table loaders + the events→readings bronze derivation.

The driver test data (/root/testdata/sf*) has no air-quality table, so the
`events` table stands in for the reference's reading stream (FIXTURES.md §B):
`event_type` → metric_id, a deterministic hash of `user_id` → the sensor's
full-precision cell id (surrogate for the 12-char geohash of
AirQualityReading.geohash — model/AirQualityReading.java:7-15), `ts` → event
time, `value` → value. The mapping is expressible identically in Spark and
ANSI SQL (md5), so every downstream operator is DuckDB-oracle-checkable.

For *real* geo data the same pipeline takes an actual geohash column; the
synthetic cell ids exercise the identical prefix/bucket algebra (the engine
never decodes cell ids on the query path — SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: full precision of the synthetic cell id derived from user_id
CELL_FULL_PRECISION = 12

#: SQL fragment (DuckDB + Spark compatible) deriving readings from events —
#: keep in lockstep with `readings_from_events`.
READINGS_SQL = (
    "SELECT event_id, event_type AS metric_id, "
    "substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS geohash, "
    "ts, value FROM events"
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver's events.parquet stores TIMESTAMP(NANOS) which Spark's reader
    # rejects by default; read nanos as long, then truncate to micros (exactly
    # what DuckDB does, keeping oracle value-parity). NOTE: the conf is
    # session-global and intentionally left set — any nanos-timestamp parquet
    # read in this session comes back as bigint (only events.parquet uses
    # nanos here; scoping save/restore would race with Spark's lazy scans).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # plain timestamp[us] parquet loads as TIMESTAMP_NTZ, which
            # unix_millis/withWatermark reject; the session TZ is pinned UTC
            # (session.py), so casting to TIMESTAMP is value-preserving and
            # keeps DuckDB oracle parity (DuckDB reads it as naive-UTC too).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def readings_from_events(events: DataFrame) -> DataFrame:
    """events → reading stream shape (metric_id, geohash, ts, value).

    Mirrors READINGS_SQL exactly; md5 is identical across Spark and DuckDB so
    oracle queries can re-derive the same cells.
    """
    return events.select(
        F.col("event_id"),
        F.col("event_type").alias("metric_id"),
        F.substring(F.md5(F.col("user_id").cast("string")), 1, CELL_FULL_PRECISION).alias("geohash"),
        F.col("ts"),
        F.col("value"),
    )


def load_readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readings_from_events(load_table(spark, sf_dir, "events"))
