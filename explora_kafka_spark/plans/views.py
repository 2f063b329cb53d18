"""Materialized view lattice: count/sum/avg/min/max per (metric, cell, time bucket).

min/max extend the reference's (count, sum, avg) aggregate set (scoped at
AppConfig.java:10) — they share the same decomposable merge algebra, so a
fold of partial aggregates stays exact.

The reference maintains one RocksDB store per metric × precision × {min, hour,
day, month} via M·P·4 independent Kafka Streams subtopologies, each re-reading
the stream (IngestStream.java:302-394; aggregator :84-92). Because count/sum
are decomposable (merge algebra util/Aggregator.java:19-32), this engine builds
the whole lattice in TWO aggregations, the same fold the streaming MERGE runs
(`lattice_partials` → `aggregate_partials`):

    readings ──groupBy(metric, cell@maxP, finest grain)──► base
    base     ──inline(P·R coordinates) → groupBy(metric, precision, res,
               cell, bucket)──► lattice

Each raw row is shuffled once (the base). The fold maps each base row to
its P·R (precision, res) coordinates (`lattice_coords`: cell prefix,
date_trunc) and aggregates them all in one shuffle of base-sized rows, so
no view derives from another and nothing is persisted. The batch build
does not fold the raw rows directly: on single-file input that sends P·R
times the raw rows through one map task.

`avg` is always derived sum/count *after* the final merge (never an average of
averages — SURVEY.md §7 "hard parts").

**Key-uniqueness invariant**: a stored lattice holds exactly ONE row per
(metric_id, precision, res, gh, ts). Every writer ends in an aggregate on
that key (`view_lattice`'s fold, and `aggregate_partials` and
`incremental_update` in the store merges, the first version included),
or moves whole files without touching rows (`compact_store` rewrites them,
`expire_store` drops month partitions). The snapshot tail in plans/query.py
relies on it: it serves a slice's rows as they are, without re-merging them,
so a writer that broke it would answer two rows for one cell
(tests/test_view_keys.py checks every writer).

At 100 TB: the base aggregation is the only shuffle proportional to raw data;
its key space (metric × cell × minute) is bounded and well-distributed (cells
are hash-like strings). The fold shuffles only aggregated rows. Materialized
tables are partitioned by (metric_id, precision, res) — the query layer's
view-selection columns (L1) — and sorted by (gh, ts) within partitions so the
parquet scan prunes to one view and min/max-skips to the requested cells. A
bbox snapshot skips to the `gh` range between its rectangle's Morton corners
(`gh` order is Morton order) and reads each row's cell axes from its `gh`, so
the store needs no axis column (plans/query.py `_snapshot_rect`).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.timeutil import VIEW_RESOLUTIONS, truncate_ts_col

#: dev-default geohash precisions (AppConfig.java:13, Dockerfile:26-27)
DEFAULT_PRECISIONS = (6, 7)


def _agg_cols():
    return [
        F.sum("count").alias("count"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    ]


def _with_avg(df: DataFrame) -> DataFrame:
    return df.withColumn("avg", F.col("sum") / F.col("count"))


def base_view(readings: DataFrame, precision: int, res: str = "min") -> DataFrame:
    """Finest-grain aggregation straight from readings (the only raw-data shuffle).

    Output: metric_id, gh, ts(timestamp), count, sum, min, max.
    """
    return (
        readings.select(
            "metric_id",
            F.substring("geohash", 1, precision).alias("gh"),
            truncate_ts_col("ts", res).alias("ts"),
            "value",
        )
        .groupBy("metric_id", "gh", "ts")
        .agg(
            F.count("*").alias("count"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
    )


def build_views(
    readings: DataFrame,
    path: str,
    precisions: Sequence[int] = DEFAULT_PRECISIONS,
    resolutions: Iterable[str] = VIEW_RESOLUTIONS,
) -> None:
    """Build + materialize the lattice: `view_lattice`'s two
    aggregations, written by `materialize_views`. Nothing is persisted,
    so nothing is left cached when the write returns."""
    materialize_views(
        view_lattice(readings, precisions=precisions, resolutions=resolutions),
        path)


def view_lattice(
    readings: DataFrame,
    precisions: Sequence[int] = DEFAULT_PRECISIONS,
    resolutions: Iterable[str] = VIEW_RESOLUTIONS,
) -> DataFrame:
    """The full multi-resolution lattice as one DataFrame.

    Output: metric_id, precision(int), res(string), gh, ts(timestamp),
    count(long), sum(double), avg(double), min(double), max(double).
    Replaces the reference's M·P·4 stores (IngestStream.java:372-394)
    with two aggregations: `base_view` at the finest precision and grain
    (the only shuffle of raw rows), then one `aggregate_partials` over
    every base row's P·R lattice coordinates (`lattice_coords`). Each
    (precision, res) view is one group of the second aggregation, so no
    level derives from another and nothing is persisted."""
    precisions, resolutions = lattice_axes(precisions, resolutions)
    base = base_view(readings, precisions[0], resolutions[0])
    return aggregate_partials(base.select(
        "metric_id",
        F.inline(lattice_coords("gh", "ts", precisions, resolutions)),
        "count", "sum", "min", "max",
    )).select("metric_id", "precision", "res", "gh", "ts",
              "count", "sum", "avg", "min", "max")


def lattice_axes(
    precisions: Sequence[int], resolutions: Iterable[str]
) -> tuple[list[int], list[str]]:
    """Precisions finest first, resolutions in grain order (finest first)."""
    return (sorted(precisions, reverse=True),
            [r for r in VIEW_RESOLUTIONS if r in set(resolutions)])


def lattice_coords(gh: str, ts: str, precisions: Sequence[int],
                   resolutions: Sequence[str]) -> Column:
    """The array of a row's P·R lattice coordinate structs (precision,
    res, gh, ts): its cell `gh` cut to every precision, its `ts`
    truncated to every resolution. `inline` over it maps one row to its
    place in every view, with no shuffle. `gh` must be at least as fine
    as the finest precision and `ts` at least as fine as the finest
    resolution."""
    return F.array(*[
        F.struct(
            F.lit(p).cast("int").alias("precision"),
            F.lit(res).alias("res"),
            F.substring(gh, 1, p).alias("gh"),
            truncate_ts_col(ts, res).alias("ts"),
        )
        for p in precisions
        for res in resolutions
    ])


def lattice_partials(
    readings: DataFrame,
    precisions: Sequence[int] = DEFAULT_PRECISIONS,
    resolutions: Iterable[str] = VIEW_RESOLUTIONS,
) -> DataFrame:
    """Cell-partial form of the lattice: one row per reading × lattice
    coordinate (precision × resolution), carrying the single-row partial
    aggregate (count=1, sum=min=max=value). Built with ONE scan of the
    readings — `inline` over `lattice_coords` — so no branch of the
    lattice re-reads the source. Zero shuffles; `aggregate_partials` (or
    any A2-algebra merge) folds it to the `view_lattice` rows, which is
    what lets the streaming MERGE aggregate batch + store in one pass
    instead of materializing a delta lattice first (optimization guide
    §2.3/§2.4)."""
    precisions, resolutions = lattice_axes(precisions, resolutions)
    return readings.select(
        "metric_id",
        F.inline(lattice_coords("geohash", "ts", precisions, resolutions)),
        F.lit(1).cast("long").alias("count"),
        F.col("value").alias("sum"),
        F.col("value").alias("min"),
        F.col("value").alias("max"),
    )


def aggregate_partials(partials: DataFrame) -> DataFrame:
    """Fold cell-partial (or already-aggregated) lattice rows to the final
    lattice (A2 merge algebra): one aggregation, map-side partials."""
    return (
        partials.groupBy("metric_id", "precision", "res", "gh", "ts")
        .agg(*_agg_cols())
        .transform(_with_avg)
    )


def materialize_views(lattice: DataFrame, path: str) -> None:
    """Write the lattice partitioned for query-time pruning.

    Partition columns = the view-selection keys (L1: metric, precision, res);
    within files, rows sorted by (gh, ts) so parquet min/max stats replace the
    reference's RocksDB key-range scans (QueryingController.java:212-230).

    `repartitionByRange(..., gh)` (not `repartition`) so one view slice spreads
    over many tasks by cell range — a plain hash repartition on the partition
    columns collapses each slice into a single task (VERDICT r1 #3), which at
    scale means one writer for billions of rows. Range partitioning keeps
    file-level (gh, ts) ordering for min/max skipping with real parallelism.
    """
    (
        lattice.repartitionByRange("metric_id", "precision", "res", "gh")
        .sortWithinPartitions("gh", "ts")
        .write.mode("overwrite")
        .partitionBy("metric_id", "precision", "res")
        .parquet(path)
    )


def incremental_update(existing: DataFrame, delta_lattice: DataFrame) -> DataFrame:
    """Merge a new micro-batch's lattice into an existing one (A2 algebra).

    Batch twin of the streaming foreachBatch MERGE (streaming/pipeline.py);
    parity with the per-record incremental aggregator IngestStream.java:84-92.
    """
    return aggregate_partials(
        existing.select("metric_id", "precision", "res", "gh", "ts",
                        "count", "sum", "min", "max")
        .unionByName(delta_lattice.select("metric_id", "precision", "res", "gh",
                                          "ts", "count", "sum", "min", "max"))
    )
