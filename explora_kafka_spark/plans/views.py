"""Materialized view lattice: count/sum/avg/min/max per (metric, cell, time bucket).

min/max extend the reference's (count, sum, avg) aggregate set (scoped at
AppConfig.java:10) — they share the same decomposable merge algebra, so the
rollup cascade stays exact.

The reference maintains one RocksDB store per metric × precision × {min, hour,
day, month} via M·P·4 independent Kafka Streams subtopologies, each re-reading
the stream (IngestStream.java:302-394; aggregator :84-92). Because count/sum
are decomposable (merge algebra util/Aggregator.java:19-32), this engine builds
ONE finest-grain aggregation and derives every coarser view by rolling up the
previous level — each raw row is shuffled once, and every subsequent level
aggregates the (much smaller) previous level:

    readings ──groupBy(metric, cell@maxP, minute)──► base
    base     ──date_trunc rollup──► hour ──► day ──► month      (per precision)
    level@P  ──substring(cell, p) rollup──► level@p              (per resolution)

`avg` is always derived sum/count *after* the final merge (never an average of
averages — SURVEY.md §7 "hard parts").

**Key-uniqueness invariant**: a stored lattice holds exactly ONE row per
(metric_id, precision, res, gh, ts). Every writer ends in an aggregate on
that key (`view_lattice` per (precision, res) branch, `aggregate_partials`
and `incremental_update` in the store merges, the first version included),
or moves whole files without touching rows (`compact_store` rewrites them,
`expire_store` drops month partitions). The snapshot tail in plans/query.py
relies on it: it serves a slice's rows as they are, without re-merging them,
so a writer that broke it would answer two rows for one cell
(tests/test_view_keys.py checks every writer).

At 100 TB: the base aggregation is the only shuffle proportional to raw data;
its key space (metric × cell × minute) is bounded and well-distributed (cells
are hash-like strings). Rollups shuffle only aggregated rows. Materialized
tables are partitioned by (metric_id, precision, res) — the query layer's
view-selection columns (L1) — and sorted by (gh, ts) within partitions so the
parquet scan prunes to one view and min/max-skips to the requested cells. A
bbox snapshot skips to the `gh` range between its rectangle's Morton corners
(`gh` order is Morton order) and reads each row's cell axes from its `gh`, so
the store needs no axis column (plans/query.py `_snapshot_rect`).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeutil import RES_TO_UNIT, VIEW_RESOLUTIONS, truncate_ts_col

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

    Output: metric_id, gh, ts(timestamp), count, sum.
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


def rollup_time(view: DataFrame, res: str) -> DataFrame:
    """Coarsen the time grain of an aggregated view (A2 merge algebra)."""
    return (
        view.withColumn("ts", F.date_trunc(RES_TO_UNIT[res], F.col("ts")))
        .groupBy("metric_id", "gh", "ts")
        .agg(*_agg_cols())
    )


def rollup_space(view: DataFrame, precision: int) -> DataFrame:
    """Coarsen the cell precision of an aggregated view (prefix truncation)."""
    return (
        view.withColumn("gh", F.substring("gh", 1, precision))
        .groupBy("metric_id", "gh", "ts")
        .agg(*_agg_cols())
    )


def build_views(
    readings: DataFrame,
    path: str,
    precisions: Sequence[int] = DEFAULT_PRECISIONS,
    resolutions: Iterable[str] = VIEW_RESOLUTIONS,
) -> None:
    """Build + materialize the lattice, releasing the cascade caches when
    the write finishes (long-lived sessions would otherwise accumulate
    one persisted level per build).

    The per-precision time cascades are materialized CONCURRENTLY
    before the write (optimization round 15, guide §2.6): each cascade
    is a sequential chain of persisted rollups, but the chains only
    share the (eagerly counted) finest-grain base, so a small thread
    pool overlaps them instead of letting the write's sampling pass
    walk the whole union sequentially. Every chain still executes its
    own unchanged plan against the same cached parents, so the stored
    rows are byte-identical to the sequential build."""
    from concurrent.futures import ThreadPoolExecutor

    persisted: list[DataFrame] = []
    chains: list[list[DataFrame]] = []
    lattice = view_lattice(
        readings, precisions=precisions, resolutions=resolutions,
        persist=True, _persisted=persisted, _chains=chains,
    )
    try:
        # the space cascade (each precision's base derives from the
        # previous one) is materialized sequentially so concurrent time
        # chains never race an unmaterialized parent cache
        for chain in chains:
            chain[0].count()
        time_chains = [c[1:] for c in chains if len(c) > 1]
        def _warm(chain: list[DataFrame]) -> None:
            for df in chain:
                df.count()
        if len(time_chains) > 1:
            with ThreadPoolExecutor(max_workers=len(time_chains)) as pool:
                list(pool.map(_warm, time_chains))
        elif time_chains:
            _warm(time_chains[0])
        materialize_views(lattice, path)
    finally:
        for df in persisted:
            df.unpersist()


def view_lattice(
    readings: DataFrame,
    precisions: Sequence[int] = DEFAULT_PRECISIONS,
    resolutions: Iterable[str] = VIEW_RESOLUTIONS,
    persist: bool = True,
    _persisted: list[DataFrame] | None = None,
    _chains: list[list[DataFrame]] | None = None,
) -> DataFrame:
    """The full multi-resolution lattice as one DataFrame.

    Output: metric_id, precision(int), res(string), gh, ts(timestamp),
    count(long), sum(double), avg(double). Replaces the reference's M·P·4
    stores (IngestStream.java:372-394) with a rollup cascade.

    Each cascade level is persisted (MEMORY_AND_DISK) before the next level
    derives from it: Spark does NOT dedupe common subplans across union
    branches, so without persistence materializing the union re-scans and
    re-aggregates the raw table once per slice (~P·R times) — the VERDICT r1
    scale-killer. With persist, raw data is shuffled exactly once (the base
    aggregation) and every rollup reads cached aggregate rows.
    """
    from pyspark import StorageLevel

    resolutions = [r for r in VIEW_RESOLUTIONS if r in set(resolutions)]  # keep grain order
    precisions = sorted(precisions, reverse=True)
    pieces = []
    level = base_view(readings, precisions[0], "min")
    for i, p in enumerate(precisions):
        if i > 0:
            level = rollup_space(level, p)
        if persist:
            level = level.persist(StorageLevel.MEMORY_AND_DISK)
            if _persisted is not None:
                _persisted.append(level)
        chain = [level]
        if _chains is not None:
            _chains.append(chain)
        v = level
        for res in resolutions:
            if res != "min":
                v = rollup_time(v, res)
                if persist and res != resolutions[-1]:
                    v = v.persist(StorageLevel.MEMORY_AND_DISK)
                    if _persisted is not None:
                        _persisted.append(v)
                    chain.append(v)
            pieces.append(
                _with_avg(v).select(
                    "metric_id",
                    F.lit(p).cast("int").alias("precision"),
                    F.lit(res).alias("res"),
                    "gh",
                    "ts",
                    "count",
                    "sum",
                    "avg",
                    "min",
                    "max",
                )
            )
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece)
    return out


def lattice_partials(
    readings: DataFrame,
    precisions: Sequence[int] = DEFAULT_PRECISIONS,
    resolutions: Iterable[str] = VIEW_RESOLUTIONS,
) -> DataFrame:
    """Cell-partial form of the lattice: one row per reading × lattice
    coordinate (precision × resolution), carrying the single-row partial
    aggregate (count=1, sum=min=max=value). Built with ONE scan of the
    readings — `inline` over a per-row array of the P·R coordinate
    structs — so no branch of the lattice re-reads the source. Zero
    shuffles; `aggregate_partials` (or any A2-algebra merge) folds it to
    exactly the `view_lattice` rows, which is what lets the streaming
    MERGE aggregate batch + store in one pass instead of materializing a
    delta lattice first (optimization guide §2.3/§2.4)."""
    resolutions = [r for r in VIEW_RESOLUTIONS if r in set(resolutions)]
    precisions = sorted(precisions, reverse=True)
    coords = [
        F.struct(
            F.lit(p).cast("int").alias("precision"),
            F.lit(res).alias("res"),
            F.substring("geohash", 1, p).alias("gh"),
            truncate_ts_col("ts", res).alias("ts"),
        )
        for p in precisions
        for res in resolutions
    ]
    return readings.select(
        "metric_id",
        F.inline(F.array(*coords)),
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
