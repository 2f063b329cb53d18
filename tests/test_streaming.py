"""Streaming pipeline tests — the SURVEY §5 stream/batch equivalence
gate: feeding the readings through micro-batches + foreachBatch MERGE
must produce exactly the batch lattice."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from explora_kafka_spark.plans.views import view_lattice
from explora_kafka_spark.sources.tables import load_readings, load_table
from explora_kafka_spark.streaming import pipeline as P

SF_DIR = "/root/testdata/sf0.001"


def _lattice_rows(df):
    return {
        (r.metric_id, r.precision, r.res, r.gh, str(r.ts), r["count"],
         round(r["sum"], 6))
        for r in df.collect()
    }


def test_stream_batch_equivalence(spark, tmp_path):
    """3 micro-batches through foreachBatch MERGE == one batch groupBy."""
    readings = load_readings(spark, SF_DIR)
    # split into 3 files → 3 triggers → 3 delta merges
    readings.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "in"))
    streamed = P.run_file_pipeline_available_now(
        spark,
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        precisions=(6,),
        resolutions=("min", "hour", "day"),
    )
    batch = view_lattice(
        readings, precisions=(6,), resolutions=("min", "hour", "day"),
    )
    assert _lattice_rows(streamed) == _lattice_rows(batch)


def test_multi_batch_merge_order_independent(spark, tmp_path):
    """MERGE algebra is associative/commutative: 1-batch and 3-batch
    ingestion produce identical stores (IngestStream.java:84-92 parity)."""
    readings = load_readings(spark, SF_DIR)
    readings.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "one"))
    one = P.run_file_pipeline_available_now(
        spark, str(tmp_path / "one"), str(tmp_path / "s1"), str(tmp_path / "c1"),
        precisions=(6,), resolutions=("min",),
    )
    readings.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "three"))
    three = P.run_file_pipeline_available_now(
        spark, str(tmp_path / "three"), str(tmp_path / "s3"), str(tmp_path / "c3"),
        precisions=(6,), resolutions=("min",),
    )
    assert _lattice_rows(one) == _lattice_rows(three)


def test_json_decode_malformed_to_dead_letter(spark):
    rows = [
        (json.dumps({"metricId": "m", "timestamp": 1000, "geohash": "abc",
                     "value": 1.5, "sourceId": "s"}),),
        ("{not json",),
    ]
    raw = spark.createDataFrame(rows, "value string")
    decoded = P.decode_readings(raw).collect()
    ok = [r for r in decoded if not r._corrupt]
    bad = [r for r in decoded if r._corrupt]
    assert len(ok) == 1 and ok[0].metricId == "m" and ok[0].value == 1.5
    assert len(bad) == 1 and bad[0]._raw == "{not json"


def test_json_decode_ignores_unknown_fields(spark):
    raw = spark.createDataFrame(
        [(json.dumps({"metricId": "m", "timestamp": 5, "extra_field": 42}),)],
        "value string",
    )
    r = P.decode_readings(raw).collect()[0]
    assert not r._corrupt and r.metricId == "m" and r.timestamp == 5


def test_encode_decode_roundtrip(spark):
    df = spark.createDataFrame(
        [(1000, "m1", 2000, "s1", "u4pruyd", 7, 3.5, 9.9, "ms")],
        schema=P.READING_SCHEMA,
    )
    encoded = P.encode_readings(df)
    decoded = P.decode_readings(encoded)
    r = decoded.collect()[0]
    assert (r.metricId, r.timestamp, r.geohash, r.value) == ("m1", 2000, "u4pruyd", 9.9)


def test_event_time_extract_drops_negative(spark):
    df = spark.createDataFrame(
        [("m", 1_700_000_000_000), ("m", -5)], "metric_id string, timestamp long"
    )
    out = P.with_event_time(df).collect()
    assert len(out) == 1
    assert str(out[0].ts).startswith("2023-11-14")


def test_metric_whitelist(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "metric_id string"
    )
    assert P.filter_metrics(df, ["a", "c"]).count() == 2
    assert P.filter_metrics(df, None).count() == 3


def test_merge_replay_is_idempotent(spark, tmp_path):
    """foreachBatch redelivers a batch after mid-merge failure; the
    batch_id guard must make the second delivery a no-op (the count/sum
    merge itself is NOT idempotent — without the guard counts double)."""
    from explora_kafka_spark.plans.views import view_lattice

    readings = load_readings(spark, SF_DIR)
    delta = view_lattice(readings, precisions=(6,), resolutions=("min",))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, delta, batch_id=0) is True
    once = {(r.gh, str(r.ts)): r["count"] for r in store.read(spark).collect()}
    # replay of the same batch: must be skipped
    assert store.merge(spark, delta, batch_id=0) is False
    replay = {(r.gh, str(r.ts)): r["count"] for r in store.read(spark).collect()}
    assert replay == once
    # the NEXT batch still applies
    assert store.merge(spark, delta, batch_id=1) is True
    nxt = {(r.gh, str(r.ts)): r["count"] for r in store.read(spark).collect()}
    assert nxt == {k: 2 * v for k, v in once.items()}


def _partition_inodes(store):
    """Map leaf partition dir (relative) → frozenset of parquet inodes
    in the CURRENT store version."""
    import os

    vdir = os.path.join(store.path, store.current_version())
    out = {}
    for root, _dirs, files in os.walk(vdir):
        pq = [f for f in files if f.endswith(".parquet")]
        if pq:
            rel = os.path.relpath(root, vdir)
            out[rel] = frozenset(os.stat(os.path.join(root, f)).st_ino
                                 for f in pq)
    return out


def test_store_layout_write_is_row_adaptive(spark, tmp_path):
    """The range-partitioned store write derives its writer count from
    the delta's rows (ceil(rows / _STORE_ROWS_PER_FILE)), not from
    spark.sql.shuffle.partitions: a small merge lands exactly ONE
    parquet file per leaf partition dir instead of one near-empty file
    per shuffle partition (optimization round 14, guide §6 file
    sizing)."""
    import os

    readings = load_readings(spark, SF_DIR)
    delta = view_lattice(readings, precisions=(6,), resolutions=("min",))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, delta, batch_id=0)
    root = str(tmp_path / "store" / store.current_version())
    leaf_dirs = 0
    for dirpath, _dirs, files in os.walk(root):
        pq = [f for f in files if f.endswith(".parquet")]
        if pq:
            leaf_dirs += 1
            assert len(pq) == 1, (
                f"{dirpath}: a {delta.count()}-row delta must write one "
                f"range task, got {len(pq)} files"
            )
    assert leaf_dirs > 0


def test_merge_readings_equals_delta_merge(spark, tmp_path):
    """The fused MERGE (`merge_readings`: batch mapped to cell-partial
    form and folded with the store in ONE aggregation) commits exactly
    the store that the two-pass `merge(view_lattice(batch))` shape
    commits — the A2 algebra is associative-commutative, so skipping the
    delta-lattice materialization must not change a single cell
    (optimization round 14, guide §2.3/§2.4). Covers first write AND an
    incremental merge, plus the replay guard and partition hard-linking
    on the fused path."""
    readings = load_readings(spark, SF_DIR)
    b0 = readings.filter(F.col("event_id") % 2 == 0)
    b1 = readings.filter(F.col("event_id") % 2 == 1)
    kw = dict(precisions=(6,), resolutions=("min", "hour"))

    fused = P.ParquetViewStore(str(tmp_path / "fused"))
    assert fused.merge_readings(spark, b0, batch_id=0, **kw)
    assert fused.merge_readings(spark, b1, batch_id=1, **kw)
    # replay guard holds on the fused path
    assert not fused.merge_readings(spark, b1, batch_id=1, **kw)

    twopass = P.ParquetViewStore(str(tmp_path / "twopass"))
    for bid, b in enumerate((b0, b1)):
        assert twopass.merge(
            spark, view_lattice(b, **kw), batch_id=bid)

    assert _lattice_rows(fused.read(spark)) == _lattice_rows(
        twopass.read(spark))

    # untouched partitions are hard-linked, not rewritten, on the fused
    # path too: a click-only batch must leave other metrics' inodes alone
    before = _partition_inodes(fused)
    assert fused.merge_readings(
        spark, b0.filter(F.col("metric_id") == "click"), batch_id=2, **kw)
    after = _partition_inodes(fused)
    untouched = {k: v for k, v in before.items()
                 if "metric_id=click" not in k}
    for k, v in untouched.items():
        assert after[k] == v, f"{k} was rewritten by an unrelated batch"


def test_merge_readings_rejects_null_partition_keys(spark, tmp_path):
    """The fused preflight keeps merge()'s null-key guard: a NULL
    metric_id or ts must fail loudly (nulls write
    __HIVE_DEFAULT_PARTITION__ and silently double-count on read)."""
    rows = [("m", None, 1.0), (None, "2024-01-01 00:00:00", 2.0)]
    df = spark.createDataFrame(
        rows, "metric_id string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "geohash", F.lit("abcdef"))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    with pytest.raises(ValueError, match="NULL partition key"):
        store.merge_readings(spark, df, batch_id=0,
                             precisions=(6,), resolutions=("min",))


def test_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """The partition-pruned MERGE: a delta touching one metric must
    hard-link (not rewrite) every other partition — per-batch cost
    proportional to the delta, not the store (the round-2 scale seam)."""
    readings = load_readings(spark, SF_DIR)
    full = view_lattice(readings, precisions=(6,), resolutions=("min", "hour"))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, full, batch_id=0)
    before = _partition_inodes(store)
    before_rows = _lattice_rows(store.read(spark))

    click_only = view_lattice(
        readings.filter(F.col("metric_id") == "click"),
        precisions=(6,), resolutions=("min", "hour"),
    )
    assert store.merge(spark, click_only, batch_id=1)
    after = _partition_inodes(store)

    untouched_before = {k: v for k, v in before.items()
                        if "metric_id=click" not in k}
    untouched_after = {k: v for k, v in after.items()
                       if "metric_id=click" not in k}
    assert untouched_before and untouched_before == untouched_after, (
        "untouched partitions must be hard-linked verbatim"
    )
    assert any("metric_id=click" in k for k in after)

    # correctness: click rows doubled, everything else identical
    expected = {
        (m, p, res, gh, ts, c * (2 if m == "click" else 1),
         round(s * (2 if m == "click" else 1), 6))
        for (m, p, res, gh, ts, c, s) in before_rows
    }
    assert _lattice_rows(store.read(spark)) == expected


def test_untracked_merge_preserves_batch_guard(spark, tmp_path):
    """A merge without a batch_id (e.g. a manual backfill) must carry the
    last recorded batch id forward, keeping the replay guard armed."""
    readings = load_readings(spark, SF_DIR)
    delta = view_lattice(readings, precisions=(6,), resolutions=("min",))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, delta, batch_id=3)
    assert store.merge(spark, delta, batch_id=None)  # untracked merge
    assert store.last_batch_id() == 3
    assert store.merge(spark, delta, batch_id=3) is False  # still guarded


def test_wire_to_engine_composition(spark):
    """ADVICE r2: the documented Kafka topology must actually compose —
    decode (wire camelCase) → engine rename → event time → whitelist →
    view lattice."""
    import json

    rows = [
        (json.dumps({"metricId": "no2", "timestamp": 1_700_000_000_000,
                     "geohash": "u4pruydq", "value": 1.5, "sourceId": "s1"}),),
        (json.dumps({"metricId": "pm10", "timestamp": 1_700_000_060_000,
                     "geohash": "u4pruydq", "value": 2.5, "sourceId": "s1"}),),
    ]
    raw = spark.createDataFrame(rows, "value string")
    engine = P.to_engine_columns(P.decode_readings(raw))
    engine = P.with_event_time(engine)
    engine = P.filter_metrics(engine, ["no2"])
    lattice = view_lattice(engine, precisions=(6,), resolutions=("min",))
    got = lattice.collect()
    assert len(got) == 1
    r = got[0]
    assert (r.metric_id, r.gh, r["count"], r["sum"]) == ("no2", "u4pruy", 1, 1.5)


def test_windowed_watermark_append_mode(spark, tmp_path):
    """Idiomatic flavor: watermarked tumbling windows in append mode emit
    exactly the FINALIZED windows (end <= max event time at the final
    watermark advance), matching the batch aggregation over them."""
    from explora_kafka_spark.streaming.windowed import windowed_base_view

    readings = load_readings(spark, SF_DIR)
    readings.repartition(2).write.mode("overwrite").parquet(str(tmp_path / "in"))
    schema = spark.read.parquet(str(tmp_path / "in")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in"))
    )
    out = windowed_base_view(stream, precision=6, window="1 hour",
                             watermark="0 seconds")
    q = (
        out.writeStream.format("memory").queryName("windowed_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = {
        (r.metric_id, r.gh, str(r.ts)): (r["count"], round(r["sum"], 6))
        for r in spark.table("windowed_test").collect()
    }
    from pyspark.sql import functions as F

    max_ts = readings.agg(F.max("ts")).collect()[0][0]
    batch = (
        readings.groupBy(
            "metric_id",
            F.substring("geohash", 1, 6).alias("gh"),
            F.date_trunc("hour", "ts").alias("ts"),
        )
        .agg(F.count("*").alias("count"), F.sum("value").alias("sum"))
        .filter(F.col("ts") + F.expr("INTERVAL 1 HOUR") <= max_ts)
    )
    expected = {
        (r.metric_id, r.gh, str(r.ts)): (r["count"], round(r["sum"], 6))
        for r in batch.collect()
    }
    assert streamed == expected
    assert streamed, "expected finalized windows"


def test_compact_store_preserves_data_and_prunes(spark, tmp_path):
    """Compaction rewrites the store into the partitioned/sorted layout
    without changing a single row, and the compacted store's scans get
    partition pruning on the view-selection keys."""
    from explora_kafka_spark.plans.views import view_lattice
    from pyspark.sql import functions as F

    readings = load_readings(spark, SF_DIR)
    delta = view_lattice(readings, precisions=(6,),
                         resolutions=("min", "hour"))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    store.merge(spark, delta, batch_id=0)
    before = _lattice_rows(store.read(spark))
    P.compact_store(spark, store)
    after_df = store.read(spark)
    assert _lattice_rows(after_df) == before
    # batch-id guard survives compaction
    assert store.last_batch_id() == 0
    # partition pruning now applies on the compacted layout
    plan = (
        after_df.filter((F.col("res") == "hour") & (F.col("precision") == 6))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "res" in plan.split(
        "PartitionFilters:"
    )[1][:200]


def test_merge_rejects_null_partition_keys(spark, tmp_path):
    """ADVICE r3: a NULL partition value would write the
    __HIVE_DEFAULT_PARTITION__ dir, escape the pruning predicate
    (null == null is null), and double-count on read — merge must refuse
    it loudly instead."""
    readings = load_readings(spark, SF_DIR)
    delta = view_lattice(readings, precisions=(6,), resolutions=("min",)).withColumn(
        "metric_id",
        F.when(F.col("metric_id") == "click", F.lit(None)).otherwise(
            F.col("metric_id")
        ),
    )
    store = P.ParquetViewStore(str(tmp_path / "store"))
    with pytest.raises(ValueError, match="NULL partition key"):
        store.merge(spark, delta, batch_id=0)


@pytest.mark.parametrize("writer", ["merge", "merge_readings"])
def test_empty_batch_commits_nothing(spark, tmp_path, writer):
    """An empty batch is a no-op on both MERGE paths. Into a fresh store
    it must not commit a version without parquet files (no later read or
    merge could infer its schema); into a populated store it must not
    commit a relinked copy of the current version."""
    import os

    readings = load_readings(spark, SF_DIR)
    empty = readings.limit(0)
    kw = dict(precisions=(6,), resolutions=("min", "hour"))
    store = P.ParquetViewStore(str(tmp_path / "store"))

    def write(df, bid):
        if writer == "merge":
            return store.merge(spark, view_lattice(df, **kw), batch_id=bid)
        return store.merge_readings(spark, df, batch_id=bid, **kw)

    def versions():
        return sorted(d for d in os.listdir(store.path) if d.startswith("v_"))

    assert write(empty, 0) is False
    assert store.current_version() is None and versions() == []

    assert write(readings, 1) is True
    v = store.current_version()
    assert write(empty, 2) is False
    assert store.current_version() == v and versions() == [v]
    assert store.last_batch_id() == 1
    assert _lattice_rows(store.read(spark)) == _lattice_rows(
        view_lattice(readings, **kw))


def test_merge_migrates_legacy_unpartitioned_store(spark, tmp_path):
    """ADVICE r3: a store written by the pre-partitioned layout (flat
    files, no ts_m) must be migrated by one full rewrite instead of
    raising on the ts_m pruning filter or mislinking flat files."""
    import os

    readings = load_readings(spark, SF_DIR)
    delta = view_lattice(readings, precisions=(6,), resolutions=("min",))
    store_path = str(tmp_path / "store")
    # hand-build a legacy store: flat parquet version dir + pointer
    legacy_dir = os.path.join(store_path, "v_legacy")
    delta.write.mode("overwrite").parquet(legacy_dir)
    os.makedirs(store_path, exist_ok=True)
    with open(os.path.join(store_path, "_CURRENT"), "w") as f:
        f.write("v_legacy\n0")
    store = P.ParquetViewStore(store_path)
    once = _lattice_rows(store.read(spark))

    assert store.merge(spark, delta, batch_id=1)
    merged = _lattice_rows(store.read(spark))
    assert merged == {
        (m, p, res, gh, ts, 2 * c, round(2 * s, 6))
        for (m, p, res, gh, ts, c, s) in once
    }
    # and the store is now in the partitioned layout (incremental merges
    # work from here on)
    vdir = os.path.join(store_path, store.current_version())
    assert any("ts_m=" in d for d, _, _ in os.walk(vdir))
    assert store.merge(spark, delta, batch_id=2)


def test_merge_escaped_partition_values_not_double_counted(spark, tmp_path):
    """ADVICE r3: Spark %-escapes special characters (':' → '%3A') in
    partition dir names. The touched-partition bookkeeping must compare
    the escaped paths Spark wrote — a str()-built key would mismatch,
    hard-link the old partition AND rewrite it, double-counting reads."""
    readings = load_readings(spark, SF_DIR).withColumn(
        "metric_id", F.concat(F.col("metric_id"), F.lit(":v1"))
    )
    full = view_lattice(readings, precisions=(6,), resolutions=("min",))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, full, batch_id=0)
    once = _lattice_rows(store.read(spark))

    delta = view_lattice(
        readings.filter(F.col("metric_id") == "click:v1"),
        precisions=(6,), resolutions=("min",),
    )
    assert store.merge(spark, delta, batch_id=1)
    merged = _lattice_rows(store.read(spark))
    assert merged == {
        (m, p, res, gh, ts,
         c * (2 if m == "click:v1" else 1),
         round(s * (2 if m == "click:v1" else 1), 6))
        for (m, p, res, gh, ts, c, s) in once
    }


def test_kafka_wire_contract(spark):
    """S1 contract (IngestStream.java:292): the downstream topology must
    consume EXACTLY what the Kafka source emits — binary key/value plus
    topic/partition/offset metadata — through decode → engine rename →
    event time → whitelist. The batch frame here mirrors the kafka
    source's fixed output schema, so the composition is pinned even
    without a broker; the real source is asserted below when the
    spark-sql-kafka package is present."""
    payload = {"metricId": "no2", "timestamp": 1_700_000_000_000,
               "geohash": "u4pruydq", "value": 1.5, "sourceId": "s1"}
    rows = [
        (b"s1", json.dumps(payload).encode("utf-8"), "readings", 0, 0),
        (b"s1", b"{not json", "readings", 0, 1),  # dead-letter
    ]
    raw = spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, offset long"
    )
    decoded = P.decode_readings(raw)
    assert [r["_corrupt"] for r in decoded.orderBy("_raw").collect()] == [
        False, True,  # '{"metricId"...' sorts before '{not json'
    ]
    engine = P.filter_metrics(
        P.with_event_time(
            P.to_engine_columns(decoded.filter(~F.col("_corrupt")))
        ),
        ["no2"],
    )
    got = engine.collect()
    assert len(got) == 1
    assert (got[0].metric_id, got[0].geohash, got[0].value) == (
        "no2", "u4pruydq", 1.5
    )


def test_kafka_source_package_gated(spark):
    """The real kafka source: constructible only with spark-sql-kafka on
    the classpath — skipped cleanly in the sandbox, asserted wherever the
    package exists (options are wired in kafka_reading_stream:60-79)."""
    try:
        stream = P.kafka_reading_stream(spark, "broker:9092", "readings")
    except Exception as exc:  # noqa: BLE001 — DATA_SOURCE_NOT_FOUND in-sandbox
        pytest.skip(f"spark-sql-kafka not on classpath: {exc}")
    assert stream.isStreaming
    assert {"key", "value", "topic", "partition", "offset"} <= set(stream.columns)


def test_uncommitted_version_is_invisible(spark, tmp_path):
    """Crash atomicity: a writer that dies AFTER writing a new version
    directory but BEFORE the pointer swap must leave readers on the old
    committed version, and the store must keep merging correctly
    afterwards (the orphan dir is inert)."""
    import os

    from explora_kafka_spark.plans.views import view_lattice

    readings = load_readings(spark, SF_DIR)
    delta = view_lattice(readings, precisions=(6,), resolutions=("min",))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, delta, batch_id=0) is True
    committed = store.current_version()
    before = {(r.gh, str(r.ts)): r["count"] for r in store.read(spark).collect()}

    # simulate the crashed writer: a fully written version dir, no commit
    orphan = os.path.join(store.path, "v_deadbeefcafe")
    P._write_store_layout(
        P._with_ts_month(delta), orphan
    )
    assert store.current_version() == committed  # pointer untouched
    after = {(r.gh, str(r.ts)): r["count"] for r in store.read(spark).collect()}
    assert after == before  # reads ignore the orphan

    # the next merge commits past the orphan and doubles the counts
    assert store.merge(spark, delta, batch_id=1) is True
    nxt = {(r.gh, str(r.ts)): r["count"] for r in store.read(spark).collect()}
    assert nxt == {k: 2 * v for k, v in before.items()}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """At-least-once input (every file delivered twice) through
    dropDuplicatesWithinWatermark == exactly-once row set."""
    from explora_kafka_spark.streaming.dedup import dedup_batch, dedup_stream

    events = load_table(spark, SF_DIR, "events").limit(400)
    # two identical deliveries, two files → duplicates within AND across
    # micro-batches
    events.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "in"))
    events.coalesce(1).write.mode("append").parquet(str(tmp_path / "in"))
    schema = spark.read.parquet(str(tmp_path / "in")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in"))
    )
    out = dedup_stream(stream, watermark="365 days")
    q = (
        out.writeStream.format("memory").queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("dedup_test")
    expect = dedup_batch(events)
    assert got.count() == events.count() == expect.count()
    assert got.select("event_id").distinct().count() == got.count()


def test_expire_store_drops_old_months_links_survivors(spark, tmp_path):
    """TTL sweep: expired months vanish, survivors keep their inodes
    (hard-link, zero copy), the batch-id replay guard survives."""
    readings = load_readings(spark, SF_DIR)
    two = readings.filter(F.col("event_id") % 2 == 0).unionByName(
        readings.filter(F.col("event_id") % 2 == 1)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 MONTH")))
    lat = view_lattice(two, precisions=(6,), resolutions=("hour",))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, lat, batch_id=0)
    before = _partition_inodes(store)
    feb_before = {k: v for k, v in before.items() if "ts_m=202402" in k}
    assert feb_before and any("ts_m=202401" in k for k in before)

    expired = P.expire_store(store, 202402)
    assert expired == sum("ts_m=202401" in k for k in before)
    after = _partition_inodes(store)
    assert not any("ts_m=202401" in k for k in after)
    feb_after = {k: v for k, v in after.items() if "ts_m=202402" in k}
    assert feb_after == feb_before, "survivors must be hard-linked verbatim"

    # replay guard: the swept version still refuses batch 0
    assert store.merge(spark, lat, batch_id=0) is False
    # rows = exactly the shifted odd-event slice
    want = _lattice_rows(view_lattice(
        two.filter(F.month("ts") == 2), precisions=(6,),
        resolutions=("hour",)))
    assert _lattice_rows(
        P.ParquetViewStore(str(tmp_path / "store")).read(spark)
        .withColumn("precision", F.col("precision"))
        .select("metric_id", "precision", "res", "gh", "ts", "count",
                "sum")) == want


def test_expire_store_noop_on_future_free_store(spark, tmp_path):
    """A cutoff at/below every stored month expires nothing and leaves
    the data identical."""
    readings = load_readings(spark, SF_DIR)
    lat = view_lattice(readings, precisions=(6,), resolutions=("hour",))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, lat, batch_id=0)
    before = _lattice_rows(store.read(spark))
    assert P.expire_store(store, 202401) == 0
    assert _lattice_rows(store.read(spark)) == before


def test_watermark_drop_metrics_are_observable(spark, tmp_path):
    """A record arriving after the watermark passed its window is
    dropped SILENTLY by append-mode aggregation; stream_progress_metrics
    surfaces the drop count so the divergence from the reference's
    unbounded-late upserts is measurable. Two checkpointed runs pin the
    arrival order (watermark state survives the restart)."""
    import datetime as dt

    from explora_kafka_spark.streaming.windowed import (
        stream_progress_metrics, windowed_base_view)

    def _mk(rows):
        spark.createDataFrame(
            rows, "metric_id string, geohash string, ts timestamp,"
                  " value double"
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "in"))

    def _run():
        schema = spark.read.parquet(str(tmp_path / "in")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "in"))
        )
        out = windowed_base_view(stream, precision=6, window="1 hour",
                                 watermark="10 minutes")
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return stream_progress_metrics(q)

    h = lambda i: dt.datetime(2024, 1, 1) + dt.timedelta(hours=i)  # noqa
    _mk([("m", "g" * 6, h(i), 1.0) for i in range(6)])
    m1 = _run()
    assert m1["input_rows"] == 6
    assert m1["rows_dropped_by_watermark"] == 0

    # restart with a record far behind the restored watermark (~4:50)
    _mk([("m", "g" * 6, h(0).replace(minute=30), 99.0)])
    m2 = _run()
    assert m2["input_rows"] == 1
    assert m2["rows_dropped_by_watermark"] >= 1
    # and the late record's 99.0 never reached the emitted windows
    vals = [r["sum"] for r in spark.read.parquet(
        str(tmp_path / "out")).collect()]
    assert all(v < 99.0 for v in vals)


def test_expire_store_refuses_total_expiry(spark, tmp_path):
    """A cutoff beyond every stored month must raise, not commit an
    empty (unreadable) version — and the store stays intact."""
    import pytest as _pytest

    readings = load_readings(spark, SF_DIR)
    lat = view_lattice(readings, precisions=(6,), resolutions=("hour",))
    store = P.ParquetViewStore(str(tmp_path / "store"))
    assert store.merge(spark, lat, batch_id=0)
    before = _lattice_rows(store.read(spark))
    with _pytest.raises(ValueError, match="every partition"):
        P.expire_store(store, 999912)
    assert _lattice_rows(store.read(spark)) == before


def test_stream_stream_attribution_equals_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (click -> view
    attribution): the streaming pair set over file micro-batches equals
    the batch twin, including pairs whose click and view arrive in
    DIFFERENT micro-batches (join state carries the view side)."""
    from explora_kafka_spark.streaming.joins import (
        attribution_batch, attribution_stream)

    events = load_table(spark, SF_DIR, "events")
    # split files so early views and late clicks land in different
    # micro-batches (ordered by ts -> views precede their clicks)
    ev = events.orderBy("ts")
    n = ev.count()
    ev.limit(n // 2).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "in"))
    ev.subtract(ev.limit(n // 2)).coalesce(1).write.mode("append").parquet(
        str(tmp_path / "in"))
    schema = spark.read.parquet(str(tmp_path / "in")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in"))
    )
    out = attribution_stream(stream, watermark="365 days")
    q = (
        out.writeStream.format("memory").queryName("attr_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {tuple(r) for r in spark.table("attr_test").collect()}
    expect = {tuple(r) for r in attribution_batch(events).collect()}
    assert got == expect and len(expect) > 0


def test_attribution_window_and_order(spark):
    """Only views within the lookback window attribute; a view after
    the click never does; all (click, view) pairs in range emit."""
    import datetime as dt

    from explora_kafka_spark.streaming.joins import attribution_batch

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, typ, sec):
        return (eid, t0 + dt.timedelta(seconds=sec), 1, typ, 0.0, "{}")

    events = spark.createDataFrame(
        [
            ev(1, "view", 0),       # in window (lag 100)
            ev(2, "view", 50),      # in window (lag 50)
            ev(3, "view", -2000),   # too old
            ev(4, "view", 200),     # after the click
            ev(5, "click", 100),
        ],
        "event_id: long, ts: timestamp, user_id: long, "
        "event_type: string, value: double, props: string",
    )
    out = attribution_batch(events, window_s=1800).collect()
    assert [(r["view_id"], r["lag_s"]) for r in out] == [(1, 100), (2, 50)]


def test_unattributed_is_exact_complement_of_attributed(spark):
    from explora_kafka_spark.streaming.joins import (
        attribution_batch, unattributed_batch)

    events = load_table(spark, SF_DIR, "events")
    clicks = {r["event_id"]
              for r in events.filter(F.col("event_type") == "click")
              .select("event_id").collect()}
    attributed = {r["click_id"]
                  for r in attribution_batch(events).collect()}
    unattributed = {r["click_id"]
                    for r in unattributed_batch(events).collect()}
    assert attributed | unattributed == clicks
    assert attributed & unattributed == set()


def test_trending_items_stream_equals_batch(spark, tmp_path):
    """Trending = watermarked (window, item) counts in append mode +
    read-time ranking: the drained stream's finalized windows, ranked,
    must equal the batch twin over the same finalized span."""
    from explora_kafka_spark.streaming.windowed import (
        item_window_counts, rank_trending, trending_items)

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    events.repartition(2).write.mode("overwrite").parquet(
        str(tmp_path / "in"))
    schema = spark.read.parquet(str(tmp_path / "in")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in"))
    )
    out = item_window_counts(stream, window="1 hour",
                             watermark="0 seconds")
    q = (
        out.writeStream.format("memory").queryName("trending_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    from pyspark.sql import functions as F

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    streamed = rank_trending(spark.table("trending_test"), top=5)
    got = [(r["bucket_ms"], r["item"], r["n"], r["rank"])
           for r in streamed.collect()]
    # append mode emits windows whose END <= the final watermark
    finalized = item_window_counts(events, window="1 hour").filter(
        F.col("bucket_ms") + 3_600_000 <= F.unix_millis(F.lit(max_ts)))
    want = [(r["bucket_ms"], r["item"], r["n"], r["rank"])
            for r in rank_trending(finalized, top=5).collect()]
    assert got == want
    assert got, "expected finalized trending windows"
    # the ranked batch twin agrees with itself through trending_items
    full = [(r["bucket_ms"], r["item"], r["n"], r["rank"])
            for r in trending_items(events, top=5).collect()]
    assert set(got) <= set(full)


def test_hopping_window_covers_and_finalizes(spark, tmp_path):
    """Hopping 2h/1h windows: each event lands in exactly the two
    covering windows; append mode emits only windows whose end the
    watermark passed (the final event's hour window stays open)."""
    import explora_kafka_spark.streaming.windowed as W

    rows = [
        (1, "m", "abcdef", "2024-01-01 00:10:00", 1.0),
        (2, "m", "abcdef", "2024-01-01 01:20:00", 2.0),
        (3, "m", "abcdef", "2024-01-01 05:00:00", 8.0),  # advances wm
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "event_id bigint, metric_id string, geohash string,"
        " ts_s string, value double"
    ).selectExpr("event_id", "metric_id", "geohash",
                 "CAST(ts_s AS TIMESTAMP) AS ts", "value"
                 ).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = W.hopping_base_view(stream, precision=6, window="2 hours",
                              slide="1 hour", watermark="0 seconds")
    q = (out.writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {
        (r["ts"].strftime("%H"), r["count"], float(r["sum"]))
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # event@00:10 -> windows starting 23:00(prev day) and 00:00;
    # event@01:20 -> 00:00 and 01:00; max ts 05:00 finalizes ends <= 05.
    # window [04:00,06:00) stays open (end 06 > 05): event 3 absent.
    assert got == {
        ("23", 1, 1.0),        # [23:00, 01:00): event 1
        ("00", 2, 3.0),        # [00:00, 02:00): events 1+2
        ("01", 1, 2.0),        # [01:00, 03:00): event 2
    }


def test_native_session_window_gap_boundary_and_finalize(spark, tmp_path):
    """F.session_window: a gap exactly equal to the session gap still
    MERGES (touching [t, t+gap) windows coalesce — the inclusive
    boundary the oracle mirrors); one second beyond the gap SPLITS;
    append mode emits only sessions whose end the watermark passed."""
    import explora_kafka_spark.streaming.windowed as W
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),   # same session (10 min < 30)
        (1, "2024-01-01 00:40:00", 4.0),   # exactly 30 min -> MERGES
        (1, "2024-01-01 01:10:01", 6.0),   # 30 min 1 s -> NEW session
        (2, "2024-01-01 02:00:00", 8.0),   # advances the watermark
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "user_id bigint, ts_s string, value double") \
        .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value") \
        .write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = W.session_view(stream, gap="30 minutes", watermark="0 seconds")
    q = (out.writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user_id, r.session_start.strftime("%H:%M"),
            r.session_end.strftime("%H:%M"), r.n_events, float(r.sum_value))
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    # user 1: [00:00, 01:10) (3 events — the exact-gap event merged)
    # and [01:10:01, 01:40:01) (1 event) — both finalized by 02:00.
    # user 2's own session ends 02:30 > 02:00 -> still open, absent.
    assert got == {
        (1, "00:00", "01:10", 3, 7.0),
        (1, "01:10", "01:40", 1, 6.0),
    }


def test_stream_static_enrichment_equals_batch(spark, tmp_path):
    """Stream-static join: the streamed segment view equals the batch
    twin on the same inputs (finalized windows only)."""
    import explora_kafka_spark.streaming.windowed as W
    from pyspark.sql import functions as F

    ev_rows = [
        (0, "2024-01-01 00:10:00", 1.0),
        (1, "2024-01-01 00:20:00", 2.0),
        (0, "2024-01-01 01:10:00", 4.0),
        (2, "2024-01-01 03:00:00", 8.0),   # advances the watermark
    ]
    cust = spark.createDataFrame(
        [(0, "AUTO"), (1, "HOUSE"), (2, "AUTO")],
        "c_custkey bigint, c_mktsegment string")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        ev_rows, "user_id bigint, ts_s string, value double"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts",
                 "value").write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = W.enriched_segment_view(stream, cust, watermark="0 seconds")
    q = (out.writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.segment, r.ts.strftime("%H"), r.n_events, float(r.sum_value))
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    # hour 00: AUTO (user 0) 1 event, HOUSE (user 1) 1 event;
    # hour 01: AUTO 1 event; user 2's hour-03 window stays open.
    assert got == {("AUTO", "00", 1, 1.0), ("HOUSE", "00", 1, 2.0),
                   ("AUTO", "01", 1, 4.0)}
    # batch twin on the static inputs (same code path, no stream)
    batch = W.enriched_segment_view(
        spark.read.parquet(src), cust).collect()
    bt = {(r.segment, r.ts.strftime("%H"), r.n_events, float(r.sum_value))
          for r in batch}
    assert got <= bt and len(bt) == 4  # batch keeps the open window too


def test_vacuum_store_reclaims_crashed_version_only(spark, tmp_path):
    """The store's VACUUM half (compact_store being the OPTIMIZE): a
    merge that died between writing its v_* dir and the pointer swap
    leaves an orphan; vacuum_store reclaims it after the grace lease
    while never touching the current version, the retained history, a
    fresh in-flight write, or foreign files."""
    import os
    import time

    from explora_kafka_spark.plans.views import view_lattice

    readings = load_readings(spark, SF_DIR)
    delta = view_lattice(readings, precisions=(6,),
                         resolutions=("min",))
    store = P.ParquetViewStore(str(tmp_path / "store"), keep_versions=2)
    store.merge(spark, delta, batch_id=0)
    store.merge(spark, delta, batch_id=1)
    live_before = set(store.list_versions())
    before_rows = store.read(spark).count()

    # a crashed merge: version dir written, pointer never swapped
    orphan = os.path.join(str(tmp_path / "store"), "v_deadbeef0000")
    os.makedirs(os.path.join(orphan, "res=min"))
    open(os.path.join(orphan, "res=min", "part-0.parquet"), "w").write("x")
    old = time.time() - 7200
    os.utime(os.path.join(orphan, "res=min", "part-0.parquet"),
             (old, old))
    os.utime(os.path.join(orphan, "res=min"), (old, old))
    os.utime(orphan, (old, old))
    # a FRESH in-flight write (mtime now) and a foreign dir
    fresh = os.path.join(str(tmp_path / "store"), "v_inflight000000")
    os.makedirs(fresh)
    foreign = os.path.join(str(tmp_path / "store"), "centroids")
    os.makedirs(foreign)

    deleted = P.vacuum_store(store, grace_secs=3600)
    assert deleted == ["v_deadbeef0000"]
    assert not os.path.exists(orphan)
    assert os.path.exists(fresh) and os.path.exists(foreign)
    assert set(store.list_versions()) == live_before
    assert store.read(spark).count() == before_rows
    assert store.last_batch_id() == 1
    # idempotent: nothing left to reclaim
    assert P.vacuum_store(store, grace_secs=3600) == []
