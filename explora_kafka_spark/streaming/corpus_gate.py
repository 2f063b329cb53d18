"""Streaming corpus-admission gate: score every incoming document batch
against the MATERIALIZED corpus indexes and split accept/reject.

A continuously-growing training corpus admits new documents through two
hygiene checks before they may join the corpus:

1. **contamination** — does the document leak held-out/benchmark content?
   (shingle overlap against the materialized shingle index,
   `operators/contamination.py`)
2. **near-duplication** — is it a near-copy of something already held?
   (banded MinHash check against the materialized LSH index,
   `operators/dedup.py` `build_dedup_index`/`dedup_check`)

This module composes the two per micro-batch. The corpus is NEVER
re-scanned: both indexes are the compact 8-byte-key artifacts built once
per corpus snapshot; each batch pays only its own shingles/signatures
plus two equi-joins. This is the streaming face of the round-7 index
family — the same shape `ingest_dedup` gives row-level event dedup.

- `gate_batch`: the batch twin (one micro-batch scored) — the semantics
  the DuckDB oracle checks, and what `foreachBatch` invokes.
- `gate_stream`: Structured Streaming wrapper — file/Kafka doc stream →
  `foreachBatch(gate_batch → split → append accepted/rejected parquet)`.
  Stream ≡ batch is pinned by tests/test_corpus_gate.py.

100 TB design: per batch, work is O(batch shingles + band collisions).
The accept/reject split writes are append-only parquet. Delivery: the
checkpointed availableNow file source processes each input file once;
a crash BETWEEN the two appends inside one foreachBatch can replay the
batch and duplicate rows in the store that already committed — readers
wanting exactly-once either dropDuplicates(doc_id) on read or swap the
appends for the view store's batch-id ledger MERGE
(streaming/pipeline.py) — documented trade-off, not silent. State lives
entirely in the indexes, refreshed by the owner on corpus snapshots, so
the streaming query itself is stateless — no watermark, no state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.contamination import (
    contamination_check, contamination_check_bloom)
from ..operators.dedup import NUM_BANDS, NUM_HASHES, dedup_check


def gate_batch(
    spark,
    batch: DataFrame,
    shingle_index: str,
    dedup_index: str,
    taint_max: float = 0.5,
    shingle_n: int = 5,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    lsh_shingle_n: int = 1,
    min_est: float = 0.0,
    contamination_mode: str = "exact",
    bloom_m_bits: int = 1 << 21,
    bloom_k: int = 4,
    bloom_bitmap: DataFrame | None = None,
    dedup_max_bucket: int | None = None,
) -> DataFrame:
    """Score one document batch: (doc_id, contamination, n_near_dups,
    accepted), doc_id-ascending, one row per batch document. Accepted =
    contamination <= taint_max AND no near-dup candidate above min_est.
    Documents too short to shingle score contamination 0 (nothing to
    leak at the n-gram grain — the same convention as the contamination
    operator, which drops them; the gate must still emit a verdict).
    The key column is fixed to `doc_id`: `dedup_check`'s output schema
    is doc_id/match_id by contract, so a configurable key here would
    only pretend to work — rename upstream instead.

    `contamination_mode="bloom"` is the gate's SCALE path (r13's
    `contamination_bloom_audit`/`_sweep` priced it; this wires it in):
    the contamination tier scores against the broadcast Bloom bitmap
    (`contamination_check_bloom`) instead of the `_h` equi-join —
    per-batch cost drops from an O(index) shuffle join to k probes
    against a ~256 KB broadcast. Bloom contamination is an UPPER BOUND
    (no false negatives), so bloom-mode `accepted` can only be a
    SUBSET of exact-mode's: the gate over-rejects at the sized
    false-positive rate, never leaks — the safe direction for a
    contamination gate, and bit-identical to exact mode whenever no
    probe false-positive lands (tests pin equality on the fixture;
    `contamination_bloom_sweep` prices the m_bits dial). Pass
    `bloom_bitmap` (`build_bloom_bitmap`) to amortize the index fold
    across micro-batches while the index is static.

    `dedup_max_bucket` forwards the serve-time hot-bucket anchor cap
    to the near-dup tier (`dedup_check`): a boilerplate bucket in the
    STORED index stops costing every probe batch its full enumeration
    — each probe meets only the bucket's anchors. The gate only
    consumes `n_near_dups > 0`, and an identical/near-identical probe
    still matches its bucket's anchors, so verdicts are preserved for
    the clique case (the documented non-anchor near-miss
    approximation applies; `dedup_band_skew` is the dial that says
    when the stored index needs it)."""
    key = "doc_id"
    if contamination_mode == "bloom":
        cont = contamination_check_bloom(
            spark, batch, shingle_index, n=shingle_n,
            m_bits=bloom_m_bits, k=bloom_k, key=key,
            bitmap=bloom_bitmap,
        ).select(key, "contamination")
    elif contamination_mode == "exact":
        cont = contamination_check(
            spark, batch, shingle_index, n=shingle_n, key=key
        ).select(key, "contamination")
    else:
        raise ValueError(
            f"contamination_mode must be 'exact' or 'bloom', "
            f"got {contamination_mode!r}")
    near = (
        dedup_check(spark, batch, dedup_index,
                    num_hashes=num_hashes, num_bands=num_bands,
                    shingle_n=lsh_shingle_n, min_est=min_est,
                    max_bucket=dedup_max_bucket)
        .groupBy(key)
        .agg(F.count("*").alias("n_near_dups"))
    )
    return (
        batch.select(key)
        .join(cont, key, "left")
        .join(near, key, "left")
        .select(
            key,
            F.coalesce("contamination", F.lit(0.0)).alias("contamination"),
            F.coalesce("n_near_dups", F.lit(0).cast("long"))
             .alias("n_near_dups"),
        )
        .withColumn(
            "accepted",
            (F.col("contamination") <= F.lit(taint_max))
            & (F.col("n_near_dups") == 0),
        )
        .orderBy(key)
    )


def gate_stream(
    spark,
    doc_stream: DataFrame,
    shingle_index: str,
    dedup_index: str,
    accepted_path: str,
    rejected_path: str,
    checkpoint: str,
    taint_max: float = 0.5,
    **gate_kwargs,
):
    """Structured Streaming admission gate: for each micro-batch, score
    with `gate_batch` and append the original documents (plus their
    scores) to the accepted/rejected parquet stores. Returns the started
    StreamingQuery (caller awaits/stops). Stateless — restart replays
    only unprocessed source files."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = gate_batch(
            spark, batch_df, shingle_index, dedup_index,
            taint_max=taint_max, **gate_kwargs,
        )
        # persist before the two writes: without it each write action
        # re-executes the whole gate (both index joins, batch shingles,
        # signatures) — 2x every micro-batch
        enriched = (batch_df.join(scored, "doc_id")
                    .withColumn("_gate_epoch", F.lit(int(batch_id)))
                    .persist())
        try:
            enriched.filter(F.col("accepted")).drop("accepted") \
                .write.mode("append").parquet(accepted_path)
            enriched.filter(~F.col("accepted")).drop("accepted") \
                .write.mode("append").parquet(rejected_path)
        finally:
            enriched.unpersist()

    return (
        doc_stream.writeStream
        .foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def gate_verdict_log_path(checkpoint: str) -> str:
    """Default location of a learning gate's durable per-epoch verdict
    log: a sibling of the stream checkpoint (`{checkpoint}_verdicts`) —
    wiped checkpoints (the replay case the log exists for) leave it
    standing."""
    return checkpoint.rstrip("/") + "_verdicts"


def _init_verdict_log(path: str) -> None:
    """Mint an EMPTY manifest for a fresh verdict log. Unlike the index
    families, the log has no built base dir — without an explicit
    manifest, `index_ledger.read_manifest` would default `dirs` to the
    (nonexistent) base and every reader would trip on it."""
    import os

    from ..operators import index_ledger as ledger

    os.makedirs(path, exist_ok=True)
    if not os.path.exists(os.path.join(path, ledger.MANIFEST)):
        ledger.commit_manifest(
            path, {"dirs": [], "batches": [], "streams": {}})


def read_gate_verdict_log(spark, log_path: str) -> DataFrame:
    """The committed verdict history: one row per (doc, epoch) with the
    full score columns + `accepted` + `_gate_epoch` — the
    exactly-once source the sinks are derived from. Committed-union
    read (`index_ledger.committed_union`); raises if the log has no
    committed epoch yet."""
    from ..operators import index_ledger as ledger

    dirs = ledger.read_manifest(log_path, "gate_verdicts")["dirs"]
    if not dirs:
        raise ValueError(f"verdict log at {log_path} has no committed "
                         "epoch")
    return ledger.committed_union(spark, log_path, "gate_verdicts")


def gate_stream_learning(
    spark,
    doc_stream: DataFrame,
    shingle_index: str,
    dedup_index: str,
    accepted_path: str,
    rejected_path: str,
    checkpoint: str,
    taint_max: float = 0.5,
    shingle_n: int = 5,
    lsh_shingle_n: int = 1,
    num_bands: int = NUM_BANDS,
    verdict_log: str | None = None,
    **gate_kwargs,
):
    """The SELF-LEARNING admission gate: after each micro-batch's
    accepted documents are persisted, they are appended into BOTH text
    indexes (`update_shingle_index` / `update_dedup_index`) — so a
    near-copy arriving in a LATER micro-batch is rejected. Cross-batch
    dedup without any Spark state store: the indexes ARE the state,
    durable, shared, and inspectable.

    Delivery: same availableNow/replay contract as `gate_stream`, and
    since round 13 the index appends are EXACTLY-ONCE — each update
    commits through the index manifest ledger scoped to this stream's
    checkpoint (`operators/index_ledger`; epoch ids are only unique
    per checkpoint), so a replayed micro-batch no-ops in O(1) metadata
    instead of re-running the signature anti-joins (which were already
    value-converged — the r12 contract — but paid an index scan per
    replay). The accepted/rejected parquet sinks stay plain appends
    and are the WEAK link under replay (r13 review): a replayed epoch
    not only duplicates sink rows, it RE-SCORES the batch against
    indexes that now contain the batch's own shingles/bands, so
    previously-accepted docs self-match and land in rejected_path
    with the OPPOSITE verdict — the same doc can sit in both sinks.
    Every sink row therefore carries its epoch (`_gate_epoch`) and
    `read_gate_verdicts` is the committed read — earliest epoch wins,
    accepted wins the within-epoch tie: first-write-wins as code, not
    as a consumer convention (r13 review #3 closed, round 14).

    The r13-advice cross-index crash window is CLOSED as of round 14
    by the DURABLE PER-EPOCH VERDICT LOG: each epoch's scored verdicts
    commit through their own ledger (`{checkpoint}_verdicts` by
    default — `gate_verdict_log_path`) BEFORE any sink write or index
    update, and a replayed epoch reads its verdicts back from the log
    instead of re-scoring. The failure that motivated it: a driver
    dying after the shingle commit but before the dedup commit used
    to replay the epoch re-scoring against the now-updated shingle
    index — `accepted` collapsed (self-matching contamination), both
    update calls were skipped for the empty set, and the next epoch
    advanced the dedup watermark past the lost epoch, permanently
    under-indexing that batch. Now the replay recovers the ORIGINAL
    accepted set from the log and re-attempts both updates — each
    no-ops if already committed, commits if its half was lost: the
    two indexes advance in lock-step under any crash point, because
    every downstream effect of an epoch is a deterministic function
    of one atomically-committed artifact. (Sink rows may still
    duplicate across replays — but with IDENTICAL verdicts now, never
    contradictory ones; `read_gate_verdicts` remains the committed
    read for the re-sent-doc case.) A crash BEFORE the log commit
    re-scores against indexes the epoch never touched — the r12
    value-convergence contract. Within a single micro-batch, mutual
    near-dups are both admitted (the update_semantic_index contract)
    — shrink the trigger or pre-dedup the batch when that matters."""
    from ..operators import index_ledger as ledger
    from ..operators.contamination import update_shingle_index
    from ..operators.dedup import update_dedup_index

    log_path = verdict_log or gate_verdict_log_path(checkpoint)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _init_verdict_log(log_path)
        state: dict[str, DataFrame] = {}

        def _write(delta_path: str) -> bool:
            scored = gate_batch(
                spark, batch_df, shingle_index, dedup_index,
                taint_max=taint_max, shingle_n=shingle_n,
                lsh_shingle_n=lsh_shingle_n, num_bands=num_bands,
                **gate_kwargs,
            )
            # eager checkpoint, NOT persist: the index appends below
            # call refreshByPath on the very stores this verdict's
            # plan scans, which would invalidate a cache and
            # re-evaluate the verdict against the batch's own
            # just-appended content (accepted would collapse to empty
            # and nothing would ever be indexed)
            enriched = (batch_df.join(scored, "doc_id")
                        .withColumn("_gate_epoch", F.lit(int(batch_id)))
                        .localCheckpoint(eager=True))
            enriched.write.mode("overwrite").parquet(delta_path)
            state["df"] = enriched
            return True

        applied = ledger.ledger_append(
            log_path, "gate_verdicts", "gate_verdicts_delta", _write,
            batch_id, stream_id=checkpoint)
        if applied:
            enriched = state["df"]
        else:
            # replayed epoch: the durable log, not a re-score, is the
            # verdict source — the indexes may already contain this
            # batch, and re-scoring against them flips verdicts
            enriched = (
                read_gate_verdict_log(spark, log_path)
                .filter(F.col("_gate_epoch") == int(batch_id))
                .localCheckpoint(eager=True))
        accepted = enriched.filter(F.col("accepted")).drop("accepted")
        accepted.write.mode("append").parquet(accepted_path)
        enriched.filter(~F.col("accepted")).drop("accepted") \
            .write.mode("append").parquet(rejected_path)
        if not accepted.isEmpty():
            update_shingle_index(spark, accepted, shingle_index,
                                 n=shingle_n,
                                 batch_id=batch_id, stream_id=checkpoint)
            update_dedup_index(accepted, dedup_index,
                               num_bands=num_bands,
                               shingle_n=lsh_shingle_n,
                               batch_id=batch_id, stream_id=checkpoint)

    return (
        doc_stream.writeStream
        .foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def gate_batch_full(
    spark,
    batch: DataFrame,
    batch_emb: DataFrame,
    shingle_index: str,
    dedup_index: str,
    semantic_index: str,
    taint_max: float = 0.5,
    semantic_threshold_pct: int = 95,
    **gate_kwargs,
) -> DataFrame:
    """The THREE-tier admission verdict: contamination + MinHash
    near-dup (gate_batch) + SEMANTIC near-dup (the embedding tier —
    operators/semdedup.py `semdedup_check` against the materialized
    centroids+reps index). `batch_emb` carries the batch documents'
    embeddings keyed by the same ids (vec_id == doc_id — the upstream
    embedding stage's contract).

    Output (doc_id-ascending): doc_id, contamination, n_near_dups,
    is_semantic_dup, accepted — accepted now also requires NOT
    semantically duplicated. Documents with no embedding row pass the
    semantic tier vacuously (scored by the text tiers only).

    100 TB: the text tiers are per-batch equi-joins against compact
    indexes; the semantic tier is one k×d broadcast + probed-partition
    equi-joins — all three corpus-size-independent."""
    from ..operators.semdedup import semdedup_check

    base = gate_batch(spark, batch, shingle_index, dedup_index,
                      taint_max=taint_max, **gate_kwargs)
    sem = (
        semdedup_check(spark, batch_emb, semantic_index,
                       threshold_pct=semantic_threshold_pct)
        .select(F.col("vec_id").alias("doc_id"),
                F.col("is_dup").alias("is_semantic_dup"))
    )
    return (
        base.drop("accepted")
        .join(sem, "doc_id", "left")
        .select(
            "doc_id", "contamination", "n_near_dups",
            F.coalesce("is_semantic_dup", F.lit(False))
             .alias("is_semantic_dup"),
        )
        .withColumn(
            "accepted",
            (F.col("contamination") <= F.lit(taint_max))
            & (F.col("n_near_dups") == 0)
            & (~F.col("is_semantic_dup")),
        )
        .orderBy("doc_id")
    )


def gate_stream_full(
    spark,
    doc_stream: DataFrame,
    shingle_index: str,
    dedup_index: str,
    semantic_index: str,
    accepted_path: str,
    rejected_path: str,
    checkpoint: str,
    taint_max: float = 0.5,
    semantic_threshold_pct: int = 95,
    **gate_kwargs,
):
    """Streaming three-tier gate: `doc_stream` carries BOTH the text
    and an `embedding` column (the realistic shape — an upstream model
    stage enriches documents before admission); each micro-batch is
    scored by `gate_batch_full` and split into accepted/rejected
    stores. Stateless, availableNow, same delivery contract as
    `gate_stream`."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        emb = batch_df.select(F.col("doc_id").alias("vec_id"),
                              "embedding")
        scored = gate_batch_full(
            spark, batch_df.drop("embedding"), emb,
            shingle_index, dedup_index, semantic_index,
            taint_max=taint_max,
            semantic_threshold_pct=semantic_threshold_pct,
            **gate_kwargs,
        )
        enriched = (batch_df.join(scored, "doc_id")
                    .withColumn("_gate_epoch", F.lit(int(batch_id)))
                    .persist())
        try:
            enriched.filter(F.col("accepted")).drop("accepted") \
                .write.mode("append").parquet(accepted_path)
            enriched.filter(~F.col("accepted")).drop("accepted") \
                .write.mode("append").parquet(rejected_path)
        finally:
            enriched.unpersist()

    return (
        doc_stream.writeStream
        .foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_gate_verdicts(
    spark,
    accepted_path: str,
    rejected_path: str,
) -> DataFrame:
    """FIRST-WRITE-WINS reader over a gate's accepted/rejected sinks —
    the committed read the sinks' at-least-once contract requires
    (r13 review #3, turned from documentation into code). Every gate
    stream stamps each sink row with its foreachBatch epoch
    (`_gate_epoch`); this reader unions the two sinks, tags the
    verdict by sink, and keeps ONE row per doc_id:

    - **earliest epoch wins** — a doc re-sent in a later batch keeps
      its original verdict (the copy was gated against an index that
      already held the original, so the later row is the rejection of
      a duplicate, not a better verdict for the doc);
    - **accepted wins the tie** — a replayed epoch re-scores against
      indexes that already contain the batch's own content, so a doc
      the first run accepted self-matches on replay and lands in the
      REJECTED sink under the SAME epoch id; the accepted row is
      always the chronologically first write (the self-learning gate
      only updates indexes with accepted docs), so preferring it
      within an epoch IS first-write-wins.

    Output: one row per doc_id with the sink rows' columns (scores,
    `_gate_epoch`) plus the resolved `accepted` verdict. A missing or
    empty rejected (or accepted) sink reads as empty — a clean
    all-accept/all-reject run still resolves.

    100 TB: one hash-partitioned window over the union, shuffled on
    doc_id — the same single shuffle any exactly-once consumer of an
    at-least-once sink pays (the Delta MERGE equivalent); sink scans
    prune to the columns the consumer selects."""
    from pyspark.sql.window import Window

    def _read(path: str, verdict: bool) -> DataFrame | None:
        try:
            df = spark.read.parquet(path)
        except Exception:
            return None  # sink never written (no doc took this branch)
        return df.withColumn("accepted", F.lit(verdict))

    acc = _read(accepted_path, True)
    rej = _read(rejected_path, False)
    if acc is None and rej is None:
        raise ValueError(
            f"no gate sink readable at {accepted_path} / {rejected_path}")
    both = (acc if rej is None else rej if acc is None
            else acc.unionByName(rej))
    w = (Window.partitionBy("doc_id")
         .orderBy(F.col("_gate_epoch").asc(), F.col("accepted").desc()))
    return (
        both.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def gate_batch_full_sql(
    table: str = "documents",
    emb_table: str = "embeddings",
    split_id: int = 250,
    taint_max: float = 0.5,
    semantic_threshold_pct: int = 95,
    k: int = 8,
    iters: int = 2,
    shingle_n: int = 5,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    lsh_shingle_n: int = 1,
    min_est: float = 0.0,
) -> str:
    """DuckDB mirror of the split-half `gate_batch_full` driver entry:
    text indexes over `doc_id < split_id`, semantic index over
    `vec_id < split_id` (dense ids — the kmeans stride contract), batch
    = the upper half of both tables. Composes `gate_batch_sql` and
    `semdedup_check_sql` as derived tables."""
    from ..operators.semdedup import semdedup_check_sql

    g = gate_batch_sql(
        table,
        batch_pred=f"doc_id >= {split_id}",
        corpus_pred=f"doc_id < {split_id}",
        taint_max=taint_max, shingle_n=shingle_n,
        num_hashes=num_hashes, num_bands=num_bands,
        lsh_shingle_n=lsh_shingle_n, min_est=min_est,
    )
    s = semdedup_check_sql(emb_table, split_id=split_id, k=k,
                           iters=iters,
                           threshold_pct=semantic_threshold_pct)
    return f"""
        SELECT g.doc_id, g.contamination, g.n_near_dups,
               coalesce(s.is_dup, FALSE) AS is_semantic_dup,
               (g.contamination <= {taint_max}
                AND g.n_near_dups = 0
                AND NOT coalesce(s.is_dup, FALSE)) AS accepted
        FROM ({g}) g
        LEFT JOIN ({s}) s ON g.doc_id = s.vec_id
        ORDER BY g.doc_id
    """


def gate_batch_sql(
    table: str = "documents",
    batch_pred: str = "doc_id % 5 = 0",
    corpus_pred: str = "doc_id % 5 <> 0",
    taint_max: float = 0.5,
    shingle_n: int = 5,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    lsh_shingle_n: int = 1,
    min_est: float = 0.0,
    key: str = "doc_id",
    contamination_mode: str = "exact",
    bloom_m_bits: int = 1 << 21,
    bloom_k: int = 4,
    dedup_max_bucket: int | None = None,
) -> str:
    """DuckDB mirror of `gate_batch` where the indexes were built over
    the `corpus_pred` rows of `table` and the batch is its `batch_pred`
    rows — the oracle recomputes both indexes from scratch (exactly what
    `build_shingle_index` / `build_dedup_index` materialize). With
    `contamination_mode="bloom"` the contamination CTE mirrors the
    Bloom bitmap scoring bit-for-bit (the md5 position family both
    engines share), not the exact join — so the oracle validates the
    BLOOM computation, false positives and all."""
    from ..operators.contamination import (
        _bloom_pos_sql, _shingle_hash_sql, _shingles_list_sql)
    from ..operators.dedup import dedup_check_sql
    from ..operators.text import tokens_sql

    toks = tokens_sql("text")
    shingles = _shingles_list_sql("t", shingle_n)
    h = _shingle_hash_sql("shingle")
    pairs = dedup_check_sql(table, batch_pred, corpus_pred,
                            num_hashes, num_bands, lsh_shingle_n, min_est,
                            max_bucket=dedup_max_bucket)
    if contamination_mode == "bloom":
        m_bits, k = bloom_m_bits, bloom_k
        probe_cols = ", ".join(
            f"CAST({_bloom_pos_sql('_h', i, m_bits)} // 32 AS INT)"
            f" AS w{i}, CAST(1 AS BIGINT)"
            f" << CAST({_bloom_pos_sql('_h', i, m_bits)} % 32 AS INT)"
            f" AS b{i}"
            for i in range(k)
        )
        joins = " ".join(
            f"LEFT JOIN bitmap m{i} ON m{i}.w = probe.w{i}"
            for i in range(k)
        )
        hit = " AND ".join(
            f"(coalesce(m{i}.mask, 0) & b{i}) != 0" for i in range(k)
        )
        cont_ctes = f"""
        pos AS (SELECT unnest([{', '.join(
            _bloom_pos_sql('_h', i, m_bits) for i in range(k))}])
                    AS pos FROM csh),
        bitmap AS (
            SELECT CAST(pos // 32 AS INT) AS w,
                   bit_or(CAST(1 AS BIGINT)
                          << CAST(pos % 32 AS INT)) AS mask
            FROM pos GROUP BY 1
        ),
        probe AS (SELECT {key}, _h, {probe_cols} FROM bdist),
        cont AS (
            SELECT probe.{key},
                   round(sum(CASE WHEN {hit} THEN 1 ELSE 0 END)
                         * 1.0 / count(*), 6) AS contamination
            FROM probe {joins}
            GROUP BY 1
        ),"""
    else:
        cont_ctes = f"""
        cont AS (
            SELECT bdist.{key},
                   round(count(csh._h) * 1.0 / count(*), 6)
                       AS contamination
            FROM bdist LEFT JOIN csh ON bdist._h = csh._h
            GROUP BY 1
        ),"""
    return f"""
        WITH batch AS (SELECT * FROM {table} WHERE {batch_pred}),
        corpus AS (SELECT * FROM {table} WHERE {corpus_pred}),
        btok AS (SELECT {key}, {toks} AS t FROM batch),
        bsh AS (SELECT {key}, unnest({shingles}) AS shingle FROM btok),
        bdist AS (SELECT {key}, {h} AS _h FROM
                  (SELECT DISTINCT {key}, shingle FROM bsh)),
        ctok AS (SELECT {toks} AS t FROM corpus),
        csh AS (SELECT DISTINCT {h} AS _h FROM
                (SELECT unnest({shingles}) AS shingle FROM ctok)),
        {cont_ctes}
        nd AS (
            SELECT {key}, count(*) AS n_near_dups
            FROM ({pairs}) GROUP BY 1
        )
        SELECT b.{key},
               coalesce(cont.contamination, 0.0) AS contamination,
               coalesce(nd.n_near_dups, 0) AS n_near_dups,
               (coalesce(cont.contamination, 0.0) <= {taint_max}
                AND coalesce(nd.n_near_dups, 0) = 0) AS accepted
        FROM batch b
        LEFT JOIN cont ON b.{key} = cont.{key}
        LEFT JOIN nd ON b.{key} = nd.{key}
        ORDER BY b.{key}
    """


def gate_batch_scored(
    spark,
    batch: DataFrame,
    batch_emb: DataFrame,
    shingle_index: str,
    dedup_index: str,
    semantic_index: str,
    taint_max: float = 0.5,
    semantic_threshold_pct: int = 95,
    **gate_kwargs,
) -> DataFrame:
    """The FOUR-tier admission verdict: the model-based quality
    classifier (`operators/quality_rules.quality_logit` — stateless,
    the tier a production gate runs FIRST since it needs no index)
    stacked onto the three index tiers of `gate_batch_full`.

    Output (doc_id-ascending): doc_id, contamination, n_near_dups,
    is_semantic_dup, quality_ok, accepted — accepted requires all four
    tiers. 100 TB: the classifier tier is a shuffle-free codegen
    projection over the batch; everything else is gate_batch_full's
    corpus-size-independent cost."""
    from ..operators.quality_rules import quality_logit

    full = gate_batch_full(
        spark, batch, batch_emb, shingle_index, dedup_index,
        semantic_index, taint_max=taint_max,
        semantic_threshold_pct=semantic_threshold_pct, **gate_kwargs,
    )
    q = quality_logit(batch).select(
        "doc_id", F.col("keep").alias("quality_ok"))
    return (
        full.drop("accepted")
        .join(q, "doc_id")
        .withColumn(
            "accepted",
            (F.col("contamination") <= F.lit(taint_max))
            & (F.col("n_near_dups") == 0)
            & (~F.col("is_semantic_dup"))
            & F.col("quality_ok"),
        )
        .orderBy("doc_id")
    )


def gate_batch_scored_sql(
    table: str = "documents",
    emb_table: str = "embeddings",
    split_id: int = 250,
    taint_max: float = 0.5,
    **kwargs,
) -> str:
    """DuckDB mirror of the split-half `gate_batch_scored` entry
    (gate_batch_full_sql × quality_logit_sql on the batch half)."""
    from ..operators.quality_rules import quality_logit_sql

    g = gate_batch_full_sql(table, emb_table, split_id=split_id,
                            taint_max=taint_max, **kwargs)
    q = quality_logit_sql(table)
    return f"""
        SELECT g.doc_id, g.contamination, g.n_near_dups,
               g.is_semantic_dup, q.keep AS quality_ok,
               (g.contamination <= {taint_max}
                AND g.n_near_dups = 0
                AND NOT g.is_semantic_dup
                AND q.keep) AS accepted
        FROM ({g}) g
        JOIN ({q}) q ON q.doc_id = g.doc_id
        ORDER BY g.doc_id
    """
