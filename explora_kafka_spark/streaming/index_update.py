"""Streaming index maintenance: admitted batches appended into
materialized serving indexes, exactly-once — the thin foreachBatch
faces over the `operators/index_ledger` commit protocol: the IVF,
dedup-band and perceptual-hash faces.

The round-12 maintenance triple (append / recall-drift / list-skew)
assumed batch appends; production ingest is a STREAM of newly admitted
vectors (the corpus_gate accept side), and Structured Streaming's
foreachBatch is at-least-once — a crashed epoch is REPLAYED. A naive
`update_ivf_index` per micro-batch would therefore double-append
replayed vectors into the serving lists, silently inflating every list
the replay touches (and every downstream skew/drift audit).

`update_ivf_index(batch_id=epoch_id)` closes this with the committed
batch ledger in the index manifest (`operators/similarity.py`): a
replayed epoch id is a no-op, and a crash between the delta-dir write
and the atomic manifest swap leaves an orphan the replay overwrites —
the same exactly-once discipline `ParquetViewStore.merge` gives the
view store (reference parity: the flush/batch-id theme,
flush-kafka-stream-app.sh). This module is just the thin streaming
face over that primitive, the corpus_gate.py pattern.

100 TB: per epoch, work is O(batch) — one statistic-sized centroid
collect + a per-row exact-key argmax + one batch-sized partitioned
write; the base lists are never read or rewritten. Open delta dirs
accumulate one per epoch; `compact_ivf_index` is the OPTIMIZE job that
folds them back (scheduled by delta count, the compact_store cadence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.similarity import update_ivf_index


def ivf_index_update_stream(
    spark,
    vec_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
    stream_id: str | None = None,
    compact_after: int | None = None,
):
    """Append a streaming (vec_id, embedding) source into the IVF
    index at `index_path`, one exactly-once committed batch per
    micro-batch epoch. Returns the started StreamingQuery (callers
    awaitTermination / stop). With `available_now`, drains the
    currently-available input and finishes — the test/backfill
    trigger; continuous ingest passes False.

    `stream_id` scopes the ledger (the Delta txnAppId idea): epoch
    ids are only unique PER checkpoint, so two streams — or one
    stream restarted on a FRESH checkpoint — must not share a
    watermark or fresh epochs would read as replays and be silently
    dropped (r12 review). Defaults to the checkpoint path, which is
    stable across restarts of the same checkpoint and naturally
    distinct for a new one; pass an explicit durable id if the
    checkpoint may be relocated mid-stream.

    `compact_after` (round 13): with a threshold set, the face runs
    `compact_ivf_index` inline whenever the committed open-delta count
    exceeds it — a long-running stream no longer accumulates one
    serve-time delta scan per epoch forever (the auto-OPTIMIZE
    cadence; the trigger poll is O(1) manifest metadata and the
    snapshot-scoped compaction is concurrency-safe by design)."""
    from ..operators import index_ledger as ledger
    from ..operators.similarity import compact_ivf_index

    sid = stream_id if stream_id is not None else checkpoint

    def _apply(df: DataFrame, epoch_id: int) -> None:
        update_ivf_index(df.sparkSession, df, index_path,
                         batch_id=epoch_id, stream_id=sid)
        if (compact_after is not None
                and ledger.open_delta_count(index_path, "lists")
                > compact_after):
            compact_ivf_index(df.sparkSession, index_path, gc=False)

    writer = (
        vec_stream.writeStream
        .foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_index_update_stream(
    spark,
    doc_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
    stream_id: str | None = None,
    num_bands: int | None = None,
    shingle_n: int = 1,
    compact_after: int | None = None,
    enforce_unique: bool = True,
):
    """Append a streaming (doc_id, text) source into the banded
    MinHash dedup index at `index_path`, one exactly-once committed
    batch per micro-batch epoch (`operators/dedup.update_dedup_index`
    with the epoch id — the `ivf_index_update_stream` twin on the
    dedup axis): a replayed epoch no-ops in O(1) metadata, a crash
    between the delta write and the manifest swap leaves an orphan the
    replay overwrites, and `dedup_check` serves the committed union.
    `stream_id` defaults to the checkpoint path (the per-checkpoint
    epoch-uniqueness contract — see ivf_index_update_stream).

    100 TB: per epoch, work is O(batch) signatures + one anti-join
    probing the index's two key columns + one batch-sized write; the
    base band dirs are never rewritten. `compact_dedup_index` is the
    OPTIMIZE job when open deltas accumulate — run inline past the
    `compact_after` open-delta threshold (the ivf face's auto-OPTIMIZE
    cadence). An ingest that mints fresh doc ids per admitted batch
    passes `enforce_unique=False` to drop the per-epoch anti-join —
    the face's only index-sized cost (contract + output-invariance
    proof in `update_dedup_index`)."""
    from ..operators import index_ledger as ledger
    from ..operators.dedup import (
        NUM_BANDS, compact_dedup_index, update_dedup_index,
    )

    sid = stream_id if stream_id is not None else checkpoint
    nb = num_bands if num_bands is not None else NUM_BANDS

    def _apply(df: DataFrame, epoch_id: int) -> None:
        update_dedup_index(df, index_path, num_bands=nb,
                           shingle_n=shingle_n,
                           batch_id=epoch_id, stream_id=sid,
                           enforce_unique=enforce_unique)
        if (compact_after is not None
                and ledger.open_delta_count(index_path, "bands")
                > compact_after):
            compact_dedup_index(df.sparkSession, index_path, gc=False)

    writer = (
        doc_stream.writeStream
        .foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def phash_index_update_stream(
    spark,
    media_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    available_now: bool = True,
    stream_id: str | None = None,
    bits: int = 64,
    compact_after: int | None = None,
):
    """Append a streaming (media_id, kind, payload) source into the
    perceptual-hash media index at `index_path`, one exactly-once
    committed batch per epoch
    (`operators/multimodal.update_phash_index` with the epoch id) —
    the media tier's face, completing ledger parity across all four
    incremental index families. Same contract as
    `dedup_index_update_stream` (incl. the `compact_after`
    auto-OPTIMIZE cadence)."""
    from ..operators import index_ledger as ledger
    from ..operators.multimodal import (
        compact_phash_index, update_phash_index,
    )

    sid = stream_id if stream_id is not None else checkpoint

    def _apply(df: DataFrame, epoch_id: int) -> None:
        update_phash_index(df, index_path, bits=bits,
                           batch_id=epoch_id, stream_id=sid)
        if (compact_after is not None
                and ledger.open_delta_count(index_path, "phash")
                > compact_after):
            compact_phash_index(df.sparkSession, index_path, gc=False)

    writer = (
        media_stream.writeStream
        .foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
