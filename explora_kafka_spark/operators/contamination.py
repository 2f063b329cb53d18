"""Train/test contamination check + within-document repetition scoring.

Training-corpus hygiene operators (task-brief family, beyond the reference's
surface — the reference has no text pipeline; its closest analogue is the
per-key dedup semantics of the view store, IngestStream.java:302-394):

- **contamination**: word n-gram overlap between the deterministic train and
  test splits (`sampling.split_assign`). A test document sharing any shingle
  with the train corpus is (partially) contaminated; the score is the
  fraction of its distinct shingles seen in train. This is the standard
  decontamination primitive (e.g. GPT-3 appendix C / PaLM-style 8-gram
  overlap), expressed as one explode + two distincts + one equi-join.

- **repetition**: 1 − distinct/total word n-grams within each document —
  the cheap boilerplate/degenerate-text signal. Pure projection, no shuffle.

100 TB design: shingles are joined on a 60-bit md5-prefix hash (bigint), not
the shingle string — the shuffle ships 8-byte keys instead of ~40-byte
strings, and both engines (Spark `conv(substr(md5…))`, DuckDB
`CAST(concat('0x',…))`) compute the identical hash so the DuckDB oracle stays
exact (collisions, if any, collide identically). The distincts and the join
are plain hash-partitioned equi-ops — AQE handles skew (stop-word shingles).
At real scale the train-side distinct shingle set is the reusable artifact:
materialize it once per corpus snapshot and semi-join each candidate batch.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import index_ledger as ledger
from .sampling import DEFAULT_WEIGHTS, _sq, split_assign, split_assign_sql
from .text import norm_sql, tokens_col, tokens_sql


def word_shingles_col(toks_name: str = "_toks", n: int = 5) -> Column:
    """Array of word n-grams over a MATERIALIZED token-array column,
    referenced by NAME (the transform lambda lives inside `F.expr`, so it
    can only see the column by name — callers must `.withColumn(toks_name,
    tokens_col("text"))` first; passing a Column object is rejected to
    avoid silently reading the wrong column, per ADVICE r6).

    Empty array when the document has fewer than `n` tokens — guarded with
    CASE because Spark's `sequence(1, 0)` yields a DESCENDING [1, 0], not an
    empty range (DuckDB's `range(1, 0)` is empty; the SQL mirror needs no
    guard).
    """
    if isinstance(toks_name, Column):
        raise TypeError(
            "word_shingles_col takes the NAME of a materialized token-array"
            " column, not a Column (the F.expr transform can only reference"
            " it by name)")
    toks = F.col(toks_name)
    return F.when(
        F.size(toks) >= n,
        F.expr(
            f"transform(sequence(1, size({toks_name}) - {n - 1}),"
            f" i -> array_join(slice({toks_name}, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def _shingles_list_sql(tokens_expr: str, n: int) -> str:
    """DuckDB list comprehension mirroring `word_shingles_col` (same
    pattern as fingerprint_sql's char shingles)."""
    return (
        f"[array_to_string({tokens_expr}[i:i + {n - 1}], ' ')"
        f" FOR i IN range(1, len({tokens_expr}) - {n - 1} + 1)]"
    )


def _shingle_hash_col(shingle: Column) -> Column:
    """60-bit bigint from the md5 prefix — engine-portable join key."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("bigint")


def _shingle_hash_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def _keyed_shingle_hashes(
    docs: DataFrame,
    n: int,
    weights: Sequence[tuple[str, float]],
    key: str,
    salt: str,
) -> DataFrame:
    """(key, split, _h): each document's DISTINCT shingle hashes, one
    row per (doc, distinct shingle). The within-doc dedup happens
    MAP-SIDE via `array_distinct` on the shingle-string array — this
    replaces the old corpus-sized `(key, _h) DISTINCT` SHUFFLE with
    per-row work, which cut `decontaminate` 10.0 s → ~5 s at sf0.1 (the
    keyed side there is the train split, ~90 % of the corpus, and its
    distinct was the dominant shuffle; at 100 TB that shuffle is the
    difference between corpus-sized wire traffic and none).

    Two codegen traps dodged deliberately:
    - the md5 hash stays POST-explode (a regular projected expression in
      whole-stage codegen); hashing inside a `transform` lambda runs
      interpreted per shingle and measured 3.5× slower end-to-end.
    - `array_distinct` is a non-lambda collection expression (codegen),
      so dedup costs O(shingles) per row, not a shuffle.

    Dedup on strings-then-hash vs the old hash-then-DISTINCT differ only
    if two distinct shingle strings in one doc collide in the 60-bit
    hash (~never, but the SQL mirrors use the same string-level distinct
    so the oracle matches exactly even then).

    explode_OUTER is load-bearing, not cosmetic: plain explode makes the
    optimizer infer `size(shingles) > 0 AND isnotnull(shingles)` and
    push that filter — with the ENTIRE shingle transform inlined — below
    the _spread repartition, so every shingle was computed twice, once
    inside the single-task pre-spread scan (measured: the whole 7 s cost
    of `decontaminate` at sf0.1, and on a real cluster it would
    serialize shingling onto however many tasks the raw scan has).
    explode_outer infers nothing; the cheap `_h IS NOT NULL` post-filter
    restores identical semantics (short docs drop, as before)."""
    keyed = (
        split_assign(docs, weights, key=key, salt=salt)
        .withColumn("_toks", tokens_col("text"))
        .select(
            key, "split",
            F.array_distinct(word_shingles_col("_toks", n)).alias("_sh"),
        )
    )
    return (
        keyed.select(
            key, "split", F.explode_outer("_sh").alias("_shingle")
        )
        .select(key, "split", _shingle_hash_col(F.col("_shingle")).alias("_h"))
        .filter(F.col("_h").isNotNull())
    )


def contamination(
    docs: DataFrame,
    n: int = 5,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Per-test-document contamination against the train split.

    Output: (doc_id, n_shingles, n_contaminated, contamination) for every
    test-split document with ≥1 shingle, doc_id-ascending. `contamination`
    = n_contaminated / n_shingles over the document's DISTINCT shingles,
    rounded to 6 dp (oracle float parity).
    """
    keyed = _keyed_shingle_hashes(docs, n, weights, key, salt)
    test_sh = keyed.filter(F.col("split") == "test").select(key, "_h")
    train_sh = (
        keyed.filter(F.col("split") == "train")
        .select("_h").distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        test_sh.join(train_sh, on="_h", how="left")
        .groupBy(key)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
        )
        .orderBy(key)
    )


def contamination_sql(
    table: str = "documents",
    n: int = 5,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> str:
    """DuckDB mirror of `contamination` (split, shingles, hash identical)."""
    toks = f"string_split({norm_sql('text')}, ' ')"
    shingles = _shingles_list_sql("t", n)
    h = _shingle_hash_sql("shingle")
    return f"""
        WITH assigned AS ({split_assign_sql(table, weights, key=key, salt=salt)}),
        tok AS (SELECT {key}, split, {toks} AS t FROM assigned),
        sh AS (SELECT {key}, split, unnest({shingles}) AS shingle FROM tok),
        tsh AS (SELECT {key}, {h} AS _h FROM
                (SELECT DISTINCT {key}, shingle FROM sh
                 WHERE split = 'test')),
        trh AS (SELECT DISTINCT {h} AS _h FROM sh WHERE split = 'train')
        SELECT tsh.{key} AS {key},
               COUNT(*) AS n_shingles,
               COUNT(trh._h) AS n_contaminated,
               round(COUNT(trh._h) * 1.0 / COUNT(*), 6) AS contamination
        FROM tsh LEFT JOIN trh ON tsh._h = trh._h
        GROUP BY tsh.{key}
        ORDER BY {key}
    """


def build_contamination_index(
    docs: DataFrame,
    path: str,
    n: int = 5,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> None:
    """Materialize the train-side DISTINCT shingle-hash set once per corpus
    snapshot — the "incremental contamination" scale path promised in this
    module's header (SCALE.md): at 100 TB the train corpus is scanned,
    exploded and distinct-ed exactly once, and every incoming candidate
    batch pays only its own explode + an equi-join against the index.

    Layout: `{path}/train_shingles`, a single bigint column `_h` (the same
    60-bit md5-prefix hash `contamination` joins on), written distinct.
    Same materialize-once pattern as `similarity.build_ivf_index`. Shares
    `_keyed_shingle_hashes` so the explode-inferred-filter pushdown fix
    (see that docstring) covers the index build too."""
    train_sh = (
        _keyed_shingle_hashes(docs, n, weights, key, salt)
        .filter(F.col("split") == "train")
        .select("_h")
        .distinct()
    )
    train_sh.write.mode("overwrite").parquet(f"{path}/train_shingles")
    ledger.reset_manifest_if_present(path, "train_shingles")


def _distinct_shingle_hashes(docs: DataFrame, n: int) -> DataFrame:
    """One-column (_h) DISTINCT shingle-hash set of the given documents
    (shared by build_shingle_index / update_shingle_index)."""
    return (
        docs.withColumn("_toks", tokens_col("text"))
        .select(
            F.explode_outer(
                F.array_distinct(word_shingles_col("_toks", n))
            ).alias("_shingle"),
        )
        .select(_shingle_hash_col(F.col("_shingle")).alias("_h"))
        .filter(F.col("_h").isNotNull())
        .distinct()
    )


def build_shingle_index(
    docs: DataFrame,
    path: str,
    n: int = 5,
) -> None:
    """Materialize the DISTINCT shingle-hash set of ALL given documents
    (no split assignment) — the "everything we already hold" index a
    corpus-admission gate (`streaming/corpus_gate.py`) checks incoming
    batches against. Same layout as `build_contamination_index`
    (`{path}/train_shingles`, one bigint `_h` column) so
    `contamination_check` reads either interchangeably."""
    _distinct_shingle_hashes(docs, n).write.mode("overwrite").parquet(
        f"{path}/train_shingles")
    ledger.reset_manifest_if_present(path, "train_shingles")


def read_shingle_index(spark, path: str) -> DataFrame:
    """The index's shingle-hash set = union of the manifest's committed
    dirs (`index_ledger.committed_union`); a pre-manifest (legacy)
    index reads as the single `train_shingles` dir — fully backward
    compatible. `compact_shingle_index` folds open deltas back."""
    return ledger.committed_union(spark, path, "train_shingles")


def _spread_index(train: DataFrame) -> DataFrame:
    """Repartition a read-back index to the session's parallelism when
    its file layout underfills it (optimization round 15, guide §2.5
    input skew / §6: a compacted test-SF index reads back as 1-2
    parquet files, so the k·|rungs| position explode + bitmap fold ran
    on 2 of 32 cores — measured 1.3 s of a 3.5 s sweep). The shuffle
    moves only the 8-byte `_h` column (~2 MB at sf0.1); at production
    scale the index spans many files and this is a no-op branch."""
    target = train.sparkSession.sparkContext.defaultParallelism
    if train.rdd.getNumPartitions() >= target:
        return train
    return train.repartition(target)


def update_shingle_index(
    spark,
    docs: DataFrame,
    path: str,
    n: int = 5,
    batch_id: int | str | None = None,
    stream_id: str | None = None,
) -> bool:
    """Append newly admitted documents' shingle hashes into the index —
    the gate-learns step: once a batch is admitted to the corpus,
    re-sent copies must score contamination 1.0 against it. The new
    hashes are ANTI-JOINED against the stored set before the append:
    `contamination_check`'s LEFT join counts matches, so a duplicated
    `_h` row would silently multiply a document's hit count — the
    index must stay a set (uniqueness is the index's invariant, kept
    here, not at read time).

    With `batch_id` (e.g. a foreachBatch epoch id) and optionally
    `stream_id`, the append additionally commits through the
    exactly-once manifest ledger (`operators/index_ledger`, round 13 —
    the IVF/dedup tier parity): a replayed epoch no-ops in O(1)
    metadata without paying the explode or the index anti-join, and
    the delta dir becomes visible only at the atomic manifest swap.
    Without ids (legacy ad-hoc use), behavior is unchanged from r12:
    value-converged append into the base `train_shingles` dir. Returns
    True if applied, False on a ledger replay no-op. Same
    semantic-tier lifecycle as `semdedup.update_semantic_index` (which
    needs NO ledger: a replayed vector matches itself in the reps
    store, so its check IS its replay guard).

    **ONE writer per shingle index** (r13 advice): the set-invariant
    anti-join above reads committed state OUTSIDE the manifest lock —
    two concurrent writers (e.g. two gate streams sharing an index)
    would both anti-join against the same snapshot before either
    commits, and overlapping `_h` rows would land in BOTH committed
    deltas, multiplying `contamination_check` hit counts. The flock
    serializes the manifest swap, not the batch-sized anti-join (which
    must stay outside it — it is a Spark job, not metadata). Fan
    multiple admission streams into one index through one maintenance
    writer (distinct epochs, one stream_id), or give each stream its
    own index and union at read time; `compact_shingle_index` can fold
    a violated index back to a set (DISTINCT rewrite) as the repair
    path."""

    def _new_h() -> DataFrame:
        return (
            _distinct_shingle_hashes(docs, n)
            .join(read_shingle_index(spark, path), "_h", "left_anti")
            .localCheckpoint(eager=True)
        )

    def _write(delta_path: str) -> bool:
        rows = _new_h()
        if rows.isEmpty():
            return False
        rows.write.mode("overwrite").parquet(delta_path)
        return True

    if batch_id is None and stream_id is None:
        # legacy no-id path: on a MANIFESTED index route through an
        # unguarded ledger commit — after a compaction the base dir is
        # no longer in the manifest and a raw append there would be
        # permanently invisible to readers (r13 review)
        if os.path.exists(os.path.join(path, ledger.MANIFEST)):
            return ledger.ledger_append(path, "train_shingles",
                                        "train_shingles_delta", _write)
        _new_h().write.mode("append").parquet(f"{path}/train_shingles")
        return True

    return ledger.ledger_append(path, "train_shingles",
                                "train_shingles_delta", _write,
                                batch_id, stream_id)


def compact_shingle_index(spark, path: str, gc: bool = True) -> None:
    """Fold accumulated shingle delta dirs back into one
    (`index_ledger.compact`: snapshot-scoped fold, late deltas carried
    over, ledgers kept; `gc=False` defers folded-dir deletion to
    `vacuum_shingle_index`, the serving-safe mode). The fold rewrites
    DISTINCT `_h` — a no-op on a healthy index (appends anti-join, so
    committed dirs are disjoint) and the documented repair path for an
    index that violated the one-writer rule (`update_shingle_index`):
    duplicated hashes fold back to the set invariant."""

    def _rewrite(union: DataFrame, new_path: str) -> None:
        union.distinct().write.mode("overwrite").parquet(new_path)

    ledger.compact(spark, path, "train_shingles",
                   "train_shingles_compact", _rewrite, gc=gc)


def vacuum_shingle_index(path: str, grace_secs: float = 86400.0
                         ) -> list[str]:
    """Delete crash-orphaned shingle delta/compact dirs older than the
    grace lease (`index_ledger.vacuum`; lease rule documented there)."""
    return ledger.vacuum(
        path, "train_shingles",
        ("train_shingles_delta_", "train_shingles_compact_"),
        grace_secs)


#: The Bloom position family derives ALL members from ONE md5 digest
#: per shingle hash: member i is an 8-hex-char (32-bit) slice of
#: md5(CAST(h AS string)), taken mod m_bits. 32 hex chars / 8 = 4
#: disjoint slices, so k <= 4 — the repo-wide default. Re-pinned in
#: optimization round 15 (guide §4 per-row work, VERDICT r14 #4): the
#: former family hashed md5(i || '|' || h) per member, paying
#: k·|rungs| concat+md5+conv string round-trips per row where one
#: digest suffices; the DuckDB oracle mirrors the new family verbatim
#: (re-declared in the same commit), so both engines still produce the
#: identical bitmap bit-for-bit. Production swaps in xxhash64 slices
#: for the same layout; md5 stays the cross-engine parity convention.
_BLOOM_MAX_K = 4

#: the position family above, as `build_bloom_bitmap` tags it on its
#: `mask` column's metadata (which a parquet round trip keeps). Every
#: probe checks the tag: a bitmap folded by another family — one
#: persisted before the one-digest family, which carries no tag — sets
#: other bits, so probing it would answer silent false negatives.
BLOOM_FAMILY = "md5-slice32"
_BLOOM_TAG = "bloom_family"


def _check_bloom_family(bitmap: DataFrame) -> None:
    """Refuse a bitmap not tagged with BLOOM_FAMILY (a schema read, no
    Spark job)."""
    fields = {f.name: f for f in bitmap.schema.fields}
    family = fields["mask"].metadata.get(_BLOOM_TAG) if "mask" in fields else None
    if family != BLOOM_FAMILY:
        raise ValueError(
            f"bloom bitmap family {family!r} is not {BLOOM_FAMILY!r}: its "
            "bits come from another position family, so probes would miss "
            "members; rebuild it with build_bloom_bitmap")


def _check_bloom_k(k: int) -> None:
    if not 1 <= k <= _BLOOM_MAX_K:
        raise ValueError(
            f"bloom k must be in 1..{_BLOOM_MAX_K} (one 32-bit digest "
            f"slice per family member); got {k}")


#: largest bitmap a family member can address: each position is a
#: 32-bit digest slice mod m_bits, so bits at 2^32 and above stay unset
_BLOOM_MAX_M = 1 << 32


def _check_bloom_m(m_bits: int) -> None:
    if not 1 <= m_bits <= _BLOOM_MAX_M:
        raise ValueError(
            f"bloom m_bits must be in 1..2^32 (positions are 32-bit "
            f"digest slices); got {m_bits}")


def _bloom_digest_col(h: Column) -> Column:
    """The per-hash md5 digest every family member slices."""
    return F.md5(h.cast("string"))


def _bloom_pos_from_digest(dig: Column, i: int, m_bits: int) -> Column:
    """Family member i's bitmap position from a precomputed digest."""
    return (
        F.conv(F.substring(dig, 1 + 8 * i, 8), 16, 10).cast("bigint")
        % m_bits
    )


def _bloom_pos_col(h: Column, i: int, m_bits: int) -> Column:
    """Position of hash family member i for shingle-hash `h` in an
    m_bits Bloom bitmap (see `_BLOOM_MAX_K` for the family design)."""
    return _bloom_pos_from_digest(_bloom_digest_col(h), i, m_bits)


def _bloom_pos_sql(expr: str, i: int, m_bits: int) -> str:
    """DuckDB mirror of `_bloom_pos_col` — same digest slice, same mod.
    The repeated md5({expr}) text per member is CSE'd by DuckDB; the
    oracle runs at the small SFs where it wouldn't matter anyway."""
    return (f"CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)),"
            f" {1 + 8 * i}, 8)) AS BIGINT)"
            f" % {m_bits}")


def _batch_shingle_hashes(batch: DataFrame, n: int, key: str) -> DataFrame:
    """(key, _h): the batch documents' DISTINCT shingle hashes — the
    probe side shared by `contamination_check`, the Bloom audit and
    the Bloom gate path. explode_outer + notNull post-filter: same
    inferred-filter-pushdown dodge as `_keyed_shingle_hashes` (see its
    docstring)."""
    return (
        batch.withColumn("_toks", tokens_col("text"))
        .select(
            key,
            F.explode_outer(
                F.array_distinct(word_shingles_col("_toks", n))
            ).alias("_shingle"),
        )
        .select(key, _shingle_hash_col(F.col("_shingle")).alias("_h"))
        .filter(F.col("_h").isNotNull())
    )


def build_bloom_bitmap(spark, index_path: str, m_bits: int = 1 << 21,
                       k: int = 4) -> DataFrame:
    """Fold the materialized train-shingle index into an m_bits Bloom
    bitmap: a STATISTIC-SIZED (<= m_bits/32 rows) table of packed
    32-bit words `(w int, mask bigint)`, localCheckpointed so the k
    probe joins it feeds scan the tiny fold, not the index (Spark does
    not dedupe common subplans — the cluster_source_mi lesson). Bits
    live in 32-bit words so shift/bit_or arithmetic is exact and
    overflow-free on BOTH engines. One linear pass over the index;
    bit_or is commutative, so production can instead MERGE a delta's
    fold into a stored bitmap incrementally (the HLL property). `mask`
    carries the BLOOM_FAMILY tag every probe checks."""
    _check_bloom_k(k)
    _check_bloom_m(m_bits)
    train = _spread_index(read_shingle_index(spark, index_path))
    pos = F.explode(F.array(*[
        _bloom_pos_from_digest(F.col("_dig"), i, m_bits) for i in range(k)
    ])).alias("pos")
    return (
        train.select(_bloom_digest_col(F.col("_h")).alias("_dig"))
        .select(pos)
        .select(
            F.expr("CAST(pos DIV 32 AS INT)").alias("w"),
            F.expr("shiftleft(1L, CAST(pos % 32 AS INT))").alias("m"),
        )
        .groupBy("w").agg(F.expr("bit_or(m)").alias(
            "mask", metadata={_BLOOM_TAG: BLOOM_FAMILY}))
    ).localCheckpoint(eager=True)


def _bloom_probe(probes: DataFrame, bitmap: DataFrame, m_bits: int,
                 k: int) -> DataFrame:
    """Attach `_bloom` (int 0/1) to a (key, _h) probe table: k
    digest-slice positions per hash (ONE md5 per row — reused from a
    caller-provided `_dig` column when present, so the sweep's rung
    chain hashes each probe once, not once per rung), each resolved
    against the broadcast bitmap's word, hit = all k bits set. k
    broadcast hash joins against a ~256 KB table — no shuffle of the
    probe side. Raises on a bitmap without the BLOOM_FAMILY tag."""
    from functools import reduce as _reduce
    from operator import and_ as _and

    _check_bloom_k(k)
    _check_bloom_m(m_bits)
    _check_bloom_family(bitmap)
    had_dig = "_dig" in probes.columns
    if not had_dig:
        probes = probes.withColumn("_dig", _bloom_digest_col(F.col("_h")))
    for i in range(k):
        probes = (
            probes
            .withColumn(f"_p{i}",
                        _bloom_pos_from_digest(F.col("_dig"), i, m_bits))
            .withColumn(f"_w{i}", F.expr(f"CAST(_p{i} DIV 32 AS INT)"))
            .withColumn(f"_b{i}", F.expr(
                f"shiftleft(1L, CAST(_p{i} % 32 AS INT))"))
        )
    if not had_dig:
        probes = probes.drop("_dig")
    for i in range(k):
        bm = bitmap.select(F.col("w").alias(f"_w{i}"),
                           F.col("mask").alias(f"_m{i}"))
        probes = probes.join(F.broadcast(bm), f"_w{i}", "left")
    bloom_hit = _reduce(_and, [
        (F.coalesce(F.col(f"_m{i}"), F.lit(0)).bitwiseAND(
            F.col(f"_b{i}")) != 0)
        for i in range(k)
    ])
    return probes.withColumn("_bloom", bloom_hit.cast("int"))


def contamination_check_bloom(
    spark,
    batch: DataFrame,
    index_path: str,
    n: int = 5,
    m_bits: int = 1 << 21,
    k: int = 4,
    key: str = "doc_id",
    bitmap: DataFrame | None = None,
) -> DataFrame:
    """`contamination_check`'s Bloom scale path — SAME output schema
    (key, n_shingles, n_contaminated, contamination), key-ascending,
    but scored by k broadcast bitmap probes instead of the `_h`
    equi-join against the index: the admission gate's per-batch cost
    drops from an O(index) shuffle join to k lookups against a ~256 KB
    broadcast the executor holds in L2 (the `contamination_bloom_audit`
    docstring carries the full trade analysis and the audited
    false-positive pricing). `n_contaminated` here is the Bloom UPPER
    BOUND on the exact count — never below it (no false negatives), so
    a gate thresholding `contamination <= taint_max` in this mode can
    only over-reject, never leak held-out content. Pass a pre-built
    `bitmap` (`build_bloom_bitmap`) to amortize the index fold across
    micro-batches when the index is static between corpus snapshots; an
    untagged one raises (`_bloom_probe`)."""
    if bitmap is None:
        bitmap = build_bloom_bitmap(spark, index_path, m_bits, k)
    probes = _batch_shingle_hashes(batch, n, key)
    return (
        _bloom_probe(probes, bitmap, m_bits, k)
        .groupBy(key)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("_bloom").alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
        )
        .orderBy(key)
    )


def contamination_bloom_audit(
    spark,
    batch: DataFrame,
    index_path: str,
    n: int = 5,
    m_bits: int = 1 << 21,
    k: int = 4,
    key: str = "doc_id",
) -> DataFrame:
    """Bloom-filter scale path for the contamination gate, AUDITED
    against the exact index join (the `distinct_users_daily_hll_audit`
    pattern: the sketch runs next to its exact twin so the oracle can
    pin both). The materialized train-shingle set folds into an
    m_bits-bit Bloom bitmap — a STATISTIC-SIZED (m_bits/32 words of
    packed 32-bit masks in bigints) mergeable sketch — and each batch
    shingle is checked with k membership probes against the
    broadcast bitmap instead of the `_h` equi-join. Output,
    key-ascending:

        (key, n_shingles, n_contaminated, n_bloom_hits, n_false_pos)

    n_bloom_hits >= n_contaminated always (Bloom filters have no
    false negatives — the oracle equality proves it on every row);
    n_false_pos prices the m_bits/k config against the corpus the way
    `ann_recall_*` prices the ANN approximations. Bits live in 32-bit
    words (mask < 2^32) so the shift/bit_or arithmetic is exact and
    overflow-free on BOTH engines (a 1<<63 mask is engine-dependent).

    100 TB: the gate's per-batch cost drops from an O(index) shuffle
    equi-join to k broadcast lookups against a ~256 KB bitmap that an
    executor holds in L2 — the trade a streaming admission gate wants
    when the train-shingle set outgrows the broadcast-join budget; the
    bitmap rebuilds from the index in one linear pass (or merges
    incrementally: bit_or is commutative, the HLL property). The
    exact join here exists for the AUDIT — production serves from the
    sketch alone and re-audits on a sample cadence."""
    train = read_shingle_index(spark, index_path)
    bitmap = build_bloom_bitmap(spark, index_path, m_bits, k)
    probes = _batch_shingle_hashes(batch, n, key)
    scored = (
        _bloom_probe(probes, bitmap, m_bits, k)
        .join(train.withColumn("_hit", F.lit(1)), "_h", "left")
    )
    return (
        scored.groupBy(key)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
            F.sum("_bloom").alias("n_bloom_hits"),
        )
        .withColumn("n_false_pos",
                    F.col("n_bloom_hits") - F.col("n_contaminated"))
        .orderBy(key)
    )


def contamination_bloom_audit_sql(
    table: str = "documents",
    n: int = 5,
    m_bits: int = 1 << 21,
    k: int = 4,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> str:
    """DuckDB mirror of :func:`contamination_bloom_audit` where the
    index holds the train split and the batch is the test split (the
    `contamination_sql` split convention) — bitmap, probe positions
    and masks recomputed bit-for-bit (32-bit words, bit_or)."""
    toks = f"string_split({norm_sql('text')}, ' ')"
    shingles = _shingles_list_sql("t", n)
    h = _shingle_hash_sql("shingle")
    probe_cols = ", ".join(
        f"CAST({_bloom_pos_sql('_h', i, m_bits)} // 32 AS INT) AS w{i},"
        f" CAST(1 AS BIGINT)"
        f" << CAST({_bloom_pos_sql('_h', i, m_bits)} % 32 AS INT) AS b{i}"
        for i in range(k)
    )
    joins = " ".join(
        f"LEFT JOIN bitmap m{i} ON m{i}.w = probe.w{i}"
        for i in range(k)
    )
    hit = " AND ".join(
        f"(coalesce(m{i}.mask, 0) & b{i}) != 0" for i in range(k)
    )
    return f"""
        WITH assigned AS ({split_assign_sql(table, weights, key=key,
                                            salt=salt)}),
        tok AS (SELECT {key}, split, {toks} AS t FROM assigned),
        sh AS (SELECT {key}, split, unnest({shingles}) AS shingle
               FROM tok),
        trh AS (SELECT DISTINCT {h} AS _h FROM sh
                WHERE split = 'train'),
        tsh AS (SELECT {key}, {h} AS _h FROM
                (SELECT DISTINCT {key}, shingle FROM sh
                 WHERE split = 'test')),
        pos AS (SELECT unnest([{', '.join(
            _bloom_pos_sql('_h', i, m_bits) for i in range(k))}])
                    AS pos FROM trh),
        bitmap AS (
            SELECT CAST(pos // 32 AS INT) AS w,
                   bit_or(CAST(1 AS BIGINT)
                          << CAST(pos % 32 AS INT)) AS mask
            FROM pos GROUP BY 1
        ),
        probe AS (SELECT {key}, _h, {probe_cols} FROM tsh),
        hits AS (
            SELECT probe.{key} AS {key}, probe._h AS _h,
                   CASE WHEN {hit} THEN 1 ELSE 0 END AS bloom
            FROM probe {joins}
        )
        SELECT hits.{key} AS {key},
               COUNT(*) AS n_shingles,
               COUNT(trh._h) AS n_contaminated,
               CAST(sum(bloom) AS BIGINT) AS n_bloom_hits,
               CAST(sum(bloom) - COUNT(trh._h) AS BIGINT)
                   AS n_false_pos
        FROM hits LEFT JOIN trh ON hits._h = trh._h
        GROUP BY hits.{key}
        ORDER BY {key}
    """


def contamination_bloom_sweep(
    spark,
    batch: DataFrame,
    index_path: str,
    n: int = 5,
    m_list: Sequence[int] = (1 << 18, 1 << 20, 1 << 22),
    k: int = 4,
    key: str = "doc_id",
) -> DataFrame:
    """Price the Bloom bitmap-size dial BEFORE committing a gate to
    it (the `tune_nprobe` / `contamination_sweep` convention: one
    corpus-level row per rung, every number exact-integer and
    oracle-pinned). For each m_bits rung the full audit runs and
    reduces to:

        (m_bits, n_shingles, n_contaminated, n_bloom_hits, fp_ppm)

    fp_ppm = false positives per million CLEAN probe shingles —
    the observed false-positive rate to hold against the gate's
    budget; pick the smallest m whose fp_ppm clears it. Rungs use
    disjoint position families only through `% m`, so they are
    independent filters (fp_ppm is expected, not guaranteed, to fall
    with m — the sweep measures, it does not assume).

    Cost (optimization round 14, guide §2.4 — remove redundant passes):
    the probe-shingle derivation and the exact `_h` index join are
    RUNG-INVARIANT, so they run ONCE; only the k bitmap probes differ
    per rung. One pass folds every rung's bitmap from a single index
    scan (positions tagged by m, grouped by (m, word)); the scored
    probe table chains the per-rung broadcast probes and reduces in a
    single global aggregate, unpivoted to one row per rung. The former
    shape ran the FULL audit per rung — len(m_list) tokenize/shingle
    passes over the batch, len(m_list) index folds and len(m_list)
    exact joins; every number is bit-identical (global sums equal the
    summed per-key audit rows), so the DuckDB mirror is unchanged."""
    _check_bloom_k(k)
    for m in m_list:
        _check_bloom_m(m)
    train = read_shingle_index(spark, index_path)
    # one fold, every rung: ~sum(m/32) rows, statistic-sized. ONE md5
    # digest per index hash feeds every (rung, member) position — the
    # k·|m_list| entries differ only in slice offset and modulus.
    entries = [
        F.struct(
            F.lit(m).cast("bigint").alias("m"),
            _bloom_pos_from_digest(F.col("_dig"), i, m).alias("pos"),
        )
        for m in m_list for i in range(k)
    ]
    bitmaps = (
        _spread_index(train)
        .select(_bloom_digest_col(F.col("_h")).alias("_dig"))
        .select(F.explode(F.array(*entries)).alias("e"))
        .select(
            F.col("e.m").alias("m"),
            F.expr("CAST(e.pos DIV 32 AS INT)").alias("w"),
            F.expr("shiftleft(1L, CAST(e.pos % 32 AS INT))").alias("mk"),
        )
        .groupBy("m", "w").agg(F.expr("bit_or(mk)").alias(
            "mask", metadata={_BLOOM_TAG: BLOOM_FAMILY}))
    ).localCheckpoint(eager=True)
    scored = (
        _batch_shingle_hashes(batch, n, key)
        .join(train.withColumn("_hit", F.lit(1)), "_h", "left")
        # one probe digest for ALL rungs: _bloom_probe reuses `_dig`
        .withColumn("_dig", _bloom_digest_col(F.col("_h")))
    )
    tmp = [f"_{x}{i}" for i in range(k) for x in ("p", "w", "b", "m")]
    for m in m_list:
        bm = bitmaps.filter(F.col("m") == m).select("w", "mask")
        scored = (
            _bloom_probe(scored, bm, m, k)
            .withColumnRenamed("_bloom", f"_bl_{m}")
            .drop(*tmp)
        )
    agg = scored.agg(
        F.count("*").alias("n_shingles"),
        F.count("_hit").alias("n_contaminated"),
        *[F.sum(f"_bl_{m}").alias(f"_hits_{m}") for m in m_list],
    )
    rows = agg.select(F.explode(F.array(*[
        F.struct(
            F.lit(m).cast("bigint").alias("m_bits"),
            F.col("n_shingles"),
            F.col("n_contaminated"),
            F.col(f"_hits_{m}").alias("n_bloom_hits"),
        )
        for m in m_list
    ])).alias("r")).select("r.*")
    return rows.select(
        "m_bits", "n_shingles", "n_contaminated", "n_bloom_hits",
        F.expr("(n_bloom_hits - n_contaminated) * 1000000"
               " DIV greatest(n_shingles - n_contaminated, 1)")
        .alias("fp_ppm"),
    ).orderBy("m_bits")


def contamination_bloom_sweep_sql(
    table: str = "documents",
    n: int = 5,
    m_list: Sequence[int] = (1 << 18, 1 << 20, 1 << 22),
    k: int = 4,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> str:
    """DuckDB mirror of :func:`contamination_bloom_sweep`: each rung
    aggregates the rung's audit mirror; UNION ALL, m-ascending."""
    rungs = []
    for m_bits in m_list:
        inner = contamination_bloom_audit_sql(
            table, n, m_bits, k, weights, key, salt)
        rungs.append(f"""
            SELECT CAST({m_bits} AS BIGINT) AS m_bits,
                   CAST(sum(n_shingles) AS BIGINT) AS n_shingles,
                   CAST(sum(n_contaminated) AS BIGINT)
                       AS n_contaminated,
                   CAST(sum(n_bloom_hits) AS BIGINT) AS n_bloom_hits,
                   CAST((sum(n_bloom_hits) - sum(n_contaminated))
                        * 1000000
                        // greatest(sum(n_shingles)
                                    - sum(n_contaminated), 1)
                        AS BIGINT) AS fp_ppm
            FROM ({inner})
        """)
    return " UNION ALL ".join(rungs) + " ORDER BY m_bits"


def contamination_check(
    spark,
    batch: DataFrame,
    index_path: str,
    n: int = 5,
    key: str = "doc_id",
) -> DataFrame:
    """Score an incoming document batch against a materialized train-shingle
    index (`build_contamination_index`) — result-identical to `contamination`
    when `batch` is the test split of the indexed corpus (the equality is
    pinned by tests/test_contamination.py and the shared DuckDB oracle), but
    the train corpus is never re-scanned.

    Output schema matches `contamination`: (key, n_shingles, n_contaminated,
    contamination), key-ascending, over the batch's DISTINCT shingles.

    100 TB: the index read is a column-pruned scan of 8-byte keys; the join
    is a plain hash equi-join both sides of which are distinct-compacted —
    AQE handles stop-word-shingle skew as in the one-shot path."""
    train_sh = (
        read_shingle_index(spark, index_path)
        .withColumn("_hit", F.lit(1))
    )
    batch_sh = _batch_shingle_hashes(batch, n, key)
    return (
        batch_sh.join(train_sh, on="_h", how="left")
        .groupBy(key)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
        )
        .orderBy(key)
    )


def repetition(docs: DataFrame, n: int = 3, key: str = "doc_id") -> DataFrame:
    """Within-document repeated n-gram ratio: 1 − distinct/total word
    n-grams (0.0 for documents with < n tokens). Pure projection — no
    shuffle, trivially scale-safe.

    Output: (doc_id, n_grams, n_distinct, repetition), doc_id-ascending.
    """
    docs = docs.withColumn("_toks", tokens_col("text")).withColumn(
        "_sh", word_shingles_col("_toks", n)
    )
    n_grams = F.size("_sh").cast("long")
    n_distinct = F.size(F.array_distinct("_sh")).cast("long")
    return (
        docs.select(
            key,
            n_grams.alias("n_grams"),
            n_distinct.alias("n_distinct"),
            F.when(
                n_grams > 0,
                F.round(F.lit(1.0) - n_distinct / n_grams, 6),
            ).otherwise(F.lit(0.0)).alias("repetition"),
        )
        .orderBy(key)
    )


def repetition_sql(table: str = "documents", n: int = 3,
                   key: str = "doc_id") -> str:
    toks = f"string_split({norm_sql('text')}, ' ')"
    shingles = _shingles_list_sql("t", n)
    return f"""
        WITH tok AS (SELECT {key}, {toks} AS t FROM {table}),
        sh AS (SELECT {key}, {shingles} AS g FROM tok)
        SELECT {key},
               CAST(len(g) AS BIGINT) AS n_grams,
               CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
               CASE WHEN len(g) > 0
                    THEN round(1.0 - len(list_distinct(g)) * 1.0 / len(g), 6)
                    ELSE 0.0 END AS repetition
        FROM sh
        ORDER BY {key}
    """


def decontaminate(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 5,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """The APPLY side of decontamination: score every TRAIN-split
    document against the TEST split's distinct shingle set (the mirror
    image of `contamination`, which scores test docs against train) and
    flag the ones to drop — a train document whose shingle overlap with
    the benchmark exceeds `threshold` leaks evaluation data and must
    leave the corpus (the GPT-3 appendix-C remedy applied in the
    direction that actually edits the training set).

    Output: (key, n_shingles, n_tainted, taint, kept) for every
    train-split document with >= 1 shingle, key-ascending; `kept` =
    (taint <= threshold). Emitting the full scored report rather than
    the filtered corpus keeps the drop auditable — the caller composes
    `.filter("kept")` (driver policy, same contract as segment_dedup's
    empty survivors).

    100 TB: identical plan shape to `contamination` with the sides
    swapped — when decontaminating against a real benchmark suite the
    TEST shingle set is tiny and AQE broadcasts it into every train
    batch at runtime; under `split_assign`'s fractional split it is
    corpus-proportional, which is exactly why no broadcast is FORCED
    here (a hint would blow the 8 GB table limit on a large corpus —
    strategy choice belongs to runtime sizes).
    """
    keyed = _keyed_shingle_hashes(docs, n, weights, key, salt)
    train_sh = keyed.filter(F.col("split") == "train").select(key, "_h")
    # no broadcast hint: split_assign makes the test side a FRACTION of
    # the corpus, not a fixed benchmark size, so a forced broadcast
    # would blow the 8 GB table limit on a large corpus — let AQE pick
    # the strategy from runtime sizes (it broadcasts when genuinely
    # small, as when decontaminating against a real benchmark suite)
    test_sh = (
        keyed.filter(F.col("split") == "test")
        .select("_h").distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        train_sh.join(test_sh, on="_h", how="left")
        .groupBy(key)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_tainted"),
        )
        .withColumn(
            "taint", F.round(F.col("n_tainted") / F.col("n_shingles"), 6)
        )
        .withColumn("kept", F.col("taint") <= F.lit(threshold))
        .orderBy(key)
    )


def decontaminate_sql(
    table: str = "documents",
    threshold: float = 0.5,
    n: int = 5,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> str:
    """DuckDB mirror of `decontaminate`."""
    toks = f"string_split({norm_sql('text')}, ' ')"
    shingles = _shingles_list_sql("t", n)
    h = _shingle_hash_sql("shingle")
    return f"""
        WITH assigned AS ({split_assign_sql(table, weights, key=key, salt=salt)}),
        tok AS (SELECT {key}, split, {toks} AS t FROM assigned),
        sh AS (SELECT {key}, split, unnest({shingles}) AS shingle FROM tok),
        trh AS (SELECT {key}, {h} AS _h FROM
                (SELECT DISTINCT {key}, shingle FROM sh
                 WHERE split = 'train')),
        tsh AS (SELECT DISTINCT {h} AS _h FROM sh WHERE split = 'test'),
        scored AS (
            SELECT trh.{key} AS {key},
                   COUNT(*) AS n_shingles,
                   COUNT(tsh._h) AS n_tainted,
                   round(COUNT(tsh._h) * 1.0 / COUNT(*), 6) AS taint
            FROM trh LEFT JOIN tsh ON trh._h = tsh._h
            GROUP BY trh.{key}
        )
        SELECT {key}, n_shingles, n_tainted, taint,
               taint <= {threshold} AS kept
        FROM scored
        ORDER BY {key}
    """


def contamination_sweep(
    docs: DataFrame,
    rungs: Sequence[int] = (10, 20, 30, 40, 50, 60, 70, 80, 90),
    n: int = 5,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Price the `taint_max` dial — the contamination-tier twin of
    `dedup_sweep`/`semdedup_sweep`, completing the set (every
    admission threshold in the gate now carries a priced curve): from
    ONE shingle-overlap scan (`contamination`'s own join), how many
    test documents would each contamination cutoff reject?

    Output: (taint_max_pct, n_rejected, n_passed) over the test-split
    docs with ≥1 shingle, rung-ascending. `contamination` is a round-6
    ratio, so the ×100 comparison is the same float in both engines.

    100 TB: the per-doc contamination table is `contamination`'s own
    cost; the sweep adds ONE |rungs|-column conditional aggregate
    (scalar probe row — the dedup_sweep precedent)."""
    per_doc = contamination(docs, n, weights, key, salt)
    # ONE execution of the overlap pipeline: n_docs rides the same
    # aggregate as the rung counters (round 14 — the separate
    # per_doc.count() ran the whole contamination join a second time)
    row = per_doc.agg(
        F.count("*").alias("_n"),
        *[
            F.count(F.when(F.col("contamination") * 100 > r, True))
            .alias(f"_{r}")
            for r in rungs
        ]).collect()[0]
    n_docs = int(row["_n"])
    data = [(int(r), int(row[f"_{r}"]), n_docs - int(row[f"_{r}"]))
            for r in rungs]
    return docs.sparkSession.createDataFrame(
        data, "taint_max_pct int, n_rejected bigint, n_passed bigint")


def contamination_sweep_sql(
    table: str = "documents",
    rungs: Sequence[int] = (10, 20, 30, 40, 50, 60, 70, 80, 90),
    n: int = 5,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> str:
    """DuckDB mirror of `contamination_sweep`."""
    inner = contamination_sql(table, n, weights, key, salt)
    vals = ", ".join(f"({r})" for r in rungs)
    return f"""
        WITH c AS ({inner}),
        nd AS (SELECT count(*) AS n_docs FROM c)
        SELECT r AS taint_max_pct,
               (SELECT count(*) FROM c WHERE contamination * 100 > r)
                   AS n_rejected,
               n_docs - (SELECT count(*) FROM c
                         WHERE contamination * 100 > r) AS n_passed
        FROM (VALUES {vals}) t(r), nd
        ORDER BY 1
    """


def contamination_width_audit(
    docs: DataFrame,
    n_narrow: int = 5,
    n_wide: int = 13,
    taint_pct: int = 30,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Contamination at a SECOND shingle width (VERDICT r10 #5b) —
    the suffix-array-free stand-in for exact-substring decontamination:
    a narrow shingle (n=5, this module's default) catches short
    verbatim spans but can fire on incidental phrase reuse; a wide
    shingle (n=13, the GPT-3 decontamination n-gram; Brown et al. 2020
    appendix C) only fires on long verbatim runs. The audit joins the
    per-doc contamination at BOTH widths and flags the narrow-only
    documents — the "short-match false positive" set a decontamination
    pipeline reviews before dropping training data.

    Output per test-split document that has at least one NARROW shingle
    (doc_id-ascending; the audit is driven off the narrow-width frame,
    so a doc shorter than n_narrow tokens has no row at all — it cannot
    be contaminated at either width): doc_id, contam_narrow,
    contam_wide (NULL when the doc is shorter than n_wide tokens — no
    wide shingle exists), flagged_narrow, flagged_wide, narrow_only.
    Flags use the same round-6 ratio × 100 > taint_pct comparison as
    `contamination_sweep` (identical float on both engines).

    100 TB: two shingle-overlap scans (one per width — each is
    `contamination`'s own banded equi-join cost) + ONE doc-keyed join
    of the two statistic-sized per-doc tables; widths could share the
    tokenization pass if this audit ever runs hot."""
    a = contamination(docs, n_narrow, weights, key, salt).select(
        key,
        F.col("contamination").alias("contam_narrow"))
    b = contamination(docs, n_wide, weights, key, salt).select(
        key,
        F.col("contamination").alias("contam_wide"))
    fn = F.col("contam_narrow") * 100 > taint_pct
    fw = F.coalesce(F.col("contam_wide") * 100 > taint_pct, F.lit(False))
    return (
        a.join(b, key, "left")
        .select(
            key, "contam_narrow", "contam_wide",
            fn.alias("flagged_narrow"),
            fw.alias("flagged_wide"),
            (fn & ~fw).alias("narrow_only"),
        )
        .orderBy(key)
    )


def contamination_width_audit_sql(
    table: str = "documents",
    n_narrow: int = 5,
    n_wide: int = 13,
    taint_pct: int = 30,
    weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
    key: str = "doc_id",
    salt: str = "split",
) -> str:
    """DuckDB mirror of `contamination_width_audit`."""
    na = contamination_sql(table, n_narrow, weights, key, salt)
    wi = contamination_sql(table, n_wide, weights, key, salt)
    return f"""
        WITH a AS ({na}), b AS ({wi})
        SELECT a.{key} AS {key},
               a.contamination AS contam_narrow,
               b.contamination AS contam_wide,
               a.contamination * 100 > {taint_pct} AS flagged_narrow,
               coalesce(b.contamination * 100 > {taint_pct}, FALSE)
                   AS flagged_wide,
               (a.contamination * 100 > {taint_pct}) AND NOT
               coalesce(b.contamination * 100 > {taint_pct}, FALSE)
                   AS narrow_only
        FROM a LEFT JOIN b ON a.{key} = b.{key}
        ORDER BY {key}
    """


def source_overlap(docs: DataFrame, n: int = 5) -> DataFrame:
    """Directed cross-source shingle-overlap matrix — the corpus-MIXING
    diagnostic this module's per-document checks don't answer: before
    adding source B to a mixture that already contains source A, how
    much of B is A already providing? (The reference has no corpus
    layer; extension surface like `corpus_report`.)

    Output: (source_a, source_b, n_shared, overlap_ppm) for every
    ordered source pair sharing >= 1 distinct shingle, (a, b)-ascending.
    `overlap_ppm` = floor(1e6 * |shingles(a) ∩ shingles(b)| /
    |shingles(a)|) over each source's DISTINCT shingle-hash set —
    integer ppm so the two engines never disagree on float division.
    Zero-overlap pairs are omitted (emitting them would need a
    sources×sources cross join for rows carrying only zeros).

    100 TB: the corpus is tokenized/exploded ONCE; the per-source
    distinct is one (source, hash)-keyed shuffle of shingle size; the
    matrix itself is a hash-keyed self equi-join whose per-key fan-out
    is bounded by the NUMBER OF SOURCES (each side is per-source
    distinct), never by document count — a stop-phrase shingle costs
    S^2 rows, not corpus^2. Totals join is a tiny broadcast.
    """
    sh = (
        docs.withColumn("_toks", tokens_col("text"))
        .select(
            "source",
            F.array_distinct(word_shingles_col("_toks", n)).alias("_sh"),
        )
        .select("source", F.explode_outer("_sh").alias("_shingle"))
        .select("source", _shingle_hash_col(F.col("_shingle")).alias("_h"))
        .filter(F.col("_h").isNotNull())
        .distinct()
        # materialize once: the per-source distinct set feeds BOTH sides
        # of the self-join AND the totals broadcast — without the
        # checkpoint the tokenize/shingle/distinct subtree executes 3×
        # (round 14; localCheckpoint over persist per the repo's
        # array-column convention)
        .localCheckpoint(eager=True)
    )
    totals = sh.groupBy("source").agg(F.count("*").alias("_n_total"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "_h")
        .filter(F.col("a.source") != F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(totals.withColumnRenamed("source", "source_a")),
            "source_a",
        )
        .select(
            "source_a", "source_b", "n_shared",
            F.expr("div(n_shared * 1000000, _n_total)").alias("overlap_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


def source_overlap_sql(table: str = "documents", n: int = 5) -> str:
    """DuckDB mirror of :func:`source_overlap` (same tokenizer, shingle
    window and 60-bit hash; DISTINCT applied at hash level on both
    sides so even a 60-bit collision cannot split the engines)."""
    toks = f"{tokens_sql('text')}"
    shingles = _shingles_list_sql("t", n)
    h = _shingle_hash_sql("shingle")
    return f"""
        WITH tok AS (SELECT source, {toks} AS t FROM {table}),
        sh0 AS (SELECT source, unnest({shingles}) AS shingle FROM tok),
        sh AS (SELECT DISTINCT source, {h} AS _h FROM sh0),
        tot AS (SELECT source, count(*) AS _n_total FROM sh GROUP BY source)
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared,
               (count(*) * 1000000) // any_value(tot._n_total) AS overlap_ppm
        FROM sh a JOIN sh b ON a._h = b._h AND a.source <> b.source
        JOIN tot ON tot.source = a.source
        GROUP BY a.source, b.source
        ORDER BY source_a, source_b
    """
