"""Similarity search over `embeddings(vec_id, embedding array<float>,
label)`: brute-force cosine top-k (the exact baseline) and a sign-LSH
bucketed variant (the scale path).

Design for 100 TB:
- brute-force = broadcast the (small) query set against the full vector
  table — one pass, no shuffle of the big side, exact results. Linear in
  corpus size; use only when the query set is small.
- LSH = random-hyperplane sign buckets. Hyperplane weights are
  DETERMINISTIC (derived from md5, computed once driver-side and inlined
  as literals), so bucketing is a pure projection on both sides and the
  candidate join is an equi-join on the bucket id — no cartesian
  product, shuffle bounded by bucket collisions. Determinism also makes
  the whole operator expressible in ANSI SQL, so even the approximate
  path is value-checked by the DuckDB oracle (same algorithm, same
  buckets, same result).

Cosine is computed in float64 with strict left-to-right summation on
both engines (Spark `aggregate`, DuckDB `list_sum` over an ordered
comprehension) so values agree to rounding.
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import index_ledger as ledger

DIM = 64
NUM_PLANES = 8

#: target expected bucket occupancy for adaptive plane counts — in-bucket
#: candidate pairs then stay ~n·target/2 (linear in corpus size) instead of
#: O(n²/2^planes) with a fixed plane count
TARGET_BUCKET_SIZE = 16
MAX_PLANES = 24


def adaptive_planes(
    n_rows: int,
    target_bucket: int = TARGET_BUCKET_SIZE,
    floor: int = NUM_PLANES,
    cap: int = MAX_PLANES,
) -> int:
    """Hyperplane count for a corpus of `n_rows` vectors: enough sign bits
    that expected bucket occupancy ≈ `target_bucket`, i.e.
    planes = ceil(log2(n / target)), clamped to [floor, cap].

    This is what makes sign-LSH scale-safe: candidate pairs per bucket are
    O(occupancy²), so holding occupancy constant keeps the total candidate
    count LINEAR in n (each 2× corpus growth adds one plane / halves each
    bucket). At the driver's sf0.01 (500 vectors) this returns the floor
    (8 planes), so the pinned SQL oracles are unchanged."""
    if n_rows <= target_bucket:
        return floor
    return max(floor, min(cap, math.ceil(math.log2(n_rows / target_bucket))))


def _plane_weight(p: int, d: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1): 60 bits of
    md5(f"{p}|{d}") scaled. Same constants are inlined in the SQL oracle."""
    h = hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:15]
    return int(h, 16) / float(1 << 59) - 1.0


def hyperplanes(num_planes: int = NUM_PLANES, dim: int = DIM) -> list[list[float]]:
    return [[_plane_weight(p, d) for d in range(dim)] for p in range(num_planes)]


# ---------------------------------------------------------------------------
# expression builders (Spark expr + DuckDB mirror)
# ---------------------------------------------------------------------------


def _dot_spark(a: str, b: str) -> str:
    """Strict sequential float64 dot product."""
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>),"
        f" (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def cosine_expr_spark(a: str, b: str) -> str:
    """Exact rerank cosine. A zero vector on either side is defined as
    cosine 0 (the coarse key-0 convention): the denominator is zero
    exactly when the numerator is, so plain division would be 0/0 —
    a hard SparkArithmeticException under ANSI while DuckDB floats
    through to NaN (round-11 self-review). try_divide -> NULL ->
    coalesce evaluates every dot aggregate ONCE and is bit-identical
    to the bare division for every nonzero denominator."""
    return (
        f"coalesce(try_divide({_dot_spark(a, b)},"
        f" sqrt({_dot_spark(a, a)}) * sqrt({_dot_spark(b, b)})),"
        f" CAST(0 AS DOUBLE))"
    )


def _dot_duck(a: str, b: str, dim: int = DIM) -> str:
    return (
        f"list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
        f" FOR i IN range(1, {dim} + 1)])"
    )


def cosine_expr_duck(a: str, b: str, dim: int = DIM) -> str:
    """DuckDB mirror of `cosine_expr_spark` (zero vector -> cosine 0
    via nullif so every dot evaluates once; bit-identical to the bare
    division for every nonzero denominator)."""
    return (
        f"coalesce(({_dot_duck(a, b, dim)}) / "
        f"nullif(sqrt({_dot_duck(a, a, dim)})"
        f" * sqrt({_dot_duck(b, b, dim)}), 0), 0.0)"
    )


def _plane_dot_spark(planes: list[list[float]], p: int) -> str:
    lits = ", ".join(f"CAST({w!r} AS DOUBLE)" for w in planes[p])
    return (
        f"aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), array({lits}),"
        f" (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def bucket_expr_spark(planes: list[list[float]]) -> str:
    """Sign-LSH bucket id = bits of sign(embedding · plane_p)."""
    bits = [
        f"CAST(IF({_plane_dot_spark(planes, p)} >= 0, {1 << p}, 0) AS INT)"
        for p in range(len(planes))
    ]
    return " + ".join(bits)


def bucket_expr_duck(planes: list[list[float]], dim: int = DIM) -> str:
    bits = []
    for p, plane in enumerate(planes):
        lits = ", ".join(repr(w) for w in plane)
        dot = (
            f"list_sum([CAST(embedding[i] AS DOUBLE) * ([{lits}])[i]"
            f" FOR i IN range(1, {dim} + 1)])"
        )
        bits.append(f"CAST(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END AS INT)")
    return " + ".join(bits)


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def ann_topk_brute(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for the query subset
    (vec_id % query_mod == 0) against the whole corpus.

    Plan: broadcast the tiny query side into a nested-loop join over the
    corpus — the right brute-force shape (one corpus scan, no shuffle of
    the big side), then a per-query top-k window on the small result.
    """
    q = embeddings.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cand = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )
    sim = F.expr(cosine_expr_spark("q_emb", "n_emb"))
    scored = (
        cand.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(sim, round_to).alias("sim"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    )


def ann_topk_brute_sql(
    table: str = "embeddings",
    query_mod: int = 50,
    k: int = 5,
    round_to: int = 6,
    dim: int = DIM,
) -> str:
    cos = cosine_expr_duck("q.embedding", "n.embedding", dim)
    return f"""
        WITH q AS (SELECT vec_id, embedding FROM {table}
                   WHERE vec_id % {query_mod} = 0),
        scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   round({cos}, {round_to}) AS sim
            FROM q CROSS JOIN {table} n
            WHERE q.vec_id != n.vec_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, sim, rank FROM ranked
        WHERE rank <= {k} ORDER BY query_id, rank
    """


def ann_topk_lsh(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    num_planes: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign-LSH bucket;
    exact cosine rerank within the bucket. Equi-join on bucket id — at
    scale the corpus is hash-partitioned by bucket and never broadcast.
    Recall < 1 by construction; the oracle runs the identical algorithm
    so results still match exactly.

    `num_planes=None` (default) sizes the bucket space to the corpus via
    `adaptive_planes(count)` — one cheap metadata-scale count() job at
    plan-build time, the same kind of driver-side decision as a bbox
    cover. Pass an explicit count to pin the bucket space."""
    if num_planes is None:
        num_planes = adaptive_planes(embeddings.count())
    planes = hyperplanes(num_planes)
    bucketed = embeddings.withColumn("bucket", F.expr(bucket_expr_spark(planes)))
    q = bucketed.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
    )
    cand = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        "bucket",
    )
    sim = F.expr(cosine_expr_spark("q_emb", "n_emb"))
    scored = (
        cand.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(sim, round_to).alias("sim"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    )


#: corpus size of the driver's correctness scale (sf0.01) — the SQL oracle
#: builders are static strings, so they pin the adaptive plane count to the
#: scale the driver actually compares at
ORACLE_N_ROWS = 500


def ann_topk_lsh_sql(
    table: str = "embeddings",
    query_mod: int = 50,
    k: int = 5,
    num_planes: int | None = None,
    round_to: int = 6,
    dim: int = DIM,
    n_rows: int = ORACLE_N_ROWS,
) -> str:
    if num_planes is None:
        num_planes = adaptive_planes(n_rows)
    planes = hyperplanes(num_planes)
    bucket = bucket_expr_duck(planes, dim)
    cos = cosine_expr_duck("q.embedding", "n.embedding", dim)
    return f"""
        WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM {table}),
        q AS (SELECT * FROM b WHERE vec_id % {query_mod} = 0),
        scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   round({cos}, {round_to}) AS sim
            FROM q JOIN b n USING (bucket)
            WHERE q.vec_id != n.vec_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, sim, rank FROM ranked
        WHERE rank <= {k} ORDER BY query_id, rank
    """


def embedding_near_dup(
    embeddings: DataFrame,
    tau: float = 0.9,
    num_planes: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-LSH bucket equi-join
    (vec_a < vec_b) + exact cosine filter at threshold `tau`. The
    all-pairs comparison never happens — only within-bucket pairs are
    scored, and `num_planes=None` sizes the bucket space to the corpus
    (adaptive_planes) so the candidate count stays linear in n."""
    if num_planes is None:
        num_planes = adaptive_planes(embeddings.count())
    planes = hyperplanes(num_planes)
    bucketed = embeddings.withColumn("bucket", F.expr(bucket_expr_spark(planes)))
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("a_emb"), "bucket"
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("b_emb"), "bucket"
    )
    sim = F.expr(cosine_expr_spark("a_emb", "b_emb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(sim, round_to).alias("sim"))
        .filter(F.col("sim") >= tau)
        .orderBy("vec_a", "vec_b")
    )


def embedding_near_dup_sql(
    table: str = "embeddings",
    tau: float = 0.9,
    num_planes: int | None = None,
    round_to: int = 6,
    dim: int = DIM,
    n_rows: int = ORACLE_N_ROWS,
) -> str:
    if num_planes is None:
        num_planes = adaptive_planes(n_rows)
    planes = hyperplanes(num_planes)
    bucket = bucket_expr_duck(planes, dim)
    cos = cosine_expr_duck("a.embedding", "b.embedding", dim)
    return f"""
        WITH buck AS (SELECT vec_id, embedding, {bucket} AS bucket FROM {table})
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({cos}, {round_to}) AS sim
        FROM buck a JOIN buck b USING (bucket)
        WHERE a.vec_id < b.vec_id
          AND round({cos}, {round_to}) >= {tau}
        ORDER BY vec_a, vec_b
    """


def ann_recall_lsh(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    num_planes: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """recall@k of the LSH path against the exact brute-force baseline:
    per query, |top-k(LSH) ∩ top-k(brute)| / k. The quality audit for the
    approximate scale path — run it on a query SAMPLE whenever the plane
    count / corpus changes (the brute side is linear in corpus size, so
    the audit is priced by the sample, not the corpus)."""
    brute = ann_topk_brute(embeddings, query_mod, k, round_to)
    lsh = ann_topk_lsh(embeddings, query_mod, k, num_planes, round_to)
    return _recall_vs_brute(brute, lsh, k, round_to)


def _recall_vs_brute(brute: DataFrame, approx: DataFrame, k: int,
                     round_to: int) -> DataFrame:
    """(query_id, recall_at_k) from ONE pass over the brute rows —
    the shared tail of every `ann_recall_*` audit (round 14, guide
    §2.4): the approx pairs LEFT-join onto the k brute rows per query
    and matches are counted per query. The previous shape consumed the
    brute subtree twice (an inner hits join PLUS a distinct query
    spine), re-executing the corpus-sized brute window per consumer.
    count(_hit)/k over the k ever-present brute rows equals the old
    coalesce(n_hits, 0)/k bit-for-bit (both LONG counts through the
    identical round(x / float(k)) expression)."""
    marker = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        brute.select("query_id", "neighbor_id")
        .join(marker, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.round(F.count("_hit") / F.lit(float(k)), round_to)
             .alias("recall_at_k"))
        .orderBy("query_id")
    )


def ann_recall_lsh_sql(
    table: str = "embeddings",
    query_mod: int = 50,
    k: int = 5,
    num_planes: int | None = None,
    round_to: int = 6,
    dim: int = DIM,
    n_rows: int = ORACLE_N_ROWS,
) -> str:
    brute = ann_topk_brute_sql(table, query_mod, k, round_to, dim)
    lsh = ann_topk_lsh_sql(table, query_mod, k, num_planes, round_to, dim, n_rows)
    return f"""
        WITH brute AS ({brute}),
        lsh AS ({lsh}),
        hits AS (
            SELECT brute.query_id, count(*) AS n_hits
            FROM brute JOIN lsh
              ON brute.query_id = lsh.query_id
             AND brute.neighbor_id = lsh.neighbor_id
            GROUP BY 1
        )
        SELECT q.query_id,
               round(coalesce(hits.n_hits, 0) / {float(k)}, {round_to})
                 AS recall_at_k
        FROM (SELECT DISTINCT query_id FROM brute) q
        LEFT JOIN hits ON q.query_id = hits.query_id
        ORDER BY q.query_id
    """


# ---------------------------------------------------------------------------
# storage quantization
# ---------------------------------------------------------------------------


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q[i] = round(x[i] / scale) — 4× smaller storage for ANN candidate
    stores (rerank reads the fp32 originals). Pure projection, no
    Python; scale kept per row for exact dequantization bounds."""
    absmax = F.expr(
        "aggregate(embedding, CAST(0 AS DOUBLE),"
        " (acc, v) -> greatest(acc, abs(CAST(v AS DOUBLE))))"
    )
    # hoist the per-vector scale into its own projection so quantizing is
    # O(d) per row (inlining the absmax inside transform re-evaluates the
    # aggregate per element → O(d²))
    scaled = embeddings.select(
        "vec_id", "embedding", (absmax / F.lit(127.0)).alias("_scale")
    )
    return scaled.select(
        "vec_id",
        F.round("_scale", 9).alias("scale"),
        F.expr(
            "transform(embedding,"
            " v -> CAST(round(CAST(v AS DOUBLE) / _scale) AS INT))"
        ).alias("q"),
    )


def quantization_error(embeddings: DataFrame) -> DataFrame:
    """Max absolute dequantization error per vector — must be ≤ scale/2
    by construction; the driver oracle recomputes it exactly.

    Dequantizes with the FULL-PRECISION scale (rounding only the output
    columns) so the math matches `quantization_error_sql` bit-for-bit;
    using the 9-dp-rounded storage scale here caused a ≤1e-9 divergence
    that survived round(…, 9). Pure projection — no join, no shuffle."""
    absmax = F.expr(
        "aggregate(embedding, CAST(0 AS DOUBLE),"
        " (acc, v) -> greatest(acc, abs(CAST(v AS DOUBLE))))"
    )
    scaled = embeddings.select(
        "vec_id", "embedding", (absmax / F.lit(127.0)).alias("_scale")
    )
    err = F.expr(
        "aggregate(transform(embedding,"
        " v -> abs(CAST(v AS DOUBLE)"
        "          - round(CAST(v AS DOUBLE) / _scale) * _scale)),"
        " CAST(0 AS DOUBLE), (acc, v) -> greatest(acc, v))"
    )
    return scaled.select(
        "vec_id",
        F.round("_scale", 9).alias("scale"),
        F.round(err, 9).alias("max_abs_err"),
    ).orderBy("vec_id")


def quantization_error_sql(table: str = "embeddings", dim: int = DIM) -> str:
    absmax = (
        f"list_max([abs(CAST(embedding[i] AS DOUBLE))"
        f" FOR i IN range(1, {dim} + 1)])"
    )
    return f"""
        WITH s AS (
            SELECT vec_id, embedding, {absmax} / 127.0 AS scale
            FROM {table}
        )
        SELECT vec_id, round(scale, 9) AS scale,
               round(list_max([abs(CAST(embedding[i] AS DOUBLE)
                     - round(CAST(embedding[i] AS DOUBLE) / scale) * scale)
                     FOR i IN range(1, {dim} + 1)]), 9) AS max_abs_err
        FROM s ORDER BY vec_id
    """


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path of the task brief
# ---------------------------------------------------------------------------

IVF_MIN_LISTS = 16
IVF_NPROBE = 2


def ivf_params(n_rows: int, n_lists: int | None = None) -> tuple[int, int]:
    """(n_lists, centroid_stride) for a corpus of `n_rows`: n_lists ≈ √n
    (the classic IVF sizing — build cost n·√n flops, query cost
    √n + nprobe·n/√n per query), centroids sampled every `stride` ids."""
    if n_lists is None:
        n_lists = max(IVF_MIN_LISTS, math.isqrt(n_rows))
    return n_lists, max(n_rows // n_lists, 1)


def ann_topk_ivf(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    n_lists: int | None = None,
    nprobe: int = IVF_NPROBE,
    round_to: int = 6,
    n_rows: int | None = None,
    neighbor_labels: list[int] | None = None,
) -> DataFrame:
    """IVF ANN: training-free deterministic variant — the coarse
    quantizer's centroids are a fixed-stride sample of the corpus itself
    (vec_id % stride == 0; the standard random-sample initialization made
    deterministic so the DuckDB oracle can run the IDENTICAL algorithm).

    Build: one corpus scan against the broadcast centroid set, argmax
    cosine per vector → list assignment (O(n·n_lists) flops — the normal
    IVF assignment cost; no corpus shuffle). Query: each query probes its
    `nprobe` nearest lists and reranks exactly within them — candidate
    join is an EQUI-join on the list id, so the big side is hash-
    partitioned by list, never broadcast. At scale, materialize the
    assignment once (it is the index) instead of recomputing per query
    batch, and re-sample centroids only on distribution drift.

    `neighbor_labels` enables metadata-FILTERED vector search (the
    "top-k among documents matching a predicate" workload): the label
    predicate restricts the CANDIDATE side only (queries and the
    quantizer are unchanged, so list geometry is stable across filters),
    applied before the rerank — post-filtering inside probed lists, the
    standard filtered-IVF strategy. Against a materialized index the
    same predicate lands in the lists scan as a pushed filter
    (row-group skipping next to the cid partition pruning)."""
    from pyspark.sql.window import Window

    scored = _ivf_scored(embeddings, query_mod, nprobe, round_to,
                         n_rows, n_lists, neighbor_labels)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.drop("pcrank")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    )


#: scale of the exact coarse-ranking key: key = sign(num)·⌊num²·S/nc⌋
#: with num = ⟨µx, µc⟩ and nc = ⟨µc, µc⟩ in integer µunits. S = 1e10
#: keeps the worst case num²·S ≈ 5.3e36 inside int128 (DuckDB HUGEINT,
#: Python int) while resolving cosine differences far below the old
#: round(cos, 6) granularity.
IVF_KEY_SCALE = 10**10

#: µunit cast of the embedding array (the clustering.py discipline)
_IVF_MU = ("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
           " * 1e6 + 0.5) AS BIGINT))")


def _key_exact(num: int, nc: int) -> int:
    """The exact coarse-ranking key sign(num)·⌊num²·S/nc⌋ in Python
    ints (no overflow). nc == 0 (an all-zero µunit centroid) keys to 0
    — the cosine of a zero vector is 0 with everything, and the DuckDB
    mirror carries the matching CASE."""
    if nc == 0:
        return 0
    mag = (num * num * IVF_KEY_SCALE) // nc
    return mag if num >= 0 else -mag


def _ivf_key_sql(dim: int) -> tuple[str, str]:
    """(num, key) DuckDB strings of the exact coarse-ranking key —
    THE single source for every oracle that mirrors `_key_exact` /
    `_coarse_ranked` / `_rank_against_centroids` (ann_topk_ivf and
    the quantized tier share these verbatim, so a key-discipline fix
    lands in every mirror at once). num = ⟨e.m, c.cm⟩ over µunit
    arrays; key = sign(num)·⌊num²·S/nc⌋ in HUGEINT arithmetic, never
    down-cast (the 2⁶³ DuckDB trap); nc = 0 keys to 0."""
    S = IVF_KEY_SCALE
    num = ("CAST(list_sum([e.m[i] * c.cm[i]"
           f" FOR i IN range(1, {dim} + 1)]) AS BIGINT)")
    key = (f"CASE WHEN nc = 0 THEN 0"
           f" WHEN num >= 0 THEN (CAST(num AS HUGEINT) * num * {S})"
           f" // nc ELSE -((CAST(num AS HUGEINT) * num * {S}) // nc) END")
    return num, key


def _check_envelope(d: int, mx: int, mc: int) -> None:
    """Shared int64 envelope for the integer-matmul kernels (the
    clustering._assign contract): d·(max|x| + max|c|)² must stay inside
    int64 so X @ C.T cannot wrap."""
    if d * (mx + mc) ** 2 >= 2**62:
        raise OverflowError(
            f"IVF coarse kernel int64 envelope exceeded: dim={d},"
            f" max|x|={mx}, max|c|={mc}"
            " (need dim*(mx+mc)^2 < 2^62)")


def _collect_centroid_matrix(cent_mu_rows):
    """(cids, C, NC, nc_py, cid_py, mc) from collected (cid, m) rows,
    cid-ascending. Empty input yields C with shape (0, 0)."""
    import numpy as np

    rows = sorted(cent_mu_rows, key=lambda r: r[0])
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    if rows:
        C = np.stack([np.asarray(r[1], dtype=np.int64) for r in rows])
    else:
        C = np.zeros((0, 0), dtype=np.int64)
    NC = (C * C).sum(axis=1) if C.size else np.zeros(len(rows),
                                                     dtype=np.int64)
    mc = int(np.abs(C).max()) if C.size else 0
    return (cids, C, NC, [int(x) for x in NC], [int(x) for x in cids],
            mc)


def _coarse_ranked(
    embeddings: DataFrame,
    stride: int,
    query_mod: int,
    max_probe: int,
    with_label: bool,
) -> DataFrame:
    """(vid, embedding, [label], cid, crank): exact-integer coarse
    ranking of every vector against the stride-sampled centroid set —
    crank 1 for every vector (its IVF list), cranks 1..max_probe for
    query vectors (their probe order).

    Round 11 (VERDICT r10 #3): one Arrow int64-matmul kernel per batch
    (the Lloyd `clustering._assign` precedent) instead of the n×L
    broadcast join + interpreted 64-term cosine + per-vid window that
    was 17.9 s of ann_topk_ivf at the sf1 probe. Ranking is by the
    EXACT scaled-integer key sign(num)·⌊num²·S/nc⌋ (num = ⟨µx, µc⟩,
    nc = ⟨µc, µc⟩, S = IVF_KEY_SCALE) — monotone in cosine because the
    query's own norm is constant across centroids — with ties to the
    smaller cid; the DuckDB mirror sorts by the identical HUGEINT
    expression, so parity is exact instead of riding round(float, 6).
    Kernel exactness: float64 prefilter (rel err ≤ 3·2⁻⁵³) with a
    |key|·1e-12 + 2 margin, exact Python-int recheck of near-ties, and
    a full exact ranking for the (1/query_mod) query subset; the int64
    matmul envelope d·(mx+mc)² < 2⁶² is asserted per batch (the
    clustering._assign contract).

    100 TB: the centroid matrix is √n×d collected once (statistic-sized
    at any practical n_lists; cap n_lists explicitly past ~10⁵ lists)
    and the corpus is scanned ONCE with no shuffle — assignment cost is
    the unavoidable O(n·L) integer flops, now in BLAS instead of
    interpreted expressions."""
    import numpy as np
    import pandas as pd

    mu_cols = [F.col("vec_id").alias("vid"), "embedding",
               F.expr(_IVF_MU).alias("m")]
    label_sel = ["label"] if with_label else []
    mu = embeddings.select(*mu_cols, *label_sel)
    schema = "vid bigint, embedding array<float>, cid bigint, crank int"
    if with_label:
        schema += ", label int"
    cids, C, NC, nc_py, cid_py, mc = _collect_centroid_matrix(
        [(r["vid"], r["m"]) for r in
         mu.filter(F.col("vid") % stride == 0).select("vid", "m")
         .collect()])
    if len(cids) == 0:
        # empty corpus (no stride seeds): degrade to an empty frame
        # like the pre-kernel broadcast-join implementation did
        return mu.sparkSession.createDataFrame([], schema)
    L, d = C.shape
    S = IVF_KEY_SCALE
    # float prefilter divisor: a zero µunit centroid keys to exactly 0
    # (_key_exact contract), so divide by 1 and zero the column
    NCf = np.where(NC == 0, 1.0, NC.astype(np.float64))
    zero_c = NC == 0

    def _kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["m"]])
            mx = int(np.abs(X).max())
            _check_envelope(d, mx, mc)
            NUM = X @ C.T
            KEYF = (np.where(NUM >= 0, 1.0, -1.0)
                    * (NUM.astype(np.float64) ** 2 * float(S) / NCf))
            if zero_c.any():
                KEYF[:, zero_c] = 0.0
            kmax = KEYF.max(axis=1)
            marg = np.abs(kmax) * 1e-12 + 2.0
            near = KEYF >= (kmax - marg)[:, None]
            multi = near.sum(axis=1) > 1
            top = KEYF.argmax(axis=1)  # first (smallest-cid) max
            vids = pdf["vid"].to_numpy()
            is_q = (vids % query_mod) == 0
            out_vid, out_idx, out_crank, out_row = [], [], [], []
            for i in range(len(X)):
                row_num = NUM[i]
                if is_q[i]:
                    keys = [_key_exact(int(row_num[j]), nc_py[j])
                            for j in range(L)]
                    order = sorted(range(L), key=lambda j: (-keys[j],
                                                            cid_py[j]))
                    for r, j in enumerate(order[:max_probe], start=1):
                        out_vid.append(vids[i]); out_idx.append(j)
                        out_crank.append(r); out_row.append(i)
                elif multi[i]:
                    cand = np.flatnonzero(near[i])
                    best = min(
                        ((-_key_exact(int(row_num[j]), nc_py[j]),
                          cid_py[j], j) for j in cand))
                    out_vid.append(vids[i]); out_idx.append(best[2])
                    out_crank.append(1); out_row.append(i)
                else:
                    out_vid.append(vids[i]); out_idx.append(int(top[i]))
                    out_crank.append(1); out_row.append(i)
            res = {
                "vid": np.asarray(out_vid, dtype=np.int64),
                "embedding": pdf["embedding"].iloc[out_row].to_numpy(),
                "cid": cids[np.asarray(out_idx, dtype=np.int64)],
                "crank": np.asarray(out_crank, dtype=np.int32),
            }
            if with_label:
                res["label"] = pdf["label"].iloc[out_row].to_numpy()
            yield pd.DataFrame(res)

    return mu.mapInPandas(_kern, schema)


def _ivf_scored(
    embeddings: DataFrame,
    query_mod: int,
    max_probe: int,
    round_to: int,
    n_rows: int | None,
    n_lists: int | None,
    neighbor_labels: list[int] | None = None,
) -> DataFrame:
    """Shared IVF candidate construction for `ann_topk_ivf` and
    `tune_nprobe`: stride-sampled quantizer, one exact-integer Arrow
    assignment pass (`_coarse_ranked`), probes up to `max_probe` lists,
    exact rerank scores. Returns (query_id, neighbor_id, sim, pcrank)
    where pcrank is the probe rank of the candidate's list for that
    query — filtering `pcrank <= p` yields exactly the candidate set an
    `nprobe=p` run would produce, which is what keeps the tuner's rungs
    result-identical to direct `ann_recall_ivf` runs (pinned by
    test_tune_nprobe_rungs_match_direct_audit). One definition, no
    twin-drift surface."""
    if n_rows is None:
        n_rows = embeddings.count()
    _, stride = ivf_params(n_rows, n_lists)
    ranked = _coarse_ranked(embeddings, stride, query_mod, max_probe,
                            with_label=neighbor_labels is not None)
    lists = ranked.filter(F.col("crank") == 1)
    if neighbor_labels is not None:
        lists = lists.filter(F.col("label").isin(list(neighbor_labels)))
    lists = lists.select(
        F.col("vid").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        "cid",
    )
    probes = ranked.filter(
        (F.col("vid") % query_mod == 0) & (F.col("crank") <= max_probe)
    ).select(
        F.col("vid").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "cid",
        F.col("crank").alias("pcrank"),
    )
    sim = F.expr(cosine_expr_spark("q_emb", "n_emb"))
    return (
        lists.join(probes, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(sim, round_to).alias("sim"), "pcrank")
    )


def _ivf_assign_sql_ctes(table: str, cent_pred: str, dim: int) -> str:
    """The mu → cent → scoredc → assigned CTE prefix shared by EVERY
    IVF oracle (ann_topk_ivf_sql, ivf_index_append_sql,
    ivf_list_stats_sql, ann_recall_drift_sql) — exact-integer coarse
    ranking mirroring `_coarse_ranked`/`_rank_against_centroids` via
    the shared `_ivf_key_sql` key strings, ties to the smaller cid.
    `cent_pred` is the ONLY thing the oracles vary (full-corpus vs
    base-slice centroid sampling); a key-discipline fix here lands in
    every mirror at once (the unigram_mu_sql_ctes precedent — r12
    review: four inlined copies had drifted into existence)."""
    num, key = _ivf_key_sql(dim)
    return f"""mu AS (
            SELECT vec_id, embedding, label,
                   [CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
                    FOR x IN embedding] AS m
            FROM {table}
        ),
        cent AS (
            SELECT vec_id AS cid, m AS cm,
                   CAST(list_sum([m[i] * m[i]
                        FOR i IN range(1, {dim} + 1)]) AS BIGINT) AS nc
            FROM mu WHERE {cent_pred}
        ),
        scoredc AS (
            SELECT e.vec_id, e.embedding, e.label, c.cid, c.nc,
                   {num} AS num
            FROM mu e CROSS JOIN cent c
        ),
        assigned AS (
            SELECT vec_id, embedding, label, cid,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY {key} DESC, cid
                   ) AS crank
            FROM scoredc
        )"""


def ann_topk_ivf_sql(
    table: str = "embeddings",
    query_mod: int = 50,
    k: int = 5,
    n_lists: int | None = None,
    nprobe: int = IVF_NPROBE,
    round_to: int = 6,
    dim: int = DIM,
    n_rows: int = ORACLE_N_ROWS,
    neighbor_labels: list[int] | None = None,
) -> str:
    _, stride = ivf_params(n_rows, n_lists)
    qcos = cosine_expr_duck("p.q_emb", "l.n_emb", dim)
    label_pred = (
        ""
        if neighbor_labels is None
        else " AND label IN (" + ", ".join(
            str(int(x)) for x in neighbor_labels) + ")"
    )
    ctes = _ivf_assign_sql_ctes(table, f"vec_id % {stride} = 0", dim)
    return f"""
        WITH {ctes},
        lists AS (
            SELECT vec_id AS neighbor_id, embedding AS n_emb, cid
            FROM assigned WHERE crank = 1{label_pred}
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS q_emb, cid
            FROM assigned
            WHERE vec_id % {query_mod} = 0 AND crank <= {nprobe}
        ),
        scored AS (
            SELECT p.query_id, l.neighbor_id,
                   round({qcos}, {round_to}) AS sim
            FROM lists l JOIN probes p USING (cid)
            WHERE p.query_id != l.neighbor_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, sim, rank FROM ranked
        WHERE rank <= {k} ORDER BY query_id, rank
    """


def _rank_against_centroids(
    df: DataFrame,
    cent: DataFrame,
    max_probe: int,
    id_col: str,
    emb_col: str,
) -> DataFrame:
    """(id_col, emb_col, cid, crank): exact-integer coarse ranking of
    every row of `df` against a (cid, c_emb) centroid frame — the
    STORED-centroid twin of `_coarse_ranked` (same µunit cast, key,
    prefilter margin, exact near-tie recheck and smaller-cid
    tie-break), used by the index build/update/serve paths so they
    rank with the IDENTICAL algorithm as `ann_topk_ivf` and its shared
    DuckDB oracle (round 11 self-review: these paths previously kept
    the old round(cos, 6) ranking, which already disagreed with the
    exact key on fixture near-ties).

    Per row: float64 prefilter keys, candidates = everything within
    |kth|·1e-12 + 2 of the max_probe-th largest, exact Python-int keys
    decide among candidates. max_probe = 1 is pure assignment.

    100 TB: the centroid matrix is collected once (statistic-sized by
    the √n-lists contract) and `df` is scanned ONCE with no shuffle."""
    import numpy as np
    import pandas as pd

    mu_expr = _IVF_MU.replace("embedding", emb_col)
    cmu = cent.select(
        F.col("cid"),
        F.expr(_IVF_MU.replace("embedding", "c_emb")).alias("m"))
    schema = f"{id_col} bigint, {emb_col} array<float>, cid bigint, crank int"
    cids, C, NC, nc_py, cid_py, mc = _collect_centroid_matrix(
        [(r["cid"], r["m"]) for r in cmu.collect()])
    if len(cids) == 0:
        return df.sparkSession.createDataFrame([], schema)
    L, d = C.shape
    S = IVF_KEY_SCALE
    kth = min(max_probe, L)
    NCf = np.where(NC == 0, 1.0, NC.astype(np.float64))
    zero_c = NC == 0
    mu = df.select(F.col(id_col), F.col(emb_col),
                   F.expr(mu_expr).alias("m"))

    def _kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["m"]])
            mx = int(np.abs(X).max())
            _check_envelope(d, mx, mc)
            NUM = X @ C.T
            KEYF = (np.where(NUM >= 0, 1.0, -1.0)
                    * (NUM.astype(np.float64) ** 2 * float(S) / NCf))
            if zero_c.any():
                KEYF[:, zero_c] = 0.0
            # kth-largest float key per row bounds the candidate set
            kf = np.partition(KEYF, L - kth, axis=1)[:, L - kth]
            marg = np.abs(kf) * 1e-12 + 2.0
            ids = pdf[id_col].to_numpy()
            out_id, out_row, out_idx, out_crank = [], [], [], []
            for i in range(len(X)):
                cand = np.flatnonzero(KEYF[i] >= kf[i] - marg[i])
                row_num = NUM[i]
                order = sorted(
                    ((-_key_exact(int(row_num[j]), nc_py[j]),
                      cid_py[j], int(j)) for j in cand))
                for r, (_, _, j) in enumerate(order[:kth], start=1):
                    out_id.append(ids[i]); out_row.append(i)
                    out_idx.append(j); out_crank.append(r)
            yield pd.DataFrame({
                id_col: np.asarray(out_id, dtype=np.int64),
                emb_col: pdf[emb_col].iloc[out_row].to_numpy(),
                "cid": cids[np.asarray(out_idx, dtype=np.int64)],
                "crank": np.asarray(out_crank, dtype=np.int32),
            })

    return mu.mapInPandas(_kern, schema)


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int | None = None,
    n_rows: int | None = None,
    round_to: int = 6,
) -> None:
    """Materialize the IVF index: `{path}/centroids` (cid, c_emb) and
    `{path}/lists` (neighbor_id, n_emb) hive-partitioned by cid.

    This is the "materialize the assignment once — it IS the index" scale
    path promised in `ann_topk_ivf`'s docstring: the O(n·n_lists)
    assignment runs once per corpus snapshot instead of once per query
    batch, and serving reads only the probed lists (partition pruning on
    cid). At 100 TB, √n lists ≈ tens of thousands of partitions — fine
    for a parquet/hive layout; re-sample centroids only on distribution
    drift. `round_to` is unused since the round-11 exact-key migration
    (kept for signature stability); assignment ranks by the exact
    integer key via `_rank_against_centroids`."""
    if n_rows is None:
        n_rows = embeddings.count()
    _, stride = ivf_params(n_rows, n_lists)
    cent = embeddings.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    lists = (
        _rank_against_centroids(embeddings, cent, 1, "vec_id", "embedding")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("n_emb"),
            "cid",
        )
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    (
        lists.repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(f"{path}/lists")
    )
    _commit_ivf_manifest(path, {"dirs": ["lists"], "batches": []})


#: manifest file name of the committed-lists ledger (the lakehouse
#: file-listing idea: readers read the dirs the manifest names, never
#: the raw directory — Delta/Iceberg's manifest, minimally). The
#: protocol lives in `operators/index_ledger.py` since round 13 (the
#: generalization of this module's round-12 IVF ledger — VERDICT r12
#: #3 tier parity); these thin wrappers keep the IVF seam names the
#: lifecycle tests intercept.
_IVF_MANIFEST = ledger.MANIFEST


def _ivf_manifest(path: str) -> dict:
    """Committed IVF state (see index_ledger.read_manifest); a
    pre-manifest index reads as the single `lists` dir."""
    return ledger.read_manifest(path, "lists")


def _commit_ivf_manifest(path: str, manifest: dict) -> None:
    """Atomic + durable manifest swap (index_ledger.commit_manifest)."""
    ledger.commit_manifest(path, manifest)


def _mutate_ivf_manifest(path: str, mutate) -> dict | None:
    """Serialized read→mutate→commit under the index's lock file
    (index_ledger.mutate_manifest) — a concurrent compaction cannot
    drop an append that commits between its read and its write."""
    return ledger.mutate_manifest(path, mutate, "lists")


def read_index_lists(spark, path: str) -> DataFrame:
    """The index's lists table = union of the manifest's committed
    dirs. The base `lists` dir keeps its single-root partitioned scan
    (partition pruning / DPP unaffected); each delta dir is
    BATCH-sized by construction, so even a full scan of the open
    deltas is cheap — and `compact_ivf_index` folds them back into
    one dir when their count grows."""
    return ledger.committed_union(spark, path, "lists",
                                  read_fn=_ivf_manifest)


def update_ivf_index(
    spark,
    batch: DataFrame,
    path: str,
    round_to: int = 6,
    batch_id: int | str | None = None,
    stream_id: str | None = None,
) -> bool:
    """Append newly admitted vectors into the IVF lists using the
    STORED centroids — the serving index learns new corpus items
    without a rebuild (assignment stays stable because the quantizer
    is frozen; re-fit = rebuild on distribution drift, the
    build_ivf_index contract). Each appended vector lands in exactly
    the list its nearest stored centroid owns, so subsequent
    `ann_topk_ivf_indexed` queries probing that list see it — the
    build → serve → UPDATE lifecycle shared with the dedup /
    contamination / semantic indexes.

    EXACTLY-ONCE (round 12): with `batch_id` set (e.g. the
    foreachBatch epoch id — `ivf_index_update_stream`), the append is
    a committed ledger entry: a replayed id is a NO-OP (returns
    False), and the batch's rows land in their own delta dir that
    becomes visible only at the atomic manifest swap — a crash
    between the data write and the commit leaves an orphan the replay
    overwrites. This is the streaming-ingest guarantee
    `ParquetViewStore.merge` gives views, on the ANN axis; Structured
    Streaming's at-least-once foreachBatch replays therefore cannot
    duplicate index rows (reference parity: the flush/batch-id
    exactly-once theme, flush-kafka-stream-app.sh). The ledger has
    two scopes (r12 review hardening):

    - `stream_id` + `batch_id`: per-stream MONOTONIC watermark —
      foreachBatch epoch ids are monotonic per checkpoint and only
      the LATEST epoch can replay, so the manifest keeps ONE integer
      per stream and no-ops on `epoch <= last` (the
      ParquetViewStore.merge discipline; O(1) and bounded however
      long the stream runs). Epoch ids are only unique PER
      checkpoint, so the bare-id ledger would wrongly drop fresh
      batches after a checkpoint change — the stream scope is the
      Delta txnAppId idea.
    - bare `batch_id` (ad-hoc batch use): exact membership in an
      id LIST — unbounded ids here mean an unbounded manifest, so
      reserve it for occasional manual appends.

    Concurrency: the manifest commit is a serialized
    read→mutate→swap under the index's lock file
    (`_mutate_ivf_manifest`), so a concurrent compaction cannot
    drop this batch's commit. Without any id the append commits
    unprotected (no replay guard).

    Batch cost: one statistic-sized centroid collect + a per-row
    exact-key argmax, corpus never rescanned (`round_to` unused since
    the round-11 exact-key migration; kept for signature stability).
    Returns True if the batch was applied, False on a replay no-op.
    Protocol in `operators/index_ledger.py` (validate → O(1) ledger
    pre-check → delta write → locked re-check + manifest swap; ids are
    dir-name-sanitized, raw ids kept in the ledger)."""

    def _write(delta_path: str) -> bool:
        cent = spark.read.parquet(f"{path}/centroids")
        new_rows = (
            _rank_against_centroids(batch, cent, 1, "vec_id", "embedding")
            .select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("n_emb"), "cid")
        ).persist()
        try:
            has_rows = new_rows.count() > 0
            if has_rows:
                (new_rows.repartition("cid")
                 .write.mode("overwrite").partitionBy("cid")
                 .parquet(delta_path))
        finally:
            new_rows.unpersist()
        return has_rows

    return ledger.ledger_append(
        path, "lists", "lists_delta", _write, batch_id, stream_id,
        read_fn=_ivf_manifest,
        mutate_fn=lambda p, mu: _mutate_ivf_manifest(p, mu))


def compact_ivf_index(spark, path: str, gc: bool = True) -> None:
    """Fold the manifest's committed dirs back into one dir (the
    OPTIMIZE job of the index lifecycle, the compact_store twin):
    rewrite the union into a fresh dir, then atomically re-point the
    manifest at it — the batch/stream ledgers survive, so replay
    protection is unaffected. The folded dirs are DELETED after the
    swap (the ParquetViewStore retention discipline — without GC
    every compaction would leak a full index copy); a reader that
    planned against the old manifest in that brief window re-plans,
    the documented compact_store trade-off. The commit merges under
    the manifest lock: delta dirs committed by a concurrent append
    AFTER the compaction's read are carried over untouched (r12
    review: the unsynchronized version silently dropped them). A
    single-dir index is a no-op — scheduled compactors don't rewrite
    a compacted index. Run when open deltas accumulate (each costs
    one batch-sized scan at serve time).

    The rewrite unions the SNAPSHOT's dirs directly — NOT
    read_index_lists, which re-reads the manifest: a delta committed
    between the snapshot and that second read would be folded into
    the new dir AND carried over as a 'late' dir by the commit,
    duplicating its rows (r13 review — exactly the concurrent-append
    window the lock protects). Protocol in index_ledger.compact."""

    def _rewrite(union: DataFrame, new_path: str) -> None:
        (union.repartition("cid")
         .write.mode("overwrite").partitionBy("cid")
         .parquet(new_path))

    ledger.compact(
        spark, path, "lists", "lists_compact", _rewrite,
        read_fn=_ivf_manifest,
        mutate_fn=lambda p, mu: _mutate_ivf_manifest(p, mu), gc=gc)


def ann_topk_ivf_indexed(
    spark,
    index_path: str,
    query_mod: int = 50,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    round_to: int = 6,
) -> DataFrame:
    """Serve IVF ANN from a materialized index (`build_ivf_index`).

    Result-identical to `ann_topk_ivf` (same centroids, assignment and
    tie-breaks — the shared DuckDB oracle checks it), but the corpus-wide
    assignment never reruns: queries (rows of the index itself here;
    an external query table in general) rank the stored centroid set by
    the exact integer key (`_rank_against_centroids` — same algorithm
    as the build-side assignment and the shared oracle) to pick their
    `nprobe` lists, and the candidate join is an equi-join
    on cid against the partitioned lists table — Spark's dynamic
    partition pruning skips every unprobed list at scan time."""
    lists = read_index_lists(spark, index_path)
    queries = lists.filter(F.col("neighbor_id") % query_mod == 0).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("n_emb").alias("q_emb"),
    )
    return serve_ivf_indexed(spark, index_path, queries, k, nprobe,
                             round_to)


def serve_ivf_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    round_to: int = 6,
) -> DataFrame:
    """Serve an EXTERNAL (query_id, q_emb) batch from a materialized
    IVF index — the general serving entry point `ann_topk_ivf_indexed`
    (queries drawn from the index itself) and `ann_recall_drift`
    (queries probing a STALE index) both ride. Each query ranks the
    stored centroids by the exact integer key to pick its `nprobe`
    lists; the candidate join is a cid equi-join against the
    partitioned lists table (dynamic partition pruning skips every
    unprobed list). Self-matches are excluded by id.

    Manifest-aware (round 12): the join is taken PER committed dir
    and the results unioned — join-over-union and union-of-joins are
    identical, but Spark only plants the DPP subquery on a
    single-root scan, so joining the union directly would lose
    partition pruning on the (big) base dir whenever open deltas
    exist. Per-dir joins keep the base scan pruned; each delta scan
    is batch-sized by construction."""
    from functools import reduce

    from pyspark.sql.window import Window

    cent = spark.read.parquet(f"{index_path}/centroids")
    probes = (
        _rank_against_centroids(queries, cent, nprobe, "query_id", "q_emb")
        .select("query_id", "q_emb", "cid")
    )
    dirs = _ivf_manifest(index_path)["dirs"]
    if len(dirs) > 1:
        # bound the probe computation (the Arrow centroid-ranking
        # kernel) to ONCE: each per-dir join re-references the probes
        # subtree and plan reuse across union branches is not
        # guaranteed — materialize the (batch-sized) probe table
        probes = probes.localCheckpoint(eager=True)
    sim = F.expr(cosine_expr_spark("q_emb", "n_emb"))
    scored_parts = [
        spark.read.parquet(os.path.join(index_path, d))
        .join(probes, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(sim, round_to).alias("sim"))
        for d in dirs
    ]
    scored = reduce(lambda a, b: a.unionByName(b), scored_parts)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    )


def _appended_stride(n_rows: int, base_mod: int,
                     n_lists: int | None = None) -> int:
    """Centroid stride `build_ivf_index` derives when built on the
    base slice (vec_id % base_mod != 0) of a CONTIGUOUS 0..n-1 id
    fixture — the oracle-side twin of the builder's count()-driven
    `ivf_params` call. Embeds the fixture's contiguity the way the
    kmeans-family oracles embed n_rows (sf-scoped by design)."""
    n_base = n_rows - (n_rows + base_mod - 1) // base_mod
    _, stride = ivf_params(n_base, n_lists)
    return stride


def ivf_index_append_sql(
    table: str = "embeddings",
    base_mod: int = 10,
    query_mod: int = 50,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    round_to: int = 6,
    dim: int = DIM,
    n_rows: int = ORACLE_N_ROWS,
    n_lists: int | None = None,
) -> str:
    """DuckDB oracle of the build → UPDATE → serve index lifecycle:
    the index is built on the base slice (vec_id % base_mod != 0), the
    complementary delta batch is appended via the STORED centroids
    (`update_ivf_index` — the quantizer is frozen, so every vector,
    base or delta, is simply assigned to its nearest base centroid),
    and serving reads the union. The mirror therefore assigns ALL
    vectors against the base-sampled centroid set with the shared
    exact-key ranking (`_ivf_assign_sql_ctes`) and serves top-k
    exactly like `ann_topk_ivf_sql`. sf-scoped: embeds
    n_rows/contiguity like the kmeans-family oracles
    (tools/verify_local.py:43-46)."""
    stride = _appended_stride(n_rows, base_mod, n_lists)
    qcos = cosine_expr_duck("p.q_emb", "l.n_emb", dim)
    ctes = _ivf_assign_sql_ctes(
        table, f"vec_id % {stride} = 0 AND vec_id % {base_mod} <> 0",
        dim)
    return f"""
        WITH {ctes},
        lists AS (
            SELECT vec_id AS neighbor_id, embedding AS n_emb, cid
            FROM assigned WHERE crank = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS q_emb, cid
            FROM assigned
            WHERE vec_id % {query_mod} = 0 AND crank <= {nprobe}
        ),
        scored AS (
            SELECT p.query_id, l.neighbor_id,
                   round({qcos}, {round_to}) AS sim
            FROM lists l JOIN probes p USING (cid)
            WHERE p.query_id != l.neighbor_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, sim, rank FROM ranked
        WHERE rank <= {k} ORDER BY query_id, rank
    """


def ivf_list_stats(spark, index_path: str) -> DataFrame:
    """Per-list load audit of a materialized IVF index: (cid,
    n_vectors, load_ppm) with load_ppm = n_vectors·L·1e6 DIV total
    (1e6 = perfectly balanced) — the skew dial read after a run of
    `update_ivf_index` appends. A frozen quantizer funnels drifted
    new data into whichever lists sit nearest the drift, so hot lists
    grow without bound while the centroid set stays fixed; serving
    cost per probe is proportional to probed-list SIZE, so the max
    load factor here IS the worst-case probe-cost multiplier vs
    balanced. When it crosses the serving budget, re-sample centroids
    (rebuild) — this audit and `ann_recall_drift` together price the
    two failure axes of index age (cost skew / recall loss). Empty
    lists report 0 (a centroid the corpus drifted AWAY from).

    100 TB: one cid-keyed partial-agg shuffle over the lists' id
    projection (√n keys), then an L-row statistic table; no vector
    bytes move."""
    cent = spark.read.parquet(f"{index_path}/centroids").select("cid")
    counts = (
        read_index_lists(spark, index_path)
        .groupBy("cid").agg(F.count("*").alias("n_vectors"))
    )
    per = (
        cent.join(counts, "cid", "left")
        .select("cid",
                F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"))
    )
    tot = per.agg(F.sum("n_vectors").alias("_t"),
                  F.count("*").alias("_l"))
    # quotient+remainder instead of n*l*1e6 (which overflows int64
    # around a 4e8-row fully-skewed list under ANSI — the
    # important_parts DIV+remainder discipline): exact because
    # n*1e6 = q*t + r  =>  floor(n*1e6*l/t) = q*l + floor(r*l/t).
    ppm = ("(n_vectors * 1000000 DIV _t) * _l"
           " + (n_vectors * 1000000 % _t) * _l DIV _t")
    return (
        per.join(F.broadcast(tot))
        .select(
            "cid", "n_vectors",
            F.expr(f"CASE WHEN _t = 0 THEN NULL ELSE {ppm} END")
            .alias("load_ppm"))
        .orderBy("cid")
    )


def ivf_list_stats_sql(
    table: str = "embeddings",
    base_mod: int = 10,
    dim: int = DIM,
    n_rows: int = ORACLE_N_ROWS,
    n_lists: int | None = None,
) -> str:
    """DuckDB mirror of :func:`ivf_list_stats` over the APPENDED
    index of `ivf_index_append_sql` (base-sampled centroids, ALL
    vectors assigned via the shared `_ivf_assign_sql_ctes` prefix).
    sf-scoped constants per the kmeans convention."""
    stride = _appended_stride(n_rows, base_mod, n_lists)
    ctes = _ivf_assign_sql_ctes(
        table, f"vec_id % {stride} = 0 AND vec_id % {base_mod} <> 0",
        dim)
    return f"""
        WITH {ctes},
        counts AS (
            SELECT cid, count(*) AS n_vectors
            FROM assigned WHERE crank = 1 GROUP BY 1
        ),
        per AS (
            SELECT c.cid,
                   CAST(coalesce(n.n_vectors, 0) AS BIGINT) AS n_vectors
            FROM cent c LEFT JOIN counts n ON n.cid = c.cid
        ),
        tot AS (
            SELECT CAST(sum(n_vectors) AS BIGINT) AS t,
                   count(*) AS l FROM per
        )
        SELECT cid, n_vectors,
               CAST(CASE WHEN t = 0 THEN NULL
                    ELSE (n_vectors * 1000000 // t) * l
                         + (n_vectors * 1000000 % t) * l // t
                    END AS BIGINT) AS load_ppm
        FROM per, tot
        ORDER BY cid
    """


def ann_recall_drift(
    spark,
    embeddings: DataFrame,
    index_path: str,
    query_mod: int = 50,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    round_to: int = 6,
) -> DataFrame:
    """Index-staleness / recall-drift audit: recall@k of a STALE
    materialized index (built before `embeddings` grew) against the
    fresh brute-force truth over the CURRENT corpus — the number that
    prices the rebuild/append cadence (`ann_recall_ivf` prices nprobe
    on a fresh index; this prices index AGE). n_truth_unindexed
    counts, per query, how many true top-k neighbors are absent from
    the index entirely — the unrecoverable part of the loss (no
    nprobe setting can surface a vector the index has never seen; the
    remainder is ordinary coarse-quantization loss).

    100 TB: brute truth on a query SAMPLE (query_mod — the
    dedup_recall_audit allowance), stale serving via the partition-
    pruned index path, membership via one id-keyed equi-join against
    the lists' id projection; no new corpus-sized stage."""
    brute = ann_topk_brute(embeddings, query_mod, k, round_to)
    queries = embeddings.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    stale = serve_ivf_indexed(spark, index_path, queries, k, nprobe,
                              round_to)
    indexed = (
        read_index_lists(spark, index_path)
        .select(F.col("neighbor_id").alias("_ix_id")).distinct()
    )
    # ONE pass over the brute rows (round 14, guide §2.4 — previously
    # the brute subtree executed twice, once under the truth join and
    # once under the hits join): both left joins ride the same k rows
    # per query and one aggregate computes both counters
    return (
        brute.select("query_id", "neighbor_id")
        .join(indexed, F.col("neighbor_id") == F.col("_ix_id"), "left")
        .join(stale.select("query_id", "neighbor_id",
                           F.lit(1).alias("_hit")),
              ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(F.count("_hit") / F.lit(float(k)), round_to)
            .alias("recall_at_k"),
            F.sum(F.when(F.col("_ix_id").isNull(), 1).otherwise(0))
            .alias("n_truth_unindexed"),
        )
        .select("query_id", "recall_at_k", "n_truth_unindexed")
        .orderBy("query_id")
    )


def ann_recall_drift_sql(
    table: str = "embeddings",
    base_mod: int = 10,
    query_mod: int = 50,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    round_to: int = 6,
    dim: int = DIM,
    n_rows: int = ORACLE_N_ROWS,
    n_lists: int | None = None,
) -> str:
    """DuckDB mirror of :func:`ann_recall_drift` against an index
    built on the base slice (vec_id % base_mod != 0) and never
    updated: lists/centroids come from the base only, queries and the
    brute-force truth from the FULL table. Per-row centroid ranking
    is independent of other rows, so ONE shared `assigned` over the
    full table serves both the base-only lists (crank = 1 ∧ base
    pred) and the query probes (query pred ∧ crank ≤ nprobe).
    sf-scoped like `ivf_index_append_sql` (embeds
    n_rows/contiguity)."""
    stride = _appended_stride(n_rows, base_mod, n_lists)
    brute = ann_topk_brute_sql(table, query_mod, k, round_to, dim)
    qcos = cosine_expr_duck("p.q_emb", "l.n_emb", dim)
    ctes = _ivf_assign_sql_ctes(
        table, f"vec_id % {stride} = 0 AND vec_id % {base_mod} <> 0",
        dim)
    return f"""
        WITH {ctes},
        lists AS (
            SELECT vec_id AS neighbor_id, embedding AS n_emb, cid
            FROM assigned
            WHERE crank = 1 AND vec_id % {base_mod} <> 0
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS q_emb, cid
            FROM assigned
            WHERE vec_id % {query_mod} = 0 AND crank <= {nprobe}
        ),
        stale AS (
            SELECT query_id, neighbor_id FROM (
                SELECT p.query_id, l.neighbor_id,
                       round({qcos}, {round_to}) AS sim,
                       row_number() OVER (
                           PARTITION BY p.query_id
                           ORDER BY round({qcos}, {round_to}) DESC,
                                    l.neighbor_id
                       ) AS rank
                FROM lists l JOIN probes p USING (cid)
                WHERE p.query_id != l.neighbor_id
            ) WHERE rank <= {k}
        ),
        brute AS ({brute}),
        truth AS (
            SELECT b.query_id,
                   CAST(sum(CASE WHEN ix.neighbor_id IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_truth_unindexed
            FROM brute b
            LEFT JOIN (SELECT DISTINCT neighbor_id FROM lists) ix
              ON ix.neighbor_id = b.neighbor_id
            GROUP BY 1
        ),
        hits AS (
            SELECT b.query_id, count(*) AS n_hits
            FROM brute b JOIN stale s
              ON b.query_id = s.query_id
             AND b.neighbor_id = s.neighbor_id
            GROUP BY 1
        )
        SELECT t.query_id,
               round(coalesce(h.n_hits, 0) / {float(k)}, {round_to})
                   AS recall_at_k,
               t.n_truth_unindexed
        FROM truth t LEFT JOIN hits h ON t.query_id = h.query_id
        ORDER BY t.query_id
    """


def build_ivf_index_quantized(
    embeddings: DataFrame,
    path: str,
    n_lists: int | None = None,
    n_rows: int | None = None,
    round_to: int = 6,
) -> None:
    """Materialize the QUANTIZED IVF index: `{path}/centroids` (cid,
    c_emb — tiny, full precision) and `{path}/qlists` (neighbor_id,
    q int8-as-int, scale, n_emb) hive-partitioned by cid.

    Same centroids/assignment as `build_ivf_index`; the lists
    additionally carry the symmetric per-vector int8 quantization of
    `quantize_int8`. Parquet is columnar, so the serving scan that
    ranks candidates reads ONLY (neighbor_id, q) — the standard ~4×
    IO/memory cut for 100 TB ANN serving — while the full-precision
    `n_emb` column is touched only for the few rerank candidates, on a
    second partition-pruned read. `scale` is stored for dot-product/L2
    consumers; cosine ranking doesn't need it (a per-vector scalar
    cancels in the cosine).

    Assignment ranks by the exact integer key via
    `_rank_against_centroids` since the round-11 PQ-tier migration
    (same kernel as `build_ivf_index`; `round_to` kept for signature
    stability) — the quantized index now shares the float-free coarse
    stage with every other IVF path."""
    if n_rows is None:
        n_rows = embeddings.count()
    _, stride = ivf_params(n_rows, n_lists)
    cent = embeddings.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    absmax = F.expr(
        "aggregate(embedding, CAST(0 AS DOUBLE),"
        " (acc, v) -> greatest(acc, abs(CAST(v AS DOUBLE))))"
    )
    lists = (
        _rank_against_centroids(embeddings, cent, 1, "vec_id", "embedding")
        .withColumn("_scale", absmax / F.lit(127.0))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "transform(embedding,"
                " v -> CAST(round(CAST(v AS DOUBLE) / _scale) AS INT))"
            ).alias("q"),
            F.round("_scale", 9).alias("scale"),
            F.col("embedding").alias("n_emb"),
            "cid",
        )
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    (
        lists.repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(f"{path}/qlists")
    )


def ann_topk_ivf_quantized(
    spark,
    index_path: str,
    query_mod: int = 50,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    rerank: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Serve IVF ANN from the quantized index (`build_ivf_index_quantized`)
    in two phases:

    1. CANDIDATE RANKING over int8 vectors: queries pick their `nprobe`
       lists against the broadcast centroids; the probed lists are
       scanned reading only (neighbor_id, q) — column pruning gives the
       4× IO cut, dynamic partition pruning skips unprobed lists — and
       each query keeps its top-`rerank` candidates by quantized cosine
       (per-vector scale cancels, so the int vector ranks directly).
    2. FULL-PRECISION RERANK: the candidate set (|queries| × rerank
       rows — tiny) joins back to the lists on (cid, neighbor_id) for
       `n_emb`, exact cosine re-scores it, and the top-k emerges.

    With `rerank` comfortably above k, the result is IDENTICAL to the
    float path (`ann_topk_ivf_indexed`) — pinned by pytest equality and
    by sharing this entry's oracle derivation.

    Coarse probe ranking uses the exact integer key via
    `_rank_against_centroids` since the round-11 PQ-tier migration —
    algorithm-identical to `ann_topk_ivf_indexed`, so the pytest
    equality pin no longer rides two different tie disciplines."""
    from pyspark.sql.window import Window

    cent = spark.read.parquet(f"{index_path}/centroids")
    qlists = spark.read.parquet(f"{index_path}/qlists")
    queries = qlists.filter(F.col("neighbor_id") % query_mod == 0).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("n_emb").alias("q_emb"),
    )
    probes = (
        _rank_against_centroids(queries, cent, nprobe,
                                "query_id", "q_emb")
        .select("query_id", "q_emb", "cid")
    )
    asim = F.round(F.expr(cosine_expr_spark("q_emb", "q")), round_to)
    wa = Window.partitionBy("query_id").orderBy(
        F.col("asim").desc(), F.col("neighbor_id")
    )
    cand = (
        qlists.select("cid", "neighbor_id", "q")
        .join(probes, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_emb", "cid", "neighbor_id",
                asim.alias("asim"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "q_emb", "cid", "neighbor_id")
    )
    sim = F.expr(cosine_expr_spark("q_emb", "n_emb"))
    rescored = (
        qlists.select("cid", "neighbor_id", "n_emb")
        .join(F.broadcast(cand), ["cid", "neighbor_id"])
        .select("query_id", "neighbor_id",
                F.round(sim, round_to).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    )


def ann_topk_ivf_quantized_sql(
    table: str = "embeddings",
    query_mod: int = 50,
    k: int = 5,
    n_lists: int | None = None,
    nprobe: int = IVF_NPROBE,
    rerank: int = 20,
    round_to: int = 6,
    dim: int = DIM,
    n_rows: int = ORACLE_N_ROWS,
) -> str:
    """DuckDB mirror of the quantized serving path: same centroids and
    EXACT-integer-key assignment/probe ranking as `ann_topk_ivf_sql`
    (the round-11 PQ-tier migration — HUGEINT arithmetic, ties to the
    smaller cid), plus the int8 quantization of `quantize_int8`
    (full-precision scale, like quantization_error_sql), the quantized
    top-`rerank` cut, and the exact rerank."""
    _, stride = ivf_params(n_rows, n_lists)
    acos = cosine_expr_duck("p.q_emb", "l.q", dim)
    qcos = cosine_expr_duck("q_emb", "n_emb", dim)
    absmax = (
        f"list_max([abs(CAST(n_emb[i] AS DOUBLE))"
        f" FOR i IN range(1, {dim} + 1)])"
    )
    num, key = _ivf_key_sql(dim)
    return f"""
        WITH mu AS (
            SELECT vec_id, embedding,
                   [CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
                    FOR x IN embedding] AS m
            FROM {table}
        ),
        cent AS (
            SELECT vec_id AS cid, m AS cm,
                   CAST(list_sum([m[i] * m[i]
                        FOR i IN range(1, {dim} + 1)]) AS BIGINT) AS nc
            FROM mu WHERE vec_id % {stride} = 0
        ),
        scoredc AS (
            SELECT e.vec_id, e.embedding, c.cid, c.nc, {num} AS num
            FROM mu e CROSS JOIN cent c
        ),
        assigned AS (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY {key} DESC, cid
                   ) AS crank
            FROM scoredc
        ),
        fl AS (
            SELECT vec_id AS neighbor_id, embedding AS n_emb, cid
            FROM assigned WHERE crank = 1
        ),
        ql AS (
            SELECT neighbor_id, cid, n_emb,
                   [CAST(round(CAST(n_emb[i] AS DOUBLE) / ({absmax} / 127.0))
                         AS INT) FOR i IN range(1, {dim} + 1)] AS q
            FROM fl
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS q_emb, cid
            FROM assigned
            WHERE vec_id % {query_mod} = 0 AND crank <= {nprobe}
        ),
        approx AS (
            SELECT p.query_id, p.q_emb, l.neighbor_id, l.n_emb,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY round({acos}, {round_to}) DESC, l.neighbor_id
                   ) AS arank
            FROM ql l JOIN probes p USING (cid)
            WHERE p.query_id != l.neighbor_id
        ),
        rescored AS (
            SELECT query_id, neighbor_id,
                   round({qcos}, {round_to}) AS sim
            FROM approx WHERE arank <= {rerank}
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rank
            FROM rescored
        )
        SELECT query_id, neighbor_id, sim, rank FROM ranked
        WHERE rank <= {k} ORDER BY query_id, rank
    """


# ---------------------------------------------------------------------------
# PQ (product quantization) ANN — asymmetric-distance flat scan + rerank
# ---------------------------------------------------------------------------

PQ_M = 8      # subspaces (DIM=64 → 8 dims each)
PQ_K = 16     # codes per subspace (256 in production; 16 keeps the
#               oracle corpus from under-filling codebooks)


def _pq_mu(vec: str) -> str:
    """Integer-µunit vector (the clustering.py convention): bit-exact
    distances on any engine/partitioning."""
    return (
        f"transform({vec}, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5)"
        f" AS BIGINT))"
    )


def _pq_subd2(a: str, b: str, sub: str, sub_dim: int) -> str:
    """Squared L2 between subvectors `sub` (0-based) of two µunit arrays."""
    return (
        f"aggregate(zip_with(slice({a}, {sub} * {sub_dim} + 1, {sub_dim}),"
        f" slice({b}, {sub} * {sub_dim} + 1, {sub_dim}),"
        f" (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    )


def ann_topk_pq(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    rerank: int = 20,
    n_rows: int | None = None,
    m_sub: int = PQ_M,
    k_codes: int = PQ_K,
    dim: int = DIM,
) -> DataFrame:
    """Product-quantization ANN (the FAISS-style ADC flat scan): encode
    every vector as `m_sub` sub-codes against stride-sampled per-subspace
    codebooks, rank candidates by asymmetric distance (per-query lookup
    tables over the 8-int codes), then rerank the top-`rerank` at full
    precision. Distances are exact integer µunit² L2 end-to-end —
    bit-identical across engines and partitionings (the clustering.py
    convention) — so output is (query_id, neighbor_id, d2, rank), d2
    ascending.

    100 TB design: encoding is one broadcast of the tiny codebook
    (k_codes rows) against the corpus — n·k_codes·dim flops, one pass,
    the IVF-assignment shape. Serving scans CODES ONLY (m_sub ints per
    row ≈ 8× less IO than the float vectors; compose with the IVF
    partitioning of `build_ivf_index_quantized` for pruned scans); each
    query ships a precomputed (m_sub × k_codes) distance table and pays
    O(m_sub) lookups per candidate — never a d-dim product. The flat
    scan is the PQ analog of `ann_topk_brute`'s deliberate broadcast
    (allow-listed in test_plans); the exact rerank touches full vectors
    for only |queries|·rerank rows via an equi-join."""
    from pyspark.sql.window import Window

    if n_rows is None:
        n_rows = embeddings.count()
    sub_dim = dim // m_sub
    stride = max(n_rows // k_codes, 1)
    mu = embeddings.select(
        "vec_id", F.expr(_pq_mu("embedding")).alias("m"))
    wcode = Window.orderBy("vec_id")
    codebook = (
        mu.filter(F.col("vec_id") % stride == 0)
        .orderBy("vec_id").limit(k_codes)
        .select(F.col("m").alias("cm"),
                (F.row_number().over(wcode) - 1).alias("code"))
    )
    # single-row codebook (code-ascending), checkpointed so the
    # scan→sort→limit subtree builds ONCE instead of once per broadcast
    # consumer (round 14): both the encode argmin and the per-query ADC
    # tables become WITHIN-ROW folds over this row — zero shuffles,
    # matching the stated one-pass 100 TB design (the previous shape
    # posexploded n·m_sub rows through two aggregation exchanges)
    cb_row = codebook.agg(
        F.expr("array_sort(collect_list(struct(code, cm)))").alias("_cbs")
    ).localCheckpoint(eager=True)
    # encode: per subspace j, argmin over the codebook — array_min over
    # struct(d2, code) picks the same (smallest d2, ties to the smaller
    # code) element the exploded min(struct(d2, code)) aggregate did
    code_j = (
        f"transform(sequence(0, {m_sub - 1}), j -> "
        f"array_min(transform(_cbs, cb -> struct("
        f"{_pq_subd2('m', 'cb.cm', 'j', sub_dim)} AS d2,"
        f" cb.code AS code))).code)"
    )
    enc = (
        mu.join(F.broadcast(cb_row))
        .select("vec_id", F.expr(code_j).alias("codes"))
    )
    # per-query ADC tables: codes_ds[code+1][sub+1] = d2(query sub, code
    # sub) — _cbs is code-ascending, so the array index == code order of
    # the previous collect_list(struct(code, ds)) sort
    queries = mu.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("m").alias("qm"))
    cds = (
        f"transform(_cbs, cb -> transform(sequence(0, {m_sub - 1}),"
        f" j -> {_pq_subd2('qm', 'cb.cm', 'j', sub_dim)}))"
    )
    adc = (
        queries.join(F.broadcast(cb_row))
        .select("query_id", F.expr(cds).alias("codes_ds"))
    )
    approx = F.expr(
        f"aggregate(zip_with(codes, sequence(1, {m_sub}),"
        f" (c, j) -> element_at(element_at(codes_ds, c + 1), j)),"
        f" 0L, (acc, v) -> acc + v)"
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("ad2").asc(), F.col("neighbor_id").asc())
    # the all-candidates stage carries ONLY the ADC tables; the full
    # query vector joins back AFTER the rerank cut, so the window
    # shuffle moves (query_id, neighbor_id, ad2) — never a d-sized qm
    # payload per candidate (that would forfeit the 8× scan-IO win)
    cand = (
        enc.select(F.col("vec_id").alias("neighbor_id"), "codes")
        .join(F.broadcast(adc))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", approx.alias("ad2"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    exact = F.expr(
        "aggregate(zip_with(qm, nm, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc())
    return (
        cand.join(mu.select(F.col("vec_id").alias("neighbor_id"),
                            F.col("m").alias("nm")), "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "neighbor_id", exact.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "d2", "rank")
        .orderBy("query_id", "rank")
    )


def ann_topk_pq_sql(
    table: str = "embeddings",
    query_mod: int = 50,
    k: int = 5,
    rerank: int = 20,
    n_rows: int = ORACLE_N_ROWS,
    m_sub: int = PQ_M,
    k_codes: int = PQ_K,
    dim: int = DIM,
) -> str:
    """DuckDB mirror of `ann_topk_pq` — relational form: encode via
    per-(vector, subspace) argmin over the codebook, approx distance via
    an equi-join of codes with the per-query ADC rows on (sub, code).
    Integer µunit² arithmetic throughout, so values match bit-for-bit."""
    sub_dim = dim // m_sub
    stride = max(n_rows // k_codes, 1)
    mu_list = (
        f"[CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
        f" FOR i IN range(1, {dim} + 1)]"
    )

    def subd2(a: str, b: str) -> str:
        return (
            f"list_sum([({a}[s.sub * {sub_dim} + i] - {b}[s.sub * {sub_dim} + i])"
            f" * ({a}[s.sub * {sub_dim} + i] - {b}[s.sub * {sub_dim} + i])"
            f" FOR i IN range(1, {sub_dim} + 1)])"
        )

    return f"""
        WITH mu AS MATERIALIZED (
            SELECT vec_id, {mu_list} AS m FROM {table}
        ),
        codebook AS MATERIALIZED (
            SELECT m AS cm,
                   row_number() OVER (ORDER BY vec_id) - 1 AS code
            FROM mu WHERE vec_id % {stride} = 0
            ORDER BY vec_id LIMIT {k_codes}
        ),
        subs AS (SELECT unnest(range({m_sub})) AS sub),
        enc AS MATERIALIZED (
            SELECT vec_id, sub, code FROM (
                SELECT v.vec_id, s.sub, c.code,
                       row_number() OVER (
                           PARTITION BY v.vec_id, s.sub
                           ORDER BY {subd2('v.m', 'c.cm')}, c.code
                       ) AS rn
                FROM mu v CROSS JOIN subs s CROSS JOIN codebook c
            ) WHERE rn = 1
        ),
        adc AS MATERIALIZED (
            SELECT q.vec_id AS query_id, s.sub, c.code,
                   {subd2('q.m', 'c.cm')} AS d2
            FROM mu q CROSS JOIN subs s CROSS JOIN codebook c
            WHERE q.vec_id % {query_mod} = 0
        ),
        approx AS (
            SELECT a.query_id, e.vec_id AS neighbor_id,
                   CAST(sum(a.d2) AS BIGINT) AS ad2
            FROM enc e JOIN adc a USING (sub, code)
            WHERE a.query_id != e.vec_id
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY ad2, neighbor_id
                   ) AS arank
            FROM approx
        ),
        rescored AS (
            SELECT c.query_id, c.neighbor_id,
                   CAST(list_sum([(q.m[i] - n.m[i]) * (q.m[i] - n.m[i])
                        FOR i IN range(1, {dim} + 1)]) AS BIGINT) AS d2
            FROM cand c
            JOIN mu q ON q.vec_id = c.query_id
            JOIN mu n ON n.vec_id = c.neighbor_id
            WHERE c.arank <= {rerank}
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY d2, neighbor_id
            ) AS rank
            FROM rescored
        )
        SELECT query_id, neighbor_id, d2, rank FROM ranked
        WHERE rank <= {k} ORDER BY query_id, rank
    """


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int | None = None,
    n_rows: int | None = None,
    m_sub: int = PQ_M,
    k_codes: int = PQ_K,
    dim: int = DIM,
) -> None:
    """Materialize the production ANN layout — IVF-PQ (the FAISS
    IVFADC index): `{path}/centroids` (cid, cm µunit vectors),
    `{path}/codebook` (code, cm µunit vectors — global per-subspace
    codebooks), and `{path}/lists` (neighbor_id, codes m_sub ints,
    n_m full µunit vector) hive-partitioned by cid.

    Everything is integer µunit² L2 — coarse assignment (argmin, ties
    to the smaller cid), PQ encoding, and later serving — so no float
    op exists anywhere in this family: bit-exact on any engine or
    partitioning, stronger than the cosine paths' round(6) discipline.

    100 TB: assignment + encoding are one corpus pass each against
    broadcast centroid/codebook tables (n·(√n + m·k) integer ops);
    serving scans (neighbor_id, codes) only — parquet column pruning
    on top of dynamic partition pruning, the ~8× IO cut inside only
    the probed lists."""
    from pyspark.sql.window import Window

    if n_rows is None:
        n_rows = embeddings.count()
    sub_dim = dim // m_sub
    _, stride = ivf_params(n_rows, n_lists)
    cstride = max(n_rows // k_codes, 1)
    mu = embeddings.select(
        "vec_id", F.expr(_pq_mu("embedding")).alias("m"))
    cent = mu.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"), F.col("m").alias("cm"))
    d2 = (
        "aggregate(zip_with(m, cm, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, v) -> acc + v)"
    )
    wc = Window.partitionBy("vec_id").orderBy(
        F.col("_d2").asc(), F.col("cid").asc())
    assigned = (
        mu.join(F.broadcast(cent))
        .withColumn("_d2", F.expr(d2))
        .withColumn("_rn", F.row_number().over(wc))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "m", "cid")
    )
    wcode = Window.orderBy("vec_id")
    codebook = (
        mu.filter(F.col("vec_id") % cstride == 0)
        .orderBy("vec_id").limit(k_codes)
        .select(F.col("m").alias("bm"),
                (F.row_number().over(wcode) - 1).alias("code"))
    )
    subds = F.expr(
        f"transform(sequence(0, {m_sub - 1}),"
        f" j -> {_pq_subd2('m', 'bm', 'j', sub_dim)})"
    )
    enc = (
        assigned.join(F.broadcast(codebook))
        .select("vec_id", "cid", "m", "code",
                F.posexplode(subds).alias("sub", "d2"))
        .groupBy("vec_id", "cid", "sub")
        .agg(F.min(F.struct("d2", "code")).alias("best"))
        .groupBy("vec_id", "cid")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(sub, best.code AS c))),"
            " s -> s.c)").alias("codes"))
    )
    lists = (
        enc.join(mu, "vec_id")
        .select(F.col("vec_id").alias("neighbor_id"), "codes",
                F.col("m").alias("n_m"), "cid")
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    codebook.write.mode("overwrite").parquet(f"{path}/codebook")
    (
        lists.repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(f"{path}/lists")
    )


def ann_topk_ivfpq(
    spark,
    index_path: str,
    query_mod: int = 50,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    rerank: int = 20,
    m_sub: int = PQ_M,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Serve ANN from the IVF-PQ index: queries rank the broadcast
    coarse centroids (integer L2) to pick `nprobe` lists; inside only
    the probed lists (dynamic partition pruning) candidates rank by
    asymmetric PQ distance — per-query (m_sub × k_codes) lookup tables
    over the m_sub-int codes column (column pruning keeps `n_m` out of
    this scan) — and the top `rerank` rerank exactly on the full µunit
    vectors via an equi-join. Output (query_id, neighbor_id, d2, rank),
    d2 = exact µunit² L2, bit-exact end-to-end."""
    from pyspark.sql.window import Window

    cent = spark.read.parquet(f"{index_path}/centroids")
    codebook = spark.read.parquet(f"{index_path}/codebook")
    lists = spark.read.parquet(f"{index_path}/lists")
    if queries is None:
        # self-queries drawn from the index (the audit/bench shape)
        queries = lists.filter(
            F.col("neighbor_id") % query_mod == 0
        ).select(
            F.col("neighbor_id").alias("query_id"),
            F.col("n_m").alias("qm"),
        )
    else:
        # EXTERNAL query table (query_id, q_emb float/double array) —
        # the real serving shape; ids must not collide with index ids
        # (the query_id != neighbor_id guard would drop that neighbor)
        queries = queries.select(
            "query_id", F.expr(_pq_mu("q_emb")).alias("qm"))
    d2c = (
        "aggregate(zip_with(qm, cm, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, v) -> acc + v)"
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("cid").asc())
    probes = (
        queries.join(F.broadcast(cent))
        .withColumn("_d2", F.expr(d2c))
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qm", "cid")
    )
    dim_expr = "size(qm)"
    qsubds = F.expr(
        f"transform(sequence(0, {m_sub - 1}),"
        f" j -> aggregate(zip_with("
        f"   slice(qm, j * ({dim_expr} div {m_sub}) + 1,"
        f"         {dim_expr} div {m_sub}),"
        f"   slice(bm, j * ({dim_expr} div {m_sub}) + 1,"
        f"         {dim_expr} div {m_sub}),"
        f"   (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v))"
    )
    adc = (
        probes.select("query_id", "qm").dropDuplicates(["query_id"])
        .join(F.broadcast(codebook))
        .select("query_id", "code", qsubds.alias("ds"))
        .groupBy("query_id")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(code, ds))),"
            " s -> s.ds)").alias("codes_ds"))
    )
    approx = F.expr(
        f"aggregate(zip_with(codes, sequence(1, {m_sub}),"
        f" (c, j) -> element_at(element_at(codes_ds, c + 1), j)),"
        f" 0L, (acc, v) -> acc + v)"
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("ad2").asc(), F.col("neighbor_id").asc())
    cand = (
        lists.select("cid", "neighbor_id", "codes")
        .join(probes.select("query_id", "cid"), "cid")
        .join(F.broadcast(adc), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "cid", "neighbor_id", approx.alias("ad2"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "cid", "neighbor_id")
    )
    exact = F.expr(
        "aggregate(zip_with(qm, n_m, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc())
    return (
        lists.select("cid", "neighbor_id", "n_m")
        .join(F.broadcast(cand), ["cid", "neighbor_id"])
        .join(queries, "query_id")
        .select("query_id", "neighbor_id", exact.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "d2", "rank")
        .orderBy("query_id", "rank")
    )


#: id shift for the external-query fixture (must not collide with index
#: vector ids — the self-exclusion guard would drop a true neighbor)
EXTERNAL_QUERY_ID_SHIFT = 10_000_000


def _ivfpq_queries_sql(table: str, query_mod: int, dim: int,
                       external: bool) -> str:
    if not external:
        return (f"SELECT vec_id AS query_id, m AS qm FROM mu"
                f" WHERE vec_id % {query_mod} = 0")
    qm = (
        f"[CAST(floor((CAST(embedding[i] AS DOUBLE)"
        f" + ((i - 1) % 5) * 0.001) * 1e6 + 0.5) AS BIGINT)"
        f" FOR i IN range(1, {dim} + 1)]"
    )
    return (
        f"SELECT vec_id + {EXTERNAL_QUERY_ID_SHIFT} AS query_id,"
        f" {qm} AS qm FROM {table} WHERE vec_id % {query_mod} = 0"
    )


def ann_topk_ivfpq_sql(
    table: str = "embeddings",
    query_mod: int = 50,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    rerank: int = 20,
    n_rows: int = ORACLE_N_ROWS,
    n_lists: int | None = None,
    m_sub: int = PQ_M,
    k_codes: int = PQ_K,
    dim: int = DIM,
    external: bool = False,
) -> str:
    """DuckDB mirror of build_ivfpq_index + ann_topk_ivfpq (pure
    integer µunit² arithmetic — values match bit-for-bit). With
    `external=True` the queries are the registry's deterministic
    external-query fixture: every `query_mod`-th vector, id-shifted by
    10⁷, perturbed by +((j mod 5)·0.001) per dimension BEFORE µunit
    conversion — vectors NOT present in the index."""
    sub_dim = dim // m_sub
    _, stride = ivf_params(n_rows, n_lists)
    cstride = max(n_rows // k_codes, 1)
    mu_list = (
        f"[CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
        f" FOR i IN range(1, {dim} + 1)]"
    )

    def d2(a: str, b: str) -> str:
        return (
            f"list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
            f" FOR i IN range(1, {dim} + 1)])"
        )

    def subd2(a: str, b: str) -> str:
        return (
            f"list_sum([({a}[s.sub * {sub_dim} + i]"
            f" - {b}[s.sub * {sub_dim} + i])"
            f" * ({a}[s.sub * {sub_dim} + i] - {b}[s.sub * {sub_dim} + i])"
            f" FOR i IN range(1, {sub_dim} + 1)])"
        )

    return f"""
        WITH mu AS MATERIALIZED (
            SELECT vec_id, {mu_list} AS m FROM {table}
        ),
        cent AS MATERIALIZED (
            SELECT vec_id AS cid, m AS cm FROM mu
            WHERE vec_id % {stride} = 0
        ),
        assigned AS MATERIALIZED (
            SELECT vec_id, m, cid FROM (
                SELECT v.vec_id, v.m, c.cid,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {d2('v.m', 'c.cm')}, c.cid
                       ) AS rn
                FROM mu v CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        codebook AS MATERIALIZED (
            SELECT m AS bm, row_number() OVER (ORDER BY vec_id) - 1 AS code
            FROM mu WHERE vec_id % {cstride} = 0
            ORDER BY vec_id LIMIT {k_codes}
        ),
        subs AS (SELECT unnest(range({m_sub})) AS sub),
        enc AS MATERIALIZED (
            SELECT vec_id, cid, sub, code FROM (
                SELECT a.vec_id, a.cid, s.sub, c.code,
                       row_number() OVER (
                           PARTITION BY a.vec_id, s.sub
                           ORDER BY {subd2('a.m', 'c.bm')}, c.code
                       ) AS rn
                FROM assigned a CROSS JOIN subs s CROSS JOIN codebook c
            ) WHERE rn = 1
        ),
        qs AS MATERIALIZED ({_ivfpq_queries_sql(
            table, query_mod, dim, external)}
        ),
        probes AS MATERIALIZED (
            SELECT query_id, qm, cid FROM (
                SELECT q.query_id, q.qm, c.cid,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {d2('q.qm', 'c.cm')}, c.cid
                       ) AS rn
                FROM qs q CROSS JOIN cent c
            ) WHERE rn <= {nprobe}
        ),
        adc AS MATERIALIZED (
            SELECT p.query_id, s.sub, c.code,
                   {subd2('p.qm', 'c.bm')} AS d2
            FROM (SELECT DISTINCT query_id, qm FROM probes) p
                 CROSS JOIN subs s CROSS JOIN codebook c
        ),
        approx AS (
            SELECT p.query_id, e.vec_id AS neighbor_id,
                   CAST(sum(a.d2) AS BIGINT) AS ad2
            FROM probes p
            JOIN enc e ON e.cid = p.cid
            JOIN adc a ON a.query_id = p.query_id
                      AND a.sub = e.sub AND a.code = e.code
            WHERE p.query_id != e.vec_id
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY ad2, neighbor_id
                   ) AS arank
            FROM approx
        ),
        rescored AS (
            SELECT c.query_id, c.neighbor_id,
                   CAST({d2('q.qm', 'n.m')} AS BIGINT) AS d2
            FROM cand c
            JOIN qs q ON q.query_id = c.query_id
            JOIN mu n ON n.vec_id = c.neighbor_id
            WHERE c.arank <= {rerank}
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY d2, neighbor_id
            ) AS rank
            FROM rescored
        )
        SELECT query_id, neighbor_id, d2, rank FROM ranked
        WHERE rank <= {k} ORDER BY query_id, rank
    """


def ann_recall_ivf(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    n_lists: int | None = None,
    nprobe: int = IVF_NPROBE,
    round_to: int = 6,
    n_rows: int | None = None,
) -> DataFrame:
    """recall@k of the IVF path against the exact brute-force baseline —
    the IVF twin of `ann_recall_lsh`, so BOTH approximate scale paths
    carry a priced quality audit. nprobe is the recall/cost dial this
    audit calibrates: rerun on a query sample when nprobe, the list
    count, or the corpus distribution changes."""
    brute = ann_topk_brute(embeddings, query_mod, k, round_to)
    ivf = ann_topk_ivf(embeddings, query_mod, k, n_lists, nprobe,
                       round_to, n_rows)
    return _recall_vs_brute(brute, ivf, k, round_to)


def ann_recall_ivf_sql(
    table: str = "embeddings",
    query_mod: int = 50,
    k: int = 5,
    n_lists: int | None = None,
    nprobe: int = IVF_NPROBE,
    round_to: int = 6,
    dim: int = DIM,
    n_rows: int = ORACLE_N_ROWS,
) -> str:
    brute = ann_topk_brute_sql(table, query_mod, k, round_to, dim)
    ivf = ann_topk_ivf_sql(table, query_mod, k, n_lists, nprobe,
                           round_to, dim, n_rows)
    return f"""
        WITH brute AS ({brute}),
        ivf AS ({ivf}),
        hits AS (
            SELECT brute.query_id, count(*) AS n_hits
            FROM brute JOIN ivf
              ON brute.query_id = ivf.query_id
             AND brute.neighbor_id = ivf.neighbor_id
            GROUP BY 1
        )
        SELECT q.query_id,
               round(coalesce(hits.n_hits, 0) / {float(k)}, {round_to})
                   AS recall_at_k
        FROM (SELECT DISTINCT query_id FROM brute) q
        LEFT JOIN hits ON q.query_id = hits.query_id
        ORDER BY q.query_id
    """


def nprobe_candidates(n_lists: int) -> list[int]:
    """Doubling ladder 1, 2, 4, … capped by (and always including)
    `n_lists` — the candidate set `tune_nprobe` prices. nprobe = n_lists
    probes every list, so the ladder's last rung is exact (recall 1.0),
    guaranteeing the tuner always has a feasible point."""
    cands: list[int] = []
    p = 1
    while p < n_lists:
        cands.append(p)
        p *= 2
    cands.append(n_lists)
    return cands


def tune_nprobe(
    embeddings: DataFrame,
    target_recall: float = 0.9,
    query_mod: int = 50,
    k: int = 5,
    n_lists: int | None = None,
    round_to: int = 6,
    n_rows: int | None = None,
    candidates: list[int] | None = None,
) -> DataFrame:
    """Recall-targeted nprobe auto-tuning: close the loop on the
    `ann_recall_ivf` audit by pricing a doubling ladder of nprobe values
    and choosing the SMALLEST whose sampled mean recall@k ≥ target.

    Output: one row per candidate — (nprobe, mean_recall, meets_target,
    chosen), nprobe-ascending, exactly one row with chosen = true.

    Why this terminates at a sane point: with exact reranking, a brute
    top-k neighbor that lands in any probed list always outranks every
    non-top-k candidate, so per-query hits = |brute_topk ∩ probed lists| —
    monotone non-decreasing in nprobe (pinned by
    tests/test_operators.py::test_tune_nprobe_monotone), and nprobe =
    n_lists probes everything (recall exactly 1.0), so `chosen` falls back
    to the last rung only when no smaller rung meets the target.

    100 TB: the audit runs on a query SAMPLE (query_mod) and the corpus
    is scanned ONCE — and since per-query hits = |brute_topk ∩ probed
    lists| (the invariant above), the whole rung ladder collapses to
    ONE left join of the brute top-k onto the candidates' probe ranks
    plus ONE |rungs|-column conditional aggregate (round 14, guide
    §2.3/§2.4 — previously each rung re-ranked the cached candidates
    with its own window + join + aggregate: 27 jobs / 89 stages for
    window arithmetic whose outcome the invariant already determines).
    hits(p) = |{brute neighbor b : pcrank_b ≤ p}| because a brute top-k
    neighbor outranks every non-top-k candidate under the identical
    (rounded sim DESC, neighbor_id ASC) order, so it enters the rung's
    top-k exactly when its list is probed. The result per rung is
    bit-identical to `ann_recall_ivf(nprobe=p)` (pinned by
    test_tune_nprobe_rungs_match_direct_audit; the shared DuckDB oracle
    — which still runs the per-rung window form — checks every rung)."""
    from pyspark.sql.window import Window

    if n_rows is None:
        n_rows = embeddings.count()
    nl, _ = ivf_params(n_rows, n_lists)
    if candidates is None:
        candidates = nprobe_candidates(nl)
    # normalize caller-supplied rungs (ADVICE r14): the per-rung column
    # aliases are value-derived (_h{p}/_m{p}), so duplicate rungs would
    # collide on alias names and a non-integer like 1.0 would make
    # F.col("_h1.0") parse the dot as a struct accessor. Dedup + int +
    # sort changes nothing for the default ladder (already unique ints
    # ascending) and the output is nprobe-ascending by contract.
    candidates = sorted({int(p) for p in candidates})
    max_p = int(max(candidates))

    brute = ann_topk_brute(embeddings, query_mod, k, round_to).select(
        "query_id", "neighbor_id")

    # one corpus scan via the SHARED candidate construction (`_ivf_scored`
    # — the exact code ann_topk_ivf runs, no twin to drift): assignment
    # and probe ranking are nprobe-independent
    scored = _ivf_scored(
        embeddings, query_mod, max_p, round_to, n_rows, n_lists
    )

    # LEFT join: a query whose brute neighbors all miss the probed
    # lists must still contribute k zero-hit rows to its recall
    bq = brute.join(
        scored.select("query_id", "neighbor_id", "pcrank"),
        ["query_id", "neighbor_id"], "left",
    )
    perq = bq.groupBy("query_id").agg(*[
        F.count(F.when(F.col("pcrank") <= p, True)).alias(f"_h{p}")
        for p in candidates
    ])
    # identical expression sequence to the per-rung form: per-query
    # round(hits/k), mean over queries, round — so values stay
    # bit-for-bit
    means = perq.agg(*[
        F.round(
            F.avg(F.round(F.col(f"_h{p}") / F.lit(float(k)), round_to)),
            round_to,
        ).alias(f"_m{p}")
        for p in candidates
    ])
    audit = means.select(F.inline(F.array(*[
        F.struct(F.lit(int(p)).cast("int").alias("nprobe"),
                 F.col(f"_m{p}").alias("mean_recall"))
        for p in candidates
    ])))
    w = Window.partitionBy(F.lit(1))
    best = F.min(
        F.when(F.col("mean_recall") >= target_recall, F.col("nprobe"))
    ).over(w)
    return (
        audit
        .withColumn("meets_target",
                    F.col("mean_recall") >= F.lit(target_recall))
        .withColumn(
            "chosen",
            F.col("nprobe")
            == F.coalesce(best, F.lit(int(max(candidates)))),
        )
        .orderBy("nprobe")
    )


def tune_nprobe_sql(
    table: str = "embeddings",
    target_recall: float = 0.9,
    query_mod: int = 50,
    k: int = 5,
    n_lists: int | None = None,
    round_to: int = 6,
    dim: int = DIM,
    n_rows: int = ORACLE_N_ROWS,
    candidates: list[int] | None = None,
) -> str:
    """DuckDB mirror of `tune_nprobe`: same candidate ladder, each rung's
    mean recall computed by the pinned `ann_recall_ivf_sql`, same
    smallest-feasible choice via a window min."""
    nl, _ = ivf_params(n_rows, n_lists)
    if candidates is None:
        candidates = nprobe_candidates(nl)
    candidates = sorted({int(p) for p in candidates})  # mirror tune_nprobe
    rungs = "\n            UNION ALL\n".join(
        f"""            SELECT CAST({p} AS INTEGER) AS nprobe,
                   round(avg(recall_at_k), {round_to}) AS mean_recall
            FROM ({ann_recall_ivf_sql(table, query_mod, k, n_lists, p,
                                      round_to, dim, n_rows)})"""
        for p in candidates
    )
    return f"""
        WITH audit AS (
{rungs}
        )
        SELECT nprobe, mean_recall,
               mean_recall >= {target_recall} AS meets_target,
               nprobe = coalesce(
                   min(CASE WHEN mean_recall >= {target_recall}
                            THEN nprobe END) OVER (),
                   {int(max(candidates))}) AS chosen
        FROM audit
        ORDER BY nprobe
    """


# ---------------------------------------------------------------------------
# dimension truncation (Matryoshka-style serving)
# ---------------------------------------------------------------------------


def ann_topk_truncated(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    keep_dims: int = 32,
    round_to: int = 6,
) -> DataFrame:
    """Brute top-k cosine over the FIRST `keep_dims` components only —
    the Matryoshka/truncated-embedding serving trade (Kusupati et al.
    2022): store/scan a prefix of each vector for a proportional IO
    and memory cut, accepting a recall hit that
    `ann_recall_truncated` prices. Same plan as `ann_topk_brute`
    (tiny query side broadcast over one corpus scan + per-query
    window); at 100 TB the scan reads `keep_dims/DIM` of the vector
    bytes — with vectors stored column-sliced, a real ~2× cut at 32
    of 64 dims."""
    q = embeddings.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cand = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )
    sim = F.expr(cosine_expr_spark(f"slice(q_emb, 1, {keep_dims})",
                                   f"slice(n_emb, 1, {keep_dims})"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(sim, round_to).alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    )


def ann_topk_truncated_sql(
    table: str = "embeddings",
    query_mod: int = 50,
    k: int = 5,
    keep_dims: int = 32,
    round_to: int = 6,
) -> str:
    """DuckDB mirror (cosine over the first `keep_dims` components)."""
    cos = cosine_expr_duck("q.embedding", "n.embedding", keep_dims)
    return f"""
        WITH q AS (SELECT vec_id, embedding FROM {table}
                   WHERE vec_id % {query_mod} = 0),
        scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   round({cos}, {round_to}) AS sim
            FROM q CROSS JOIN {table} n
            WHERE q.vec_id != n.vec_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, sim, rank FROM ranked
        WHERE rank <= {k} ORDER BY query_id, rank
    """


def ann_recall_truncated(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    keep_dims: int = 32,
    round_to: int = 6,
) -> DataFrame:
    """recall@k of the truncated-dimension path vs the full-dimension
    brute baseline — prices the Matryoshka IO cut exactly like
    `ann_recall_lsh`/`ann_recall_ivf` price their approximations
    (every approximate serving path in this engine ships with its
    audit)."""
    brute = ann_topk_brute(embeddings, query_mod, k, round_to)
    trunc = ann_topk_truncated(embeddings, query_mod, k, keep_dims,
                               round_to)
    return _recall_vs_brute(brute, trunc, k, round_to)


def ann_recall_truncated_sql(
    table: str = "embeddings",
    query_mod: int = 50,
    k: int = 5,
    keep_dims: int = 32,
    round_to: int = 6,
    dim: int = DIM,
) -> str:
    """DuckDB mirror of `ann_recall_truncated`."""
    brute = ann_topk_brute_sql(table, query_mod, k, round_to, dim)
    trunc = ann_topk_truncated_sql(table, query_mod, k, keep_dims,
                                   round_to)
    return f"""
        WITH brute AS ({brute}),
        trunc AS ({trunc}),
        hits AS (
            SELECT brute.query_id, count(*) AS n_hits
            FROM brute JOIN trunc
              ON brute.query_id = trunc.query_id
             AND brute.neighbor_id = trunc.neighbor_id
            GROUP BY 1
        )
        SELECT q.query_id,
               round(coalesce(hits.n_hits, 0) / {float(k)}, {round_to})
                 AS recall_at_k
        FROM (SELECT DISTINCT query_id FROM brute) q
        LEFT JOIN hits ON q.query_id = hits.query_id
        ORDER BY q.query_id
    """


def ann_topk_mmr(
    embeddings: DataFrame,
    query_id: int = 0,
    pool: int = 40,
    k: int = 8,
    key: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DIVERSIFIED top-k (max-marginal-relevance, Carbonell & Goldstein
    1998, in the exact-integer L2 house flavor): take the `pool`
    nearest candidates to the query, then greedily pick k of them —
    first the nearest, then repeatedly the candidate maximizing
    (distance-to-nearest-SELECTED − distance-to-query), ties to the
    smaller id. The relevance/diversity trade the plain top-k lacks:
    a clump of near-duplicate neighbors yields one representative, not
    k copies (the retrieval-time complement of SemDeDup, and
    kcenter_select restricted to a query's neighborhood).

    All µunit² BIGINT distances (no floats) → bit-exact on both
    engines. Output: (rank, key, d2q_mu, minred_mu) rank-ascending;
    minred_mu = exact squared distance to the nearest earlier pick
    (-1 for the rank-1 seed, the kcenter convention).

    100 TB: the pool selection is the distributed stage — a per-row
    codegen d2 against the LITERAL query vector (no join) + TakeOrdered
    to `pool` rows; the greedy runs on that statistic-sized pool
    driver-side (the kcenter/bpe_merges precedent)."""
    mu_expr = ("transform({v}, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6"
               " + 0.5) AS BIGINT))").format(v=vec_col)
    mu = embeddings.select(F.col(key).alias("vid"),
                           F.expr(mu_expr).alias("m"))
    qrow = mu.filter(F.col("vid") == query_id).select("m").first()
    qm = [int(x) for x in qrow["m"]]
    d2q = " + ".join(f"(m[{i}] - ({c})) * (m[{i}] - ({c}))"
                     for i, c in enumerate(qm))
    cands = (
        mu.filter(F.col("vid") != query_id)
        .select("vid", "m", F.expr(f"CAST({d2q} AS BIGINT)").alias("d2q"))
        .orderBy(F.col("d2q").asc(), F.col("vid").asc())
        .limit(pool)
        .collect()
    )
    # exact-integer greedy over the statistic-sized pool
    remaining = [(int(r["vid"]), [int(x) for x in r["m"]], int(r["d2q"]))
                 for r in cands]
    picked = []
    minred = {vid: None for vid, _, _ in remaining}

    def _d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    while remaining and len(picked) < k:
        if not picked:
            best = min(remaining, key=lambda t: (t[2], t[0]))
        else:
            best = max(remaining,
                       key=lambda t: (minred[t[0]] - t[2], -t[0]))
        picked.append((len(picked) + 1, best[0], best[2],
                       minred[best[0]]))
        remaining = [t for t in remaining if t[0] != best[0]]
        for vid, m, _ in remaining:
            d = _d2(m, best[1])
            if minred[vid] is None or d < minred[vid]:
                minred[vid] = d
    rows = [(rank, vid, d2q_,
             -1 if mr is None else int(mr))
            for (rank, vid, d2q_, mr) in picked]
    return embeddings.sparkSession.createDataFrame(
        rows, f"rank int, {key} bigint, d2q_mu bigint, minred_mu bigint"
    ).orderBy("rank")


def ann_topk_mmr_sql(
    table: str = "embeddings",
    query_id: int = 0,
    pool: int = 40,
    k: int = 8,
    key: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> str:
    """DuckDB mirror of :func:`ann_topk_mmr` (pool CTE + one unrolled
    (pick, distance-update) pair per greedy step — the
    kcenter_select_sql pattern)."""
    d2 = ("list_sum([ (a.m[i] - b.m[i]) * (a.m[i] - b.m[i])"
          " FOR i IN range(1, len(a.m) + 1) ])")
    ctes = [
        f"""mu AS (
            SELECT {key} AS vid,
                   [CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
                    FOR x IN {vec_col}] AS m
            FROM {table}
        )""",
        f"""qv AS (SELECT m FROM mu WHERE vid = {query_id})""",
        f"""pool AS (
            SELECT a.vid, a.m,
                   CAST({d2.replace('b.m', 'q.m')} AS BIGINT) AS d2q
            FROM mu a, qv q
            WHERE a.vid != {query_id}
            ORDER BY d2q ASC, vid ASC LIMIT {pool}
        )""",
        """p1 AS (
            SELECT vid, m, d2q, CAST(-1 AS BIGINT) AS minred
            FROM pool ORDER BY d2q ASC, vid ASC LIMIT 1
        )""",
        f"""r1 AS (
            SELECT a.vid, a.m, a.d2q,
                   CAST({d2.replace('a.m', 'c.m').replace('b.m', 'p.m')}
                        AS BIGINT) AS minred
            FROM pool a, p1 p, LATERAL (SELECT a.m) c(m)
            WHERE a.vid != p.vid
        )""",
    ]
    rows = ["SELECT 1 AS rank, vid, d2q, minred FROM p1"]
    for r in range(2, k + 1):
        ctes.append(f"""p{r} AS (
            SELECT vid, m, d2q, minred FROM r{r - 1}
            ORDER BY (minred - d2q) DESC, vid ASC LIMIT 1
        )""")
        rows.append(f"SELECT {r} AS rank, vid, d2q, minred FROM p{r}")
        if r < k:
            ctes.append(f"""r{r} AS (
                SELECT a.vid, a.m, a.d2q,
                       least(a.minred,
                             CAST({d2.replace('a.m', 'c.m')
                                     .replace('b.m', 'p.m')} AS BIGINT))
                           AS minred
                FROM r{r - 1} a, p{r} p, LATERAL (SELECT a.m) c(m)
                WHERE a.vid != p.vid
            )""")
    union = " UNION ALL ".join(rows)
    return ("WITH " + ",\n".join(ctes) + f"""
        SELECT rank, vid AS {key}, d2q AS d2q_mu, minred AS minred_mu
        FROM ({union}) ORDER BY rank""")
