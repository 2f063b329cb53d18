"""Plan-shape audit over the ENTIRE driver query registry: every
`queries()` entry is checked for scale anti-patterns — unconditional
cartesian products, missing partition pruning on lattice scans, and
driver-side collects. This is the regression gate for "would this plan
survive a 100× scale-up"."""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from explora_kafka_spark.plans import query as Q

SF_DIR = "/root/testdata/sf0.001"

#: queries whose plan legitimately contains a nested-loop/cross join:
#: - ann_topk_brute broadcasts a tiny query side against the corpus by
#:   design (the exact baseline; the LSH variant is the scale path).
#: - tfidf_top_terms broadcasts a SINGLE-ROW global aggregate (n_docs,
#:   no grouping keys) onto the per-term stats; Spark plans a keyless
#:   broadcast join as BroadcastNestedLoopJoin, but the build side is
#:   exactly one row, so the "nested loop" is a constant-attach — the
#:   idiomatic scale-safe replacement for the old driver-side collect.
#: - ann_recall_lsh contains the brute-force baseline as one side of the
#:   recall comparison, so it inherits ann_topk_brute's deliberate BNLJ.
#: - ann_topk_ivf broadcasts the tiny centroid sample keylessly for list
#:   assignment (O(n·√n) by design); the candidate join itself is an
#:   equi-join on the list id.
#: - ann_topk_ivf_indexed inherits the same keyless centroid broadcast
#:   for probe selection (queries × centroids, both tiny); the list
#:   candidate join stays an equi-join on cid with dynamic partition
#:   pruning.
#: - ann_topk_ivf_filtered is ann_topk_ivf with a candidate-label
#:   predicate — same deliberate centroid broadcast, same equi-join.
#: - ann_recall_ivf contains both the brute baseline (deliberate BNLJ)
#:   and the IVF centroid broadcast, so it inherits both allowances.
#: - tune_nprobe is the recall ladder built on ann_recall_ivf's shape:
#:   one brute baseline (deliberate BNLJ) + one keyless centroid
#:   broadcast, computed ONCE and cached; every rung is a filter+window
#:   over the cached candidates, so the allowance count does not grow
#:   with the number of rungs.
#: - kmeans_clusters / kmeans_sizes / kmeans_outliers broadcast the tiny
#:   k×d centroid table keylessly for the per-row argmin (exactly the
#:   IVF-family centroid allowance); every other join in the operator is
#:   an equi-join or map-side fold.
#: - dedup_recall carries the audit-only all-pairs exact-Jaccard
#:   baseline on a bounded doc sample — the text-side twin of
#:   ann_recall_lsh's deliberate brute baseline; the production pair
#:   generator it audits stays the bucketed equi-join.
#: - unigram_bits attaches the single-row (T, V) totals onto the VOCAB
#:   table (keyless one-row broadcast, the tfidf constant-attach) —
#:   never onto the corpus; the doc-scoring join is an equi-join.
#: - ann_topk_ivf_quantized inherits ann_topk_ivf_indexed's keyless
#:   centroid broadcast for probe selection; both the quantized
#:   candidate join and the full-precision rerank join are equi-joins
#:   (cid / cid+neighbor_id) with dynamic partition pruning.
#: - ann_topk_pq is the PQ flat scan: the tiny codebook broadcasts
#:   keylessly for encoding (the IVF-centroid allowance) and each query
#:   ships its precomputed ADC table onto the 8-int code scan — the PQ
#:   analog of ann_topk_brute's deliberate broadcast, at ~8× less scan
#:   IO and O(m_sub) work per pair; the exact rerank join is an
#:   equi-join on neighbor_id.
#: - ann_topk_ivfpq composes both allowances (keyless centroid
#:   broadcast for probe selection, keyless per-query ADC attach); the
#:   candidate join itself is an equi-join on cid with dynamic
#:   partition pruning and the rerank an equi-join on
#:   (cid, neighbor_id).
#: - bm25_search attaches the single-row (sdl, n_docs) corpus totals
#:   onto the |terms|-row idf table and the query-term-pruned tf rows
#:   (the tfidf/unigram_bits one-row constant-attach) — never onto the
#:   unpruned corpus; the doc-length join is an equi-join on doc_id.
#: - bigram_bits attaches the single-row vocabulary size V onto the
#:   BIGRAM-VOCAB table only (the unigram_bits allowance, one level
#:   up); the doc-scoring join is an equi-join on (prev, cur).
#: - ann_topk_ivfpq_external is ann_topk_ivfpq serving an external
#:   query table — the identical code path and allowances (keyless
#:   centroid broadcast for probe selection, keyless per-query ADC
#:   attach); only the query-side input differs.
#: - semantic_dedup / knn_graph / semantic_groups run on the kmeans
#:   assignment, so they inherit the kmeans-family keyless centroid
#:   broadcast; the pair stage of each is a hash equi-join on the
#:   cluster id (the point of the cluster-local recipe — never a
#:   cartesian). knn_hubness aggregates knn_graph's edge table, so it
#:   inherits the same kmeans-family centroid broadcast.
#:   label_propagation is knn_graph + per-round vid/label
#:   equi-joins; its knn/Lloyd stage (same centroid allowance) is
#:   localCheckpoint'ed away, so its captured plan is the clean
#:   label-table tail and it needs no allow-list row.
#:   semantic_groups additionally runs the dedup_groups
#:   pointer-jumping CC over the edge set (equi-joins only);
#:   semdedup_sweep prices every rung from the same single pair scan.
#: - dsir_select is dsir_weights + a TakeOrdered top-100, so it
#:   inherits dsir_weights' one-row totals constant-attach.
#: - semdedup_check broadcasts the STORED k×d centroid table keylessly
#:   for batch assignment (the kmeans-family allowance, off a parquet
#:   read); the reps join is an equi-join on cid. corpus_gate_full
#:   contains semdedup_check as its semantic tier, so it inherits the
#:   same allowance (the text tiers are all equi-joins);
#:   corpus_gate_scored adds only a doc-keyed classifier equi-join on
#:   top, so it inherits corpus_gate_full's allowance unchanged.
#:   cluster_top_terms runs kmeans for the cluster column (same
#:   centroid broadcast); the token join is a doc-keyed equi-join.
#:   semdedup_check_audit contains BOTH the frozen-index check and a
#:   full-union semantic_dedup (audit-only allowance, the
#:   dedup_recall precedent), so it inherits their broadcasts.
#: - ann_recall_truncated composes two brute paths (full-dim baseline +
#:   truncated candidate), so it inherits ann_topk_brute's deliberate
#:   tiny-query-side keyless broadcast.
#: - item_lift attaches the single-row basket total onto the PAIR-count
#:   table only (the unigram_bits constant-attach allowance); the pair
#:   stage itself is a basket-keyed equi-join, per-item counts are
#:   broadcast equi-joins on the item id.
#: - dsir_weights attaches the single-row (Tr, Tt) gram totals onto the
#:   B-row bucket-count table only (the unigram_bits constant-attach
#:   allowance — never onto the corpus); the doc-scoring join is a
#:   broadcast equi-join on the bucket id.
#: - hybrid_search composes bm25_search (one-row totals constant-attach)
#:   with the single-query vector tower — ONE broadcast query vector
#:   against the corpus scan (ann_topk_brute's deliberate tiny-side
#:   keyless broadcast); the RRF fusion itself is a ≤pool-row full-outer
#:   equi-join on the doc key.
#: - nearest_poi broadcasts the K-row POI dimension keylessly onto the
#:   point scan (the kmeans-centroid constant-attach, K tiny by
#:   contract); the argmin folds map-side so the shuffle is one row per
#:   point. For POI sets beyond broadcast size the operator contract
#:   says grid-bucket via proximity_pairs instead.
CROSS_JOIN_OK = {"ann_topk_brute", "tfidf_top_terms", "ann_recall_lsh",
                 "ann_topk_ivf", "ann_topk_ivf_indexed",
                 "ann_topk_ivf_filtered", "ann_recall_ivf",
                 # ivf_list_skew: the ONE-ROW (total, L) broadcast
                 # onto the L-row per-list statistic table (the
                 # source_mix_entropy allowance — never the corpus)
                 "ivf_list_skew",
                 # ann_recall_drift: the BNLJ is the ann_topk_brute
                 # ground-truth baseline (tiny query sample broadcast
                 # over one corpus scan — the recall-audit allowance
                 # shared with ann_recall_ivf/ann_recall_lsh); the
                 # stale-index serving side prunes via DPP (PLANS.md)
                 "ann_recall_drift",
                 "tune_nprobe", "kmeans_clusters", "kmeans_sizes",
                 "kmeans_outliers", "dedup_recall", "unigram_bits",
                 "ann_topk_ivf_quantized", "ann_topk_pq",
                 "ann_topk_ivfpq", "ann_topk_ivfpq_external",
                 "bm25_search", "bigram_bits", "semantic_dedup",
                 "dsir_weights", "knn_graph", "semantic_groups",
                 "semdedup_sweep", "dsir_select", "semdedup_check",
                 "corpus_gate_full", "cluster_top_terms",
                 "semdedup_check_audit", "item_lift",
                 "ann_recall_truncated", "knn_hubness",
                 "corpus_gate_scored", "hybrid_search", "nearest_poi",
                 # one-row statistic broadcasts onto statistic-sized
                 # sides (the tfidf allowance), never the corpus:
                 # source totals onto the S-row source table / unigram
                 # totals onto the vocab / dangling mass onto nodes
                 "source_mix_entropy", "doremi_weights", "knn_pagerank",
                 # tier_dup_lift / token_mix_by_tier: the ONE-ROW
                 # corpus-total broadcast onto the T-row / SxT-row
                 # statistic table (the source_mix_entropy allowance)
                 "tier_dup_lift", "token_mix_by_tier",
                 # pack_efficiency_report: two ONE-ROW aggregate
                 # attaches (per-strategy doc stats onto the 1-row
                 # pack stats) — 1-row x 1-row, never the corpus
                 "pack_efficiency_report",
                 # cluster_source_mi: the ONE-ROW corpus total
                 # broadcast keylessly onto the C x S statistic cell
                 # table (the source_mix_entropy allowance — never the
                 # corpus; the corpus-side join is the doc_id equi-join)
                 "cluster_source_mi",
                 # idle_customers (TPC-H Q22 shape): the ONE-ROW
                 # avg-balance threshold broadcast keylessly onto the
                 # customer dim scan — a map-side constant attach (the
                 # bm25_search one-row-totals allowance), not a
                 # cartesian blowup; every other join in the entry is
                 # an equi- or anti-join.
                 "idle_customers",
                 # important_parts (TPC-H Q11 shape): the ONE-ROW
                 # grand-total threshold broadcast keylessly onto the
                 # part-keyed aggregate (statistic-sized, never the
                 # fact — the idle_customers allowance).
                 "important_parts",
                 # length_bucket_drift: the dense S-row x B-row
                 # source x bucket grid (a few hundred statistic
                 # cells) is a keyless broadcast of the B-row bucket
                 # table onto the S-row source table, plus the 1-row
                 # grand total onto the bucket table — never the
                 # corpus (the source_mix_entropy allowance).
                 "length_bucket_drift",
                 # temperature_mix: two ONE-ROW total attaches onto
                 # the S-row source table (the source_mix_entropy
                 # allowance).
                 "temperature_mix",
                 # vocab_coverage: the ONE-ROW totals onto the 4-row
                 # threshold table, and the non-equi cum_tok >= target
                 # boundary join of the 4-row threshold table against
                 # the frequency-CLASS table (<= sqrt(2*total) rows by
                 # the class argument) — both statistic-sized, never
                 # the vocab or the corpus.
                 "vocab_coverage"}

#: lattice-backed queries that must show partition pruning on the
#: materialized view scan
LATTICE_QUERIES = {
    "base_view_min_p7", "lattice_hour_p6", "lattice_month_p7",
    "history_range_hour", "history_cells_day", "history_prefix_hour",
    "history_interval_1day", "snapshot_day", "snapshot_prefix_day",
    "lattice_minmax_day", "history_max_day",
}


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in E.queries().items():
        df = fn(spark, SF_DIR)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_unexpected_cartesian_products(plans):
    bad = []
    for name, plan in plans.items():
        if name in CROSS_JOIN_OK:
            continue
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            bad.append(name)
    assert not bad, f"cartesian/nested-loop joins in: {bad}"


def test_lattice_scans_are_partition_pruned(plans):
    missing = [
        name for name in LATTICE_QUERIES
        if "PartitionFilters: [" not in plans[name].replace(
            "PartitionFilters: []", ""
        )
    ]
    assert not missing, f"no partition filters in: {missing}"


def test_ivf_quantized_scan_shapes(plans):
    """The quantized serving path's load-bearing claims: the candidate
    scan reads ONLY (neighbor_id, q, cid) — column pruning delivers the
    4× IO cut, n_emb is never read corpus-wide — and the probed-list
    scans carry dynamic partition pruning on cid."""
    import re

    plan = plans["ann_topk_ivf_quantized"]
    assert re.search(r"FileScan parquet \[neighbor_id#\d+L,q#\d+,cid#\d+\]",
                     plan), "candidate scan must read (neighbor_id, q, cid)"
    assert "dynamicpruning" in plan


def test_ivfpq_scan_shapes(plans):
    """IVF-PQ serving: the candidate scan reads ONLY (neighbor_id,
    codes, cid) — n_m touched only by the query/rerank reads — and the
    probed-list scans carry dynamic partition pruning."""
    import re

    plan = plans["ann_topk_ivfpq"]
    assert re.search(
        r"FileScan parquet \[neighbor_id#\d+L,codes#\d+,cid#\d+\]", plan)
    assert "dynamicpruning" in plan


def test_dim_joins_are_broadcast(plans):
    # the star-schema rollup must broadcast its dimension tables
    assert "BroadcastHashJoin" in plans["join_rollup_nation"]


def test_time_predicates_reach_the_scan(plans):
    # pushable ts comparisons (not wrapped in unix_millis) — regression
    # guard for the round-2 pushdown fix
    plan = plans["history_range_hour"]
    assert "DataFilters" in plan
    scan_filters = plan.split("DataFilters:")[1].split("]")[0]
    assert "ts" in scan_filters and (">=" in scan_filters or ">" in scan_filters)


def test_large_covers_are_joinless_predicates(plans, spark):
    # large covers prefix-compress (compress_cover) and ship as one SQL IN
    # expression (no join, no broadcast build, no exchange on the probe
    # side) up to COMPRESSED_COVER_LIMIT prefixes. The route cover is
    # 5,090 cells (1,463 prefixes), so it stays joinless only when the
    # route path compresses with its alphabet. The registry's bbox (a
    # 7,482-cell cover) filters the stored rectangle and enumerates none.
    route = Q.snapshot_route_geohashing(
        E._geo_lattice(spark, SF_DIR, "geohash", 5, 3), "view", "count", 3,
        "day", E._SNAP_DAY_MS, [(-50.0, -100.0), (-10.0, -20.0), (30.0, 60.0)],
        2_500_000.0)
    cases = {
        "snapshot_bbox_geohash": plans["snapshot_bbox_geohash"],
        "wide geohash route": route._jdf.queryExecution().executedPlan().toString(),
    }
    for name, plan in cases.items():
        assert "Join" not in plan, f"{name} still plans a join:\n{plan[:2000]}"
