"""Regenerate PLANS.md: captured physical-plan evidence for the scale
claims in SCALE.md (pushdown, partition pruning, broadcast joins, no
cartesian products, struct-IN merge pruning).

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402
from explora_kafka_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

#: query -> (claim, line-selector regexes). Only matching plan lines are
#: kept: full plans are noisy and the interesting rows are the scan /
#: join / exchange nodes.
CASES: dict[str, tuple[str, list[str]]] = {
    "history_range_hour": (
        "View selection + partition pruning: the scan reads ONE lattice "
        "slice (metric/precision/res are partition columns) and pushes the "
        "ts range to parquet row groups.",
        [r"FileScan", r"PartitionFilters", r"PushedFilters"],
    ),
    "snapshot_bbox_quad": (
        "A bbox cover is an index rectangle: each row's tile x/y are read "
        "from its quadkey as a Morton code and filtered with two integer "
        "ranges, and the gh range between the rectangle's Morton corners "
        "is pushed to the scan (tests/test_views_query.py::"
        "test_bbox_rectangle_reaches_the_parquet_scan). No cover is "
        "enumerated, no IN list is shipped, and the plan has no join, no "
        "Exchange and no BroadcastExchange.",
        [r"FileScan", r"PartitionFilters", r"PushedFilters", r"Join",
         r"Exchange"],
    ),
    "snapshot_bbox_geohash": (
        "The precision-3 bbox's 7,482-cell cover is never enumerated: the "
        "filter reads each row's lon/lat cell indices from its geohash and "
        "keeps two index ranges, and the gh Morton range reaches the scan, "
        "so the plan is the same whatever the cover size "
        "(tests/test_views_query.py::"
        "test_bbox_rectangle_reaches_the_parquet_scan). The slice holds "
        "one row per cell (the view store's key-uniqueness invariant, "
        "plans/views.py), so nothing is merged: no aggregate, no Exchange "
        "and no BroadcastExchange, only the scan, its filter and a sort "
        "inside one partition, one job of one stage "
        "(tests/test_views_query.py::test_snapshot_tail_merges_nothing).",
        [r"FileScan", r"PartitionFilters", r"Join", r"Exchange",
         r"HashAggregate", r"Sort", r"Coalesce"],
    ),
    "ann_topk_ivf_indexed": (
        "Serving from the materialized IVF index: the lists scan is "
        "hive-partitioned by cid and the probe join is an equi-join on "
        "cid, so unprobed lists prune at scan time.",
        [r"FileScan", r"PartitionFilters", r"BroadcastHashJoin",
         r"Exchange hashpartitioning"],
    ),
    "join_rollup_nation": (
        "Dimension joins broadcast (no full shuffle of the fact side).",
        [r"BroadcastHashJoin", r"BroadcastExchange", r"SortMergeJoin"],
    ),
    "market_share": (
        "TPC-H Q8 (round 11): a 7-table star where EVERY dimension is "
        "a BroadcastHashJoin build side — the lineitem fact is the only "
        "shuffled input, and the p_type filter prunes the part dim "
        "before it broadcasts.",
        [r"BroadcastHashJoin", r"PushedFilters", r"SortMergeJoin"],
    ),
    "waiting_supplier": (
        "TPC-H Q21 (round 11): the classic EXISTS/NOT-EXISTS pair is "
        "ONE aggregation over distinct late (order, supplier) pairs — "
        "no lineitem self-join appears; joins are hash-partitioned "
        "equi-joins plus one broadcast of the supplier dim.",
        [r"Join", r"Exchange hashpartitioning", r"HashAggregate"],
    ),
    "disjunctive_revenue": (
        "TPC-H Q19 (round 11): the three brand/size/quantity "
        "OR-branches reach the parquet scan as a pushed disjunction "
        "(row-group skipping on l_quantity) with the residual applied "
        "after ONE broadcast part join.",
        [r"PushedFilters", r"BroadcastHashJoin"],
    ),
    "cluster_source_mi": (
        "Cluster-source MI (round 13 fix): the CxS cell table is "
        "localCheckpointed before the marginals derive from it, so the "
        "corpus-side doc_id equi-join + (cluster,source) agg runs "
        "EXACTLY ONCE (r12 verdict: the four consumers each re-ran the "
        "corpus subtree — four BroadcastHashJoin scans where one "
        "suffices); downstream the plan is Scan ExistingRDD arithmetic "
        "on statistic-sized tables, and the only keyless attach is the "
        "ONE-ROW total onto the cell table.",
        [r"BroadcastNestedLoopJoin", r"BroadcastHashJoin",
         r"HashAggregate", r"Scan ExistingRDD"],
    ),
    "dedup_near": (
        "LSH banding is an equi-join on band buckets: shuffle-hash/sort-"
        "merge on the bucket key, NO CartesianProduct / "
        "BroadcastNestedLoopJoin anywhere.",
        [r"Join", r"Exchange hashpartitioning"],
    ),
    "dedup_near_capped": (
        "Hot-bucket anchor cap (round 14): anchor election compiles to "
        "a PARTIAL WindowGroupLimit BEFORE the bucket-key exchange — "
        "each map task forwards at most cap rows per bucket, so the "
        "election's shuffle is bounded map-side and the hot bucket "
        "never lands whole on one reducer; the anchor x member "
        "equi-join then replaces the full self-join. Still no "
        "CartesianProduct / BroadcastNestedLoopJoin anywhere.",
        [r"WindowGroupLimit", r"Join", r"Exchange hashpartitioning"],
    ),
    "simhash_capped": (
        "The anchor cap on the hamming-banded family (round 14, shared "
        "fp_banded_pairs — phash_capped compiles identically): the "
        "same partial WindowGroupLimit lands BEFORE the (band, val) "
        "exchange, so an identical-fingerprint boilerplate bucket is "
        "bounded map-side in every band; the anchor x member equi-join "
        "replaces the full self-join.",
        [r"WindowGroupLimit", r"Join", r"Exchange hashpartitioning"],
    ),
    "lsh_cap_audit": (
        "Cap pricing (round 14): TWO hash aggregations (bucket sizes, "
        "then per-band rollup) over the banding projection — no join, "
        "no pair row ever materialized; pricing a 10^12-pair bucket "
        "costs one count.",
        [r"HashAggregate", r"Exchange hashpartitioning"],
    ),
    "corpus_gate_bloom": (
        "Admission gate, Bloom mode (round 14): the contamination tier "
        "is k BROADCAST probes against the statistic-sized bitmap word "
        "table — the shingle index's `_h` equi-join is GONE from the "
        "plan (the bitmap fold enters as Scan ExistingRDD); the "
        "near-dup band join is unchanged.",
        [r"BroadcastHashJoin", r"Scan ExistingRDD", r"Join"],
    ),
    "gate_verdicts_read": (
        "First-write-wins sink read (round 14): ONE doc_id-partitioned "
        "row_number window over the two sink scans' union — the single "
        "shuffle any exactly-once consumer of an at-least-once sink "
        "pays, and the rank=1 limit compiles to a PARTIAL "
        "WindowGroupLimit that drops losing duplicates map-side before "
        "the exchange; sink scans stay column-pruned.",
        [r"WindowGroupLimit", r"Exchange hashpartitioning", r"FileScan"],
    ),
    "contamination_bloom_audit": (
        "Bloom sketch path (round 13): the k membership probes are "
        "BROADCAST hash joins against the statistic-sized bitmap word "
        "table — the probe side never shuffles; the only exchange is "
        "the per-doc aggregation. The exact `_h` join rides along for "
        "the audit columns.",
        [r"BroadcastHashJoin", r"Exchange hashpartitioning",
         r"SortMergeJoin"],
    ),
    "dedup_index_append": (
        "Serving a ledgered dedup index (round 13): dedup_check joins "
        "the probe batch against the committed UNION (base dir + "
        "streamed delta dirs) on (band_idx, band_key) — still a plain "
        "hash equi-join; the delta scans are batch-sized by "
        "construction and compact_dedup_index folds them back. No "
        "CartesianProduct / BroadcastNestedLoopJoin.",
        [r"Join", r"Exchange hashpartitioning", r"Union"],
    ),
    "ann_topk_brute": (
        "The exact baseline deliberately broadcasts the (small) query "
        "side; this BNLJ is the one allow-listed nested-loop in the repo.",
        [r"BroadcastNestedLoopJoin", r"BroadcastExchange"],
    ),
    "split_train_val_test": (
        "Training-corpus split is map-side only. The single "
        "RoundRobinPartitioning Exchange below is the test-data spread of "
        "the one-file documents input (`__spark_entry__._spread`, a "
        "fixture artifact); the operator itself adds NO exchange — "
        "asserted shuffle-free on the raw table in "
        "tests/test_sampling.py::test_operators_are_shuffle_free.",
        [r"FileScan", r"Exchange", r"WholeStageCodegen"],
    ),
    "pack_sequences": (
        "Sequence packing is shard-local: ONE hash exchange on the shard "
        "key feeds the window cumsum; the pack-id explode and slice "
        "arithmetic stay inside whole-stage codegen. No global sort of "
        "the corpus, no Python.",
        [r"Exchange", r"Window", r"Generate", r"WholeStageCodegen"],
    ),
    "metric_hour_anomaly": (
        "Anomaly scoring is the hourly rollup (one aggregation exchange) "
        "plus ONE window exchange on metric_id; the trailing stats are "
        "bounded ROWS frames, so per-row state is 24 values regardless of "
        "history length.",
        [r"Exchange", r"Window", r"HashAggregate"],
    ),
    "snapshot_radius_quad": (
        "Circle snapshot: the driver-side circle cover (bbox cover "
        "refined by per-cell min-distance, pure Python) reaches the "
        "lattice scan as partition pruning + a pushed cell predicate — "
        "identical plan shape to the bbox path, no engine-side "
        "trigonometry, no join.",
        [r"FileScan", r"PartitionFilters", r"PushedFilters", r"Join"],
    ),
    "segment_dedup": (
        "Segment dedup is two linear shuffles — first-occurrence window "
        "on the 8-byte segment hash, reassembly aggregation on doc_id — "
        "and NO filter below the spread exchange carries the segment "
        "transform (the explode-inferred-filter pushdown the "
        "contamination family dodges; posexplode here infers only cheap "
        "predicates).",
        [r"Exchange", r"Window", r"HashAggregate", r"Generate"],
    ),
    "decontaminate": (
        "Apply-side decontamination after the round-7 fix: the only "
        "filter at the scan is the CHEAP split-hash predicate (the "
        "shingle transform appears nowhere below the spread exchange), "
        "within-doc dedup is map-side array_distinct (no corpus-sized "
        "keyed DISTINCT exchange), and the test shingle set builds a "
        "BroadcastHashJoin — benchmark-sized, not corpus-sized.",
        [r"FileScan", r"BroadcastHashJoin", r"Exchange", r"Generate"],
    ),
    "dedup_check_batch": (
        "Incremental near-dup check: the corpus side is a column-pruned "
        "scan of the MATERIALIZED band-bucket index (8-byte keys + sig), "
        "joined on (band_idx, band_key) as a plain shuffled equi-join — "
        "corpus documents are never re-read.",
        [r"FileScan", r"SortMergeJoin", r"ShuffledHashJoin", r"Exchange"],
    ),
    "kmeans_clusters": (
        "k-means assignment: the k x d centroid table broadcasts "
        "(keyless, the IVF-family allowance) and the argmin is a per-row "
        "fold — the only hash exchanges are the (cluster, dim) partial-"
        "sum update and the per-vector window, both map-side combined.",
        [r"BroadcastNestedLoopJoin", r"Exchange", r"HashAggregate"],
    ),
    "corpus_gate": (
        "Admission gate: BOTH corpus artifacts enter as materialized-"
        "index scans (shingle set, band buckets); every join is an "
        "equi-join; no corpus document bytes appear anywhere in the "
        "plan.",
        [r"FileScan", r"Join", r"Exchange"],
    ),
    "ann_topk_ivf_quantized": (
        "Quantized IVF serving: the candidate scan reads ONLY "
        "(neighbor_id, q, cid) — column pruning delivers the ~4x IO "
        "cut, n_emb never read corpus-wide — and both qlists scans "
        "carry dynamic partition pruning on cid; the rerank join is an "
        "equi-join on (cid, neighbor_id).",
        [r"FileScan", r"dynamicpruning", r"BroadcastHashJoin"],
    ),
    "ann_topk_pq": (
        "PQ flat scan: after encode, candidate ranking touches the "
        "8-int codes plus the broadcast per-query ADC tables (the "
        "deliberate keyless broadcast, ann_topk_brute's allowance); "
        "the exact rerank is an equi-join on neighbor_id over "
        "|queries| x rerank rows.",
        [r"BroadcastNestedLoopJoin", r"SortMergeJoin",
         r"ShuffledHashJoin", r"BroadcastHashJoin", r"HashAggregate"],
    ),
    "interpolate_hour": (
        "Gap interpolation: grid explode is output-sized; the fills "
        "are two running windows over ONE series-key exchange (windows "
        "share the (metric, gh) partitioning; no Python).",
        [r"Window", r"Exchange", r"Generate"],
    ),
    "ann_topk_ivfpq": (
        "IVF-PQ serving: candidate scan reads ONLY (neighbor_id, codes, "
        "cid) — 8-int codes, column-pruned — inside dynamically-pruned "
        "lists; full vectors (n_m) appear only in the query and rerank "
        "reads.",
        [r"FileScan", r"dynamicpruning", r"BroadcastHashJoin"],
    ),
    "group_aware_split": (
        "Leakage-safe split: the plan is the dedup-groups pass (banded "
        "equi-joins + pointer-jumping iterations) plus a pure hash "
        "projection — no additional exchange for the assignment "
        "itself.",
        [r"Project.*split", r"Exchange", r"Join"],
    ),
    "ngram_repetition": (
        "The Generate (explode of a 1-element array) is the projection-"
        "collapse barrier: the document tokenizer split appears ONCE in "
        "the whole plan (without it CollapseProject inlines the split "
        "into every per-gram lambda — O(tokens²)/doc). Two partial-agg "
        "exchanges; the final doc-keyed join re-attaches short docs.",
        [r"Generate", r"Exchange hashpartitioning", r"HashAggregate",
         r"Join"],
    ),
    "click_attribution": (
        "Stream-stream attribution's batch twin: a user_id EQUI-join "
        "with the event-time range as residual predicate — never a "
        "cartesian (gate-asserted).",
        [r"Join", r"Exchange hashpartitioning"],
    ),
    "embedding_covariance": (
        "The d(d+1)/2 covariance statistics come from per-Arrow-batch "
        "int64 Gram matrices (MapInPandas) — the exchange after it "
        "carries ~2080 rows per partition, never per-vector data.",
        [r"MapInPandas", r"Exchange hashpartitioning", r"HashAggregate"],
    ),
    "pack_docs": (
        "Whole-doc next-fit packing: ONE hash exchange on the shard key "
        "feeds the grouped-map (FlatMapGroupsInPandas) linear scan; no "
        "other shuffle, text never enters it.",
        [r"FlatMapGroupsInPandas", r"Exchange", r"FileScan"],
    ),
    "curriculum_select": (
        "Top-frac-per-source cut: one exchange on source feeding the "
        "per-source rank window; the stats join is doc-keyed.",
        [r"Exchange hashpartitioning", r"Window", r"Join"],
    ),
    "semantic_dedup": (
        "SemDeDup pair stage: a SortMergeJoin on the cluster id with "
        "rank + integer cosine as residual — within-cluster pairs only, "
        "never a cartesian; the only BNLJs are the kmeans-family "
        "keyless centroid broadcasts.",
        [r"SortMergeJoin \[cid", r"BroadcastNestedLoopJoin", r"Window"],
    ),
    "dsir_weights": (
        "DSIR scoring: the bucket-LM λ table broadcasts (B rows) onto "
        "the gram stream; totals attach onto the B-row table only; the "
        "per-doc sum is a hash aggregate with map-side combine.",
        [r"BroadcastHashJoin", r"HashAggregate", r"BroadcastExchange"],
    ),
    "knn_graph": (
        "kNN graph pair stage: the same cid equi-join as semantic_dedup "
        "feeding a per-vector TopK window — candidate volume is "
        "within-cluster pairs, output ≤ k rows per vector.",
        [r"SortMergeJoin \[cid", r"Window", r"Filter.*rank"],
    ),
    "semdedup_check": (
        "Incremental semantic check: the batch assigns against the "
        "STORED centroid parquet (tiny broadcast) and equi-joins only "
        "the probed rep partitions — corpus never rescanned.",
        [r"FileScan parquet.*(centroids|reps)", r"BroadcastNestedLoopJoin",
         r"SortMergeJoin \[cid|ShuffledHashJoin \[cid|"
         r"BroadcastHashJoin \[cid"],
    ),
    "corpus_gate_full": (
        "Three-tier admission gate: every tier is an equi-join against "
        "a materialized index (shingle hashes, LSH band buckets, "
        "semantic reps) — per-batch cost independent of corpus size.",
        [r"FileScan parquet", r"Join"],
    ),
    "pca_project": (
        "PCA application: the axis rides as a LITERAL array inside the "
        "projection — no join, no shuffle, one scan.",
        [r"FileScan parquet", r"Project", r"Exchange"],
    ),
    "ship_priority": (
        "TPC-H Q3: the segment-filtered customer dim broadcasts, both "
        "date predicates reach the scans (PushedFilters), the top-10 is "
        "a TakeOrdered, not a sort.",
        [r"FileScan", r"PushedFilters", r"BroadcastHashJoin",
         r"TakeOrderedAndProject"],
    ),
    "zorder_layout": (
        "Z-order key is pure codegen bit math over the scan — no UDF, "
        "no join; the top-200 is a TakeOrdered.",
        [r"FileScan", r"TakeOrderedAndProject", r"Exchange"],
    ),
    "trending_items": (
        "Trending: one hash exchange on (window, item) with map-side "
        "combine, then the per-window TopK runs as WindowGroupLimit "
        "pushdown over the counts table.",
        [r"Exchange hashpartitioning", r"WindowGroupLimit",
         r"HashAggregate"],
    ),
    "item_lift": (
        "Market-basket pairs: a basket-keyed equi-join (user_id, d) — "
        "never a corpus cartesian; item totals broadcast; the single-row "
        "basket total attaches to the pair table only (BNLJ allowance).",
        [r"SortMergeJoin|ShuffledHashJoin", r"BroadcastHashJoin",
         r"BroadcastNestedLoopJoin"],
    ),
    "quality_logit": (
        "Classifier tier: a shuffle-free whole-stage-codegen projection "
        "— the scan and the sort for presentation are the entire plan.",
        [r"FileScan", r"Exchange", r"Project"],
    ),
    "source_mix_entropy": (
        "Source-mix entropy: ONE source-keyed partial-agg shuffle "
        "(S keys, map-side combine), then the 1-row totals broadcast "
        "onto the S-row table — no corpus-sized join anywhere.",
        [r"HashAggregate", r"BroadcastExchange", r"Exchange"],
    ),
    "knn_pagerank": (
        "PageRank rounds run over the localCheckpoint'ed edge RDD: the "
        "per-round plan is one src equi-join + one dst hash aggregate; "
        "the Lloyd/kNN build never re-executes (scan shows the "
        "checkpoint, not the parquet).",
        [r"Scan ExistingRDD", r"HashAggregate", r"SortMergeJoin|BroadcastHashJoin"],
    ),
    "doremi_weights": (
        "DoReMi mixture: the corpus token scan feeds a bucket hash "
        "aggregate once (map-side combine); the S-row excess table "
        "fans out to S x steps rows and every normalization is a "
        "statistic-sized aggregate or broadcast.",
        [r"HashAggregate", r"BroadcastExchange", r"Generate explode"],
    ),
    "nation_profit": (
        "TPC-H Q9 shape: the part-name LIKE filter is PUSHED to the "
        "part scan (Contains), part/supplier/nation broadcast, and the "
        "only shuffled tables are the two facts (lineitem via the "
        "orders equi-join).",
        [r"FileScan", r"PushedFilters", r"BroadcastHashJoin",
         r"SortMergeJoin"],
    ),
    "min_cost_supplier": (
        "TPC-H Q2 shape: the size/type filters reach the part scan, "
        "every dim broadcasts, and the correlated-min window runs over "
        "the (part, supplier)-sized AGGREGATE — the fact never enters "
        "a window.",
        [r"PushedFilters", r"BroadcastHashJoin", r"Window",
         r"HashAggregate"],
    ),
    "ngram_novelty": (
        "Boilerplate share: the md5 is a post-explode codegen "
        "projection (no interpreted lambda); ONE hash-keyed exchange "
        "builds gram doc-frequency and the join back is on the same "
        "key — no second gram-table exchange, never all-pairs.",
        [r"Generate explode", r"Exchange hashpartitioning",
         r"SortMergeJoin|BroadcastHashJoin", r"HashAggregate"],
    ),
    "vocab_coverage": (
        "Vocab sizing: the unpartitioned cumsum window runs over the "
        "frequency-CLASS table (<= sqrt(2 tokens) rows), not the "
        "vocab; the threshold boundary join is 4 rows x classes.",
        [r"Window", r"Exchange", r"HashAggregate",
         r"BroadcastNestedLoopJoin"],
    ),
}


def main() -> None:
    spark = get_spark(app_name="explora-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = E.queries()
    out = [
        "# PLANS — captured physical-plan evidence (sf0.01)",
        "",
        "Generated by `python tools/dump_plans.py`. Each section keeps only",
        "the load-bearing plan rows (scans, joins, exchanges) for the claim",
        "it evidences; `tests/test_plans.py` asserts the same properties in",
        "CI so they cannot regress silently.",
        "",
    ]
    for name, (claim, pats) in CASES.items():
        df = queries[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        keep = []
        for line in plan.splitlines():
            if any(re.search(p, line) for p in pats):
                # trim codegen ids and long schema tails for readability
                line = re.sub(r"\s+ReadSchema:.*$", "", line.rstrip())
                keep.append(line[:400])
        out.append(f"## {name}")
        out.append("")
        out.append(claim)
        out.append("")
        out.append("```")
        out.extend(keep if keep else ["(no matching nodes — plan below)",
                                      *plan.splitlines()[:10]])
        out.append("```")
        out.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
