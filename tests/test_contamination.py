"""Contamination + repetition operator semantics (operators/contamination.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from explora_kafka_spark.operators import contamination as C


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_repetition_scores(spark):
    df = _docs_df(spark, [
        (1, "a b c a b c a b c"),   # 7 trigrams, 3 distinct → 1 - 3/7
        (2, "one two three four"),  # 2 trigrams, both distinct → 0.0
        (3, "too short"),           # < 3 tokens → 0 grams, score 0.0
    ])
    out = {r["doc_id"]: r.asDict() for r in C.repetition(df).collect()}
    assert out[1]["n_grams"] == 7 and out[1]["n_distinct"] == 3
    assert abs(out[1]["repetition"] - (1 - 3 / 7)) < 1e-6
    assert out[2]["repetition"] == 0.0
    assert out[3]["n_grams"] == 0 and out[3]["repetition"] == 0.0


def test_shingle_guard_short_docs(spark):
    # Spark's sequence(1, 0) is DESCENDING — the CASE guard must return an
    # empty array, not a bogus 2-element one
    df = _docs_df(spark, [(1, "a b c d"), (2, "a b c d e")])
    out = (
        df.withColumn("_toks", C.tokens_col("text"))
        .select("doc_id", C.word_shingles_col("_toks", 5).alias("s"))
    )
    got = {r["doc_id"]: r["s"] for r in out.collect()}
    assert got[1] == []
    assert got[2] == ["a b c d e"]


def test_contamination_exact_duplicates_fully_contaminated(spark):
    # 64 docs over 8 distinct texts: every text lands in train at least
    # once w.h.p. under a 50/50 split, so every test doc that shares its
    # text with ANY train doc must score exactly 1.0
    texts = [
        f"alpha bravo charlie delta echo foxtrot golf hotel {i}"
        for i in range(8)
    ]
    rows = [(i, texts[i % 8]) for i in range(64)]
    df = _docs_df(spark, rows)
    weights = (("train", 0.5), ("test", 0.5))
    assigned = {
        r["doc_id"]: r["split"]
        for r in __import__(
            "explora_kafka_spark.operators.sampling", fromlist=["split_assign"]
        ).split_assign(df, weights).select("doc_id", "split").collect()
    }
    train_texts = {texts[d % 8] for d, s in assigned.items() if s == "train"}
    out = {
        r["doc_id"]: r["contamination"]
        for r in C.contamination(df, weights=weights).collect()
    }
    assert out, "no test docs assigned — split degenerate"
    for doc_id, score in out.items():
        if texts[doc_id % 8] in train_texts:
            assert score == 1.0, (doc_id, score)
        else:
            assert score == 0.0, (doc_id, score)


def test_assemble_corpus_picks_canonical(spark):
    from explora_kafka_spark.operators.corpus import assemble_corpus

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet green forest tonight")
    df = _docs_df(spark, [
        (1, base), (2, base), (3, base),          # exact triplicate
        (10, "completely different text about spark shuffles and "
             "partition pruning in distributed aggregation engines"),
    ])
    out = {r["group_id"]: r.asDict() for r in assemble_corpus(df).collect()}
    trip = out[min(out)]  # the triplicate's group labels as min doc_id = 1
    assert trip["doc_id"] == 1 and trip["group_size"] == 3
    assert out[10]["doc_id"] == 10 and out[10]["group_size"] == 1
    # exactly one canonical row per group
    assert len(out) == 2


def test_contamination_check_equals_one_shot(spark, tmp_path):
    """The materialized-index path must reproduce the one-shot
    contamination computation row-for-row (the ann_topk_ivf_indexed ≡
    ann_topk_ivf pattern, VERDICT r6 item 4)."""
    from explora_kafka_spark.operators.sampling import split_assign

    rows = [
        (i, f"the quick brown fox {i % 7} jumps over the lazy dog {i % 3}"
            f" word{i % 5} filler tokens here")
        for i in range(80)
    ]
    df = _docs_df(spark, rows)
    C.build_contamination_index(df, str(tmp_path / "cont"))
    batch = split_assign(df).filter(F.col("split") == "test").select(
        "doc_id", "text")
    checked = C.contamination_check(
        spark, batch, str(tmp_path / "cont")).collect()
    one_shot = C.contamination(df).collect()
    assert [tuple(r) for r in checked] == [tuple(r) for r in one_shot]
    assert checked, "no test docs — split degenerate"


def test_contamination_index_layout(spark, tmp_path):
    """Index holds the train split's DISTINCT shingle hashes only —
    8-byte bigint keys, the batch-join artifact."""
    df = _docs_df(spark, [
        (i, "alpha bravo charlie delta echo foxtrot") for i in range(20)
    ])
    C.build_contamination_index(df, str(tmp_path / "cont"))
    idx = spark.read.parquet(str(tmp_path / "cont" / "train_shingles"))
    assert idx.columns == ["_h"]
    assert dict(idx.dtypes)["_h"] == "bigint"
    # all 20 docs share one text → exactly 2 distinct 5-gram hashes
    assert idx.count() == 2
    assert idx.distinct().count() == idx.count()


# ---------------------------------------------------------------------------
# decontaminate (apply-side: flag train docs that leak the test set)
# ---------------------------------------------------------------------------


def test_decontaminate_mirrors_contamination(spark, sf_dir):
    """For every (train doc, test corpus) shingle: the total number of
    tainted train-side hits must equal the total contaminated test-side
    hits when the overlap is symmetric... weaker but structural: every
    scored doc is train-split, taint in [0, 1], kept == (taint <= thr)."""
    from explora_kafka_spark.operators.sampling import split_assign
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = C.decontaminate(docs, threshold=0.5).collect()
    assert out, "no train docs scored"
    train_ids = {
        r["doc_id"]
        for r in split_assign(docs).filter("split = 'train'")
        .select("doc_id").collect()
    }
    for r in out:
        assert r["doc_id"] in train_ids
        assert 0.0 <= r["taint"] <= 1.0
        assert r["n_tainted"] <= r["n_shingles"]
        assert r["kept"] == (r["taint"] <= 0.5)


def test_decontaminate_flags_exact_leak(spark):
    """Force one train doc to exactly duplicate a test doc: its taint
    must be 1.0 and kept False; a disjoint-vocab train doc stays 0.0."""
    from explora_kafka_spark.operators.sampling import split_assign
    base = [(i, f"filler{i} " * 8) for i in range(40)]
    df = _docs_df(spark, [(i, t.strip()) for i, t in base])
    splits = {r["doc_id"]: r["split"] for r in split_assign(df).collect()}
    test_id = next(i for i in splits if splits[i] == "test")
    train_id = next(i for i in splits if splits[i] == "train")
    rows = [(i, t.strip()) for i, t in base]
    # duplicate the test doc's text into one train doc
    rows = [(i, (dict(rows)[test_id] if i == train_id else t))
            for i, t in rows]
    out = {r["doc_id"]: r for r in
           C.decontaminate(_docs_df(spark, rows), threshold=0.5).collect()}
    assert out[train_id]["taint"] == 1.0 and not out[train_id]["kept"]
    clean = [r for i, r in out.items() if i != train_id]
    assert all(r["taint"] == 0.0 and r["kept"] for r in clean)


def test_corpus_diff_statuses(spark):
    from explora_kafka_spark.operators.corpus import corpus_diff
    old = _docs_df(spark, [(1, "a"), (2, "b"), (3, "c")])
    new = _docs_df(spark, [(2, "B  "), (3, "c changed"), (4, "d")])
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    # doc 2: only case/whitespace churn -> unchanged (normalized digest)
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_corpus_report_hand_corpus(spark):
    from explora_kafka_spark.operators.corpus import corpus_report
    rows = [
        (1, "the cat sat on the mat"),       # en, 6 tokens
        (2, "the cat sat on the mat"),       # exact dup of 1
        (3, "le chat est sur le tapis"),     # fr
    ]
    r = corpus_report(_docs_df(spark, rows)).collect()[0]
    assert r["n_docs"] == 3
    assert r["total_tokens"] == 18
    assert r["n_exact_dup_docs"] == 1
    assert r["share_en"] == round(2 / 3, 6)
    assert 0.0 <= r["mean_quality"] <= 1.0
    assert 0.0 <= r["mean_repetition"] <= 1.0


def test_source_dedup_profile_counts(spark):
    from explora_kafka_spark.operators.corpus import source_dedup_profile

    docs = spark.createDataFrame(
        [
            (1, "same text", "a"), (2, "same text", "a"),
            (3, "  SAME   text ", "a"),          # normalizes identical
            (4, "unique here", "a"),
            (5, "clean", "b"), (6, "also clean", "b"),
        ],
        "doc_id bigint, text string, source string",
    )
    out = {r["source"]: r for r in source_dedup_profile(docs).collect()}
    assert out["a"]["n_docs"] == 4 and out["a"]["n_unique"] == 2
    assert out["a"]["n_exact_dup_docs"] == 2 and out["a"]["dup_rate"] == 0.5
    assert out["b"]["n_exact_dup_docs"] == 0 and out["b"]["dup_rate"] == 0.0


def test_source_mix_entropy_hand_values(spark):
    """Hand-computed 4-doc mix: sources a(2), b(1), c(1) → shares
    0.5/0.25/0.25. µnat terms: -ln(.5)·.5 = 0.3465735903 → 346574
    (HALF_UP), -ln(.25)·.25 = same value → 346574 each; Σ = 1039722."""
    from explora_kafka_spark.operators.corpus import source_mix_entropy

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")],
        "doc_id bigint, source string",
    )
    r = source_mix_entropy(docs).collect()[0]
    assert r["n_sources"] == 3
    assert r["entropy_mu_nats"] == 1039722
    assert r["top_source"] == "a"
    assert r["top_share_ppm"] == 500000


def test_source_mix_entropy_single_source_is_zero(spark):
    from explora_kafka_spark.operators.corpus import source_mix_entropy

    docs = spark.createDataFrame(
        [(1, "only"), (2, "only")], "doc_id bigint, source string")
    r = source_mix_entropy(docs).collect()[0]
    assert r["n_sources"] == 1
    assert r["entropy_mu_nats"] == 0
    assert r["top_share_ppm"] == 1000000


def test_contamination_sweep_monotone_and_rung_equivalent(spark, sf_dir):
    from explora_kafka_spark.operators.contamination import (
        contamination, contamination_sweep)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sw = {r["taint_max_pct"]: (r["n_rejected"], r["n_passed"])
          for r in contamination_sweep(docs).collect()}
    rej = [sw[r][0] for r in sorted(sw)]
    assert all(a >= b for a, b in zip(rej, rej[1:]))
    per_doc = contamination(docs).collect()
    assert all(f + k == len(per_doc) for f, k in sw.values())
    for rung in (30, 70):
        want = sum(1 for r in per_doc
                   if r["contamination"] * 100 > rung)
        assert sw[rung][0] == want


def test_source_overlap_hand_case_and_symmetric_intersection(spark):
    # src a: shingles over 6 tokens -> {t1..t6} 5-grams: 2 distinct
    # ("a b c d e", "b c d e f"); src b repeats the first doc exactly
    # (intersection 2, total 2 -> 1e6 ppm); src c disjoint.
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f", "sa"),
            (2, "a b c d e f", "sb"),
            (3, "q r s t u v", "sc"),
        ],
        "doc_id bigint, text string, source string",
    )
    out = {(r["source_a"], r["source_b"]): (r["n_shared"], r["overlap_ppm"])
           for r in C.source_overlap(docs).collect()}
    assert out == {("sa", "sb"): (2, 1_000_000),
                   ("sb", "sa"): (2, 1_000_000)}  # sc shares nothing


def test_source_overlap_reconciles_with_python_model(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {(r["source_a"], r["source_b"]): (r["n_shared"], r["overlap_ppm"])
           for r in C.source_overlap(docs).collect()}
    # independent model on normalized text (same tokenizer contract)
    rows = docs.select("source", F.lower(F.trim(
        F.regexp_replace("text", r"\s+", " "))).alias("t")).collect()
    sets: dict[str, set] = {}
    for r in rows:
        toks = r["t"].split(" ")
        sets.setdefault(r["source"], set()).update(
            " ".join(toks[i:i + 5]) for i in range(len(toks) - 4))
    for (a, b), (n_shared, ppm) in out.items():
        inter = len(sets[a] & sets[b])
        assert n_shared == inter
        assert ppm == inter * 1_000_000 // len(sets[a])
    # intersection is symmetric even though the ppm is directed
    for (a, b) in out:
        assert out[(b, a)][0] == out[(a, b)][0]
    # every overlapping pair present
    srcs = sorted(sets)
    for a in srcs:
        for b in srcs:
            if a != b and sets[a] & sets[b]:
                assert (a, b) in out


# ---------------------------------------------------------------------------
# round-11: domain-level dedup + caps, second-width contamination audit
# ---------------------------------------------------------------------------


def test_domain_dedup_within_vs_cross_source(spark):
    """RefinedWeb host-level semantics: a copy WITHIN a source drops,
    the same text on ANOTHER source survives."""
    from explora_kafka_spark.operators.corpus import domain_dedup

    docs = spark.createDataFrame(
        [
            (1, "same text", "a"), (2, "same text", "a"),      # within
            (3, "  SAME   text ", "b"),                        # cross
            (4, "unique", "a"),
        ],
        "doc_id bigint, text string, source string",
    )
    out = {r["doc_id"]: r["keep"] for r in domain_dedup(docs).collect()}
    assert out == {1: True, 2: False, 3: True, 4: True}


def test_domain_cap_sample_exact_cap_and_determinism(spark):
    from explora_kafka_spark.operators.corpus import domain_cap_sample

    rows = [(i, f"t{i}", f"s{i % 3}") for i in range(30)]  # 10 per source
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    out = domain_cap_sample(docs, cap=4).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append((r["rk"], r["doc_id"]))
    assert set(per) == {"s0", "s1", "s2"}
    for src, kept in per.items():
        assert sorted(r for r, _ in kept) == [1, 2, 3, 4]
    # layout-independent: identical kept set under repartitioning
    out2 = domain_cap_sample(docs.repartition(7), cap=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # cap above group size keeps everything
    assert domain_cap_sample(docs, cap=100).count() == 30


def test_contamination_width_audit_narrow_only_flag(spark):
    """A 5-token verbatim overlap fires the narrow width only; a full
    verbatim copy fires both. Split membership is hash-determined, so
    the test discovers a (train, test) id pair first."""
    from explora_kafka_spark.operators.sampling import split_assign

    probe = spark.createDataFrame(
        [(i, "x") for i in range(200)], "doc_id bigint, text string")
    splits = {r["doc_id"]: r["split"]
              for r in split_assign(probe).collect()}
    train_ids = [i for i, s in splits.items() if s == "train"]
    test_ids = [i for i, s in splits.items() if s == "test"]
    assert train_ids and len(test_ids) >= 2
    t_full, t_short = test_ids[0], test_ids[1]
    src = train_ids[0]
    src_text = " ".join(f"w{j}" for j in range(20))
    rows = [
        (src, src_text),                                   # train source
        (t_full, src_text),                                # verbatim copy
        # 5-token overlap embedded in otherwise-unique text
        (t_short, " ".join(f"u{j}" for j in range(10))
         + " w0 w1 w2 w3 w4 "
         + " ".join(f"v{j}" for j in range(10))),
    ]
    docs = _docs_df(spark, rows)
    out = {r["doc_id"]: r
           for r in C.contamination_width_audit(docs, n_wide=13).collect()}
    full, short = out[t_full], out[t_short]
    assert full["contam_narrow"] == 1.0 and full["contam_wide"] == 1.0
    assert full["flagged_narrow"] and full["flagged_wide"]
    assert not full["narrow_only"]
    assert short["contam_narrow"] > 0.0
    assert short["contam_wide"] == 0.0
    assert not short["narrow_only"] or short["flagged_narrow"]


def test_contamination_width_audit_short_doc_null_wide(spark):
    """A test doc shorter than n_wide tokens has NO wide shingle →
    contam_wide NULL, flagged_wide False."""
    from explora_kafka_spark.operators.sampling import split_assign

    probe = spark.createDataFrame(
        [(i, "x") for i in range(40)], "doc_id bigint, text string")
    splits = {r["doc_id"]: r["split"]
              for r in split_assign(probe).collect()}
    test_ids = [i for i, s in splits.items() if s == "test"]
    train_ids = [i for i, s in splits.items() if s == "train"]
    tid = test_ids[0]
    rows = [(train_ids[0], "a b c d e f g h"),
            (tid, "a b c d e f g h")]  # 8 tokens < 13
    out = {r["doc_id"]: r
           for r in C.contamination_width_audit(
               _docs_df(spark, rows), n_wide=13).collect()}
    r = out[tid]
    assert r["contam_wide"] is None
    assert r["flagged_wide"] is False
    assert r["flagged_narrow"] and r["narrow_only"]


def test_token_mix_by_tier_shares_sum_and_hand_counts(spark):
    from explora_kafka_spark.operators.corpus import token_mix_by_tier

    rows = [
        (0, "alpha beta gamma delta", "en", "srcA", 22),
        (1, "alpha beta", "en", "srcA", 10),
        (2, "one two three four five six", "en", "srcB", 27),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint")
    out = token_mix_by_tier(docs).collect()
    # every (source, tier) cell's tokens sum to the corpus total and
    # the exact-ppm shares reconcile: sum(share) in (1e6 - T, 1e6]
    total = sum(r["tokens"] for r in out)
    assert total == 4 + 2 + 6
    assert all(r["token_share_ppm"] == 1_000_000 * r["tokens"] // total
               for r in out)
    by_source = {}
    for r in out:
        by_source[r["source"]] = by_source.get(r["source"], 0) + r["n_docs"]
    assert by_source == {"srcA": 2, "srcB": 1}


def test_tier_dup_lift_flags_near_dups_per_tier(spark):
    from explora_kafka_spark.operators.corpus import tier_dup_lift

    # two verbatim copies (bigram-shingle Jaccard 1.0 -> est 1.0 >= 0.9)
    # plus two singletons; every doc lands in some tier, the dup pair
    # is counted in its tier, the singletons are not
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "s", 35),
        (1, "alpha beta gamma delta epsilon zeta", "en", "s", 35),
        (2, "one two three four five six seven", "en", "s", 33),
        (3, "purple monkey dishwasher quantum flux", "en", "s", 37),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint")
    out = tier_dup_lift(docs).collect()
    assert sum(r["n_docs"] for r in out) == 4
    assert sum(r["n_dup_docs"] for r in out) == 2
    for r in out:
        assert r["dup_ppm"] == 1_000_000 * r["n_dup_docs"] // r["n_docs"]
    # corpus rate is 2/4 -> 500000 ppm; a tier holding only the dup
    # pair has dup_ppm 1e6 and lift 2e6 ppm (exactly 2x)
    dup_tiers = [r for r in out if r["n_dup_docs"] > 0]
    assert dup_tiers
    for r in dup_tiers:
        assert r["lift_ppm"] == r["dup_ppm"] * 1_000_000 // 500_000


def test_bloom_audit_no_false_negatives_and_exact_parity(spark, tmp_path):
    """The Bloom scale path (round 13): exact columns reproduce
    contamination_check row-for-row, and the sketch has NO false
    negatives (n_bloom_hits >= n_contaminated on every row; a fully
    contaminated doc is fully bloom-hit)."""
    from explora_kafka_spark.operators.sampling import split_assign

    rows = [
        (i, f"the quick brown fox {i % 7} jumps over the lazy dog {i % 3}"
            f" word{i % 5} filler tokens here")
        for i in range(80)
    ]
    df = _docs_df(spark, rows)
    C.build_contamination_index(df, str(tmp_path / "cont"))
    batch = split_assign(df).filter(F.col("split") == "test").select(
        "doc_id", "text")
    audit = C.contamination_bloom_audit(
        spark, batch, str(tmp_path / "cont")).collect()
    exact = {r["doc_id"]: (r["n_shingles"], r["n_contaminated"])
             for r in C.contamination_check(
                 spark, batch, str(tmp_path / "cont")).collect()}
    assert audit and len(audit) == len(exact)
    for r in audit:
        assert (r["n_shingles"], r["n_contaminated"]) \
            == exact[r["doc_id"]]
        assert r["n_bloom_hits"] >= r["n_contaminated"]  # no false neg
        assert r["n_false_pos"] == r["n_bloom_hits"] - r["n_contaminated"]
        assert r["n_bloom_hits"] <= r["n_shingles"]
    # the index holds the TRAIN split; these test docs share their
    # shingle vocabulary with train docs (templated text), so at least
    # one row must be contaminated AND bloom-hit
    assert any(r["n_contaminated"] > 0 for r in audit)


def test_bloom_audit_tiny_filter_forces_false_positives(spark, tmp_path):
    """With a deliberately tiny bitmap the filter saturates: novel
    shingles collide and n_false_pos > 0 — proving the audit's
    false-positive column actually measures the sketch, not the exact
    join."""
    train = _docs_df(spark, [
        (i, f"alpha beta gamma delta epsilon zeta eta theta iota{i}")
        for i in range(30)
    ])
    C.build_shingle_index(train, str(tmp_path / "sh"))
    novel = _docs_df(spark, [
        (100 + i, f"omega{i} psi{i} chi{i} phi{i} upsilon{i} tau{i}"
                  f" sigma{i} rho{i} pi{i}")
        for i in range(10)
    ])
    audit = C.contamination_bloom_audit(
        spark, novel, str(tmp_path / "sh"), m_bits=64, k=2).collect()
    assert all(r["n_contaminated"] == 0 for r in audit)
    assert sum(r["n_false_pos"] for r in audit) > 0


def test_bloom_sweep_rungs_consistent(spark, tmp_path):
    """The size sweep: exact columns identical across rungs (they don't
    depend on m), and on this fixture — a NOVEL probe batch, so every
    probe shingle is clean and can false-positive — the observed rate
    falls as the bitmap grows (deterministic for fixed data)."""
    train = _docs_df(spark, [
        (i, f"alpha beta gamma delta epsilon zeta eta theta iota{i}")
        for i in range(30)
    ])
    C.build_shingle_index(train, str(tmp_path / "sh"))
    novel = _docs_df(spark, [
        (100 + i, f"omega{i} psi{i} chi{i} phi{i} upsilon{i} tau{i}"
                  f" sigma{i} rho{i} pi{i}")
        for i in range(10)
    ])
    sweep = C.contamination_bloom_sweep(
        spark, novel, str(tmp_path / "sh"),
        m_list=(64, 1024, 1 << 16)).collect()
    assert [r["m_bits"] for r in sweep] == [64, 1024, 1 << 16]
    assert len({(r["n_shingles"], r["n_contaminated"])
                for r in sweep}) == 1  # exact columns m-invariant
    assert all(r["n_contaminated"] == 0 for r in sweep)  # novel batch
    fps = [r["fp_ppm"] for r in sweep]
    assert fps[0] > 0          # a 64-bit filter must saturate here
    assert fps[-1] < fps[0]    # growing the bitmap pays off
    for r in sweep:
        assert r["n_bloom_hits"] >= r["n_contaminated"]


def test_bloom_m_bits_fits_the_32_bit_position_family():
    C._check_bloom_m(2**32)
    for m_bits in (2**32 + 1, 0):
        with pytest.raises(ValueError, match="m_bits"):
            C._check_bloom_m(m_bits)


def test_bloom_probe_refuses_an_untagged_bitmap(spark, tmp_path):
    """A `(w, mask)` table without the family tag — one persisted before
    the one-digest family — sets other bits, so probing it would answer
    silent false negatives: both probe entry points raise instead. A
    tagged bitmap keeps its tag through a parquet round trip."""
    train = _docs_df(spark, [
        (i, f"alpha beta gamma delta epsilon zeta eta theta iota{i}")
        for i in range(10)
    ])
    C.build_shingle_index(train, str(tmp_path / "sh"))
    tagged = C.build_bloom_bitmap(spark, str(tmp_path / "sh"))
    tagged.write.parquet(str(tmp_path / "bitmap"))
    stored = spark.read.parquet(str(tmp_path / "bitmap"))
    got = C.contamination_check_bloom(spark, train, str(tmp_path / "sh"),
                                      bitmap=stored).collect()
    assert got and all(r["n_contaminated"] == r["n_shingles"] for r in got)

    untagged = stored.select("w", F.col("mask").alias("mask", metadata={}))
    probes = spark.createDataFrame([(1, 7)], "doc_id long, _h long")
    with pytest.raises(ValueError, match="bloom bitmap family"):
        C._bloom_probe(probes, untagged, 1 << 21, 4)
    with pytest.raises(ValueError, match="bloom bitmap family"):
        C.contamination_check_bloom(spark, train, str(tmp_path / "sh"),
                                    bitmap=untagged)
