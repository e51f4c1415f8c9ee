"""Corpus-level statistics: TF-IDF, vocab/Zipf, unigram surprise,
incremental dedup, centroid outliers — hand-computed tiny-corpus oracles."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ai_batch_processing_spark.operators.corpus import (
    incremental_dedup,
    tfidf_top_terms,
    unigram_surprise,
    vocab_zipf_stats,
)
from ai_batch_processing_spark.operators.similarity import centroid_outliers, label_centroids


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry date"),
        ],
        "doc_id long, text string",
    )


def test_tfidf_distinguishing_term_wins(spark):
    # "apple" appears only in doc 1 (df=1) and twice there (tf=2/3): it must
    # out-score "banana" (df=2, tf=1/3) as doc 1's top term.
    out = tfidf_top_terms(_docs(spark), top_k=1).collect()
    top = {r.doc_id: r.term for r in out}
    assert top[1] == "apple"
    assert top[3] == "cherry"
    # hand-check doc 1 "apple": tf=2/3, idf=ln(4/2)+1
    row = [r for r in out if r.doc_id == 1][0]
    assert abs(row.tfidf - round((2 / 3) * (math.log(4 / 2) + 1), 6)) < 1e-9


def test_tfidf_rank_is_dense_from_one(spark):
    out = tfidf_top_terms(_docs(spark), top_k=3)
    ranks = [r.rnk for r in out.filter(F.col("doc_id") == 3).orderBy("rnk").collect()]
    assert ranks == [1, 2]  # doc 3 has only 2 distinct terms


def test_vocab_zipf_counts(spark):
    row = vocab_zipf_stats(_docs(spark)).collect()[0]
    # vocab: apple banana cherry date; tokens: 3 + 2 + 4 = 9; hapax: date
    assert row.vocab_size == 4
    assert row.total_tokens == 9
    assert abs(row.hapax_frac - 0.25) < 1e-9
    assert row.zipf_slope < 0  # frequency falls with rank


def test_unigram_surprise_uniform_distribution(spark):
    # 4 docs, one token each, all distinct: every p = 1/4 → exactly 2 bits.
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(["a", "b", "c", "d"])], "doc_id long, text string"
    )
    rows = unigram_surprise(docs).collect()
    assert all(abs(r.bits_per_token - 2.0) < 1e-9 for r in rows)
    assert all(r.n_tokens == 1 for r in rows)


def test_unigram_surprise_rare_tokens_score_higher(spark):
    rows = {r.doc_id: r.bits_per_token for r in unigram_surprise(_docs(spark)).collect()}
    # doc 3 is dominated by the most frequent term ("cherry") but holds the
    # corpus-hapax "date"; doc 1 repeats mid-frequency terms. Ordering is a
    # sanity floor, exact values are oracle-gated in q114.
    assert rows[2] > 0 and rows[1] > 0 and rows[3] > 0


def test_incremental_dedup_drops_reingested_and_intra_batch(spark):
    corpus = spark.createDataFrame(
        [(1, "old news one"), (2, "old news two")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "Old News One"),   # fingerprint-dup of corpus doc 1 → dropped
            (11, "fresh content"),  # novel → kept
            (12, "fresh content!"), # normalizes to same fp as 11 → min id wins
            (13, "also novel"),     # novel → kept
        ],
        "doc_id long, text string",
    )
    out = incremental_dedup(batch, corpus)
    assert sorted(r.doc_id for r in out.collect()) == [11, 13]


def test_label_centroid_is_dimensionwise_mean(spark):
    emb = spark.createDataFrame(
        [(1, 0, [0.0, 2.0]), (2, 0, [2.0, 0.0]), (3, 1, [4.0, 4.0])],
        "vec_id long, label int, embedding array<float>",
    )
    cents = {r.label: r.centroid for r in label_centroids(emb).collect()}
    assert cents[0] == [1.0, 1.0]
    assert cents[1] == [4.0, 4.0]


def test_centroid_outliers_flags_planted_outlier(spark):
    # label 0: a tight cluster around (1, 0) plus one vector near (-1, 0).
    emb = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [1.0, 0.1]),
            (3, 0, [1.0, -0.1]),
            (4, 0, [-1.0, 0.05]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    out = centroid_outliers(emb, per_label=1).collect()
    assert len(out) == 1 and out[0].vec_id == 4 and out[0].rnk == 1


def test_bm25_prefers_rare_term_and_caps_k(spark):
    from ai_batch_processing_spark.operators.corpus import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "model training data data data"),
            (2, "model model talk talk talk"),
            (3, "unrelated words entirely here"),
            (4, "data model"),
        ],
        "doc_id long, text string",
    )
    out = bm25_search(docs, ["data", "model"], top_k=2).collect()
    assert [r.rnk for r in out] == [1, 2]
    assert len(out) == 2
    # doc 3 matches nothing → never scored
    assert all(r.doc_id != 3 for r in out)
    # doc 1 has tf(data)=3 + tf(model)=1 in 5 tokens; doc 4 matches both
    # terms but shorter: BM25's length normalization favors doc 4's density.
    top = out[0]
    assert top.doc_id in (1, 4) and top.score > 0


def test_bloom_incremental_dedup_matches_plain_and_prunes(spark, sf_dir):
    """The Bloom-prefiltered incremental dedup must return exactly the
    plain anti-join's rows (false positives only add exact-check work),
    and the bitmap probe must rule out genuinely-new fingerprints so they
    skip the corpus join entirely."""
    from ai_batch_processing_spark.operators.corpus import (
        bloom_bitmap_words,
        bloom_maybe_contains,
        incremental_dedup,
        incremental_dedup_bloom,
    )
    from ai_batch_processing_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    corpus = docs.filter("doc_id % 10 != 0")
    batch = docs.filter("doc_id % 10 = 0").select("doc_id", "text").union(
        docs.filter("doc_id % 10 = 1").select((F.col("doc_id") + 900000).alias("doc_id"), "text")
    )
    plain = {tuple(r) for r in incremental_dedup(batch, corpus).collect()}
    bloom = {tuple(r) for r in incremental_dedup_bloom(batch, corpus).collect()}
    assert bloom == plain and len(plain) > 0

    # direct probe semantics: every corpus member is 'maybe' (no false
    # negatives — the Bloom guarantee), and with 2^22 bits over a few
    # thousand keys false positives are essentially absent
    cfp = corpus.select(F.md5("text").alias("fp"))
    words = bloom_bitmap_words(cfp, "fp")
    member = bloom_maybe_contains(cfp.distinct(), words, "fp")
    assert member.filter(~F.col("_maybe")).count() == 0
    fresh = batch.filter("doc_id < 900000").select(F.md5("text").alias("fp")).distinct()
    flagged = bloom_maybe_contains(fresh, words, "fp")
    n_fresh = flagged.count()
    n_fp = flagged.filter(F.col("_maybe")).count()
    assert n_fp <= max(1, n_fresh // 100)  # fp rate ~0 at this load factor


def test_query_wrappers_leave_no_cached_relations(spark, sf_dir):
    """The q1xx gate wrappers store their result (``scope.store``) inside
    a scope of their own, which releases every internal cache — a gate
    sweep must not accumulate cached relations across the queries."""
    from ai_batch_processing_spark.operators.corpus import (
        q112_tfidf_top_terms,
        q113_vocab_zipf_stats,
        q114_unigram_surprise,
        q117_bm25_search,
    )

    spark.catalog.clearCache()
    # CacheManager holds STRONG references: a persist() left behind lives
    # until clearCache and accumulates across a gate sweep. (The stored
    # result is not in the CacheManager: the scope around the call releases
    # it, and with no scope around it, as here, ContextCleaner reclaims it
    # once the result is unreachable.)
    cm = spark._jsparkSession.sharedState().cacheManager()
    for fn in (q112_tfidf_top_terms, q113_vocab_zipf_stats, q114_unigram_surprise, q117_bm25_search):
        out = fn(spark, sf_dir)
        assert out.count() > 0
        assert cm.isEmpty(), f"{fn.__name__} left a cached relation in the CacheManager"


def test_library_forms_stay_lazy_and_composable(spark, sf_dir):
    """The library form is lazy: its cache belongs to the caller's scope
    and lives until the scope closes. Collected inside a scope it yields
    the stored q112 wrapper's rows."""
    from ai_batch_processing_spark.jobs import pin_scope
    from ai_batch_processing_spark.operators.corpus import q112_tfidf_top_terms, tfidf_top_terms
    from ai_batch_processing_spark.session import load_tables

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    with pin_scope():
        lazy = tfidf_top_terms(docs).orderBy("doc_id", "rnk").collect()
        assert not cm.isEmpty()  # still cached: the caller's scope is open
    assert cm.isEmpty()
    stored = q112_tfidf_top_terms(spark, sf_dir).orderBy("doc_id", "rnk").collect()
    assert [tuple(r) for r in lazy] == [tuple(r) for r in stored]


def test_bigram_surprise_is_order_sensitive(spark):
    """Bigram bits must rise when a doc's word order is scrambled while
    unigram bits stay identical — the signal unigram surprise cannot
    see. Also: docs with < 2 tokens are excluded; smoothing keeps unseen
    transitions finite."""
    from ai_batch_processing_spark.operators.corpus import bigram_surprise, unigram_surprise

    natural = "the cat sat on the mat and the dog sat on the rug"
    scrambled = "rug the on sat dog the and mat cat on the sat the"  # same bag
    docs = spark.createDataFrame(
        [(1, natural), (2, natural), (3, natural), (4, scrambled), (5, "single")],
        "doc_id long, text string",
    )
    bi = {r.doc_id: r for r in bigram_surprise(docs).collect()}
    uni = {r.doc_id: r for r in unigram_surprise(docs).collect()}
    assert 5 not in bi  # one token -> no bigrams
    assert uni[1].bits_per_token == uni[4].bits_per_token  # same bag of words
    assert bi[4].bits_per_bigram > bi[1].bits_per_bigram  # order broken
    assert bi[1].n_bigrams == 12  # 13 tokens -> 12 adjacent pairs


def test_source_divergence_ranks_outlier_source_highest(spark):
    from ai_batch_processing_spark.operators.corpus import source_divergence

    common = "the quick brown fox jumps over the lazy dog again and again "
    rows = (
        [("a", i, common) for i in range(20)]
        + [("b", 100 + i, common + "with one extra word") for i in range(20)]
        + [("c", 200 + i, "zzq wxk vbn qrs completely alien tokens here") for i in range(20)]
    )
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = {r.source: r.kl_bits for r in source_divergence(df).collect()}
    # the alien source diverges most; the two near-identical ones least
    assert out["c"] > out["a"] and out["c"] > out["b"]
    assert out["c"] > 2 * max(out["a"], out["b"])


def test_source_divergence_identical_sources_symmetric(spark):
    from ai_batch_processing_spark.operators.corpus import source_divergence

    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(f"s{i % 4}", i, text) for i in range(40)]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = [r.kl_bits for r in source_divergence(df).collect()]
    # identical data -> identical divergence for every source (the
    # add-1 smoothing keeps the absolute value above zero at tiny
    # counts — p smooths against n_src, q against n_all — so the pin
    # is symmetry, and less smoothing must shrink the artifact)
    assert len(set(out)) == 1
    tighter = [
        r.kl_bits for r in source_divergence(df, smoothing=0.01).collect()
    ]
    assert all(abs(t) < abs(out[0]) for t in tighter)


def test_source_overlap_matrix_counts_planted_mirrors(spark):
    from ai_batch_processing_spark.operators.corpus import source_overlap_matrix

    rows = [
        ("a", "shared one"),
        ("a", "only in a"),
        ("b", "shared one"),
        ("b", "shared two"),
        ("c", "shared two"),
        ("c", "Shared ONE!"),  # normalizes to 'shared one' -> matches a and b
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r.source_a, r.source_b): r.n_shared for r in source_overlap_matrix(df).collect()}
    assert out == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 2}


def test_source_overlap_matrix_no_overlap_empty(spark):
    from ai_batch_processing_spark.operators.corpus import source_overlap_matrix

    rows = [("a", "alpha"), ("b", "beta"), ("c", "gamma")]
    df = spark.createDataFrame(rows, "source string, text string")
    assert source_overlap_matrix(df).count() == 0


def test_threshold_survival_monotone_and_exact(spark):
    from ai_batch_processing_spark.operators.corpus import threshold_survival

    rows = [(0.05, 10), (0.25, 20), (0.55, 40), (0.95, 80)]
    df = spark.createDataFrame(rows, "score double, nt long")
    out = sorted(threshold_survival(df, "score", "nt", n_bins=10).collect(),
                 key=lambda r: r.threshold)
    assert len(out) == 10  # dense axis, empty bins included
    assert out[0].n_docs == 4 and out[0].n_tokens == 150  # t=0 keeps all
    # survival is non-increasing in the threshold
    docs = [r.n_docs for r in out]
    assert docs == sorted(docs, reverse=True)
    at = {r.threshold: (r.n_docs, r.n_tokens) for r in out}
    assert at[0.3] == (2, 120)  # 0.55 and 0.95 survive t=0.3
    assert at[0.9] == (1, 80)
    assert out[0].doc_frac == 1.0


def test_dataset_datasheet_hand_computed(spark):
    from ai_batch_processing_spark.operators.corpus import dataset_datasheet

    rows = [
        (1, "Alpha beta", "en", "a"),
        (2, "alpha beta!", "en", "a"),  # normalized dup of 1
        (3, "gamma delta", "fr", "b"),
        (4, "epsilon zeta", "fr", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    r = dataset_datasheet(df).collect()[0]
    assert (r.n_docs, r.n_sources, r.n_tokens) == (4, 2, 8)
    assert r.dup_rate == 0.25  # 3 distinct fingerprints of 4 docs
    assert r.lang_entropy_bits == 1.0  # 50/50 en-fr


# ---------------------------------------------------------------------------
# Phrase search (positional_postings / phrase_search / q211)
# ---------------------------------------------------------------------------


def test_phrase_search_counts_overlapping_and_multi_hits(spark):
    from ai_batch_processing_spark.operators.corpus import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),       # "a b a" occurs at 0 and 2 (overlapping)
            (2, "a b"),             # too short for the 3-token phrase
            (3, "x a b a y a b a"), # at 1 and 5
            (4, "c c c"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in phrase_search(docs, "a b a").collect()}
    assert set(out) == {1, 3}
    assert (out[1].n_hits, out[1].first_pos) == (2, 0)
    assert (out[3].n_hits, out[3].first_pos) == (2, 1)


def test_phrase_search_single_term_and_case_fold(spark):
    from ai_batch_processing_spark.operators.corpus import phrase_search

    docs = spark.createDataFrame([(1, "Foo bar FOO")], ["doc_id", "text"])
    out = phrase_search(docs, "FOO").collect()
    assert [(r.n_hits, r.first_pos) for r in out] == [(2, 0)]
    import pytest

    with pytest.raises(ValueError, match="at least one token"):
        phrase_search(docs, "   ")


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (rrf_fuse / q212)
# ---------------------------------------------------------------------------


def test_rrf_fuse_two_lists_scores_and_missing_entries(spark):
    from ai_batch_processing_spark.operators.corpus import rrf_fuse

    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], ["doc_id", "rnk"])
    b = spark.createDataFrame([(11, 1), (13, 2)], ["doc_id", "rnk"])
    out = {r.doc_id: r for r in rrf_fuse({"a": a, "b": b}, k=60).collect()}
    assert out[11].rrf_score == round(1 / 62 + 1 / 61, 6)  # in both lists
    assert out[10].rrf_score == round(1 / 61, 6)
    assert out[13].a_rnk is None and out[13].b_rnk == 2
    # doc in both lists outranks every single-list doc here
    assert out[11].rnk == 1
    ranks = sorted(r.rnk for r in out.values())
    assert ranks == [1, 2, 3, 4]


def test_rrf_fuse_empty_input_raises(spark):
    import pytest

    from ai_batch_processing_spark.operators.corpus import rrf_fuse

    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse({})


# ---------------------------------------------------------------------------
# Doc-level co-occurrence PMI (cooccurrence_pmi / q217)
# ---------------------------------------------------------------------------


def test_cooccurrence_pmi_values_and_vocab_cap(spark):
    import math

    from ai_batch_processing_spark.operators.corpus import cooccurrence_pmi

    # 4 docs; a & b always together (PMI > 0), a & c never (excluded),
    # rare term z outside the top-2 vocabulary cap
    docs = spark.createDataFrame(
        [(1, "a b z"), (2, "a b"), (3, "a b c"), (4, "c d")],
        ["doc_id", "text"],
    )
    out = {(r.term_a, r.term_b): r for r in cooccurrence_pmi(docs, top_v=2, min_co=1).collect()}
    # top-2 vocab by df: a (3 docs), b (3 docs) — only the (a, b) pair
    assert set(out) == {("a", "b")}
    r = out[("a", "b")]
    assert (r.n_a, r.n_b, r.n_ab) == (3, 3, 3)
    assert r.pmi == round(math.log(3 * 4 / (3 * 3)), 6)


def test_cooccurrence_pmi_min_co_filters(spark):
    from ai_batch_processing_spark.operators.corpus import cooccurrence_pmi

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], ["doc_id", "text"]
    )
    out = cooccurrence_pmi(docs, top_v=3, min_co=2).collect()
    assert {(r.term_a, r.term_b) for r in out} == {("a", "b")}


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV (q222)
# ---------------------------------------------------------------------------


def test_vocab_coverage_counts_and_oov(spark):
    from ai_batch_processing_spark.operators.corpus import vocab_coverage

    docs = spark.createDataFrame(
        [
            (1, "a", "x x y z"),
            (2, "a", "x y"),
            (3, "b", "z z z q"),
        ],
        "doc_id long, source string, text string",
    )
    # global counts: x=3, z=4, y=2, q=1 -> vocab_size=2 keeps {z, x}
    out = {r.source: r for r in vocab_coverage(docs, vocab_size=2).collect()}
    a, b = out["a"], out["b"]
    assert a.total_tokens == 6 and a.covered == 4  # x,x,x,z in vocab; y,y OOV
    assert b.total_tokens == 4 and b.covered == 3  # z z z in vocab; q OOV
    assert a.distinct_oov == 1 and b.distinct_oov == 1  # y / q
    assert a.oov_rate == round(2 / 6, 6) and b.oov_rate == 0.25


def test_snapshot_diff_all_statuses(spark):
    from ai_batch_processing_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "same"), (2, "a", "will change"), (3, "b", "gone")],
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [(1, "a", "same"), (2, "a", "changed!"), (4, "b", "brand new")],
        "doc_id long, source string, text string",
    )
    got = {
        r.doc_id: (r.status, r.source)
        for r in snapshot_diff(old, new, "doc_id", ["text"], carry_cols=("source",)).collect()
    }
    assert got == {
        1: ("unchanged", "a"),
        2: ("changed", "a"),
        3: ("removed", "b"),
        4: ("added", "b"),
    }


def test_snapshot_diff_detects_null_column_shift(spark):
    from ai_batch_processing_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame([(1, None, "a")], "doc_id long, title string, text string")
    new = spark.createDataFrame([(1, "a", None)], "doc_id long, title string, text string")
    rows = snapshot_diff(old, new, "doc_id", ["title", "text"]).collect()
    # a value MOVING between nullable columns is a change, not 'unchanged'
    assert rows[0].status == "changed"


def test_rrf_fuse_three_lists_order_free_scores(spark):
    from ai_batch_processing_spark.operators.corpus import rrf_fuse

    a = spark.createDataFrame([(10, 1), (11, 2)], ["doc_id", "rnk"])
    b = spark.createDataFrame([(11, 1), (10, 2)], ["doc_id", "rnk"])
    c = spark.createDataFrame([(10, 3), (12, 1)], ["doc_id", "rnk"])
    fused = {r.doc_id: r for r in rrf_fuse({"a": a, "b": b, "c": c}, k=60).collect()}
    # sorted-fold sum: contributions added ascending, independent of
    # shuffle arrival order (IEEE addition only commutes pairwise)
    exp_10 = round(1 / 63 + (1 / 62 + 1 / 61), 6)  # ascending: 1/63, 1/62, 1/61
    assert fused[10].rrf_score == exp_10
    assert fused[10].a_rnk == 1 and fused[10].b_rnk == 2 and fused[10].c_rnk == 3
    # partition-layout invariance of the 6dp score
    fused2 = {
        r.doc_id: r
        for r in rrf_fuse(
            {"a": a.repartition(5), "b": b.repartition(3), "c": c.repartition(2)}, k=60
        ).collect()
    }
    assert {d: r.rrf_score for d, r in fused.items()} == {
        d: r.rrf_score for d, r in fused2.items()
    }


def test_bootstrap_ci_brackets_point_mean_and_is_deterministic(spark):
    from ai_batch_processing_spark.operators.corpus import bootstrap_mean_ci

    rows = [(i, 100 + (i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, x long")
    r1 = bootstrap_mean_ci(df, "x", n_replicates=100).collect()[0]
    r2 = bootstrap_mean_ci(df, "x", n_replicates=100).collect()[0]
    assert r1 == r2  # zero randomness: identical CI on re-run
    assert r1.n_rows == 300 and r1.n_replicates == 100
    assert r1.ci_lo <= r1.point_mean <= r1.ci_hi
    # a tight-variance corpus gives a tight interval
    assert r1.ci_hi - r1.ci_lo < 1.0


def test_fightin_words_separates_planted_vocab(spark):
    from ai_batch_processing_spark.operators.corpus import fightin_words

    rows = []
    for i in range(40):
        g = "a" if i % 2 == 0 else "b"
        extra = "apple" if g == "a" else "banana"
        rows.append((i, g, f"common words here {extra} {extra} filler"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = fightin_words(df, top_k=2).collect()
    top = {(r.source, r.rnk): r.term for r in out}
    assert top[("a", 1)] == "apple"
    assert top[("b", 1)] == "banana"
    za = {r.term: r.z for r in out if r.source == "a"}
    assert za["apple"] > 0


def test_heldout_perplexity_unseen_bigrams_cost_more(spark):
    from ai_batch_processing_spark.operators.corpus import heldout_bigram_report

    # held doc 0 of group 'b' uses transitions never seen in training;
    # group 'a' held doc repeats the trained phrase exactly
    rows = [
        (0, "a", "the cat sat on the mat"),        # held (0 % 7 == 0)
        (7, "b", "zig zag zig zag zig unseen"),    # held
        (1, "a", "the cat sat on the mat"),
        (2, "a", "the cat sat on the mat"),
        (3, "b", "completely different training text"),
        (4, "b", "more training text here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in heldout_bigram_report(df).collect()}
    assert out["a"].oov_bigram_rate == 0.0
    assert out["b"].oov_bigram_rate == 1.0
    assert out["b"].bits_per_bigram > out["a"].bits_per_bigram


def test_spearman_monotone_and_reversed(spark):
    """A strictly monotone relationship gives rho=1 regardless of
    nonlinearity; reversing one side gives -1."""
    from ai_batch_processing_spark.operators.corpus import spearman_corr

    up = spark.createDataFrame([(i, i * i) for i in range(1, 9)], "x long, y long")
    assert spearman_corr(up).collect()[0].spearman_rho == 1.0
    down = spark.createDataFrame([(i, 100 - i * i) for i in range(1, 9)], "x long, y long")
    assert spearman_corr(down).collect()[0].spearman_rho == -1.0


def test_spearman_constant_side_is_null(spark):
    """Zero rank variance on either side -> rho undefined (NULL), never
    a divide-by-zero."""
    from ai_batch_processing_spark.operators.corpus import spearman_corr

    flat = spark.createDataFrame([(i, 5) for i in range(1, 9)], "x long, y long")
    assert spearman_corr(flat).collect()[0].spearman_rho is None


def test_hill_tail_index_geometric_values(spark):
    """Values 8,4,2,1 with k=2: terms ln(4)+ln(2)=ln(8); alpha =
    2/ln(8). The k+1-th value contributes ln(1)=0 by construction."""
    import math

    from ai_batch_processing_spark.operators.corpus import hill_tail_index

    cnts = spark.createDataFrame(
        [(i, v) for i, v in enumerate([8, 4, 2, 1])], "doc_id long, v long"
    )
    out = hill_tail_index(cnts, k=2).collect()[0]
    assert out.x_kplus1 == 2
    expect_micro = round(math.log(4.0) * 1e6) + round(math.log(2.0) * 1e6)
    assert out.sum_micro == expect_micro
    assert abs(out.alpha_hill - round(2e6 / expect_micro, 6)) < 1e-9


def test_hill_all_equal_tail_is_null(spark):
    """A constant tail has zero log-spacing: alpha is NULL, not a
    division error."""
    from ai_batch_processing_spark.operators.corpus import hill_tail_index

    cnts = spark.createDataFrame([(i, 7) for i in range(10)], "doc_id long, v long")
    out = hill_tail_index(cnts, k=3).collect()[0]
    assert out.sum_micro == 0 and out.alpha_hill is None


def test_good_turing_known_frequencies(spark):
    """'a a a b b c d' -> N=7, vocab 4, n1=2 (c,d), n2=1 (b):
    p_unseen = 2/7, r1* = 2*1/2 = 1."""
    from ai_batch_processing_spark.operators.corpus import good_turing_unseen

    docs = spark.createDataFrame([(0, "a a a b b c d")], "doc_id long, text string")
    out = good_turing_unseen(docs).collect()[0]
    assert (out.n_tokens, out.vocab, out.n1, out.n2) == (7, 4, 2, 1)
    assert out.p_unseen == round(2 / 7, 6)
    assert out.r1_star == 1.0


def test_good_turing_no_singletons_null_r1(spark):
    from ai_batch_processing_spark.operators.corpus import good_turing_unseen

    docs = spark.createDataFrame([(0, "a a b b")], "doc_id long, text string")
    out = good_turing_unseen(docs).collect()[0]
    assert out.n1 == 0 and out.r1_star is None


def test_ks_identical_and_disjoint(spark):
    """Same distribution -> D=0; fully separated supports -> D=1 at the
    end of the lower support."""
    from ai_batch_processing_spark.operators.corpus import ks_two_sample

    a = spark.createDataFrame([(v,) for v in [1, 2, 3] * 10], "v long")
    out = ks_two_sample(a, a).collect()[0]
    assert out.d == 0.0

    b = spark.createDataFrame([(v,) for v in [10, 11, 12] * 10], "v long")
    out2 = ks_two_sample(a, b).collect()[0]
    assert out2.d == 1.0 and out2.at_value == 3


def test_capture_recapture_disjoint_and_identical_halves(spark):
    """Identical halves: overlap = n1 = n2 -> Chapman = union exactly.
    Disjoint halves: overlap 0 -> estimate (n1+1)(n2+1) - 1."""
    from ai_batch_processing_spark.operators.corpus import capture_recapture_vocab

    same = spark.createDataFrame(
        [(0, "apple banana"), (1, "apple banana")], "doc_id long, text string"
    )
    out = capture_recapture_vocab(same).collect()[0]
    assert (out.n1, out.n2, out.overlap, out.union_vocab) == (2, 2, 2, 2)
    assert out.chapman_estimate == 2.0 and out.coverage == 1.0

    disj = spark.createDataFrame(
        [(0, "apple banana"), (1, "cherry date")], "doc_id long, text string"
    )
    out2 = capture_recapture_vocab(disj).collect()[0]
    assert out2.overlap == 0 and out2.chapman_estimate == 8.0


def test_mann_whitney_known_small_sample(spark):
    """a = {1,2,3}, b = {2,3,4}: pairwise comparisons a>b: (2>? no...)
    count pairs (x from a, y from b): x>y pairs = (2,?):2>? none... hand
    enumeration: pairs where a>b: (2,?) none vs 2? a=2 > b=? {}; full
    grid 9 pairs: a1:(<2,<3,<4)=0; a2:(=2 ->0.5, <3, <4)=0.5;
    a3:(>2 ->1, =3 ->0.5, <4)=1.5. U_a = 2.0 -> 2U = 4. AUC = 2/9."""
    from ai_batch_processing_spark.operators.corpus import mann_whitney_u

    a = spark.createDataFrame([(1,), (2,), (3,)], "v long")
    b = spark.createDataFrame([(2,), (3,), (4,)], "v long")
    r = mann_whitney_u(a, b).collect()[0]
    assert (r.na, r.nb, r.u2x) == (3, 3, 4)
    assert r.auc == round(2.0 / 9.0, 6)
    # symmetry: 2U_a + 2U_b = 2*na*nb = 18, so the swapped side is 14
    r2 = mann_whitney_u(b, a).collect()[0]
    assert r2.u2x == 14 and r.u2x + r2.u2x == 18


def test_chi_square_independent_and_dependent(spark):
    """A perfectly proportional 2x2 table has chi2 = 0; a diagonal-only
    table of n=40 has chi2 = n = 40 (the maximal 2x2 association)."""
    from ai_batch_processing_spark.operators.corpus import chi_square_independence

    prop = spark.createDataFrame(
        [("en", "a")] * 10 + [("en", "b")] * 20 + [("fr", "a")] * 5 + [("fr", "b")] * 10,
        "lang string, source string",
    )
    r = chi_square_independence(prop).collect()[0]
    assert (r.n, r.dof) == (45, 1)
    assert r.chi2 == 0.0
    diag = spark.createDataFrame(
        [("en", "a")] * 20 + [("fr", "b")] * 20, "lang string, source string"
    )
    r2 = chi_square_independence(diag).collect()[0]
    assert r2.chi2 == 40.0


def test_mad_outlier_audit_hand_computed(spark):
    """values [1,2,2,3,100] (one source): lower-median at rank ceil(5/2)=3
    is 2; deviations [1,0,0,1,98] give MAD 1 (rank-3 of [0,0,1,1,98]);
    only the 98-deviation doc clears 0.6745*dev > 3.5*1 -> 1 outlier at
    200000 ppm."""
    from ai_batch_processing_spark.operators.corpus import mad_outlier_audit

    docs = spark.createDataFrame(
        [(i, "s", " ".join(["w"] * n)) for i, n in enumerate([1, 2, 2, 3, 100])],
        "doc_id long, source string, text string",
    )
    row = mad_outlier_audit(docs).collect()[0]
    assert (row.n_docs, row.median_ntok, row.mad_ntok) == (5, 2, 1)
    assert (row.n_outliers, row.outlier_ppm) == (1, 200000)


def test_mad_outlier_zero_mad_degenerates_to_any_deviation(spark):
    """MAD = 0 (majority identical): every deviating doc is an outlier,
    identical rule both engines (0.6745*dev > 0)."""
    from ai_batch_processing_spark.operators.corpus import mad_outlier_audit

    docs = spark.createDataFrame(
        [(i, "s", " ".join(["w"] * n)) for i, n in enumerate([5, 5, 5, 7])],
        "doc_id long, source string, text string",
    )
    row = mad_outlier_audit(docs).collect()[0]
    assert (row.median_ntok, row.mad_ntok, row.n_outliers) == (5, 0, 1)


def test_adjusted_rand_index_identical_partitions(spark):
    """col_b a relabeling of col_a => ARI exactly 1."""
    from ai_batch_processing_spark.operators.corpus import adjusted_rand_index

    df = spark.createDataFrame(
        [("en", "s1")] * 3 + [("de", "s2")] * 2 + [("fr", "s3")] * 4,
        "lang string, source string",
    )
    r = adjusted_rand_index(df).collect()[0]
    assert r.n == 9 and r.n_a_cats == 3 and r.n_b_cats == 3
    assert r.ari == 1.0


def test_adjusted_rand_index_hand_computed(spark):
    """Classic 2x2: A={x,x,y,y}, B={x,y,x,y} — every cell 1, all pair
    counts within cells are 0: ARI = (0 - E)/(max - E) with
    s_cells=0, s_rows=s_cols=4, s_tot=12:
    num = 2*0*12 - 2*4*4 = -32; den = 12*8 - 2*16 = 64 => -0.5."""
    from ai_batch_processing_spark.operators.corpus import adjusted_rand_index

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")],
        "lang string, source string",
    )
    r = adjusted_rand_index(df).collect()[0]
    assert r.ari == -0.5


def test_adjusted_rand_index_degenerate_null(spark):
    """Single category on both sides: den = 0 -> explicit NULL."""
    from ai_batch_processing_spark.operators.corpus import adjusted_rand_index

    df = spark.createDataFrame([("a", "x")] * 5, "lang string, source string")
    assert adjusted_rand_index(df).collect()[0].ari is None


def test_wasserstein_length_shift_hand_computed(spark):
    """Two sources: a has values {1,1} (bucket 1), b has {2,2} (bucket 2).
    For a: CDF_a = (1.0, 1.0), rest=b CDF = (0.0, 1.0) => W1 = |1-0| + 0
    = 1.0; symmetric for b."""
    from ai_batch_processing_spark.operators.corpus import wasserstein_length_shift

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2), ("b", 2)], "source string, n_tokens long"
    )
    rows = {r.grp: r for r in wasserstein_length_shift(df).collect()}
    assert rows["a"].n_src == 2 and rows["a"].n_rest == 2
    assert rows["a"].w1_buckets == 1.0
    assert rows["b"].w1_buckets == 1.0


def test_wasserstein_length_shift_identical_zero(spark):
    """Identical per-source distributions => zero transport."""
    from ai_batch_processing_spark.operators.corpus import wasserstein_length_shift

    df = spark.createDataFrame(
        [("a", 1), ("a", 4), ("b", 1), ("b", 4)], "source string, n_tokens long"
    )
    rows = {r.grp: r for r in wasserstein_length_shift(df).collect()}
    assert rows["a"].w1_buckets == 0.0 and rows["b"].w1_buckets == 0.0


def test_wasserstein_length_shift_single_source_null(spark):
    """Single source: no rest distribution -> explicit NULL (q333 guard)."""
    from ai_batch_processing_spark.operators.corpus import wasserstein_length_shift

    df = spark.createDataFrame([("a", 3)] * 4, "source string, n_tokens long")
    r = wasserstein_length_shift(df).collect()[0]
    assert r.n_rest == 0 and r.w1_buckets is None


def test_vocab_churn_identical_halves(spark):
    """Both halves share the same text => full overlap, churn 0."""
    from ai_batch_processing_spark.operators.corpus import vocab_churn

    df = spark.createDataFrame(
        [(0, "apple banana cherry"), (1, "apple banana cherry")],
        "doc_id long, text string",
    )
    r = vocab_churn(df, k=2).collect()[0]
    assert r.k == 2 and r.n_terms_h0 == 3 and r.n_terms_h1 == 3
    assert r.overlap_topk == 2 and r.jaccard_topk == 1.0 and r.churn == 0.0


def test_vocab_churn_disjoint_heads(spark):
    """Disjoint vocabularies => zero overlap, churn 1."""
    from ai_batch_processing_spark.operators.corpus import vocab_churn

    df = spark.createDataFrame(
        [(0, "aa bb aa"), (2, "aa bb"), (1, "xx yy xx"), (3, "xx yy")],
        "doc_id long, text string",
    )
    r = vocab_churn(df, k=2).collect()[0]
    assert r.overlap_topk == 0 and r.jaccard_topk == 0.0 and r.churn == 1.0


# ---------------------------------------------------------------------------
# r11 Arrow tokenizer kernels: exactness pins vs the Catalyst forms
# ---------------------------------------------------------------------------
def _kernel_docs(spark):
    from pyspark.sql import Row

    rows = [
        (1, "The  quick\tbrown fox\nthe the END"),
        (2, None),                      # NULL text → no rows (explode semantics)
        (3, ""),                        # no tokens
        (4, "   \t\n  "),               # whitespace only
        (5, "one"),                     # single token → no bigrams
        (6, " leading and trailing  "),
        (7, "a\x0bb c\x0c d\r\ne"),     # \x0B IS Java \s (RE2's \s omits it)
        (8, "Ünïcødé ÜNÏCØDÉ mixed MIXED"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_doc_term_counts_kernel_matches_catalyst(spark):
    from ai_batch_processing_spark.operators.text import doc_term_counts, tokens_expr
    from ai_batch_processing_spark.operators.corpus import token_stream

    docs = _kernel_docs(spark)
    ref = (
        token_stream(docs)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("ct"))
        .join(
            docs.select(
                "doc_id", F.size(tokens_expr("text")).cast("long").alias("n")
            ),
            "doc_id",
        )
        .select("doc_id", "term", "ct", "n")
    )
    got = doc_term_counts(docs)
    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, got.collect()))
    # vocab whitelist: ct rows restricted, n still the full token count
    gotv = doc_term_counts(docs, vocab=["the", "fox"])
    refv = ref.filter(F.col("term").isin("the", "fox"))
    assert sorted(map(tuple, refv.collect())) == sorted(map(tuple, gotv.collect()))


def test_term_counts_kernel_partials_sum_to_catalyst(spark):
    from ai_batch_processing_spark.operators.text import term_counts
    from ai_batch_processing_spark.operators.corpus import token_stream

    docs = _kernel_docs(spark)
    ref = token_stream(docs).groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    got = term_counts(docs).groupBy("term").agg(F.sum("ct").alias("c"))
    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, got.collect()))


def test_doc_bigram_counts_kernel_matches_catalyst(spark):
    from ai_batch_processing_spark.operators.text import doc_bigram_counts, tokens_expr

    docs = _kernel_docs(spark)
    toks_arr = docs.select("doc_id", tokens_expr("text").alias("ts"))
    bigr = (
        toks_arr.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2),"
                    " i -> struct(ts[i] AS w1, ts[i+1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    ref = bigr.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("ct"))
    got = doc_bigram_counts(docs)
    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, got.collect()))


def test_doc_term_counts_kernel_matches_catalyst_on_corpus(spark, sf_dir):
    from ai_batch_processing_spark.operators.text import doc_term_counts
    from ai_batch_processing_spark.operators.corpus import token_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = (
        token_stream(docs).groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("ct"))
    )
    got = doc_term_counts(docs).select("doc_id", "term", "ct")
    assert ref.exceptAll(got).count() == 0 and got.exceptAll(ref).count() == 0


def test_unigram_surprise_dispatch_both_branches(spark, sf_dir):
    """The prob-table join must broadcast at bench scale (zero-action
    estimate path) and fall back to an UNHINTED join when the vouched
    text-leg bound blows the probe ceiling (the 100 TB big-vocab shape) —
    results identical either way (r10 verdict item 1)."""
    from ai_batch_processing_spark.jobs import pin_scope
    from ai_batch_processing_spark.operators.corpus import unigram_surprise
    from ai_batch_processing_spark.plans import relational as rel

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # bench scale: the text-leg Catalyst estimate is far under the 64 MB
    # threshold -> explicit broadcast hint, before any AQE involvement
    with pin_scope():
        out_b = unigram_surprise(docs)
        assert "BroadcastHashJoin" in out_b._jdf.queryExecution().sparkPlan().toString()
        rows_b = sorted(map(tuple, out_b.collect()))

    # big-vocab branch: ceiling forced below the estimate -> no hint, no
    # probe. On a tiny corpus the static planner would still auto-broadcast
    # the small prob table (its aggregate estimate is under the session
    # threshold — at real scale it would not be), so the auto threshold is
    # disabled too: what remains is exactly the 100 TB shape — an unhinted
    # shuffle join — and it must produce identical values.
    old_cap, old_ceil = rel._BCAST_BYTE_CAP, rel._PROBE_EST_CEILING
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    rel._BCAST_BYTE_CAP, rel._PROBE_EST_CEILING = 1, 1
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with pin_scope():
            out_s = unigram_surprise(docs)
            plan_s = out_s._jdf.queryExecution().sparkPlan().toString()
            assert "SortMergeJoin" in plan_s or "ShuffledHashJoin" in plan_s
            rows_s = sorted(map(tuple, out_s.collect()))
    finally:
        rel._BCAST_BYTE_CAP, rel._PROBE_EST_CEILING = old_cap, old_ceil
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert rows_b == rows_s
