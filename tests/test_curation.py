"""Curation operators: decontamination, PII redaction, sequence packing,
mixture reweighting — semantics units + the scale-shape pins (broadcast
benchmark side, no whole-group window in the prefix sum)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ai_batch_processing_spark.operators.curation import (
    _range_cumsum,
    decontaminate,
    grouped_prefix_sum,
    mixture_weights,
    pack_sequences,
    pii_counts,
    redact_pii,
    shingles_expr,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- shingles / decontamination ---------------------------------------------


def test_shingles_short_doc_yields_whole_sequence(spark):
    out = (
        _docs(spark, [(1, "only three tokens")])
        .select(shingles_expr("text", n=8).alias("sh"))
        .head()[0]
    )
    assert out == ["only three tokens"]


def test_shingles_sliding(spark):
    out = (
        _docs(spark, [(1, "a b c d")])
        .select(shingles_expr("text", n=3).alias("sh"))
        .head()[0]
    )
    assert out == ["a b c", "b c d"]


def test_decontaminate_flags_verbatim_overlap(spark):
    # doc 1 contains the benchmark sentence verbatim; doc 2 is clean.
    bench = _docs(spark, [(100, "the quick brown fox jumps over the lazy dog")])
    corpus = _docs(
        spark,
        [
            (1, "intro words the quick brown fox jumps over the lazy dog outro"),
            (2, "completely different content with no overlap at all here now"),
        ],
    )
    got = {
        r["doc_id"]: (r["n_overlap"], r["flagged"])
        for r in decontaminate(corpus, bench, n=8, threshold=0.2).collect()
    }
    assert got[1][0] > 0 and got[1][1] is True
    assert got[2] == (0, False)


def test_decontaminate_benchmark_is_broadcast(spark):
    bench = _docs(spark, [(100, "a b c d e f g h")])
    corpus = _docs(spark, [(1, "a b c d e f g h i j")])
    plan = decontaminate(corpus, bench)._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in plan or "broadcast" in plan


# --- PII --------------------------------------------------------------------


def test_redact_pii_all_categories(spark):
    s = "mail bob.smith+x@corp.example.org ssn 123-45-6789 ip 192.168.0.1 tel 555-0192 end"
    out = spark.range(1).select(redact_pii(F.lit(s)).alias("r")).head()["r"]
    assert out == "mail [EMAIL] ssn [SSN] ip [IP] tel [PHONE] end"


def test_redact_pii_order_ssn_before_phone(spark):
    # the phone pattern (ddd-dddd) must not clip the SSN's tail
    out = spark.range(1).select(redact_pii(F.lit("123-45-6789")).alias("r")).head()["r"]
    assert out == "[SSN]"


def test_pii_counts(spark):
    s = "a@b.co and c@d.ie, 10.0.0.1"
    row = spark.range(1).select(*pii_counts(F.lit(s)).values()).head()
    assert row["n_email"] == 2 and row["n_ip"] == 1 and row["n_ssn"] == 0


# --- prefix sum / packing ---------------------------------------------------


def test_grouped_prefix_sum_matches_naive_window(spark, spark_conf):
    # The 20k-row input outgrows a 5-row-per-partition range sample, so two
    # range exchanges over the same data would cut at different bounds;
    # with exchange reuse off, each reader of the range exchange plans its
    # own.
    for n, conf in (
        (200, {}),
        (
            20_000,
            {
                "spark.sql.execution.rangeExchange.sampleSizePerPartition": "5",
                "spark.sql.exchange.reuse": "false",
            },
        ),
    ):
        rows = [(i, f"s{i % 3}", (i * 7) % 11 + 1) for i in range(n)]
        with spark_conf(conf):
            df = spark.createDataFrame(rows, "id long, src string, v long").repartition(7)
            got = grouped_prefix_sum(df, ["src"], ["id"], "v", out_col="p")
            w = (
                Window.partitionBy("src")
                .orderBy("id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            want = df.withColumn("p", (F.sum("v").over(w) - F.col("v")).cast("long"))
            cols = ["id", "src", "v", "p"]
            assert sorted(map(tuple, got.select(cols).collect())) == sorted(
                map(tuple, want.select(cols).collect())
            ), n


def test_grouped_prefix_sum_no_whole_group_window(spark):
    df = spark.createDataFrame([(1, "a", 1)], "id long, src string, v long")
    plan = grouped_prefix_sum(df, ["src"], ["id"], "v")._jdf.queryExecution().toString()
    # every data-side Window must include the physical partition id — a
    # window partitioned by src alone would serialize each whole group
    for line in plan.splitlines():
        if "Window " in line and "windowspecdefinition(src" in line and "_pid" not in line:
            raise AssertionError(f"whole-group window in plan: {line}")


def test_pack_sequences_invariants(spark):
    rows = [(i, "s", 100) for i in range(10)]  # 100 tokens each, budget 256
    df = spark.createDataFrame(rows, "doc_id long, src string, n long")
    out = pack_sequences(df, budget=256, group_cols=["src"], order_cols=["doc_id"], token_col="n")
    got = {r["doc_id"]: (r["pack_id"], r["pack_offset"]) for r in out.collect()}
    # doc i starts at token 100*i → pack floor(100i/256), offset 100i % 256
    for i in range(10):
        assert got[i] == (100 * i // 256, 100 * i % 256)
    assert len(got) == 10  # nothing dropped or duplicated


# --- mixture ----------------------------------------------------------------


def test_mixture_weights_uniform_target(spark):
    df = spark.createDataFrame(
        [("a", 300), ("b", 100)], "src string, n long"
    )
    got = {r["src"]: r for r in mixture_weights(df, "src", "n").collect()}
    assert got["a"]["token_share"] == 0.75
    # uniform target is 0.5 each → a downsampled 2/3, b upsampled 2×
    assert abs(got["a"]["repeat_factor"] - 0.666667) < 1e-6
    assert abs(got["b"]["repeat_factor"] - 2.0) < 1e-6


def test_mixture_weights_explicit_target(spark):
    df = spark.createDataFrame([("a", 100), ("b", 100)], "src string, n long")
    got = {
        r["src"]: r["repeat_factor"]
        for r in mixture_weights(df, "src", "n", target_share={"a": 0.9, "b": 0.1}).collect()
    }
    assert abs(got["a"] - 1.8) < 1e-6 and abs(got["b"] - 0.2) < 1e-6


def test_sample_k_per_group_exact_k_and_deterministic(spark):
    from ai_batch_processing_spark.operators.curation import sample_k_per_group

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(60)], "doc_id long, source string"
    )
    a = sample_k_per_group(df, "source", k=4).collect()
    b = sample_k_per_group(df.repartition(7), "source", k=4).collect()
    by_group: dict = {}
    for r in a:
        by_group.setdefault(r.source, []).append(r.doc_id)
    assert all(len(v) == 4 for v in by_group.values())  # exactly k per group
    assert sorted((r.source, r.doc_id) for r in a) == sorted(
        (r.source, r.doc_id) for r in b
    )  # partitioning-invariant
    # small group: returns all rows, never errors
    tiny = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id long, source string")
    assert len(sample_k_per_group(tiny, "source", k=10).collect()) == 2


def test_sample_k_per_group_xxhash_handles_string_ids(spark):
    from ai_batch_processing_spark.operators.curation import sample_k_per_group

    df = spark.createDataFrame(
        [("id-%02d" % i, "g%d" % (i % 2)) for i in range(20)],
        "doc_id string, source string",
    )
    out = sample_k_per_group(df, "source", k=3, id_col="doc_id").collect()
    per = {}
    for r in out:
        per.setdefault(r.source, []).append(r.doc_id)
    assert all(len(v) == 3 for v in per.values())


def test_pack_fragments_reassembles_documents(spark):
    """Fragment rows must be a lossless decomposition: per doc, slice_len
    sums to the token count, slices are contiguous from 0, packs are the
    contiguous range the doc spans, and the first fragment agrees with
    pack_sequences' (pack_id, pack_offset). Zero-token docs keep one
    zero-length fragment instead of vanishing."""
    from ai_batch_processing_spark.operators.curation import pack_fragments, pack_sequences

    rows = [
        ("s", 1, 300), ("s", 2, 300), ("s", 3, 700),  # doc 2,3 straddle
        ("s", 4, 0),                                   # zero-token doc
        ("t", 5, 1025),                                # spans 3 packs alone
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    frags = pack_fragments(df, 512, ["source"], ["doc_id"], "n_tokens").collect()
    by_doc = {}
    for r in frags:
        by_doc.setdefault(r.doc_id, []).append(r)
    tokens = dict((r[1], r[2]) for r in rows)
    for doc, fs in by_doc.items():
        fs.sort(key=lambda r: r.pack_id)
        assert sum(f.slice_len for f in fs) == tokens[doc]
        # contiguous doc-side slices starting at 0
        pos = 0
        for f in fs:
            assert f.slice_start == pos
            pos += f.slice_len
        # contiguous pack range
        assert [f.pack_id for f in fs] == list(range(fs[0].pack_id, fs[-1].pack_id + 1))
        # continuation fragments start at the pack boundary
        for f in fs[1:]:
            assert f.pack_offset == 0
    assert len(by_doc[4]) == 1 and by_doc[4][0].slice_len == 0
    assert len(by_doc[5]) == 3  # 1025 tokens = 512 + 512 + 1
    # first fragment agrees with pack_sequences
    starts = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in pack_sequences(df, 512, ["source"], ["doc_id"], "n_tokens").collect()
    }
    for doc, fs in by_doc.items():
        fs.sort(key=lambda r: r.pack_id)
        assert (fs[0].pack_id, fs[0].pack_offset) == starts[doc]


def test_materialize_mixture_hits_target_shares(spark):
    """Epoch expansion must move the mix toward the target: a source with
    repeat_factor 2.5 ends up with ~2.5x its rows (hash-Bernoulli on the
    fraction), one with 0.5 keeps ~half, and every emitted epoch is
    1..n_copies."""
    from ai_batch_processing_spark.operators.curation import materialize_mixture

    rows = [("a", i, 10) for i in range(400)] + [("b", i + 1000, 10) for i in range(400)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    factors = spark.createDataFrame(
        [("a", 2.5), ("b", 0.5)], "source string, repeat_factor double"
    )
    out = materialize_mixture(df, factors, "source", "doc_id").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.epoch)
    na, nb = len(by_src["a"]), len(by_src["b"])
    assert 0.85 * 1000 <= na <= 1.15 * 1000   # 400 * 2.5
    assert 0.7 * 200 <= nb <= 1.3 * 200       # 400 * 0.5
    assert max(by_src["a"]) == 3 and min(by_src["a"]) == 1
    # determinism: second run emits the identical multiset
    out2 = materialize_mixture(df, factors, "source", "doc_id").collect()
    assert sorted((r.doc_id, r.epoch) for r in out) == sorted((r.doc_id, r.epoch) for r in out2)


def test_curriculum_interleaves_sources(spark):
    """Round-robin curriculum: positions 0..n_sources-1 hold every source's
    rank-1 doc, the next block rank-2, etc.; within a source the order is
    ease-descending."""
    from ai_batch_processing_spark.operators.curation import curriculum_order

    rows = [
        ("a", 1, 0.9), ("a", 2, 0.5), ("a", 3, 0.1),
        ("b", 4, 0.8), ("b", 5, 0.6), ("b", 6, 0.2),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, ease double")
    out = sorted(
        curriculum_order(df, "ease", "source", "doc_id").collect(),
        key=lambda r: r.curriculum,
    )
    assert [r.doc_id for r in out] == [1, 4, 2, 5, 3, 6]
    assert [r.curriculum for r in out] == list(range(6))


def test_token_budget_selection_greedy_contract(spark):
    """Best-score-first until the budget is spent; a doc is kept iff
    tokens_before < budget (may overshoot by one doc, never two)."""
    from ai_batch_processing_spark.operators.curation import select_within_token_budget

    rows = [
        ("s", 1, 400, 0.9), ("s", 2, 400, 0.8), ("s", 3, 400, 0.7), ("s", 4, 400, 0.6),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long, score double")
    kept = sorted(
        r.doc_id
        for r in select_within_token_budget(
            df, 1000, "score", "n_tokens", "doc_id", group_cols=["source"]
        ).collect()
    )
    # 0 < 1000 keep; 400 < 1000 keep; 800 < 1000 keep (overshoot); 1200 drop
    assert kept == [1, 2, 3]


# ---------------------------------------------------------------------------
# Fuzzy decontamination
# ---------------------------------------------------------------------------
def test_decontaminate_fuzzy_finds_every_planted_paraphrase(spark, sf_dir):
    """Each benchmark item is a perturbed copy of a corpus doc — the
    recall-1 configuration must pair every bench doc with its source (and
    the pair's Jaccard must clear the threshold)."""
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.curation import decontaminate_fuzzy
    from ai_batch_processing_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].limit(300)
    bench = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" suffix")).alias("text"),
    )
    out = decontaminate_fuzzy(docs, bench, threshold=0.5)
    found = {(r.doc_id, r.bench_id) for r in out.collect()}
    planted = {
        (r.doc_id, r.doc_id + 900_000)
        for r in docs.filter(F.col("doc_id") % 7 == 0).select("doc_id").collect()
    }
    assert planted <= found  # every planted pair recovered


def test_decontaminate_fuzzy_production_bands_recall(spark, sf_dir):
    """bands=16 (the production config) must keep >= 0.9 recall of the
    recall-1 pair set on the planted corpus, with no false pairs (every
    output is exact-verified, so precision is 1 by construction)."""
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.curation import decontaminate_fuzzy
    from ai_batch_processing_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].limit(300)
    bench = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" suffix")).alias("text"),
    )
    exact = {tuple(r) for r in decontaminate_fuzzy(docs, bench, bands=64).collect()}
    prod = {tuple(r) for r in decontaminate_fuzzy(docs, bench, bands=16).collect()}
    assert prod <= exact  # verify stage → no false positives
    assert len(prod) >= 0.9 * len(exact)


def test_temperature_mixture_flattens_toward_uniform(spark):
    """alpha=0.5 must raise tail-source shares and shrink head-source
    shares (strict flattening), tempered shares must sum to 1, and
    alpha=1 must reproduce the natural mix (repeat_factor 1)."""
    from ai_batch_processing_spark.operators.curation import temperature_mixture

    df = spark.createDataFrame(
        [("head", 900), ("mid", 90), ("tail", 10)], "source string, n_tokens long"
    )
    rows = {r.source: r for r in temperature_mixture(df, "source", "n_tokens", alpha=0.5).collect()}
    assert abs(sum(r.q_temperature for r in rows.values()) - 1.0) < 1e-5
    assert rows["head"].q_temperature < rows["head"].p_natural
    assert rows["tail"].q_temperature > rows["tail"].p_natural
    assert rows["tail"].repeat_factor > 1.0 > rows["head"].repeat_factor

    nat = {r.source: r for r in temperature_mixture(df, "source", "n_tokens", alpha=1.0).collect()}
    for r in nat.values():
        assert abs(r.repeat_factor - 1.0) < 1e-6


def test_line_dedup_order_threshold_and_reassembly(spark):
    """Adversarial line cleanup: intra-doc repeats keep only their FIRST
    occurrence (original order preserved), the doc-frequency threshold is
    inclusive (== max_doc_freq survives, > is dropped), and cleaned_text
    reassembles the survivors exactly."""
    from ai_batch_processing_spark.operators.curation import line_dedup

    docs = [
        (1, "alpha\nboiler\nbeta\nalpha\ngamma"),
        (2, "boiler\ndelta\nshared\ndelta"),
        (3, "shared\nboiler\nepsilon"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # boiler appears in 3 docs; shared in 2 — with max_doc_freq=2 boiler
    # drops everywhere, shared survives exactly at the threshold
    rows = {r.id: r for r in line_dedup(df, max_doc_freq=2).collect()}
    assert rows[1].cleaned_text == "alpha\nbeta\ngamma"
    assert (rows[1].n_lines, rows[1].n_kept) == (5, 3)
    assert rows[2].cleaned_text == "delta\nshared"
    assert (rows[2].n_lines, rows[2].n_kept) == (4, 2)
    assert rows[3].cleaned_text == "shared\nepsilon"

    # no threshold: only intra-doc dedup
    rows2 = {r.id: r for r in line_dedup(df).collect()}
    assert rows2[1].cleaned_text == "alpha\nboiler\nbeta\ngamma"
    assert rows2[2].cleaned_text == "boiler\ndelta\nshared"


# --- DSIR importance weights -------------------------------------------------


def test_dsir_upweights_target_like_docs(spark):
    from ai_batch_processing_spark.operators.curation import dsir_importance_weights

    rows = [
        (1, "alpha beta alpha beta", "tgt"),
        (2, "alpha beta gamma beta", "raw"),  # target-like
        (3, "zeta eta theta iota", "raw"),  # target-unlike
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.doc_id: r
        for r in dsir_importance_weights(df, F.col("source") == "tgt").collect()
    }
    assert out[2].log_weight > out[3].log_weight
    # n_feats = unigrams + bigrams = 2t - 1
    assert out[1].n_feats == 7 and out[3].n_feats == 7


def test_dsir_bigrams_make_weights_order_sensitive(spark):
    from ai_batch_processing_spark.operators.curation import dsir_importance_weights

    rows = [
        (1, "the cat sat on the mat", "tgt"),
        (2, "the cat sat on the mat", "raw"),
        (3, "mat the on sat cat the", "raw"),  # same bag, scrambled order
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    tgt = F.col("source") == "tgt"
    with_bi = {r.doc_id: r.log_weight for r in dsir_importance_weights(df, tgt).collect()}
    no_bi = {
        r.doc_id: r.log_weight
        for r in dsir_importance_weights(df, tgt, include_bigrams=False).collect()
    }
    assert no_bi[2] == no_bi[3]  # unigram model is order-blind
    assert with_bi[2] > with_bi[3]  # bigram features see the scramble


def test_dsir_empty_target_fails_fast(spark):
    import pytest

    from ai_batch_processing_spark.operators.curation import dsir_importance_weights

    df = spark.createDataFrame(
        [(1, "some text here", "raw")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError, match="target_pred matches no documents"):
        dsir_importance_weights(df, F.col("source") == "nope").collect()


# --- weighted priority sampling ----------------------------------------------


def test_weighted_sample_exact_k_and_stability(spark):
    from ai_batch_processing_spark.operators.curation import weighted_sample_k_per_group

    rows = [(f"s{i % 3}", i, float(1 + i % 11)) for i in range(120)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w double")
    out = weighted_sample_k_per_group(df, "source", k=4, weight_col="w")
    per = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    assert per == {"s0": 4, "s1": 4, "s2": 4}
    a = sorted(map(tuple, out.collect()))
    b = sorted(
        map(
            tuple,
            weighted_sample_k_per_group(
                df.repartition(11), "source", k=4, weight_col="w"
            ).collect(),
        )
    )
    assert a == b  # repartition-stable


def test_weighted_sample_weight_monotonicity(spark):
    from ai_batch_processing_spark.operators.curation import weighted_sample_k_per_group

    rows = [("g", i, 1.0) for i in range(50)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w double")
    base = {r.doc_id for r in weighted_sample_k_per_group(df, "source", 3, "w").collect()}
    loser = sorted(set(range(50)) - base)[0]  # a row the uniform sample skipped
    boosted = df.withColumn(
        "w", F.when(F.col("doc_id") == loser, 1e9).otherwise(F.col("w"))
    )
    got = {r.doc_id for r in weighted_sample_k_per_group(boosted, "source", 3, "w").collect()}
    assert loser in got  # a 10^9 weight boost pulls it into the sample


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from ai_batch_processing_spark.operators.curation import weighted_sample_k_per_group

    rows = [("g", 1, 5.0), ("g", 2, 0.0), ("g", 3, -1.0), ("g", 4, 2.0)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w double")
    got = {r.doc_id for r in weighted_sample_k_per_group(df, "source", 10, "w").collect()}
    assert got == {1, 4}


def test_select_top_fraction_sizes_and_ties(spark):
    from ai_batch_processing_spark.operators.curation import select_top_fraction

    # 100 rows per group, distinct scores -> exactly 30 + the boundary row
    rows = [(f"g{i % 2}", i, float(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "source string, doc_id long, score double")
    out = select_top_fraction(df, 0.3, "score", group_cols=["source"])
    per = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    # percent_rank = (rank-1)/(n-1): rank 1..30 have pr <= 29/99 < 0.3,
    # rank 31 has pr = 30/99 > 0.3 -> exactly 30 per group
    assert per == {"g0": 30, "g1": 30}
    # the kept rows are the TOP scores
    top = {r.doc_id for r in out.filter("source = 'g0'").collect()}
    assert top == set(range(140, 200, 2))


def test_select_top_fraction_singleton_and_validation(spark):
    import pytest

    from ai_batch_processing_spark.operators.curation import select_top_fraction

    df = spark.createDataFrame(
        [("g", 1, 0.5)], "source string, doc_id long, score double"
    )
    assert select_top_fraction(df, 0.01, "score", group_cols=["source"]).count() == 1
    with pytest.raises(ValueError, match="frac"):
        select_top_fraction(df, 0.0, "score")


def test_shard_manifest_budget_and_continuity(spark):
    from ai_batch_processing_spark.operators.curation import shard_manifest

    rows = [("s", i, 30) for i in range(10)]  # 300 tokens, shard budget 100
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    out = sorted(shard_manifest(df, 100, ["source"]).collect(), key=lambda r: r.doc_id)
    # docs 0-3 start in shard 0 (offsets 0,30,60,90), 4-6 shard 1, ...
    assert [r.shard_id for r in out] == [0, 0, 0, 0, 1, 1, 1, 2, 2, 2]
    assert [r.offset_tokens for r in out] == [0, 30, 60, 90, 20, 50, 80, 10, 40, 70]


def test_shard_manifest_repartition_stable_and_validated(spark):
    import pytest

    from ai_batch_processing_spark.operators.curation import shard_manifest

    rows = [(f"s{i % 2}", i, 10 + i % 7) for i in range(100)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    a = sorted(map(tuple, shard_manifest(df, 50, ["source"]).collect()))
    b = sorted(map(tuple, shard_manifest(df.repartition(13), 50, ["source"]).collect()))
    assert a == b
    with pytest.raises(ValueError, match="shard_tokens"):
        shard_manifest(df, 0, ["source"])


def test_leakage_safe_splits_keep_duplicates_together(spark):
    from ai_batch_processing_spark.operators.curation import (
        assign_splits,
        assign_splits_leakage_safe,
    )

    # many duplicate pairs with far-apart ids: per-row hashing (q109)
    # scatters some pairs across splits; the leakage-safe form never does
    rows = []
    for i in range(200):
        rows.append((i, f"unique doc body number {i}"))
        rows.append((10_000 + i * 37, f"unique doc body number {i}"))  # duplicate
    df = spark.createDataFrame(rows, "doc_id long, text string")

    safe = assign_splits_leakage_safe(df).collect()
    by_text = {}
    for r in safe:
        by_text.setdefault(r.text, set()).add(r.split)
    assert all(len(s) == 1 for s in by_text.values())  # never straddles

    naive = assign_splits(df).collect()
    naive_by_text = {}
    for r in naive:
        naive_by_text.setdefault(r.text, set()).add(r.split)
    # the hole is real: per-row hashing DOES split at least one pair here
    assert any(len(s) > 1 for s in naive_by_text.values())


def test_leakage_safe_split_stable_under_duplicate_insertion(spark):
    from ai_batch_processing_spark.operators.curation import assign_splits_leakage_safe

    base = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(50)], "doc_id long, text string"
    )
    with_dups = base.unionAll(
        spark.createDataFrame(
            [(1000 + i, f"doc body {i}") for i in range(0, 50, 5)],
            "doc_id long, text string",
        )
    )
    a = {r.doc_id: r.split for r in assign_splits_leakage_safe(base).collect()}
    b = {r.doc_id: r.split for r in assign_splits_leakage_safe(with_dups).collect()}
    # adding duplicates (higher ids) never moves an original doc's split
    assert all(b[i] == a[i] for i in range(50))


def test_mixture_deduped_ignores_internal_mirroring(spark):
    from ai_batch_processing_spark.operators.curation import (
        mixture_weights,
        mixture_weights_deduped,
    )

    body_a = "alpha beta gamma delta"
    body_b = "epsilon zeta eta theta"
    rows = (
        [("a", i, body_a + f" {i}") for i in range(10)]
        # source b: 10 distinct docs mirrored 3x = 40 raw rows, 10 distinct
        + [("b", 100 + i, body_b + f" {i % 10}") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    dedup = {r.source: r for r in mixture_weights_deduped(df).collect()}
    # deduped: both sources contribute 10 distinct 5-token docs -> equal
    assert dedup["a"].n_tokens == dedup["b"].n_tokens == 50
    assert dedup["a"].token_share == dedup["b"].token_share == 0.5
    # raw weights would hand b 4x the share (the inflation this fixes)
    from ai_batch_processing_spark.operators.text import token_count_ws

    raw = {
        r.source: r.token_share
        for r in mixture_weights(
            df.select("source", token_count_ws(F.col("text")).alias("nt")), "source", "nt"
        ).collect()
    }
    assert raw["b"] == 0.8 and raw["a"] == 0.2


def test_benchmark_exposure_full_partial_none(spark):
    from ai_batch_processing_spark.operators.curation import benchmark_exposure

    leak = "q one two three four five six seven eight nine"
    corpus = spark.createDataFrame(
        [(1, leak + " corpus tail"), (2, "unrelated corpus body entirely")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, leak),  # fully contained -> exposure 1.0
            (101, leak + " novel suffix words here"),  # partially contained
            (102, "never seen eval item body at all padding words"),  # clean
        ],
        "doc_id long, text string",
    )
    out = {r.bench_id: r for r in benchmark_exposure(corpus, bench, n=8).collect()}
    assert out[100].exposure == 1.0
    assert 0 < out[101].exposure < 1.0
    assert out[102].exposure == 0.0
    assert out[102].n_exposed == 0


def test_boilerplate_census_ranks_by_reach(spark):
    from ai_batch_processing_spark.operators.curation import boilerplate_census

    rows = [
        (1, "header\nbody one\nfooter"),
        (2, "header\nbody two\nfooter"),
        (3, "header\nbody three"),
        (4, "unique only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = boilerplate_census(df, top_k=5, min_doc_freq=2).collect()
    assert [(r.line, r.n_docs) for r in out] == [("header", 3), ("footer", 2)]
    assert [r.rnk for r in out] == [1, 2]


def test_boilerplate_census_intra_doc_repeats_counted_once_for_reach(spark):
    from ai_batch_processing_spark.operators.curation import boilerplate_census

    rows = [(1, "spam\nspam\nspam"), (2, "spam\nother")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = boilerplate_census(df, top_k=1, min_doc_freq=2).collect()[0]
    assert (r.line, r.n_docs, r.n_occurrences) == ("spam", 2, 4)


def test_weighted_interleave_density_and_determinism(spark):
    import pytest

    from ai_batch_processing_spark.operators.curation import weighted_interleave

    rows = [("heavy", i) for i in range(20)] + [("light", 100 + i) for i in range(20)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    out = weighted_interleave(df, {"heavy": 2.0, "light": 1.0}).collect()
    order = [r.source for r in sorted(out, key=lambda r: r.position)]
    # in the first 12 positions the weight-2 source must appear ~2x as often
    head = order[:12]
    assert head.count("heavy") >= 7
    # heavy docs 1..2k interleave before light doc k: positions strictly
    # alternate h,h,l pattern at the tail too — spot the virtual-time law:
    # heavy rk=2 (key 1.0) precedes light rk=2 (key 2.0)
    pos = {(r.source, r.rk_in_source): r.position for r in out}
    assert pos[("heavy", 2)] < pos[("light", 2)]
    assert pos[("heavy", 4)] < pos[("light", 2)]
    # determinism under repartition
    again = weighted_interleave(df.repartition(7), {"heavy": 2.0, "light": 1.0}).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with pytest.raises(ValueError, match="positive"):
        weighted_interleave(df, {"heavy": 0.0, "light": 1.0})


# ---------------------------------------------------------------------------
# Quantile normalization (quantile_normalize / q207)
# ---------------------------------------------------------------------------


def test_quantile_normalize_maps_shifted_group_onto_global(spark):
    from ai_batch_processing_spark.operators.curation import quantile_normalize

    # group a: scores 1..5, group b: same shape shifted +100 — after
    # calibration both groups' ECDF ranks coincide, so equal ranks get
    # the SAME global quantile value.
    rows = [("a", i, float(i)) for i in range(1, 6)] + [
        ("b", 10 + i, float(100 + i)) for i in range(1, 6)
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "score"])
    out = quantile_normalize(df, "score", "source", "doc_id").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r.source, {})[r.pr] = r.calibrated
    assert by_group["a"].keys() == by_group["b"].keys()
    for pr in by_group["a"]:
        assert by_group["a"][pr] == by_group["b"][pr]
    # calibrated values are actual observed global scores
    observed = {float(s) for _, _, s in rows}
    assert all(r.calibrated in observed for r in out)
    # monotone: higher raw score within a group never calibrates lower
    for g in ("a", "b"):
        seq = sorted((r.score, r.calibrated) for r in out if r.source == g)
        assert all(c1 <= c2 for (_, c1), (_, c2) in zip(seq, seq[1:]))


def test_quantile_normalize_singleton_group_gets_pr_zero(spark):
    from ai_batch_processing_spark.operators.curation import quantile_normalize

    df = spark.createDataFrame(
        [("solo", 1, 5.0), ("big", 2, 1.0), ("big", 3, 9.0)],
        ["source", "doc_id", "score"],
    )
    out = {r.doc_id: r for r in quantile_normalize(df, "score", "source", "doc_id").collect()}
    assert out[1].pr == 0.0
    # pr=0 → global minimum score
    assert out[1].calibrated == 1.0


def test_quantile_normalize_equal_scores_calibrate_equally(spark):
    from ai_batch_processing_spark.operators.curation import quantile_normalize

    df = spark.createDataFrame(
        [("a", i, 2.0) for i in range(4)] + [("a", 9, 7.0)],
        ["source", "doc_id", "score"],
    )
    out = quantile_normalize(df, "score", "source", "doc_id").collect()
    tied = {r.calibrated for r in out if r.score == 2.0}
    assert len(tied) == 1  # no per-row tiebreak leakage


# ---------------------------------------------------------------------------
# Hashed linear classifier (linear_text_classifier / q208)
# ---------------------------------------------------------------------------


def test_linear_classifier_margin_is_exact_weight_sum(spark):
    from ai_batch_processing_spark.operators.curation import (
        _feature_bucket,
        linear_text_classifier,
        procedural_weights,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(1, "alpha beta alpha")], ["doc_id", "text"])
    w = procedural_weights(spark, 64)
    wmap = {r.b: r.w for r in w.collect()}
    # features: 3 unigrams (alpha ×2, beta) + 2 bigrams
    feats = ["alpha", "beta", "alpha", "alpha beta", "beta alpha"]
    fdf = spark.createDataFrame([(f,) for f in feats], ["f"])
    buckets = [
        r.b for r in fdf.select(_feature_bucket(F.col("f"), 64, "xxhash64").alias("b")).collect()
    ]
    expected = sum(wmap[b] for b in buckets)
    row = linear_text_classifier(docs, w, n_buckets=64).first()
    assert row.n_feats == 5
    assert row.margin == expected
    assert row.label == (expected > 0)


def test_linear_classifier_empty_doc_yields_no_row(spark):
    from ai_batch_processing_spark.operators.curation import (
        linear_text_classifier,
        procedural_weights,
    )

    docs = spark.createDataFrame([(1, ""), (2, "ok")], ["doc_id", "text"])
    out = linear_text_classifier(docs, procedural_weights(spark, 16), n_buckets=16)
    assert [r.doc_id for r in out.collect()] == [2]


def test_procedural_weights_bounded_and_deterministic(spark):
    from ai_batch_processing_spark.operators.curation import procedural_weights

    w1 = procedural_weights(spark, 128).collect()
    w2 = procedural_weights(spark, 128).collect()
    assert w1 == w2
    assert all(-1000 <= r.w <= 1000 for r in w1)


# ---------------------------------------------------------------------------
# Pareto front (pareto_front / q209)
# ---------------------------------------------------------------------------


def _brute_front(pts):
    def dominated(p, q):
        return (q[0] > p[0] and q[1] >= p[1]) or (q[0] >= p[0] and q[1] > p[1])

    return sorted(i for i, p in enumerate(pts) if not any(dominated(p, q) for q in pts))


def test_pareto_front_matches_bruteforce_with_ties_and_dups(spark):
    from ai_batch_processing_spark.operators.curation import pareto_front

    pts = [
        (1.0, 10), (2.0, 9), (2.0, 9),  # duplicate front point survives twice
        (2.0, 5),                        # tied x, smaller y → dominated
        (3.0, 9),                        # dominates (2.0, 9)? no: y equal, x greater → dominates
        (0.5, 11), (3.0, 1), (2.5, 9),
    ]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], ["id", "x", "y"]
    )
    got = sorted(r.id for r in pareto_front(df, "x", "y").collect())
    assert got == _brute_front(pts)


def test_pareto_front_single_point_and_all_equal(spark):
    from ai_batch_processing_spark.operators.curation import pareto_front

    one = spark.createDataFrame([(1, 1.0, 1)], ["id", "x", "y"])
    assert [r.id for r in pareto_front(one, "x", "y").collect()] == [1]
    eq = spark.createDataFrame([(i, 2.0, 3) for i in range(4)], ["id", "x", "y"])
    assert sorted(r.id for r in pareto_front(eq, "x", "y").collect()) == [0, 1, 2, 3]


# ---------------------------------------------------------------------------
# Blocklist policy filter (q220)
# ---------------------------------------------------------------------------


def test_blocklist_hits_word_boundaries_and_case(spark):
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.curation import blocklist_hits

    df = spark.createDataFrame(
        [("Slow dupx DUP big slowly",), ("nothing here",)], "text string"
    )
    got = [
        r.n for r in df.select(blocklist_hits("text", ("slow", "dup", "big")).alias("n")).collect()
    ]
    # 'Slow', 'DUP', 'big' match (case-folded, whole words); 'dupx'/'slowly' do not
    assert got == [3, 0]
    # terms are inlined once: the expression is pure codegen, no join/UDF
    plan = df.select(blocklist_hits("text", ("slow",)).alias("n"))._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BatchEvalPython" not in plan


def test_blocklist_hits_escapes_regex_metachars(spark):
    from ai_batch_processing_spark.operators.curation import blocklist_hits

    df = spark.createDataFrame(
        [("he said f*ck and fck",), ("fck fcck fxck",)], "text string"
    )
    got = [r.n for r in df.select(blocklist_hits("text", ("f*ck",)).alias("n")).collect()]
    # literal match only: the unescaped regex 'f*ck' would match 'fck'/'fcck'
    assert got == [1, 0]


def test_weighted_interleave_raises_on_uncovered_source(spark):
    import pytest as _pt

    from ai_batch_processing_spark.operators.curation import weighted_interleave

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, source string"
    )
    with _pt.raises(Exception, match="no weight for source"):
        weighted_interleave(df, {"a": 1.0, "b": 2.0}).collect()


def test_blocklist_hits_matches_metachar_edged_terms(spark):
    from ai_batch_processing_spark.operators.curation import blocklist_hits

    df = spark.createDataFrame(
        [("what an a$$ move",), ("class a$$igned",)], "text string"
    )
    got = [r.n for r in df.select(blocklist_hits("text", ("a$$",)).alias("n")).collect()]
    # '$' edge gets no \b anchor (there is no boundary between '$' and space),
    # but the word-char LEADING edge still anchors: 'a$$' matches standalone
    # and as a prefix of 'a$$igned' (no trailing word-char to anchor against),
    # never inside 'cla$$'-style words on the left
    assert got[0] == 1 and got[1] >= 1


def test_blocklist_hits_empty_terms_raises(spark):
    import pytest

    from ai_batch_processing_spark.operators.curation import blocklist_hits

    # '()' would match the empty string at every position — every doc
    # silently flagged with length(text)+1 hits; fail fast instead
    with pytest.raises(ValueError, match="non-empty"):
        blocklist_hits("text", ())


def test_kappa_degenerate_agreement_yields_null(spark):
    from ai_batch_processing_spark.operators.curation import kappa_from_cells

    # both raters collapse to one class: po == pe == 1.0 → kappa undefined
    cells = spark.createDataFrame(
        [(10, 10, 0, 0, 0)], "n_docs long, n11 long, n10 long, n01 long, n00 long"
    )
    row = kappa_from_cells(cells).collect()[0]
    assert row.po == 1.0 and row.pe == 1.0 and row.kappa is None

    # non-degenerate cells still produce the textbook value
    cells2 = spark.createDataFrame(
        [(100, 40, 10, 20, 30)], "n_docs long, n11 long, n10 long, n01 long, n00 long"
    )
    row2 = kappa_from_cells(cells2).collect()[0]
    po, pe = 0.70, 0.5 * 0.6 + 0.4 * 0.5
    assert row2.po == round(po, 6) and row2.pe == round(pe, 6)
    assert row2.kappa == round((po - pe) / (1 - pe), 6)


def test_facility_location_greedy_matches_numpy_reference(spark):
    import numpy as np

    from ai_batch_processing_spark.operators.curation import facility_location_select

    rng = np.random.default_rng(13)
    x = rng.normal(size=(30, 6))
    rows = [(i, [float(v) for v in x[i]]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r.round, r.vec_id) for r in facility_location_select(emb, k=4).orderBy("round").collect()]

    # driver-side greedy reference on the same 6dp-rounded sims
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = np.round(xn @ xn.T, 6)
    cur = np.zeros(30)
    chosen = []
    for rnd in range(1, 5):
        best = None
        for c in range(30):
            if c in [i for _, i in chosen]:
                continue
            gain = round(float(np.maximum(sims[:, c], cur).sum() - cur.sum()), 6)
            if best is None or gain > best[1] or (gain == best[1] and c < best[0]):
                best = (c, gain)
        chosen.append((rnd, best[0]))
        cur = np.maximum(cur, sims[:, best[0]])
    assert got == chosen


def test_facility_location_first_pick_covers_most(spark):
    import numpy as np

    from ai_batch_processing_spark.operators.curation import facility_location_select

    # two tight clusters (sizes 8 and 3) plus an outlier: round 1 must pick
    # from the big cluster, round 2 from the small one (coverage, not score)
    rows = []
    for i in range(8):
        rows.append((i, [1.0, 0.001 * i, 0.0]))
    for i in range(3):
        rows.append((100 + i, [0.0, 1.0, 0.001 * i]))
    rows.append((999, [0.0, 0.0, 1.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [r.vec_id for r in facility_location_select(emb, k=2).orderBy("round").collect()]
    assert got[0] < 8 and 100 <= got[1] < 103

    import pytest

    with pytest.raises(ValueError, match="max_rows"):
        facility_location_select(emb, k=2, max_rows=5)


def test_rank_auc_textbook_values_and_degenerate_null(spark):
    from ai_batch_processing_spark.operators.curation import rank_auc

    # perfect separation → 1.0; perfect inversion → 0.0; ties → 0.5
    rows = [
        ("sep", 0.9, True), ("sep", 0.8, True), ("sep", 0.2, False), ("sep", 0.1, False),
        ("inv", 0.1, True), ("inv", 0.2, True), ("inv", 0.8, False), ("inv", 0.9, False),
        ("tie", 0.5, True), ("tie", 0.5, False), ("tie", 0.5, True), ("tie", 0.5, False),
        ("one", 0.3, True), ("one", 0.7, True),  # degenerate: no negatives
    ]
    df = spark.createDataFrame(rows, "source string, score double, y boolean")
    out = {r.source: r for r in rank_auc(df, "score", "y", by=["source"]).collect()}
    assert out["sep"].auc == 1.0
    assert out["inv"].auc == 0.0
    assert out["tie"].auc == 0.5  # tie-averaged ranks give exactly chance
    assert out["one"].auc is None and out["one"].n_neg == 0
    # hand-computed mixed case: scores 1,2,3,4 with y at ranks 2,4 →
    # auc = ((2+4) - 2*3/2) / (2*2) = 0.75
    df2 = spark.createDataFrame(
        [("m", 1.0, False), ("m", 2.0, True), ("m", 3.0, False), ("m", 4.0, True)],
        "source string, score double, y boolean",
    )
    assert rank_auc(df2, "score", "y", by=["source"]).collect()[0].auc == 0.75


def test_fleiss_kappa_textbook_properties(spark):
    from ai_batch_processing_spark.operators.curation import fleiss_kappa_cells

    # perfect agreement on a balanced corpus: every P_i = 1, Pe = 0.5 → kappa 1
    v = spark.createDataFrame([(1, 3), (2, 0), (3, 3), (4, 0)], "id long, n_pos int")
    row = fleiss_kappa_cells(v, 3).collect()[0]
    assert row.p_bar == 1.0 and row.kappa == 1.0

    # maximal disagreement (2-1 splits everywhere): P_i = 1/3 < Pe → kappa < 0
    v2 = spark.createDataFrame([(1, 2), (2, 1), (3, 2), (4, 1)], "id long, n_pos int")
    row2 = fleiss_kappa_cells(v2, 3).collect()[0]
    assert row2.p_bar == round(1 / 3, 6) and row2.kappa < 0

    # unanimity on ONE class: Pe = 1 → NULL (degenerate guard)
    v3 = spark.createDataFrame([(1, 3), (2, 3)], "id long, n_pos int")
    row3 = fleiss_kappa_cells(v3, 3).collect()[0]
    assert row3.p_e == 1.0 and row3.kappa is None


def test_perceptron_learns_separable_labels(spark):
    from ai_batch_processing_spark.operators.curation import (
        perceptron_train_hashed,
        _hashed_feature_counts,
    )
    from pyspark.sql import functions as F

    # perfectly separable: positive docs contain the token "good",
    # negative docs the token "bad" — the trained weight table must
    # classify the training set perfectly within a few epochs
    rows = []
    for i in range(20):
        word = "good" if i % 2 == 0 else "bad"
        rows.append((i, f"{word} filler{i % 5} text", 1 if i % 2 == 0 else -1))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")
    wt = perceptron_train_hashed(docs, "y", n_buckets=64, epochs=10)
    feats = _hashed_feature_counts(docs, "doc_id", "text", 64, "xxhash64", True)
    margins = (
        feats.join(F.broadcast(wt), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("w")).alias("m"))
    )
    got = {r.doc_id: r.m for r in margins.collect()}
    for i in range(20):
        if i % 2 == 0:
            assert got[i] > 0, f"doc {i} should be positive, margin {got[i]}"
        else:
            assert got[i] <= 0, f"doc {i} should be negative, margin {got[i]}"


def test_perceptron_weights_plug_into_linear_classifier(spark):
    from ai_batch_processing_spark.operators.curation import (
        perceptron_train_hashed,
        linear_text_classifier,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(0, "alpha beta", 1), (1, "gamma delta", -1), (2, "alpha gamma", 1)],
        "doc_id long, text string, y int",
    )
    wt = perceptron_train_hashed(docs, "y", n_buckets=32, epochs=3)
    # bias row (bucket -1) must be dropped for the inference-only API,
    # which scores the pure feature bag
    out = linear_text_classifier(
        docs, wt.filter(F.col("b") >= 0), n_buckets=32
    ).collect()
    assert len(out) == 3 and all(r.margin is not None for r in out)


def test_rendezvous_stability_adding_a_shard(spark):
    from ai_batch_processing_spark.operators.curation import rendezvous_assign

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a8 = {r.id: r.shard for r in rendezvous_assign(df, "doc_id", 8).collect()}
    a9 = {r.id: r.shard for r in rendezvous_assign(df, "doc_id", 9).collect()}
    moved = {i for i in a8 if a8[i] != a9[i]}
    # THE rendezvous property: every moved row moved TO the new shard,
    # and roughly 1/9 of rows moved (binomial around 222 of 2000)
    assert all(a9[i] == 8 for i in moved)
    assert 130 <= len(moved) <= 330
    # balance: each of the 8 original shards holds roughly 1/8
    from collections import Counter

    c = Counter(a8.values())
    assert set(c) == set(range(8))
    assert min(c.values()) > 150


def test_rendezvous_md5_and_xxhash_forms_both_assign(spark):
    from ai_batch_processing_spark.operators.curation import rendezvous_assign

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    for m in ("md5", "xxhash64"):
        got = rendezvous_assign(df, "doc_id", 4, method=m).collect()
        assert len(got) == 50 and all(0 <= r.shard < 4 for r in got)


def test_brier_decomposition_identity_and_perfect_bins(spark):
    """REL - RES + UNC must equal the reported brier; a bin whose
    observed rate equals its center forecast contributes zero REL."""
    from ai_batch_processing_spark.operators.curation import brier_decomposition

    # bin 9 center = 0.475: 40 rows, 19 pos -> o = 0.475 exactly
    bins = spark.createDataFrame(
        [(9, 40, 19), (0, 10, 0), (19, 10, 10)], "b long, cnt long, pos long"
    )
    out = brier_decomposition(bins, n_bins=20).collect()[0]
    assert out.n == 60
    assert abs(out.brier - (out.reliability - out.resolution + out.uncertainty)) < 1e-9
    # REL contributions: bin 9 zero; bin 0 (f=.025, o=0) and 19 (f=.975, o=1)
    expected_rel = round((round(10 * 0.025**2, 6) + round(10 * 0.025**2, 6)) / 60, 6)
    assert abs(out.reliability - expected_rel) < 1e-6


def test_k_anonymity_audit_counts(spark):
    """Known classes: sizes 1, 2, 12 under QI (g,) -> k=1, 3 rows below
    k=10 in classes {1,2}, share 3/15."""
    from ai_batch_processing_spark.operators.curation import k_anonymity_audit

    rows = spark.createDataFrame(
        [("a",)] * 1 + [("b",)] * 2 + [("c",)] * 12, "g string"
    )
    out = k_anonymity_audit(rows, ["g"], k=10).collect()[0]
    assert (out.n_rows, out.n_classes, out.k_anonymity) == (15, 3, 1)
    assert out.rows_below_k == 3
    assert out.share_below_k == 0.2


def test_psi_identical_and_shifted_distributions(spark):
    """A group distributed like the rest scores ~0; a group concentrated
    in a bucket the rest avoids scores strictly higher."""
    from ai_batch_processing_spark.operators.curation import population_stability

    same = [("g1", b) for b in [1, 2] * 50] + [("g2", b) for b in [1, 2] * 50]
    out = {
        r[0]: r.psi
        for r in population_stability(
            spark.createDataFrame(same, "g string, b long"), "g", "b"
        ).collect()
    }
    assert abs(out["g1"]) < 0.01 and abs(out["g2"]) < 0.01

    skew = [("g1", 1)] * 100 + [("g2", 2)] * 100
    out2 = {
        r[0]: r.psi
        for r in population_stability(
            spark.createDataFrame(skew, "g string, b long"), "g", "b"
        ).collect()
    }
    assert out2["g1"] > 0.25 and out2["g2"] > 0.25


def test_blocklist_census_counts_and_any(spark):
    """Phrase hit counts via the length identity, and the __any__ row
    counts DOCS (not phrase matches): doc 0 hits 'bad seed' twice and
    'worse' once -> any row n_docs=2, n_hits=4."""
    from ai_batch_processing_spark.operators.curation import blocklist_census

    docs = spark.createDataFrame(
        [
            (0, "a bad seed and a bad seed again worse"),
            (1, "clean text here"),
            (2, "worse still"),
        ],
        "doc_id long, text string",
    )
    rows = {r.phrase: r for r in blocklist_census(docs, ("bad seed", "worse")).collect()}
    assert rows["bad seed"].n_docs == 1 and rows["bad seed"].n_hits == 2
    assert rows["worse"].n_docs == 2 and rows["worse"].n_hits == 2
    assert rows["__any__"].n_docs == 2 and rows["__any__"].n_hits == 4


def test_neyman_gives_variable_stratum_more(spark):
    """Equal-size strata: the one with higher value variance gets the
    larger allocation; a constant stratum (sd 0) gets zero."""
    from ai_batch_processing_spark.operators.curation import neyman_allocation

    rows = (
        [("wild", v) for v in [1, 100, 1, 100, 1, 100]]
        + [("tame", v) for v in [50, 51, 50, 51, 50, 51]]
        + [("flat", 7)] * 6
    )
    feats = spark.createDataFrame(rows, "source string, v long")
    out = {r.stratum: r.alloc for r in neyman_allocation(feats, "source", "v", budget=100).collect()}
    assert out["wild"] > out["tame"] > out["flat"] == 0
    assert abs(sum(out.values()) - 100) <= 1  # rounding residue only


def test_decision_stump_separable_and_ties(spark):
    """Perfectly separable data: err 0 at the boundary value; the
    all-ones candidate (t = min-1) wins when every label is 1."""
    from ai_batch_processing_spark.operators.curation import decision_stump

    sep = spark.createDataFrame(
        [(v, 0) for v in [1, 2, 3]] + [(v, 1) for v in [10, 11, 12]], "v long, y long"
    )
    out = decision_stump(sep).collect()[0]
    assert out.err == 0 and out.acc == 1.0
    assert out.threshold == 3  # smallest zero-error threshold wins ties

    ones = spark.createDataFrame([(v, 1) for v in [5, 6, 7]], "v long, y long")
    out2 = decision_stump(ones).collect()[0]
    assert out2.threshold == 4 and out2.err == 0  # predict-all-1 candidate


def test_bayesian_average_shrinks_small_groups_more(spark):
    """A 2-row group at rate 1.0 must land closer to the global rate
    than a 200-row group at the same raw rate."""
    from ai_batch_processing_spark.operators.curation import bayesian_average_rates

    rows = (
        [("small", 1)] * 2
        + [("large", 1)] * 200
        + [("bg", 0)] * 200
    )
    df = spark.createDataFrame(rows, "source string, y long")
    out = {r.source: r for r in bayesian_average_rates(df, "source").collect()}
    assert out["small"].raw_rate == out["large"].raw_rate == 1.0
    assert out["small"].shrunk_rate < out["large"].shrunk_rate


def test_blocklist_census_quoted_phrase_oracle_safe(spark):
    """A blocklist phrase containing a single quote must work on the
    Spark side AND survive the oracle's VALUES-literal escaping
    (p.replace(\"'\", \"''\") — ADVICE r8)."""
    import duckdb

    from ai_batch_processing_spark.operators.curation import blocklist_census

    docs = spark.createDataFrame(
        [(1, "don't click here"), (2, "clean text"), (3, "DON'T click twice don't")],
        "doc_id long, text string",
    )
    out = {
        r.phrase: (r.n_docs, r.n_hits)
        for r in blocklist_census(docs, ("don't",)).collect()
    }
    assert out["don't"] == (2, 3)
    assert out["__any__"] == (2, 3)
    # the escaped VALUES literal parses and matches in DuckDB
    phrases = ("don't",)
    values = ", ".join("('" + p.replace("'", "''") + "')" for p in phrases)
    got = duckdb.connect().execute(
        f"WITH phrases(phrase) AS (VALUES {values}) SELECT phrase FROM phrases"
    ).fetchone()[0]
    assert got == "don't"


def test_luhn_audit_known_numbers(spark):
    """4111111111111111 is the canonical Luhn-valid test PAN;
    4111111111111112 fails; a 12-digit run is not a candidate; a
    20-digit run is a (single, invalid-length-excluded) maximal run."""
    from ai_batch_processing_spark.operators.curation import luhn_pii_audit

    df = spark.createDataFrame(
        [
            (1, "pay with 4111111111111111 now"),
            (2, "bad card 4111111111111112 here"),
            (3, "short 123456789012 run"),
            (4, "long 41111111111111110000 run"),
            (5, "two cards 4111111111111111 and 5500005555555559"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_candidates, r.n_luhn_valid) for r in luhn_pii_audit(df).collect()}
    assert out[1] == (1, 1)
    assert out[2] == (1, 0)
    assert 3 not in out  # 12 digits: below the candidate window
    assert 4 not in out  # 20 digits: one maximal run, too long
    assert out[5] == (2, 2)  # both canonical test PANs validate


def test_simpsons_audit_classic_flip(spark):
    """The textbook reversal: src A wins INSIDE both length bands yet
    loses pooled (its mass sits in the hard band) -> pooled_better=-1,
    bands_better=2, bands_worse=0, simpson_flag=1."""
    from ai_batch_processing_spark.operators.curation import simpsons_audit

    rows = []
    rid = 0

    def add(src, band_len, n, k):
        nonlocal rid
        for i in range(n):
            body = "a" * band_len if i < k else "1" * band_len
            rows.append((rid, src, body))
            rid += 1

    # band 0: length 50 (<200); band 1: length 250 (200..399)
    add("A", 50, 10, 9)    # A band0: 90%
    add("A", 250, 100, 10) # A band1: 10%
    add("B", 50, 100, 80)  # B band0: 80%
    add("B", 250, 10, 0)   # B band1: 0%
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in simpsons_audit(docs).collect()}
    a = out["A"]
    assert a.pooled_better == -1 and a.bands_better == 2 and a.bands_worse == 0
    assert a.simpson_flag == 1
    b = out["B"]
    assert b.pooled_better == 1 and b.bands_worse == 2 and b.simpson_flag == 1


def test_simpsons_audit_single_source_null_rest(spark):
    """A one-source corpus has no 'rest': rest_pass_ppm must be an
    explicit NULL (guarded division), pooled_better 0, no flag (r9
    ADVICE item)."""
    from ai_batch_processing_spark.operators.curation import simpsons_audit

    docs = spark.createDataFrame(
        [(0, "only", "a" * 50), (1, "only", "1" * 50)],
        "doc_id long, source string, text string",
    )
    row = simpsons_audit(docs).collect()[0]
    assert row.rest_pass_ppm is None
    assert row.pooled_better == 0 and row.simpson_flag == 0


def test_split_leakage_min_max_detects_multi_fold_clusters(spark):
    """Three copies of one text land in whatever folds md5 assigns their
    ids; the audit's min!=max rule must agree with a direct python
    recomputation of the same md5 buckets."""
    import hashlib

    from ai_batch_processing_spark.operators.curation import split_leakage_audit

    corpus = spark.createDataFrame(
        [(1, "dup text"), (2, "dup text"), (3, "dup text"), (4, "unique one")],
        "id long, text string",
    )
    row = split_leakage_audit(corpus).collect()[0]
    folds = {i: int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 5 for i in [1, 2, 3]}
    expect_leak = 1 if len(set(folds.values())) > 1 else 0
    assert row.n_clusters == 2 and row.n_multi_clusters == 1
    assert row.n_leaked_clusters == expect_leak
    assert row.n_leaked_docs == (3 * expect_leak)


def test_rank_blend_borda_order(spark):
    """doc 4 dominates both scores (rank 1+1=2) and wins; docs 1/2/3
    then tie at rank-sum 6 (2+4, 3+3, 4+2) and order by doc_id."""
    from ai_batch_processing_spark.operators.curation import rank_blend_top_docs

    scored = spark.createDataFrame(
        [(1, 0.9, 0.1), (2, 0.5, 0.5), (3, 0.1, 0.9), (4, 1.0, 1.0)],
        "doc_id long, s1 double, s2 double",
    )
    rows = rank_blend_top_docs(scored, ["s1", "s2"], top_k=4).collect()
    assert [r.doc_id for r in rows] == [4, 1, 2, 3]
    assert rows[0].rank_sum == 2 and {r.rank_sum for r in rows[1:]} == {6}


def test_krippendorff_alpha_perfect_agreement(spark):
    """Three raters, identical verdicts everywhere => alpha 1."""
    from ai_batch_processing_spark.operators.curation import krippendorff_alpha_binary

    rows = [(u, v) for u, v in [(1, 1), (2, 0), (3, 1)] for _ in range(3)]
    df = spark.createDataFrame(rows, "unit long, value int")
    r = krippendorff_alpha_binary(df).collect()[0]
    assert r.n_units == 3 and r.n_ratings == 9
    assert r.alpha == 1.0


def test_krippendorff_alpha_hand_computed_wikipedia_style(spark):
    """Binary example with missing data, computed by hand:
    units (ratings): u1 (1,1), u2 (1,0,1), u3 (0,0), u4 (1) [dropped].
    Pairable: n=7, n1=4, n0=3.
    D_o = u1: 0 + u2: 2*2*1/2 = 2 + u3: 0 => 2.
    alpha = 1 - D_o*(n-1)/(2*n1*n0) = 1 - 2*6/24 = 0.5."""
    from ai_batch_processing_spark.operators.curation import krippendorff_alpha_binary

    rows = [(1, 1), (1, 1), (2, 1), (2, 0), (2, 1), (3, 0), (3, 0), (4, 1)]
    df = spark.createDataFrame(rows, "unit long, value int")
    r = krippendorff_alpha_binary(df).collect()[0]
    assert r.n_units == 3 and r.n_ratings == 7 and r.n_ones == 4 and r.n_zeros == 3
    assert r.alpha == 0.5


def test_krippendorff_alpha_unanimous_null(spark):
    """All ratings identical: expected disagreement 0 -> explicit NULL."""
    from ai_batch_processing_spark.operators.curation import krippendorff_alpha_binary

    df = spark.createDataFrame([(1, 1), (1, 1), (2, 1), (2, 1)], "unit long, value int")
    assert krippendorff_alpha_binary(df).collect()[0].alpha is None


def test_grouped_prefix_sum_cross_batch_carry(spark):
    # Force multiple Arrow batches per partition so the kernel's tail
    # carry (the r10 rewrite that replaced the hidden
    # Exchange-hashpartitioning(_pid, group) window) is exercised across
    # batch boundaries, including a group that spans batches.
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [(i, f"s{i // 40}", (i * 13) % 17 + 1) for i in range(160)]
        df = spark.createDataFrame(rows, "id long, src string, v long").repartition(3)
        got = grouped_prefix_sum(df, ["src"], ["id"], "v", out_col="p")
        w = (
            Window.partitionBy("src")
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = df.withColumn("p", (F.sum("v").over(w) - F.col("v")).cast("long"))
        cols = ["id", "src", "v", "p"]
        assert sorted(map(tuple, got.select(cols).collect())) == sorted(
            map(tuple, want.select(cols).collect())
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_grouped_prefix_sum_no_second_data_exchange(spark):
    # r10 plan pin: the data-side cumsum must run on the range exchange's
    # own partitioning (Arrow kernel), not behind a second
    # hashpartitioning(_pid, group) ENSURE_REQUIREMENTS exchange. The only
    # hashpartitioning(_pid, ...) left is the tiny per-(partition, group)
    # totals aggregate (post-partial-agg, offsets-table-sized).
    # The cumsum frame is pinned by a local checkpoint inside
    # grouped_prefix_sum, so the kernel pins read that frame's own plan.
    df = spark.createDataFrame([(1, "a", 1), (2, "a", 2)], "id long, src string, v long")
    plan = _range_cumsum(df, ["src"], ["id"], "v")._jdf.queryExecution().toString()
    assert "MapInPandas" in plan
    assert plan.count("hashpartitioning(_pid") <= 1
    plan = grouped_prefix_sum(df, ["src"], ["id"], "v")._jdf.queryExecution().toString()
    assert plan.count("hashpartitioning(_pid") <= 1
