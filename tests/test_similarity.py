"""Similarity search: exact top-k math, LSH ANN recall, near-dup detection."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ai_batch_processing_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    embedding_near_dup_pairs,
)


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # close to 1
        (3, [0.0, 1.0, 0.0]),   # orthogonal to 1
        (4, [1.0, 0.01, 0.0]),  # closest to 1
        (5, [-1.0, 0.0, 0.0]),  # opposite
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_topk_ordering_and_scores(spark):
    df = _vecs(spark)
    out = cosine_topk(df, df.filter(F.col("vec_id") == 1), k=3).collect()
    assert [r.neighbor_id for r in out] == [4, 2, 3]
    expected = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert out[1].score == pytest.approx(expected, abs=1e-5)
    assert out[0].rank == 1 and out[2].rank == 3


def test_topk_excludes_self(spark):
    df = _vecs(spark)
    out = cosine_topk(df, df, k=4)
    assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    assert out.filter(F.col("query_id") == 1).count() == 4


def test_near_dup_pairs_threshold(spark):
    df = _vecs(spark).withColumnRenamed("vec_id", "id")
    pairs = {(r.id_a, r.id_b): r.score for r in embedding_near_dup_pairs(df, threshold=0.99, id_col="id").collect()}
    assert (1, 4) in pairs  # cos ≈ 0.99995
    assert (1, 3) not in pairs
    assert (1, 5) not in pairs


def test_lsh_near_dup_matches_bruteforce_on_perturbed_corpus(spark, sf_dir):
    """The corpus-linear LSH path must recover ≥95% of the brute-force
    pairs (it hits 100% here) with identical scores — on a corpus holding
    both exact duplicates and NEAR-duplicates (deterministically perturbed
    vectors, cosine just above/below the 0.99 threshold)."""
    from ai_batch_processing_spark.operators.similarity import embedding_near_dup_pairs_lsh
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    base = emb.filter(F.col("vec_id") < 400).select(F.col("vec_id").alias("id"), "embedding")
    # near-dups: deterministic small perturbation (embeddings are unit-norm;
    # 0.012·sin adds a ~0.068-norm offset → cosine ≈ 0.9977, just above the
    # threshold), exercising the LSH boundary rather than only identical
    # vectors
    near = (
        emb.filter((F.col("vec_id") < 400) & (F.col("vec_id") % 4 == 0))
        .select(
            (F.col("vec_id") + 100000).alias("id"),
            F.expr(
                "transform(embedding, (x, i) -> cast(x + 0.012 * sin(vec_id * 7 + i) as float))"
            ).alias("embedding"),
        )
    )
    corpus = base.unionAll(near)
    exact = {
        (r.id_a, r.id_b): r.score
        for r in embedding_near_dup_pairs(corpus, threshold=0.99, id_col="id").collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.score
        for r in embedding_near_dup_pairs_lsh(corpus, threshold=0.99, id_col="id").collect()
    }
    assert len(exact) >= 50  # the perturbation really produced near-dup pairs
    assert set(lsh) <= set(exact)  # precision 1.0 (exact rescore)
    assert len(set(lsh) & set(exact)) >= 0.95 * len(exact)  # recall pin
    for k in lsh:
        assert lsh[k] == exact[k]  # identical rescored values


def test_ann_lsh_recall_on_real_embeddings(spark, sf_dir):
    """LSH ANN must hit ≥60% of exact top-5 on the real embeddings table
    with 6 hyperplanes (recall measured; exactness is q45's job)."""
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in ann_lsh_topk(emb, queries, k=5).collect()}
    assert len(approx & exact) >= 0.6 * len(exact)


def test_ann_lsh_same_bucket_exact_copy(spark):
    # an exact copy always lands in the query's bucket and ranks first
    df = _vecs(spark)
    corpus = df.union(spark.createDataFrame([(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"))
    out = ann_lsh_topk(corpus, df.filter(F.col("vec_id") == 1), k=2, n_planes=3, n_tables=4, dim=3).collect()
    assert out[0].neighbor_id == 100
    assert out[0].score == pytest.approx(1.0, abs=1e-6)


def test_ann_ivf_recall_on_real_embeddings(spark, sf_dir):
    """IVF ANN with nprobe=4/nlist=16 (25% of cells) must hit ≥60% of the
    exact top-5 on the real embeddings table."""
    from ai_batch_processing_spark.operators.similarity import ann_ivf_topk
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in ann_ivf_topk(emb, queries, k=5, nlist=16, nprobe=4).collect()}
    assert len(exact & approx) / len(exact) >= 0.6


def test_ivf_centroids_deterministic(spark, sf_dir):
    from ai_batch_processing_spark.operators.similarity import kmeans_centroids
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    c1 = kmeans_centroids(emb, nlist=4, n_iter=2)
    c2 = kmeans_centroids(emb, nlist=4, n_iter=2)
    assert c1 == c2


def test_semantic_dedup_clusters_planted_duplicates(spark):
    from ai_batch_processing_spark.operators.similarity import semantic_dedup_clusters

    # two exact-duplicate groups (1,2) and (3,4,5) plus a singleton 6
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 1.0, 0.0, 0.0]),
        (6, [0.0, 0.0, 1.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "id long, embedding array<float>")
    out = {r.keep_id: r.cluster_size for r in semantic_dedup_clusters(emb).collect()}
    assert out == {1: 2, 3: 3, 6: 1}


def test_ivf_probe_query_cardinality_guard(spark, sf_dir):
    """The IVF probe broadcasts the query side — right for bounded query
    batches, wrong for corpus-sized query sets (all-vs-all). The guard must
    fail fast past max_query_rows; max_query_rows=None must run without the
    broadcast (AQE-planned shuffle join) and return identical results."""
    from ai_batch_processing_spark.operators.similarity import ann_ivf_topk
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    with pytest.raises(ValueError, match="max_query_rows"):
        ann_ivf_topk(emb, emb, k=3, nlist=4, nprobe=2, max_query_rows=50).collect()
    queries = emb.filter(F.col("vec_id") < 4)
    bounded = ann_ivf_topk(emb, queries, k=3, nlist=4, nprobe=4).orderBy("query_id", "rank")
    unbounded = ann_ivf_topk(
        emb, queries, k=3, nlist=4, nprobe=4, max_query_rows=None
    ).orderBy("query_id", "rank")
    assert [tuple(r) for r in bounded.collect()] == [tuple(r) for r in unbounded.collect()]


def test_lsh_multiprobe_raises_recall(spark, sf_dir):
    """Partial-radius multi-probe must be a recall knob: probing hamming-1
    neighbors of the query bucket finds a superset of the candidates found
    at radius 0, so per-query top-k scores can only improve or tie."""
    from ai_batch_processing_spark.operators.similarity import ann_lsh_topk, cosine_topk
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }

    def recall(probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ann_lsh_topk(
                emb, queries, k=5, n_planes=4, n_tables=4, probe_hamming=probe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0
    assert r1 >= 0.6


def test_hard_negatives_never_share_anchor_label(spark, sf_dir):
    from ai_batch_processing_spark.operators.similarity import hard_negative_topk
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    anchors = emb.filter(F.col("vec_id") < 8)
    out = hard_negative_topk(emb, anchors, k=5)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in out.collect():
        assert labels[r.anchor_id] != labels[r.negative_id]
        assert 1 <= r.rank <= 5


def test_hard_negative_topk_anchor_cardinality_guard(spark, sf_dir):
    """The broadcast-anchors plan must fail fast on corpus-sized anchor
    sets (mirrors _probe_join's max_query_rows contract), and still run
    unhinted when the caller opts out with max_anchor_rows=None."""
    from ai_batch_processing_spark.operators.similarity import hard_negative_topk
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    with pytest.raises(ValueError, match="max_anchor_rows"):
        hard_negative_topk(emb, emb, k=3, max_anchor_rows=10)
    anchors = emb.filter(F.col("vec_id") < 4)
    guarded = hard_negative_topk(emb, anchors, k=3).orderBy("anchor_id", "rank").collect()
    unhinted = (
        hard_negative_topk(emb, anchors, k=3, max_anchor_rows=None)
        .orderBy("anchor_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in guarded] == [tuple(r) for r in unhinted]


# ---------------------------------------------------------------------------
# SQ8 quantized search
# ---------------------------------------------------------------------------
def test_sq8_quantization_recall_vs_exact_float(spark, sf_dir):
    """Quantization recall: the int8 ranking must recover >= 0.9 of the
    exact float top-5 sets over a real query batch (the only information
    loss is the 8-bit rounding — every vector is still scanned)."""
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.similarity import cosine_topk, cosine_topk_sq8
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 64)
    exact = cosine_topk(emb, queries, k=5)
    quant = cosine_topk_sq8(emb, queries, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    s = {(r.query_id, r.neighbor_id) for r in quant.collect()}
    recall = len(e & s) / len(e)
    assert recall >= 0.9, f"sq8 recall {recall:.3f}"


def test_sq8_quantize_bounds_and_zero_vector(spark):
    """Quantized components stay in [-127, 127]; the max-|v| component maps
    to exactly ±127; an all-zero vector quantizes to all zeros (and is
    excluded from search, where its cosine would be undefined)."""
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.similarity import cosine_topk_sq8, sq8_quantize

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [2.0, 1.0, -0.5])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.id: r.qv for r in sq8_quantize(df).collect()}
    assert rows[1] == [64, -127, 32]   # round(0.5/(1/127)) = 63.5 -> 64
    assert rows[2] == [0, 0, 0]
    assert rows[3] == [127, 64, -32]
    out = cosine_topk_sq8(df, df, k=2)
    ids = {r.query_id for r in out.collect()} | {r.neighbor_id for r in out.collect()}
    assert 2 not in ids  # zero vector excluded from both sides


def test_ivf_sq8_exhaustive_equals_bruteforce_sq8(spark, sf_dir):
    """nprobe = nlist → cell pruning contributes nothing: the composed
    IVF-SQ8 ranking must equal the brute-force quantized ranking exactly
    (the q161 oracle argument, pinned engine-side)."""
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.similarity import (
        ann_ivf_topk_sq8,
        cosine_topk_sq8,
    )
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 16)
    a = {tuple(r) for r in ann_ivf_topk_sq8(emb, queries, k=5, nlist=8, nprobe=8).collect()}
    b = {tuple(r) for r in cosine_topk_sq8(emb, queries, k=5).collect()}
    assert a == b


def test_ivf_sq8_partial_probe_recall(spark, sf_dir):
    """At nprobe < nlist the composed form loses only what cell pruning
    loses — recall vs the exhaustive quantized ranking must match the
    float IVF's published behavior (>= 0.5 at nprobe=nlist/4 on random
    embeddings, the documented IVF worst case)."""
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.similarity import (
        ann_ivf_topk_sq8,
        cosine_topk_sq8,
    )
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 32)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk_sq8(emb, queries, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk_sq8(emb, queries, k=5, nlist=16, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"ivf-sq8 recall {recall:.3f}"


def test_sq8_np_matches_catalyst_quantization(spark, sf_dir):
    """The in-kernel numpy quantizer (_sq8_np, HALF_UP with the boundary
    correction) must be value-identical to the Catalyst _sq8_expr it
    replaced on the hot path — over the FULL embeddings table, plus
    adversarial rounding-boundary vectors (.5 ties, negatives, the
    largest-double-below-.5 pathological case, zero vectors)."""
    import numpy as np
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.similarity import _sq8_np, sq8_quantize
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    cat = {r.id: list(r.qv) for r in sq8_quantize(emb).collect()}
    raw = np.array([np.asarray(list(r.embedding), dtype=np.float64) for r in rows])
    got = _sq8_np(raw)
    for i, r in enumerate(rows):
        assert list(got[i]) == cat[r.vec_id], f"vec_id {r.vec_id} diverges"

    adversarial = [
        [2.5, -2.5, 127.0, 0.49999999999999994 * 127.0 / 127.0],
        [1.5, -1.5, -127.0, 63.5],
        [0.0, 0.0, 0.0, 0.0],
        [1e-12, -1e-12, 5e-13, 1.0],
        # denormal-only: amax/127 underflows to exactly 0 (the guard case)
        [5e-324, -5e-324, 0.0, 5e-324],
        # denormal scale that is still > 0
        [1e-320, -1e-320, 5e-321, 0.0],
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(adversarial)],
        "vec_id long, embedding array<double>",
    )
    cat2 = {r.id: list(r.qv) for r in sq8_quantize(df).collect()}
    got2 = _sq8_np(np.array(adversarial, dtype=np.float64))
    for i in range(len(adversarial)):
        assert list(got2[i]) == cat2[i], f"adversarial row {i} diverges"


def test_ivf_sq8_cogrouped_none_path_equals_bruteforce(spark, sf_dir):
    """ADVICE r4: max_query_rows=None must route to a corpus-sized
    (cell-cogrouped) kernel, not TypeError. At nprobe=nlist the None path
    must equal the exhaustive quantized ranking exactly."""
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.similarity import (
        ann_ivf_topk_sq8,
        cosine_topk_sq8,
    )
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 16)
    a = {
        tuple(r)
        for r in ann_ivf_topk_sq8(
            emb, queries, k=5, nlist=8, nprobe=8, max_query_rows=None
        ).collect()
    }
    b = {tuple(r) for r in cosine_topk_sq8(emb, queries, k=5).collect()}
    assert a == b


def test_cosine_topk_sq8_query_cardinality_guard(spark, sf_dir):
    """The exhaustive quantized scan collects queries to the driver; a
    corpus-sized query frame must fail fast (same contract as
    _probe_join / hard_negative_topk), and None opts out."""
    import pytest
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.similarity import cosine_topk_sq8
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk_sq8(emb, emb, k=2, max_query_rows=10)
    small = emb.filter(F.col("vec_id") < 4)
    assert cosine_topk_sq8(emb, small, k=2, max_query_rows=None).count() == 8


def test_random_projection_preserves_neighbors(spark, sf_dir):
    """JL property on real data: top-5 cosine neighbors computed in the
    16-dim projected space must recall a solid majority of the exact
    64-dim neighbors (random projections approximately preserve angles),
    and the projection must be deterministic across runs."""
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.operators.similarity import cosine_topk, random_projection
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    proj = random_projection(emb, out_dim=16).withColumnRenamed("id", "vec_id")
    a = {(r.vec_id, tuple(r.embedding)) for r in proj.filter(F.col("vec_id") < 5).collect()}
    b = {
        (r.vec_id, tuple(r.embedding))
        for r in random_projection(emb, out_dim=16)
        .withColumnRenamed("id", "vec_id")
        .filter(F.col("vec_id") < 5)
        .collect()
    }
    # determinism of the seeded planes (same rows -> same projections)
    assert a == b

    # The JL guarantee preserves STRUCTURE, not noise: on i.i.d. random
    # vectors every pairwise cosine is ~N(0, 1/64) and a 16-dim projection
    # re-randomizes the meaningless top-k order (measured recall ~0.09 —
    # that is the corpus, not the operator). What a projection must keep
    # is high-similarity structure: planted near-duplicates (cosine ~0.999)
    # must still find their source as the top-1 neighbor after 64->16.
    from ai_batch_processing_spark.operators.graph import replicate_perturbed

    base = emb.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    corpus = replicate_perturbed(base, replicas=2, scale=0.02, perturb="rational")
    pcorpus = random_projection(corpus, out_dim=16).withColumnRenamed("id", "vec_id")
    clones = pcorpus.filter(F.col("vec_id") >= 1_000_000)
    top1 = cosine_topk(pcorpus, clones, k=1).collect()
    hits = sum(1 for r in top1 if r.neighbor_id == r.query_id - 1_000_000)
    assert hits / len(top1) >= 0.9, f"clone top-1 recall {hits}/{len(top1)}"


# --- bucket-balanced sampling ------------------------------------------------


def test_bucket_balanced_sample_caps_every_bucket(spark):
    from ai_batch_processing_spark.operators.similarity import bucket_balanced_sample

    rows = [(i, [float(i % 7) + 0.1, -1.0 + 0.01 * i, 0.5, -0.25]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = bucket_balanced_sample(df, k=5, n_planes=4, dim=4, seed=23)
    per_bucket = out.groupBy("bucket").count().collect()
    assert all(r["count"] <= 5 for r in per_bucket)
    assert out.count() == sum(min(5, r["count"]) for r in per_bucket)
    assert out.filter(F.col("rnk") > 5).count() == 0


def test_bucket_balanced_sample_repartition_stable(spark):
    from ai_batch_processing_spark.operators.similarity import bucket_balanced_sample

    rows = [(i, [float((i * 13) % 11) - 5.0, 1.0, -2.0, 0.125]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, bucket_balanced_sample(df, k=3, n_planes=4, dim=4).collect()))
    b = sorted(
        map(
            tuple,
            bucket_balanced_sample(df.repartition(13), k=3, n_planes=4, dim=4).collect(),
        )
    )
    assert a == b


def test_bucket_balanced_sample_separates_opposite_vectors(spark):
    from ai_batch_processing_spark.operators.similarity import bucket_balanced_sample

    v = [1.0, 2.0, -0.5, 3.0]
    rows = [(1, v), (2, v), (3, [-x for x in v])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.id: r.bucket for r in bucket_balanced_sample(df, k=10, n_planes=4, dim=4).collect()}
    assert out[1] == out[2]  # identical vectors share a region
    assert out[1] != out[3]  # antipodal vectors cannot share all sign bits


# --- product quantization ----------------------------------------------------


def _normed_emb(spark, sf="/root/testdata/sf0.001"):
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf, ["embeddings"])["embeddings"]
    return emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> x / sqrt(aggregate(embedding, 0.0d,"
            " (a, v) -> a + double(v) * double(v))))"
        ).alias("embedding"),
    )


def _trained_codebooks(X, m, n_codes, n_iter):
    """Float PQ codebooks for the ``quantize="none"`` ADC path: Lloyd's
    k-means per subspace in numpy, seeded with the first ``n_codes`` rows
    (empty cells keep their codeword)."""
    import numpy as np

    from ai_batch_processing_spark.operators.similarity import _pq_assign_np

    ds = X.shape[1] // m
    cb = np.array([[X[j, s * ds : (s + 1) * ds] for j in range(n_codes)] for s in range(m)])
    for _ in range(n_iter):
        codes = _pq_assign_np(X, cb)
        for s in range(m):
            for c in range(n_codes):
                sel = X[codes[:, s] == c, s * ds : (s + 1) * ds]
                if len(sel):
                    cb[s, c] = sel.mean(axis=0)
    return cb.tolist()


def test_pq_adc_recall_vs_bruteforce(spark):
    import numpy as np

    from ai_batch_processing_spark.operators.similarity import pq_adc_topk

    df = _normed_emb(spark).persist()
    rows = sorted(df.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.array([list(r.embedding) for r in rows])
    cb = _trained_codebooks(X, m=16, n_codes=64, n_iter=3)
    qs = df.filter("vec_id < 20")
    pq = pq_adc_topk(df, qs, cb, k=10).collect()
    rec = []
    for qid in range(20):
        q = X[ids == qid][0]
        s = X @ q
        s[ids == qid] = -9e9
        exact = set(ids[np.lexsort((ids, -s))[:10]])
        got = {r.neighbor_id for r in pq if r.query_id == qid}
        rec.append(len(exact & got) / 10)
    # measured 0.61 at this config on the sf0.001 corpus; generous margin
    assert np.mean(rec) >= 0.45
    df.unpersist()


def test_pq_adc_topk_query_guard(spark):
    import pytest

    from ai_batch_processing_spark.operators.similarity import (
        pq_adc_topk,
        seeded_int_codebooks,
    )

    df = _normed_emb(spark)
    cb = seeded_int_codebooks(64, 8, 16)
    with pytest.raises(ValueError, match="max_query_rows"):
        pq_adc_topk(df, df, cb, k=3, max_query_rows=10)


def test_ivf_pq_pruned_recall_vs_exhaustive(spark):
    import numpy as np

    from ai_batch_processing_spark.operators.similarity import ann_ivf_pq_topk, pq_adc_topk

    df = _normed_emb(spark).persist()
    X = np.array([list(r.embedding) for r in sorted(df.collect(), key=lambda r: r.vec_id)])
    cb = _trained_codebooks(X, m=16, n_codes=16, n_iter=2)
    qs = df.filter("vec_id < 10")
    exact = pq_adc_topk(df, qs, cb, k=5).collect()
    pruned = ann_ivf_pq_topk(df, qs, cb, k=5, nlist=8, nprobe=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    pruned_set = {(r.query_id, r.neighbor_id) for r in pruned}
    # cell pruning at nprobe=nlist/2 must retain most of the PQ ranking
    assert len(exact_set & pruned_set) / len(exact_set) >= 0.5
    # and full probing must reproduce it exactly
    full = ann_ivf_pq_topk(df, qs, cb, k=5, nlist=8, nprobe=8).collect()
    assert {(r.query_id, r.neighbor_id, r.score, r.rank) for r in full} == {
        (r.query_id, r.neighbor_id, r.score, r.rank) for r in exact
    }
    df.unpersist()


def test_ivf_pq_rejects_unbounded_queries(spark):
    import pytest

    from ai_batch_processing_spark.operators.similarity import (
        ann_ivf_pq_topk,
        seeded_int_codebooks,
    )

    df = _normed_emb(spark)
    cb = seeded_int_codebooks(64, 8, 16)
    with pytest.raises(ValueError, match="bounded query batches"):
        ann_ivf_pq_topk(df, df, cb, max_query_rows=None)


def test_source_region_coverage_narrow_vs_spread(spark):
    from ai_batch_processing_spark.operators.similarity import source_region_coverage

    # source 'narrow': clones of one vector -> exactly 1 region;
    # source 'spread': orthogonal-ish vectors -> several regions
    docs = spark.createDataFrame(
        [(i, "narrow" if i < 10 else "spread") for i in range(20)],
        "doc_id long, source string",
    )
    base = [1.0, -2.0, 0.5, 3.0]
    vecs = [(i, base) for i in range(10)] + [
        (10 + j, [(1.0 if d == j % 4 else -0.1) * (1 + j) for d in range(4)])
        for j in range(10)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {
        r.source: r
        for r in source_region_coverage(docs, emb, n_planes=4, dim=4).collect()
    }
    assert out["narrow"].n_regions == 1
    assert out["spread"].n_regions > 1
    assert out["spread"].coverage > out["narrow"].coverage
    assert out["narrow"].n_vecs == 10 and out["spread"].n_vecs == 10


def test_embedding_consistency_audit_flags_mismatched_twins(spark):
    from ai_batch_processing_spark.operators.similarity import (
        embedding_consistency_audit,
    )

    docs = spark.createDataFrame(
        [
            (1, "same content here"),
            (2, "same content here"),  # twin of 1
            (3, "same content here"),  # twin with a CONSISTENT embedding
            (4, "something else"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),  # disagrees with 1 -> flagged
            (3, [1.0, 0.0, 0.0]),  # identical to 1 -> clean
            (4, [0.5, 0.5, 0.5]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {(r.id_a, r.id_b): r.cosine for r in embedding_consistency_audit(docs, emb).collect()}
    assert set(out) == {(1, 2), (2, 3)}  # every pair involving the bad row
    assert all(c < 0.99 for c in out.values())


# ---------------------------------------------------------------------------
# Per-dimension embedding stats (dimension_stats / q210)
# ---------------------------------------------------------------------------


def test_dimension_stats_flags_planted_outlier_and_stuck_dim(spark):
    from ai_batch_processing_spark.operators.similarity import dimension_stats

    # dim 0: tight cluster + one wild value → ≥1 outlier
    # dim 1: constant (stuck feature) → std 0, zero outliers by contract
    rows = [(i, [0.001 * i, 5.0]) for i in range(50)] + [(99, [1000.0, 5.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.dim: r for r in dimension_stats(emb).collect()}
    assert out[0].n == 51 and out[0].n_outliers >= 1
    assert out[1].std == 0.0 and out[1].n_outliers == 0
    assert out[1].mean == 5.0


def test_dimension_stats_partitioning_invariant(spark, sf_dir):
    from ai_batch_processing_spark.operators.similarity import dimension_stats
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    a = {(r.dim, r.n, r.n_outliers) for r in dimension_stats(emb).collect()}
    b = {
        (r.dim, r.n, r.n_outliers)
        for r in dimension_stats(emb.repartition(13)).collect()
    }
    # counts and the rounded-stat census are partitioning-invariant
    assert a == b


# ---------------------------------------------------------------------------
# Source centroids + centroid cosine matrix (q215)
# ---------------------------------------------------------------------------


def test_source_centroids_and_similarity_matrix(spark):
    from ai_batch_processing_spark.operators.similarity import (
        centroid_similarity_matrix,
        source_centroids,
    )

    docs = spark.createDataFrame(
        [(0, "x"), (1, "x"), (2, "y"), (3, "z")], ["doc_id", "source"]
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]), (1, [3.0, 0.0]),   # x centroid (2, 0)
            (2, [0.0, 5.0]),                     # y centroid (0, 5)
            (3, [2.0, 2.0]),                     # z centroid (2, 2)
        ],
        ["vec_id", "embedding"],
    )
    cent = {(r.grp, r.dim): r.c for r in source_centroids(docs, emb, "source").collect()}
    assert cent[("x", 0)] == 2.0 and cent[("x", 1)] == 0.0
    assert cent[("y", 1)] == 5.0
    sim = {
        (r.grp_a, r.grp_b): r.cosine
        for r in centroid_similarity_matrix(source_centroids(docs, emb, "source")).collect()
    }
    assert sim[("x", "y")] == 0.0          # orthogonal
    assert sim[("x", "z")] == round(2 * 2 / (2.0 * (8 ** 0.5)), 6)
    assert sim[("y", "z")] == sim[("x", "z")]
    assert set(sim) == {("x", "y"), ("x", "z"), ("y", "z")}  # a < b only


# ---------------------------------------------------------------------------
# SQL-portable k-means mode (q218)
# ---------------------------------------------------------------------------


def test_kmeans_portable_mode_deterministic_and_seeded_by_lowest_ids(spark):
    from ai_batch_processing_spark.operators.similarity import kmeans_centroids

    rows = [(i, [float((i * 7) % 5), float((i * 3) % 4), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1 = kmeans_centroids(emb, nlist=4, n_iter=2, init="first", round_dp=6)
    c2 = kmeans_centroids(emb.repartition(7), nlist=4, n_iter=2, init="first", round_dp=6)
    assert c1 == c2  # partition-layout invariant
    # every component rounded to 6dp
    assert all(round(x, 6) == x for c in c1 for x in c)
    import pytest as _pt

    with _pt.raises(ValueError, match="init"):
        kmeans_centroids(emb, nlist=4, init="pp")


def test_kmeans_default_mode_unchanged_by_new_params(spark):
    """IVF/PQ callers rely on the historical hash-init exact path — the new
    keyword defaults must reproduce it bit-for-bit."""
    from ai_batch_processing_spark.operators.similarity import kmeans_centroids

    rows = [(i, [float(i % 3), float(i % 5)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = kmeans_centroids(emb, nlist=3, n_iter=2)
    b = kmeans_centroids(emb, nlist=3, n_iter=2, init="hash", round_dp=None)
    assert a == b


# ---------------------------------------------------------------------------
# Retrieval eval + k-NN label classifier (q219/q221)
# ---------------------------------------------------------------------------


def test_retrieval_eval_hand_computed(spark):
    import math

    from ai_batch_processing_spark.operators.similarity import retrieval_eval

    # query 1: relevant at ranks 1 and 3 (of k=3); corpus has 3 rows of
    # label 7 (n_rel = 2 excluding the query) -> recall = 1.0
    run = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 10, 1), (2, 12, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    labels = spark.createDataFrame(
        [(1, 7), (10, 7), (11, 3), (12, 7), (2, 3)],
        "id long, label int",
    )
    out = {r.query_id: r for r in retrieval_eval(run, labels, k=3).collect()}
    r1 = out[1]
    assert r1.label == 7 and r1.n_rel == 2 and r1.hits == 2
    assert r1.precision == round(2 / 3, 6)
    assert r1.recall == 1.0
    assert r1.rr == 1.0
    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3)  # truncated at n_rel=2
    assert r1.ndcg == round(dcg / idcg, 6)
    # query 2: single relevant (label 3) at rank... neighbor 11 not retrieved,
    # retrieved neighbors are labels 7,7 -> zero hits, all metrics 0
    r2 = out[2]
    assert r2.hits == 0 and r2.rr == 0.0 and r2.ndcg == 0.0 and r2.recall == 0.0


def test_knn_label_predict_majority_and_tiebreak(spark):
    from ai_batch_processing_spark.operators.similarity import knn_label_predict

    run = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4)],
        "query_id long, neighbor_id long, rank int",
    )
    # two votes for label 5, two for label 2 -> tie, smallest label wins
    labels = spark.createDataFrame(
        [(1, 5), (10, 5), (11, 2), (12, 5), (13, 2)], "id long, label int"
    )
    rows = knn_label_predict(run, labels).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.pred_label == 2 and r.votes == 2 and r.true_label == 5 and r.correct == 0


def test_ivf_recall_eval_full_probe_is_recall_one(spark):
    from ai_batch_processing_spark.operators.similarity import ivf_recall_eval

    rows = [(i, [float((i * 7 + j) % 9) for j in range(6)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = ivf_recall_eval(emb, n_queries=8, nlist=4, n_iter=1, nprobe=4, k=3).collect()
    assert len(full) == 8
    assert all(r.recall == 1.0 and r.hits == 3 for r in full)
    # a strict subset of probes can only lose candidates
    part = {
        r.query_id: r.hits
        for r in ivf_recall_eval(emb, n_queries=8, nlist=4, n_iter=1, nprobe=1, k=3).collect()
    }
    assert all(part[r.query_id] <= r.hits for r in full)


def test_kmeans_portable_keeps_emptied_cell_centroid_unrounded(spark):
    from ai_batch_processing_spark.operators.similarity import kmeans_centroids

    third = 1.0 / 3.0
    # seeds = ids 0,1,2. id 2's direction duplicates id 0's, so with
    # first-max tiebreaking cell 2 attracts no members and must KEEP its
    # exact (unrounded) seed vector — the oracle's COALESCE semantics.
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [third, 0.0]),
        (3, [1.0, 0.1]),
        (4, [0.1, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_centroids(emb, nlist=3, n_iter=1, init="first", round_dp=6)
    f32_third = float(__import__("numpy").float32(third))
    assert cents[2] == [f32_third, 0.0]  # exact kept value, NOT round(.,6)
    # updated cells ARE rounded
    assert all(round(x, 6) == x for c in (cents[0], cents[1]) for x in c)


def test_round_half_up_matches_engine_tie_convention(spark):
    import numpy as np

    from ai_batch_processing_spark.operators.similarity import _round_half_up

    # exact .5 ties at 6dp: away from zero (Spark F.round / DuckDB ROUND),
    # NOT banker's (np.round would give 0.0 for both)
    assert float(_round_half_up(0.0000005, 6)) == 0.000001
    assert float(_round_half_up(-0.0000005, 6)) == -0.000001
    assert float(np.round(0.0000005, 6)) == 0.0  # the divergence being fixed
    # ties at integer scale and agreement with F.round on a value sweep
    assert float(_round_half_up(2.5, 0)) == 3.0
    assert float(_round_half_up(-2.5, 0)) == -3.0
    from pyspark.sql import functions as F

    # agreement sweep away from .5e-6 boundaries (boundary-repr values are
    # the one documented divergence class vs F.round's shortest-decimal
    # path and are absent by construction in the verify mode)
    vals = [i / 7.0 for i in range(-50, 50)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    spark_rounded = [r.r for r in df.select(F.round("x", 6).alias("r")).collect()]
    ours = [float(_round_half_up(v, 6)) for v in vals]
    assert ours == spark_rounded


# ---------------------------------------------------------------------------
# Margin-criterion pair mining (q232)
# ---------------------------------------------------------------------------


def test_margin_best_pairs_hubness_normalization(spark):
    from ai_batch_processing_spark.operators.similarity import margin_best_pairs

    # a: two probes. b: a "hub" close to everything (high neighborhood
    # mean) and a specific partner. Raw cosine prefers the hub for BOTH
    # probes; the margin criterion routes probe 0 to its true partner.
    rows_a = [(0, [1.0, 0.05, 0.0]), (1, [0.0, 1.0, 0.0])]
    rows_b = [
        (10, [0.6, 0.75, 0.0]),  # hub-ish: decent cosine to both probes
        (11, [1.0, 0.0, 0.05]),  # probe 0's true partner
        (12, [0.05, 1.0, 0.0]),  # probe 1's true partner
        (13, [0.55, 0.70, 0.1]),  # second hub neighbor (pumps hub means)
    ]
    a = spark.createDataFrame(rows_a, "vec_id long, embedding array<double>")
    b = spark.createDataFrame(rows_b, "vec_id long, embedding array<double>")
    out = {r.id_a: r for r in margin_best_pairs(a, b, k=2).collect()}
    assert out[0].id_b == 11  # margin picks the partner, not the hub
    assert out[1].id_b == 12
    # scores carry both raw cosine and the normalized margin
    assert out[0].margin is not None and out[0].cosine is not None


def test_margin_best_pairs_partition_invariant(spark):
    from ai_batch_processing_spark.operators.similarity import margin_best_pairs

    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = emb.filter("vec_id < 8")
    b = emb.filter("vec_id >= 8")
    r1 = {(r.id_a, r.id_b, r.margin) for r in margin_best_pairs(a, b, k=3).collect()}
    r2 = {
        (r.id_a, r.id_b, r.margin)
        for r in margin_best_pairs(a.repartition(5), b.repartition(7), k=3).collect()
    }
    assert r1 == r2


def test_simplified_silhouette_separated_clusters(spark):
    """Points sitting exactly on well-separated centroids: cohesion
    distance 0 -> s = 1 for every point; pooled row aggregates all."""
    from ai_batch_processing_spark.operators.similarity import simplified_silhouette

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = {r.cell: r for r in simplified_silhouette(emb, cents).collect()}
    assert rows[0].n_members == 2 and rows[1].n_members == 1
    assert rows[0].mean_sil == 1.0 and rows[1].mean_sil == 1.0
    assert rows[-1].n_members == 3 and rows[-1].mean_sil == 1.0


def test_simplified_silhouette_duplicate_centroids_zero(spark):
    """Duplicate centroids make best and second-best sims equal (s2=1
    for an on-centroid point): the degenerate guard yields s=0."""
    from ai_batch_processing_spark.operators.similarity import simplified_silhouette

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    rows = simplified_silhouette(emb, [[1.0, 0.0], [1.0, 0.0]]).collect()
    assert all(r.mean_sil == 0.0 for r in rows)


def test_embedding_dispersion_hand_computed(spark):
    """Two orthogonal unit vectors in one group: E||x||^2 = 1, centroid
    (.5,.5) => ||mean||^2 = 0.5, dispersion = 2*(1-0.5) = 1.0 — which is
    also the direct average of ||x-y||^2 over ordered pairs with
    replacement: (0 + 2 + 2 + 0)/4 = 1."""
    from ai_batch_processing_spark.operators.similarity import embedding_dispersion

    docs = spark.createDataFrame([(0, "a"), (1, "a")], "doc_id long, source string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    r = embedding_dispersion(docs, emb).collect()[0]
    assert r.n_vecs == 2
    assert r.mean_sq_norm == 1.0
    assert r.centroid_sq_norm == 0.5
    assert r.dispersion == 1.0


def test_embedding_dispersion_collapsed_group_zero(spark):
    """All vectors identical (a collapsed embedder): dispersion must be
    exactly 0 while mean_sq_norm stays at the vector's norm."""
    from ai_batch_processing_spark.operators.similarity import embedding_dispersion

    docs = spark.createDataFrame([(i, "s") for i in range(4)], "doc_id long, source string")
    emb = spark.createDataFrame(
        [(i, [3.0, 4.0]) for i in range(4)], "vec_id long, embedding array<double>"
    )
    r = embedding_dispersion(docs, emb).collect()[0]
    assert r.mean_sq_norm == 25.0 and r.dispersion == 0.0


def test_diag_frechet_identical_and_shifted(spark):
    """Identical distributions => frechet 0; a pure mean shift of +2 in
    one of two dims with equal spreads => mean_dist_sq 4, std_dist_sq 0."""
    from ai_batch_processing_spark.operators.similarity import diag_frechet_matrix

    docs = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "b"), (3, "b"), (4, "c"), (5, "c")],
        "doc_id long, source string",
    )
    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0]), (1, [1.0, 0.0]),          # a: dim0 in {0,1}
            (2, [0.0, 0.0]), (3, [1.0, 0.0]),          # b: identical to a
            (4, [2.0, 0.0]), (5, [3.0, 0.0]),          # c: a shifted +2 in dim0
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {(r.grp_a, r.grp_b): r for r in diag_frechet_matrix(docs, emb).collect()}
    assert rows[("a", "b")].frechet == 0.0
    assert rows[("a", "c")].mean_dist_sq == 4.0
    assert rows[("a", "c")].std_dist_sq == 0.0
    assert rows[("a", "c")].frechet == 4.0
    assert rows[("b", "c")].frechet == 4.0


def test_cosine_topk_arrow_matches_join_form(spark, sf_dir):
    """cosine_topk_arrow (q45's one-scan kernel) must reproduce the join
    form EXACTLY: sequential fold order + rounded-rank pruning with the
    tie margin makes it value- and rank-identical, not approximately so."""
    from ai_batch_processing_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    a = [tuple(r) for r in cosine_topk(emb, queries, k=5).orderBy("query_id", "rank").collect()]
    b = [tuple(r) for r in cosine_topk_arrow(emb, queries, k=5).orderBy("query_id", "rank").collect()]
    assert a == b and len(a) > 0

    # bounded-query contract fails fast
    import pytest

    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk_arrow(emb, emb, k=3, max_query_rows=4)
