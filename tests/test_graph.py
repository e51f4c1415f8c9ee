"""Graph operators: PageRank semantics on hand-computable graphs; exact ↔
approximate k-NN edge-build parity and recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_batch_processing_spark.operators.graph import (
    knn_edges,
    knn_edges_approx,
    pagerank,
    replicate_perturbed,
)


def test_pagerank_two_node_cycle_is_uniform(spark):
    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    ranks = {r.id: r.rank for r in pagerank(nodes, edges, iterations=10).collect()}
    # symmetric cycle: stationary distribution is uniform at every step
    assert abs(ranks[1] - 0.5) < 1e-12 and abs(ranks[2] - 0.5) < 1e-12


def test_pagerank_sink_hub_attracts_mass_and_total_is_conserved(spark):
    # 1→3, 2→3, 3→1: node 3 receives from two nodes, must out-rank 2
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    edges = spark.createDataFrame([(1, 3), (2, 3), (3, 1)], "src long, dst long")
    rows = pagerank(nodes, edges, iterations=20).collect()
    ranks = {r.id: r.rank for r in rows}
    assert ranks[3] > ranks[1] > ranks[2]
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # no dangling → mass conserved


def test_knn_edges_shape(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "vec_id long, embedding array<float>"
    )
    e = knn_edges(emb, k=2).collect()
    assert len(e) == 12  # 6 nodes × 2 out-edges
    assert all(r.src != r.dst for r in e)


def test_knn_edges_max_rows_guard(spark):
    """The exact edge build is O(n²) + corpus broadcast — it must fail fast
    past the cap instead of OOMing a cluster (mirrors _probe_join)."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="max_rows"):
        knn_edges(emb, k=2, max_rows=10)
    assert knn_edges(emb, k=2, max_rows=None).count() == 40


def test_knn_edges_approx_recall_one_config_matches_exact(spark, sf_dir):
    """nprobe = nlist probes every IVF cell, so the approximate edge build
    must return EXACTLY the exact k-NN edge set (recall 1 by construction
    — the q149 oracle configuration)."""
    from ai_batch_processing_spark.session import load_tables

    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    exact = {(r.src, r.dst) for r in knn_edges(emb, k=5).collect()}
    approx = {(r.src, r.dst) for r in knn_edges_approx(emb, k=5, nlist=8, nprobe=8).collect()}
    assert approx == exact


def test_knn_edges_approx_recall_on_clone_corpus(spark, sf_dir):
    """At nprobe < nlist the edge build is sublinear per node (only
    nprobe/nlist of the corpus scanned); recall vs the exact edges is
    measured on the perturbed-clone corpus, not guessed. Clones land in
    the same or adjacent k-means cells, so recall stays high."""
    from ai_batch_processing_spark.session import load_tables

    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < 150)
        .select("vec_id", "embedding")
    )
    corpus = replicate_perturbed(emb, replicas=3)
    exact = {(r.src, r.dst) for r in knn_edges(corpus, k=5).collect()}
    approx = {
        (r.src, r.dst) for r in knn_edges_approx(corpus, k=5, nlist=16, nprobe=4).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.80, f"knn_edges_approx recall {recall:.3f} < 0.80"


def test_replicate_perturbed_deterministic_and_clone_adjacent(spark, sf_dir):
    from ai_batch_processing_spark.session import load_tables

    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < 50)
        .select("vec_id", "embedding")
    )
    a = replicate_perturbed(emb, replicas=3).orderBy("vec_id").collect()
    b = replicate_perturbed(emb, replicas=3).orderBy("vec_id").collect()
    assert [(r.vec_id, r.embedding) for r in a] == [(r.vec_id, r.embedding) for r in b]
    assert len(a) == 150
    # replica 0 keeps original values
    base = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    for r in a:
        if r.vec_id < 1_000_000:
            assert [pytest.approx(x, abs=1e-6) for x in base[r.vec_id]] == list(r.embedding)


def test_pagerank_approx_graph_mass_conserved_and_deterministic(spark, sf_dir):
    """The q150 shape: Σ rank = 1 (no dangling nodes — every node has k
    out-edges) and the whole pipeline (deterministic k-means → approx
    edges → iterative ranks) reproduces bit-identically across runs."""
    from ai_batch_processing_spark.operators.graph import q150_pagerank_approx_knn_graph

    r1 = q150_pagerank_approx_knn_graph(spark, sf_dir).collect()
    total = sum(r.rank for r in r1)
    assert abs(total - 1.0) < 1e-3  # rank rounded to 6dp per node
    r2 = q150_pagerank_approx_knn_graph(spark, sf_dir).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]


def test_pagerank_parity_exact_vs_recall_one_approx_edges(spark, sf_dir):
    """pagerank(knn_edges_approx, recall-1 config) must equal
    pagerank(knn_edges) row-for-row — the iterative consumer can't tell
    the two edge builds apart when recall is 1."""
    from ai_batch_processing_spark.session import load_tables

    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    nodes = emb.select(F.col("vec_id").alias("id"))
    exact = pagerank(nodes, knn_edges(emb, k=5), iterations=5)
    approx = pagerank(nodes, knn_edges_approx(emb, k=5, nlist=8, nprobe=8), iterations=5)
    ex = {r.id: round(r.rank, 9) for r in exact.collect()}
    ap = {r.id: round(r.rank, 9) for r in approx.collect()}
    assert ex == ap


def test_pagerank_checkpoint_cadence_parity(spark):
    """Cadence-2 lineage truncation is a pure performance knob — results
    must match per-round checkpointing exactly."""
    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)] + [(i, (i + 3) % 8) for i in range(8)],
        "src long, dst long",
    )
    # single_task_edges=None: this test pins the DISTRIBUTED loop's cadence
    # knob — the small-graph fast path would short-circuit both calls
    # into the same single-task kernel and test nothing
    every = {r.id: r.rank for r in pagerank(nodes, edges, iterations=7, checkpoint_every=1, single_task_edges=None).collect()}
    cad2 = {r.id: r.rank for r in pagerank(nodes, edges, iterations=7, checkpoint_every=2, single_task_edges=None).collect()}
    assert every == cad2


def test_pagerank_single_task_matches_distributed_loop(spark):
    """The adaptive small-graph kernel and the distributed join+agg loop
    are the same algorithm: ranks must agree to float noise, including the
    corner cases (an edge whose dst is not a node is dropped, a src that
    is not a node contributes nothing but still counts in nothing, and a
    node with no in-edges gets only teleport mass)."""
    import pytest as _pt

    nodes = spark.createDataFrame([(i,) for i in range(9)], "id long")
    edges = spark.createDataFrame(
        [(i, (i + 1) % 9) for i in range(9)]
        + [(i, (i * 2 + 1) % 9) for i in range(9)]
        + [(3, 999), (999, 4)],  # dst not a node; src not a node
        "src long, dst long",
    )
    fast = {r.id: r.rank for r in pagerank(nodes, edges, iterations=8).collect()}
    dist = {
        r.id: r.rank
        for r in pagerank(nodes, edges, iterations=8, single_task_edges=None).collect()
    }
    assert set(fast) == set(dist) == set(range(9))
    for i in fast:
        assert fast[i] == _pt.approx(dist[i], abs=1e-12)
    # mass leaks through the (3, 999) dangling edge in BOTH forms — the
    # total must be identical across kernels, and strictly below 1
    assert sum(fast.values()) == _pt.approx(sum(dist.values()), abs=1e-9)
    assert sum(fast.values()) < 1.0


def test_pagerank_edge_cache_partitioning_feeds_join_without_exchange(spark):
    """The loop contract pagerank's docstring claims (graph.py): a cached
    edge table repartition(N, src)-ed BEFORE persist feeds the per-round
    join with NO Exchange above its InMemoryTableScan — the explicit-N
    (REPARTITION_BY_NUM) form is load-bearing; broadcasts disabled so the
    join actually tests the shuffle requirement, as at real scale."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    e = None
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        e = (
            spark.range(10000)
            .select((F.col("id") % 997).alias("src"), (F.col("id") % 991).alias("dst"),
                    F.lit(3).alias("odeg"))
            .repartition(n_part, "src")
            .persist()
        )
        e.count()
        ranks = spark.range(997).select(F.col("id"), F.lit(1.0).alias("rank"))
        j = (
            e.join(ranks, e.src == ranks.id)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("odeg")).alias("inflow"))
        )
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        scan_idx = next(i for i, ln in enumerate(lines) if "InMemoryTableScan" in ln)
        # nothing between the join and the cache scan may be an Exchange
        # (a Sort for SMJ is fine) — the cached REPARTITION_BY_NUM layout
        # satisfies the join's distribution requirement
        above = "\n".join(lines[max(0, scan_idx - 3):scan_idx])
        assert "Join" in above or "Sort" in above
        assert "Exchange" not in above
    finally:
        if e is not None:
            e.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)


def test_triangle_census_matches_bruteforce_on_known_graph(spark):
    from itertools import combinations

    from ai_batch_processing_spark.operators.graph import triangle_census

    # K4 on {0..3} plus a pendant node 4 and an isolated-from-triangles
    # hub 5 connected to 4: K4 nodes have 3 triangles each, coeff 1.0
    pairs = list(combinations(range(4), 2)) + [(3, 4), (4, 5)]
    # feed DIRECTED duplicates + self loops: census must canonicalize
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs] + [(1, 1)],
        "src long, dst long",
    )
    out = {r.id: r for r in triangle_census(edges).collect()}
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for node, nbrs in adj.items():
        tri = sum(1 for x, y in combinations(sorted(nbrs), 2) if y in adj[x])
        d = len(nbrs)
        assert out[node].degree == d
        assert out[node].triangles == tri, node
        expected = 0.0 if d < 2 else round(2.0 * tri / (d * (d - 1)), 6)
        assert out[node].clustering_coeff == expected
    assert out[0].clustering_coeff == 1.0  # K4 corner
    assert out[5].triangles == 0


def test_triangle_census_hub_graph_orientation_bounds_wedges(spark):
    from ai_batch_processing_spark.operators.graph import triangle_census

    # star: hub 0 to 1..20, no triangles anywhere; every coeff is 0
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 21)], "src long, dst long"
    )
    rows = triangle_census(edges).collect()
    assert all(r.triangles == 0 and r.clustering_coeff == 0.0 for r in rows)
    hub = next(r for r in rows if r.id == 0)
    assert hub.degree == 20


# ---------------------------------------------------------------------------
# Label propagation (q231)
# ---------------------------------------------------------------------------


def test_label_propagation_spreads_and_clamps_seeds(spark):
    from ai_batch_processing_spark.operators.graph import label_propagation

    # chain 0-1-2-3 with seed labels at the ends; node 9 isolated.
    # Weights make every vote unambiguous (equal-weight ties would fall
    # to the smallest label by the documented tie rule): node 1 is bound
    # tighter to seed 0, node 2 tighter to seed 3.
    nodes = spark.createDataFrame(
        [(0, 7), (1, None), (2, None), (3, 5), (9, None)],
        "id long, seed_label int",
    )
    e = [(0, 1, 0.9), (1, 0, 0.9), (1, 2, 0.5), (2, 1, 0.5), (2, 3, 0.8), (3, 2, 0.8)]
    edges = spark.createDataFrame(e, "src long, dst long, w double")
    out = {r.id: r.label for r in label_propagation(nodes, edges, iterations=3).collect()}
    assert out[0] == 7 and out[3] == 5  # seeds clamped
    assert out[1] == 7 and out[2] == 5  # nearest seed wins the vote
    assert out[9] is None  # unreachable stays unlabeled


def test_label_propagation_tie_breaks_to_smallest_label(spark):
    from ai_batch_processing_spark.operators.graph import label_propagation

    # node 2 receives equal-weight votes for labels 9 (from node 0) and
    # 4 (from node 1): the tie must deterministically pick label 4
    nodes = spark.createDataFrame(
        [(0, 9), (1, 4), (2, None)], "id long, seed_label int"
    )
    edges = spark.createDataFrame(
        [(0, 2, 0.5), (1, 2, 0.5)], "src long, dst long, w double"
    )
    out = {r.id: r.label for r in label_propagation(nodes, edges, iterations=1).collect()}
    assert out[2] == 4


def test_hits_star_graph_center_is_authority(spark):
    from ai_batch_processing_spark.operators.graph import hits

    # 4 spokes all point at node 0; node 0 points at node 1. Node 0 must
    # dominate authority; the spokes (whose only out-edge hits the top
    # authority) must dominate hubs over node 0 (whose out-edge hits a
    # weak authority).
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)], "src long, dst long"
    )
    out = {r.id: (r.authority, r.hub) for r in hits(nodes, edges, iterations=5).collect()}
    assert out[0][0] > 0.8  # center holds nearly all authority mass
    assert all(out[i][0] < 0.2 for i in (2, 3, 4))
    assert out[1][1] > out[0][1]  # spoke hub > center hub
    # L1 discipline: scores stay on [0,1] and roughly sum to 1
    assert abs(sum(a for a, _ in out.values()) - 1.0) < 0.01
    assert abs(sum(h for _, h in out.values()) - 1.0) < 0.01


def test_hits_no_inedge_node_zero_authority(spark):
    from ai_batch_processing_spark.operators.graph import hits

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    edges = spark.createDataFrame([(0, 1), (2, 1)], "src long, dst long")
    out = {r.id: (r.authority, r.hub) for r in hits(nodes, edges, iterations=3).collect()}
    assert out[0][0] == 0.0 and out[2][0] == 0.0  # nothing points at 0/2
    assert out[1][0] == 1.0  # all authority mass on node 1
    assert out[1][1] == 0.0  # node 1 has no out-edge


def test_degree_assortativity_star_is_negative(spark):
    from ai_batch_processing_spark.operators.graph import degree_assortativity

    # star: spokes -> center plus center -> one spoke; spoke in-degree 0/1
    # vs center in-degree 4 on every edge = anti-correlated endpoints...
    # a ring in contrast is perfectly uniform (corr undefined -> NULL)
    star = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)], "src long, dst long"
    )
    r = degree_assortativity(star).collect()[0]
    assert r.n_edges == 5 and r.n_nodes == 5
    assert r.assortativity < 0
    ring = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    r2 = degree_assortativity(ring).collect()[0]
    # constant in-degree 1: zero variance, corr is NULL in both engines
    assert r2.assortativity is None


def test_kcore_planted_clique_survives_and_periphery_erodes(spark):
    """A planted 6-clique must survive any number of k=4 peels while a
    chain (max degree 2) erodes; every survivor's reported degree is its
    induced degree, >= k."""
    from ai_batch_processing_spark.operators.graph import kcore_members

    clique = [(a, b) for a in range(6) for b in range(6) if a < b]
    chain = [(i, i + 1) for i in range(10, 20)]
    bridge = [(0, 10)]
    nodes = spark.createDataFrame([(i,) for i in list(range(6)) + list(range(10, 21))], "id long")
    edges = spark.createDataFrame(clique + chain + bridge, "src long, dst long")
    out = {r.id: r.degree for r in kcore_members(nodes, edges, k=4, rounds=6).collect()}
    assert set(out) == set(range(6))  # the clique, nothing else
    assert all(d == 5 for d in out.values())  # induced degree inside the clique


def test_adamic_adar_path_graph(spark):
    """On the path a-b-c, the only wedge is (a,c) through b (degree 2):
    AA = 1/ln(2), micro-scaled 1442695; existing edges never appear."""
    from ai_batch_processing_spark.operators.graph import adamic_adar_topk

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    rows = adamic_adar_topk(edges, top_k=10).collect()
    assert [(r.a, r.b, r.common_neighbors, r.aa_micro) for r in rows] == [
        (1, 3, 1, 1442695)
    ]
    assert abs(rows[0].aa_score - 1.442695) < 1e-9


def test_adamic_adar_prefers_rare_common_neighbor(spark):
    """Two candidate pairs with one common neighbor each: the pair whose
    shared neighbor has LOWER degree scores higher (1/ln(deg) falls)."""
    from ai_batch_processing_spark.operators.graph import adamic_adar_topk

    # rare: 1-2-3 (deg(2)=2). hub: 4-5-6 plus 5 wired to 7,8 (deg(5)=4).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (5, 7), (5, 8)], "src long, dst long"
    )
    rows = adamic_adar_topk(edges, top_k=2).collect()
    pairs = [(r.a, r.b) for r in rows]
    assert pairs[0] == (1, 3)  # via deg-2 neighbor beats via deg-4 hub
    assert (4, 6) in pairs or (4, 7) in pairs  # hub wedges rank below


def test_textrank_hub_term_wins(spark):
    """A term adjacent to every other term centers the co-occurrence
    graph and must take rank 1."""
    from ai_batch_processing_spark.operators.text import textrank_keywords

    docs = spark.createDataFrame(
        [(0, "core alpha core beta core gamma"), (1, "core delta core epsilon")],
        "doc_id long, text string",
    )
    rows = textrank_keywords(docs, vocab_size=10, iterations=5, top_k=3).collect()
    assert rows[0].term == "core"
    assert rows[0].rank > rows[1].rank


def test_modularity_disjoint_triangles_vs_one_blob(spark):
    """Two disjoint triangles, perfectly labeled: Q = 2*(3/6 - (6/12)^2)
    = 0.5. The same graph as ONE community: Q = 0 exactly."""
    from ai_batch_processing_spark.operators.graph import modularity

    tri = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(tri, "src long, dst long")
    good = spark.createDataFrame(
        [(i, i // 10) for i in [0, 1, 2, 10, 11, 12]], "id long, label long"
    )
    out = modularity(edges, good).collect()[0]
    assert (out.m_edges, out.n_communities, out.modularity) == (6, 2, 0.5)

    blob = spark.createDataFrame(
        [(i, 7) for i in [0, 1, 2, 10, 11, 12]], "id long, label long"
    )
    out2 = modularity(edges, blob).collect()[0]
    assert out2.modularity == 0.0


def test_personalized_pagerank_mass_stays_near_seeds(spark):
    """Two disconnected 3-cycles, seed in the first: every node of the
    seeded component outranks every node of the other (which decays to
    rank 0 — no teleport mass ever lands there)."""
    from ai_batch_processing_spark.operators.graph import personalized_pagerank

    cyc = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    edges = spark.createDataFrame(cyc, "src long, dst long")
    nodes = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 10, 11, 12]], "id long"
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    r = {x.id: x.rank for x in personalized_pagerank(nodes, edges, seeds, iterations=5).collect()}
    assert all(r[i] > 0 for i in (0, 1, 2))
    assert all(r[i] == 0.0 for i in (10, 11, 12))
    assert r[0] > r[1]  # the seed keeps the (1-d) teleport share
    assert abs(sum(r.values()) - 1.0) < 1e-9  # cycle graph conserves mass
