"""Graph operators over similarity/link graphs: PageRank-style centrality.

Corpus curation uses graph signals (page importance over a link graph,
centrality over a document-similarity graph) as quality features next to
the per-row scores in ``text.py``. The reference has no graph surface; this
is a BASELINE.json north-star extension demonstrating ITERATIVE distributed
computation beyond ``dedup.connected_components``:

- each iteration is one keyed join + one aggregate (all partial-aggregated,
  no driver-side state beyond the loop counter);
- lineage is cut per iteration with ``jobs.pin`` (the
  connected-components pattern — without it the plan doubles per round and
  every action recomputes all prior rounds);
- the iteration count is FIXED, so the whole computation is deterministic
  and the DuckDB oracle can unroll the same iterations as a CTE chain —
  the distributed loop is hash-checked against straight-line SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_batch_processing_spark.jobs import cache, pin, pin_scope
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables

DAMPING = 0.85


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
    damping: float = DAMPING,
    checkpoint_every: int = 2,
    single_task_edges: int | None = 20_000_000,
) -> DataFrame:
    """(id, rank) after ``iterations`` synchronous PageRank steps.

    ``nodes`` must have column ``id``; ``edges`` columns ``src``/``dst``.
    Simplified model (no dangling-mass redistribution — every node in a
    k-NN graph has out-edges): r₀ = 1/N;
    rᵢ₊₁(v) = (1−d)/N + d·Σ_{(u,v)∈E} rᵢ(u)/outdeg(u).

    Scale shape: node count N rides in as a broadcast 1-row aggregate (no
    driver ``.count()``); out-degrees are computed once and live ON the
    edge rows, so each iteration shuffles edges exactly once (join on src,
    aggregate on dst) and the rank table once.

    ADAPTIVE REGIME PICK (the same size-based decision AQE makes when it
    swaps a shuffle join for a broadcast): a synchronous power iteration
    on a graph whose EDGE LIST fits one executor's memory is pure
    scheduling overhead as a distributed loop — 10 rounds × 2-3 stages of
    barrier latency to move kilobytes. When the measured edge count is
    ≤ ``single_task_edges`` (and ids are integral), the whole
    fixed-iteration loop runs in ONE Arrow task
    (:func:`_pagerank_single_task`): edges ship once, numpy bincount does
    the per-round gather/scatter, zero per-round stages. 20M edges is two
    int64 columns ≈ 320 MB — comfortably inside a standard 4-8 GB
    executor. Above the cap (or for non-integral ids, or
    ``single_task_edges=None``) the distributed join+agg loop below is
    the only shape that survives — it is the 100 TB path.

    ``checkpoint_every`` picks how often the rank lineage is cut with
    :func:`~ai_batch_processing_spark.jobs.pin`. The default (2) bounds
    plan depth at two rounds. Fusing the whole loop into one plan lost its
    A/B at the q122 bench shape (300 nodes, 1.5k edges, 10 rounds, warm session,
    fresh-call min-of-3): fused 4.76 s vs every-2 3.23 s vs every-1
    3.28 s — every new invocation re-analyzes the deep plan on the driver,
    and that analysis cost dominates the round trips it saves.

    The explicit-N co-partitioning of ``e`` and ``base`` (below) is
    plan-verified (tests/test_graph.py: the cached scan feeds the join
    with no Exchange above it) but wall-NEUTRAL at bench scale, where AQE
    broadcasts the node-sized rank table and the loop rides the
    scheduling floor — it exists for the regime where ranks is too big to
    broadcast and the per-round edge shuffle would dominate.
    """
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    try:
        conf_part = int(nodes.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf_part = nodes.rdd.getNumPartitions()
    # SIZE the loop's fixed layout from the edge count (one cheap count on
    # the cached raw edges, which the odeg aggregate reuses): every round
    # schedules 2-3 stages over this layout, so a 1.5k-edge bench graph on
    # 32-partition stages pays 10×~90 near-empty tasks of pure scheduling
    # floor — ~100k edges per partition collapses that to 1-task stages
    # (measured: q122 3.99 s → see commit) while a 100 TB edge set still
    # fans out to the conf value. AQE cannot do this for us: the cached
    # layout must be an explicit REPARTITION_BY_NUM (below), which is
    # exactly the form AQE leaves alone.
    # The scope releases the caches even when an executor loss / OOM
    # raises mid-loop; both branches' results are stored first.
    with pin_scope() as scope:
        e_raw = cache(edges)
        integral = {"tinyint", "smallint", "int", "bigint"}
        if (
            single_task_edges is not None
            and dict(nodes.dtypes).get("id") in integral
            and dict(e_raw.dtypes).get("src") in integral
            and dict(e_raw.dtypes).get("dst") in integral
            and e_raw.count() <= single_task_edges
        ):
            return scope.store(_pagerank_single_task(nodes, e_raw, iterations, damping))
        return scope.store(
            _pagerank_impl(nodes, e_raw, iterations, damping, checkpoint_every, conf_part)
        )


def _pagerank_single_task(
    nodes: DataFrame,
    e_raw: DataFrame,
    iterations: int,
    damping: float,
) -> DataFrame:
    """The small-graph regime: all ``iterations`` rounds inside one Arrow
    task (numpy bincount gather/scatter), selected by :func:`pagerank`'s
    measured-edge-count dispatch.

    Semantics are identical to the distributed loop, including the corner
    cases: out-degree counts EVERY out-edge of a src (even one pointing at
    a non-node id), an edge whose src is not a node contributes nothing
    (it has no rank), and inflow landing on a non-node dst is dropped.
    The 6dp cross-engine rounding convention absorbs summation-order
    differences exactly as it does between the distributed loop and the
    DuckDB unrolled-CTE oracle.

    Shape: nodes and edges are tagged, unioned, funneled into ONE
    mapInPandas task (edges ship through Arrow once — no nulls, so the
    long columns stay int64 end to end); the per-round work is two numpy
    kernels over the edge arrays. :func:`pagerank` stores the result.
    """
    id_t = dict(nodes.dtypes)["id"]
    merged = e_raw.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.lit(True).alias("is_edge"),
    ).unionByName(
        nodes.select(
            F.col("id").cast("long").alias("src"),
            F.col("id").cast("long").alias("dst"),
            F.lit(False).alias("is_edge"),
        )
    )

    def solve(batches):
        import numpy as np
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        is_edge = pdf["is_edge"].to_numpy()
        ids = np.sort(pdf.loc[~is_edge, "src"].to_numpy(dtype=np.int64))
        n = len(ids)
        if n == 0:
            return
        esrc = pdf.loc[is_edge, "src"].to_numpy(dtype=np.int64)
        edst = pdf.loc[is_edge, "dst"].to_numpy(dtype=np.int64)
        si = np.searchsorted(ids, esrc).clip(0, n - 1)
        di = np.searchsorted(ids, edst).clip(0, n - 1)
        src_ok = ids[si] == esrc
        dst_ok = ids[di] == edst
        live = src_ok  # src must be a ranked node to contribute
        si_l, di_l = si[live], di[live]
        # odeg over ALL out-edges of each src value (matching the
        # distributed loop's pre-join groupBy on raw edges): edges sharing
        # a src value share si and liveness, so a bincount over the live
        # src indices IS that count — no np.unique sort of the edge list.
        odeg_l = np.bincount(si_l, minlength=n).astype(np.float64)[si_l]
        # hoist the dst-validity mask OUT of the loop: only dst_ok edges
        # feed inflow, but their weights still divide by the FULL odeg
        # (inflow landing on a non-node dst is dropped, not redistributed)
        keep = dst_ok[live]
        si_f, di_f, odeg_f = si_l[keep], di_l[keep], odeg_l[keep]
        r = np.full(n, 1.0 / n)
        for _ in range(iterations):
            w = r[si_f] / odeg_f
            inflow = np.bincount(di_f, weights=w, minlength=n)
            r = (1.0 - damping) / n + damping * inflow
        yield pd.DataFrame({"id": ids, "rank": r})

    out = merged.coalesce(1).mapInPandas(solve, "id long, rank double")
    return out.select(F.col("id").cast(id_t).alias("id"), "rank")


def _pagerank_impl(
    nodes: DataFrame,
    e_raw: DataFrame,
    iterations: int,
    damping: float,
    checkpoint_every: int,
    conf_part: int,
) -> DataFrame:
    n_edges = e_raw.count()
    n_part = max(1, min(conf_part, -(-n_edges // 100_000)))
    n_row = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    odeg = e_raw.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    # out-degree attached to each edge once, reused every iteration; the
    # hash-repartition on src with an EXPLICIT partition count is
    # load-bearing: only REPARTITION_BY_NUM partitioning survives into the
    # cached layout's outputPartitioning and satisfies the per-round
    # join's requirement (plan-verified: the InMemoryTableScan feeds the
    # join with no Exchange above it; the AQE-coalescible bare
    # .repartition("src") does NOT) — so the EDGE side, the big side at
    # scale, never re-shuffles inside the loop
    e = cache(e_raw.join(odeg, "src").select("src", "dst", "odeg").repartition(n_part, "src"))
    # (id, n) materialized ONCE, hash-partitioned on id for the same
    # reason — every iteration joins onto this checkpointed frame (and
    # the rank table it produces inherits the layout) instead of
    # re-running the node scan + count and re-exchanging both sides 10
    # times over. Net per-round data shuffled: the contribs aggregate
    # plus the node-sized rank table only.
    base = pin(nodes.crossJoin(F.broadcast(n_row)).select("id", "n").repartition(n_part, "id"))
    ranks = base.select("id", (F.lit(1.0) / F.col("n")).alias("rank"))
    for i in range(iterations):
        contribs = (
            e.join(ranks, e.src == ranks.id)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("odeg")).alias("inflow"))
        )
        ranks = base.join(contribs, base.id == contribs.dst, "left").select(
            "id",
            (
                (F.lit(1.0) - F.lit(damping)) / F.col("n")
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )
        if i < iterations - 1 and (i + 1) % checkpoint_every == 0:
            # intermediate rounds only need their lineage cut; pagerank
            # stores the last round
            ranks = pin(ranks)
    return ranks


def knn_edges(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 10_000,
    single_task_rows: int | None = 4096,
) -> DataFrame:
    """Directed k-NN edges (src → its k most-cosine-similar neighbors).

    EXACT form: an all-pairs scan, O(n²) work. That is the right verify
    oracle for bounded corpora and nothing else, so a ``max_rows``
    limit-pushdown guard fails fast past the cap (mirroring
    ``_probe_join``, similarity.py) instead of OOMing a cluster
    mid-broadcast. For real corpora use :func:`knn_edges_approx` — same
    output schema, IVF-bucketed candidate generation, corpus-linear per
    probe.

    Regime pick (the pagerank convention): at ≤ ``single_task_rows``
    rows (and integral ids) the whole n² scoring runs in ONE Arrow task
    (:func:`_knn_edges_single_task`) — the distributed broadcast
    nested-loop form pays several stages of scheduling to move an n×d
    matrix that fits in one task's memory (4096×4096 scores = 128 MB).
    Above the bound (or non-integral ids) the ``cosine_topk`` broadcast
    plan runs, still capped by ``max_rows``.
    """
    from ai_batch_processing_spark.operators.similarity import cosine_topk

    cap = max(max_rows or 0, single_task_rows or 0)
    n = emb.limit(cap + 1).count() if cap else None
    if max_rows is not None and n is not None and n > max_rows:
        raise ValueError(
            f"knn_edges: corpus exceeds max_rows={max_rows}. The exact form "
            "broadcasts the corpus against itself (O(n²)); use "
            "knn_edges_approx for large corpora, or pass max_rows=None to "
            "accept the quadratic scan."
        )
    integral = {"tinyint", "smallint", "int", "bigint"}
    if (
        single_task_rows is not None
        and n is not None
        and n <= single_task_rows
        and dict(emb.dtypes).get(id_col) in integral
    ):
        return _knn_edges_single_task(emb, k, id_col, vec_col)
    top = cosine_topk(emb, emb, k=k, corpus_id=id_col, query_id=id_col, vec_col=vec_col)
    return top.select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))


def _knn_edges_single_task(
    emb: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """All-pairs k-NN edges in ONE Arrow task — the small-corpus regime.

    Bit-parity contract with the ``cosine_topk`` plan it replaces: the
    score matrix accumulates per-DIMENSION column sweeps
    (``S += x_j ⊗ x_j``), so each pair's dot product adds terms in the
    same sequential IEEE order as ``_pair_dot``'s fold (and the norms
    likewise) — identical doubles. Selection ranks on HALF_UP-rounded
    scores with ascending-id tiebreak, the same (ROUND(score,6) DESC, id)
    order the window form and the DuckDB oracles use.
    """
    id_t = dict(emb.dtypes)[id_col]
    rows = emb.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )

    def solve(batches):
        import numpy as np
        import pandas as pd

        from ai_batch_processing_spark.operators.similarity import _round_half_up

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) < 2:
            return
        ids = pdf["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="mergesort")
        ids = ids[order]
        x = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["v"].iloc[order]]
        )
        n, d = x.shape
        acc = np.zeros(n)
        s = np.zeros((n, n))
        for j in range(d):
            xj = x[:, j]
            acc = acc + xj * xj
            s = s + xj[:, None] * xj[None, :]
        nrm = np.sqrt(acc)
        sc = _round_half_up(s / (nrm[:, None] * nrm[None, :]), 6)
        np.fill_diagonal(sc, -np.inf)
        kk = min(k, n - 1)
        pos = np.arange(n)
        srcs, dsts = [], []
        for i in range(n):
            idx = np.lexsort((pos, -sc[i]))[:kk]
            srcs.append(np.full(kk, ids[i], dtype=np.int64))
            dsts.append(ids[idx])
        yield pd.DataFrame(
            {"src": np.concatenate(srcs), "dst": np.concatenate(dsts)}
        )

    out = rows.coalesce(1).mapInPandas(solve, "src long, dst long")
    return out.select(
        F.col("src").cast(id_t).alias("src"), F.col("dst").cast(id_t).alias("dst")
    )


def knn_edges_approx(
    emb: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Directed k-NN edges via IVF candidate generation — the scale path.

    Composes :func:`~ai_batch_processing_spark.operators.similarity.ann_ivf_topk`
    with the corpus passed as its own query set and
    ``max_query_rows=None``: the broadcast hint is dropped and the
    probe becomes a SHUFFLED cell-co-partitioned join, correct at any
    corpus size. Work per node is the ~``nprobe/nlist`` fraction of the
    corpus sharing its probed cells instead of all n — the all-pairs
    n² collapses to ≈ n²·nprobe/nlist with balanced cells, and both
    sides shuffle once on ``cell``. With ``nprobe == nlist`` every cell
    is probed and the output equals :func:`knn_edges` exactly (recall 1
    by construction — the q149 oracle configuration); with
    ``nprobe < nlist`` recall is measured, not guessed
    (tests/test_graph.py pins it on the perturbed-clone corpus).
    """
    from ai_batch_processing_spark.operators.similarity import ann_ivf_topk

    top = ann_ivf_topk(
        emb,
        emb,
        k=k,
        nlist=nlist,
        nprobe=nprobe,
        corpus_id=id_col,
        query_id=id_col,
        vec_col=vec_col,
        max_query_rows=None,
    )
    return top.select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))


def _pagerank_oracle_sql(iterations: int, cap: int, k: int, damping: float) -> str:
    """The straight-line DuckDB twin: k-NN edges + unrolled iterations."""
    head = f"""
        WITH emb AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {cap}
        ),
        cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM emb),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb a JOIN emb b ON a.id <> b.id
        ),
        edges AS (SELECT src, dst FROM scored WHERE rnk <= {k}),
        odeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src),
        e AS (SELECT edges.src, edges.dst, odeg.odeg FROM edges JOIN odeg USING (src)),
        r0 AS (SELECT id, 1.0 / cnt.n AS rank FROM emb CROSS JOIN cnt)
    """
    steps = []
    for i in range(iterations):
        steps.append(
            f"""
        , c{i} AS (
            SELECT e.dst, SUM(r{i}.rank / e.odeg) AS inflow
            FROM e JOIN r{i} ON e.src = r{i}.id GROUP BY e.dst
        ),
        r{i + 1} AS (
            SELECT emb.id,
                   (1 - {damping}) / cnt.n
                   + {damping} * COALESCE(c{i}.inflow, 0) AS rank
            FROM emb CROSS JOIN cnt LEFT JOIN c{i} ON emb.id = c{i}.dst
        )"""
        )
    tail = f"""
        SELECT id AS vec_id, ROUND(rank, 6) AS rank
        FROM r{iterations}
        ORDER BY vec_id
    """
    return head + "".join(steps) + tail


_PR_CAP = 300
_PR_K = 5
_PR_ITERS = 10


@register(
    "q122_pagerank_knn_graph",
    oracle=_pagerank_oracle_sql(_PR_ITERS, _PR_CAP, _PR_K, DAMPING),
    doc="PageRank centrality over the embedding k-NN similarity graph: the "
    "distributed iterative loop (join+agg per round, localCheckpoint "
    "lineage truncation) hash-checked against 10 UNROLLED iterations of "
    "straight-line DuckDB SQL.",
    bench=True,  # the iterative-workload bench representative (1.7x vs
    # the DuckDB unrolled-SQL oracle at sf0.1 — real data work, not floor)
    tags=("graph", "similarity", "iterative"),
)
def q122_pagerank_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _PR_CAP)
        .select("vec_id", "embedding")
    )
    nodes = emb.select(F.col("vec_id").alias("id"))
    ranks = pagerank(nodes, knn_edges(emb, k=_PR_K), iterations=_PR_ITERS)
    return ranks.select(
        F.col("id").alias("vec_id"), F.round("rank", 6).alias("rank")
    ).orderBy("vec_id")


_KNN_CAP = 500
_KNN_NLIST = 8


@register(
    "q149_knn_edges_approx_verified",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {_KNN_CAP}
        ),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb a JOIN emb b ON a.id <> b.id
        )
        SELECT src, dst FROM scored WHERE rnk <= {_PR_K}
        ORDER BY src, dst
    """,
    doc=(
        "knn_edges_approx run in its recall-1 configuration (nprobe = nlist: "
        "every IVF cell probed, so the candidate set is all pairs and the "
        "output equals the exact k-NN edge set by construction) — "
        "hash-matched against the independent DuckDB all-pairs oracle. This "
        "pins the whole approximate edge-build machinery end to end: "
        "deterministic k-means (xxhash64-ordered init), Arrow-batched cell "
        "assignment, the SHUFFLED cell-co-partitioned probe join "
        "(max_query_rows=None — the corpus-as-queries path a broadcast "
        "could never survive), exact rescore, per-node top-k."
    ),
    tags=("graph", "similarity", "verify"),
)
def q149_knn_edges_approx_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _KNN_CAP)
        .select("vec_id", "embedding")
    )
    return knn_edges_approx(emb, k=_PR_K, nlist=_KNN_NLIST, nprobe=_KNN_NLIST).orderBy(
        "src", "dst"
    )


def replicate_perturbed(
    emb: DataFrame,
    replicas: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 0.02,
    perturb: str = "sin",
) -> DataFrame:
    """Deterministically expand a vector corpus ``replicas``× for scale
    tests: replica r of vector v gets id ``v + r·1e6`` and each component
    perturbed by a deterministic function of (id, r, i) — pure Catalyst
    (``transform`` with index), no Python, no RNG state, so the expanded
    corpus is identical across runs and partitionings. Replica 0 keeps the
    original values (perturbation only for r > 0); clones stay each
    other's nearest neighbors, which is what the knn recall tests need.

    ``perturb`` picks the noise family:

    - ``"sin"`` (default): ``scale·sin(id·31 + r·7 + i)`` — smooth and
      well-spread, but transcendental: Java's and DuckDB's ``sin`` may
      differ in the last ulp, so sin-perturbed corpora are NOT
      cross-engine hash-gateable (q150 is rows-only for exactly this
      reason).
    - ``"rational"``: ``scale·((id·31 + r·7 + i) mod 97 / 97 − 0.5)`` —
      every step is exact integer arithmetic followed by one IEEE
      division of integer-valued doubles, bit-identical across engines,
      which makes the replicated-corpus pipeline end-to-end hash-gateable
      (the q162 verify twin).
    """
    if perturb not in ("sin", "rational"):
        raise ValueError(f"perturb must be 'sin' or 'rational', got {perturb!r}")
    reps = emb.sparkSession.range(replicas).select(F.col("id").cast("int").alias("_rep"))
    base = F.col(id_col).cast("double")

    def delta(i: Column) -> Column:
        if perturb == "sin":
            return F.lit(scale) * F.sin(
                base * F.lit(31.0) + F.col("_rep") * F.lit(7.0) + i.cast("double")
            )
        mod = (
            F.col(id_col).cast("long") * F.lit(31)
            + F.col("_rep").cast("long") * F.lit(7)
            + i.cast("long")
        ) % F.lit(97)
        return F.lit(scale) * (mod.cast("double") / F.lit(97.0) - F.lit(0.5))

    # Two selects, not one: computing the perturbed vector and the shifted
    # id in a single projection lets Spark's lateral-column-alias
    # resolution bind the delta's id reference to the freshly ALIASED
    # (shifted) id instead of the input column — measured: replica 1 of
    # vec 0 perturbed with mod(31e6+7) rather than mod(7). The vector is
    # built first against the unambiguous input id, the shift happens after.
    pert = emb.crossJoin(F.broadcast(reps)).select(
        F.col(id_col).alias("_id0"),
        F.col("_rep"),
        F.when(F.col("_rep") == 0, F.transform(F.col(vec_col), lambda x: x.cast("double")))
        .otherwise(F.transform(F.col(vec_col), lambda x, i: x.cast("double") + delta(i)))
        .alias(vec_col),
    )
    return pert.select(
        (F.col("_id0") + F.col("_rep").cast("long") * 1_000_000).alias(id_col),
        vec_col,
    )


_PR2_REPLICAS = 3
_PR2_NLIST = 32
_PR2_NPROBE = 8


def _pagerank_replicated_oracle_sql(
    cap: int, replicas: int, k: int, iterations: int, damping: float, scale: float
) -> str:
    """DuckDB twin of the q162 pipeline: the rational-perturbation corpus
    replication reproduced in SQL (exact integer arithmetic + one IEEE
    division — bit-identical to the Catalyst form, see
    :func:`replicate_perturbed`), the exact all-pairs k-NN edge set (the
    recall-1 IVF build provably equals it), and ``iterations`` unrolled
    PageRank steps (the q122 CTE machinery over the grown corpus)."""
    reps = ", ".join(str(r) for r in range(replicas))
    head = f"""
        WITH emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {cap}
        ),
        corpus AS (
            SELECT vec_id + rep * 1000000 AS id,
                   CASE WHEN rep = 0 THEN v
                        ELSE list_transform(range(len(v)),
                             i -> v[CAST(i + 1 AS INT)]
                                  + {scale} * (CAST((vec_id * 31 + rep * 7 + i) % 97 AS DOUBLE) / 97.0 - 0.5))
                   END AS v
            FROM emb, unnest([{reps}]) t(rep)
        ),
        cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM corpus),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM corpus a JOIN corpus b ON a.id <> b.id
        ),
        edges AS (SELECT src, dst FROM scored WHERE rnk <= {k}),
        odeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src),
        e AS (SELECT edges.src, edges.dst, odeg.odeg FROM edges JOIN odeg USING (src)),
        r0 AS (SELECT id, 1.0 / cnt.n AS rank FROM corpus CROSS JOIN cnt)
    """
    steps = []
    for i in range(iterations):
        steps.append(
            f"""
        , c{i} AS (
            SELECT e.dst, SUM(r{i}.rank / e.odeg) AS inflow
            FROM e JOIN r{i} ON e.src = r{i}.id GROUP BY e.dst
        ),
        r{i + 1} AS (
            SELECT corpus.id,
                   (1 - {damping}) / cnt.n
                   + {damping} * COALESCE(c{i}.inflow, 0) AS rank
            FROM corpus CROSS JOIN cnt LEFT JOIN c{i} ON corpus.id = c{i}.dst
        )"""
        )
    tail = f"""
        SELECT id AS vec_id, ROUND(rank, 6) AS rank
        FROM r{iterations}
        ORDER BY vec_id
    """
    return head + "".join(steps) + tail


_PR3_CAP = 150
_PR3_NLIST = 8


@register(
    "q162_pagerank_replicated_verified",
    oracle=_pagerank_replicated_oracle_sql(
        _PR3_CAP, _PR2_REPLICAS, _PR_K, _PR_ITERS, DAMPING, 0.02
    ),
    doc=(
        "q150's full pipeline — deterministic corpus replication, "
        "IVF-approximate k-NN edge build, 10 PageRank rounds — in its "
        "hash-gateable configuration: rational perturbation (exact integer "
        "arithmetic + one IEEE division, bit-identical across engines, "
        "unlike the default transcendental sin noise) and nprobe = nlist "
        "(every cell probed → the edge set provably equals the exact "
        "all-pairs k-NN edges). Hash-matched against a generated DuckDB "
        "oracle that replicates the corpus in SQL and unrolls the same 10 "
        "iterations — closing q150's rows-only gap with an in-gate twin "
        "(round-4 verdict item 3)."
    ),
    tags=("graph", "similarity", "iterative", "verify"),
)
def q162_pagerank_replicated_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _PR3_CAP)
        .select("vec_id", "embedding")
    )
    # same persist rationale as q150 (kmeans 4× + assignment 2× + nodes)
    with pin_scope() as scope:
        corpus = cache(replicate_perturbed(emb, replicas=_PR2_REPLICAS, perturb="rational"))
        nodes = corpus.select(F.col("vec_id").alias("id"))
        edges = knn_edges_approx(corpus, k=_PR_K, nlist=_PR3_NLIST, nprobe=_PR3_NLIST)
        ranks = pagerank(nodes, edges, iterations=_PR_ITERS)
        out = scope.store(
            ranks.select(F.col("id").alias("vec_id"), F.round("rank", 6).alias("rank"))
        )
    return out.orderBy("vec_id")


@register(
    "q150_pagerank_approx_knn_graph",
    oracle=None,  # edges come from data-dependent k-means cells at nprobe <
    # nlist — not SQL-expressible. The driver records rows-only; the strong
    # checks are pytest-pinned: rank-mass conservation (Σ rank = 1), run-twice
    # determinism, and exact hash-parity of pagerank(knn_edges_approx) vs
    # pagerank(knn_edges) in the recall-1 configuration (tests/test_graph.py).
    doc=(
        "PageRank over an IVF-approximate k-NN graph at ~5× (gate) / ~20× "
        "(bench) q122's corpus: the embeddings table is deterministically "
        "replicated 3× with Catalyst-side perturbations, edges are built "
        "with knn_edges_approx (nprobe/nlist = 1/4 of the corpus scanned "
        "per node instead of all-pairs), then 10 synchronous PageRank "
        "rounds with lazy per-round lineage truncation. The bench's iterative "
        "representative doing real data work — the edge build is the "
        "dominant, corpus-linear-per-probe stage, exactly the 100 TB shape "
        "(q122's exact all-pairs build caps at 300 vectors)."
    ),
    bench=True,
    tags=("graph", "similarity", "iterative", "scale"),
)
def q150_pagerank_approx_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"].select("vec_id", "embedding")
    # Persist the replicated corpus for the pipeline's lifetime: kmeans
    # reads it 4× (init + 3 Lloyd rounds), cell assignment twice (corpus +
    # query side), the node table once — 7 scan+replicate recomputes
    # without the cache (measured r10: 0.5 s of the sf0.1 wall; at scale
    # the same passes re-read the parquet 7×). MEMORY_AND_DISK — spills,
    # never OOMs. pagerank() stores its ranks in this scope, so the
    # result is stored again before the scope releases them.
    with pin_scope() as scope:
        corpus = cache(replicate_perturbed(emb, replicas=_PR2_REPLICAS))
        nodes = corpus.select(F.col("vec_id").alias("id"))
        edges = knn_edges_approx(corpus, k=_PR_K, nlist=_PR2_NLIST, nprobe=_PR2_NPROBE)
        ranks = pagerank(nodes, edges, iterations=_PR_ITERS)
        out = scope.store(
            ranks.select(F.col("id").alias("vec_id"), F.round("rank", 6).alias("rank"))
        )
    return out.orderBy("vec_id")


# ---------------------------------------------------------------------------
# Triangle census / local clustering coefficient
# ---------------------------------------------------------------------------
def triangle_census(edges: DataFrame) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over the
    UNDIRECTED simple graph induced by ``edges`` (src/dst): ``(id,
    degree, triangles, clustering_coeff)`` with
    coeff = 2·tri / (deg·(deg−1)), 0 for degree < 2.

    Community structure over a k-NN document graph is a curation signal
    (tight clusters = near-duplicate families or topic clumps; coeff ~0 =
    hub spam), and the triangle census is its cheapest probe.

    Scale shape — degree-ordered orientation (the classical distributed
    triangle trick): every canonical edge is oriented from its
    lower-(degree, id) endpoint to the higher one, so each node's
    OUT-neighborhood is O(√m)-bounded on any graph (a hub's edges all
    point INTO it and it generates no wedges). Wedges come from one
    self-join of the oriented list on the source node; each wedge is
    closed by one equi-join against the canonical edge set; each
    triangle materializes exactly once. Without the orientation the
    wedge count is Σ deg², which a single celebrity node turns
    quadratic; with it, Σ outdeg² ≤ m^1.5.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("degree").alias("_dega"))
    db = deg.select(F.col("id").alias("b"), F.col("degree").alias("_degb"))
    # orient low-(degree, id) -> high-(degree, id); ties broken by id so
    # the orientation is total and deterministic
    lower_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    o1 = oriented.select("u", F.col("v").alias("v1"))
    o2 = oriented.select("u", F.col("v").alias("v2"))
    wedges = o1.join(o2, "u").where(F.col("v1") < F.col("v2"))
    closed = wedges.join(
        und,
        (F.least("v1", "v2") == und.a) & (F.greatest("v1", "v2") == und.b),
    ).select("u", "v1", "v2")
    corners = (
        closed.select(F.col("u").alias("id"))
        .unionAll(closed.select(F.col("v1").alias("id")))
        .unionAll(closed.select(F.col("v2").alias("id")))
    )
    tri = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.lit(2.0)
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - F.lit(1.0))),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


@register(
    "q213_knn_triangle_census",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {_PR_CAP}
        ),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb a JOIN emb b ON a.id <> b.id
        ),
        ed AS (SELECT src, dst FROM scored WHERE rnk <= {_PR_K}),
        und AS (
            SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM ed WHERE src <> dst
        ),
        deg AS (
            SELECT id, COUNT(*) AS degree
            FROM (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
            GROUP BY id
        ),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        pertri AS (
            SELECT id, COUNT(*) AS triangles
            FROM (SELECT x AS id FROM tri UNION ALL
                  SELECT y AS id FROM tri UNION ALL
                  SELECT z AS id FROM tri)
            GROUP BY id
        )
        SELECT d.id, CAST(d.degree AS BIGINT) AS degree,
               CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
               ROUND(CASE WHEN d.degree >= 2
                     THEN 2.0 * COALESCE(t.triangles, 0)
                          / (d.degree * (d.degree - 1.0))
                     ELSE 0.0 END, 6) AS clustering_coeff
        FROM deg d LEFT JOIN pertri t USING (id)
        ORDER BY d.id
    """,
    doc=(
        "triangle census + local clustering coefficient over the exact k-NN "
        "graph (300 nodes, k=5): degree-ordered edge orientation bounds "
        "wedge generation at sum(outdeg^2) <= m^1.5 even with hubs; the "
        "DuckDB oracle counts triangles the textbook a<b<c way — two "
        "independent triangle enumerations, one hash."
    ),
    tags=("graph", "dedup", "clustering"),
)
def q213_knn_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _PR_CAP)
        .select("vec_id", "embedding")
    )
    return triangle_census(knn_edges(emb, k=_PR_K)).orderBy("id")


# ---------------------------------------------------------------------------
# Label propagation (semi-supervised classification over the k-NN graph)
# ---------------------------------------------------------------------------
def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """(id, label) after ``iterations`` synchronous label-propagation steps.

    ``nodes``: (id, seed_label) with seed_label NULL for unlabeled rows;
    ``edges``: directed weighted (src, dst, w). Each step, every node
    takes the label with the largest incoming weighted vote from its
    currently-labeled in-neighbors (Zhu & Ghahramani's hard-clamp form:
    seeds never change; unlabeled nodes with no labeled in-neighbor keep
    their previous state, NULL until reached). Ties break to the smallest
    label. Weights are round_dp-decimal constants, so each vote is the
    exact integer SUM(w·10^round_dp) (the Fleiss convention: a sum of
    scaled-integer longs is order-free, unlike IEEE doubles) — the vote
    comparison, the only decision, is integer arithmetic both engines
    reproduce, making the fixed-iteration loop hash-checkable against an
    unrolled DuckDB CTE chain (the q122 recipe).

    Scale shape: each step is one edges⋈labels join (shuffle on src) +
    one (dst,label) aggregate + one dst argmax — edges shuffle once per
    round, labels are node-sized, and lineage is cut after every round but
    the last with :func:`~ai_batch_processing_spark.jobs.pin` so the plan
    doesn't double per iteration; the caller stores the result. The
    integer vote sum is a plain partial-aggregating F.sum: safe for hub
    dsts whose in-degree (unbounded in a directed k-NN graph — only
    OUT-degree is k-bounded) would make a collect_list fold corpus-sized.
    """
    seeds = nodes.select("id", F.col("seed_label").cast("int").alias("seed_label"))
    labels = seeds.select("id", F.col("seed_label").alias("label"))
    for i in range(iterations):
        lab = labels.filter(F.col("label").isNotNull()).select(
            F.col("id").alias("src"), "label"
        )
        votes = (
            edges.join(lab, "src")
            # w is a round_dp-decimal constant: w·10^round_dp rounds to an
            # exact long, and the long sum DECIDES the argmax label —
            # order-free (unlike an IEEE double fold) and in-degree-safe
            # (a hub dst may receive votes from nearly every node)
            .groupBy("dst", "label")
            .agg(
                F.sum(
                    F.round(F.col("w") * F.lit(10.0**round_dp), 0).cast("long")
                ).alias("v")
            )
        )
        best = (
            votes.groupBy("dst")
            .agg(F.max(F.struct(F.col("v"), (-F.col("label")).alias("nl"))).alias("m"))
            .select(F.col("dst").alias("id"), (-F.col("m.nl")).cast("int").alias("vote_label"))
        )
        labels = (
            seeds.join(best, "id", "left")
            .join(labels.select("id", F.col("label").alias("prev")), "id", "left")
            .select(
                "id",
                F.coalesce("seed_label", "vote_label", "prev").cast("int").alias("label"),
            )
        )
        if i < iterations - 1:
            labels = pin(labels)
    return labels


def _label_prop_oracle_sql(iterations: int, cap: int, k: int, seed_mod: int) -> str:
    """Unrolled DuckDB twin: same k-NN edges (weight = 6dp cosine), same
    clamped synchronous updates, ROW_NUMBER argmax with the same
    (votes DESC, label ASC) tie order."""
    head = f"""
        WITH emb AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings WHERE vec_id < {cap}
        ),
        seeds AS (
            SELECT id, CASE WHEN id % {seed_mod} = 0 THEN label END AS slabel
            FROM emb
        ),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS w,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb a JOIN emb b ON a.id <> b.id
        ),
        edges AS (SELECT src, dst, w FROM scored WHERE rnk <= {k}),
        l0 AS (SELECT id, slabel AS label FROM seeds)
    """
    steps = []
    for i in range(iterations):
        steps.append(
            f"""
        , v{i + 1} AS (
            SELECT e.dst, l.label,
                   SUM(CAST(ROUND(e.w * 1000000, 0) AS BIGINT)) AS v
            FROM edges e JOIN l{i} l ON e.src = l.id
            WHERE l.label IS NOT NULL
            GROUP BY e.dst, l.label
        ),
        b{i + 1} AS (
            SELECT dst, label FROM (
                SELECT dst, label,
                       ROW_NUMBER() OVER (
                           PARTITION BY dst ORDER BY v DESC, label ASC
                       ) AS rn
                FROM v{i + 1}
            ) WHERE rn = 1
        ),
        l{i + 1} AS (
            SELECT s.id,
                   CAST(COALESCE(s.slabel, b.label, p.label) AS INT) AS label
            FROM seeds s
            LEFT JOIN b{i + 1} b ON s.id = b.dst
            LEFT JOIN l{i} p ON s.id = p.id
        )"""
        )
    tail = f"""
        SELECT id AS vec_id, label FROM l{iterations} ORDER BY vec_id
    """
    return head + "".join(steps) + tail


_LP_ITERS = 3
_LP_SEED_MOD = 3  # every 3rd node keeps its label; the rest start unlabeled


@register(
    "q231_label_propagation",
    oracle=_label_prop_oracle_sql(_LP_ITERS, _PR_CAP, _PR_K, _LP_SEED_MOD),
    doc=(
        "semi-supervised label propagation over the embedding k-NN graph "
        "(300 nodes, k=5, 1/3 seeded, 3 clamped synchronous rounds): the "
        "cheap label-spreading step that turns a small labeled subset into "
        "corpus-wide labels before training a real classifier. One "
        "edges-join + vote aggregate + argmax per round, 6dp-rounded votes, "
        "hash-checked against the same rounds unrolled as DuckDB SQL."
    ),
    tags=("graph", "similarity", "iterative", "labels"),
)
def q231_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.similarity import cosine_topk

    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _PR_CAP)
        .select("vec_id", "embedding", "label")
    )
    with pin_scope() as scope:
        emb = cache(emb)
        nodes = emb.select(
            F.col("vec_id").alias("id"),
            F.when(F.col("vec_id") % _LP_SEED_MOD == 0, F.col("label")).alias(
                "seed_label"
            ),
        )
        edges = cosine_topk(emb, emb, k=_PR_K).select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
            F.col("score").alias("w"),
        )
        out = scope.store(label_propagation(nodes, edges, iterations=_LP_ITERS))
    return out.select(F.col("id").alias("vec_id"), "label").orderBy("vec_id")


def _label_prop_eval_oracle() -> str:
    from ai_batch_processing_spark.registry import registered_oracle

    q231 = registered_oracle("q231_label_propagation")
    return f"""
        WITH prop AS ({q231})
        SELECT e.label,
               CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(SUM(CASE WHEN p.label = e.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct,
               CAST(SUM(CASE WHEN p.label IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unlabeled,
               ROUND(SUM(CASE WHEN p.label = e.label THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 6) AS accuracy
        FROM embeddings e
        JOIN prop p ON p.vec_id = e.vec_id
        WHERE e.vec_id < {_PR_CAP} AND e.vec_id % {_LP_SEED_MOD} <> 0
        GROUP BY e.label ORDER BY e.label
    """


@register(
    "q242_label_prop_accuracy",
    oracle=_label_prop_eval_oracle(),
    doc=(
        "held-out accuracy of label propagation (q231): the 2/3 of nodes "
        "that started UNLABELED are scored against their true labels, per "
        "class — the go/no-go eval run before trusting spread labels as "
        "training signal (the q219/q221/q224 eval-family pattern: the "
        "approximate operator and its quality measurement both gated). "
        "Oracle embeds q231's unrolled twin verbatim via registered_oracle."
    ),
    tags=("graph", "eval", "labels"),
)
def q242_label_prop_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    prop = q231_label_propagation(spark, sf_dir).select(
        "vec_id", F.col("label").alias("_plabel")
    )
    truth = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter((F.col("vec_id") < _PR_CAP) & (F.col("vec_id") % _LP_SEED_MOD != 0))
        .select("vec_id", "label")
    )
    j = truth.join(prop, "vec_id")
    return (
        j.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum((F.col("_plabel") == F.col("label")).cast("int"))
            .cast("long")
            .alias("n_correct"),
            F.sum(F.col("_plabel").isNull().cast("int"))
            .cast("long")
            .alias("n_unlabeled"),
            F.round(
                F.sum((F.col("_plabel") == F.col("label")).cast("int"))
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# HITS (Kleinberg): hubs & authorities over the directed k-NN graph
# ---------------------------------------------------------------------------
def hits(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """(id, authority, hub) after ``iterations`` synchronous HITS rounds
    on the unweighted directed graph ``edges`` (src, dst).

    Scores live on the 6dp grid as SCALED LONGS: each half-step is an
    exact integer vote sum (a_i = Σ_{j→i} h_j — order-free, hub-safe,
    the label-prop convention) followed by ONE L1 normalization division
    (raw·scale / Σraw, identical IEEE doubles in any engine, HALF_UP
    back to the grid). That makes the fixed-iteration loop hash-exact
    against an unrolled DuckDB CTE chain — no sqrt, no float sums.

    Scale shape: per round, two edges⋈scores joins (shuffle on src then
    dst), two node-sized aggregates, and two scalar totals broadcast
    back; lineage is cut once per round but the last with
    :func:`~ai_batch_processing_spark.jobs.pin`, and the caller stores the
    result. Nodes without in-edges (authority) or out-edges (hub) hold 0.
    """
    h = nodes.select("id", F.lit(scale).cast("long").alias("h"))
    a = None
    for i in range(iterations):
        ar = (
            edges.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("raw"))
        )
        na = ar.agg(F.sum("raw").alias("s"))
        a = (
            nodes.join(ar.withColumnRenamed("dst", "id"), "id", "left")
            .crossJoin(F.broadcast(na))
            .select(
                "id",
                F.round(
                    F.coalesce(F.col("raw"), F.lit(0)) * F.lit(float(scale)) / F.col("s"),
                    0,
                )
                .cast("long")
                .alias("a"),
            )
        )
        hr = (
            edges.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("raw"))
        )
        nh = hr.agg(F.sum("raw").alias("s"))
        h = (
            nodes.join(hr.withColumnRenamed("src", "id"), "id", "left")
            .crossJoin(F.broadcast(nh))
            .select(
                "id",
                F.round(
                    F.coalesce(F.col("raw"), F.lit(0)) * F.lit(float(scale)) / F.col("s"),
                    0,
                )
                .cast("long")
                .alias("h"),
            )
        )
        if i < iterations - 1:
            h = pin(h)
    return (
        nodes.join(a, "id", "left")
        .join(h, "id", "left")
        .select(
            "id",
            F.round(F.col("a") / F.lit(float(scale)), 6).alias("authority"),
            F.round(F.col("h") / F.lit(float(scale)), 6).alias("hub"),
        )
    )


def _hits_oracle_sql(iterations: int, cap: int, k: int, scale: int = 1_000_000) -> str:
    head = f"""
        WITH emb AS MATERIALIZED (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {cap}
        ),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb a JOIN emb b ON a.id <> b.id
        ),
        edges AS MATERIALIZED (SELECT src, dst FROM scored WHERE rnk <= {k}),
        nodes AS MATERIALIZED (SELECT id FROM emb),
        h0 AS (SELECT id, CAST({scale} AS BIGINT) AS h FROM nodes)
    """
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f"""
        , ar{i} AS (
            SELECT e.dst AS id, SUM(h.h) AS raw
            FROM edges e JOIN h{i - 1} h ON h.id = e.src GROUP BY 1
        ),
        an{i} AS (SELECT SUM(raw) AS s FROM ar{i}),
        a{i} AS MATERIALIZED (
            SELECT n.id,
                   CAST(ROUND(COALESCE(ar.raw, 0) * {scale}.0 / an.s, 0) AS BIGINT) AS a
            FROM nodes n LEFT JOIN ar{i} ar ON ar.id = n.id CROSS JOIN an{i} an
        ),
        hr{i} AS (
            SELECT e.src AS id, SUM(a.a) AS raw
            FROM edges e JOIN a{i} a ON a.id = e.dst GROUP BY 1
        ),
        hn{i} AS (SELECT SUM(raw) AS s FROM hr{i}),
        h{i} AS MATERIALIZED (
            SELECT n.id,
                   CAST(ROUND(COALESCE(hr.raw, 0) * {scale}.0 / hn.s, 0) AS BIGINT) AS h
            FROM nodes n LEFT JOIN hr{i} hr ON hr.id = n.id CROSS JOIN hn{i} hn
        )"""
        )
    tail = f"""
        SELECT n.id AS vec_id,
               ROUND(a{iterations}.a / {scale}.0, 6) AS authority,
               ROUND(h{iterations}.h / {scale}.0, 6) AS hub
        FROM nodes n
        LEFT JOIN a{iterations} ON a{iterations}.id = n.id
        LEFT JOIN h{iterations} ON h{iterations}.id = n.id
        ORDER BY vec_id
    """
    return head + "".join(steps) + tail


_HITS_ITERS = 5


@register(
    "q247_hits_knn_graph",
    oracle=_hits_oracle_sql(_HITS_ITERS, _PR_CAP, _PR_K),
    doc=(
        "HITS hubs & authorities over the embedding k-NN graph (300 "
        "nodes, k=5, 5 synchronous rounds): the asymmetric centrality "
        "pagerank (q122) can't give — a vector that many neighborhoods "
        "POINT AT (authority) vs one whose OWN neighborhood covers "
        "well-cited vectors (hub). Integer vote sums + one L1 "
        "normalization division per half-step keep every score on the "
        "6dp grid; hash-matched against the rounds unrolled in DuckDB."
    ),
    tags=("graph", "similarity", "iterative", "centrality"),
)
def q247_hits_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.similarity import cosine_topk

    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _PR_CAP)
        .select("vec_id", "embedding")
    )
    with pin_scope() as scope:
        emb = cache(emb)
        nodes = emb.select(F.col("vec_id").alias("id"))
        edges = cosine_topk(emb, emb, k=_PR_K).select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
        )
        out = scope.store(hits(nodes, edges, iterations=_HITS_ITERS))
    return out.select(F.col("id").alias("vec_id"), "authority", "hub").orderBy("vec_id")


# ---------------------------------------------------------------------------
# Degree assortativity — does the k-NN graph have hub-attracts-hub
# structure? (one corr over the edge list)
# ---------------------------------------------------------------------------
def degree_assortativity(edges: DataFrame) -> DataFrame:
    """One row: (n_edges, n_nodes, avg_in_degree, assortativity) — the
    Pearson correlation of (out-degree of src, in-degree of dst) across
    directed edges. Positive = hubs link to hubs (rich-club), negative =
    hubs link to the periphery (star-like). In a k-NN graph out-degree
    is constant k, so the informative direction correlates src IN-degree
    with dst IN-degree (used here): do heavily-cited vectors cite each
    other? Two degree aggregates + two broadcast joins + one moment
    aggregate. The correlation is assembled EXPLICITLY from the six
    moments (n, Σx, Σy, Σxx, Σyy, Σxy) rather than F.corr: degrees are
    small integers so every moment is an exact double and the formula is
    bit-identical across engines (no kernel drift, no 1e-9 idiom) — and
    Spark's Corr aggregate throws DIVIDE_BY_ZERO under ANSI on a
    zero-variance side where this form returns NULL like SQL corr.
    """
    indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    e = (
        edges.join(
            indeg.select(F.col("dst").alias("src"), F.col("d").alias("dsrc")),
            "src",
            "left",
        )
        .join(indeg.select("dst", F.col("d").alias("ddst")), "dst", "left")
        .select(
            F.coalesce("dsrc", F.lit(0)).cast("double").alias("x"),
            F.coalesce("ddst", F.lit(0)).cast("double").alias("y"),
        )
    )
    nodes = edges.select(F.col("src").alias("id")).unionAll(
        edges.select(F.col("dst").alias("id"))
    ).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    moments = e.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        moments.crossJoin(F.broadcast(nn))
        .select(
            F.col("n").cast("long").alias("n_edges"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.round(F.col("sy") / F.col("n"), 6).alias("avg_in_degree"),
            F.when((vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6)).alias(
                "assortativity"
            ),
        )
    )


@register(
    "q252_degree_assortativity",
    oracle=f"""
        WITH emb AS MATERIALIZED (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {_PR_CAP}
        ),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb a JOIN emb b ON a.id <> b.id
        ),
        edges AS MATERIALIZED (SELECT src, dst FROM scored WHERE rnk <= {_PR_K}),
        indeg AS (SELECT dst, COUNT(*) AS d FROM edges GROUP BY dst),
        e AS (
            SELECT CAST(COALESCE(s.d, 0) AS DOUBLE) AS x,
                   CAST(COALESCE(t.d, 0) AS DOUBLE) AS y
            FROM edges
            LEFT JOIN indeg s ON s.dst = edges.src
            LEFT JOIN indeg t ON t.dst = edges.dst
        ),
        nn AS (
            SELECT COUNT(*) AS n_nodes FROM (
                SELECT src AS id FROM edges UNION SELECT dst FROM edges
            ) u
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
            FROM e
        )
        SELECT CAST(n AS BIGINT) AS n_edges,
               CAST(nn.n_nodes AS BIGINT) AS n_nodes,
               ROUND(sy / n, 6) AS avg_in_degree,
               CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                    THEN ROUND((n * sxy - sx * sy)
                               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               END AS assortativity
        FROM mom, nn
    """,
    doc=(
        "degree assortativity of the embedding k-NN graph: Pearson corr "
        "of (src in-degree, dst in-degree) over directed edges — the "
        "one-number hub-structure diagnostic (rich-club vs star) read "
        "before trusting pagerank/HITS centralities. Two degree "
        "aggregates + broadcast joins + one moment aggregate; the corr "
        "assembled explicitly from exact integer moments (engine-"
        "bit-identical, NULL on zero variance)."
    ),
    tags=("graph", "similarity", "stats"),
)
def q252_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.similarity import cosine_topk

    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _PR_CAP)
        .select("vec_id", "embedding")
    )
    with pin_scope() as scope:
        emb = cache(emb)
        edges = cosine_topk(emb, emb, k=_PR_K).select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
        )
        return scope.store(degree_assortativity(edges))


# ---------------------------------------------------------------------------
# k-core decomposition: iterative degree peeling (integer, fully portable)
# ---------------------------------------------------------------------------
def kcore_members(
    nodes: DataFrame,
    edges: DataFrame,
    k: int,
    rounds: int = 5,
    checkpoint_every: int = 2,
) -> DataFrame:
    """(id, degree): nodes surviving ``rounds`` synchronous peels of the
    k-core iteration — repeatedly drop every node whose degree in the
    surviving induced subgraph is < k. The community-density signal a
    curation pipeline reads off the similarity graph: deep cores are
    templated/near-duplicate neighborhoods, shallow nodes are singletons.

    ``edges`` is directed input and is symmetrized + self-loop-stripped +
    deduplicated here, so degree means UNDIRECTED neighbor count. The
    round count is FIXED (the pagerank/q122 convention): both engines
    compute the same ``rounds`` peels, so the DuckDB oracle unrolls the
    same chain and the result hash-gates. Everything is integer counts —
    the strongest cross-engine portability class (no rounding convention
    at all).

    Scale shape: per round one induced-degree aggregate (two semi joins
    against the alive set + a map-combinable count) and one filter;
    lineage cut every ``checkpoint_every`` rounds (the last round is stored
    with the result instead). The alive set only shrinks, so per-round work
    is monotonically decreasing.
    """
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    alive = nodes.select("id")
    with pin_scope() as scope:
        sym = cache(sym)
        for r in range(rounds):
            # two disambiguated projections of the SAME alive frame — a
            # self-referencing semi-join pair trips attribute resolution
            a_src = alive.select(F.col("id").alias("_aid_s"))
            a_dst = alive.select(F.col("id").alias("_aid_d"))
            deg = (
                sym.join(a_src, F.col("src") == F.col("_aid_s"), "left_semi")
                .join(a_dst, F.col("dst") == F.col("_aid_d"), "left_semi")
                .groupBy("src")
                .agg(F.count(F.lit(1)).cast("long").alias("degree"))
            )
            alive = deg.filter(F.col("degree") >= k).select(F.col("src").alias("id"))
            if r < rounds - 1 and (r + 1) % checkpoint_every == 0:
                alive = pin(alive)
        return scope.store(
            deg.filter(F.col("degree") >= k).select(F.col("src").alias("id"), "degree")
        )


def _kcore_oracle_sql(cap: int, knn_k: int, k: int, rounds: int) -> str:
    head = f"""
        WITH emb AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {cap}
        ),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb a JOIN emb b ON a.id <> b.id
        ),
        knn AS (SELECT src, dst FROM scored WHERE rnk <= {knn_k}),
        planted AS (
            SELECT a.id * 25 AS src, b.id * 25 AS dst
            FROM range(12) a(id), range(12) b(id) WHERE a.id < b.id
        ),
        dedges AS (SELECT src, dst FROM knn UNION ALL SELECT src, dst FROM planted),
        sym AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM dedges
                UNION ALL
                SELECT dst AS src, src AS dst FROM dedges
            ) WHERE src <> dst
        ),
        a0 AS (SELECT id FROM emb)
    """
    steps = []
    for r in range(rounds):
        steps.append(
            f"""
        , d{r + 1} AS (
            SELECT e.src AS id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM sym e
            JOIN a{r} s ON e.src = s.id
            JOIN a{r} t ON e.dst = t.id
            GROUP BY e.src
        ),
        a{r + 1} AS (SELECT id FROM d{r + 1} WHERE degree >= {k})"""
        )
    tail = f"""
        SELECT id, degree FROM d{rounds} WHERE degree >= {k}
        ORDER BY id
    """
    return head + "".join(steps) + tail


_KC_CAP = 300
_KC_K = 6
_KC_ROUNDS = 5


@register(
    "q272_kcore_members",
    oracle=_kcore_oracle_sql(_KC_CAP, _PR_K, _KC_K, _KC_ROUNDS),
    doc=(
        "k-core decomposition over the symmetrized embedding k-NN graph "
        "with a PLANTED 12-clique (ids 0,25,...,275 — the gate's known "
        f"dense neighborhood): {_KC_ROUNDS} fixed synchronous peels "
        f"dropping nodes with induced degree < {_KC_K}. The sparse k-NN "
        "periphery erodes over the rounds while the clique's degree-11 "
        "core survives — exactly the near-duplicate-cluster signal the "
        "operator exists to find. Integer degrees end to end (no "
        "rounding convention); the distributed peel loop hash-matches "
        "the unrolled DuckDB CTE chain."
    ),
    tags=("graph", "similarity", "iterative"),
)
def q272_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _KC_CAP)
        .select("vec_id", "embedding")
    )
    nodes = emb.select(F.col("vec_id").alias("id"))
    ids = spark.range(12).select((F.col("id") * 25).alias("n"))
    planted = (
        ids.select(F.col("n").alias("src"))
        .crossJoin(ids.select(F.col("n").alias("dst")))
        .filter(F.col("src") < F.col("dst"))
    )
    edges = knn_edges(emb, k=_PR_K).unionByName(planted)
    return kcore_members(nodes, edges, k=_KC_K, rounds=_KC_ROUNDS).orderBy("id")


# ---------------------------------------------------------------------------
# Mutual k-NN pairs: reciprocal-best-match candidate generation
# ---------------------------------------------------------------------------
def mutual_knn_pairs(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(src, dst): unordered pairs where EACH side is in the other's
    k-nearest neighbors — the reciprocity filter bitext mining and
    near-duplicate candidate generation use to kill hubness (a hub vector
    sits in thousands of k-NN lists, but reciprocates almost none of
    them; mutual pairs are overwhelmingly genuine matches).

    One edge build + a self-join of the edge set against its own swap:
    edge-set-sized work on top of whatever edge builder ran (the exact
    small-corpus kernel here; swap in :func:`knn_edges_approx` at scale —
    the reciprocity join is the same).
    """
    e = knn_edges(emb, k=k, id_col=id_col, vec_col=vec_col)
    fwd = e.filter(F.col("src") < F.col("dst"))
    rev = e.filter(F.col("src") > F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return fwd.join(rev, ["src", "dst"], "left_semi")


_MKNN_CAP = 300


@register(
    "q282_mutual_knn_pairs",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {_MKNN_CAP}
        ),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb a JOIN emb b ON a.id <> b.id
        ),
        edges AS (SELECT src, dst FROM scored WHERE rnk <= {_PR_K})
        SELECT f.src, f.dst
        FROM edges f JOIN edges r ON r.src = f.dst AND r.dst = f.src
        WHERE f.src < f.dst
        ORDER BY f.src, f.dst
    """,
    doc=(
        "mutual (reciprocal) k-NN pairs over the embedding corpus: both "
        "sides must appear in each other's top-5 — the hubness-killing "
        "reciprocity filter of bitext mining / near-dup candidate "
        "generation; one edge build + a semi-join of the edge set against "
        "its own swap."
    ),
    tags=("graph", "similarity", "dedup"),
)
def q282_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _MKNN_CAP)
        .select("vec_id", "embedding")
    )
    return mutual_knn_pairs(emb, k=_PR_K).orderBy("src", "dst")


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction: common-neighbor scoring of non-edges
# ---------------------------------------------------------------------------
def adamic_adar_topk(edges: DataFrame, top_k: int = 20) -> DataFrame:
    """(a, b, common_neighbors, aa_micro, aa_score): the ``top_k``
    NON-adjacent pairs most likely to be true links, scored by
    Adamic-Adar: AA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w)) — common
    neighbors weighted inversely by how promiscuous they are, so a
    shared rare neighbor says far more than a shared hub. On the
    document k-NN graph this is the near-duplicate candidate
    EXPANSION step: pairs the edge builder missed but whose
    neighborhoods already overlap.

    ``edges`` is directed input; symmetrized/deduplicated here. Scale
    shape: wedge enumeration is one self-join of the adjacency list on
    the center node w (Σ deg(w)² wedges — bounded on a k-NN graph where
    the orientation cap keeps out-degrees ≤ k; a celebrity-hub graph
    would want the q213 degree-orientation trick first), one anti-join
    against the edge set to keep non-edges, one aggregate, then a
    global top-k that compiles to TakeOrderedAndProject. Each 1/ln(deg)
    term is snapped to a 6dp scaled long BEFORE summation, so the
    per-pair score is an exact integer sum in both engines (a
    degree-1 node cannot be a common neighbor, so ln(deg) > 0 always).
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    with pin_scope() as scope:
        und = cache(und)
        sym = und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).select(
            F.col("a").alias("w"), F.col("b").alias("x")
        )
        deg = sym.groupBy("w").agg(F.count(F.lit(1)).alias("degree"))
        # per-center weight on the 6dp grid as an exact long: round(1e6/ln(deg)).
        # A degree-1 node cannot be a common neighbor, and ln(1)=0 would divide
        # by zero under ANSI — drop it before the weight, not in the expression.
        wt = deg.where(F.col("degree") >= 2).select(
            "w",
            F.round(F.lit(1e6) / F.log(F.col("degree").cast("double")))
            .cast("long")
            .alias("w_micro"),
        )
        n1 = sym.select("w", F.col("x").alias("x1"))
        n2 = sym.select("w", F.col("x").alias("x2"))
        wedges = (
            n1.join(n2, "w")
            .where(F.col("x1") < F.col("x2"))
            .join(wt, "w")
            .select(F.col("x1").alias("a"), F.col("x2").alias("b"), "w_micro")
        )
        non_edges = wedges.join(und, ["a", "b"], "left_anti")
        scored = non_edges.groupBy("a", "b").agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum("w_micro").cast("long").alias("aa_micro"),
        )
        return scope.store(
            scored.orderBy(F.desc("aa_micro"), "a", "b")
            .limit(top_k)
            .select(
                "a",
                "b",
                "common_neighbors",
                "aa_micro",
                F.round(F.col("aa_micro") / 1e6, 6).alias("aa_score"),
            )
        )


_AA_TOPK = 20


@register(
    "q284_adamic_adar_links",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {_PR_CAP}
        ),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb a JOIN emb b ON a.id <> b.id
        ),
        ed AS (SELECT src, dst FROM scored WHERE rnk <= {_PR_K}),
        und AS (
            SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM ed WHERE src <> dst
        ),
        sym AS (
            SELECT a AS w, b AS x FROM und
            UNION ALL SELECT b AS w, a AS x FROM und
        ),
        wt AS (
            SELECT w, CAST(ROUND(1e6 / LN(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w_micro
            FROM sym GROUP BY w HAVING COUNT(*) >= 2
        ),
        wedges AS (
            SELECT n1.x AS a, n2.x AS b, wt.w_micro
            FROM sym n1 JOIN sym n2 ON n1.w = n2.w AND n1.x < n2.x
            JOIN wt ON wt.w = n1.w
        ),
        nonedge AS (
            SELECT wg.a, wg.b, wg.w_micro
            FROM wedges wg ANTI JOIN und ON und.a = wg.a AND und.b = wg.b
        ),
        agg AS (
            SELECT a, b, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
                   CAST(SUM(w_micro) AS BIGINT) AS aa_micro
            FROM nonedge GROUP BY a, b
        )
        SELECT a, b, common_neighbors, aa_micro,
               ROUND(aa_micro / 1e6, 6) AS aa_score
        FROM agg
        ORDER BY aa_micro DESC, a, b
        LIMIT {_AA_TOPK}
    """,
    doc=(
        "Adamic-Adar link prediction over the embedding k-NN graph: the "
        "top-20 non-adjacent pairs by summed 1/ln(deg) over common "
        "neighbors — shared rare neighbors outvote shared hubs. The "
        "near-dup candidate EXPANSION step (pairs the edge builder "
        "missed whose neighborhoods already overlap); each term snapped "
        "to a 6dp scaled long before the exact integer sum."
    ),
    tags=("graph", "similarity", "ranking"),
)
def q284_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _PR_CAP)
        .select("vec_id", "embedding")
    )
    return adamic_adar_topk(knn_edges(emb, k=_PR_K), top_k=_AA_TOPK)


# ---------------------------------------------------------------------------
# Modularity of a node partition (Newman-Girvan Q)
# ---------------------------------------------------------------------------
def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One row ``(m_edges, n_communities, modularity)``: Newman-Girvan
    Q = Σ_c [m_c/m − (d_c/2m)²] of the partition ``labels`` (id, label)
    over the UNDIRECTED simple graph induced by ``edges`` — the
    one-number answer to "did label propagation find real structure or
    noise" (Q ≈ 0: no better than random; ≥ 0.3: strong communities).

    All inputs to the per-community term are exact integers (m, m_c,
    d_c — null labels bucket as community −1); each term is one
    fixed-order IEEE expression snapped to 6dp before the
    community-bounded sum. One degree aggregate + two label joins +
    one within-community edge count; never quadratic. The result is lazy:
    its scratch cache belongs to the caller's scope, which stores it.
    """
    und = cache(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    lab = labels.select("id", F.coalesce(F.col("label"), F.lit(-1)).alias("label"))
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    d_c = (
        deg.join(lab, "id")
        .groupBy("label")
        .agg(F.sum("degree").cast("long").alias("dc"))
    )
    la = lab.select(F.col("id").alias("a"), F.col("label").alias("la"))
    lb = lab.select(F.col("id").alias("b"), F.col("label").alias("lb"))
    m_c = (
        und.join(la, "a")
        .join(lb, "b")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("mc"))
    )
    m = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    per = (
        d_c.join(m_c, "label", "left")
        .select("label", "dc", F.coalesce("mc", F.lit(0)).alias("mc"))
        .crossJoin(F.broadcast(m))
    )
    term = F.round(
        F.col("mc").cast("double") / F.col("m")
        - (F.col("dc").cast("double") / (2 * F.col("m")))
        * (F.col("dc").cast("double") / (2 * F.col("m"))),
        6,
    )
    return per.select("m", term.alias("t")).groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.round(F.sum("t"), 6).alias("modularity"),
    ).select(F.col("m").alias("m_edges"), "n_communities", "modularity")


def _modularity_oracle_sql() -> str:
    from ai_batch_processing_spark.registry import registered_oracle

    q231 = registered_oracle("q231_label_propagation")
    return f"""
        WITH prop AS ({q231}),
        emb2 AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {_PR_CAP}
        ),
        scored2 AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb2 a JOIN emb2 b ON a.id <> b.id
        ),
        ed2 AS (SELECT src, dst FROM scored2 WHERE rnk <= {_PR_K}),
        und AS (
            SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM ed2 WHERE src <> dst
        ),
        lab AS (SELECT vec_id AS id, COALESCE(label, -1) AS label FROM prop),
        deg AS (
            SELECT id, COUNT(*) AS degree
            FROM (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
            GROUP BY id
        ),
        dc AS (
            SELECT lab.label, CAST(SUM(deg.degree) AS BIGINT) AS dc
            FROM deg JOIN lab USING (id) GROUP BY lab.label
        ),
        mc AS (
            SELECT la.label AS label, CAST(COUNT(*) AS BIGINT) AS mc
            FROM und
            JOIN lab la ON la.id = und.a
            JOIN lab lb ON lb.id = und.b
            WHERE la.label = lb.label
            GROUP BY la.label
        ),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
        per AS (
            SELECT dc.label, dc.dc, COALESCE(mc.mc, 0) AS mc, m.m
            FROM dc LEFT JOIN mc USING (label), m
        ),
        terms AS (
            SELECT m,
                   ROUND(CAST(mc AS DOUBLE) / m
                         - (CAST(dc AS DOUBLE) / (2 * m)) * (CAST(dc AS DOUBLE) / (2 * m)),
                         6) AS t
            FROM per
        )
        SELECT m AS m_edges,
               CAST(COUNT(*) AS BIGINT) AS n_communities,
               ROUND(SUM(t), 6) AS modularity
        FROM terms GROUP BY m
    """


@register(
    "q298_labelprop_modularity",
    oracle=_modularity_oracle_sql(),
    doc=(
        "Newman-Girvan modularity of the q231 label-propagation "
        "partition over the embedding k-NN graph: Q = sum m_c/m - "
        "(d_c/2m)^2 — did propagation find real community structure or "
        "noise (Q~0 random, >=0.3 strong)? Exact integer m/m_c/d_c into "
        "6dp-snapped fixed-order terms; oracle composes q231's unrolled "
        "rounds via registered_oracle so the partition can never drift."
    ),
    tags=("graph", "eval", "clustering"),
)
def q298_labelprop_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.similarity import cosine_topk

    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _PR_CAP)
        .select("vec_id", "embedding", "label")
    )
    with pin_scope() as scope:
        emb = cache(emb)
        nodes = emb.select(
            F.col("vec_id").alias("id"),
            F.when(F.col("vec_id") % _LP_SEED_MOD == 0, F.col("label")).alias(
                "seed_label"
            ),
        )
        wedges = cosine_topk(emb, emb, k=_PR_K).select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
            F.col("score").alias("w"),
        )
        prop = label_propagation(nodes, wedges, iterations=_LP_ITERS).select(
            "id", "label"
        )
        return scope.store(modularity(wedges.select("src", "dst"), prop))


# ---------------------------------------------------------------------------
# Personalized PageRank: teleport to a seed set (similar-item expansion)
# ---------------------------------------------------------------------------
def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = DAMPING,
    checkpoint_every: int = 2,
) -> DataFrame:
    """(id, rank) after ``iterations`` personalized-PageRank steps: the
    teleport vector is uniform over ``seeds`` (column ``id``) instead of
    all nodes — rᵢ₊₁(v) = (1−d)·p(v) + d·Σ rᵢ(u)/outdeg(u), p = 1/|S|
    on seeds, 0 elsewhere; r₀ = p. Mass concentrates in the seeds'
    neighborhood: the similar-item EXPANSION operator (grow a labeled
    topic slice through the k-NN graph) where global pagerank (q122)
    ranks everything.

    Same scale shape as :func:`pagerank`'s distributed loop — out-degree
    lives on the edge rows, one edge shuffle + one rank shuffle per
    round, lineage cut every ``checkpoint_every`` rounds. Non-seed sinks
    simply decay (no dangling redistribution, the q122 convention).
    """
    with pin_scope() as scope:
        e_raw = cache(edges)
        odeg = e_raw.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
        e = cache(e_raw.join(odeg, "src"))
        scnt = seeds.agg(F.count(F.lit(1)).cast("double").alias("ns"))
        p = cache(
            nodes.join(seeds.select(F.col("id").alias("_sid")), nodes.id == F.col("_sid"), "left")
            .crossJoin(F.broadcast(scnt))
            .select(
                "id",
                F.when(F.col("_sid").isNotNull(), 1.0 / F.col("ns"))
                .otherwise(0.0)
                .alias("p"),
            )
        )
        ranks = p.select("id", F.col("p").alias("rank"))
        for i in range(iterations):
            inflow = (
                e.join(ranks, e.src == ranks.id)
                .select(e.dst.alias("id"), (F.col("rank") / F.col("odeg")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("inflow"))
            )
            ranks = (
                p.join(inflow, "id", "left")
                .select(
                    "id",
                    (
                        (1 - damping) * F.col("p")
                        + damping * F.coalesce("inflow", F.lit(0.0))
                    ).alias("rank"),
                )
            )
            if i < iterations - 1 and (i + 1) % checkpoint_every == 0:
                ranks = pin(ranks)
        return scope.store(ranks)


_PPR_SEED_MOD = 50
_PPR_ITERS = 5
_PPR_TOPK = 20


def _ppr_oracle_sql(iterations: int, cap: int, k: int, damping: float, seed_mod: int, top_k: int) -> str:
    head = f"""
        WITH emb AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {cap}
        ),
        scored AS (
            SELECT a.id AS src, b.id AS dst,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC, b.id
                   ) AS rnk
            FROM emb a JOIN emb b ON a.id <> b.id
        ),
        edges AS (SELECT src, dst FROM scored WHERE rnk <= {k}),
        odeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src),
        e AS (SELECT edges.src, edges.dst, odeg.odeg FROM edges JOIN odeg USING (src)),
        ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM emb WHERE id % {seed_mod} = 0),
        pv AS (
            SELECT id, CASE WHEN id % {seed_mod} = 0 THEN 1.0 / ns.ns ELSE 0.0 END AS p
            FROM emb CROSS JOIN ns
        ),
        r0 AS (SELECT id, p AS rank FROM pv)
    """
    steps = []
    for i in range(iterations):
        steps.append(
            f"""
        , c{i} AS (
            SELECT e.dst, SUM(r{i}.rank / e.odeg) AS inflow
            FROM e JOIN r{i} ON e.src = r{i}.id GROUP BY e.dst
        ),
        r{i + 1} AS (
            SELECT pv.id,
                   (1 - {damping}) * pv.p
                   + {damping} * COALESCE(c{i}.inflow, 0) AS rank
            FROM pv LEFT JOIN c{i} ON pv.id = c{i}.dst
        )"""
        )
    tail = f"""
        SELECT id AS vec_id, ROUND(rank, 6) AS rank
        FROM r{iterations}
        ORDER BY ROUND(rank, 6) DESC, id
        LIMIT {top_k}
    """
    return head + "".join(steps) + tail


@register(
    "q299_personalized_pagerank",
    oracle=_ppr_oracle_sql(_PPR_ITERS, _PR_CAP, _PR_K, DAMPING, _PPR_SEED_MOD, _PPR_TOPK),
    doc=(
        "personalized PageRank from the vec_id%50==0 seed set over the "
        "embedding k-NN graph (5 rounds, d=0.85): teleport mass pinned "
        "to the seeds grows their neighborhood through the graph — the "
        "similar-item EXPANSION operator (topic-slice growing, labeled- "
        "set densification) where q122's global walk ranks everything. "
        "Top-20 on the 6dp grid vs the unrolled DuckDB rounds."
    ),
    tags=("graph", "similarity", "iterative", "ranking"),
)
def q299_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _PR_CAP)
        .select("vec_id", "embedding")
    )
    nodes = emb.select(F.col("vec_id").alias("id"))
    seeds = nodes.where(F.col("id") % _PPR_SEED_MOD == 0)
    ranks = personalized_pagerank(
        nodes, knn_edges(emb, k=_PR_K), seeds, iterations=_PPR_ITERS
    )
    return (
        ranks.select(F.col("id").alias("vec_id"), F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "vec_id")
        .limit(_PPR_TOPK)
    )
