"""Similarity search over embedding columns (``array<float>``).

Two paths, mirroring what a 100 TB training-data pipeline needs:

- **brute-force cosine top-k** — the correctness baseline. Broadcast the
  (small) query set against the full corpus; dot products computed with
  ``zip_with``/``aggregate`` entirely JVM-side; per-query top-k via a
  window. Cost: O(|corpus| · |queries|) — fine when queries are few,
  exact by construction.
- **random-hyperplane LSH ANN** — the scale path. Sign-bit signature from
  seeded hyperplanes buckets the corpus once (corpus-linear, one
  shuffle); queries probe only their bucket (plus optional multi-probe),
  then candidates are exactly rescored. Recall is asserted against the
  brute-force baseline in tests.

Also: embedding near-duplicate detection (cosine ≥ threshold pairs) —
brute-force on a bounded subset; at scale run it on LSH-bucket candidates.

The reference has no vector operations (all cells strings, SURVEY.md
§1.2); these are BASELINE.json north-star extensions.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_batch_processing_spark.jobs import cache, pin_scope
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables, shuffle_partitions


def _round_half_up(x, dp: int):
    """HALF_UP (ties away from zero) at ``dp`` decimals, vectorized.

    The convention DuckDB ``ROUND`` and Spark ``F.round`` share on ties —
    unlike ``np.round``/Python ``round`` (banker's: .5 → even), which the
    portable k-means verify mode used before round 6 and which would let
    an exact .5e-dp tie diverge between the three engines. The
    frac-vs-0.5 compare is exact on the scaled value (Sterbenz, see
    ``_sq8_np``); the one remaining divergence class vs F.round's
    shortest-decimal path is boundary-repr values, absent by the
    6dp-constant construction of the verify mode. Returns a float64
    ndarray (0-d for scalar input — wrap in ``float()``).
    """
    s = 10.0**dp
    t = np.abs(np.asarray(x, dtype=np.float64)) * s
    fl = np.floor(t)
    return np.sign(x) * (fl + (t - fl >= 0.5)) / s


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential order (oracle-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def _pair_dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — same value as :func:`_dot`, computed vectorized.

    Catalyst higher-order ``aggregate`` lambdas are interpreted per
    element: at ~µs/pair-element they dominate candidate rescoring once
    the pair stream is millions of rows (measured: the q150 IVF edge
    build spent >80% of its wall in the HOF fold). This Arrow-batched
    pandas UDF does one numpy column sweep per batch instead — BUT keeps
    the accumulation order SEQUENTIAL (``acc += x[:,j]·y[:,j]`` per
    dimension, i.e. ((0 + x₀y₀) + x₁y₁) + …), which is bit-identical in
    IEEE double to the HOF fold and to the DuckDB oracle's sequential
    sum — so swapping it into a hash-gated query cannot flip a rounded
    score. (A numpy ``matmul``/``einsum`` would use pairwise/blocked
    summation — faster still, but last-ulp different, and a value at a
    6dp rounding boundary would break hash parity.)
    """

    @F.pandas_udf("double")
    def dot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="float64")
        x = np.array([np.asarray(v, dtype=np.float64) for v in xs])
        y = np.array([np.asarray(v, dtype=np.float64) for v in ys])
        acc = np.zeros(len(x), dtype=np.float64)
        for j in range(x.shape[1]):
            acc = acc + x[:, j] * y[:, j]
        return pd.Series(acc)

    return dot(a, b)


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors per query row.

    Query side is broadcast (queries ≪ corpus); the corpus is scanned
    once, never shuffled until the per-query top-k window — which
    partitions on query id, so it scales with query count.
    Output: (query_id, neighbor_id, score).
    """
    # Norms computed once per side BEFORE the join — the per-pair work is
    # one dot product, not three array reductions.
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"), _norm(F.col(vec_col)).alias("_qn")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("_cv"), _norm(F.col(vec_col)).alias("_cn")
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id") if exclude_self else F.lit(True))
    # _pair_dot, not the interpreted _dot HOF fold: the all-pairs stream is
    # |q|·|c| rows and the fold costs ~µs per pair-ELEMENT (q122's 300-node
    # edge build: 90k pairs × 64 dims ≈ 5.8M interpreted lambda steps,
    # ~2.5s of its wall). The Arrow kernel sweeps columns sequentially —
    # bit-identical doubles (see _pair_dot's docstring), so hash-gated
    # consumers are unaffected.
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(_pair_dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """``cosine_topk``'s exact results from ONE kernel scan of the corpus
    (r11, guide §4.2 — the float64 twin of ``cosine_topk_sq8``'s shape).

    The join form ships BOTH vectors of every (query × corpus) pair
    through the Python boundary (|q|·|c| rows × 2 arrays for the
    ``_pair_dot`` pandas UDF); here the query matrix rides in the task
    closure, the corpus crosses Arrow exactly once, and only per-batch
    top candidates come back — the window then ranks a ≤ (k+ties)·|q|
    stream per batch instead of the full pair stream.

    Exactness vs ``cosine_topk`` (hash-gate-safe by construction):
    - dots and norms accumulate SEQUENTIALLY over dimensions
      (``acc += x[:,j]·q[j]``), bit-identical in IEEE double to the
      ``_pair_dot``/``_norm`` fold and the DuckDB oracle's sum — no
      matmul/pairwise summation anywhere;
    - the final rank runs in Catalyst on the ROUNDED score exactly as
      before; the kernel prunes per batch on the raw order with a 2e-6
      tie margin — any dropped row trails k batch rows by more than one
      6dp rounding bucket, so it can never reach the rounded-rank top-k
      (two doubles in the same 1e-6 bucket differ by < 1e-6);
    - zero-norm vectors keep the join form's NaN arithmetic (nothing is
      special-cased), and ``exclude_self`` masks ids inside the kernel
      exactly like the join predicate.

    Query-cardinality contract mirrors ``cosine_topk_sq8``: the query
    side is collected and broadcast in the closure, so it must be a
    bounded batch (``max_query_rows`` fails fast; ``None`` opts out).
    """
    if max_query_rows is not None:
        n_q = queries.limit(max_query_rows + 1).count()
        if n_q > max_query_rows:
            raise ValueError(
                f"cosine_topk_arrow: query set exceeds max_query_rows={max_query_rows}. "
                "The exhaustive scan collects the query side to the driver; "
                "corpus-sized query sets need the IVF candidate path."
            )
    qrows = queries.select(F.col(query_id).alias("id"), F.col(vec_col).alias("v")).collect()
    if not qrows:
        schema = "query_id long, neighbor_id long, score double, rank int"
        return corpus.sparkSession.createDataFrame([], schema)
    qm = np.array([np.asarray(list(r.v), dtype=np.float64) for r in qrows])
    qn = np.zeros(len(qm), dtype=np.float64)
    for j in range(qm.shape[1]):  # sequential, matching _norm's fold order
        qn = qn + qm[:, j] * qm[:, j]
    qn = np.sqrt(qn)
    qids = np.array([r.id for r in qrows], dtype=np.int64)

    c = corpus.select(F.col(corpus_id).alias("id"), F.col(vec_col).alias("v"))
    margin = 2e-6

    def score_blocks(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            ids = pdf["id"].to_numpy(dtype=np.int64)
            cn = np.zeros(len(x), dtype=np.float64)
            s = np.zeros((len(x), len(qm)), dtype=np.float64)
            for j in range(x.shape[1]):  # sequential over dims, vectorized over pairs
                col = x[:, j]
                cn = cn + col * col
                s = s + col[:, None] * qm[None, :, j]
            cn = np.sqrt(cn)
            sc = s / (qn[None, :] * cn[:, None])
            frames = []
            for qi, qid in enumerate(qids):
                col = sc[:, qi]
                keep = ids != qid if exclude_self else np.ones(len(ids), dtype=bool)
                idx = np.nonzero(keep)[0]
                if len(idx) == 0:
                    continue
                order = np.lexsort((ids[idx], -col[idx]))
                kth = col[idx[order[min(k, len(order)) - 1]]]
                sel = idx[order[col[idx[order]] >= kth - margin]]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(sel), qid, dtype=np.int64),
                            "neighbor_id": ids[sel],
                            "score": col[sel],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = c.mapInPandas(score_blocks, "query_id long, neighbor_id long, score double")
    rounded = scored.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        rounded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# --------------------------------------------------------------------------
# LSH ANN (random hyperplanes)
# --------------------------------------------------------------------------
def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded unit hyperplanes (driver-side constants, broadcast in the plan)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit i set iff vec · plane_i ≥ 0. Pure Catalyst."""
    acc = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        acc = acc + F.when(_dot(F.col(vec_col), plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return acc


def _table_bucket_expr(vec_col: str, tables: list[list[list[float]]]) -> Column:
    """array<struct<t, bucket>>: one (table-id, bucket-id) entry per LSH table."""
    return F.array(
        *[
            F.struct(F.lit(t).alias("t"), lsh_bucket_expr(vec_col, planes).alias("bucket"))
            for t, planes in enumerate(tables)
        ]
    )


def _table_buckets_vec(vec_col: str | Column, tables: list[list[list[float]]]) -> Column:
    """array<long>: bucket id per table — the numpy-vectorized twin of
    :func:`_table_bucket_expr` (index in the array = table id).

    The Catalyst form evaluates tables × planes interpreted ``aggregate``
    folds per vector (~12k lambda steps at 16×12×64) — measured >80% of
    the semantic-dedup wall at the x10 crossover point. This pandas UDF
    does one numpy column sweep per (table, plane), row-vectorized but
    DIM-SEQUENTIAL (``acc = acc + X[:,j]·p[j]``), so for DIM-MATCHED
    vectors every plane dot is bit-identical in IEEE double to the HOF
    fold and the sign bits — and therefore the buckets, candidates, and
    hash-gated outputs — cannot differ (the `_pair_dot` argument applied
    to bucketing). Vectors SHORTER than the planes (toy/test dims) are
    projected onto the shared prefix here, while the Catalyst form's
    ``zip_with`` pads with null (null dot → bit 0 for every plane):
    buckets may then diverge between the twins — a recall-only effect
    (both are valid sign-LSH families; precision is unaffected because
    every candidate is exactly rescored). The parity claim is scoped to
    dim-matched inputs, which is what every registered query uses.
    """
    dim = len(tables[0][0])

    @F.pandas_udf("array<long>")
    def bk(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        # vectors shorter than the planes (toy/test dims): project onto the
        # shared prefix — any fixed projection is a valid sign-LSH
        d = min(dim, x.shape[1])
        res = np.zeros((len(x), len(tables)), dtype=np.int64)
        for t, planes in enumerate(tables):
            for i, p in enumerate(planes):
                acc = np.zeros(len(x), dtype=np.float64)
                for j in range(d):
                    acc = acc + x[:, j] * p[j]
                res[:, t] |= (acc >= 0).astype(np.int64) << i
        return pd.Series(list(res))

    return bk(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def recommended_lsh_planes(n: int) -> int:
    """Log-scale plane count for DEDUP-grade thresholds (cosine ≥ ~0.95):
    ``max(8, ceil(log2 n) + 2)``.

    Random-pair collisions per table go as 2^-planes, so planes must grow
    with log(corpus) to keep the candidate stream O(n) — a flat count
    degrades toward the all-pairs join (measured at the x10 crossover
    point, 24k vectors: 12 planes → 1.7M candidates / 11.5 s; 16 planes →
    ~0.2M / 3.0 s; identical verified pair set). Recall stays dedup-safe:
    at cosine 0.99 (θ ≈ 8.1°) a 17-plane table collides w.p.
    (1−θ/π)¹⁷ ≈ 0.46, so missing all 16 tables ≈ 6·10⁻⁵ — and every
    surviving candidate is exactly rescored, so precision is 1 always.
    Lower thresholds need fewer planes (or more tables); this rule is for
    the near-duplicate regime.
    """
    return max(8, math.ceil(math.log2(max(2, n))) + 2)


def _lsh_tables(dim: int, n_planes: int, n_tables: int, seed: int) -> list[list[list[float]]]:
    """``n_tables`` independent sets of ``n_planes`` seeded unit hyperplanes."""
    rng = random.Random(seed)
    tables = []
    for _ in range(n_tables):
        planes = []
        for _ in range(n_planes):
            v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
            n = math.sqrt(sum(x * x for x in v)) or 1.0
            planes.append([x / n for x in v])
        tables.append(planes)
    return tables


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 16,
    dim: int = 64,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH + exact in-bucket rescore.

    A single sign-LSH table has poor recall when similarities are
    near-uniform (random embeddings: top-5 cosine ≈ 0.3-0.4), so the
    standard fix applies: ``n_tables`` independent tables, candidates =
    union of per-table bucket collisions, then exact rescore. Measured on
    this corpus: 4 planes × 16 tables ≈ 0.85 recall touching ~6% of the
    corpus per table.

    ``probe_hamming`` > 0 enables multi-probe: each query additionally
    probes every bucket within that hamming distance of its own (the
    classic recall/table-count trade — more probes per table instead of
    more tables; the corpus-side index cost is unchanged, only the probe
    fan-out grows by Σ C(n_planes, i)). At ``probe_hamming = n_planes``
    every bucket is probed, making the search EXHAUSTIVE — the
    configuration q134 pins against the brute-force SQL oracle.

    At 100 TB: the corpus-side signature explode is computed once and
    written partitioned by (t, bucket); each query probes its bucket set
    via partition pruning instead of scanning the corpus.
    """
    tables = _lsh_tables(dim, n_planes, n_tables, seed)

    c = (
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("_cv"), _norm(F.col(vec_col)).alias("_cn")
        )
        .select("neighbor_id", "_cv", "_cn", F.explode(_table_bucket_expr("_cv", tables)).alias("tb"))
        .select("neighbor_id", "_cv", "_cn", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
    )
    q = (
        queries.select(
            F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"), _norm(F.col(vec_col)).alias("_qn")
        )
        .select("query_id", "_qv", "_qn", F.explode(_table_bucket_expr("_qv", tables)).alias("tb"))
        .select("query_id", "_qv", "_qn", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
    )
    if probe_hamming > 0:
        masks = [m for m in range(1 << n_planes) if bin(m).count("1") <= probe_hamming]
        q = q.select(
            "query_id",
            "_qv",
            "_qn",
            "t",
            F.col("bucket").alias("_b0"),
            F.explode(F.array(*[F.lit(m).cast("long") for m in masks])).alias("_m"),
        ).select(
            "query_id", "_qv", "_qn", "t", F.col("_b0").bitwiseXOR(F.col("_m")).alias("bucket")
        )
    cands = (
        c.join(F.broadcast(q), ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "_qv", "_qn", "_cv", "_cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(_dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# --------------------------------------------------------------------------
# IVF ANN (inverted-file index: k-means coarse quantizer + cell probe)
# --------------------------------------------------------------------------
def kmeans_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "hash",
    round_dp: int | None = None,
) -> list[list[float]]:
    """Deterministic distributed Lloyd's iterations → ``nlist`` centroids.

    Init picks rows by xxhash64(id) order (seedless but deterministic —
    a reproducible pseudo-random sample, independent of partition layout).
    Each iteration is ONE fused Arrow-batched pass: assignment (numpy
    matmul against the normalized centroid matrix, same argmax tiebreak
    as :func:`assign_cells`) and per-(cell, dim) partial sums/counts are
    computed in the same kernel, so the per-round cost is a single Spark
    job whose shuffle is nlist×dim×batches PARTIAL rows — not the
    rows×dim posexplode the unfused form shuffled (measured at the q150
    bench shape: 3 Lloyd rounds fell from 4.3 s / 6 jobs to one job per
    round). Only the nlist×dim centroid matrix ever reaches the driver.
    Cells that lose all members keep their previous centroid, as before.

    SQL-portable mode (the q218 gate): ``init="first"`` seeds from the
    ``nlist`` lowest ids (ORDER BY id — expressible in any engine, unlike
    xxhash64), and ``round_dp`` rounds BOTH the assignment similarities
    (before argmax) and the updated centroid components after every
    round, so each iteration's decisions depend only on 6dp constants
    both engines agree on — that makes the whole iterative algorithm
    hash-checkable against an unrolled DuckDB CTE chain. Defaults keep
    the exact historical behavior for the IVF/PQ callers.
    """
    if init not in ("hash", "first"):
        raise ValueError(f"init must be 'hash' or 'first', got {init!r}")
    sel = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if init == "hash":
        sel = sel.orderBy(F.xxhash64(F.col("id")), F.col("id"))
    else:
        sel = sel.orderBy(F.col("id"))
    init_rows = sel.limit(nlist).collect()
    centroids = np.array([list(r.v) for r in init_rows], dtype=np.float64)
    vecs = corpus.select(F.col(vec_col).alias("v"))
    for _ in range(n_iter):
        cnorm = centroids / np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )

        def partials(batches, _c=cnorm, _dp=round_dp, _hu=_round_half_up):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
                mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
                sims = mn @ _c.T
                if _dp is not None:
                    sims = _hu(sims, _dp)
                cells = np.argmax(sims, axis=1)  # first-max, as assign_cells
                frames = []
                for c in np.unique(cells):
                    sel = m[cells == c]
                    sums = sel.sum(axis=0)
                    frames.append(
                        pd.DataFrame(
                            {
                                "cell": np.full(len(sums), c, dtype=np.int32),
                                "pos": np.arange(len(sums), dtype=np.int32),
                                "s": sums,
                                "n": np.full(len(sums), len(sel), dtype=np.int64),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

        new = (
            vecs.mapInPandas(partials, "cell int, pos int, s double, n long")
            .groupBy("cell", "pos")
            .agg((F.sum("s") / F.sum("n")).alias("m"))
            .collect()
        )
        for r in new:
            # round the UPDATED components only — kept-previous (emptied-
            # cell) centroids stay at their exact prior value, matching the
            # oracle twin's COALESCE(updated, previous) semantics
            centroids[r.cell][r.pos] = (
                r.m if round_dp is None else float(_round_half_up(r.m, round_dp))
            )
    return centroids.tolist()


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Add a ``cell`` column: index of the nearest centroid(s) by cosine.

    ``nprobe`` > 1 explodes each row into its n closest cells (query-side
    multi-probe). One numpy matmul per Arrow batch — the centroid matrix
    rides inside the UDF closure, the executor-side broadcast Spark always
    does for task binaries.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    cmat = np.array(centroids, dtype=np.float64)
    cnorm = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
    n_probe = min(nprobe, len(centroids))

    @F.pandas_udf(ArrayType(IntegerType()))
    def nearest_cells(vecs: pd.Series) -> pd.Series:
        out = []
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(m) == 0:
            return pd.Series(out)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cnorm.T  # (batch, nlist)
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    cells = df.withColumn("_cells", nearest_cells(F.col(vec_col)))
    # explode_OUTER on purpose: nearest_cells always returns a non-empty
    # array (n_probe >= 1), so the two are semantically identical — but a
    # plain explode makes InferFiltersFromGenerate add a
    # `size(nearest_cells(...)) > 0 AND isnotnull(...)` predicate that
    # predicate-pushdown shoves into any join BELOW this projection (e.g.
    # replicate_perturbed's broadcast replica crossJoin), where
    # ExtractPythonUDFFromJoinCondition then strips it with a noisy
    # "turned to cross join" rewrite. explode_outer infers no filter, so
    # the Python UDF never reaches a join condition (plan-pinned in
    # tests/test_plans.py).
    return cells.select(*df.columns, F.explode_outer("_cells").alias("cell"))


def _ivf_block_scores(c: DataFrame, q: DataFrame, k: int | None = None) -> DataFrame:
    """All (query, corpus) raw cosine scores within shared cells — the
    corpus-sized-queries kernel (``max_query_rows=None`` path).

    A pair-expanded join would shuffle every query vector once per
    candidate (measured at the q150 edge build: ~1.6 GB of duplicated
    64-dim arrays through the shuffle + Arrow for 1.6M pairs, >10 s);
    instead both sides shuffle ONCE on ``cell`` (each vector shipped a
    single time per probed cell) and a cogrouped ``applyInPandas`` block
    kernel emits only the skinny (query_id, neighbor_id, score) rows.

    Bit-parity contract: the per-dimension column sweep
    (``acc += Q[:,j]·C[:,j]ᵀ``) accumulates each pair's dot product in
    the SAME sequential IEEE-double order as the Catalyst
    ``aggregate`` fold and the DuckDB oracle — a BLAS matmul would be
    faster but pairwise-summed, and a last-ulp difference at a 6dp
    rounding boundary would break the q149 hash gate. Norms arrive
    precomputed from the JVM side (same ``_norm`` expression as every
    other path); rounding stays in Spark.

    Scale shape: per-group memory is O(|cell| · (dim + queries probing
    the cell)) — nlist must grow with the corpus (the standard IVF
    nlist ≈ √n rule) so cells stay executor-sized.

    With ``k`` set, each (query, cell) emits only candidates within one
    6dp rounding quantum of the cell's k-th best raw score — PROVABLY
    lossless for the downstream rounded-score top-k: a dropped candidate
    has ≥ k in-cell competitors whose raw score exceeds it by > 2·10⁻⁶,
    hence whose ROUNDED score is strictly greater, so it can never enter
    the global top-k under any tie-break. This keeps the kernel output
    (and the top-k window's shuffle) at ~k rows per (query, cell)
    instead of |cell| — the difference between 25M and 0.4M rows at the
    q150 bench shape.
    """
    schema = "query_id long, neighbor_id long, score double"
    margin = 2e-6

    def score_cell(key, cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0 or len(qdf) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        cm = np.array([np.asarray(v, dtype=np.float64) for v in cdf["_cv"]])
        qm = np.array([np.asarray(v, dtype=np.float64) for v in qdf["_qv"]])
        acc = np.zeros((len(qm), len(cm)), dtype=np.float64)
        for j in range(cm.shape[1]):
            acc = acc + np.outer(qm[:, j], cm[:, j])
        denom = np.outer(qdf["_qn"].to_numpy(), cdf["_cn"].to_numpy())
        scores = acc / denom
        qids = qdf["query_id"].to_numpy()
        nids = cdf["neighbor_id"].to_numpy()
        masked = np.where(qids[:, None] == nids[None, :], -np.inf, scores)
        if k is not None and len(nids) > k:
            kth = np.partition(masked, len(nids) - k, axis=1)[:, len(nids) - k]
            keep = masked >= (kth[:, None] - margin)
        else:
            keep = masked > -np.inf
        qi, ci = np.nonzero(keep)
        return pd.DataFrame(
            {"query_id": qids[qi], "neighbor_id": nids[ci], "score": scores[qi, ci]}
        )

    # Explicit REPARTITION_BY_NUM on cell (both sides, same N → the
    # cogroup reuses the exchange, no extra shuffle): this stage's cost
    # is the numpy block kernel, which AQE's BYTE-based coalescing
    # cannot see — with coalescePartitions.parallelismFirst=false the
    # few-MB cell exchange would collapse to one task and serialize
    # nlist cells of O(|cell|·|probes|·dim) compute (measured at the
    # q150 bench shape: +1.9 s). The explicit N is the session's
    # shuffle-partition conf — the same scale-parameterised value the
    # exchange had before coalescing, pinned (AQE leaves
    # REPARTITION_BY_NUM alone).
    n_part = shuffle_partitions(c.sparkSession)
    return (
        c.select("cell", "neighbor_id", "_cv", "_cn")
        .repartition(n_part, "cell")
        .groupBy("cell")
        .cogroup(
            q.select("cell", "query_id", "_qv", "_qn").repartition(n_part, "cell").groupBy("cell")
        )
        .applyInPandas(score_cell, schema)
    )


def _probe_join(c: DataFrame, q: DataFrame, queries: DataFrame, max_query_rows: int) -> DataFrame:
    """Join the probed query side to the cell-assigned corpus (bounded-batch
    path of :func:`_ivf_scored`).

    The broadcast-the-queries plan is only right for bounded query BATCHES
    — the day someone passes the corpus as queries (all-vs-all), a
    broadcast would try to ship the whole corpus to every task. Guard: a
    limit-pushdown count fails fast past the cap and points at the
    ``max_query_rows=None`` cell-cogrouped path (:func:`_ivf_block_scores`),
    which is correct at any query cardinality.
    """
    n = queries.limit(max_query_rows + 1).count()
    if n > max_query_rows:
        raise ValueError(
            f"IVF probe: query set exceeds max_query_rows={max_query_rows}. "
            "The probe broadcasts the query side, which is only right for "
            "bounded query batches. Pass max_query_rows=None to switch to the "
            "cell-cogrouped block kernel for corpus-sized query sets."
        )
    return c.join(F.broadcast(q), "cell")


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """IVF approximate top-k: k-means cells + nprobe-cell search.

    Build: centroids (corpus-linear) + one assignment pass — at 100 TB the
    assigned corpus is written partitioned by ``cell`` once and reused per
    query batch (partition pruning turns each query into an nprobe-cell
    scan, ~nprobe/nlist of the corpus). Search: queries explode to their
    nprobe nearest cells, join corpus on cell, exact cosine rescore,
    per-query top-k window. Query-side cardinality contract: see
    :func:`_probe_join` (``max_query_rows``).
    """
    centroids = kmeans_centroids(corpus, nlist=nlist, id_col=corpus_id, vec_col=vec_col)
    c = assign_cells(corpus, centroids, id_col=corpus_id, vec_col=vec_col).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
        "cell",
    )
    q = assign_cells(queries, centroids, id_col=query_id, vec_col=vec_col, nprobe=nprobe).select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
        "cell",
    )
    scored = _ivf_scored(c, q, queries, max_query_rows, k=k)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _ivf_scored(
    c: DataFrame, q: DataFrame, queries: DataFrame, max_query_rows: int | None, k: int | None = None
) -> DataFrame:
    """Rounded (query_id, neighbor_id, score) candidates, path picked by the
    query-cardinality contract:

    - bounded batch (``max_query_rows`` set): guarded broadcast cell join
      (:func:`_probe_join`) + ``_pair_dot`` rescore — the corpus side is
      never shuffled.
    - corpus-sized (``None``): cogrouped per-cell block kernel
      (:func:`_ivf_block_scores`) — both sides shuffle once on cell,
      vectors ship once each, identical scores by construction.

    No pair-level distinct on either path: a corpus vector lives in
    exactly ONE cell and a query probes nprobe DISTINCT cells, so each
    (query, neighbor) pair appears at most once — a dropDuplicates would
    just re-shuffle the full candidate stream.
    """
    if max_query_rows is None:
        return _ivf_block_scores(c, q, k=k).select(
            "query_id", "neighbor_id", F.round("score", 6).alias("score")
        )
    cands = _probe_join(c, q, queries, max_query_rows).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return cands.select(
        "query_id",
        "neighbor_id",
        F.round(_pair_dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6).alias("score"),
    )


def embedding_near_dup_pairs(
    df: DataFrame, threshold: float = 0.99, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Cosine ≥ threshold pairs (id_a < id_b). Brute force O(n²) — the
    VERIFY/oracle twin of :func:`embedding_near_dup_pairs_lsh` (the
    corpus-linear scale path), mirroring jaccard_pairs ↔
    minhash_dedup_pairs for text."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), _norm(F.col(vec_col)).alias("_na"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), _norm(F.col(vec_col)).alias("_nb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    score = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return pairs.select("id_a", "id_b", F.round(score, 6).alias("score")).filter(
        F.col("score") >= threshold
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int = 2000,
) -> DataFrame:
    """Corpus-linear near-dup pairs: hyperplane-LSH candidates + exact rescore.

    The embedding twin of ``minhash_dedup_pairs`` (dedup.py): bucket the
    corpus once per LSH table (sign-bit signatures, pure Catalyst), take
    same-bucket collisions as candidates, then exactly rescore each
    candidate's cosine — precision 1.0 by construction, recall set by the
    table count. At dedup thresholds the miss probability is negligible:
    cosine ≥ 0.99 ⇒ θ ≤ 8.1°, one 8-plane table collides w.p.
    (1−θ/π)⁸ ≈ 0.69, so missing all 16 tables ≈ (0.31)¹⁶ ≈ 5·10⁻⁹.
    Tests pin LSH-vs-brute-force pair equality on a perturbed corpus.

    Cost: corpus × n_tables explode of (id, bucket) keys only (vectors
    join back at rescore — shuffle bytes stay id-sized), one self-join on
    the bucket key, candidates-linear rescore. Buckets over ``max_bucket``
    are dropped (degenerate mass duplicates — handled by exact dedup) to
    bound the m² blow-up, same cap as the MinHash banding.
    """
    tables = _lsh_tables(dim, n_planes, n_tables, seed)
    base = cache(
        df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("_v"), _norm(F.col(vec_col)).alias("_n")
        )
    )
    # vectorized bucketing (see _table_buckets_vec: bit-identical signs),
    # lazily checkpointed — the signature pass feeds THREE consumers
    # (bucket counts + both sides of the self-join) and must run once
    sig = (
        base.select("id", F.posexplode(_table_buckets_vec("_v", tables)).alias("t", "bucket"))
        .select("id", F.struct("t", "bucket").alias("tb"))
        .localCheckpoint(eager=False)
    )
    counts = sig.groupBy("tb").agg(F.count(F.lit(1)).alias("m"))
    ok = sig.join(F.broadcast(counts.filter(F.col("m") > max_bucket)), ["tb"], "left_anti")
    x, y = ok.alias("x"), ok.alias("y")
    cands = (
        x.join(y, (F.col("x.tb") == F.col("y.tb")) & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    a = base.select(F.col("id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = base.select(F.col("id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    # vectorized rescore: the candidate stream is the corpus-dominant cost
    # on duplicate-heavy corpora (x10 crossover: 148k pairs, >80% of the
    # wall in the interpreted HOF fold); _pair_dot keeps the sequential
    # accumulation order, so hash-gated consumers (q46/q118) are unchanged
    score = _pair_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .filter(score >= threshold)  # unrounded, matching the brute-force twin
        .select("id_a", "id_b", F.round(score, 6).alias("score"))
    )


# --------------------------------------------------------------------------
# Registered queries
# --------------------------------------------------------------------------
def _bruteforce_topk_oracle(lo: int, hi: int, k: int = 5) -> str:
    """Exact cosine top-k DuckDB SQL for queries ``lo <= vec_id < hi`` —
    the shared ground truth for q45 (brute force) and the exhaustive-probe
    ANN twins q133/q134 (which provably reduce to brute force)."""
    return f"""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id >= {lo} AND vec_id < {hi}),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        scored AS (
            SELECT
                query_id,
                neighbor_id,
                ROUND(list_cosine_similarity(qv, cv), 6) AS score
            FROM q JOIN c ON query_id <> neighbor_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, score, rank
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


@register(
    "q45_ann_bruteforce_topk",
    oracle=_bruteforce_topk_oracle(0, 8),
    doc="brute-force cosine top-k (exact ANN baseline) — zip_with/aggregate dot products, broadcast queries.",
    bench=True,
    tags=("similarity", "ann"),
)
def q45_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    # cosine_topk_arrow (r11): one kernel scan with the query matrix
    # resident per task replaces the BroadcastNestedLoopJoin pair stream —
    # result-identical by construction (sequential fold order, rounded
    # rank in Catalyst; verified identical on all three SFs and the x100
    # replicas), x100 wall 1.27 -> 0.71 s interleaved.
    return cosine_topk_arrow(emb, queries, k=5).orderBy("query_id", "rank")


@register(
    "q46_embedding_near_dup",
    oracle="""
        WITH corpus AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 300
            UNION ALL
            SELECT vec_id + 100000 AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 300 AND vec_id % 5 = 0
        )
        SELECT a.id AS id_a, b.id AS id_b, ROUND(list_cosine_similarity(a.v, b.v), 6) AS score
        FROM corpus a JOIN corpus b ON a.id < b.id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        ORDER BY id_a, id_b
    """,
    doc=(
        "embedding-cosine near-duplicate pairs (threshold 0.99): registered path "
        "is the corpus-linear LSH-bucketed scale variant; the DuckDB oracle is "
        "the brute-force all-pairs verify (q41↔q42 pattern for embeddings)."
    ),
    tags=("similarity", "dedup"),
)
def q46_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    base = t["embeddings"].filter(F.col("vec_id") < 300).select(F.col("vec_id").alias("id"), "embedding")
    dups = (
        t["embeddings"]
        .filter((F.col("vec_id") < 300) & (F.col("vec_id") % 5 == 0))
        .select((F.col("vec_id") + 100000).alias("id"), "embedding")
    )
    with pin_scope():
        out = embedding_near_dup_pairs_lsh(
            base.unionAll(dups), threshold=0.99, id_col="id"
        ).localCheckpoint(eager=True)
    return out.orderBy("id_a", "id_b")


@register(
    "q44_ann_ivf_topk",
    oracle=None,  # approximate by design; recall vs q45's exact result is
    # asserted in tests/test_similarity.py.
    doc="IVF approximate top-k: k-means coarse quantizer, nprobe-cell probe, exact rescore.",
    tags=("similarity", "ann", "ivf"),
)
def q44_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_ivf_topk(emb, queries, k=5, nlist=16, nprobe=4).orderBy("query_id", "rank")


@register(
    "q47_ann_lsh_topk",
    oracle=None,  # approximate by design; recall vs q45's exact result is
    # asserted in tests/test_similarity.py.
    doc="LSH-bucketed approximate top-k (random hyperplanes, exact rescore in-bucket).",
    tags=("similarity", "ann", "lsh"),
)
def q47_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_lsh_topk(emb, queries, k=5).orderBy("query_id", "rank")


@register(
    "q133_ivf_exhaustive_topk",
    oracle=_bruteforce_topk_oracle(8, 16),
    doc=(
        "q44's full IVF pipeline (deterministic distributed k-means build, "
        "Arrow-batched matmul cell assignment, cell-join probe, exact "
        "rescore, per-query top-k window) run with nprobe = nlist: every "
        "cell is probed, so the result provably equals brute-force top-k "
        "regardless of where k-means placed the centroids — which makes the "
        "whole machinery hash-matchable against the independent DuckDB "
        "oracle. The approximation itself (nprobe < nlist) remains covered "
        "by q44's recall tests; this twin pins everything deterministic."
    ),
    tags=("similarity", "ann", "ivf", "verify"),
)
def q133_ivf_exhaustive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
    return ann_ivf_topk(emb, queries, k=5, nlist=16, nprobe=16).orderBy("query_id", "rank")


@register(
    "q134_lsh_multiprobe_exhaustive_topk",
    oracle=_bruteforce_topk_oracle(16, 24),
    doc=(
        "q47's hyperplane-LSH pipeline with multi-probe at full radius "
        "(probe_hamming = n_planes): every bucket of every table is probed, "
        "so bucketing + probe-join + exact rescore provably reduce to "
        "brute-force top-k and hash-match the DuckDB oracle. Partial-radius "
        "multi-probe (the production recall knob) is covered by recall "
        "tests; this twin pins the deterministic machinery."
    ),
    tags=("similarity", "ann", "lsh", "verify"),
)
def q134_lsh_multiprobe_exhaustive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 24))
    return ann_lsh_topk(
        emb, queries, k=5, n_planes=4, n_tables=2, probe_hamming=4
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# --------------------------------------------------------------------------
def hard_negative_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    anchor_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_anchor_rows: int | None = 100_000,
) -> DataFrame:
    """Per anchor: the ``k`` most-similar vectors with a DIFFERENT label —
    the hard negatives a contrastive trainer pairs against each anchor.

    Same plan shape as :func:`cosine_topk` (broadcast anchors, one corpus
    scan, per-anchor top-k window) with the label-inequality folded into
    the join condition, so same-label rows are dropped before any dot
    product is computed. At scale, swap the exhaustive scan for the
    LSH/IVF candidate generation exactly as for ANN top-k — the
    label-inequality filter composes unchanged.

    Anchor-cardinality contract (mirrors ``_probe_join``): the plan
    broadcasts the anchors side and the inequality join is a
    label-filtered cartesian product, so it is only right for bounded
    anchor BATCHES. With ``max_anchor_rows`` set (default) a
    limit-pushdown count fails fast on corpus-sized anchor sets instead
    of blowing the broadcast limit / OOMing executors mid-scan; pass
    ``max_anchor_rows=None`` to accept an unhinted join (AQE picks the
    strategy, still O(|corpus|·|anchors|) work — at that shape use the
    IVF/LSH candidate path instead).
    Output: (anchor_id, negative_id, score, rank).
    """
    if max_anchor_rows is not None:
        n = anchors.limit(max_anchor_rows + 1).count()
        if n > max_anchor_rows:
            raise ValueError(
                f"hard_negative_topk: anchor set exceeds max_anchor_rows={max_anchor_rows}. "
                "The plan broadcasts the anchors side against every corpus row; "
                "corpus-sized anchor sets need the IVF/LSH candidate path "
                "(ann_ivf_topk / ann_lsh_topk + label filter), or pass "
                "max_anchor_rows=None to accept the unhinted quadratic join."
            )
    a = anchors.select(
        F.col(anchor_id).alias("anchor_id"),
        F.col(label_col).alias("_al"),
        F.col(vec_col).alias("_av"),
        _norm(F.col(vec_col)).alias("_an"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("negative_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    a_side = F.broadcast(a) if max_anchor_rows is not None else a
    pairs = c.join(a_side, F.col("_al") != F.col("_cl"))
    scored = pairs.select(
        "anchor_id",
        "negative_id",
        F.round(_dot(F.col("_av"), F.col("_cv")) / (F.col("_an") * F.col("_cn")), 6).alias("score"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("score"), F.asc("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "negative_id", "score", "rank")
    )


@register(
    "q143_hard_negative_mining",
    oracle="""
        WITH a AS (SELECT vec_id AS anchor_id, label AS al, CAST(embedding AS DOUBLE[]) AS av
                   FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS negative_id, label AS cl, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        scored AS (
            SELECT anchor_id, negative_id,
                   ROUND(list_cosine_similarity(av, cv), 6) AS score
            FROM a JOIN c ON al <> cl
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY score DESC, negative_id) AS rank
            FROM scored
        )
        SELECT anchor_id, negative_id, score, rank
        FROM ranked WHERE rank <= 5
        ORDER BY anchor_id, rank
    """,
    doc=(
        "hard-negative mining for contrastive training: per anchor, the "
        "top-k most-cosine-similar vectors of a DIFFERENT label — the "
        "label-inequality folds into the broadcast join condition, so "
        "same-label pairs never reach the dot product."
    ),
    tags=("similarity", "contrastive", "curation"),
)
def q143_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    anchors = emb.filter(F.col("vec_id") < 8)
    return hard_negative_topk(emb, anchors, k=5).orderBy("anchor_id", "rank")


# --------------------------------------------------------------------------
# Per-label centroid outliers (semantic QA for labeled embedding sets)
# --------------------------------------------------------------------------
def label_centroids(emb: DataFrame, label_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """(label, centroid: array<double>) — dimension-wise mean per label.

    The scale pattern for vector aggregation: ``posexplode`` the vectors so
    each (label, dimension) pair is an independent partial-aggregated avg —
    one shuffle of #labels × dim rows, never a whole-vector reduce through
    one task — then re-assemble with a position-sorted ``collect_list``.
    """
    pos = emb.select(F.col(label_col).alias("label"), F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"))
    cent = pos.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    return (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )


def centroid_outliers(
    emb: DataFrame,
    per_label: int = 5,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ``per_label`` vectors FARTHEST from their own label's centroid:
    (vec_id, label, cos_centroid, rnk) — mislabel/noise candidates.

    Centroids are #labels rows → explicitly broadcast; ranking is a
    per-label window on the ROUNDED cosine (vec_id tiebreak) so the
    selected rows are stable across engines and float-sum orders.
    """
    cents = label_centroids(emb, label_col, vec_col)
    scored = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(label_col).alias("label"), F.col(vec_col).cast("array<double>").alias("v"))
        .join(F.broadcast(cents), "label")
        .select("vec_id", "label", F.round(cosine(F.col("v"), F.col("centroid")), 6).alias("cos_centroid"))
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_centroid"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= per_label)
        .select("vec_id", "label", "cos_centroid", "rnk")
    )


@register(
    "q116_embedding_outliers",
    oracle="""
        WITH pos AS (
            SELECT vec_id, label, g AS pos,
                   CAST(list_extract(embedding, g) AS DOUBLE) AS x
            FROM embeddings, generate_series(1, 64) t(g)
        ),
        cent AS (SELECT label, pos, AVG(x) AS m FROM pos GROUP BY label, pos),
        dots AS (
            SELECT p.vec_id, p.label,
                   SUM(p.x * c.m) AS dot,
                   SQRT(SUM(p.x * p.x)) AS nv
            FROM pos p JOIN cent c USING (label, pos)
            GROUP BY p.vec_id, p.label
        ),
        cn AS (SELECT label, SQRT(SUM(m * m)) AS nc FROM cent GROUP BY label),
        scored AS (
            SELECT d.vec_id, d.label,
                   ROUND(d.dot / (d.nv * cn.nc), 6) AS cos_centroid
            FROM dots d JOIN cn USING (label)
        ),
        ranked AS (
            SELECT vec_id, label, cos_centroid,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY label ORDER BY cos_centroid ASC, vec_id
                   ) AS BIGINT) AS rnk
            FROM scored
        )
        SELECT vec_id, label, cos_centroid, rnk
        FROM ranked WHERE rnk <= 5
        ORDER BY label, rnk
    """,
    doc="per-label centroid outliers: dimension-wise distributed centroid "
    "(posexplode + partial-agg avg), broadcast join, farthest-5 per label.",
    tags=("similarity", "quality", "outliers"),
)
def q116_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return centroid_outliers(t["embeddings"], per_label=5).orderBy("label", "rnk")


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: near-identical-embedding clusters → keep one)
# --------------------------------------------------------------------------
def semantic_dedup_clusters(
    emb: DataFrame,
    threshold: float = 0.99,
    id_col: str = "id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 16,
) -> DataFrame:
    """(keep_id, cluster_size): one survivor per semantic-duplicate cluster.

    The embedding-space analog of ``dedup.near_dedup``: candidate pairs
    come from the corpus-linear hyperplane-LSH bucketing with exact cosine
    rescore (``embedding_near_dup_pairs_lsh`` — never an all-pairs join),
    the pair graph collapses to components by distributed min-label
    propagation, and the survivor is the minimum id per component. At
    100 TB the LSH banding bounds candidate generation exactly as it does
    for q46; component diameter stays shallow (dup sets, not chains).
    """
    from ai_batch_processing_spark.operators.dedup import connected_components

    ids = emb.select(F.col(id_col).alias("id"))
    # n_planes is the log-scale knob: buckets per table = 2^n_planes, so
    # planes must grow with log(corpus) to keep expected bucket size — and
    # therefore candidate count — bounded (random corpora collide at rate
    # ~1/2^n_planes per table).
    pairs = embedding_near_dup_pairs_lsh(
        emb, threshold=threshold, id_col=id_col, vec_col=vec_col,
        n_planes=n_planes, n_tables=n_tables,
    )
    comp = connected_components(ids, pairs.select("id_a", "id_b"))
    return (
        comp.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .select(F.col("cluster").alias("keep_id"), "cluster_size")
    )


@register(
    "q118_semantic_dedup",
    oracle="""
        WITH RECURSIVE corpus AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 300
            UNION ALL
            SELECT vec_id + 100000 AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 300 AND vec_id % 5 = 0
        ),
        pairs AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM corpus a JOIN corpus b ON a.id < b.id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs
        ),
        reach(src, dst) AS (
            SELECT id, id FROM corpus
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        labels AS (SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src)
        SELECT cluster AS keep_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM labels GROUP BY cluster ORDER BY keep_id
    """,
    doc="semantic dedup (SemDeDup shape): LSH-bucketed embedding near-dup "
    "pairs → min-label components → one survivor per cluster; DuckDB "
    "recursive-CTE transitive closure as the oracle (q62 pattern for "
    "embeddings). Oracle caveat: the Spark side is LSH-probabilistic "
    "(documented miss ≈ 5e-9 per pair at cosine 0.99) while the oracle is "
    "exhaustive — the hash gate holds on THIS corpus because only planted "
    "exact duplicates clear the 0.99 threshold; a dataset with many "
    "non-identical pairs near the threshold would make it flaky. The "
    "dataset-independent proof is the brute-force-vs-LSH pair-equality "
    "unit test.",
    tags=("similarity", "dedup", "clustering"),
)
def q118_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    base = t["embeddings"].filter(F.col("vec_id") < 300).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    dups = (
        t["embeddings"]
        .filter((F.col("vec_id") < 300) & (F.col("vec_id") % 5 == 0))
        .select((F.col("vec_id") + 100000).alias("id"), "embedding")
    )
    with pin_scope():
        out = semantic_dedup_clusters(base.unionAll(dups)).localCheckpoint(eager=True)
    return out.orderBy("keep_id")


# --------------------------------------------------------------------------
# SQ8: int8 scalar-quantized embedding search
# --------------------------------------------------------------------------
def sq8_quantize(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, qv): symmetric per-vector int8 scalar quantization —
    ``q_i = round(v_i / (max|v|/127))``, values in [-127, 127].

    The FAISS-IVF-SQ8 memory story: a float32 embedding column shrinks 4×
    (byte per component + one scale — and for COSINE ranking the scale
    cancels entirely, so it isn't even stored). At 100 TB the ANN scan is
    memory-bandwidth-bound, so 4× smaller vectors ≈ 4× faster brute-force
    and 4× more of the IVF index resident per executor. Quantization is a
    pure deterministic Catalyst expression — no training, no Python — so
    quantized rankings are exactly reproducible across engines
    (q159's oracle hash-matches on integer-exact arithmetic: every
    partial sum in the quantized cosine is an integer-valued double).
    """
    return df.select(F.col(id_col).alias("id"), _sq8_expr(vec_col).alias("qv"))


def _sq8_expr(vec_col: str | Column) -> Column:
    """The quantization expression behind :func:`sq8_quantize` — usable
    inline on any frame that still carries the float vector."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    v = F.transform(c, lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # guard on the computed scale: amax/127 underflows to 0 for
    # denormal-only vectors (see _sq8_np); identical in all three twins
    scale = F.when(amax / F.lit(127.0) > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    return F.transform(v, lambda x: F.round(x / scale).cast("long"))


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def _sq8_np(x: np.ndarray) -> np.ndarray:
    """Row-wise int8 scalar quantization of a (rows, dim) float64 matrix —
    the in-kernel numpy twin of :func:`_sq8_expr`, value-identical by
    construction so hash-gated consumers (q159/q161) cannot move.

    Rounding replicates Spark/DuckDB ``round`` (HALF_UP, away from zero),
    NOT numpy's banker's rounding — and NOT the classic ``floor(|t|+0.5)``
    trick, whose float sum mis-rounds boundary values (e.g.
    t = 0.49999999999999994 → |t|+0.5 rounds to 1.0). Instead the
    fractional part is compared to 0.5 EXACTLY: for |t| ≤ 127 the
    subtraction ``|t| − floor(|t|)`` is exact by Sterbenz's lemma
    (operands within a factor of 2; the floor ≤ 127 is itself exact), so
    ``floor + (frac ≥ 0.5)`` is bit-for-bit HALF_UP on the binary value —
    which is also what Spark's BigDecimal path and DuckDB agree on
    (shortest-decimal vs binary comparisons against .5 coincide because
    0.5 is representable). Equality against the Catalyst expression is
    pinned in tests over the full embeddings table plus adversarial
    boundary vectors.

    Why this exists: quantizing via the Catalyst ``transform`` + norm via
    the interpreted ``aggregate`` fold costs ~2·dim interpreted lambda
    steps per corpus row per run — the measured super-linear wall in
    CROSSOVER.md's q159 row (16.5 s at x100). One numpy pass per Arrow
    batch removes it.
    """
    amax = np.abs(x).max(axis=1, keepdims=True)
    # condition on the COMPUTED scale, not amax: for denormal-only vectors
    # amax/127 underflows to exactly 0 and the quantization would divide
    # by zero (found by hypothesis; same guard in _sq8_expr and the
    # DuckDB oracle so the three twins stay value-identical)
    s0 = amax / 127.0
    scale = np.where(s0 > 0, s0, 1.0)
    t = x / scale
    at = np.abs(t)
    fl = np.floor(at)
    r = fl + (at - fl >= 0.5)
    return (np.sign(t) * r).astype(np.int64)


def _sq8_with_norm(col: Column) -> Column:
    """struct<qv: array<long>, qn: long>: quantized vector + its integer
    self-dot, computed in ONE Arrow-batched numpy pass (:func:`_sq8_np`) —
    the hot-path replacement for ``_sq8_expr`` + ``_int_dot`` where both
    are needed per row (the IVF-SQ8 bounded probe path)."""

    @F.pandas_udf("struct<qv: array<long>, qn: long>")
    def qz(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"qv": pd.Series([], dtype=object), "qn": pd.Series([], dtype="int64")})
        x = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        qv = _sq8_np(x)
        return pd.DataFrame({"qv": list(qv), "qn": (qv * qv).sum(axis=1)})

    return qz(col)


def _pair_dot_int(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over int arrays, numpy-vectorized — value-IDENTICAL to
    :func:`_int_dot` (integer sums have no order sensitivity), used on the
    candidate-pair stream where the interpreted fold's ~dim steps/pair
    dominate (the `_pair_dot` argument; per-row norms stay on the fold —
    one per vector, no win)."""

    @F.pandas_udf("long")
    def dot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="int64")
        x = np.array([np.asarray(v, dtype=np.int64) for v in xs])
        y = np.array([np.asarray(v, dtype=np.int64) for v in ys])
        return pd.Series((x * y).sum(axis=1))

    return dot(a, b)


def cosine_topk_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Top-k by cosine over int8-quantized vectors: ``cosine_topk``'s shape
    (queries broadcast, corpus scanned once, per-query top-k window) with
    the 4×-smaller quantized representation. Cosine of quantized vectors
    needs no scales (they cancel), so the per-pair work is one integer dot
    product; recall vs the exact float ranking is measured in tests
    (quantization recall, not search recall — every vector is still
    scanned). Zero-quantized vectors (all-zero inputs) are excluded from
    both sides: their cosine is undefined.

    The corpus path is ONE fused numpy kernel per Arrow batch: quantize
    (:func:`_sq8_np` — value-identical to the Catalyst expression),
    integer self-dot, then a block integer matmul against all queries —
    the raw float column goes straight from parquet into the kernel, no
    interpreted per-row HOF work (the pre-fix form re-quantized the
    corpus through Catalyst ``transform`` + a dim-step ``aggregate`` fold
    per row, the super-linear wall CROSSOVER.md measured at x100).
    int64 arithmetic has no summation-order sensitivity, so the dot
    products (and the IEEE division that follows) are identical to a
    per-pair fold, and the hash gate cannot move. Rounding and the top-k
    window stay Spark-side on the emitted (query, neighbor, score)
    stream, so tie semantics are byte-for-byte those of the join
    formulation.

    Query-cardinality contract (mirrors ``_probe_join``): the query set
    is collected to the driver and broadcast inside the kernel closure,
    so it must be a bounded batch — ``max_query_rows`` fails fast past
    the cap via a limit-pushdown count; ``None`` opts out (caller
    accepts driver-memory responsibility for a known-small frame).
    """
    if max_query_rows is not None:
        n_q = queries.limit(max_query_rows + 1).count()
        if n_q > max_query_rows:
            raise ValueError(
                f"cosine_topk_sq8: query set exceeds max_query_rows={max_query_rows}. "
                "The exhaustive quantized scan collects the query side to the "
                "driver; corpus-sized query sets need the IVF candidate path "
                "(ann_ivf_topk_sq8 with max_query_rows=None)."
            )
    qrows = queries.select(F.col(query_id).alias("id"), F.col(vec_col).alias("v")).collect()
    if qrows:
        qraw = np.array([np.asarray(list(r.v), dtype=np.float64) for r in qrows])
        qall = _sq8_np(qraw)
        qn_all = (qall * qall).sum(axis=1)
        nz = qn_all > 0
        qrows = [r for r, keep in zip(qrows, nz) if keep]
        qm = qall[nz]
        qn_sqrt = np.sqrt(qn_all[nz].astype(np.float64))
    if not qrows:
        schema = "query_id long, neighbor_id long, score double, rank int"
        return corpus.sparkSession.createDataFrame([], schema)
    qids = np.array([r.id for r in qrows], dtype=np.int64)

    c = corpus.select(F.col(corpus_id).alias("id"), F.col(vec_col).alias("v"))

    def score_blocks(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            raw = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            x = _sq8_np(raw)
            cn = (x * x).sum(axis=1)
            ids = pdf["id"].to_numpy(dtype=np.int64)
            nzc = cn > 0
            if not nzc.all():
                x, cn, ids = x[nzc], cn[nzc], ids[nzc]
            if len(ids) == 0:
                continue
            cn_sqrt = np.sqrt(cn.astype(np.float64))
            s = x @ qm.T  # exact int64 dot products, block at a time
            sc = s / (qn_sqrt[None, :] * cn_sqrt[:, None])
            # per-batch top-k per query: ranking is on the RAW score (a
            # total order with the id tiebreak — global top-k of per-batch
            # top-k's is exact; rounding happens display-side only, and
            # the oracle ranks on the same raw, bit-identical doubles)
            frames = []
            for j, qid in enumerate(qids):
                col = sc[:, j]
                keep = ids != qid
                idx = np.nonzero(keep)[0]
                if len(idx) == 0:
                    continue
                order = np.lexsort((ids[idx], -col[idx]))[:k]
                sel = idx[order]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(sel), qid, dtype=np.int64),
                            "neighbor_id": ids[sel],
                            "score": col[sel],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = c.mapInPandas(score_blocks, "query_id long, neighbor_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


def _sq8_topk_oracle(lo: int, hi: int, k: int = 5) -> str:
    """DuckDB twin of :func:`cosine_topk_sq8`: the identical deterministic
    quantization, then integer dot products — every partial sum is an
    integer-valued double, so the pre-round score is bit-identical across
    engines."""
    quant = """
            SELECT vec_id,
                   list_transform(v, x -> CAST(round(
                       x / (CASE WHEN m / 127.0 > 0 THEN m / 127.0 ELSE 1.0 END)
                   ) AS BIGINT)) AS qv
            FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m
                  FROM vd)
    """
    return f"""
        WITH vd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        quant AS ({quant}),
        q AS (SELECT vec_id AS query_id, qv AS qq,
                     CAST(list_inner_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS DOUBLE) AS qn
              FROM quant WHERE vec_id >= {lo} AND vec_id < {hi}),
        c AS (SELECT vec_id AS neighbor_id, qv AS cq,
                     CAST(list_inner_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS DOUBLE) AS cn
              FROM quant),
        scored AS (
            -- rank on the RAW score: the integer-exact inputs make it
            -- bit-identical across engines, so it is a total order both
            -- sides agree on; ROUND is display-only
            SELECT query_id, neighbor_id,
                   list_inner_product(CAST(qq AS DOUBLE[]), CAST(cq AS DOUBLE[]))
                       / (sqrt(qn) * sqrt(cn)) AS score_raw
            FROM q JOIN c ON query_id <> neighbor_id
            WHERE qn > 0 AND cn > 0
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_raw DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(score_raw, 6) AS score, rank
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


@register(
    "q159_ann_sq8_topk",
    oracle=_sq8_topk_oracle(24, 32),
    doc=(
        "int8 scalar-quantized cosine top-k (the FAISS-SQ8 memory config: "
        "4× smaller vectors, scale-free quantized cosine) — deterministic "
        "quantization makes the approximate ranking itself hash-checkable "
        "against an independent DuckDB twin on integer-exact arithmetic; "
        "recall vs the exact float ranking is pinned separately in tests."
    ),
    tags=("similarity", "ann", "quantization"),
)
def q159_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter((F.col("vec_id") >= 24) & (F.col("vec_id") < 32))
    return cosine_topk_sq8(emb, queries, k=5).orderBy("query_id", "rank")


def ann_ivf_topk_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """IVF-SQ8: IVF candidate generation + int8-quantized rescore — the
    composed production ANN config (FAISS's IVF,SQ8).

    Candidates come from the float k-means cells exactly as in
    :func:`ann_ivf_topk` (centroids are nlist-sized — quantizing them
    buys nothing); the RESCORE, which touches ~nprobe/nlist of the corpus
    per query batch, reads the 4×-smaller quantized vectors and pays one
    integer dot per candidate. Two approximations compose: cell pruning
    (recall vs nprobe, measured on the float path) and 8-bit rounding
    (recall ≥0.9 pinned for :func:`cosine_topk_sq8`). At nprobe = nlist
    every cell is probed, so the output equals :func:`cosine_topk_sq8`
    exactly — the q161 oracle configuration. Zero-quantized vectors are
    excluded from both sides (cosine undefined), as in the brute-force
    form.

    Query-cardinality contract (same as :func:`ann_ivf_topk`): bounded
    batches take the guarded broadcast cell join (``max_query_rows`` set);
    ``max_query_rows=None`` routes to a cell-cogrouped block kernel
    (:func:`_ivf_block_scores_sq8`) that quantizes both sides in-kernel
    and shuffles each vector once on cell — correct at any query
    cardinality (corpus-sized/all-vs-all query sets included).
    """
    centroids = kmeans_centroids(corpus, nlist=nlist, id_col=corpus_id, vec_col=vec_col)
    if max_query_rows is None:
        c_raw = assign_cells(corpus, centroids, id_col=corpus_id, vec_col=vec_col).select(
            F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "cell"
        )
        q_raw = assign_cells(queries, centroids, id_col=query_id, vec_col=vec_col, nprobe=nprobe).select(
            F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"), "cell"
        )
        scored = _ivf_block_scores_sq8(c_raw, q_raw, k=k)
    else:
        c = (
            assign_cells(corpus, centroids, id_col=corpus_id, vec_col=vec_col)
            .select(F.col(corpus_id).alias("neighbor_id"), _sq8_with_norm(F.col(vec_col)).alias("_z"), "cell")
            .select("neighbor_id", F.col("_z.qv").alias("_cq"), F.col("_z.qn").alias("_cn"), "cell")
            .filter(F.col("_cn") > 0)
        )
        q = (
            assign_cells(queries, centroids, id_col=query_id, vec_col=vec_col, nprobe=nprobe)
            .select(F.col(query_id).alias("query_id"), _sq8_with_norm(F.col(vec_col)).alias("_z"), "cell")
            .select("query_id", F.col("_z.qv").alias("_qq"), F.col("_z.qn").alias("_qn"), "cell")
            .filter(F.col("_qn") > 0)
        )
        cands = _probe_join(c, q, queries, max_query_rows).filter(
            F.col("query_id") != F.col("neighbor_id")
        )
        # raw-score ranking, display-side rounding — see cosine_topk_sq8
        score = _pair_dot_int(F.col("_qq"), F.col("_cq")).cast("double") / (
            F.sqrt(F.col("_qn").cast("double")) * F.sqrt(F.col("_cn").cast("double"))
        )
        scored = cands.select("query_id", "neighbor_id", score.alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


def _ivf_block_scores_sq8(c: DataFrame, q: DataFrame, k: int | None = None) -> DataFrame:
    """SQ8 twin of :func:`_ivf_block_scores`: all (query, corpus) quantized
    cosine scores within shared cells, for corpus-sized query sets.

    Both sides arrive with RAW float vectors and shuffle once on ``cell``;
    the kernel quantizes each side with :func:`_sq8_np` (value-identical
    to the Catalyst expression), drops zero-quantized vectors, and does
    one int64 block matmul per cell. Because quantized scores are ranked
    on the RAW value (integer-exact inputs → a total order every engine
    agrees on, id tiebreak), the per-(query, cell) emission can keep
    exactly the top-``k`` rows with no rounding-margin slack — the global
    top-k of per-cell top-k's is exact.
    """
    schema = "query_id long, neighbor_id long, score double"

    def score_cell(key, cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0 or len(qdf) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        cm = _sq8_np(np.array([np.asarray(v, dtype=np.float64) for v in cdf["_cv"]]))
        qm = _sq8_np(np.array([np.asarray(v, dtype=np.float64) for v in qdf["_qv"]]))
        cn = (cm * cm).sum(axis=1)
        qn = (qm * qm).sum(axis=1)
        nids = cdf["neighbor_id"].to_numpy(dtype=np.int64)[cn > 0]
        qids = qdf["query_id"].to_numpy(dtype=np.int64)[qn > 0]
        cm, qm = cm[cn > 0], qm[qn > 0]
        if len(nids) == 0 or len(qids) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        cn_sqrt = np.sqrt(cn[cn > 0].astype(np.float64))
        qn_sqrt = np.sqrt(qn[qn > 0].astype(np.float64))
        sc = (qm @ cm.T) / (qn_sqrt[:, None] * cn_sqrt[None, :])
        frames = []
        for i, qid in enumerate(qids):
            col = sc[i]
            idx = np.nonzero(nids != qid)[0]
            if len(idx) == 0:
                continue
            order = np.lexsort((nids[idx], -col[idx]))
            sel = idx[order if k is None else order[:k]]
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(len(sel), qid, dtype=np.int64),
                        "neighbor_id": nids[sel],
                        "score": col[sel],
                    }
                )
            )
        if not frames:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        return pd.concat(frames, ignore_index=True)

    # same pinned cell partitioning as _ivf_block_scores: the int64 block
    # matmul is CPU-bound at byte sizes AQE would coalesce to one task
    n_part = shuffle_partitions(c.sparkSession)
    return (
        c.select("cell", "neighbor_id", "_cv")
        .repartition(n_part, "cell")
        .groupBy("cell")
        .cogroup(q.select("cell", "query_id", "_qv").repartition(n_part, "cell").groupBy("cell"))
        .applyInPandas(score_cell, schema)
    )


@register(
    "q161_ivf_sq8_exhaustive_topk",
    oracle=_sq8_topk_oracle(32, 40),
    doc=(
        "IVF-SQ8 run with nprobe = nlist (every cell probed → the candidate "
        "set is all pairs, so cell pruning contributes nothing and the "
        "output provably equals the exhaustive quantized ranking) — "
        "hash-matched against the same independent DuckDB SQ8 twin family "
        "as q159. Pins the composed machinery end to end: float k-means "
        "cells, partition-pruned probe, inline quantization, integer-exact "
        "rescore."
    ),
    tags=("similarity", "ann", "quantization", "verify"),
)
def q161_ivf_sq8_exhaustive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter((F.col("vec_id") >= 32) & (F.col("vec_id") < 40))
    return ann_ivf_topk_sq8(emb, queries, k=5, nlist=16, nprobe=16).orderBy(
        "query_id", "rank"
    )


# --------------------------------------------------------------------------
# Random-projection dimensionality reduction (Johnson–Lindenstrauss)
# --------------------------------------------------------------------------
def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 97,
) -> DataFrame:
    """(id, embedding): project each vector onto ``out_dim`` seeded Gaussian
    directions — the Johnson–Lindenstrauss preprocessing that shrinks an
    embedding column 4× (64→16 dims) while approximately preserving
    pairwise distances, so every downstream ANN/dedup operator runs on a
    4×-smaller column (composable with SQ8 for a combined 16×).

    One Arrow-batched kernel per partition: the out_dim×dim plane matrix
    rides the task closure; accumulation is DIM-SEQUENTIAL
    (``acc += X[:,j]·P[:,j]ᵀ``), bit-identical in IEEE double to both the
    Catalyst ``aggregate`` fold and DuckDB's sequential sum — so the
    projected vectors hash-match the q165 oracle exactly (the `_pair_dot`
    argument; a BLAS matmul would be last-ulp different). Components are
    rounded to 6dp display-side in the gate query only; the operator
    itself returns full doubles.
    """
    planes = hyperplanes(dim, out_dim, seed=seed)
    pm = np.array(planes, dtype=np.float64)  # (out_dim, dim)

    @F.pandas_udf("array<double>")
    def project(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        d = min(pm.shape[1], x.shape[1])
        acc = np.zeros((len(x), pm.shape[0]), dtype=np.float64)
        for j in range(d):
            acc = acc + np.outer(x[:, j], pm[:, j])
        return pd.Series(list(acc))

    return df.select(F.col(id_col).alias("id"), project(F.col(vec_col)).alias(vec_col))


def _rp_oracle_sql(out_dim: int, dim: int, seed: int, cap: int) -> str:
    """DuckDB twin of :func:`random_projection`: the same seeded plane
    constants inlined as list literals, the same sequential dot products
    (list_inner_product sums dim-sequentially), rounded to 6dp on both
    sides for the hash gate."""
    planes = hyperplanes(dim, out_dim, seed=seed)
    rows = ",\n            ".join(
        f"({j}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])" for j, p in enumerate(planes)
    )
    return f"""
        WITH planes(pos, p) AS (VALUES
            {rows}
        ),
        emb AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {cap}
        )
        SELECT id, pos, ROUND(list_inner_product(v, p), 6) AS comp
        FROM emb CROSS JOIN planes
        ORDER BY id, pos
    """


@register(
    "q165_random_projection",
    oracle=_rp_oracle_sql(16, 64, 97, 400),
    doc=(
        "Johnson-Lindenstrauss random projection (64 -> 16 dims, seeded "
        "Gaussian planes): the ANN/dedup preprocessing that shrinks the "
        "embedding column 4x while approximately preserving distances. "
        "Arrow-batched dim-sequential kernel, hash-matched component-wise "
        "(exploded to scalar rows — engines stringify arrays differently) "
        "against a DuckDB twin with the identical inlined plane constants."
    ),
    tags=("similarity", "ann", "projection"),
)
def q165_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"].filter(
        F.col("vec_id") < 400
    )
    out = random_projection(emb, out_dim=16, dim=64, seed=97)
    return out.select(
        "id", F.posexplode(F.col("embedding")).alias("pos", "_c")
    ).select("id", "pos", F.round("_c", 6).alias("comp")).orderBy("id", "pos")


@register(
    "q163_ivf_sq8_cogrouped_topk",
    oracle=_sq8_topk_oracle(40, 48),
    doc=(
        "IVF-SQ8 on the corpus-sized query path (max_query_rows=None): the "
        "cell-cogrouped block kernel that quantizes both sides in-kernel "
        "and shuffles each vector once on cell — run with nprobe = nlist "
        "so the output provably equals the exhaustive quantized ranking "
        "and hash-matches the independent DuckDB SQ8 twin. Pins the "
        "round-5 kernel (the path ann_ivf_topk_sq8 previously lacked — "
        "r4 ADVICE item 1) end to end."
    ),
    tags=("similarity", "ann", "quantization", "verify"),
)
def q163_ivf_sq8_cogrouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 48))
    return ann_ivf_topk_sq8(
        emb, queries, k=5, nlist=16, nprobe=16, max_query_rows=None
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# Bucket-balanced sampling (cluster-balanced data selection)
# --------------------------------------------------------------------------
def bucket_balanced_sample(
    emb: DataFrame,
    k: int,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 23,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "xxhash64",
) -> DataFrame:
    """(bucket, id, rnk): up to ``k`` vectors per LSH sign-bucket — the
    cluster-balanced selection pattern (DataComp/SemDeDup-style diversity
    sampling): partition the embedding space into 2^``n_planes`` regions
    and take an equal-sized deterministic sample from each, so dense
    regions stop dominating the training mix.

    LSH sign-buckets stand in for k-means cells deliberately: the region
    assignment is a PURE ROW EXPRESSION (no iterative fit, no centroid
    state), so the whole operator is one window over (bucket) — engine-
    reproducible and oracle-checkable, where a k-means assignment gates
    rows-only (float AVG order differs across engines; q44's precedent).
    Swap :func:`assign_cells` in for the bucket column when trained cells
    matter more than reproducibility.

    Scale shape: bucket is computed at scan, the per-bucket window is
    partition-parallel (2^n_planes partitions ≫ skew only if the space is
    degenerate — raise n_planes with log2(corpus) via
    :func:`recommended_lsh_planes`), and the hash-rank pick is
    :func:`~ai_batch_processing_spark.operators.curation.sample_k_per_group`'s
    rerun/repartition-stable contract on (bucket, id).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 1 <= n_planes <= 62:
        raise ValueError(
            f"n_planes must be in [1, 62] (long sign-bit budget), got {n_planes}"
        )
    from ai_batch_processing_spark.operators.curation import _hash_key

    planes = hyperplanes(dim, n_planes, seed=seed)
    # vectorized sign-bit kernel, not the interpreted lsh_bucket_expr HOF
    # fold (n_planes×dim interpreted lambda steps per row): bit-identical
    # for dim-matched vectors (_table_buckets_vec's dim-sequential
    # accumulation). Measured 1.04 s → 0.72 s warm on the sf0.1 table;
    # the residual wall is the per-bucket rank window, which is the
    # operator's real work.
    keyed = emb.select(
        F.col(id_col).alias("id"),
        F.element_at(_table_buckets_vec(vec_col, [planes]), 1).alias("bucket"),
    )
    hk = _hash_key("id", seed, method)
    w = Window.partitionBy("bucket").orderBy(hk.asc(), F.col("id").asc())
    return (
        keyed.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("bucket", "id", "rnk")
    )


def _bucket_sample_oracle(k: int, n_planes: int, dim: int, seed: int) -> str:
    """DuckDB twin of :func:`bucket_balanced_sample` (knuth rank): the same
    seeded planes inlined, sign bits via sequential list_inner_product
    (bit-identical to the Catalyst fold — q165's argument)."""
    planes = hyperplanes(dim, n_planes, seed=seed)
    bits = " + ".join(
        f"CASE WHEN list_inner_product(v, [{', '.join(repr(x) for x in p)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH keyed AS (
            SELECT vec_id AS id,
                   CAST({bits} AS BIGINT) AS bucket,
                   (vec_id * 2654435761 + {seed}) % 4294967296 AS hk
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        ),
        ranked AS (
            SELECT bucket, id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY hk, id) AS BIGINT) AS rnk
            FROM keyed
        )
        SELECT bucket, id, rnk FROM ranked WHERE rnk <= {k}
        ORDER BY bucket, rnk
    """


@register(
    "q172_bucket_balanced_sample",
    oracle=_bucket_sample_oracle(25, 6, 64, 23),
    doc=(
        "cluster-balanced data selection: equal-k deterministic sample per "
        "LSH sign-region of the embedding space (64 regions), hash-rank "
        "pick — the diversity-sampling step that stops dense regions "
        "dominating a training mix. Pure row-expression region assignment, "
        "partition-parallel window, engine-reproducible."
    ),
    tags=("similarity", "curation", "sample"),
)
def q172_bucket_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    return bucket_balanced_sample(emb, k=25, n_planes=6, seed=23, method="knuth").orderBy(
        "bucket", "rnk"
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): asymmetric-distance top-k
# --------------------------------------------------------------------------
def _pq_assign_np(x: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(rows, dim) × (m, K, ds) → (rows, m) int codes: per-subspace L2
    argmin via the expanded form ``argmin_j ||c_j||² − 2⟨x, c_j⟩`` (the
    ||x||² term is constant per row). ``np.argmin`` takes the FIRST
    minimum — the lowest-j tiebreak the SQL twin pins with
    ``ORDER BY dist, j``."""
    m, _, ds = cb.shape
    codes = np.empty((len(x), m), dtype=np.int32)
    for s in range(m):
        xs = x[:, s * ds : (s + 1) * ds]
        cn = (cb[s] * cb[s]).sum(axis=1)
        codes[:, s] = np.argmin(cn[None, :] - 2.0 * (xs @ cb[s].T), axis=1)
    return codes


def seeded_int_codebooks(
    dim: int, m: int, n_codes: int, seed: int = 131, lo: int = -127, hi: int = 127
) -> list[list[list[float]]]:
    """Seeded INTEGER codebooks: the oracle-gated PQ configuration.

    Trained float codebooks cannot be hash-gated (Lloyd means are
    float-summation-order sensitive across engines — q44's precedent), so
    the gate fixes the codebook to seeded integers and quantizes vectors
    with SQ8 first: every distance, LUT entry, and ADC score is then an
    integer-valued double, bit-identical in any summation order — the
    same integer-exactness argument as :func:`cosine_topk_sq8`."""
    rng = random.Random(seed)
    return [
        [[float(rng.randint(lo, hi)) for _ in range(dim // m)] for _ in range(n_codes)]
        for _ in range(m)
    ]


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    quantize: str = "none",
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Top-k by PQ asymmetric distance computation: rank corpus vectors by
    ``score(q, x) = Σ_sub ⟨q_sub, codeword(x, sub)⟩`` — the inner product
    of the query with x's PQ RECONSTRUCTION, evaluated as m lookup-table
    gathers per pair (never touching x's floats). (query_id, neighbor_id,
    score, rank), self-matches excluded.

    The scan is ONE fused numpy kernel per Arrow batch (the
    :func:`cosine_topk_sq8` shape): encode the batch against the codebook
    (:func:`_pq_assign_np`), gather per-subspace LUT columns, per-batch
    top-k, then the global top-k window. The LUT (m×n_codes×queries) is
    built once on the driver from the collected bounded query batch
    (``max_query_rows`` fail-fast; the corpus side streams — at scale
    this is the in-memory-index pattern where codes fit RAM and ADC is
    memory-bandwidth-bound, the point of PQ).

    ``quantize="sq8"`` runs the integer-exact gated configuration: both
    sides SQ8-quantized and the codebook integer-valued (see
    :func:`seeded_int_codebooks`), making the ranking hash-checkable
    against the independent DuckDB twin (q173). ``"none"`` scores float
    codebooks as given (trained offline, e.g. k-means per subspace); a
    recall test pins its ranking quality with numpy-trained codebooks.

    Query ids must be unique — the ANN family contract (a repeated id
    would emit its top-k twice under one ``query_id``, inflating ranks).
    """
    if quantize not in ("none", "sq8"):
        raise ValueError(f"quantize must be none|sq8, got {quantize!r}")
    if max_query_rows is not None:
        n_q = queries.limit(max_query_rows + 1).count()
        if n_q > max_query_rows:
            raise ValueError(
                f"pq_adc_topk: query set exceeds max_query_rows={max_query_rows}. "
                "ADC builds the query LUT on the driver; corpus-sized query "
                "sets need a bounded batching loop."
            )
    cb = np.array(codebooks, dtype=np.float64)
    m, _, ds = cb.shape
    qrows = queries.select(F.col(query_id).alias("id"), F.col(vec_col).alias("v")).collect()
    if not qrows:
        schema = "query_id long, neighbor_id long, score double, rank int"
        return corpus.sparkSession.createDataFrame([], schema)
    qm = np.array([np.asarray(list(r.v), dtype=np.float64) for r in qrows])
    if quantize == "sq8":
        qm = _sq8_np(qm).astype(np.float64)
    qids = np.array([r.id for r in qrows], dtype=np.int64)
    # LUT[s]: (K, n_queries) — codeword · query-subvector inner products
    lut = np.stack([cb[s] @ qm[:, s * ds : (s + 1) * ds].T for s in range(m)])

    c = corpus.select(F.col(corpus_id).alias("id"), F.col(vec_col).alias("v"))
    sq8 = quantize == "sq8"

    def score_blocks(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            if sq8:
                x = _sq8_np(x).astype(np.float64)
            ids = pdf["id"].to_numpy(dtype=np.int64)
            codes = _pq_assign_np(x, cb)  # (rows, m)
            sc = np.zeros((len(x), lut.shape[2]), dtype=np.float64)
            for s in range(m):
                sc += lut[s][codes[:, s]]  # gather (rows, n_queries)
            frames = []
            for j, qid in enumerate(qids):
                col = sc[:, j]
                idx = np.nonzero(ids != qid)[0]
                if len(idx) == 0:
                    continue
                order = np.lexsort((ids[idx], -col[idx]))[:k]
                sel = idx[order]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(sel), qid, dtype=np.int64),
                            "neighbor_id": ids[sel],
                            "score": col[sel],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = c.mapInPandas(score_blocks, "query_id long, neighbor_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


def _pq_int_oracle(
    lo: int, hi: int, k: int = 5, dim: int = 64, m: int = 8, n_codes: int = 16, seed: int = 131
) -> str:
    """DuckDB twin of the gated PQ configuration: the same seeded integer
    codebooks inlined as literals, SQ8 quantization (the q159 CTE), L2
    assignment via ``cn − 2⟨x,c⟩`` with the lowest-j tiebreak, and an ADC
    score that is a sum of integer-valued doubles — order-free, so the
    hash gate pins the encode+ADC machinery exactly."""
    ds = dim // m
    cb = seeded_int_codebooks(dim, m, n_codes, seed=seed)
    rows = ",\n            ".join(
        f"({s}, {j}, [{', '.join(str(int(x)) for x in cw)}]::BIGINT[])"
        for s in range(m)
        for j, cw in enumerate(cb[s])
    )
    quant = """
            SELECT vec_id,
                   list_transform(v, x -> CAST(round(
                       x / (CASE WHEN mx / 127.0 > 0 THEN mx / 127.0 ELSE 1.0 END)
                   ) AS BIGINT)) AS qv
            FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
                  FROM vd)
    """
    return f"""
        WITH vd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        quant AS ({quant}),
        cb(sub, j, cw) AS (VALUES
            {rows}
        ),
        cbn AS (
            SELECT sub, j, cw,
                   list_inner_product(CAST(cw AS DOUBLE[]), CAST(cw AS DOUBLE[])) AS cn
            FROM cb
        ),
        subs AS (
            SELECT vec_id, s.sub,
                   qv[(s.sub * {ds} + 1):(s.sub * {ds} + {ds})] AS sv
            FROM quant, (SELECT DISTINCT sub FROM cb) s
        ),
        dists AS (
            SELECT subs.vec_id, subs.sub, cbn.j,
                   cbn.cn - 2 * list_inner_product(CAST(subs.sv AS DOUBLE[]),
                                                   CAST(cbn.cw AS DOUBLE[])) AS dist
            FROM subs JOIN cbn ON subs.sub = cbn.sub
        ),
        codes AS (
            SELECT vec_id, sub, j FROM (
                SELECT vec_id, sub, j,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, j) AS rn
                FROM dists
            ) WHERE rn = 1
        ),
        qsubs AS (
            SELECT vec_id AS query_id, s.sub,
                   qv[(s.sub * {ds} + 1):(s.sub * {ds} + {ds})] AS sv
            FROM quant, (SELECT DISTINCT sub FROM cb) s
            WHERE vec_id >= {lo} AND vec_id < {hi}
        ),
        scored AS (
            SELECT qs.query_id, codes.vec_id AS neighbor_id,
                   SUM(list_inner_product(CAST(qs.sv AS DOUBLE[]),
                                          CAST(cbn.cw AS DOUBLE[]))) AS score
            FROM codes
            JOIN cbn ON codes.sub = cbn.sub AND codes.j = cbn.j
            JOIN qsubs qs ON qs.sub = codes.sub
            WHERE codes.vec_id <> qs.query_id
            GROUP BY qs.query_id, codes.vec_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id
            ) AS rank FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(score, 6) AS score, rank
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


@register(
    "q173_pq_adc_int_topk",
    oracle=_pq_int_oracle(48, 56),
    doc=(
        "product-quantization ADC top-k (Jégou et al. 2011, the 32×-"
        "memory-compression ANN config) in its integer-exact gated form: "
        "SQ8-quantized vectors, seeded integer codebooks, per-subspace L2 "
        "assignment, score = sum of m LUT gathers — every distance and "
        "score an integer-valued double, so the approximate ranking "
        "itself hash-matches an independent DuckDB twin. Trained-codebook "
        "recall is pinned separately in tests (q44's precedent)."
    ),
    tags=("similarity", "ann", "quantization", "verify"),
)
def q173_pq_adc_int_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter((F.col("vec_id") >= 48) & (F.col("vec_id") < 56))
    cb = seeded_int_codebooks(64, 8, 16, seed=131)
    return pq_adc_topk(emb, queries, cb, k=5, quantize="sq8").orderBy("query_id", "rank")


def ann_ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    quantize: str = "none",
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """IVF-PQ: IVF candidate generation + PQ-ADC scoring — FAISS's
    ``IVF,PQ`` composed config, the standard billion-scale layout (cells
    prune the scan to ~nprobe/nlist of the corpus; inside a cell each
    candidate costs m LUT gathers against codes 32× smaller than floats).

    Cells come from float k-means exactly as :func:`ann_ivf_topk`; the
    rescore never touches candidate floats — the corpus side carries only
    (cell, codes) after one encode pass. At nprobe = nlist every cell is
    probed and the output equals :func:`pq_adc_topk` exactly; with
    ``quantize="sq8"`` + integer codebooks that configuration is the
    hash-gated q174 (the q161-vs-q159 pattern).

    Bounded query batches only: the ADC LUT is built from the collected
    query side (``max_query_rows`` fail-fast; ``None`` is rejected — a
    corpus-sized ADC path would need a cell-cogrouped LUT kernel like
    :func:`_ivf_block_scores_sq8`, which the SQ8 family covers; use that
    for all-vs-all jobs).
    """
    if quantize not in ("none", "sq8"):
        raise ValueError(f"quantize must be none|sq8, got {quantize!r}")
    if max_query_rows is None:
        raise ValueError(
            "ann_ivf_pq_topk supports bounded query batches only (the ADC "
            "LUT is driver-built). For corpus-sized query sets use "
            "ann_ivf_topk_sq8(max_query_rows=None) or batch the queries."
        )
    n_q = queries.limit(max_query_rows + 1).count()
    if n_q > max_query_rows:
        raise ValueError(
            f"ann_ivf_pq_topk: query set exceeds max_query_rows={max_query_rows}."
        )
    cb = np.array(codebooks, dtype=np.float64)
    m, _, ds = cb.shape
    qrows = queries.select(F.col(query_id).alias("id"), F.col(vec_col).alias("v")).collect()
    if not qrows:
        schema = "query_id long, neighbor_id long, score double, rank int"
        return corpus.sparkSession.createDataFrame([], schema)
    qm = np.array([np.asarray(list(r.v), dtype=np.float64) for r in qrows])
    if quantize == "sq8":
        qm = _sq8_np(qm).astype(np.float64)
    qid_to_col = {int(r.id): j for j, r in enumerate(qrows)}
    lut = np.stack([cb[s] @ qm[:, s * ds : (s + 1) * ds].T for s in range(m)])
    sq8 = quantize == "sq8"

    centroids = kmeans_centroids(corpus, nlist=nlist, id_col=corpus_id, vec_col=vec_col)

    @F.pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        if sq8:
            x = _sq8_np(x).astype(np.float64)
        return pd.Series(list(_pq_assign_np(x, cb)))

    c = assign_cells(corpus, centroids, id_col=corpus_id, vec_col=vec_col).select(
        F.col(corpus_id).alias("neighbor_id"), enc(F.col(vec_col)).alias("_codes"), "cell"
    )
    q = assign_cells(queries, centroids, id_col=query_id, vec_col=vec_col, nprobe=nprobe).select(
        F.col(query_id).alias("query_id"), "cell"
    )
    cands = _probe_join(c, q, queries, max_query_rows).filter(
        F.col("query_id") != F.col("neighbor_id")
    )

    @F.pandas_udf("double")
    def adc(codes: pd.Series, qids: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=float)
        cm = np.array([np.asarray(cs, dtype=np.int64) for cs in codes])
        cols = qids.map(qid_to_col).to_numpy(dtype=np.int64)
        sc = np.zeros(len(cm), dtype=np.float64)
        for s in range(m):
            sc += lut[s][cm[:, s], cols]
        return pd.Series(sc)

    scored = cands.select(
        "query_id", "neighbor_id", adc(F.col("_codes"), F.col("query_id")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


@register(
    "q174_ivf_pq_exhaustive_topk",
    oracle=_pq_int_oracle(48, 56),
    doc=(
        "IVF-PQ (FAISS IVF,PQ: cell pruning + 32×-compressed ADC rescore) "
        "run at nprobe = nlist so the output provably equals the "
        "exhaustive PQ ranking and hash-matches the q173 DuckDB twin — "
        "pins the composed candidate-join + encode + LUT-scoring path end "
        "to end (the q161-vs-q159 pattern)."
    ),
    tags=("similarity", "ann", "quantization", "verify"),
)
def q174_ivf_pq_exhaustive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter((F.col("vec_id") >= 48) & (F.col("vec_id") < 56))
    cb = seeded_int_codebooks(64, 8, 16, seed=131)
    return ann_ivf_pq_topk(
        emb, queries, cb, k=5, nlist=16, nprobe=16, quantize="sq8"
    ).orderBy("query_id", "rank")


def source_region_coverage(
    docs: DataFrame,
    emb: DataFrame,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 23,
    group_col: str = "source",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(source, n_vecs, n_regions, coverage): how much of the embedding
    space each source occupies — vectors assigned to LSH sign-regions
    (:func:`bucket_balanced_sample`'s partitioning), coverage = distinct
    regions / 2^n_planes. A slice that maps to 3 of 64 regions is
    semantically narrow no matter how many tokens it contributes;
    mixture decisions read this next to token counts (the
    embedding-space complement of :func:`~ai_batch_processing_spark.operators.corpus.source_divergence`'s
    token-distribution view).

    One vectorized bucket pass over the embeddings, a doc-keyed join to
    carry the source label, and a source-sized distinct aggregate.
    """
    planes = hyperplanes(dim, n_planes, seed=seed)
    keyed = emb.select(
        F.col(vec_id_col).alias("_vid"),
        F.element_at(_table_buckets_vec(vec_col, [planes]), 1).alias("bucket"),
    )
    labeled = keyed.join(
        docs.select(F.col(doc_id_col).alias("_vid"), F.col(group_col).alias("source")),
        "_vid",
    )
    return labeled.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.count_distinct("bucket").cast("long").alias("n_regions"),
        F.round(F.count_distinct("bucket") / F.lit(float(2**n_planes)), 6).alias(
            "coverage"
        ),
    )


def _region_coverage_oracle(n_planes: int, dim: int, seed: int) -> str:
    planes = hyperplanes(dim, n_planes, seed=seed)
    bits = " + ".join(
        f"CASE WHEN list_inner_product(v, [{', '.join(repr(x) for x in p)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH keyed AS (
            SELECT vec_id, CAST({bits} AS BIGINT) AS bucket
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        ),
        labeled AS (
            SELECT d.source, k.bucket
            FROM keyed k JOIN documents d ON k.vec_id = d.doc_id
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_regions,
               ROUND(COUNT(DISTINCT bucket) / {float(2 ** n_planes)!r}, 6) AS coverage
        FROM labeled
        GROUP BY source
        ORDER BY source
    """


@register(
    "q186_source_region_coverage",
    oracle=_region_coverage_oracle(6, 64, 23),
    doc=(
        "embedding-space coverage per source: distinct LSH sign-regions "
        "occupied / 64 — the semantic-diversity complement of the "
        "token-distribution divergence (q183); narrow slices surface "
        "regardless of token volume. Vectorized bucket pass + doc-keyed "
        "join + source-sized distinct aggregate."
    ),
    tags=("similarity", "corpus", "mixture"),
)
def q186_source_region_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    return source_region_coverage(t["documents"], t["embeddings"]).orderBy("source")


def embedding_consistency_audit(
    docs: DataFrame,
    emb: DataFrame,
    min_cosine: float = 0.99,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cosine): pairs of documents with IDENTICAL normalized
    text whose embeddings disagree (cosine < ``min_cosine``) — the
    inverse of semantic dedup, and a pipeline QA check: same content must
    embed to (near-)identical vectors, so every row here is evidence of
    a broken embedding job (version skew between backfills, truncation,
    non-determinism, row misalignment). Run it after every embedding
    refresh; an empty result is the pass condition.

    Corpus-linear: pairs come from the content-fingerprint self-join
    (per-key fan-out bounded by the duplicate-group size), never an
    all-pairs vector scan; cosine is the oracle-stable sequential fold.
    """
    from ai_batch_processing_spark.operators.text import fingerprint_expr

    d = (
        docs.select(F.col(doc_id_col).alias("id"), fingerprint_expr(F.col(text_col)).alias("fp"))
        .join(
            emb.select(F.col(vec_id_col).alias("id"), F.col(vec_col).alias("v")),
            "id",
        )
    )
    a = d.select(F.col("id").alias("id_a"), F.col("fp"), F.col("v").alias("_va"))
    b = d.select(F.col("id").alias("id_b"), F.col("fp"), F.col("v").alias("_vb"))
    pairs = a.join(b, "fp").filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb")))
    return (
        # filter on the RAW cosine (the oracle's form): rounding first
        # would silently pass pairs in [min_cosine - 5e-7, min_cosine)
        pairs.select("id_a", "id_b", cos.alias("_raw"))
        .filter(F.col("_raw") < min_cosine)
        .select("id_a", "id_b", F.round(F.col("_raw"), 6).alias("cosine"))
    )


@register(
    "q187_embedding_consistency_audit",
    oracle=r"""
        WITH salted AS (
            -- plant known inconsistencies: every 5th doc takes its
            -- predecessor's text (doc_id is dense, so predecessor =
            -- doc_id - 1 by equi-join) while keeping its OWN embedding row
            SELECT d.doc_id,
                   CASE WHEN d.doc_id % 5 = 0 AND d.doc_id > 0
                        THEN p.text ELSE d.text END AS text
            FROM documents d
            LEFT JOIN documents p ON p.doc_id = d.doc_id - 1
        ),
        d AS (
            SELECT doc_id AS id,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
            FROM salted
        ),
        v AS (
            SELECT d.id, d.fp, CAST(e.embedding AS DOUBLE[]) AS v
            FROM d JOIN embeddings e ON d.id = e.vec_id
        )
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(list_inner_product(a.v, b.v)
                     / (sqrt(list_inner_product(a.v, a.v))
                        * sqrt(list_inner_product(b.v, b.v))), 6) AS cosine
        FROM v a JOIN v b ON a.fp = b.fp AND a.id < b.id
        WHERE list_inner_product(a.v, b.v)
              / (sqrt(list_inner_product(a.v, a.v))
                 * sqrt(list_inner_product(b.v, b.v))) < 0.99
        ORDER BY id_a, id_b
    """,
    doc=(
        "embedding-consistency audit (the inverse of semantic dedup): "
        "identical-content doc pairs whose embeddings disagree — each row "
        "is evidence of a broken embedding job (version skew, row "
        "misalignment); empty = pass. Fingerprint self-join with "
        "dup-group-bounded fan-out, oracle-stable sequential cosine."
    ),
    tags=("similarity", "corpus", "qa"),
)
def q187_embedding_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    # plant known inconsistencies (the raw synthetic corpus has no exact
    # dups): every 5th doc takes its predecessor's text while keeping its
    # OWN embedding row — the audit must flag exactly those pairs.
    # doc_id is dense, so "predecessor" is the doc_id-1 row: derived via a
    # distributed equi-join, NOT an unpartitioned lag window (which would
    # funnel the whole corpus through one reducer).
    docs = t["documents"]
    pred = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("_prev_text")
    )
    salted = docs.join(pred, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 5 == 0) & (F.col("doc_id") > 0), F.col("_prev_text")
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return embedding_consistency_audit(salted, t["embeddings"]).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Per-dimension embedding standardization stats (whitening preprocessing)
# ---------------------------------------------------------------------------
def dimension_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-dimension distribution audit: ``(dim, n, mean, std,
    n_outliers)`` — the statistics a whitening / standardization
    transform consumes, plus the |z| > threshold census that catches a
    broken embedding dimension (a stuck feature, an unnormalized
    backfill, a dimension whose scale drifted between model versions).
    Run it before ANN index builds: SQ8/PQ quantizers assume roughly
    comparable per-dim ranges, and one pathological dimension silently
    eats the quantization budget.

    Two posexplode passes (stats, then z-census against the BROADCAST
    64-row stats table); each collapses map-side to ≤ dim rows per
    partition — the standard distributed-moments shape, no corpus-sized
    shuffle. The z comparison uses the ROUNDED mean/std on purpose:
    both engines (and any two cluster runs) threshold against the same
    constants, so the outlier census is reproducible even though raw
    float summation order is not.
    """
    vals = emb.select(F.posexplode(vec_col).alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    stats = vals.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v"), 6).alias("mean"),
        F.round(F.stddev_pop("v"), 6).alias("std"),
    )
    z_ok = (F.col("std") > 0) & (
        F.abs((F.col("v") - F.col("mean")) / F.col("std")) > F.lit(z_threshold)
    )
    outliers = (
        vals.join(F.broadcast(stats), "dim")
        .where(z_ok)
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        stats.join(outliers, "dim", "left")
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.col("n").cast("long").alias("n"),
            "mean",
            "std",
            F.coalesce("n_outliers", F.lit(0)).cast("long").alias("n_outliers"),
        )
    )


@register(
    "q210_embedding_dim_stats",
    oracle="""
        WITH vals AS (
            SELECT CAST(t.i AS BIGINT) AS dim,
                   CAST(embedding[CAST(t.i + 1 AS INT)] AS DOUBLE) AS v
            FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) t(i)
        ),
        stats AS (
            SELECT dim, COUNT(*) AS n,
                   ROUND(AVG(v), 6) AS mean,
                   ROUND(STDDEV_POP(v), 6) AS std
            FROM vals GROUP BY dim
        ),
        outl AS (
            SELECT v.dim, COUNT(*) AS n_outliers
            FROM vals v JOIN stats s USING (dim)
            WHERE s.std > 0 AND ABS((v.v - s.mean) / s.std) > 3.0
            GROUP BY v.dim
        )
        SELECT s.dim, CAST(s.n AS BIGINT) AS n, s.mean, s.std,
               CAST(COALESCE(o.n_outliers, 0) AS BIGINT) AS n_outliers
        FROM stats s LEFT JOIN outl o USING (dim)
        ORDER BY s.dim
    """,
    doc=(
        "per-dimension embedding stats (mean/std/|z|>3 census) — the "
        "whitening-transform inputs and the broken-dimension detector run "
        "before ANN index builds. Distributed moments: posexplode with "
        "map-side collapse to dim rows, broadcast stats join for the "
        "z-census; thresholds compare against ROUNDED stats so the census "
        "is engine- and run-reproducible."
    ),
    tags=("embedding", "qa", "stats"),
)
def q210_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    return dimension_stats(emb).orderBy("dim")


# ---------------------------------------------------------------------------
# Per-source embedding centroids + pairwise centroid cosine
# ---------------------------------------------------------------------------
def source_centroids(
    docs: DataFrame,
    emb: DataFrame,
    group_col: str = "source",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean embedding as ``(group, dim, c)`` rows — the
    embedding-space fingerprint of each corpus source.

    Components are ROUNDED (6dp) at the aggregate so every downstream
    comparison (and the cross-engine gate) sees the same constants
    regardless of float-summation order. Shape: one join to attach the
    group, one posexplode, one map-combinable (group, dim) average —
    output size |groups|·dim, never corpus-sized.
    """
    tagged = docs.select(
        F.col(doc_id_col).alias("_id"), F.col(group_col).alias("grp")
    ).join(
        emb.select(F.col(vec_id_col).alias("_id"), F.col(vec_col).alias("_v")), "_id"
    )
    return (
        tagged.select("grp", F.posexplode("_v").alias("dim", "x"))
        .groupBy("grp", "dim")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
    )


def centroid_similarity_matrix(centroids: DataFrame) -> DataFrame:
    """Pairwise cosine between group centroids: ``(grp_a, grp_b, cosine)``
    for grp_a < grp_b. Runs entirely on the |groups|·dim centroid table
    (corpus-scale work already collapsed by :func:`source_centroids`);
    the dot/norm sums run over the dim-sized aggregate per pair. Reads
    on the ROUNDED components, so the matrix is engine-reproducible.
    """
    a = centroids.select(
        F.col("grp").alias("grp_a"), "dim", F.col("c").alias("ca")
    )
    b = centroids.select(
        F.col("grp").alias("grp_b"), "dim", F.col("c").alias("cb")
    )
    pairs = a.join(b, "dim").where(F.col("grp_a") < F.col("grp_b"))
    return (
        pairs.groupBy("grp_a", "grp_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("_dot"),
            F.sqrt(F.sum(F.col("ca") * F.col("ca"))).alias("_na"),
            F.sqrt(F.sum(F.col("cb") * F.col("cb"))).alias("_nb"),
        )
        .select(
            "grp_a",
            "grp_b",
            F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6).alias("cosine"),
        )
    )


@register(
    "q215_source_centroid_similarity",
    oracle="""
        WITH tagged AS (
            SELECT d.source AS grp, CAST(e.embedding AS DOUBLE[]) AS v
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        ),
        vals AS (
            SELECT grp, CAST(t.i AS BIGINT) AS dim, v[CAST(t.i + 1 AS INT)] AS x
            FROM tagged, unnest(generate_series(0, len(v) - 1)) t(i)
        ),
        cent AS (
            SELECT grp, dim, ROUND(AVG(x), 6) AS c
            FROM vals GROUP BY grp, dim
        )
        SELECT a.grp AS grp_a, b.grp AS grp_b,
               ROUND(SUM(a.c * b.c)
                     / (SQRT(SUM(a.c * a.c)) * SQRT(SUM(b.c * b.c))), 6) AS cosine
        FROM cent a JOIN cent b USING (dim)
        WHERE a.grp < b.grp
        GROUP BY a.grp, b.grp
        ORDER BY grp_a, grp_b
    """,
    doc=(
        "embedding-space source divergence: per-source centroid (rounded "
        "map-combinable mean over a posexplode) and the pairwise cosine "
        "matrix between centroids — the panel that shows which corpus "
        "sources occupy the same embedding region (token-distribution "
        "divergence q183's vector-space twin). All pairwise work runs on "
        "the |sources|*dim aggregate, never the corpus."
    ),
    tags=("similarity", "embedding", "corpus", "qa"),
)
def q215_source_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    cent = source_centroids(t["documents"], t["embeddings"])
    return centroid_similarity_matrix(cent).orderBy("grp_a", "grp_b")


# ---------------------------------------------------------------------------
# Embedding dispersion + diagonal-Fréchet source distances (moment forms)
# ---------------------------------------------------------------------------
def embedding_dispersion(
    docs: DataFrame,
    emb: DataFrame,
    group_col: str = "source",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group semantic diversity via the moment closed form:
    ``(group, n_vecs, mean_sq_norm, centroid_sq_norm, dispersion)``.

    dispersion = E‖x−y‖² over independent same-group draws
    = 2·(E‖x‖² − ‖E x‖²) — exact, from ONE first/second-moment pass, no
    pair sampling and no quadratic join. A collapsed (mode-dropped)
    embedder shows dispersion → 0 while per-dimension stats (q210) can
    still look healthy; this is the group-level collapse detector a
    training-data pipeline runs per source before mixing.

    Cost shape: one HOF fold for ‖x‖² (no explode) + one posexplode pass
    collapsed map-side to (group, dim) rows; everything after is
    |groups|·dim-sized. Per-dim means are ROUNDED (6dp) before squaring
    (the source_centroids convention) so both engines square identical
    constants.
    """
    j = docs.select(F.col(doc_id_col).alias("_id"), F.col(group_col).alias("grp")).join(
        emb.select(F.col(vec_id_col).alias("_id"), F.col(vec_col).alias("_v")), "_id"
    )
    sqn = F.aggregate(
        "_v", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    sq = j.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"), F.avg(sqn).alias("_msn")
    )
    dims = (
        j.select("grp", F.posexplode("_v").alias("dim", "x"))
        .groupBy("grp", "dim")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
    )
    cn = dims.groupBy("grp").agg(F.sum(F.col("m") * F.col("m")).alias("_c2"))
    return sq.join(cn, "grp").select(
        F.col("grp"),
        "n_vecs",
        F.round(F.col("_msn"), 6).alias("mean_sq_norm"),
        F.round(F.col("_c2"), 6).alias("centroid_sq_norm"),
        F.round(F.lit(2.0) * (F.col("_msn") - F.col("_c2")), 6).alias("dispersion"),
    )


def diag_frechet_matrix(
    docs: DataFrame,
    emb: DataFrame,
    group_col: str = "source",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise diagonal-covariance Fréchet distance between group
    embedding distributions: ``(grp_a, grp_b, mean_dist_sq, std_dist_sq,
    frechet)`` for grp_a < grp_b.

    The Fréchet (FID-style) distance between Gaussians with DIAGONAL
    covariances collapses to ‖μa−μb‖² + Σ_d (σa_d + σb_d − 2·σa_d·σb_d^{1/2,1/2})
    = ‖μa−μb‖² + ‖σa−σb‖² — no matrix square root, so the whole statistic
    reduces to per-(group, dim) first/second moments. The diagonal
    approximation is documented and standard when the full Σ^{1/2} is
    unaffordable; it upper-bounds distributional agreement checks between
    corpus sources (a cheap MAUVE/FID stand-in for "did source B drift
    from source A in embedding space").

    Corpus work is ONE posexplode pass collapsed to |groups|·dim moment
    rows; the pair matrix is |groups|²·dim arithmetic on ROUNDED (6dp)
    means and stds — engine-reproducible by construction.
    """
    j = docs.select(F.col(doc_id_col).alias("_id"), F.col(group_col).alias("grp")).join(
        emb.select(F.col(vec_id_col).alias("_id"), F.col(vec_col).alias("_v")), "_id"
    )
    stats = (
        j.select("grp", F.posexplode("_v").alias("dim", "x"))
        .groupBy("grp", "dim")
        .agg(
            F.round(F.avg(F.col("x").cast("double")), 6).alias("m"),
            F.round(F.stddev_pop(F.col("x").cast("double")), 6).alias("s"),
        )
    )
    a = stats.select(F.col("grp").alias("grp_a"), "dim", F.col("m").alias("ma"), F.col("s").alias("sa"))
    b = stats.select(F.col("grp").alias("grp_b"), "dim", F.col("m").alias("mb"), F.col("s").alias("sb"))
    pairs = a.join(b, "dim").where(F.col("grp_a") < F.col("grp_b"))
    md = (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))
    sd = (F.col("sa") - F.col("sb")) * (F.col("sa") - F.col("sb"))
    return (
        pairs.groupBy("grp_a", "grp_b")
        .agg(
            F.round(F.sum(md), 6).alias("mean_dist_sq"),
            F.round(F.sum(sd), 6).alias("std_dist_sq"),
            F.round(F.sum(md) + F.sum(sd), 6).alias("frechet"),
        )
    )


_DISPERSION_JOIN_SQL = """
        j AS (
            SELECT d.source AS grp, CAST(e.embedding AS DOUBLE[]) AS v
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        )
"""


@register(
    "q337_embedding_dispersion",
    oracle=f"""
        WITH {_DISPERSION_JOIN_SQL},
        sq AS (
            SELECT grp, COUNT(*) AS n,
                   AVG(list_sum(list_transform(v, x -> x * x))) AS msn
            FROM j GROUP BY grp
        ),
        dims AS (
            SELECT grp, CAST(t.i AS BIGINT) AS dim,
                   ROUND(AVG(v[CAST(t.i + 1 AS INT)]), 6) AS m
            FROM j, unnest(generate_series(0, len(v) - 1)) t(i)
            GROUP BY grp, t.i
        ),
        cn AS (SELECT grp, SUM(m * m) AS c2 FROM dims GROUP BY grp)
        SELECT sq.grp, CAST(sq.n AS BIGINT) AS n_vecs,
               ROUND(sq.msn, 6) AS mean_sq_norm,
               ROUND(cn.c2, 6) AS centroid_sq_norm,
               ROUND(2 * (sq.msn - cn.c2), 6) AS dispersion
        FROM sq JOIN cn USING (grp)
        ORDER BY grp
    """,
    doc=(
        "per-source embedding dispersion E‖x−y‖² via the exact moment "
        "closed form 2·(E‖x‖² − ‖Ex‖²) — the source-level embedder-collapse "
        "detector, one moment pass, no pair sampling."
    ),
    tags=("embedding", "qa", "stats"),
)
def q337_embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    return embedding_dispersion(t["documents"], t["embeddings"]).orderBy("grp")


@register(
    "q338_diag_frechet_sources",
    oracle=f"""
        WITH {_DISPERSION_JOIN_SQL},
        stats AS (
            SELECT grp, CAST(t.i AS BIGINT) AS dim,
                   ROUND(AVG(v[CAST(t.i + 1 AS INT)]), 6) AS m,
                   ROUND(STDDEV_POP(v[CAST(t.i + 1 AS INT)]), 6) AS s
            FROM j, unnest(generate_series(0, len(v) - 1)) t(i)
            GROUP BY grp, t.i
        )
        SELECT a.grp AS grp_a, b.grp AS grp_b,
               ROUND(SUM((a.m - b.m) * (a.m - b.m)), 6) AS mean_dist_sq,
               ROUND(SUM((a.s - b.s) * (a.s - b.s)), 6) AS std_dist_sq,
               ROUND(SUM((a.m - b.m) * (a.m - b.m))
                     + SUM((a.s - b.s) * (a.s - b.s)), 6) AS frechet
        FROM stats a JOIN stats b USING (dim)
        WHERE a.grp < b.grp
        GROUP BY a.grp, b.grp
        ORDER BY grp_a, grp_b
    """,
    doc=(
        "pairwise diagonal-Fréchet (FID-style) distance between source "
        "embedding distributions: ‖μa−μb‖² + ‖σa−σb‖² from per-(source, dim) "
        "moments — the cheap distribution-shift matrix between corpus "
        "sources; diagonal approximation documented."
    ),
    tags=("embedding", "qa", "drift"),
)
def q338_diag_frechet_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    return diag_frechet_matrix(t["documents"], t["embeddings"]).orderBy("grp_a", "grp_b")


# ---------------------------------------------------------------------------
# First-class k-means clustering (SQL-portable configuration)
# ---------------------------------------------------------------------------
_KM_NLIST = 8
_KM_ITER = 2


def _km_assign_sql(cent: str, out: str) -> str:
    """One DuckDB assignment round: rounded cosine vs ``cent``, first-max."""
    return f"""
        sims_{out} AS (
            SELECT v.vec_id, ct.cell,
                   ROUND(SUM(v.x * ct.c) / (vn.nv * cn.ncell), 6) AS sim
            FROM vals v
            JOIN {cent} ct USING (dim)
            JOIN vnorm vn USING (vec_id)
            JOIN (SELECT cell, SQRT(SUM(c * c)) AS ncell
                  FROM {cent} GROUP BY cell) cn USING (cell)
            GROUP BY v.vec_id, ct.cell, vn.nv, cn.ncell
        ),
        {out} AS (
            SELECT vec_id, cell, sim FROM (
                SELECT vec_id, cell, sim,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY sim DESC, cell
                       ) AS rn
                FROM sims_{out}
            ) WHERE rn = 1
        )"""


def _km_update_sql(assign: str, prev: str, out: str) -> str:
    """One DuckDB Lloyd update: per-(cell, dim) mean rounded to 6dp;
    cells that lost every member keep their previous centroid."""
    return f"""
        upd_{out} AS (
            SELECT a.cell, v.dim, ROUND(AVG(v.x), 6) AS c
            FROM {assign} a JOIN vals v USING (vec_id)
            GROUP BY a.cell, v.dim
        ),
        {out} AS (
            SELECT p.cell, p.dim, COALESCE(u.c, p.c) AS c
            FROM {prev} p
            LEFT JOIN upd_{out} u ON u.cell = p.cell AND u.dim = p.dim
        )"""


@register(
    "q218_kmeans_clusters",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        vals AS (
            SELECT vec_id, CAST(t.i AS BIGINT) AS dim, v[CAST(t.i + 1 AS INT)] AS x
            FROM emb, unnest(generate_series(0, len(v) - 1)) t(i)
        ),
        vnorm AS (SELECT vec_id, SQRT(SUM(x * x)) AS nv FROM vals GROUP BY vec_id),
        seeds AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, vec_id
            FROM (SELECT vec_id FROM emb ORDER BY vec_id LIMIT {_KM_NLIST})
        ),
        cent0 AS (
            SELECT s.cell, v.dim, v.x AS c FROM seeds s JOIN vals v USING (vec_id)
        ),
        {_km_assign_sql("cent0", "a1")},
        {_km_update_sql("a1", "cent0", "cent1")},
        {_km_assign_sql("cent1", "a2")},
        {_km_update_sql("a2", "cent1", "cent2")},
        {_km_assign_sql("cent2", "afinal")}
        SELECT vec_id, CAST(cell AS BIGINT) AS cell, sim FROM afinal
        ORDER BY vec_id
    """,
    doc=(
        "first-class k-means (8 cells, 2 Lloyd rounds, SQL-portable "
        "config): lowest-id seeding, assignment on 6dp-ROUNDED cosine with "
        "first-max tiebreak, centroids rounded per round — every iterative "
        "decision depends only on constants both engines reproduce, so the "
        "whole distributed training loop hash-matches an unrolled DuckDB "
        "CTE chain. Spark side trains via the fused Arrow kernel (one job "
        "per round, nlist*dim partials shuffled — the IVF trainer) and "
        "gates the final assignment through the Catalyst cosine twin."
    ),
    tags=("similarity", "clustering", "iterative", "verify"),
)
def q218_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    cents = kmeans_centroids(
        emb, nlist=_KM_NLIST, n_iter=_KM_ITER, init="first", round_dp=6
    )
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell long, cv array<double>",
    )
    scored = emb.crossJoin(F.broadcast(cdf)).select(
        "vec_id",
        "cell",
        F.round(cosine(F.col("embedding"), F.col("cv")), 6).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell", "sim")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation: IR metrics + k-NN label classifier
# ---------------------------------------------------------------------------
def retrieval_eval(
    run: DataFrame,
    labels: DataFrame,
    k: int,
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """IR metrics for a retrieval ``run`` against label-match relevance.

    ``run`` is a ranked result list — ``(query_id, neighbor_id, rank)``,
    ``rank`` 1-based, at most ``k`` rows per query (the output shape of
    :func:`cosine_topk` and every ANN variant here). ``labels`` is the
    relevance source: ``(id, label)``; a neighbor is relevant iff it
    shares the query's label. Returns one row per query:
    ``(query_id, label, n_rel, hits, precision, recall, rr, ndcg)`` —
    precision@k, recall@k (vs all same-label corpus rows excluding the
    query itself), reciprocal rank of the first relevant hit, and
    NDCG@k with the ideal DCG truncated at ``min(k, n_rel)``.

    Scale shape: the run is queries×k rows; both label joins broadcast
    the bounded side, the per-query aggregate partitions on query_id, and
    the per-label totals are a label-cardinality-sized broadcast. Nothing
    here touches the corpus beyond one count per label. The eval harness
    the curation loop reads after every index/tokenizer change; metric
    definitions per Manning et al., Introduction to Information
    Retrieval §8.4 (public). The reference app has no retrieval surface
    (SURVEY.md §2 — scoring ends at its LLM batch loop), so this is a
    north-star extension, not a parity item.
    """
    lab_q = labels.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("q_label")
    )
    lab_n = labels.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("n_label")
    )
    totals = labels.groupBy(F.col(label_col).alias("q_label")).agg(
        F.count(F.lit(1)).alias("n_tot")
    )
    rel = (
        run.join(F.broadcast(lab_q), "query_id")
        .join(F.broadcast(lab_n), "neighbor_id")
        .withColumn("rel", (F.col("n_label") == F.col("q_label")).cast("int"))
    )
    per_q = rel.groupBy("query_id", "q_label").agg(
        F.sum("rel").cast("long").alias("hits"),
        F.max(
            F.when(F.col("rel") == 1, F.lit(1.0) / F.col("rank")).otherwise(0.0)
        ).alias("rr_raw"),
        F.sum(
            F.when(
                F.col("rel") == 1, F.lit(1.0) / F.log2(F.col("rank") + F.lit(1.0))
            ).otherwise(0.0)
        ).alias("dcg"),
    )
    out = per_q.join(F.broadcast(totals), "q_label").withColumn(
        "n_rel", (F.col("n_tot") - F.lit(1)).cast("long")
    )
    # Ideal DCG: sequential fold over positions 1..min(k, n_rel) — the same
    # left-to-right accumulation order as the oracle's running-window sum.
    # greatest(n_rel, 1) guards Spark's descending-sequence surprise
    # (sequence(1, 0) == [1, 0]); n_rel == 0 yields ndcg 0 via the dcg gate.
    idcg = F.expr(
        f"aggregate(sequence(1, int(least({k}, greatest(n_rel, 1)))), "
        "cast(0.0 as double), (acc, i) -> acc + 1.0 / log2(cast(i as double) + 1.0))"
    )
    return out.select(
        "query_id",
        F.col("q_label").alias("label"),
        "n_rel",
        "hits",
        F.round(F.col("hits") / F.lit(float(k)), 6).alias("precision"),
        F.round(
            F.when(F.col("n_rel") > 0, F.col("hits") / F.col("n_rel")).otherwise(0.0),
            6,
        ).alias("recall"),
        F.round(F.col("rr_raw"), 6).alias("rr"),
        F.round(
            F.when(F.col("dcg") > 0, F.col("dcg") / idcg).otherwise(0.0), 6
        ).alias("ndcg"),
    )


def knn_label_predict(
    run: DataFrame,
    labels: DataFrame,
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote label prediction from a ranked neighbor ``run``.

    ``run`` is ``(query_id, neighbor_id, rank)``; each query's predicted
    label is the most common neighbor label (ties → smallest label, the
    deterministic argmax convention used throughout). Returns
    ``(query_id, true_label, pred_label, votes, correct)`` — the
    label-quality eval that decides whether an embedding column is good
    enough to drive weak supervision. The vote aggregate partitions on
    query_id (bounded), never on the corpus.
    """
    lab_q = labels.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    lab_n = labels.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("n_label")
    )
    votes = (
        run.join(F.broadcast(lab_n), "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("n_label"))
    pred = votes.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return pred.join(F.broadcast(lab_q), "query_id").select(
        "query_id",
        "true_label",
        F.col("n_label").alias("pred_label"),
        "votes",
        (F.col("true_label") == F.col("n_label")).cast("int").alias("correct"),
    )


_EVAL_TOPK_SQL = """
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                     label AS q_label
              FROM embeddings WHERE vec_id < 50),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
                     label AS n_label
              FROM embeddings),
        scored AS (
            SELECT query_id, q_label, neighbor_id, n_label,
                   ROUND(list_cosine_similarity(qv, cv), 6) AS score
            FROM q JOIN c ON query_id <> neighbor_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id
            ) AS rank FROM scored
        ),
        topk AS (SELECT * FROM ranked WHERE rank <= 10)
"""


@register(
    "q219_retrieval_eval",
    oracle=f"""
        WITH {_EVAL_TOPK_SQL},
        lab_tot AS (SELECT label, COUNT(*) AS n_tot FROM embeddings GROUP BY label),
        perq AS (
            SELECT query_id, q_label AS label,
                   CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                   MAX(CASE WHEN n_label = q_label THEN 1.0 / rank ELSE 0.0 END) AS rr_raw,
                   SUM(CASE WHEN n_label = q_label
                            THEN 1.0 / log2(rank + 1.0) ELSE 0.0 END) AS dcg
            FROM topk GROUP BY query_id, q_label
        ),
        pos AS (
            SELECT i, SUM(1.0 / log2(i + 1.0)) OVER (ORDER BY i) AS idcg
            FROM generate_series(1, 10) t(i)
        )
        SELECT p.query_id, p.label,
               CAST(lt.n_tot - 1 AS BIGINT) AS n_rel,
               p.hits,
               ROUND(p.hits / 10.0, 6) AS precision,
               ROUND(CASE WHEN lt.n_tot - 1 > 0
                          THEN p.hits * 1.0 / (lt.n_tot - 1) ELSE 0.0 END, 6) AS recall,
               ROUND(p.rr_raw, 6) AS rr,
               ROUND(CASE WHEN p.dcg > 0 THEN p.dcg / pos.idcg ELSE 0.0 END, 6) AS ndcg
        FROM perq p
        JOIN lab_tot lt ON lt.label = p.label
        JOIN pos ON pos.i = LEAST(10, GREATEST(lt.n_tot - 1, 1))
        ORDER BY p.query_id
    """,
    doc=(
        "retrieval eval harness: precision/recall@10, MRR, NDCG@10 of exact "
        "cosine top-10 against label-match relevance — the metrics loop every "
        "index/tokenizer change is judged by. Run is queries*k rows; label "
        "joins broadcast, per-query aggregate partitions on query_id; NDCG's "
        "ideal-DCG fold mirrors the oracle's running-window sum order."
    ),
    tags=("similarity", "eval"),
)
def q219_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    run = cosine_topk(emb, emb.filter(F.col("vec_id") < 50), k=10)
    labels = emb.select(F.col("vec_id").alias("id"), "label")
    return retrieval_eval(run, labels, k=10).orderBy("query_id")


@register(
    "q221_knn_label_eval",
    oracle=f"""
        WITH {_EVAL_TOPK_SQL},
        votes AS (
            SELECT query_id, n_label, CAST(COUNT(*) AS BIGINT) AS votes
            FROM topk GROUP BY query_id, n_label
        ),
        pred AS (
            SELECT query_id, n_label, votes FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY votes DESC, n_label
                ) AS rn FROM votes
            ) WHERE rn = 1
        )
        SELECT p.query_id,
               q2.label AS true_label,
               p.n_label AS pred_label,
               p.votes,
               CAST(CASE WHEN q2.label = p.n_label THEN 1 ELSE 0 END AS INT) AS correct
        FROM pred p JOIN embeddings q2 ON q2.vec_id = p.query_id
        ORDER BY p.query_id
    """,
    doc=(
        "k-NN majority-vote label classifier eval (k=10, ties -> smallest "
        "label): per-query predicted vs true label over the embeddings' label "
        "column — the weak-supervision quality check for an embedding space. "
        "Votes aggregate on query_id only; corpus work stays in the gated "
        "top-k kernel."
    ),
    tags=("similarity", "eval"),
)
def q221_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    run = cosine_topk(emb, emb.filter(F.col("vec_id") < 50), k=10)
    labels = emb.select(F.col("vec_id").alias("id"), "label")
    return knn_label_predict(run, labels).orderBy("query_id")


# ---------------------------------------------------------------------------
# IVF recall eval at a REAL approximate configuration (q224)
# ---------------------------------------------------------------------------
_IVF_EVAL_NPROBE = 2
_IVF_EVAL_K = 5
_IVF_EVAL_NQ = 30

_KM_PORTABLE_CTES = f"""
        emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        vals AS (
            SELECT vec_id, CAST(t.i AS BIGINT) AS dim, v[CAST(t.i + 1 AS INT)] AS x
            FROM emb, unnest(generate_series(0, len(v) - 1)) t(i)
        ),
        vnorm AS (SELECT vec_id, SQRT(SUM(x * x)) AS nv FROM vals GROUP BY vec_id),
        seeds AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, vec_id
            FROM (SELECT vec_id FROM emb ORDER BY vec_id LIMIT {_KM_NLIST})
        ),
        cent0 AS (
            SELECT s.cell, v.dim, v.x AS c FROM seeds s JOIN vals v USING (vec_id)
        ),
        {{a1}},
        {{c1}},
        {{a2}},
        {{c2}},
        {{afinal}}
"""


@register(
    "q224_ivf_recall_eval",
    oracle=f"""
        WITH {_KM_PORTABLE_CTES.format(
            a1=_km_assign_sql("cent0", "a1"),
            c1=_km_update_sql("a1", "cent0", "cent1"),
            a2=_km_assign_sql("cent1", "a2"),
            c2=_km_update_sql("a2", "cent1", "cent2"),
            afinal=_km_assign_sql("cent2", "afinal"),
        )},
        probe AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT vec_id, cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY sim DESC, cell
                       ) AS rn
                FROM sims_afinal WHERE vec_id < {_IVF_EVAL_NQ}
            ) WHERE rn <= {_IVF_EVAL_NPROBE}
        ),
        approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT p.query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.query_id
                           ORDER BY ROUND(list_cosine_similarity(qe.v, ce.v), 6) DESC,
                                    c.vec_id
                       ) AS rank
                FROM probe p
                JOIN afinal c ON c.cell = p.cell AND c.vec_id <> p.query_id
                JOIN emb qe ON qe.vec_id = p.query_id
                JOIN emb ce ON ce.vec_id = c.vec_id
            ) WHERE rank <= {_IVF_EVAL_K}
        ),
        truth AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 6) DESC,
                                    c.vec_id
                       ) AS rank
                FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
                WHERE q.vec_id < {_IVF_EVAL_NQ}
            ) WHERE rank <= {_IVF_EVAL_K}
        )
        SELECT t.query_id,
               CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits,
               ROUND(COUNT(a.neighbor_id) / {_IVF_EVAL_K}.0, 6) AS recall
        FROM truth t
        LEFT JOIN approx a
          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        GROUP BY t.query_id
        ORDER BY t.query_id
    """,
    doc=(
        "per-query recall@5 of REAL approximate IVF search (nprobe=2 of "
        "nlist=8, trained centroids) against brute-force truth — the first "
        "approximate-configuration ANN gate: q218's SQL-portable k-means "
        "makes the trained centroids, cell assignment, probe choice, and "
        "candidate ranking all reproducible in the DuckDB twin, so the "
        "recall measurement itself hash-matches (before this, approximate "
        "paths were gate-able only at recall-1 configurations, q133/q134). "
        "Spark side mirrors the production IVF plan shape: assignment + "
        "probe via broadcast centroid joins, candidates co-joined on cell, "
        "per-query top-k window."
    ),
    tags=("similarity", "ann", "eval", "verify"),
)
def q224_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    return ivf_recall_eval(
        emb,
        n_queries=_IVF_EVAL_NQ,
        nlist=_KM_NLIST,
        n_iter=_KM_ITER,
        nprobe=_IVF_EVAL_NPROBE,
        k=_IVF_EVAL_K,
    ).orderBy("query_id")


def ivf_recall_eval(
    emb: DataFrame,
    n_queries: int,
    nlist: int,
    n_iter: int,
    nprobe: int,
    k: int,
) -> DataFrame:
    """Per-query recall@k of approximate IVF (trained portable centroids,
    ``nprobe`` probed cells) against brute-force truth — the q224 body,
    parameterized so tests can pin the recall-1 boundary (nprobe=nlist ⇒
    every recall is exactly 1.0, the q133 argument applied to the trained
    index)."""
    spark = emb.sparkSession
    cents = kmeans_centroids(emb, nlist=nlist, n_iter=n_iter, init="first", round_dp=6)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell long, cv array<double>",
    )
    sims = emb.crossJoin(F.broadcast(cdf)).select(
        "vec_id", "cell", F.round(cosine(F.col("embedding"), F.col("cv")), 6).alias("sim")
    )
    w_cell = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    ranked = sims.withColumn("rn", F.row_number().over(w_cell))
    assign = ranked.where(F.col("rn") == 1).select("vec_id", "cell")
    probe = (
        ranked.where((F.col("vec_id") < n_queries) & (F.col("rn") <= nprobe))
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    qv = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    cand = (
        probe.join(assign.withColumnRenamed("vec_id", "neighbor_id"), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score"),
        )
    )
    w_q = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    approx = (
        cand.withColumn("rank", F.row_number().over(w_q))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.lit(1).alias("a"))
    )
    truth = cosine_topk(emb, emb.filter(F.col("vec_id") < n_queries), k=k).select(
        "query_id", "neighbor_id"
    )
    return (
        truth.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("a"), F.lit(0))).cast("long").alias("hits"),
            F.round(
                F.sum(F.coalesce(F.col("a"), F.lit(0))) / F.lit(float(k)), 6
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Eval scorecard capstone (q225)
# ---------------------------------------------------------------------------
def _eval_scorecard_oracle() -> str:
    # importing the module registers q223 — required when similarity is
    # imported directly (tests) rather than via registry.load_all()
    from ai_batch_processing_spark.operators import dedup  # noqa: F401
    from ai_batch_processing_spark.registry import registered_oracle

    q219 = registered_oracle("q219_retrieval_eval")
    q221 = registered_oracle("q221_knn_label_eval")
    q223 = registered_oracle("q223_dedup_candidate_eval")
    q224 = registered_oracle("q224_ivf_recall_eval")
    return f"""
        SELECT a.retrieval_mean_ndcg, a.retrieval_mrr, b.knn_accuracy,
               c.dedup_precision, c.dedup_recall, d.ivf_mean_recall
        FROM (SELECT ROUND(AVG(ndcg), 6) AS retrieval_mean_ndcg,
                     ROUND(AVG(rr), 6) AS retrieval_mrr
              FROM ({q219}) t) a,
             (SELECT ROUND(AVG(correct), 6) AS knn_accuracy FROM ({q221}) t) b,
             (SELECT precision AS dedup_precision, recall AS dedup_recall
              FROM ({q223}) t) c,
             (SELECT ROUND(AVG(recall), 6) AS ivf_mean_recall FROM ({q224}) t) d
    """


@register(
    "q225_eval_scorecard",
    oracle=_eval_scorecard_oracle(),
    doc=(
        "one-row quality scorecard for the whole eval family: retrieval mean "
        "NDCG@10 + MRR (q219), k-NN label accuracy (q221), dedup "
        "candidate-stage precision/recall (q223), IVF mean recall@5 at "
        "nprobe=2/8 (q224) — the dashboard row a pipeline publishes per data "
        "snapshot. Composed lazily from the gated sub-pipelines; the DuckDB "
        "twin embeds their oracles verbatim (registered_oracle), so the "
        "capstone can never drift from its parts."
    ),
    tags=("eval", "capstone"),
)
def q225_eval_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.dedup import q223_dedup_candidate_eval

    r = q219_retrieval_eval(spark, sf_dir).agg(
        F.round(F.avg("ndcg"), 6).alias("retrieval_mean_ndcg"),
        F.round(F.avg("rr"), 6).alias("retrieval_mrr"),
    )
    knn = q221_knn_label_eval(spark, sf_dir).agg(
        F.round(F.avg("correct"), 6).alias("knn_accuracy")
    )
    ded = q223_dedup_candidate_eval(spark, sf_dir).select(
        F.col("precision").alias("dedup_precision"),
        F.col("recall").alias("dedup_recall"),
    )
    ivf = q224_ivf_recall_eval(spark, sf_dir).agg(
        F.round(F.avg("recall"), 6).alias("ivf_mean_recall")
    )
    return r.crossJoin(knn).crossJoin(ded).crossJoin(ivf)


# ---------------------------------------------------------------------------
# Margin-criterion pair mining (bitext-mining shape)
# ---------------------------------------------------------------------------
def margin_best_pairs(
    side_a: DataFrame,
    side_b: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cosine, margin): each A-row's best B-match by the
    RATIO margin criterion — cos(x,y) / ((avgk(x) + avgk(y)) / 2), where
    avgk(·) is the mean cosine of that row's k nearest neighbors in the
    OTHER side (Artetxe & Schwenk 2019, the bitext/parallel-pair mining
    score). Plain cosine thresholds fail under hubness — some vectors are
    close to everything — so the score is normalized by both points'
    neighborhood density; a pair only scores high if they are closer to
    each other than to their own neighborhoods.

    Scale shape: side A is the bounded probe set (broadcast, the
    cosine_topk contract); side B streams. ONE scored A×B pair frame is
    computed, then both per-side neighborhood means come from two windows
    over that same frame (partitioned by id_a / id_b — no second scan,
    no re-scoring). For large-×-large mining, prefilter candidates with
    the IVF machinery (ann_ivf_topk) and feed the surviving pairs here.
    All decision values are 6dp-rounded (engine-portable); a non-positive
    neighborhood denominator yields a NULL margin, ranked last.
    """
    a = side_a.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_av"), _norm(F.col(vec_col)).alias("_an")
    )
    b = side_b.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_bv"), _norm(F.col(vec_col)).alias("_bn")
    )
    pairs = (
        b.join(F.broadcast(a), F.lit(True))
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("_av"), F.col("_bv")) / (F.col("_an") * F.col("_bn")), 6
            ).alias("cosine"),
        )
    )
    with pin_scope():
        pairs = cache(pairs)  # scored ONCE: ka, kb, and the final join all reuse it
        wa = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
        wb = Window.partitionBy("id_b").orderBy(F.desc("cosine"), F.asc("id_a"))
        ranked = pairs.select(
            "id_a",
            "id_b",
            "cosine",
            F.row_number().over(wa).alias("_ra"),
            F.row_number().over(wb).alias("_rb"),
        )
        # neighborhood statistic = ROUND(SUM(top-k cosines), 6), NOT the
        # average: a sum of k 6dp decimals IS a 6dp decimal, so the round
        # snaps both engines to the same exact value regardless of summation
        # order — whereas AVG over k=4 lands on the .25e-6 grid where a 1-ulp
        # order difference flips the 6th decimal (observed in the first gate
        # run). The /k folds into the margin ratio below.
        ka = (
            ranked.filter(F.col("_ra") <= k)
            .groupBy("id_a")
            .agg(F.round(F.sum("cosine"), 6).alias("_ka"))
        )
        kb = (
            ranked.filter(F.col("_rb") <= k)
            .groupBy("id_b")
            .agg(F.round(F.sum("cosine"), 6).alias("_kb"))
        )
        # margin = cos / ((sum_a/k + sum_b/k) / 2) = cos * 2k / (sum_a + sum_b)
        ssum = F.col("_ka") + F.col("_kb")
        scored = (
            pairs.join(ka, "id_a")
            .join(kb, "id_b")
            .select(
                "id_a",
                "id_b",
                "cosine",
                F.when(
                    ssum > 0, F.round(F.col("cosine") * F.lit(2.0 * k) / ssum, 6)
                ).alias("margin"),
            )
        )
        wbest = Window.partitionBy("id_a").orderBy(
            F.desc_nulls_last("margin"), F.asc("id_b")
        )
        out = (
            scored.withColumn("_rn", F.row_number().over(wbest))
            .filter(F.col("_rn") == 1)
            .select("id_a", "id_b", "cosine", "margin")
        )
        # materialize while the pair cache is alive; the scope releases it
        return out.localCheckpoint(eager=True)


_MM_CAP_A = 50
_MM_K = 4


@register(
    "q232_margin_pair_mining",
    oracle=f"""
        WITH a AS (
            SELECT vec_id AS id_a, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {_MM_CAP_A}
        ),
        b AS (
            SELECT vec_id AS id_b, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id >= {_MM_CAP_A}
        ),
        pairs AS (
            SELECT a.id_a, b.id_b,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM a CROSS JOIN b
        ),
        ranked AS (
            SELECT id_a, id_b, cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY id_a ORDER BY cosine DESC, id_b ASC
                   ) AS ra,
                   ROW_NUMBER() OVER (
                       PARTITION BY id_b ORDER BY cosine DESC, id_a ASC
                   ) AS rb
            FROM pairs
        ),
        ka AS (
            SELECT id_a, ROUND(SUM(cosine), 6) AS ka
            FROM ranked WHERE ra <= {_MM_K} GROUP BY id_a
        ),
        kb AS (
            SELECT id_b, ROUND(SUM(cosine), 6) AS kb
            FROM ranked WHERE rb <= {_MM_K} GROUP BY id_b
        ),
        scored AS (
            SELECT p.id_a, p.id_b, p.cosine,
                   CASE WHEN ka.ka + kb.kb > 0
                        THEN ROUND(p.cosine * {2.0 * _MM_K} / (ka.ka + kb.kb), 6)
                   END AS margin
            FROM pairs p JOIN ka USING (id_a) JOIN kb USING (id_b)
        )
        SELECT id_a, id_b, cosine, margin FROM (
            SELECT id_a, id_b, cosine, margin,
                   ROW_NUMBER() OVER (
                       PARTITION BY id_a
                       ORDER BY margin DESC NULLS LAST, id_b ASC
                   ) AS rn
            FROM scored
        ) WHERE rn = 1 ORDER BY id_a
    """,
    doc=(
        "margin-criterion pair mining (the bitext / parallel-pair score): "
        "each probe vector's best match in the other side by "
        "cos / mean-of-both-neighborhoods ratio — hubness-robust pairing "
        "that plain cosine thresholds get wrong. One broadcast-scored pair "
        "frame feeds both neighborhood windows and the final argmax; "
        "hash-checked against a windowed DuckDB twin."
    ),
    tags=("similarity", "embedding", "mining"),
)
def q232_margin_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    side_a = emb.filter(F.col("vec_id") < _MM_CAP_A)
    side_b = emb.filter(F.col("vec_id") >= _MM_CAP_A)
    return margin_best_pairs(side_a, side_b, k=_MM_K).orderBy("id_a")


# ---------------------------------------------------------------------------
# Clustering agreement: purity + NMI of k-means cells vs external labels
# ---------------------------------------------------------------------------
def cluster_purity_nmi(assign: DataFrame, labels: DataFrame) -> DataFrame:
    """One row (n, purity, h_cluster, h_label, mi, nmi): how well an
    UNSUPERVISED clustering recovers an external label — purity
    (majority-label mass per cluster) plus normalized mutual information
    (arithmetic-mean normalization), the standard pair of clustering-
    agreement scores an embedding-QA pass reports before anyone trusts
    cluster-balanced sampling.

    ``assign``: (vec_id, cell); ``labels``: (vec_id, label). Everything
    reduces to the cluster×label contingency table (integer counts,
    ≤ cells·labels rows); each entropy / MI term is one fixed-order
    expression over exact integer-ratio doubles, 6dp-snapped BEFORE the
    bounded sums (a sum of 6dp decimals is a 6dp decimal — the
    ROUND(SUM) convention), so the whole report hash-gates.
    """
    cont = (
        assign.join(labels, "vec_id")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cs"))
    )
    with pin_scope():
        cont = cache(cont)
        tot = cont.agg(F.sum("n_cs").cast("double").alias("n"))
        nc = cont.groupBy("cell").agg(F.sum("n_cs").alias("n_c"))
        ns = cont.groupBy("label").agg(F.sum("n_cs").alias("n_s"))

        def ent(df, cnt_col):
            t = F.round(
                (F.col(cnt_col) / F.col("n")) * F.log(F.col(cnt_col) / F.col("n")), 6
            )
            return (
                df.crossJoin(F.broadcast(tot))
                .select(t.alias("t"))
                .agg(F.round(-F.sum("t"), 6).alias("h"))
            )
        hc = ent(nc, "n_c").select(F.col("h").alias("h_cluster"))
        hs = ent(ns, "n_s").select(F.col("h").alias("h_label"))
        mi_t = F.round(
            (F.col("n_cs") / F.col("n"))
            * F.log(F.col("n") * F.col("n_cs") / (F.col("n_c") * F.col("n_s"))),
            6,
        )
        mi = (
            cont.join(nc, "cell")
            .join(ns, "label")
            .crossJoin(F.broadcast(tot))
            .select(mi_t.alias("t"))
            .agg(F.round(F.sum("t"), 6).alias("mi"))
        )
        pur = (
            cont.groupBy("cell")
            .agg(F.max("n_cs").alias("mx"))
            .crossJoin(F.broadcast(tot))
            .agg(F.round(F.sum("mx") / F.first("n"), 6).alias("purity"))
        )
        out = (
            tot.select(F.col("n").cast("long").alias("n"))
            .crossJoin(pur)
            .crossJoin(hc)
            .crossJoin(hs)
            .crossJoin(mi)
            .select(
                "n",
                "purity",
                "h_cluster",
                "h_label",
                "mi",
                F.round(
                    F.col("mi") / ((F.col("h_cluster") + F.col("h_label")) / 2), 6
                ).alias("nmi"),
            )
            .localCheckpoint(eager=True)
        )
        return out


@register(
    "q283_cluster_purity_nmi",
    oracle=f"""
        WITH {_KM_PORTABLE_CTES.format(
            a1=_km_assign_sql("cent0", "a1"),
            c1=_km_update_sql("a1", "cent0", "cent1"),
            a2=_km_assign_sql("cent1", "a2"),
            c2=_km_update_sql("a2", "cent1", "cent2"),
            afinal=_km_assign_sql("cent2", "afinal"),
        )},
        cont AS (
            SELECT a.cell, e2.label, CAST(COUNT(*) AS BIGINT) AS n_cs
            FROM afinal a JOIN embeddings e2 ON e2.vec_id = a.vec_id
            GROUP BY a.cell, e2.label
        ),
        tot AS (SELECT CAST(SUM(n_cs) AS DOUBLE) AS n FROM cont),
        nc AS (SELECT cell, SUM(n_cs) AS n_c FROM cont GROUP BY cell),
        ns AS (SELECT label, SUM(n_cs) AS n_s FROM cont GROUP BY label),
        hc AS (
            SELECT ROUND(-SUM(ROUND((n_c / n) * ln(n_c / n), 6)), 6) AS h_cluster
            FROM nc CROSS JOIN tot
        ),
        hs AS (
            SELECT ROUND(-SUM(ROUND((n_s / n) * ln(n_s / n), 6)), 6) AS h_label
            FROM ns CROSS JOIN tot
        ),
        mi AS (
            SELECT ROUND(SUM(ROUND((n_cs / n) * ln(n * n_cs / (n_c * n_s)), 6)), 6) AS mi
            FROM cont JOIN nc USING (cell) JOIN ns USING (label) CROSS JOIN tot
        ),
        pur AS (
            SELECT ROUND(SUM(mx) / MAX(n), 6) AS purity
            FROM (SELECT cell, MAX(n_cs) AS mx FROM cont GROUP BY cell)
            CROSS JOIN tot
        )
        SELECT CAST(tot.n AS BIGINT) AS n, pur.purity, hc.h_cluster, hs.h_label,
               mi.mi,
               ROUND(mi.mi / ((hc.h_cluster + hs.h_label) / 2), 6) AS nmi
        FROM tot, pur, hc, hs, mi
    """,
    doc=(
        "clustering-agreement report: purity + NMI (arithmetic-mean "
        "normalization) of the q218 portable k-means cells against the "
        "embeddings' external labels — the scores an embedding-QA pass "
        "reports before trusting cluster-balanced sampling. Everything "
        "reduces to the bounded cluster x label contingency table; each "
        "entropy/MI term 6dp-snapped before the sum."
    ),
    tags=("similarity", "clustering", "eval"),
)
def q283_cluster_purity_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    cents = kmeans_centroids(
        emb, nlist=_KM_NLIST, n_iter=_KM_ITER, init="first", round_dp=6
    )
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell long, cv array<double>",
    )
    scored = emb.crossJoin(F.broadcast(cdf)).select(
        "vec_id",
        "cell",
        F.round(cosine(F.col("embedding"), F.col("cv")), 6).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell")
    )
    labels = emb.select("vec_id", F.col("label").cast("long").alias("label"))
    return cluster_purity_nmi(assign, labels)


# ---------------------------------------------------------------------------
# Simplified silhouette: per-cluster cohesion/separation from centroid sims
# ---------------------------------------------------------------------------
def simplified_silhouette(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, n_members, mean_sil): the SIMPLIFIED silhouette of a
    k-means clustering — per point, cohesion a = 1 − sim(own centroid)
    and separation b = 1 − sim(best OTHER centroid), s = (b−a)/max(a,b)
    = (s₁−s₂)/(1−s₂) on the 6dp-rounded cosine grid. The O(n·k)
    centroid form of the O(n²) classical silhouette — the only shape
    that survives a 100 TB corpus, and the standard fast variant.
    Cell −1 is the overall row (all points pooled).

    Per-point s is snapped to a 6dp scaled long; per-cluster means are
    ONE division of exact integer sums. Degenerate guard: a point whose
    second-best centroid sim is exactly 1.0 (duplicate centroids)
    contributes s = 0, matching the classical convention for max(a,b)=0.
    """
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell long, cv array<double>",
    )
    sims = emb.crossJoin(F.broadcast(cdf)).select(
        F.col(id_col).alias("vid"),
        "cell",
        F.round(cosine(F.col(vec_col), F.col("cv")), 6).alias("sim"),
    )
    w = Window.partitionBy("vid").orderBy(F.desc("sim"), "cell")
    rn = sims.select("vid", "cell", "sim", F.row_number().over(w).alias("rn"))
    per = rn.groupBy("vid").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cell"))).alias("cell"),
        F.max(F.when(F.col("rn") == 1, F.col("sim"))).alias("s1"),
        F.max(F.when(F.col("rn") == 2, F.col("sim"))).alias("s2"),
    )
    scored = per.select(
        "cell",
        F.when(
            F.col("s2") < 1.0,
            F.round((F.col("s1") - F.col("s2")) / (1.0 - F.col("s2")) * 1e6),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("sil_micro"),
    )
    by_cell = scored.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("sil_micro").cast("long").alias("sm"),
    )
    overall = scored.agg(
        F.lit(-1).cast("long").alias("cell"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("sil_micro").cast("long").alias("sm"),
    )
    return by_cell.unionByName(overall).select(
        "cell",
        "n_members",
        F.round(F.col("sm").cast("double") / F.col("n_members") / 1e6, 6).alias("mean_sil"),
    )


@register(
    "q289_kmeans_silhouette",
    oracle=f"""
        WITH {_KM_PORTABLE_CTES.format(
            a1=_km_assign_sql("cent0", "a1"),
            c1=_km_update_sql("a1", "cent0", "cent1"),
            a2=_km_assign_sql("cent1", "a2"),
            c2=_km_update_sql("a2", "cent1", "cent2"),
            afinal=_km_assign_sql("cent2", "afinal"),
        )},
        rnk AS (
            SELECT vec_id, cell, sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY sim DESC, cell
                   ) AS rn
            FROM sims_afinal
        ),
        per AS (
            SELECT vec_id,
                   MAX(CASE WHEN rn = 1 THEN cell END) AS cell,
                   MAX(CASE WHEN rn = 1 THEN sim END) AS s1,
                   MAX(CASE WHEN rn = 2 THEN sim END) AS s2
            FROM rnk GROUP BY vec_id
        ),
        scored AS (
            SELECT cell,
                   CASE WHEN s2 < 1.0
                        THEN CAST(ROUND((s1 - s2) / (1.0 - s2) * 1e6) AS BIGINT)
                        ELSE 0 END AS sil_micro
            FROM per
        ),
        pooled AS (
            SELECT CAST(cell AS BIGINT) AS cell,
                   CAST(COUNT(*) AS BIGINT) AS n_members,
                   CAST(SUM(sil_micro) AS BIGINT) AS sm
            FROM scored GROUP BY cell
            UNION ALL
            SELECT CAST(-1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(sil_micro) AS BIGINT)
            FROM scored
        )
        SELECT cell, n_members,
               ROUND(CAST(sm AS DOUBLE) / n_members / 1e6, 6) AS mean_sil
        FROM pooled
        ORDER BY cell
    """,
    doc=(
        "simplified (centroid-based) silhouette of the q218 k-means "
        "clustering: s = (s1-s2)/(1-s2) per point on the 6dp cosine "
        "grid, mean per cluster + pooled overall (cell -1) — the O(n*k) "
        "cluster-quality readout that scales where the O(n^2) classical "
        "silhouette cannot; completes the clustering-eval pair with "
        "q283's external-label NMI (this one needs no labels)."
    ),
    tags=("similarity", "clustering", "eval"),
)
def q289_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    cents = kmeans_centroids(
        emb, nlist=_KM_NLIST, n_iter=_KM_ITER, init="first", round_dp=6
    )
    return simplified_silhouette(emb, cents).orderBy("cell")


# --------------------------------------------------------------------------
# Truncated-embedding retrieval audit (Matryoshka-style prefix quality)
# --------------------------------------------------------------------------
def truncated_recall(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dims: int = 16,
    k: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, recall_at_k): per query, the fraction of the FULL-
    vector exact top-k that the PREFIX-truncated vector (first
    ``prefix_dims`` dims) also retrieves — the audit run before shipping
    Matryoshka-style truncation (Kusupati et al. 2022) or any dimension-
    cut compression: 4× smaller vectors are only a win if recall holds.

    Scale shape: two :func:`cosine_topk` passes (query side broadcast,
    corpus scanned; the truncated pass slices dims IN the scan
    projection so it reads the same column once) joined on (query,
    neighbor) — recall is the match count over k. Queries ≪ corpus as
    in q45; everything downstream of the top-k windows is query-sized.
    """
    trunc = lambda df, idc: df.select(  # noqa: E731
        F.col(idc), F.slice(F.col(vec_col), 1, prefix_dims).alias(vec_col)
    )
    full = cosine_topk(corpus, queries, k=k, corpus_id=corpus_id, query_id=query_id, vec_col=vec_col)
    cut = cosine_topk(
        trunc(corpus, corpus_id), trunc(queries, query_id), k=k,
        corpus_id=corpus_id, query_id=query_id, vec_col=vec_col,
    )
    hits = full.select("query_id", "neighbor_id").join(
        cut.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    per_q = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    base = full.select("query_id").distinct()
    return (
        base.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(k)), 6).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


def _truncated_recall_oracle(lo: int, hi: int, dims: int = 16, k: int = 5) -> str:
    return f"""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id >= {lo} AND vec_id < {hi}),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        full_r AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY ROUND(list_cosine_similarity(qv, cv), 6) DESC, neighbor_id) AS rnk
            FROM q JOIN c ON query_id <> neighbor_id
        ),
        cut_r AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY ROUND(list_cosine_similarity(qv[1:{dims}], cv[1:{dims}]), 6) DESC, neighbor_id) AS rnk
            FROM q JOIN c ON query_id <> neighbor_id
        ),
        hits AS (
            SELECT f.query_id, COUNT(*) AS n_hit
            FROM (SELECT query_id, neighbor_id FROM full_r WHERE rnk <= {k}) f
            JOIN (SELECT query_id, neighbor_id FROM cut_r WHERE rnk <= {k}) t
              USING (query_id, neighbor_id)
            GROUP BY f.query_id
        )
        SELECT q.query_id, ROUND(COALESCE(h.n_hit, 0) / {float(k)}, 6) AS recall_at_k
        FROM (SELECT DISTINCT query_id FROM q) q LEFT JOIN hits h USING (query_id)
        ORDER BY query_id
    """


@register(
    "q322_truncated_embedding_recall",
    oracle=_truncated_recall_oracle(0, 8),
    doc=(
        "Matryoshka truncation audit: recall@5 of the 16-dim prefix "
        "vector against the full 64-dim exact top-5, per query — the "
        "compression-QA gate before shipping dimension-cut embeddings. "
        "Two broadcast-query exact top-k passes joined on (query, "
        "neighbor); the truncation is a slice in the scan projection."
    ),
    tags=("similarity", "ann", "quality"),
)
def q322_truncated_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    return truncated_recall(emb, queries, prefix_dims=16, k=5)
