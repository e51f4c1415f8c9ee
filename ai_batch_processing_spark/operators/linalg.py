"""Distributed embedding linear algebra: portable PCA by power iteration.

Training-data pipelines run PCA over embedding corpora constantly —
whitening before indexing (OPQ/PCA-rotated IVF), dimensionality checks
(is the collection collapsed onto a few directions?), drift monitoring
(has the dominant direction moved between snapshots?). The reference has
no linear-algebra surface; this is a north-star extension in the same
mold as the portable k-means verify mode (`similarity.kmeans_centroids`):

- every corpus-sized object stays distributed; the driver only ever
  holds dim-sized vectors (the mean, the iterate) — bounded collect;
- each power-iteration step is ONE ``mapInPandas`` partial-sum pass plus
  a dim-sized aggregate: the Arrow batches do the O(n·dim) work in numpy,
  the JVM shuffles only ``dim × n_partitions`` partial rows;
- every cross-engine decision value is rounded to 6dp HALF_UP
  (``similarity._round_half_up`` — the DuckDB/Spark tie convention)
  immediately after the aggregate that produces it, so a fixed iteration
  count unrolls into a straight-line DuckDB CTE chain and the whole
  iterative algorithm hash-gates (the q218/q122 recipe).

At 100 TB the shape holds: n_iter + 2 corpus scans (cacheable), no
shuffle wider than ``dim`` rows per partition, no driver state beyond
O(dim). Power iteration converges to the top eigenvector of the covariance
at rate (λ₂/λ₁)^iter — callers wanting more components deflate and rerun.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_batch_processing_spark.jobs import cache, pin_scope
from ai_batch_processing_spark.operators.similarity import _round_half_up
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables


def pca_top_component(
    emb: DataFrame,
    n_iter: int = 3,
    vec_col: str = "embedding",
    round_dp: int | None = 6,
) -> DataFrame:
    """Top principal component of the (column-centered) embedding corpus.

    Returns a dim-row DataFrame ``(pos, component, var_share)``:
    ``component`` is the unit top-eigenvector estimate after ``n_iter``
    power-iteration steps from the fixed start v₀ = 1/√dim (no RNG — the
    start is part of the portable contract), ``var_share`` the fraction of
    total centered variance captured by that direction (constant column).

    Passes over the corpus: 1 (mean) + n_iter (vᵢ₊₁ ∝ Σ((x−μ)·vᵢ)(x−μ))
    + 1 (variance capture). Each pass emits only per-partition dim-sized
    partial sums. ``round_dp`` rounds the per-doc dot products and each
    aggregate result to that many decimals (HALF_UP) so a DuckDB twin
    reproduces every iterate bit-for-bit; ``None`` skips rounding for
    callers that just want the direction.
    """
    mu, comps = pca_components(
        emb, n_components=1, n_iter=n_iter, vec_col=vec_col, round_dp=round_dp
    )
    v = comps[0]
    dim = len(mu)

    def _rnd(x):
        return (
            np.asarray(x, dtype=np.float64)
            if round_dp is None
            else _round_half_up(x, round_dp)
        )

    # final pass: variance captured by v vs total centered variance ----------
    def var_partials(batches, _mu=mu, _v=v, _r=_rnd):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]]) - _mu
            d = _r(c @ _v)
            yield pd.DataFrame({"d2": [float((d * d).sum())], "c2": [float((c * c).sum())]})

    tot = (
        emb.select(F.col(vec_col).alias("v"))
        .mapInPandas(var_partials, "d2 double, c2 double")
        .agg(F.sum("d2").alias("d2"), F.sum("c2").alias("c2"))
        .first()
    )
    share = float(_rnd(tot.d2 / tot.c2)) if tot.c2 else 0.0

    spark = emb.sparkSession
    return spark.createDataFrame(
        [(int(p), float(v[p]), share) for p in range(dim)],
        "pos bigint, component double, var_share double",
    )


def _pca_oracle_sql(n_iter: int, dim: int) -> str:
    """Straight-line DuckDB twin: the same fixed-start power iteration
    unrolled as a CTE chain, every decision value ROUND(...,6)ed exactly
    where the Spark side rounds (per-doc dots, per-pos aggregates)."""
    v0 = float(_round_half_up(1.0 / np.sqrt(dim), 6))
    head = f"""
        WITH px AS MATERIALIZED (
            SELECT vec_id, CAST(u.i - 1 AS INT) AS pos,
                   CAST(embedding[u.i] AS DOUBLE) AS x
            FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
        ),
        mu AS MATERIALIZED (SELECT pos, ROUND(AVG(x), 6) AS m FROM px GROUP BY pos),
        c AS MATERIALIZED (SELECT px.vec_id, px.pos, px.x - mu.m AS x FROM px JOIN mu USING (pos)),
        v0 AS (SELECT DISTINCT pos, {v0!r} AS val FROM px)
    """
    steps = []
    for i in range(n_iter):
        steps.append(
            f"""
        , d{i + 1} AS MATERIALIZED (
            SELECT c.vec_id, ROUND(SUM(c.x * v{i}.val), 6) AS d
            FROM c JOIN v{i} USING (pos) GROUP BY c.vec_id
        ),
        w{i + 1} AS MATERIALIZED (
            SELECT c.pos, ROUND(SUM(c.x * d{i + 1}.d), 6) AS w
            FROM c JOIN d{i + 1} USING (vec_id) GROUP BY c.pos
        ),
        v{i + 1} AS MATERIALIZED (
            SELECT pos,
                   ROUND(w / (SELECT SQRT(SUM(w * w)) FROM w{i + 1}), 6) AS val
            FROM w{i + 1}
        )"""
        )
    tail = f"""
        , dfin AS MATERIALIZED (
            SELECT c.vec_id, ROUND(SUM(c.x * v{n_iter}.val), 6) AS d
            FROM c JOIN v{n_iter} USING (pos) GROUP BY c.vec_id
        ),
        sh AS (
            SELECT ROUND(SUM(d * d) / (SELECT SUM(x * x) FROM c), 6) AS var_share
            FROM dfin
        )
        SELECT CAST(v{n_iter}.pos AS BIGINT) AS pos,
               v{n_iter}.val AS component,
               sh.var_share
        FROM v{n_iter}, sh ORDER BY pos
    """
    return head + "".join(steps) + tail


_PCA_ITERS = 3
_PCA_DIM = 64  # embeddings table dim (TESTDATA.md); _require_dim enforces it


def _require_dim(emb: DataFrame, dim: int, vec_col: str = "embedding") -> None:
    """Fail fast if the corpus dimension differs from the one the
    registered oracles baked into their v0 = round(1/sqrt(dim), 6) SQL
    literal at import time — a mismatch would otherwise surface as a
    confusing hash divergence instead of an error."""
    got = emb.select(F.size(vec_col).alias("d")).first()
    if got is None or int(got.d) != dim:
        raise ValueError(
            f"embeddings dimension {None if got is None else got.d} != {dim} "
            "baked into the registered PCA oracles (_PCA_DIM)"
        )


@register(
    "q230_pca_power_iteration",
    oracle=_pca_oracle_sql(_PCA_ITERS, _PCA_DIM),
    doc=(
        "top principal component of the embedding corpus by fixed-start "
        "power iteration (3 steps, v0 = 1/sqrt(dim)), plus the variance "
        "share it captures — the whitening/drift primitive, distributed as "
        "one mapInPandas partial-sum pass per step with only dim-sized "
        "driver state, hash-checked against the same iterations unrolled "
        "as straight-line DuckDB SQL (6dp-rounded decision values, the "
        "portable-kmeans recipe)."
    ),
    tags=("linalg", "embedding", "iterative"),
)
def q230_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    _require_dim(emb, _PCA_DIM)
    with pin_scope():
        # the component comes back as driver-local rows: stored already
        out = pca_top_component(cache(emb), n_iter=_PCA_ITERS)
    return out.orderBy("pos")


def pca_components(
    emb: DataFrame,
    n_components: int = 2,
    n_iter: int = 3,
    vec_col: str = "embedding",
    round_dp: int | None = 6,
) -> tuple[np.ndarray, list[np.ndarray]]:
    """(mu, [v1, v2, ...]): top principal directions by power iteration
    with deflation — the multi-component generalization of
    :func:`pca_top_component` (same fixed start, same 6dp portability
    contract).

    Deflation is ON THE FLY: component j iterates over
    c_j = c − Σ_{l<j} ROUND(c_l·v_l, 6)·v_l computed inside each Arrow
    batch from (mu, v_1..v_{j-1}) — the residualized corpus is never
    materialized, and the driver still holds only dim-sized vectors.
    Because the 6dp residual leaves a ~1e-7 ghost of each prior
    direction that power iteration would re-amplify (λ1 ≫ λ2 makes even
    a tiny v1 component grow back), every iterate is explicitly
    re-orthogonalized against the prior components before normalizing:
    w ← u − ROUND(u·v_l, 6)·v_l. Both corrections are plain products of
    identical doubles, so the DuckDB twin reproduces them bit-for-bit.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if n_components < 1:
        raise ValueError(f"n_components must be >= 1, got {n_components}")
    vecs = emb.select(F.col(vec_col).alias("v"))
    first = vecs.select(F.size("v").alias("d")).first()
    if first is None:
        raise ValueError("pca_components: empty corpus")
    dim = int(first.d)

    def _rnd(x):
        return (
            np.asarray(x, dtype=np.float64)
            if round_dp is None
            else _round_half_up(x, round_dp)
        )

    def _mat(pdf: pd.DataFrame) -> np.ndarray:
        return np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])

    def mean_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _mat(pdf)
            yield pd.DataFrame(
                {
                    "pos": np.arange(dim, dtype=np.int32),
                    "s": m.sum(axis=0),
                    "n": np.full(dim, len(m), dtype=np.int64),
                }
            )

    mu = np.zeros(dim)
    for r in (
        vecs.mapInPandas(mean_partials, "pos int, s double, n long")
        .groupBy("pos")
        .agg((F.sum("s") / F.sum("n")).alias("m"))
        .collect()
    ):
        mu[r.pos] = float(_rnd(r.m))

    def _residual(m: np.ndarray, prior: list[np.ndarray], rnd) -> np.ndarray:
        c = m - mu
        for pv in prior:
            c = c - np.outer(rnd(c @ pv), pv)
        return c

    comps: list[np.ndarray] = []
    for _ in range(n_components):
        v = np.full(dim, float(_rnd(1.0 / np.sqrt(dim))))
        for _i in range(n_iter):

            def it_partials(batches, _v=v, _prior=tuple(comps), _r=_rnd):
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    c = _residual(_mat(pdf), list(_prior), _r)
                    d = _r(c @ _v)
                    yield pd.DataFrame(
                        {"pos": np.arange(dim, dtype=np.int32), "w": d @ c}
                    )

            u = np.zeros(dim)
            for r in (
                vecs.mapInPandas(it_partials, "pos int, w double")
                .groupBy("pos")
                .agg(F.sum("w").alias("w"))
                .collect()
            ):
                u[r.pos] = float(_rnd(r.w))
            for pv in comps:  # re-orthogonalize against prior components
                u = u - float(_rnd(float(u @ pv))) * pv
            nrm = float(np.sqrt((u * u).sum()))
            if nrm == 0.0:
                raise ValueError("pca_components: zero iterate (constant corpus?)")
            v = np.asarray(_rnd(u / nrm), dtype=np.float64)
        comps.append(v)
    return mu, comps


def pca_project(
    emb: DataFrame,
    mu: np.ndarray,
    comps: list[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 6,
    residual_norm: bool = False,
) -> DataFrame:
    """(id, pc1, pc2, ...): per-row coordinates in the deflated component
    basis — pc_j = ROUND(c_j · v_j, 6) with the SAME on-the-fly
    residualization used during training, so projections are exactly the
    d-values the oracle's CTE chain computes. One mapInPandas pass.
    ``residual_norm`` appends the norm of what the basis did NOT explain
    (ROUND 6dp) — the reconstruction-error anomaly score."""
    dim = len(mu)
    names = [f"pc{j + 1}" for j in range(len(comps))]
    schema = f"{id_col} long, " + ", ".join(f"{n} double" for n in names)
    if residual_norm:
        schema += ", resid_norm double"

    def _rnd(x):
        return (
            np.asarray(x, dtype=np.float64)
            if round_dp is None
            else _round_half_up(x, round_dp)
        )

    def proj_partials(batches, _mu=mu, _comps=tuple(comps), _r=_rnd):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            c = m - _mu
            out = {id_col: pdf[id_col].astype("int64")}
            for j, pv in enumerate(_comps):
                d = _r(c @ pv)
                out[f"pc{j + 1}"] = d
                c = c - np.outer(d, pv)
            if residual_norm:
                out["resid_norm"] = _r(np.sqrt((c * c).sum(axis=1)))
            yield pd.DataFrame(out)

    return emb.select(id_col, vec_col).mapInPandas(proj_partials, schema)


def _pca2_chain_sql(n_iter: int, dim: int) -> str:
    """Shared unrolled-CTE chain of pca_components(n_components=2) +
    pca_project through the per-row projections (CTEs p1/p2 and the
    comp-2 basis s{n_iter}) — q236 and q237 append different tails."""
    v0 = float(_round_half_up(1.0 / np.sqrt(dim), 6))
    parts = [
        f"""
        WITH px AS MATERIALIZED (
            SELECT vec_id, CAST(u.i - 1 AS INT) AS pos,
                   CAST(embedding[u.i] AS DOUBLE) AS x
            FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
        ),
        mu AS MATERIALIZED (SELECT pos, ROUND(AVG(x), 6) AS m FROM px GROUP BY pos),
        c AS MATERIALIZED (SELECT px.vec_id, px.pos, px.x - mu.m AS x FROM px JOIN mu USING (pos)),
        v0 AS (SELECT DISTINCT pos, {v0!r} AS val FROM px)"""
    ]
    for i in range(n_iter):
        parts.append(
            f"""
        , d{i + 1} AS MATERIALIZED (
            SELECT c.vec_id, ROUND(SUM(c.x * v{i}.val), 6) AS d
            FROM c JOIN v{i} USING (pos) GROUP BY c.vec_id
        ),
        w{i + 1} AS MATERIALIZED (
            SELECT c.pos, ROUND(SUM(c.x * d{i + 1}.d), 6) AS w
            FROM c JOIN d{i + 1} USING (vec_id) GROUP BY c.pos
        ),
        v{i + 1} AS MATERIALIZED (
            SELECT pos,
                   ROUND(w / (SELECT SQRT(SUM(w * w)) FROM w{i + 1}), 6) AS val
            FROM w{i + 1}
        )"""
        )
    # component-1 projections and the residualized corpus
    parts.append(
        f"""
        , p1 AS MATERIALIZED (
            SELECT c.vec_id, ROUND(SUM(c.x * v{n_iter}.val), 6) AS d
            FROM c JOIN v{n_iter} USING (pos) GROUP BY c.vec_id
        ),
        c2 AS MATERIALIZED (
            SELECT c.vec_id, c.pos, c.x - p1.d * v{n_iter}.val AS x
            FROM c JOIN p1 USING (vec_id) JOIN v{n_iter} USING (pos)
        ),
        s0 AS (SELECT DISTINCT pos, {v0!r} AS val FROM px)"""
    )
    for i in range(n_iter):
        parts.append(
            f"""
        , e{i + 1} AS MATERIALIZED (
            SELECT c2.vec_id, ROUND(SUM(c2.x * s{i}.val), 6) AS d
            FROM c2 JOIN s{i} USING (pos) GROUP BY c2.vec_id
        ),
        u{i + 1} AS MATERIALIZED (
            SELECT c2.pos, ROUND(SUM(c2.x * e{i + 1}.d), 6) AS w
            FROM c2 JOIN e{i + 1} USING (vec_id) GROUP BY c2.pos
        ),
        pr{i + 1} AS MATERIALIZED (
            SELECT ROUND(SUM(u{i + 1}.w * v{n_iter}.val), 6) AS p
            FROM u{i + 1} JOIN v{n_iter} USING (pos)
        ),
        o{i + 1} AS MATERIALIZED (
            SELECT u{i + 1}.pos,
                   u{i + 1}.w - pr{i + 1}.p * v{n_iter}.val AS w
            FROM u{i + 1} CROSS JOIN pr{i + 1} JOIN v{n_iter} USING (pos)
        ),
        s{i + 1} AS MATERIALIZED (
            SELECT pos,
                   ROUND(w / (SELECT SQRT(SUM(w * w)) FROM o{i + 1}), 6) AS val
            FROM o{i + 1}
        )"""
        )
    parts.append(
        f"""
        , p2 AS MATERIALIZED (
            SELECT c2.vec_id, ROUND(SUM(c2.x * s{n_iter}.val), 6) AS d
            FROM c2 JOIN s{n_iter} USING (pos) GROUP BY c2.vec_id
        )"""
    )
    return "".join(parts)


def _pca2_oracle_sql(n_iter: int, dim: int) -> str:
    return (
        _pca2_chain_sql(n_iter, dim)
        + """
        SELECT p1.vec_id, p1.d AS pc1, p2.d AS pc2
        FROM p1 JOIN p2 USING (vec_id) ORDER BY p1.vec_id
    """
    )


def _pca2_outliers_oracle_sql(n_iter: int, dim: int, top_n: int) -> str:
    return (
        _pca2_chain_sql(n_iter, dim)
        + f"""
        , resid AS MATERIALIZED (
            SELECT c2.vec_id, c2.pos, c2.x - p2.d * s{n_iter}.val AS x
            FROM c2 JOIN p2 USING (vec_id) JOIN s{n_iter} USING (pos)
        )
        SELECT vec_id, ROUND(SQRT(SUM(x * x)), 6) AS resid_norm
        FROM resid GROUP BY vec_id
        ORDER BY resid_norm DESC, vec_id LIMIT {top_n}
    """
    )


@register(
    "q236_pca_top2_projection",
    oracle=_pca2_oracle_sql(_PCA_ITERS, _PCA_DIM),
    doc=(
        "per-row coordinates in the top-2 principal-component basis "
        "(deflated power iteration, re-orthogonalized iterates): the "
        "dimensionality-reduction / whitening-input primitive. The "
        "residualized corpus is never materialized — deflation happens "
        "inside each Arrow batch from dim-sized driver state — and the "
        "whole two-component training + projection is hash-checked against "
        "one unrolled DuckDB CTE chain."
    ),
    tags=("linalg", "embedding", "iterative"),
)
def q236_pca_top2_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    _require_dim(emb, _PCA_DIM)
    with pin_scope():
        emb = cache(emb)
        mu, comps = pca_components(emb, n_components=2, n_iter=_PCA_ITERS)
        out = pca_project(emb, mu, comps).localCheckpoint(eager=True)
    return out.orderBy("vec_id")


_PCA_OUTLIER_TOPN = 20


@register(
    "q237_pca_reconstruction_outliers",
    oracle=_pca2_outliers_oracle_sql(_PCA_ITERS, _PCA_DIM, _PCA_OUTLIER_TOPN),
    doc=(
        "embedding anomaly detection by PCA reconstruction error: the 20 "
        "rows the top-2 principal basis explains WORST (largest residual "
        "norm after projecting out pc1/pc2) — corrupted vectors, encoding "
        "bugs, and off-manifold outliers rank first, which per-dimension "
        "z-scores (q210) miss when the anomaly is a direction, not a "
        "coordinate. Same one-pass projection kernel as q236 plus a "
        "residual-norm column; TakeOrderedAndProject top-20."
    ),
    tags=("linalg", "embedding", "qa", "iterative"),
)
def q237_pca_reconstruction_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    _require_dim(emb, _PCA_DIM)
    with pin_scope():
        emb = cache(emb)
        mu, comps = pca_components(emb, n_components=2, n_iter=_PCA_ITERS)
        return (
            pca_project(emb, mu, comps, residual_norm=True)
            .select("vec_id", "resid_norm")
            .orderBy(F.desc("resid_norm"), F.asc("vec_id"))
            .limit(_PCA_OUTLIER_TOPN)
            .localCheckpoint(eager=True)
        )


# ---------------------------------------------------------------------------
# Embedding-QA capstone: one-row health report over the vector corpus
# ---------------------------------------------------------------------------
def _embedding_qa_oracle() -> str:
    from ai_batch_processing_spark.registry import registered_oracle

    q230 = registered_oracle("q230_pca_power_iteration")
    q210 = registered_oracle("q210_embedding_dim_stats")
    q237 = registered_oracle("q237_pca_reconstruction_outliers")
    return f"""
        WITH pca AS ({q230}),
        dims AS ({q210}),
        outl AS ({q237})
        SELECT
            (SELECT ROUND(MAX(var_share), 6) FROM pca) AS pc1_var_share,
            (SELECT CAST(SUM(CASE WHEN ABS(mean) > 0.05 THEN 1 ELSE 0 END)
                    AS BIGINT) FROM dims) AS n_drifted_dims,
            (SELECT CAST(SUM(n_outliers) AS BIGINT) FROM dims) AS n_dim_outliers,
            (SELECT MAX(resid_norm) FROM outl) AS max_resid_norm
    """


@register(
    "q240_embedding_qa_report",
    oracle=_embedding_qa_oracle(),
    doc=(
        "embedding-corpus health report (the q225-style capstone for the "
        "vector side): PC1 variance share (collapse indicator — a healthy "
        "isotropic-ish corpus stays low; near 1 means the embedder "
        "degenerated), count of mean-drifted dimensions and per-dimension "
        "3-sigma outliers (q210), and the worst top-2-basis reconstruction "
        "error (q237). Every component reuses its gated sub-oracle "
        "verbatim via registered_oracle, so the capstone twin cannot "
        "drift from the proven parts."
    ),
    tags=("linalg", "embedding", "qa", "capstone"),
)
def q240_embedding_qa_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.similarity import (
        q210_embedding_dim_stats,
    )

    pca = q230_pca_power_iteration(spark, sf_dir)
    dims = q210_embedding_dim_stats(spark, sf_dir)
    outl = q237_pca_reconstruction_outliers(spark, sf_dir)
    a = pca.agg(F.round(F.max("var_share"), 6).alias("pc1_var_share"))
    b = dims.agg(
        F.sum(F.when(F.abs("mean") > 0.05, 1).otherwise(0))
        .cast("long")
        .alias("n_drifted_dims"),
        F.sum("n_outliers").cast("long").alias("n_dim_outliers"),
    )
    c = outl.agg(F.max("resid_norm").alias("max_resid_norm"))
    return a.crossJoin(b).crossJoin(c)


# ---------------------------------------------------------------------------
# Embedding isotropy audit: one-pass mean-pairwise-cosine identity
# ---------------------------------------------------------------------------
def embedding_isotropy(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One row ``(n_vecs, dim, mean_norm, mean_sq_norm, mean_pair_dot,
    anisotropy)``: the isotropy audit of an embedding table WITHOUT any
    pairwise work — the mean pairwise dot product over all n(n−1)
    ordered pairs collapses to the moment identity

        E[⟨x_i, x_j⟩] = (‖Σx‖² − Σ‖x‖²) / (n(n−1)),

    and ``anisotropy`` = mean_pair_dot / mean_sq_norm ≈ the expected
    cosine between random vectors (≈0 for isotropic embeddings; large
    values mean a dominant common direction — the known failure mode
    that silently inflates every cosine the ANN/dedup family computes,
    which is why this audit runs FIRST).

    Portability: each component is snapped to a 6dp micro-long at
    explode time, so all corpus sums are exact integers (DECIMAL(38,0)
    accumulators — no float summation order anywhere); per-dim and
    per-vector squares are fixed-order IEEE on those exact longs. One
    explode pass, map-side combinable, dim-bounded rollup.
    """
    vals = emb.select(
        F.posexplode(F.col(vec_col)).alias("dim", "x")
    ).select("dim", F.round(F.col("x") * 1e6).cast("long").alias("xm"))
    dec = "decimal(38,0)"
    # per-dim component sums (exact longs) -> ||sum v||^2 term per dim
    sd = vals.groupBy("dim").agg(F.sum(F.col("xm").cast(dec)).alias("sdm"))
    sum_sq = sd.agg(
        F.count(F.lit(1)).cast("long").alias("dim"),
        F.sum(
            F.round(
                (F.col("sdm").cast("double") / 1e6)
                * (F.col("sdm").cast("double") / 1e6)
                * 1e6
            )
            .cast(dec)
        ).alias("s2m"),  # ||sum v||^2 in micro units, dim-bounded exact sum
    )
    # per-vector squared norms from the same micro grid
    pervec = emb.select(
        F.aggregate(
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x * 1e6).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, xm: acc + xm * xm,
        ).alias("n2m")  # sum xm^2 (micro^2 units), exact per row
    )
    norms = pervec.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.col("n2m").cast(dec)).alias("ssqm"),  # sum ||v||^2 micro^2
        F.sum(
            F.round(F.sqrt(F.col("n2m").cast("double")) / 1e6 * 1e6).cast(dec)
        ).alias("snm"),  # sum ||v|| in micro units (6dp-snapped per vec)
    )
    j = norms.crossJoin(sum_sq)
    nd = F.col("n_vecs").cast("double")
    mean_sq = F.col("ssqm").cast("double") / 1e12 / nd
    mean_pair = (
        (F.col("s2m").cast("double") / 1e6 - F.col("ssqm").cast("double") / 1e12)
        / (nd * (nd - 1))
    )
    return j.select(
        "n_vecs",
        "dim",
        F.round(F.col("snm").cast("double") / 1e6 / nd, 6).alias("mean_norm"),
        F.round(mean_sq, 6).alias("mean_sq_norm"),
        F.round(mean_pair, 6).alias("mean_pair_dot"),
        F.round(mean_pair / mean_sq, 6).alias("anisotropy"),
    )


@register(
    "q301_embedding_isotropy",
    oracle="""
        WITH emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        vals AS (
            SELECT CAST(t.i AS BIGINT) AS dim,
                   CAST(ROUND(v[CAST(t.i + 1 AS INT)] * 1e6) AS BIGINT) AS xm
            FROM emb, unnest(generate_series(0, len(v) - 1)) t(i)
        ),
        sd AS (
            SELECT dim, SUM(CAST(xm AS DECIMAL(38,0))) AS sdm
            FROM vals GROUP BY dim
        ),
        sum_sq AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS dim,
                   SUM(CAST(ROUND((CAST(sdm AS DOUBLE) / 1e6)
                                  * (CAST(sdm AS DOUBLE) / 1e6) * 1e6)
                            AS DECIMAL(38,0))) AS s2m
            FROM sd
        ),
        pervec AS (
            SELECT list_sum(list_transform(v,
                       x -> CAST(ROUND(x * 1e6) AS BIGINT)
                            * CAST(ROUND(x * 1e6) AS BIGINT))) AS n2m
            FROM emb
        ),
        norms AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   SUM(CAST(n2m AS DECIMAL(38,0))) AS ssqm,
                   SUM(CAST(ROUND(sqrt(CAST(n2m AS DOUBLE)) / 1e6 * 1e6)
                            AS DECIMAL(38,0))) AS snm
            FROM pervec
        )
        SELECT n_vecs,
               sum_sq.dim,
               ROUND(CAST(snm AS DOUBLE) / 1e6 / CAST(n_vecs AS DOUBLE), 6) AS mean_norm,
               ROUND(CAST(ssqm AS DOUBLE) / 1e12 / CAST(n_vecs AS DOUBLE), 6) AS mean_sq_norm,
               ROUND((CAST(s2m AS DOUBLE) / 1e6 - CAST(ssqm AS DOUBLE) / 1e12)
                     / (CAST(n_vecs AS DOUBLE) * (CAST(n_vecs AS DOUBLE) - 1)), 6)
                   AS mean_pair_dot,
               ROUND(((CAST(s2m AS DOUBLE) / 1e6 - CAST(ssqm AS DOUBLE) / 1e12)
                      / (CAST(n_vecs AS DOUBLE) * (CAST(n_vecs AS DOUBLE) - 1)))
                     / (CAST(ssqm AS DOUBLE) / 1e12 / CAST(n_vecs AS DOUBLE)), 6)
                   AS anisotropy
        FROM norms, sum_sq
    """,
    doc=(
        "embedding isotropy audit in ONE pass: mean pairwise dot over "
        "all n(n-1) pairs via the moment identity (||sum v||^2 - "
        "sum ||v||^2)/(n(n-1)) — no pairwise work at any corpus size; "
        "anisotropy = expected random-pair cosine share (a dominant "
        "common direction inflates every ANN/dedup cosine, so this runs "
        "FIRST). Components 6dp-micro-snapped at explode time, all "
        "corpus sums exact DECIMAL(38,0) integers."
    ),
    tags=("linalg", "similarity", "stats", "quality"),
)
def q301_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    return embedding_isotropy(emb)
