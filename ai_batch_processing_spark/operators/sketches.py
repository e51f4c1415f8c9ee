"""Deterministic, SQL-portable sketches: fixed-threshold theta distinct
sampling, cross-sketch set algebra, and count-min frequency counters —
the cardinality / heavy-hitter scale path with oracle-exact semantics.

Spark 4 ships binary DataSketches (``hll_sketch_agg`` /
``theta_sketch_agg`` — tests/test_sketches.py pins their estimates and
mergeability); those are the production default when only an estimate is
needed. What the binary sketches CANNOT give is a cross-engine, *audit-
reproducible* result: the sketch bytes depend on build order and library
version. This module implements the classic fixed-threshold theta sketch
(the Theta-Sketch Framework's θ=const member; KMV's simpler sibling) and
count-min (Cormode & Muthukrishnan 2005) over a portable 32-bit hash, so
every estimate is a pure function of the input SET — bit-identical across
engines, partitionings, and retry orders. That determinism is what makes
them hash-gateable against a DuckDB oracle here, and reproducible across
re-runs of a 100 TB pipeline in production.

Scale shape:

- **theta**: the hash-threshold filter keeps ``theta_frac`` of the key
  stream BEFORE the distinct shuffle. An exact distinct shuffles every
  key; this shuffles ``theta_frac`` of them (relative stderr ≈
  ``1/sqrt(sampled)`` — pick the fraction to trade error for shuffle
  bytes). Samples are unionable: the sample of a union is the union of
  samples (same hash, same θ), so per-partition / per-day samples merge
  exactly — no re-scan for rollups, and set algebra (∩, ∪, Jaccard)
  works directly on the sampled sets.
- **count-min**: ONE map-side-combinable aggregation collapses any key
  stream to ``depth × width`` counters per partition before the (tiny)
  shuffle; counters are additive, so shard sketches sum into the global
  sketch. Point estimates overestimate only (min over depth rows).

Reference parity: the reference app (main.py) keeps exact progress
counters only and has no sketch surface — this is north-star extension
surface, same family as dedup/ANN (SURVEY.md §2's scale-path additions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_batch_processing_spark.jobs import cache, pin_scope
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables

_HASH_SPACE = 4_294_967_296  # 2^32 — the portable hash range


def portable_hash32(col: Column, method: str = "xxhash64") -> Column:
    """Uniform 32-bit hash in [0, 2^32) — the sketch-family hash.

    ``xxhash64``: JVM-intrinsic, production default (pmod into 2^32).
    ``md5``: first 8 md5 hex digits as an integer — the SQL-portable
    variant for oracle gates; DuckDB computes the identical value via
    ``CAST(('0x' || substr(md5(k), 1, 8)) AS BIGINT)`` (the
    :func:`~ai_batch_processing_spark.operators.curation._feature_bucket`
    pattern).
    """
    if method == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(_HASH_SPACE))
    if method == "md5":
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    raise ValueError(f"method must be xxhash64|md5, got {method!r}")


def theta_threshold(theta_frac: float) -> int:
    """The integer θ for a sampling fraction (θ/2^32 = effective rate)."""
    if not 0.0 < theta_frac <= 1.0:
        raise ValueError(f"theta_frac must be in (0, 1], got {theta_frac}")
    return int(theta_frac * _HASH_SPACE)


def theta_sample(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    theta_frac: float = 1 / 8,
    method: str = "xxhash64",
) -> DataFrame:
    """Distinct ``(group…, key)`` rows whose 32-bit hash < θ.

    The filter runs BEFORE the distinct, so only ``theta_frac`` of the
    key stream reaches the shuffle — the whole point at 100 TB. The
    result is itself the sketch: union samples from shards to get the
    shard-union's sample (same hash ⇒ identical definition).
    """
    theta = theta_threshold(theta_frac)
    keep = portable_hash32(F.col(key_col), method) < F.lit(theta)
    return df.where(keep).select(*group_cols, key_col).distinct()


def theta_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    theta_frac: float = 1 / 8,
    method: str = "xxhash64",
) -> DataFrame:
    """Per-group distinct-count estimate: ``(group…, sampled_distinct,
    est_distinct)``.

    ``est = round(sampled · 2^32 / θ)`` in pure BIGINT arithmetic, so the
    estimate is bit-identical across engines. Groups whose sample is
    empty simply don't appear — join from an exact group list (or a
    ``count(*)`` frame) when presence matters.
    """
    theta = theta_threshold(theta_frac)
    sample = theta_sample(df, key_col, group_cols, theta_frac, method)
    grouped = (
        sample.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("sampled_distinct"))
        if group_cols
        else sample.agg(F.count(F.lit(1)).alias("sampled_distinct"))
    )
    # BIGINT `div`, not double `/`: past 2^53 the double quotient loses ulps
    # and cast('long') can truncate to q-1 while the oracle's exact integer
    # division yields q — `div` keeps the whole estimate in integer arithmetic
    est = F.expr(
        f"(sampled_distinct * {_HASH_SPACE}L + {theta // 2}L) div {theta}L"
    ).cast("long")
    return grouped.withColumn("est_distinct", est)


def theta_pair_overlap(
    df: DataFrame,
    key_col: str,
    group_col: str,
    theta_frac: float = 1 / 8,
    method: str = "xxhash64",
) -> DataFrame:
    """Estimated set overlap between every group pair from ONE shared
    sample: ``(group_a, group_b, sampled_a, sampled_b, inter_sampled,
    union_sampled, est_jaccard)`` for all unordered pairs (a < b).

    The cross-sketch property: because every group is sampled with the
    SAME hash and θ, the sampled sets are comparable — ``|A∩B|`` on the
    samples is an unbiased θ-scaled estimate of the true intersection,
    and Jaccard needs no scaling at all (the θ factors cancel). One
    corpus scan builds all groups' sketches; the pair join runs on the
    tiny samples, never on the raw keys.
    """
    sample = theta_sample(df, key_col, (group_col,), theta_frac, method)
    counts = sample.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    groups = counts.select(F.col(group_col).alias("g"), F.col("n"))
    pairs = (
        groups.alias("ga")
        .crossJoin(groups.alias("gb"))
        .where(F.col("ga.g") < F.col("gb.g"))
        .select(
            F.col("ga.g").alias("group_a"),
            F.col("gb.g").alias("group_b"),
            F.col("ga.n").alias("sampled_a"),
            F.col("gb.n").alias("sampled_b"),
        )
    )
    inter = (
        sample.alias("a")
        .join(sample.alias("b"), on=key_col)
        .where(F.col(f"a.{group_col}") < F.col(f"b.{group_col}"))
        .groupBy(
            F.col(f"a.{group_col}").alias("group_a"),
            F.col(f"b.{group_col}").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter_sampled"))
    )
    out = (
        pairs.join(inter, ["group_a", "group_b"], "left")
        .withColumn("inter_sampled", F.coalesce("inter_sampled", F.lit(0)).cast("long"))
        .withColumn(
            "union_sampled",
            (F.col("sampled_a") + F.col("sampled_b") - F.col("inter_sampled")).cast("long"),
        )
    )
    jac = F.when(
        F.col("union_sampled") > 0,
        F.round(F.col("inter_sampled") / F.col("union_sampled"), 4),
    ).otherwise(F.lit(0.0))
    return out.withColumn("est_jaccard", jac)


def count_min(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    method: str = "xxhash64",
) -> DataFrame:
    """Count-min sketch of key occurrences: ``(row_idx, col_idx, counter)``
    — ``depth`` independent hash rows of ``width`` counters.

    One aggregation: each occurrence explodes to ``depth`` (row, col)
    cells, and the partial agg collapses every partition to ≤ depth·width
    rows before the shuffle — the sketch build costs one corpus scan no
    matter the corpus size, and shard sketches ADD into the global one.
    Row hashes are ``hash(r ‖ ':' ‖ key)`` — independent per row, same
    portable hash family as the theta sketch.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be ≥1, got {depth}/{width}")
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row_idx"),
                (
                    portable_hash32(
                        F.concat(F.lit(f"{r}:"), F.col(key_col)), method
                    )
                    % F.lit(width)
                ).alias("col_idx"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row_idx").alias("row_idx"), F.col("c.col_idx").alias("col_idx"))
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def cms_lookup(
    cms: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    method: str = "xxhash64",
) -> DataFrame:
    """Point-estimate each probe key against a count-min sketch:
    probes + ``cms_est`` (min over the depth rows — overestimate-only).

    The sketch is ≤ depth·width rows → broadcast; each probe key fans out
    to ``depth`` lookups and folds back with ``min``. Missing cells read
    as 0 (a key whose cell was never touched has true count 0).
    """
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row_idx"),
                (
                    portable_hash32(
                        F.concat(F.lit(f"{r}:"), F.col(key_col)), method
                    )
                    % F.lit(width)
                ).alias("col_idx"),
            )
            for r in range(depth)
        ]
    )
    fanout = probes.select(*probes.columns, F.explode(cells).alias("c")).select(
        *probes.columns,
        F.col("c.row_idx").alias("row_idx"),
        F.col("c.col_idx").alias("col_idx"),
    )
    joined = fanout.join(F.broadcast(cms), ["row_idx", "col_idx"], "left").withColumn(
        "counter", F.coalesce("counter", F.lit(0))
    )
    return joined.groupBy(*probes.columns).agg(F.min("counter").alias("cms_est"))


# ---------------------------------------------------------------------------
# Registered queries (gate form: method="md5", the SQL-portable hash;
# production default is xxhash64 — parity of the two estimates is pinned
# in tests/test_sketches.py)
# ---------------------------------------------------------------------------

# Shared oracle CTEs: 8-token shingles per (source, doc) — q101's shingle
# SQL — and the md5-threshold sample. θ = 2^32/8 = 536870912.
_SHINGLE_CTE = r"""
        toks AS (
            SELECT source,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
            FROM documents
        ),
        sh AS (
            SELECT source,
                   unnest(list_transform(
                       range(1, greatest(len(t) - 7, 1) + 1),
                       i -> array_to_string(t[i:i+7], ' '))) AS shingle
            FROM toks
        ),
        sample AS (
            SELECT DISTINCT source, shingle FROM sh
            WHERE CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) < 536870912
        )
"""


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.curation import shingles_expr

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return docs.select(
        "source", F.explode(shingles_expr(F.col("text"), 8)).alias("shingle")
    )


@register(
    "q203_theta_distinct_shingles",
    oracle=r"""
        WITH """ + _SHINGLE_CTE + r""",
        est AS (
            SELECT source,
                   COUNT(*) AS sampled_distinct,
                   (COUNT(*) * 4294967296 + 268435456) // 536870912 AS est_distinct
            FROM sample GROUP BY source
        ),
        exact AS (
            SELECT source, COUNT(DISTINCT shingle) AS exact_distinct
            FROM sh GROUP BY source
        )
        SELECT x.source,
               COALESCE(e.sampled_distinct, 0) AS sampled_distinct,
               COALESCE(e.est_distinct, 0) AS est_distinct,
               x.exact_distinct,
               ROUND(100.0 * (COALESCE(e.est_distinct, 0) - x.exact_distinct)
                     / x.exact_distinct, 2) AS err_pct
        FROM exact x LEFT JOIN est e USING (source)
        ORDER BY source
    """,
    doc=(
        "fixed-threshold theta sketch: per-source distinct 8-gram shingle "
        "estimate (the dedup capacity-planning statistic) from a 1/8 "
        "hash-threshold sample, vs the exact count — deterministic, "
        "SQL-portable, the audit-reproducible alternative to binary HLL; "
        "the θ filter runs BEFORE the distinct shuffle (the 100 TB point)."
    ),
    tags=("sketch", "distinct", "scale"),
)
def q203_theta_distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    est = theta_distinct(sh, "shingle", ("source",), theta_frac=1 / 8, method="md5")
    exact = sh.groupBy("source").agg(
        F.countDistinct("shingle").alias("exact_distinct")
    )
    out = exact.join(est, "source", "left").select(
        "source",
        F.coalesce("sampled_distinct", F.lit(0)).cast("long").alias("sampled_distinct"),
        F.coalesce("est_distinct", F.lit(0)).cast("long").alias("est_distinct"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.round(
            (F.coalesce("est_distinct", F.lit(0)) - F.col("exact_distinct"))
            * 100.0
            / F.col("exact_distinct"),
            2,
        ).alias("err_pct"),
    )
    return out.orderBy("source")


@register(
    "q204_theta_source_overlap",
    oracle=r"""
        WITH """ + _SHINGLE_CTE + r""",
        counts AS (
            SELECT source, COUNT(*) AS n FROM sample GROUP BY source
        ),
        pairs AS (
            SELECT a.source AS group_a, b.source AS group_b,
                   a.n AS sampled_a, b.n AS sampled_b
            FROM counts a JOIN counts b ON a.source < b.source
        ),
        inter AS (
            SELECT a.source AS group_a, b.source AS group_b,
                   COUNT(*) AS inter_sampled
            FROM sample a JOIN sample b
              ON a.shingle = b.shingle AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT p.group_a, p.group_b,
               CAST(COALESCE(i.inter_sampled, 0) AS BIGINT) AS inter_sampled,
               CAST(p.sampled_a + p.sampled_b - COALESCE(i.inter_sampled, 0) AS BIGINT)
                   AS union_sampled,
               CASE WHEN p.sampled_a + p.sampled_b - COALESCE(i.inter_sampled, 0) > 0
                    THEN ROUND(CAST(COALESCE(i.inter_sampled, 0) AS DOUBLE)
                          / (p.sampled_a + p.sampled_b - COALESCE(i.inter_sampled, 0)), 4)
                    ELSE 0.0 END AS est_jaccard
        FROM pairs p LEFT JOIN inter i USING (group_a, group_b)
        ORDER BY group_a, group_b
    """,
    doc=(
        "cross-sketch set algebra: estimated shingle-set Jaccard between "
        "every source pair from ONE shared theta sample (same hash + θ ⇒ "
        "samples are directly intersectable; the θ factors cancel in the "
        "ratio). One corpus scan builds all 20 sketches; the 190-pair "
        "join runs on the samples — the sketch-cost estimate of q184's "
        "exact overlap matrix."
    ),
    tags=("sketch", "setops", "scale"),
)
def q204_theta_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    out = theta_pair_overlap(sh, "shingle", "source", theta_frac=1 / 8, method="md5")
    return out.select(
        "group_a",
        "group_b",
        "inter_sampled",
        "union_sampled",
        "est_jaccard",
    ).orderBy("group_a", "group_b")


@register(
    "q205_count_min_bigrams",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
            FROM documents
        ),
        grams AS (
            SELECT unnest(list_transform(
                       range(1, greatest(len(t) - 1, 1) + 1),
                       i -> array_to_string(t[i:i+1], ' '))) AS bigram
            FROM toks
        ),
        truth AS (
            SELECT bigram, COUNT(*) AS true_count FROM grams GROUP BY bigram
        ),
        probes AS (
            SELECT bigram, true_count FROM truth
            ORDER BY true_count DESC, bigram LIMIT 10
        ),
        cells AS (
            SELECT d.r AS row_idx,
                   CAST(('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' || g.bigram), 1, 8))
                        AS BIGINT) % 256 AS col_idx
            FROM grams g, range(4) d(r)
        ),
        cms AS (
            SELECT row_idx, col_idx, COUNT(*) AS counter
            FROM cells GROUP BY row_idx, col_idx
        ),
        lookups AS (
            SELECT p.bigram, p.true_count, d.r AS row_idx,
                   CAST(('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' || p.bigram), 1, 8))
                        AS BIGINT) % 256 AS col_idx
            FROM probes p, range(4) d(r)
        )
        SELECT l.bigram,
               CAST(l.true_count AS BIGINT) AS true_count,
               CAST(MIN(COALESCE(c.counter, 0)) AS BIGINT) AS cms_est,
               CAST(MIN(COALESCE(c.counter, 0)) - l.true_count AS BIGINT) AS overestimate
        FROM lookups l LEFT JOIN cms c USING (row_idx, col_idx)
        GROUP BY l.bigram, l.true_count
        ORDER BY true_count DESC, bigram
    """,
    doc=(
        "count-min sketch (Cormode-Muthukrishnan): 4×256 counters over the "
        "corpus bigram stream — one map-combinable aggregation regardless "
        "of corpus size, counters additive across shards — probed at the "
        "top-10 true bigrams; the overestimate column pins the one-sided "
        "error guarantee (cms_est ≥ true, always)."
    ),
    tags=("sketch", "frequency", "scale"),
)
def q205_count_min_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.curation import shingles_expr

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    grams = docs.select(F.explode(shingles_expr(F.col("text"), 2)).alias("bigram"))
    truth = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("true_count"))
    probes = truth.orderBy(F.desc("true_count"), "bigram").limit(10)
    cms = count_min(grams, "bigram", depth=4, width=256, method="md5")
    out = cms_lookup(cms, probes, "bigram", depth=4, width=256, method="md5")
    return out.select(
        "bigram",
        F.col("true_count").cast("long").alias("true_count"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("true_count")).cast("long").alias("overestimate"),
    ).orderBy(F.desc("true_count"), "bigram")


# ---------------------------------------------------------------------------
# Portable HyperLogLog: audit-reproducible registers over the md5 hash
# ---------------------------------------------------------------------------
_HLL_B = 8  # 2^8 = 256 registers
_HLL_M = 1 << _HLL_B
_HLL_WBITS = 32 - _HLL_B  # 24 bits feed the leading-zero rank


def hll_registers(keys: DataFrame, key_col: str) -> DataFrame:
    """(bucket, r): the occupied HyperLogLog registers of the key stream
    — bucket = top 8 hash bits, r = max over keys of the 1-based
    position of the leftmost 1-bit in the remaining 24 bits (25 when
    they are all zero). Flajolet et al. 2007, m = 256 (stderr ≈
    1.04/√m ≈ 6.5%).

    The leading-zero rank needs NO libm: length(bin(w)) = ⌊log2 w⌋ + 1
    exactly, in both engines, so r = 25 − length(bin(w)) is pure integer
    arithmetic. Duplicates collapse inside the map-side max — the whole
    corpus reduces to ≤ 256 rows in one combinable aggregate, the same
    shuffle shape as count-min. The binary ``hll_sketch_agg`` remains
    the production default (module docstring); THIS variant is the
    cross-engine audit-reproducible one.
    """
    return hll_bucket_rho(keys, key_col).groupBy("bucket").agg(F.max("rho").alias("r"))


def hll_bucket_rho(keys: DataFrame, key_col: str, *extra_cols: str) -> DataFrame:
    """(…extra_cols, bucket, rho): the per-key register coordinates —
    exposed so per-group sketches (and the q310 mergeability audit) can
    aggregate the same construction along any dimension."""
    h = portable_hash32(F.col(key_col), method="md5")
    w = F.pmod(h, F.lit(1 << _HLL_WBITS))
    rho = F.when(
        w > 0, F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    ).otherwise(F.lit(_HLL_WBITS + 1))
    return keys.select(
        *extra_cols,
        (h / F.lit(1 << _HLL_WBITS)).cast("long").alias("bucket"),
        rho.cast("long").alias("rho"),
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """One row ``(m, n_zero_registers, hll_estimate)`` from the occupied
    registers. Exactness: each 2^−r term is an exact dyadic double
    (1.0 / shiftleft — never libm pow), so the 256-term harmonic sum is
    EXACT and order-free (granularity 2^−25, magnitude ≤ 2^8: every
    partial sum fits 33 < 53 mantissa bits); the bias constant and the
    final assembly are one fixed-order literal expression. The
    small-range (linear-counting) branch snaps its ln to 6dp."""
    m = float(_HLL_M)
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(m))
    s = regs.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum(F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(r AS INT))")).alias("inv"),
    )
    v = (F.lit(_HLL_M) - F.col("np")).cast("long")
    est_raw = (alpha * F.lit(m * m)) / (F.col("inv") + v.cast("double"))
    est = F.when(
        (est_raw <= F.lit(2.5 * m)) & (v > 0),
        F.round(F.lit(m) * F.log(F.lit(m) / v.cast("double")), 6),
    ).otherwise(F.round(est_raw, 6))
    return s.select(
        F.lit(_HLL_M).cast("long").alias("m"),
        v.alias("n_zero_registers"),
        est.alias("hll_estimate"),
    )


@register(
    "q290_hll_vocabulary",
    oracle=rf"""
        WITH toks AS (
            SELECT t.tok AS term
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS t(tok)
        ),
        hashed AS (
            SELECT CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS h
            FROM toks
        ),
        ranked AS (
            SELECT h // {1 << _HLL_WBITS} AS bucket,
                   CASE WHEN h % {1 << _HLL_WBITS} > 0
                        THEN {_HLL_WBITS + 1} - length(bin(h % {1 << _HLL_WBITS}))
                        ELSE {_HLL_WBITS + 1} END AS rho
            FROM hashed
        ),
        regs AS (SELECT bucket, MAX(rho) AS r FROM ranked GROUP BY bucket),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS np,
                   SUM(1.0 / (1 << CAST(r AS INT))) AS inv
            FROM regs
        ),
        est AS (
            SELECT CAST({_HLL_M} AS BIGINT) AS m,
                   CAST({_HLL_M} - np AS BIGINT) AS n_zero_registers,
                   CASE WHEN (0.7213 / (1.0 + 1.079 / {float(_HLL_M)})) * {float(_HLL_M) ** 2}
                             / (inv + CAST({_HLL_M} - np AS DOUBLE)) <= {2.5 * _HLL_M}
                             AND {_HLL_M} - np > 0
                        THEN ROUND({float(_HLL_M)} * LN({float(_HLL_M)}
                                   / CAST({_HLL_M} - np AS DOUBLE)), 6)
                        ELSE ROUND((0.7213 / (1.0 + 1.079 / {float(_HLL_M)})) * {float(_HLL_M) ** 2}
                                   / (inv + CAST({_HLL_M} - np AS DOUBLE)), 6)
                   END AS hll_estimate
            FROM s
        ),
        ex AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_distinct FROM toks)
        SELECT est.m, est.n_zero_registers, est.hll_estimate, ex.exact_distinct,
               ROUND((est.hll_estimate - ex.exact_distinct) * 100.0 / ex.exact_distinct, 6)
                   AS rel_error_pct
        FROM est, ex
    """,
    doc=(
        "portable HyperLogLog (m=256, md5 hash) over the corpus term "
        "stream, audited against the exact distinct count: registers "
        "via the libm-free length(bin(w)) leading-zero rank, harmonic "
        "sum of exact dyadic 2^-r terms (order-free), linear-counting "
        "small-range branch. The cross-engine-reproducible twin of "
        "hll_sketch_agg, exactly as theta (q203) twins theta_sketch_agg "
        "— plus the realized relative error as part of the gate."
    ),
    tags=("sketch", "corpus", "verify"),
)
def q290_hll_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import tokens_expr

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    terms = docs.select(F.explode(tokens_expr("text")).alias("term"))
    est = hll_estimate(hll_registers(terms, "term"))
    exact = terms.agg(F.countDistinct("term").cast("long").alias("exact_distinct"))
    return est.crossJoin(exact).select(
        "m",
        "n_zero_registers",
        "hll_estimate",
        "exact_distinct",
        F.round(
            (F.col("hll_estimate") - F.col("exact_distinct"))
            * 100.0
            / F.col("exact_distinct"),
            6,
        ).alias("rel_error_pct"),
    )


@register(
    "q310_hll_merge_audit",
    oracle=rf"""
        WITH toks AS (
            SELECT source, t.tok AS term
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS t(tok)
        ),
        ranked AS (
            SELECT source,
                   CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) // {1 << _HLL_WBITS} AS bucket,
                   CASE WHEN CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % {1 << _HLL_WBITS} > 0
                        THEN {_HLL_WBITS + 1} - length(bin(CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % {1 << _HLL_WBITS}))
                        ELSE {_HLL_WBITS + 1} END AS rho
            FROM toks
        ),
        per_source AS (
            SELECT source, bucket, MAX(rho) AS r FROM ranked GROUP BY source, bucket
        ),
        merged AS (SELECT bucket, MAX(r) AS r FROM per_source GROUP BY bucket),
        direct AS (SELECT bucket, MAX(rho) AS r FROM ranked GROUP BY bucket),
        cmp AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_mismatched_registers
            FROM merged FULL JOIN direct USING (bucket)
            WHERE merged.r IS DISTINCT FROM direct.r
        ),
        est AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS np,
                   SUM(1.0 / (1 << CAST(r AS INT))) AS inv
            FROM merged
        )
        SELECT cmp.n_mismatched_registers,
               cmp.n_mismatched_registers = 0 AS merge_exact,
               CAST({_HLL_M} - est.np AS BIGINT) AS n_zero_registers,
               CASE WHEN (0.7213 / (1.0 + 1.079 / {float(_HLL_M)})) * {float(_HLL_M) ** 2}
                         / (est.inv + CAST({_HLL_M} - est.np AS DOUBLE)) <= {2.5 * _HLL_M}
                         AND {_HLL_M} - est.np > 0
                    THEN ROUND({float(_HLL_M)} * LN({float(_HLL_M)}
                               / CAST({_HLL_M} - est.np AS DOUBLE)), 6)
                    ELSE ROUND((0.7213 / (1.0 + 1.079 / {float(_HLL_M)})) * {float(_HLL_M) ** 2}
                               / (est.inv + CAST({_HLL_M} - est.np AS DOUBLE)), 6)
               END AS est_merged
        FROM cmp, est
    """,
    doc=(
        "HLL mergeability audit: per-source register sets merged by "
        "bucket-max must equal the registers built over the whole "
        "corpus in one pass — the semilattice property that makes HLL "
        "shard/replay-safe at 100 TB (shard sketches union losslessly; "
        "no re-scan for rollups), PROVEN register-by-register on real "
        "data rather than asserted; plus the merged estimate."
    ),
    tags=("sketch", "corpus", "verify"),
)
def q310_hll_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import tokens_expr

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    terms = docs.select("source", F.explode(tokens_expr("text")).alias("term"))
    with pin_scope() as scope:
        coords = cache(hll_bucket_rho(terms, "term", "source"))
        per_source = coords.groupBy("source", "bucket").agg(F.max("rho").alias("r"))
        merged = per_source.groupBy("bucket").agg(F.max("r").alias("r"))
        direct = coords.groupBy("bucket").agg(F.max("rho").alias("r"))
        cmp_ = (
            merged.select("bucket", F.col("r").alias("rm"))
            .join(direct.select("bucket", F.col("r").alias("rd")), "bucket", "full")
            .where(~F.col("rm").eqNullSafe(F.col("rd")))
            .agg(F.count(F.lit(1)).cast("long").alias("n_mismatched_registers"))
        )
        est = merged.agg(
            F.count(F.lit(1)).cast("long").alias("np"),
            F.sum(F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(r AS INT))")).alias(
                "inv"
            ),
        )
        m = float(_HLL_M)
        alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(m))
        v = (F.lit(_HLL_M) - F.col("np")).cast("long")
        raw = (alpha * F.lit(m * m)) / (F.col("inv") + v.cast("double"))
        est_col = F.when(
            (raw <= F.lit(2.5 * m)) & (v > 0),
            F.round(F.lit(m) * F.log(F.lit(m) / v.cast("double")), 6),
        ).otherwise(F.round(raw, 6))
        return scope.store(
            cmp_.crossJoin(est)
            .select(
                "n_mismatched_registers",
                (F.col("n_mismatched_registers") == 0).alias("merge_exact"),
                v.alias("n_zero_registers"),
                est_col.alias("est_merged"),
            )
        )


# --------------------------------------------------------------------------
# Join-size estimation from count-min sketches (AMS inner product)
# --------------------------------------------------------------------------
def cms_join_size(
    cms_a: DataFrame, cms_b: DataFrame, depth: int = 4
) -> DataFrame:
    """One row ``(est)``: the count-min join-size estimate — min over the
    ``depth`` hash rows of the row-wise counter inner product
    Σ_col a[r,c]·b[r,c] (Alon-Matias-Szegedy sketch inner product in its
    CM form; one-sided: est ≥ true join size, like every CM read).
    Sketch-sized work only: the join touches ≤ depth·width cells.
    """
    a = cms_a.select("row_idx", "col_idx", F.col("counter").alias("ca"))
    b = cms_b.select("row_idx", "col_idx", F.col("counter").alias("cb"))
    return (
        a.join(b, ["row_idx", "col_idx"])
        .groupBy("row_idx")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
        .agg(F.min("ip").cast("long").alias("est"))
    )


@register(
    "q328_join_size_estimate",
    oracle="""
        WITH keys_o AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
        keys_c AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer),
        cells_o AS (
            SELECT d.r AS row_idx,
                   CAST(('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' || k), 1, 8))
                        AS BIGINT) % 256 AS col_idx
            FROM keys_o, range(4) d(r)
        ),
        cells_c AS (
            SELECT d.r AS row_idx,
                   CAST(('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' || k), 1, 8))
                        AS BIGINT) % 256 AS col_idx
            FROM keys_c, range(4) d(r)
        ),
        cms_o AS (SELECT row_idx, col_idx, COUNT(*) AS ca FROM cells_o GROUP BY 1, 2),
        cms_c AS (SELECT row_idx, col_idx, COUNT(*) AS cb FROM cells_c GROUP BY 1, 2),
        ip AS (
            SELECT o.row_idx, SUM(o.ca * c.cb) AS ip
            FROM cms_o o JOIN cms_c c USING (row_idx, col_idx)
            GROUP BY o.row_idx
        ),
        est AS (SELECT CAST(MIN(ip) AS BIGINT) AS cms_estimate FROM ip),
        act AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_rows
            FROM orders JOIN customer ON o_custkey = c_custkey
        )
        SELECT exact_join_rows, cms_estimate,
               ROUND((cms_estimate - exact_join_rows) * 1.0
                     / exact_join_rows, 6) AS overestimate_frac
        FROM act CROSS JOIN est
    """,
    doc=(
        "join-size estimation BEFORE the join: count-min sketches of "
        "orders.o_custkey and customer.c_custkey, AMS inner product "
        "(min over hash rows of the counter dot product) vs the exact "
        "join count — the sketch a planner consults to pick "
        "broadcast/shuffle/salt when statistics are stale. One-sided "
        "error pinned in the overestimate_frac column."
    ),
    tags=("sketch", "join", "scale"),
)
def q328_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    co = count_min(
        t["orders"].select(F.col("o_custkey").cast("string").alias("k")),
        "k", depth=4, width=256, method="md5",
    )
    cc = count_min(
        t["customer"].select(F.col("c_custkey").cast("string").alias("k")),
        "k", depth=4, width=256, method="md5",
    )
    est = cms_join_size(co, cc).select(F.col("est").alias("cms_estimate"))
    act = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_join_rows"))
    )
    return act.crossJoin(F.broadcast(est)).select(
        "exact_join_rows",
        "cms_estimate",
        F.round(
            (F.col("cms_estimate") - F.col("exact_join_rows"))
            * 1.0
            / F.col("exact_join_rows"),
            6,
        ).alias("overestimate_frac"),
    )
