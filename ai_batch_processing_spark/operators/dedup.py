"""Deduplication operators for training-data pipelines.

Four families, each designed for 100 TB first and verified at test scale:

- **exact**: hash-groupBy on content (or any key set), keep one
  representative. One shuffle on the key; Catalyst does partial
  aggregation map-side.
- **n-gram Jaccard (exact pairwise)**: character-shingle explode +
  self-join on shingle + intersection counting. Quadratic in the worst
  case — at scale this is the VERIFICATION stage applied to LSH candidate
  pairs only, never to the full corpus. Kept SQL-expressible so the whole
  computation is oracle-checked.
- **MinHash + LSH**: shingles → 64-bit hash → k permutation-min signature →
  band buckets → candidate pairs within buckets. This is the scale path:
  cost is linear in corpus size + bucket-local joins. All JVM-side
  (xxhash64 / transform / array_min); no Python in the plan.
- **SimHash**: 63-bit signed-sum fingerprint over token hashes; hamming
  distance via xor+bit_count; banding on 16-bit sub-keys for candidate
  generation.

The reference has no dedup (single table, no joins — SURVEY.md §2.3); these
are the BASELINE.json north-star extensions.
"""

from __future__ import annotations

import functools
import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_batch_processing_spark.jobs import cache, pin_scope
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables

_MERSENNE31 = (1 << 31) - 1  # prime modulus for permutation hashes


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def exact_dedup(df: DataFrame, key_cols: list[str], keep_min: str) -> DataFrame:
    """Keep one row per key: the one with the minimal ``keep_min`` value.

    Deterministic representative selection (unlike ``dropDuplicates``,
    whose survivor depends on partition order): a single shuffle on
    ``key_cols`` via a min-struct aggregation, no window needed.
    """
    others = [c for c in df.columns if c not in key_cols]
    packed = F.struct(*[F.col(keep_min)] + [F.col(c) for c in others if c != keep_min])
    agg = df.groupBy(*key_cols).agg(F.min(packed).alias("_rep"))
    return agg.select(
        *key_cols,
        *[F.col(f"_rep.{c}").alias(c) for c in [keep_min] + [c for c in others if c != keep_min]],
    )


def exact_dedup_hashed(
    df: DataFrame, key_cols: list[str], keep_min: str, carry_keys: bool = True
) -> DataFrame:
    """``exact_dedup`` for PAYLOAD-SIZED keys (document text): group on a
    128-bit content hash instead of the raw key.

    Grouping by multi-KB text makes the text both the shuffle KEY and part
    of the carried row, and every hash-table probe compares full strings.
    Two seeded ``xxhash64`` columns (16 bytes total) replace the key: the
    aggregate compares longs, and map-side partial aggregation collapses
    duplicates before anything wide moves. Collision odds are
    ~pairs × 2⁻¹²⁸ — zero in practice (at 10¹² docs: ~10⁻¹⁴). Survivor
    selection is identical to ``exact_dedup`` (min-struct on ``keep_min``),
    and a parity test pins equality of results.
    """
    # null markers make the hash null-position-sensitive (bare xxhash64
    # skips NULLs, so (NULL,'a') and ('a',NULL) would collide); the salt
    # goes FIRST — appended, h2 would be a pure function of h1 (xxhash64
    # folds left-to-right seeding each step with the running hash) and the
    # pair would give only 64 collision bits, not 128
    marked = [x for c in key_cols for x in (F.isnull(F.col(c)).cast("int"), F.col(c))]
    h1 = F.xxhash64(*marked)
    h2 = F.xxhash64(F.lit(0x5F3E), *marked)
    others = [c for c in df.columns if c not in key_cols]
    carried = [c for c in others if c != keep_min] + (key_cols if carry_keys else [])
    if not carried:
        # Nothing rides along but the survivor id: aggregate it directly —
        # the shuffle then moves (16-byte hash, id, count) and the payload
        # key (multi-KB text) never leaves the scan stage. This is the
        # shape a 100 TB dedup COUNT/ID pass should take; set
        # ``carry_keys=True`` (default) to get the full rows back.
        agg = df.groupBy(h1.alias("_h1"), h2.alias("_h2")).agg(
            F.min(keep_min).alias(keep_min), F.count(F.lit(1)).alias("n_copies")
        )
        return agg.select(keep_min, "n_copies")
    packed = F.struct(F.col(keep_min), *[F.col(c) for c in carried])
    agg = df.groupBy(h1.alias("_h1"), h2.alias("_h2")).agg(
        F.min(packed).alias("_rep"), F.count(F.lit(1)).alias("n_copies")
    )
    return agg.select(
        *([F.col(f"_rep.{c}").alias(c) for c in key_cols] if carry_keys else []),
        *[F.col(f"_rep.{c}").alias(c) for c in [keep_min] + [c for c in others if c != keep_min]],
        "n_copies",
    )


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------
# Shingling deliberately explodes POSITIONS and applies substring/xxhash64 as
# ordinary column expressions: explode → substring → hash → partial-agg all
# fuse into one WholeStageCodegen span (no interpreted HOF lambda, no
# per-document array materialization). Measured 17× faster than
# transform()-lambda shingling at sf0.1.


def _exploded_positions(df: DataFrame, id_col: str, text_col: str, k: int):
    # Repartition on id BEFORE the ~100× explode: the shuffle moves compact
    # raw docs (never the shingle stream), spreads a few fat input files
    # across all cores, and pre-satisfies groupBy(id)'s hash distribution —
    # every downstream per-doc aggregate becomes shuffle-free. The explicit
    # partition count is required: AQE sizes shuffles by the compact
    # PRE-explode bytes and would coalesce to one task otherwise.
    # Partition count: bounded by the session's shuffle setting but never
    # more than a few waves per core — an untuned session (driver default
    # 200) would otherwise pay 200-task overhead on every dedup stage.
    sess = df.sparkSession
    from ai_batch_processing_spark.session import shuffle_partitions

    conf_n = shuffle_partitions(sess)
    cores = sess.sparkContext.defaultParallelism
    n = min(conf_n, max(2 * cores, 16))
    return (
        df.repartition(n, F.col(id_col))
        .filter(F.length(text_col) >= k)
        .select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_t"),
            F.explode(F.sequence(F.lit(1), F.length(text_col) - (k - 1))).alias("pos"),
        )
    )


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Distinct character k-grams per document: (id, s). Pure codegen + one shuffle."""
    return (
        _exploded_positions(df, id_col, text_col, k)
        .select("id", F.expr(f"substring(_t, pos, {k})").alias("s"))
        .dropDuplicates(["id", "s"])
    )


def shingle_hash_stream(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """(id, h): one 64-bit hash per shingle occurrence (dups NOT removed).

    The raw stream feeding both MinHash (min() is dup-insensitive) and
    ``collect_set`` verify arrays — stays in whole-stage codegen end to end.
    """
    return _exploded_positions(df, id_col, text_col, k).select(
        "id", F.xxhash64(F.expr(f"substring(_t, pos, {k})")).alias("h")
    )


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, threshold: float = 0.5
) -> DataFrame:
    """Exact pairwise character-k-gram Jaccard ≥ threshold.

    |A∩B| via self-join on shingle; |A∪B| = |A|+|B|-|A∩B|. Use on
    LSH candidates (or bounded subsets) — this is the verify stage.
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    sh = shingles(df, id_col, text_col, k)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    jac = F.col("i") / (F.col("na.n") + F.col("nb.n") - F.col("i"))
    return (
        inter.join(na, F.col("id_a") == F.col("na.id"))
        .join(nb, F.col("id_b") == F.col("nb.id"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
def _signatures_from_stream(stream: DataFrame, num_perm: int, seed: int) -> DataFrame:
    """(id, sig) from the (id, h) shingle stream: num_perm min-aggregates.

    Permutations are ``(a*h + b) mod p`` over the 31-bit-folded shingle
    hashes — deterministic given ``seed``. The mins are independent
    aggregate expressions, partial-aggregated map-side inside whole-stage
    codegen; the shuffle moves one row of num_perm longs per (partition,
    doc), not the shingle stream. Duplicate shingles don't change a min, so
    no distinct pass is needed.
    """
    rng = random.Random(seed)
    coeffs = [(rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31)) for _ in range(num_perm)]
    h31 = F.pmod(F.col("h"), F.lit(_MERSENNE31))
    mins = [
        F.min(F.pmod(F.lit(a) * h31 + F.lit(b), F.lit(_MERSENNE31))).alias(f"_m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = stream.groupBy("id").agg(*mins)
    return agg.select("id", F.array(*[f"_m{i}" for i in range(num_perm)]).alias("sig"))


def sig_and_sets(stream: DataFrame, num_perm: int, seed: int) -> DataFrame:
    """(id, sig, hs): the fused signature + verify-set aggregate — ONE pass
    over the shingle stream yields both the MinHash signature and the
    ``collect_set(h)`` array the exact-Jaccard verify stage needs
    (``minhash_dedup_pairs`` verifies from it)."""
    rng = random.Random(seed)
    coeffs = [(rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31)) for _ in range(num_perm)]
    h31 = F.pmod(F.col("h"), F.lit(_MERSENNE31))
    mins = [
        F.min(F.pmod(F.lit(a) * h31 + F.lit(b), F.lit(_MERSENNE31))).alias(f"_m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = stream.groupBy("id").agg(*mins, F.collect_set("h").alias("hs"))
    return agg.select(
        "id", F.array(*[f"_m{i}" for i in range(num_perm)]).alias("sig"), "hs"
    )


def banded_signature_hashes(sig_df: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bh): one band-hash row per (document, band) — the
    exploded form both the self-join candidate generator and cross-table
    consumers (fuzzy decontamination) band with, so two tables banded
    with the same (num_perm, bands, seed) collide exactly when a band's
    signature slice agrees."""
    r = max(1, num_perm // bands)
    return sig_df.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), j -> xxhash64(slice(sig, j * {r} + 1, {r}), j))"
            )
        ).alias("band", "bh"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, num_perm: int = 64, seed: int = 42
) -> DataFrame:
    """(id, sig: array<long>[num_perm]) MinHash signature per document."""
    return _signatures_from_stream(shingle_hash_stream(df, id_col, text_col, k), num_perm, seed)


def lsh_candidate_pairs(
    sig_df: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int = 500,
    distinct: bool = True,
) -> DataFrame:
    """Banded-LSH candidate pairs from MinHash signatures.

    Each signature splits into ``bands`` bands; docs colliding on any
    band's hash become a candidate pair. Buckets larger than
    ``max_bucket`` are dropped (degenerate content — a single bucket of
    m docs costs m² pairs; the cap bounds the blow-up, and dropped
    buckets are exact-duplicate clusters better handled by exact dedup).

    ``distinct=False`` skips the pair dedup shuffle: a pair colliding in
    several bands is emitted once per band. Callers that run a cheap
    per-pair filter next (the signature-estimate pre-filter) dedup AFTER
    it — the distinct then shuffles the filtered ~10% instead of the full
    candidate stream.

    Shape (rewritten round 10): ONE aggregate collects each bucket's id
    list and the pairs are expanded by an in-bucket array transform. The
    old form self-joined the banded stream on (band, bh) with a
    count-based anti-join guard — with AQE broadcasting one join side,
    Catalyst could not reuse the exchange, so the banded stream AND the
    bucket-count aggregate were each computed TWICE per run (plan-
    verified, plans/r10/q42_*_before.txt: two `Exchange
    hashpartitioning(band, bh)` count subtrees + two anti-joins + the
    pair join). Now: one light count aggregate (partial map-side — never
    materializes a bucket), one broadcast anti-join keeping the
    ≤max_bucket buckets, one collect_list aggregate whose arrays are
    bounded by max_bucket (the count guard runs BEFORE collection, so a
    degenerate mega-bucket never reaches an aggregation buffer), and a
    flat in-bucket (i < j) expansion — identical pair multiset per band
    by construction (each id appears once per bucket; array_sort gives
    the same id_a < id_b orientation the join predicate produced).
    """
    # slice() is 1-indexed; band j covers [j*r+1, r].
    banded = banded_signature_hashes(sig_df, num_perm, bands)
    pairs = _bucket_pairs(banded, max_bucket)
    return pairs.distinct() if distinct else pairs


def _bucket_pairs(banded: DataFrame, max_bucket: int) -> DataFrame:
    """In-bucket (i < j) pair expansion over a (id, band, bh) stream with
    the over-``max_bucket`` guard — the shared core of
    :func:`lsh_candidate_pairs` and the est-filter auto probe (which runs
    it on a deterministic hash-sample of buckets)."""
    counts = banded.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("m"))
    ok = banded.join(
        F.broadcast(counts.filter(F.col("m") > max_bucket)), ["band", "bh"], "left_anti"
    )
    buckets = (
        ok.groupBy("band", "bh")
        .agg(F.collect_list("id").alias("_ids"))
        .filter(F.size("_ids") >= 2)
        .select(F.array_sort("_ids").alias("_s"))
    )
    s = F.col("_s")
    pair_structs = F.flatten(
        F.transform(
            s,
            lambda a, i: F.transform(
                F.slice(s, i + F.lit(2), F.size(s)),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return buckets.select(F.explode(pair_structs).alias("_p")).select(
        F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b")
    )


# est-filter auto probe: 1-in-16 deterministic bucket sample, screen pays
# when it would discard at least half of the sampled candidates.
_EST_AUTO_BUCKET_MOD = 16
_EST_AUTO_PASS_CUTOFF = 0.5
# Zero-action size gate in front of the probe (the broadcast_if_small
# ladder philosophy): under this Catalyst-estimated corpus size, the
# screen CANNOT pay — its two signature joins + filter stage and the
# probe's own aggregate are fixed stage barriers (~0.5 s probe + ~0.85 s
# screen measured at sf0.1) while the whole exact verify is sub-second —
# so auto short-circuits to the unscreened plan without running anything.
# Above it (the 100 TB regime), the sampled probe decides. The constant
# is a lower bound on "the verify is expensive enough to be worth
# screening", not a tuning knob for this box.
_EST_AUTO_MIN_BYTES = 1 << 30


def _est_signature_estimate(num_perm: int):
    """Estimated Jaccard from two signature columns ``sig_a``/``sig_b`` —
    the fraction of agreeing minhash positions (shared by the screen and
    its auto probe so the two can never disagree)."""
    return F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_perm))


def _est_screen_pass_rate(
    sigs: DataFrame,
    num_perm: int,
    bands: int,
    cutoff: float,
    max_bucket: int,
    probe_cap: int = 32,
) -> float | None:
    """Fraction of sampled LSH candidates whose signature estimate passes
    the screen cutoff, measured on a DETERMINISTIC 1-in-16 hash-sample of
    buckets (bh is already a stable hash, re-hashed for independence from
    its own low bits). None when the sample holds no candidate pair.

    Cost: ONE aggregate over the persisted signature frame — the sampled
    banding carries the signatures INTO the bucket collect, pairs expand
    with both signatures inline, so no join, no second aggregate, no
    anti-join guard stage (the >max_bucket guard becomes a size filter,
    and each sampled bucket contributes at most ``probe_cap`` lowest-id
    members — a deterministic, bounded sample of its pairs). No corpus
    text is touched: everything reads the cached (id, sig) columns.
    """
    r = max(1, num_perm // bands)
    banded = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), j -> xxhash64(slice(sig, j * {r} + 1, {r}), j))"
            )
        ).alias("band", "bh"),
    ).filter(F.pmod(F.xxhash64("bh"), F.lit(_EST_AUTO_BUCKET_MOD)) == 0)
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.collect_list(F.struct("id", "sig")).alias("g"))
        .filter((F.size("g") >= 2) & (F.size("g") <= max_bucket))
        .select(F.slice(F.sort_array("g"), 1, probe_cap).alias("g"))
    )
    g = F.col("g")
    pair_structs = F.flatten(
        F.transform(
            g,
            lambda a, i: F.transform(
                F.slice(g, i + F.lit(2), F.size(g)),
                lambda b: F.struct(a["sig"].alias("sig_a"), b["sig"].alias("sig_b")),
            ),
        )
    )
    est = _est_signature_estimate(num_perm)
    row = (
        buckets.select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.sig_a").alias("sig_a"), F.col("_p.sig_b").alias("sig_b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((est >= cutoff).cast("long")).alias("p"),
        )
        .first()
    )
    if row is None or not row.n:
        return None
    return row.p / row.n


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 500,
    est_filter: bool | str = "auto",
) -> DataFrame:
    """Scale-path near-dup detection: LSH candidates verified by Jaccard.

    The verify stage joins each candidate pair back to the per-doc
    shingle-hash arrays and computes |A∩B| with ``array_intersect`` — no
    shingle self-join, no second pass over the corpus. Total cost is
    corpus-linear (shingle + signature) + candidates-linear (one
    intersect per pair). The 64-bit hash space makes hashed Jaccard equal
    exact Jaccard up to a ~2⁻⁴⁴ collision chance per pair.

    Before the exact verify, candidates may be pre-filtered on the
    signature-estimated Jaccard (fraction of agreeing minhash positions),
    keeping pairs with ``est >= threshold - 3σ`` where
    ``σ = sqrt(t(1-t)/num_perm)``. The estimate join moves only the
    num_perm-long signatures (not the full shingle sets), and on a
    low-baseline-similarity corpus it discards most LSH candidates before
    the O(|shingle set|)-per-pair verify. On a HIGH-similarity corpus the
    screen passes nearly everything and its two signature joins + filter
    stage are pure cost (r10 A/B: est-on 3.33 s vs est-off 2.48 s at
    identical pairs). ``est_filter`` therefore defaults to ``"auto"``
    (r11): a deterministic 1-in-16 hash-sample of buckets measures the
    screen's own pass rate on the signatures already computed, and the
    screen engages only when it would discard at least half the sampled
    candidates (``_EST_AUTO_PASS_CUTOFF``) — the same corpus always takes
    the same branch. ``True``/``False`` force the screen on/off. When the
    screen runs, a true pair at exactly J=threshold survives with
    probability ≈ Φ(3) ≈ 99.9% (binomial over num_perm positions), and
    every returned pair still passes the exact check, so precision is
    unchanged and recall loss is negligible (tests assert ≥90% recall vs
    exact Jaccard at sf0.1 — observed 100%: identical pairs with and
    without the screen on the planted-dup corpus).

    The exact-verify shingle sets come from a ``collect_set`` over the
    full shingle stream, folded into the signature aggregate: the stream
    was repartitioned by id for the signature pass, so the sets cost no
    extra shuffle (~0.4 s at sf0.1, local[32]). The persisted sets spill
    per-partition.
    """
    # One full-corpus pass, persisted and computed exactly once: the
    # signature and the verify stage's shingle sets come from a SINGLE
    # aggregate over the shingle stream (sig_and_sets) — the
    # explode+substring+hash (the corpus-dominant cost) runs once, not
    # once per aggregate. The cached relation is columnar, so the banding
    # self-join's consumers read only (id, sig) batches and never
    # deserialize the shingle sets. MEMORY_AND_DISK default → spills
    # per-partition at scale. The returned pairs are lazy over it, so the
    # caller's pin_scope releases it.
    combined = cache(sig_and_sets(shingle_hash_stream(df, id_col, text_col, k), num_perm, seed))
    sigs = combined.select("id", "sig")
    # distinct=False: the pair dedup shuffle moves AFTER the est filter —
    # multi-band duplicates just re-evaluate the cheap estimate, and the
    # distinct then shuffles the surviving ~10% instead of the full
    # candidate stream.
    cands = lsh_candidate_pairs(sigs, num_perm, bands, max_bucket=max_bucket, distinct=False)
    # est-filter cutoff (shared by the screen and the auto probe)
    cutoff = max(0.0, threshold - 3.0 * (threshold * (1.0 - threshold) / num_perm) ** 0.5)
    if est_filter == "auto":
        # Adaptive regime pick (r10 verdict item 2): the screen pays when
        # candidates ≫ survivors — i.e. when it would DISCARD most
        # candidates — and costs two signature joins + a filter stage when
        # it would pass them all (the high-baseline-similarity bench
        # corpus: r10 measured est-on 3.33 s vs est-off 2.48 s at
        # identical pairs). Ladder, cheapest signal first:
        # 1. recall-1 mode (bands >= num_perm) bypasses the screen anyway;
        # 2. zero-action Catalyst size estimate of the corpus leg — under
        #    _EST_AUTO_MIN_BYTES neither the screen nor the probe can pay
        #    their fixed stage barriers, so the unscreened plan wins
        #    regardless of pass rate (this is what keeps the q42 bench
        #    wall free of probe cost);
        # 3. the deterministic 1-in-16 bucket-sample probe measures the
        #    screen's own pass rate; engage only when it would discard at
        #    least half. Hash-sampled buckets + exact fold — the same
        #    corpus always takes the same branch.
        if bands >= num_perm:
            est_filter = False
        else:
            from ai_batch_processing_spark.plans.relational import _plan_size_estimate

            size_est = _plan_size_estimate(df)
            if size_est is not None and size_est < _EST_AUTO_MIN_BYTES:
                est_filter = False
            else:
                rate = _est_screen_pass_rate(sigs, num_perm, bands, cutoff, max_bucket)
                est_filter = rate is not None and rate < _EST_AUTO_PASS_CUTOFF
    if not est_filter and bands < num_perm:
        # Filter bypass (``est_filter=False``): every candidate goes
        # straight to the exact verify. Results are identical — the
        # est filter only pre-screens pairs the verify would reject —
        # so this is purely a wall knob: it removes two signature joins
        # and one filter stage at the cost of array_intersect-verifying
        # the full candidate stream. Wrong when candidates ≫ survivors
        # (the 100 TB default keeps the filter); A/B'd for the bench
        # corpus in q42's body.
        cands = cands.select("id_a", "id_b").distinct()
    elif bands >= num_perm:
        # Recall-1 mode (one-row bands, the q131 oracle configuration): the
        # stated miss bound is (1-J)^num_perm from banding ALONE, so the
        # estimate pre-filter must not run — a true pair at exactly
        # J=threshold has ~1e-3 probability of a signature estimate below
        # the 3σ cutoff, which would add a corpus-sensitive binomial-tail
        # term the bound doesn't account for. Every candidate goes straight
        # to the exact array_intersect verify; precision is unchanged.
        cands = cands.select("id_a", "id_b").distinct()
    else:
        # Signature-estimate pre-filter (see docstring): drop candidates
        # whose estimated Jaccard is more than 3σ below the threshold
        # before paying for the exact array_intersect verify.
        sig_a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
        sig_b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
        # Deliberately the interpreted HOF fold, NOT a vectorized pandas
        # UDF: A/B'd (sf0.1, interleaved min-of-3) — HOF 2.34 s vs Arrow
        # UDF 2.88 s. Shipping two num_perm-long arrays through Arrow per
        # candidate costs more than 64 interpreted steps; vectorization
        # pays only when the fold is ~10³ steps/row (see similarity
        # _table_buckets_vec) or the arrays are already Python-side.
        est = _est_signature_estimate(num_perm)
        cands = (
            cands.join(sig_a, "id_a")
            .join(sig_b, "id_b")
            .filter(est >= cutoff)
            .select("id_a", "id_b")
            .distinct()
        )
    hs = combined.select("id", "hs")
    a = hs.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    b = hs.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = inter / (F.size("hs_a") + F.size("hs_b") - inter)
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
# Portable polynomial token hash: (acc*31 + ascii(char)) mod (2³¹−1), chars
# left-to-right. Computable identically in Spark (aggregate over split chars)
# and DuckDB (list_reduce) — the hash that lets a SimHash query be pinned
# against an independent SQL oracle (q132). xxhash64 stays the production
# default (better bit diffusion, no per-char lambda).
_POLY_P = _MERSENNE31


def _portable_token_hash(tok) -> F.Column:
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(_POLY_P),
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 63, portable_hash: bool = False
) -> DataFrame:
    """(id, simhash) ``bits``-bit SimHash over whitespace-token hashes.

    Per bit: sum ±1 across token hashes, bit set if the sum is
    non-negative. ``bits`` aggregate expressions in one groupBy — stays in
    codegen, no Python. ``portable_hash`` switches the token hash from
    xxhash64 to the cross-engine polynomial hash (oracle-checkable).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    h = _portable_token_hash(F.col("tok")) if portable_hash else F.xxhash64("tok")
    sums = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"_b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*sums)
    sim = functools.reduce(
        lambda acc, i: acc + F.when(F.col(f"_b{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0)),
        range(bits),
        F.lit(0).cast("long"),
    )
    return agg.select("id", sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 63,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Candidate generation blocks on four sub-keys of ``ceil(bits/4)`` bits
    (two hashes within hamming ≤ 3 must agree on at least one of 4 bands —
    pigeonhole, so banding recall is EXACTLY 1, unlike MinHash-LSH) —
    corpus-linear, then exact hamming verify on candidates.
    """
    sh = simhash(df, id_col, text_col, bits=bits, portable_hash=portable_hash)
    band_bits = (bits + 3) // 4
    mask = (1 << band_bits) - 1
    banded = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.expr(f"transform(sequence(0, 3), j -> shiftright(simhash, j * {band_bits}) & {mask})")
        ).alias("band", "key"),
    )
    x = banded.alias("x")
    y = banded.alias("y")
    cand = (
        x.join(y, (F.col("x.band") == F.col("y.band")) & (F.col("x.key") == F.col("y.key")) & (F.col("x.id") < F.col("y.id")))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.filter(ham <= max_hamming).select("id_a", "id_b", ham.alias("hamming"))


# --------------------------------------------------------------------------
# Registered queries — a synthesized near-dup corpus (the base table has no
# duplicates), deterministic in both engines.
# --------------------------------------------------------------------------
_DUP_CORPUS_SQL = """
        SELECT doc_id AS id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 100000 AS id, text || ' tail marker' AS text
        FROM documents WHERE doc_id < 200 AND doc_id % 2 = 0
"""


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    base = t["documents"].filter(F.col("doc_id") < 200).select(F.col("doc_id").alias("id"), "text")
    near = (
        t["documents"]
        .filter((F.col("doc_id") < 200) & (F.col("doc_id") % 2 == 0))
        .select((F.col("doc_id") + 100000).alias("id"), F.concat(F.col("text"), F.lit(" tail marker")).alias("text"))
    )
    return base.unionAll(near)


def _dup_corpus_one_scan(docs: DataFrame) -> DataFrame:
    """The q40/q98 planted-dup corpus (every doc + a shifted copy of each
    doc_id % 3 == 0) generated from ONE scan: the union-of-two-filters form
    read the parquet twice; the explode emits both rows per matching input
    row in a single pass (A/B at x100: 0.90 s -> 0.53 s warm, identical
    output)."""
    return docs.select(
        F.explode(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.array(F.col("doc_id"), F.col("doc_id") + 100000),
            ).otherwise(F.array(F.col("doc_id")))
        ).alias("id"),
        "text",
    )


@register(
    "q40_dedup_exact",
    oracle="""
        WITH corpus AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id % 3 = 0
        )
        SELECT CAST(MIN(id) AS BIGINT) AS keep_id, COUNT(*) AS n_copies
        FROM corpus
        GROUP BY text
        ORDER BY keep_id
    """,
    doc="exact dedup: hash-groupBy on content, deterministic min-id survivor (one-scan exploded corpus).",
    bench=True,
    tags=("dedup", "exact"),
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    corpus = _dup_corpus_one_scan(t["documents"])
    return (
        corpus.groupBy("text")
        .agg(F.min("id").cast("long").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


@register(
    "q98_dedup_exact_hashed",
    oracle="""
        WITH corpus AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id % 3 = 0
        )
        SELECT CAST(MIN(id) AS BIGINT) AS id, COUNT(*) AS n_copies
        FROM corpus
        GROUP BY text
        ORDER BY id
    """,
    doc=(
        "exact dedup via 128-bit content hash (q40's 100 TB form): the shuffle "
        "key is 16 bytes instead of the payload-sized text; results identical."
    ),
    tags=("dedup", "exact"),
)
def q98_dedup_exact_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    corpus = _dup_corpus_one_scan(t["documents"])
    # carry_keys=False: the gate only needs (survivor id, copy count), so
    # the shuffle moves 32 bytes/row instead of the document text
    out = exact_dedup_hashed(corpus, ["text"], "id", carry_keys=False)
    return out.select(F.col("id").cast("long").alias("id"), "n_copies").orderBy("id")


# Exact character-5-gram Jaccard ≥ 0.5 over the planted-dup corpus — the
# independent DuckDB ground truth shared by q41 (shingle-self-join path) and
# q131 (the MinHash verify-stage path run in its recall-1 configuration).
_EXACT_JACCARD_PAIRS_SQL = f"""
        WITH corpus AS ({_DUP_CORPUS_SQL}),
        docs AS (SELECT id, text FROM corpus WHERE length(text) >= 5),
        sh AS (
            SELECT DISTINCT id, substring(text, CAST(i AS INT), 5) AS s
            FROM docs, unnest(generate_series(1, length(text) - 4)) AS t(i)
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes na ON na.id = id_a
        JOIN sizes nb ON nb.id = id_b
        WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
        ORDER BY id_a, id_b
    """


@register(
    "q41_dedup_ngram_jaccard",
    oracle=_EXACT_JACCARD_PAIRS_SQL,
    doc="exact n-gram Jaccard near-dup pairs (the verify stage of MinHash dedup).",
    tags=("dedup", "jaccard"),
)
def q41_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return jaccard_pairs(corpus, "id", "text", k=5, threshold=0.5).orderBy("id_a", "id_b")


@register(
    "q42_dedup_minhash_lsh",
    oracle=None,  # LSH banding isn't reasonably SQL-expressible; recall vs
    # the exact-Jaccard oracle is asserted in tests/test_dedup.py.
    doc="MinHash+LSH near-dup pairs, Jaccard-verified (scale path). Runs on"
    " the FULL documents table + perturbed copies — corpus grows with sf,"
    " unlike the capped exact-pairwise q41. Config: bands=8 (r=8), the"
    " measured band-width frontier — see the A/B in the function body.",
    bench=True,
    tags=("dedup", "minhash", "lsh"),
)
def q42_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    base = t["documents"].select(F.col("doc_id").alias("id"), "text")
    near = (
        t["documents"]
        .filter(F.col("doc_id") % 2 == 0)
        .select((F.col("doc_id") + 100000).alias("id"), F.concat(F.col("text"), F.lit(" tail marker")).alias("text"))
    )
    corpus = base.unionAll(near)
    # No trailing orderBy: the driver's check for this query is rows-only
    # (order-irrelevant), and globally sorting a pair-extraction output is
    # exactly the stage a 100 TB plan must not have — it cost a measured
    # ~0.5 s of the sf0.1 wall for nothing. The oracle-backed twin (q131)
    # keeps its ORDER BY for the hash gate's determinism convention.
    #
    # bands=8: the round-2 "fewer, wider bands" idea, finally A/B'd at
    # sf0.1 (min of 3 warm, same session): bands=16 → 2.32 s / 3077 pairs
    # (recall 1.0); bands=8 → 1.92 s / 2971 pairs (recall 0.966, above the
    # 0.90 test pin); bands=4 → 1.92 s / 1403 pairs (recall 0.46,
    # rejected). Wider bands shrink the banding explode AND the candidate
    # stream (r=8 collisions are rarer), buying −17% wall for −3.4%
    # recall at exactly J=threshold pairs — the library DEFAULT stays
    # bands=16 (recall-first); this bench query documents the frontier
    # config. Banding recall at J = threshold is analytic:
    # 1 − (1 − J^r)^b with r = num_perm / bands.
    #
    # est_filter: the r10 bench override (est_filter=False, locally-tuned
    # after the A/B: est-on 3.33 s vs est-off 2.48 s at identical 2,971
    # pairs on this high-baseline-similarity corpus) is GONE — the r11
    # library default is "auto": a deterministic 1-in-16 bucket-sample
    # probe measures the screen's own pass rate and engages it only when
    # it would discard ≥ half the candidates. On this corpus the sampled
    # pass rate is ~0.97, so auto lands on the same est-off plan the
    # override hardcoded (output-identical, parity-pinned); on a
    # low-similarity corpus (candidates ≫ survivors, the adversarial
    # 100 TB shape) the probe re-engages the screen (test-pinned on a
    # synthetic corpus).
    with pin_scope():
        return minhash_dedup_pairs(corpus, "id", "text", threshold=0.5, bands=8).localCheckpoint(
            eager=True
        )


@register(
    "q43_dedup_simhash",
    oracle=None,  # bit-level simhash is impractical in ANSI SQL; semantics
    # are pinned by tests/test_dedup.py (identical/near/far texts).
    doc="SimHash near-dup pairs (hamming ≤ 3 via 16-bit band blocking).",
    tags=("dedup", "simhash"),
)
def q43_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return simhash_near_pairs(corpus, "id", "text", max_hamming=3).orderBy("id_a", "id_b")


@register(
    "q131_minhash_jaccard_verified",
    oracle=_EXACT_JACCARD_PAIRS_SQL,
    doc=(
        "q42's full MinHash→LSH→estimate-filter→exact-verify pipeline run in "
        "its recall-1 configuration (bands = num_perm, i.e. one-row bands: a "
        "pair is a candidate iff ANY of the 64 minhash positions agree — "
        "miss probability (1−J)⁶⁴ ≤ 5·10⁻²⁰ at J ≥ 0.5, and deterministic "
        "given the fixed seed). The output is therefore exactly the "
        "Jaccard ≥ 0.5 pair set, hash-matched against the independent DuckDB "
        "shingle-self-join oracle. In recall-1 mode the signature-estimate "
        "pre-filter is BYPASSED (bands >= num_perm branch in "
        "minhash_dedup_pairs) so the banding bound holds exactly — no "
        "binomial-tail term from the 3σ cutoff. This is the oracle-backed "
        "twin the approximate q42 can't have: it pins every deterministic "
        "stage (shingling, signatures, banding machinery, "
        "collect_set/array_intersect exact verify) end to end."
    ),
    tags=("dedup", "minhash", "lsh", "verify"),
)
def q131_minhash_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    # max_bucket disabled: the recall-1 guarantee requires that NO bucket is
    # dropped — at r=1 a bucket is every doc agreeing on one minhash
    # position, and the default 500-cap could silently discard true pairs
    # on corpora with >500-doc position collisions (boilerplate). Fine
    # here: the corpus is bounded to 300 docs, so the r=1 pair fan-out is
    # bounded too.
    with pin_scope():
        out = minhash_dedup_pairs(
            corpus, "id", "text", k=5, num_perm=64, bands=64, threshold=0.5,
            max_bucket=1_000_000_000,
        ).localCheckpoint(eager=True)
    return out.orderBy("id_a", "id_b")


def simhash_pairs_oracle_sql(head_ctes: str, id_col: str, bits: int, max_hamming: int) -> str:
    """Shared DuckDB skeleton for portable-hash SimHash pair oracles.

    ``head_ctes`` is the query-specific WITH prefix and must end with a
    CTE ``hashed({id_col}, h)`` — one row per (document, shingle-hash).
    The skeleton appends the ±1 bit sums, the non-negative fold, and the
    all-pairs xor+bit_count hamming select. Banding is omitted on the
    oracle side because SimHash banding has recall exactly 1 (pigeonhole)
    — all-pairs hamming ≤ d is the same answer. One generator keeps the
    q132 (token SimHash) and q146 (media byte-SimHash) oracles in sync.
    """
    bitsums = ",\n                   ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(bits)
    )
    fold = " + ".join(f"(CASE WHEN b{i} >= 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
        WITH {head_ctes},
        bitsums AS (SELECT {id_col}, {bitsums}
                    FROM hashed GROUP BY {id_col}),
        fp AS (SELECT {id_col}, CAST({fold} AS BIGINT) AS simhash FROM bitsums)
        SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM fp a JOIN fp b ON a.{id_col} < b.{id_col}
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        ORDER BY id_a, id_b
    """


def _simhash_portable_oracle(bits: int, max_hamming: int) -> str:
    """DuckDB twin of ``simhash(portable_hash=True)`` + all-pairs hamming:
    the polynomial token hash (list_reduce) feeding the shared skeleton."""
    head = f"""corpus AS ({_DUP_CORPUS_SQL}),
        toks AS (
            SELECT id, tok FROM (
                SELECT id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
                FROM corpus
            ) WHERE tok <> ''
        ),
        hashed AS (
            SELECT id, list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(length(tok)),
                                   i -> CAST(ascii(substring(tok, i + 1, 1)) AS BIGINT))),
                (acc, x) -> (acc * 31 + x) % 2147483647
            ) AS h
            FROM toks
        )"""
    return simhash_pairs_oracle_sql(head, "id", bits, max_hamming)


@register(
    "q132_simhash_verified",
    oracle=_simhash_portable_oracle(bits=32, max_hamming=3),
    doc=(
        "q43's SimHash banding + hamming-verify machinery made fully "
        "oracle-checkable: the token hash switches from xxhash64 to a "
        "cross-engine polynomial hash ((acc·31 + ascii) mod 2³¹−1) that "
        "DuckDB reproduces with list_reduce, so the 32-bit fingerprints — "
        "and therefore the exact hamming ≤ 3 pair set — hash-match an "
        "independent SQL oracle. Banding recall is exactly 1 by pigeonhole "
        "(4 bands, ≤ 3 flipped bits), so the banded Spark plan and the "
        "all-pairs oracle agree by construction, not by luck."
    ),
    tags=("dedup", "simhash", "verify"),
)
def q132_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    out = simhash_near_pairs(corpus, "id", "text", max_hamming=3, bits=32, portable_hash=True)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming")).orderBy(
        "id_a", "id_b"
    )


# --------------------------------------------------------------------------
# pair graph → clusters → keep-one dedup
# --------------------------------------------------------------------------
def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every neighbor v > u re-links to u's minimum.

    Input/output: directed edge set (src, dst), self-loop-free. Operating
    on the symmetrized neighborhood, each node u computes
    m = min(N(u) ∪ {u}) and emits (v, m) for its larger neighbors — one
    shuffle for the groupBy, one broadcast-or-shuffle join back.
    """
    sym = edges.unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = sym.groupBy("src").agg(F.min("dst").alias("_nm")).select(
        "src", F.least("_nm", "src").alias("m")
    )
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: each node and its smaller neighbors re-link to
    the minimum of that down-neighborhood. Canonicalizes to src > dst first."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    m = e.groupBy("src").agg(F.min("dst").alias("m"))
    relinked = e.join(m, "src").select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    rooted = m.select(F.col("src"), F.col("m").alias("dst"))
    return relinked.unionAll(rooted).filter(F.col("src") != F.col("dst")).distinct()


def connected_components(ids: DataFrame, pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(id, cluster): cluster = min id reachable through the pair graph.

    Alternating large-star/small-star rounds (the map-reduce CC algorithm
    of Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): each round is two groupBy+join passes, and the edge set
    contracts toward a star per component in O(log d) rounds — unlike
    min-label propagation's O(d), so chain-shaped components (diameter ≫
    20) converge in single-digit rounds. Near-dup graphs are usually
    shallow; the log bound removes the tail risk at 100 TB.

    Convergence is detected by an order-insensitive fingerprint of the
    edge set (count + hash-xor) as a cheap SHORT-CIRCUIT — a differing
    fingerprint proves the set changed — and then CONFIRMED by an exact
    set-difference test (``exceptAll`` on the two checkpointed, distinct
    edge sets; same O(|E|) shuffle cost as the fingerprint), so a 2⁻⁶⁴
    hash collision between different successive edge sets cannot
    terminate the loop early with wrong clusters. At the fixed point
    every edge is (node → component-min). ``ids`` must have column
    ``id``; ``pairs`` columns ``id_a``/``id_b``.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=False)
    )

    def fingerprint(e: DataFrame):
        # bit_xor fold: order-insensitive and overflow-free (ANSI mode);
        # the edge set is distinct, so no pair can cancel another.
        row = e.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("src", "dst")).alias("h")
        ).collect()[0]
        return row["n"], row["h"]

    prev_edges = edges
    prev = fingerprint(edges)
    for _ in range(max_iter):
        # localCheckpoint each round: the plan would otherwise double per
        # iteration (and recompute every prior round per action)
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        cur = fingerprint(edges)
        # Both frames are distinct sets, so equal counts + empty one-sided
        # difference ⇒ set equality. Only paid on fingerprint match (at
        # most twice per run: a collision round and the true fixed point).
        if cur == prev and edges.exceptAll(prev_edges).isEmpty():
            break
        prev, prev_edges = cur, edges
    else:
        # Silent non-convergence would hand back wrong clusters and
        # near_dedup would keep bogus extra survivors — fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "edge set still changing; this is O(log diameter), so max_iter="
            f"{max_iter} covers graphs of diameter ~2^{max_iter}; the input "
            "is likely adversarial or max_iter was lowered"
        )
    # Fixed point: edges = (member → component min). Singletons label themselves.
    return ids.join(edges, ids.id == edges.src, "left").select(
        "id", F.coalesce("dst", "id").alias("cluster")
    )


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.5,
    use_lsh: bool = True,
) -> DataFrame:
    """End-to-end near-duplicate removal: keep one doc per near-dup cluster.

    Pairs from MinHash+LSH (scale path) or exact Jaccard (oracle path),
    clustered by connected components, survivor = min id per cluster.
    Returns the deduplicated rows of ``df``.
    """
    ids = df.select(F.col(id_col).alias("id"))
    pairs = (
        minhash_dedup_pairs(df, id_col, text_col, k=k, threshold=threshold)
        if use_lsh
        else jaccard_pairs(df, id_col, text_col, k=k, threshold=threshold)
    )
    comp = connected_components(ids, pairs)
    keep = comp.filter(F.col("id") == F.col("cluster")).select("id")
    return df.join(keep, df[id_col] == keep.id, "left_semi")


@register(
    "q62_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE corpus AS ({_DUP_CORPUS_SQL}),
        docs AS (SELECT id, text FROM corpus WHERE length(text) >= 5),
        sh AS (
            SELECT DISTINCT id, substring(text, CAST(i AS INT), 5) AS s
            FROM docs, unnest(generate_series(1, length(text) - 4)) AS t(i)
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT id_a, id_b FROM inter
            JOIN sizes na ON na.id = id_a
            JOIN sizes nb ON nb.id = id_b
            WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
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
        SELECT cluster AS keep_id, COUNT(*) AS cluster_size
        FROM labels GROUP BY cluster ORDER BY keep_id
    """,
    doc="near-dup connected components: exact-Jaccard pair graph → min-label "
    "clusters → (survivor, cluster size). Distributed label propagation vs "
    "a DuckDB recursive-CTE transitive closure.",
    tags=("dedup", "clustering"),
)
def q62_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    pairs = jaccard_pairs(corpus, "id", "text", k=5, threshold=0.5)
    comp = connected_components(corpus.select("id"), pairs)
    return (
        comp.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .select(F.col("cluster").alias("keep_id"), "cluster_size")
        .orderBy("keep_id")
    )


def soft_dedup_weights(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """(id, cluster, cluster_size, weight): keep EVERY document but weight
    each near-duplicate cluster member 1/cluster_size — soft dedup, the
    published alternative to keep-one (drop-based dedup discards
    paraphrase diversity a cluster may carry; down-weighting preserves
    the cluster's total loss contribution at exactly one document's
    worth). Feed ``weight`` into loss scaling or
    :func:`~ai_batch_processing_spark.operators.curation.weighted_sample_k_per_group`.

    Same machinery as :func:`near_dedup`: large-star/small-star
    components, then one cluster-sized aggregate joined back — the only
    addition over keep-one is that nothing is dropped.
    """
    comp = connected_components(ids.selectExpr(f"{id_col} as id"), pairs)
    sizes = comp.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "cluster")
        .select(
            "id",
            "cluster",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
        )
    )


@register(
    "q193_soft_dedup_weights",
    oracle=f"""
        WITH RECURSIVE corpus AS ({_DUP_CORPUS_SQL}),
        docs AS (SELECT id, text FROM corpus WHERE length(text) >= 5),
        sh AS (
            SELECT DISTINCT id, substring(text, CAST(i AS INT), 5) AS s
            FROM docs, unnest(generate_series(1, length(text) - 4)) AS t(i)
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT id_a, id_b FROM inter
            JOIN sizes na ON na.id = id_a
            JOIN sizes nb ON nb.id = id_b
            WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
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
        labels AS (SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src),
        csize AS (SELECT cluster, COUNT(*) AS cluster_size FROM labels GROUP BY cluster)
        SELECT l.id, l.cluster,
               CAST(c.cluster_size AS BIGINT) AS cluster_size,
               ROUND(1.0 / c.cluster_size, 6) AS weight
        FROM labels l JOIN csize c USING (cluster)
        ORDER BY l.id
    """,
    doc=(
        "soft dedup: every near-duplicate cluster member kept at weight "
        "1/cluster_size — the down-weighting alternative to keep-one "
        "(cluster's total contribution = one document's worth, paraphrase "
        "diversity preserved). q62's component machinery + one "
        "cluster-sized aggregate; nothing dropped."
    ),
    tags=("dedup", "clustering", "mixture"),
)
def q193_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    pairs = jaccard_pairs(corpus, "id", "text", k=5, threshold=0.5)
    return soft_dedup_weights(corpus.select("id"), pairs).orderBy("id")


# --------------------------------------------------------------------------
# Candidate-stage eval: precision/recall of production banding vs exact truth
# --------------------------------------------------------------------------
def portable_shingle_stream(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """(id, h): SQL-portable polynomial shingle hash (dups kept).

    The cross-engine twin of :func:`shingle_hash_stream` — base-31
    polynomial over the k ASCII codes (max value 255·Σ31^j < 2³¹ at k=5,
    so no modulus is needed and every engine computes the identical
    integer). Production keeps xxhash64 (better diffusion, 64-bit space);
    this form exists so banding DECISIONS can be reproduced in a SQL
    oracle (the `_hash_key` xxhash64/portable pattern, q170/q171).
    """
    pos = _exploded_positions(df, id_col, text_col, k)
    e = "cast(ascii(substring(_t, pos, 1)) as bigint)"
    for j in range(1, k):
        e = f"({e} * 31 + ascii(substring(_t, pos + {j}, 1)))"
    return pos.select("id", F.expr(e).alias("h"))


def minhash_candidates_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_perm: int = 64,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """LSH candidate pairs with every decision SQL-reproducible.

    Same pipeline as ``minhash_dedup_pairs`` up to the candidate stage —
    shingle stream → num_perm min-permutations → banded buckets →
    distinct pairs — but on the portable shingle hash, and banding by
    the signature SLICE ITSELF (array-equality join key) instead of
    xxhash64-of-slice: identical collisions, zero hash dependence. The
    slice key is r longs instead of one — fine for an eval corpus; the
    production path keeps the hashed band key.
    """
    if bands < 1 or bands > num_perm or num_perm % bands != 0:
        raise ValueError(
            f"bands must divide num_perm (got bands={bands}, num_perm={num_perm}): "
            "out-of-range band slices would be empty arrays shared by EVERY "
            "document, degenerating the candidate join to the full cross product"
        )
    sig = _signatures_from_stream(
        portable_shingle_stream(df, id_col, text_col, k), num_perm, seed
    )
    r = max(1, num_perm // bands)
    banded = sig.select(
        F.col("id"),
        F.posexplode(
            F.expr(f"transform(sequence(0, {bands - 1}), j -> slice(sig, j * {r} + 1, {r}))")
        ).alias("band", "key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _candidate_eval_oracle_sql(
    corpus_sql: str, k: int, num_perm: int, bands: int, seed: int, threshold: float
) -> str:
    """Generated DuckDB twin of the whole candidate-stage eval: the same
    seeded permutation coefficients inlined as literals (the q173
    integer-codebook pattern), banding by slice equality, truth by the
    exact shingle-self-join Jaccard."""
    rng = random.Random(seed)
    coeffs = [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_perm)
    ]
    poly = "CAST(ascii(substring(text, CAST(t.i AS INT), 1)) AS BIGINT)"
    for j in range(1, k):
        poly = f"({poly} * 31 + ascii(substring(text, CAST(t.i + {j} AS INT), 1)))"
    mins = ",\n                   ".join(
        f"MIN(({a} * h + {b}) % {_MERSENNE31}) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    r = max(1, num_perm // bands)
    band_rows = "\n            UNION ALL ".join(
        "SELECT id, {j} AS band, [{ms}] AS key FROM sigs".format(
            j=j, ms=", ".join(f"m{j * r + i}" for i in range(r))
        )
        for j in range(bands)
    )
    return f"""
        WITH corpus AS ({corpus_sql}),
        docs AS (SELECT id, text FROM corpus WHERE length(text) >= {k}),
        shh AS (
            SELECT id, {poly} AS h
            FROM docs, unnest(generate_series(1, length(text) - {k - 1})) AS t(i)
        ),
        sigs AS (SELECT id, {mins}
                 FROM shh GROUP BY id),
        banded AS (
            {band_rows}
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.id < b.id
        ),
        sh AS (
            SELECT DISTINCT id, substring(text, CAST(i AS INT), {k}) AS s
            FROM docs, unnest(generate_series(1, length(text) - {k - 1})) AS t(i)
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes na ON na.id = i.id_a
            JOIN sizes nb ON nb.id = i.id_b
            WHERE i.i * 1.0 / (na.n + nb.n - i.i) >= {threshold}
        ),
        stats AS (
            SELECT (SELECT COUNT(*) FROM cand) AS candidates,
                   (SELECT COUNT(*) FROM truth) AS truth_pairs,
                   (SELECT COUNT(*) FROM cand c JOIN truth t
                    ON c.id_a = t.id_a AND c.id_b = t.id_b) AS true_positives
        )
        SELECT CAST(candidates AS BIGINT) AS candidates,
               CAST(truth_pairs AS BIGINT) AS truth_pairs,
               CAST(true_positives AS BIGINT) AS true_positives,
               ROUND(true_positives * 1.0 / candidates, 6) AS precision,
               ROUND(true_positives * 1.0 / truth_pairs, 6) AS recall
        FROM stats
    """


@register(
    "q223_dedup_candidate_eval",
    oracle=_candidate_eval_oracle_sql(
        _DUP_CORPUS_SQL, k=5, num_perm=64, bands=8, seed=42, threshold=0.5
    ),
    doc=(
        "candidate-stage eval for the PRODUCTION MinHash banding (bands=8, "
        "the q42 configuration): precision and recall of the LSH candidate "
        "set against exact Jaccard >= 0.5 truth, as one summary row. The "
        "whole measurement — portable polynomial shingle hash, the 64 seeded "
        "permutations inlined as SQL literals, slice-equality banding, "
        "shingle-self-join truth — is reproduced in the DuckDB twin, so the "
        "banding recall number is itself hash-gated, not just test-asserted. "
        "Spark side is one lazy plan: full-outer pair join -> single "
        "aggregate row."
    ),
    tags=("dedup", "minhash", "eval", "verify"),
)
def q223_dedup_candidate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    cand = minhash_candidates_portable(
        corpus, "id", "text", k=5, num_perm=64, bands=8, seed=42
    ).withColumn("c", F.lit(1))
    truth = (
        jaccard_pairs(corpus, "id", "text", k=5, threshold=0.5)
        .select("id_a", "id_b")
        .withColumn("t", F.lit(1))
    )
    both = cand.join(truth, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.sum("c").cast("long").alias("candidates"),
        F.sum("t").cast("long").alias("truth_pairs"),
        F.sum(
            F.when(F.col("c").isNotNull() & F.col("t").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("true_positives"),
    ).select(
        "candidates",
        "truth_pairs",
        "true_positives",
        F.round(F.col("true_positives") / F.col("candidates"), 6).alias("precision"),
        F.round(F.col("true_positives") / F.col("truth_pairs"), 6).alias("recall"),
    )


# --------------------------------------------------------------------------
# Quality-aware cluster representatives (keep-best, not keep-first)
# --------------------------------------------------------------------------
def cluster_representatives(
    members: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """(cluster, keep_id, keep_score, cluster_size): the HIGHEST-QUALITY
    member of each near-dup cluster (ties → smallest id), not the
    smallest-id one.

    Real pipelines keep the best copy of a duplicated page (cleanest
    extraction, longest form), not an arbitrary survivor —
    ``connected_components``' min-label survivor is the determinism
    baseline; this is the quality-aware policy on top. ``members`` is the
    (id, cluster) component output; ``scores`` is (id, score). One
    cluster-keyed aggregate; ties break on (score desc, id asc) so the
    choice is total and engine-reproducible — pass an already-rounded
    score when the gate needs cross-engine agreement.
    """
    j = members.join(scores, members[id_col] == scores[id_col]).select(
        members[id_col].alias("_id"), "cluster", F.col(score_col).alias("_s")
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("_s"), F.asc("_id"))
    sized = j.withColumn("cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster")))
    return (
        sized.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "cluster",
            F.col("_id").alias("keep_id"),
            F.col("_s").alias("keep_score"),
            F.col("cluster_size").cast("long"),
        )
    )


@register(
    "q227_dedup_keep_best",
    oracle=f"""
        WITH RECURSIVE corpus AS ({_DUP_CORPUS_SQL}),
        docs AS (SELECT id, text FROM corpus WHERE length(text) >= 5),
        sh AS (
            SELECT DISTINCT id, substring(text, CAST(i AS INT), 5) AS s
            FROM docs, unnest(generate_series(1, length(text) - 4)) AS t(i)
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT id_a, id_b FROM inter
            JOIN sizes na ON na.id = id_a
            JOIN sizes nb ON nb.id = id_b
            WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
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
        labels AS (SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src),
        qual AS (
            SELECT id,
                   ROUND(CASE WHEN length(text) > 0
                              THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                   * 1.0 / length(text)
                              ELSE 0.0 END, 6) AS q
            FROM corpus
        )
        SELECT cluster, keep_id, keep_score, cluster_size FROM (
            SELECT l.cluster, l.id AS keep_id, q.q AS keep_score,
                   CAST(COUNT(*) OVER (PARTITION BY l.cluster) AS BIGINT) AS cluster_size,
                   ROW_NUMBER() OVER (
                       PARTITION BY l.cluster ORDER BY q.q DESC, l.id
                   ) AS rn
            FROM labels l JOIN qual q ON q.id = l.id
        ) WHERE rn = 1 ORDER BY cluster
    """,
    doc=(
        "quality-aware dedup survivor selection (keep-BEST, not keep-first): "
        "near-dup clusters from the exact-Jaccard pair graph, representative "
        "= argmax 6dp-rounded alpha-ratio (ties -> min id) — what real "
        "pipelines do with duplicated pages. Distributed label propagation + "
        "one cluster-keyed argmax vs the DuckDB recursive-CTE closure."
    ),
    tags=("dedup", "clustering", "quality"),
)
def q227_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    pairs = jaccard_pairs(corpus, "id", "text", k=5, threshold=0.5)
    comp = connected_components(corpus.select("id"), pairs)
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    scores = corpus.select(
        "id",
        F.round(
            F.when(F.length("text") > 0, alpha * 1.0 / F.length("text")).otherwise(0.0),
            6,
        ).alias("q"),
    )
    return cluster_representatives(comp, scores, id_col="id", score_col="q").orderBy(
        "cluster"
    )


# ---------------------------------------------------------------------------
# Asymmetric shingle containment (subset / quote-inclusion detection)
# ---------------------------------------------------------------------------
def containment_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, threshold: float = 0.8
) -> DataFrame:
    """Directed exact containment |S(a)∩S(b)| / |S(a)| ≥ threshold.

    The asymmetric twin of :func:`jaccard_pairs` (Broder's containment):
    a short document quoted inside a long one has LOW Jaccard (the union
    is dominated by the long side) but containment ≈ 1 in the short→long
    direction — resemblance-based dedup misses exactly these
    subset/quote/boilerplate-inclusion pairs, so curation pipelines run
    both. Same inverted-index plan as Jaccard (one shingle self-join —
    never corpus×corpus; at scale feed LSH candidates), but emitted in
    BOTH directions: (id_a, id_b, containment) means S(id_a) is
    containment-covered by S(id_b). Output deterministic; shingle sets
    are distinct char-k-grams.
    """
    sh = shingles(df, id_col, text_col, k)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.alias("na")
    cont = F.col("i") / F.col("na.n")
    return (
        inter.join(na, F.col("id_a") == F.col("na.id"))
        .filter(cont >= threshold)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )


_CONTAINMENT_SQL = f"""
        WITH corpus AS ({{corpus_sql}}),
        docs AS (SELECT id, text FROM corpus WHERE length(text) >= 5),
        sh AS (
            SELECT DISTINCT id, substring(text, CAST(i AS INT), 5) AS s
            FROM docs, unnest(generate_series(1, length(text) - 4)) AS t(i)
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.id <> b.id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE) / na.n, 6) AS containment
        FROM inter
        JOIN sizes na ON na.id = id_a
        WHERE CAST(i AS DOUBLE) / na.n >= 0.8
        ORDER BY id_a, id_b
    """


@register(
    "q234_shingle_containment",
    oracle=_CONTAINMENT_SQL.format(corpus_sql=_DUP_CORPUS_SQL),
    doc=(
        "directed shingle containment >= 0.8 over the planted-dup corpus: "
        "the asymmetric near-dup signal (quote / subset / boilerplate "
        "inclusion) that symmetric Jaccard structurally misses — same "
        "inverted-index join as q41, |A∩B| normalized by |A| alone, both "
        "directions emitted."
    ),
    tags=("dedup", "jaccard", "containment"),
)
def q234_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return containment_pairs(corpus, "id", "text", k=5, threshold=0.8).orderBy(
        "id_a", "id_b"
    )


def containment_dedup_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.9,
) -> DataFrame:
    """Documents that survive subset-pruning: drop every doc whose shingle
    set is ≥``threshold`` contained in a LONGER document (ties on length
    keep the smaller id). The dedup rule resemblance-based pipelines
    bolt on after Jaccard: a quote, excerpt, or boilerplate-wrapped copy
    is usually redundant given its container, but Jaccard never flags
    the pair. One containment pass + one length-keyed anti join; output
    (id, n_chars), the survivor set.

    Survivorship is NOT closed under containment: each doc is judged
    against its own containers only, so in a chain A⊆B⊆C both A and B
    drop even though A's container B was itself dropped — if A's direct
    containment in the surviving C is below ``threshold``, A's content
    may leave the kept set. This is the standard one-pass rule (cheap,
    deterministic, matches the SQL twin); a closure-preserving variant
    would iterate "dropped only if a SURVIVING container exists" to a
    fixed point, which is order-dependent and quadratic in chain depth.
    """
    pairs = containment_pairs(df, id_col, text_col, k=k, threshold=threshold)
    lens = df.select(
        F.col(id_col).alias("id"), F.length(F.col(text_col)).alias("n_chars")
    )
    la = lens.select(F.col("id").alias("id_a"), F.col("n_chars").alias("_na"))
    lb = lens.select(F.col("id").alias("id_b"), F.col("n_chars").alias("_nb"))
    # a is dropped if contained in a strictly longer b, or an equal-length
    # b with a smaller id (deterministic keep-one among mutual containers)
    dropped = (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .filter(
            (F.col("_nb") > F.col("_na"))
            | ((F.col("_nb") == F.col("_na")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias("id"))
        .distinct()
    )
    return lens.join(dropped, "id", "left_anti")


_CONTAINMENT_DEDUP_SQL = """
        WITH corpus AS ({corpus_sql}),
        docs AS (SELECT id, text FROM corpus WHERE length(text) >= 5),
        sh AS (
            SELECT DISTINCT id, substring(text, CAST(i AS INT), 5) AS s
            FROM docs, unnest(generate_series(1, length(text) - 4)) AS t(i)
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
        pairs AS (
            SELECT a.id AS id_a, b.id AS id_b,
                   COUNT(*) * 1.0 / MIN(na.n) AS cont
            FROM sh a
            JOIN sh b ON a.s = b.s AND a.id <> b.id
            JOIN sizes na ON na.id = a.id
            GROUP BY 1, 2
        ),
        lens AS (SELECT id, length(text) AS n_chars FROM corpus),
        dropped AS (
            SELECT DISTINCT p.id_a AS id
            FROM pairs p
            JOIN lens la ON la.id = p.id_a
            JOIN lens lb ON lb.id = p.id_b
            WHERE p.cont >= 0.9
              AND (lb.n_chars > la.n_chars
                   OR (lb.n_chars = la.n_chars AND p.id_b < p.id_a))
        )
        SELECT l.id, CAST(l.n_chars AS BIGINT) AS n_chars
        FROM lens l LEFT JOIN dropped d ON l.id = d.id
        WHERE d.id IS NULL
        ORDER BY l.id
    """


@register(
    "q241_containment_dedup_survivors",
    oracle=_CONTAINMENT_DEDUP_SQL.format(corpus_sql=_DUP_CORPUS_SQL),
    doc=(
        "subset-pruning dedup survivors on the planted-dup corpus: drop "
        "every document >= 0.9 shingle-contained in a longer one (equal "
        "lengths keep the smaller id) — the keep-the-container rule that "
        "removes quotes/excerpts resemblance dedup (q41/q62) leaves "
        "behind. One containment pass + one length-keyed anti join."
    ),
    tags=("dedup", "containment", "curation"),
)
def q241_containment_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return containment_dedup_survivors(corpus, "id", "text", k=5, threshold=0.9).orderBy(
        "id"
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (Hernández & Stolfo's merge/purge) — the
# third blocking strategy next to LSH buckets and containment inverted
# index: sort once on a cheap key, compare only a sliding window
# ---------------------------------------------------------------------------
def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 4,
    key_len: int = 12,
    max_dist_ratio: float = 0.2,
) -> DataFrame:
    """Near-duplicate pairs from sorted-neighborhood blocking:
    (id_a, id_b, dist) with id_a < id_b ordering within each pair not
    guaranteed — pairs are emitted in sort order (a before b).

    Rows sort by (prefix key, id); only rows within ``window`` positions
    compare, by edit distance, keeping pairs with
    dist · round(1/max_dist_ratio) ≤ min(len_a, len_b) (an integer
    comparison — no float threshold). The classic record-linkage
    blocking when a sort key clusters duplicates (exact copies and
    shared-prefix variants land adjacent); complements LSH (q42), which
    needs no sort but pays hashing, and catches prefix-preserving edits
    cheaply.

    Scale shape: the global row index comes from ``with_row_index`` —
    a RANGE-partitioned distributed sort with per-partition offsets,
    never a single-reducer window. The band |rn_b − rn_a| ≤ window is
    turned into an EQUI-join by exploding each b row into its ``window``
    predecessor positions — a band-predicate join would plan as a
    cartesian product with the edit distance inside the join condition
    (measured: 159 s on 300 docs vs 6 s for this form), while the
    explode gives a hash join on the exact row index and the O(len²)
    edit distance runs only on the window·n candidates.
    """
    from ai_batch_processing_spark.operators.template import with_row_index

    inv = round(1.0 / max_dist_ratio)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        F.substring(F.col(text_col), 1, key_len).alias("k"),
    )
    idx = with_row_index(base, order_by=["k", "id"], col="rn")
    a = idx.select(
        F.col("id").alias("id_a"), F.col("t").alias("ta"), F.col("rn").alias("ra")
    )
    b = idx.select(
        F.col("id").alias("id_b"),
        F.col("t").alias("tb"),
        F.explode(
            F.array(*[F.col("rn") - F.lit(k) for k in range(1, window + 1)])
        ).alias("ra"),
    ).filter(F.col("ra") >= 0)
    cand = a.join(b, "ra")
    dist = F.levenshtein(F.col("ta"), F.col("tb"))
    return (
        cand.withColumn("dist", dist)
        .filter(
            F.col("dist") * F.lit(int(inv))
            <= F.least(F.length("ta"), F.length("tb"))
        )
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


_SNM_SQL = """
        WITH corpus AS ({corpus_sql}),
        idx AS (
            SELECT id, text AS t,
                   ROW_NUMBER() OVER (ORDER BY substring(text, 1, 12), id) AS rn
            FROM corpus
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
        FROM idx a
        JOIN idx b ON b.rn > a.rn AND b.rn <= a.rn + 4
        WHERE levenshtein(a.t, b.t) * 5 <= LEAST(length(a.t), length(b.t))
        ORDER BY id_a, id_b
"""


@register(
    "q251_sorted_neighborhood_dedup",
    oracle=_SNM_SQL.format(corpus_sql=_DUP_CORPUS_SQL),
    doc=(
        "sorted-neighborhood near-dup blocking (Hernandez & Stolfo "
        "merge/purge) on the planted-dup corpus: one distributed sort on "
        "a 12-char prefix key, a window-4 band join on the range-"
        "partitioned row index, edit distance only on the window*n "
        "candidates, integer ratio gate (dist*5 <= min length). The "
        "third blocking family next to LSH buckets (q42) and the "
        "containment inverted index (q234)."
    ),
    tags=("dedup", "blocking", "levenshtein"),
)
def q251_sorted_neighborhood_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return sorted_neighborhood_pairs(
        corpus, "id", "text", window=4, key_len=12, max_dist_ratio=0.2
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# algorithm): positional fingerprint selection with a guarantee LSH lacks
# (any shared substring >= w+k-1 chars yields a shared fingerprint)
# ---------------------------------------------------------------------------
def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(id, pos, h): the winnowing fingerprint set — in every window of
    ``w`` consecutive char-``k``-gram hashes, the minimum hash is
    selected (ties: rightmost position, the robust-winnowing rule).

    Unlike MinHash (a per-document global sketch), winnowing picks
    POSITIONAL fingerprints with a detection guarantee: two documents
    sharing any substring of length ≥ w+k−1 share at least one selected
    fingerprint — which is why MOSS uses it for plagiarism and why it
    complements resemblance sketches for quote/excerpt detection.

    The gram hash is the md5 32-bit bucket (cross-engine); selection is
    expressed relationally: each position explodes into the ≤w windows
    it belongs to, one (id, window) argmin picks min(h, −pos) — exactly
    the rightmost-minimum rule — and DISTINCT collapses repeated picks.
    Scale: w·n exploded rows, two map-combinable aggregates, no Python.
    """
    grams = _exploded_positions(df, id_col, text_col, k).select(
        "id",
        "pos",
        F.conv(F.substring(F.md5(F.expr(f"substring(_t, pos, {k})")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    n_grams = grams.groupBy("id").agg(F.max("pos").alias("np"))
    lb = F.greatest(F.lit(1), F.col("pos") - (w - 1))
    ub = F.least(F.col("pos"), F.col("np") - (w - 1))
    wins = (
        grams.join(n_grams, "id")
        .select(
            "id",
            "pos",
            "h",
            # guard ub >= lb: F.sequence(5, 3) DESCENDS in Spark, which
            # would fabricate windows for docs shorter than k+w-1 chars
            F.explode(
                F.when(ub >= lb, F.sequence(lb, ub)).otherwise(
                    F.array().cast("array<int>")
                )
            ).alias("s"),
        )
    )
    picked = (
        wins.groupBy("id", "s")
        .agg(F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).alias("m"))
        .select("id", (-F.col("m.np")).alias("pos"), F.col("m.h").alias("h"))
        .distinct()
    )
    return picked


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 5,
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing ≥ ``min_shared``
    winnowing fingerprint VALUES (id_a < id_b). The MOSS candidate
    generator: the fingerprint inverted index is corpus-linear, the join
    touches only hash-colliding positions, and the substring guarantee
    makes misses impossible for long shared spans."""
    fp = winnowing_fingerprints(df, id_col, text_col, k, w).select(
        "id", "h"
    ).distinct()
    a = fp.select(F.col("id").alias("id_a"), "h")
    b = fp.select(F.col("id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


_WINNOW_SQL = """
        WITH corpus AS ({corpus_sql}),
        grams AS (
            SELECT id, CAST(i AS INT) AS pos,
                   CAST(('0x' || substr(md5(substring(text, CAST(i AS INT), {k})), 1, 8))
                        AS BIGINT) AS h
            FROM corpus, unnest(generate_series(1, length(text) - {km1})) AS t(i)
            WHERE length(text) >= {k}
        ),
        np AS (SELECT id, MAX(pos) AS np FROM grams GROUP BY id),
        wins AS (
            SELECT g.id, g.pos, g.h, CAST(s.s AS INT) AS s
            FROM grams g
            JOIN np ON np.id = g.id,
            unnest(generate_series(GREATEST(1, g.pos - {wm1}),
                                   LEAST(g.pos, np.np - {wm1}))) AS s(s)
            WHERE s.s >= 1
        ),
        picked AS (
            SELECT id, pos, h FROM (
                SELECT id, s, pos, h,
                       ROW_NUMBER() OVER (
                           PARTITION BY id, s ORDER BY h, pos DESC
                       ) AS rn
                FROM wins
            ) q WHERE rn = 1
        ),
        fp AS (SELECT DISTINCT id, h FROM picked)
        SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fp a JOIN fp b ON a.h = b.h AND a.id < b.id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_shared}
        ORDER BY id_a, id_b
"""


@register(
    "q255_winnowing_overlap",
    oracle=_WINNOW_SQL.format(
        corpus_sql=_DUP_CORPUS_SQL, k=16, km1=15, wm1=3, min_shared=10
    ),
    doc=(
        "winnowing fingerprint overlap (Schleimer et al. 2003, the MOSS "
        "algorithm) on the planted-dup corpus: min-hash-per-window "
        "POSITIONAL fingerprints (rightmost-tie robust rule) with the "
        "guarantee any shared substring >= w+k-1 chars yields a shared "
        "fingerprint — the quote/excerpt detector resemblance sketches "
        "can't guarantee (here: 100/100 planted pairs). Relational "
        "selection: w-way position explode, one argmin per (doc, "
        "window), inverted-index join on values."
    ),
    tags=("dedup", "fingerprint", "winnowing"),
)
def q255_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k=16 grams: the synthetic corpus draws from a ~30-word vocabulary,
    # so short grams collide across every doc — 16 chars (~3 words) makes
    # fingerprints selective (all 100 planted pairs found, 7 extras)
    corpus = _dup_corpus(spark, sf_dir)
    return winnowing_overlap_pairs(
        corpus, "id", "text", k=16, w=4, min_shared=10
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Prefix-filtering similarity join (ppjoin-style blocking, token-set Jaccard)
# ---------------------------------------------------------------------------
def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    threshold_pct: int = 70,
) -> DataFrame:
    """(id_a, id_b, inter, uni, jaccard): all pairs with token-SET Jaccard
    ≥ threshold — found via PREFIX FILTERING (Chaudhuri et al. 2006 /
    ppjoin), the fifth blocking family next to MinHash-LSH bands, SimHash,
    sorted neighborhoods, and winnowing.

    The guarantee: order each document's distinct tokens by global rarity
    (document frequency asc, token asc). If J(A, B) ≥ t then A and B MUST
    share a token within their first |d| − ⌈t·|d|⌉ + 1 rarest tokens —
    so only the prefix tokens are indexed, and the candidate join fans
    out on RARE tokens by construction ('the' never becomes a join key).
    Candidates are then verified with exact set intersection counts; the
    threshold test is the integer cross-multiplication
    inter·100 ≥ pct·union (no float compare).

    Scale shape: distinct-token explode (corpus-linear), a vocab-sized df
    aggregate joined back, a PER-DOCUMENT rank window (bounded by doc
    length), the prefix self-join (inverted index on rare tokens), and a
    candidate-bounded verification join. No all-pairs stage anywhere.
    """
    from ai_batch_processing_spark.operators.text import tokens_expr

    tok = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens_expr(text_col)).alias("term"))
        .dropDuplicates(["id", "term"])
    )
    with pin_scope():
        tok = cache(tok)
        sizes = tok.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("n"))
        dfreq = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
        # BOUNDED window: partitioned per document, ≤ doc-token-count rows
        w = Window.partitionBy("id").orderBy("df", "term")
        ranked = (
            tok.join(dfreq, "term")
            .join(sizes, "id")
            .withColumn("rn", F.row_number().over(w))
            .filter(
                F.col("rn")
                <= F.col("n") - F.ceil(F.col("n") * threshold_pct / 100.0).cast("long") + 1
            )
            .select("id", "term")
        )
        a = ranked.alias("pa")
        b = ranked.alias("pb")
        cands = (
            a.join(b, (F.col("pa.term") == F.col("pb.term")) & (F.col("pa.id") < F.col("pb.id")))
            .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        ta = tok.select(F.col("id").alias("id_a"), "term")
        tb = tok.select(F.col("id").alias("_idb"), F.col("term").alias("_tb"))
        inter = (
            cands.join(ta, "id_a")
            .join(tb, (F.col("id_b") == F.col("_idb")) & (F.col("term") == F.col("_tb")), "left_semi")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        )
        na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
        nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
        uni = F.col("na") + F.col("nb") - F.col("inter")
        out = (
            inter.join(na, "id_a")
            .join(nb, "id_b")
            .filter(F.col("inter") * 100 >= F.lit(threshold_pct) * uni)
            .select(
                "id_a",
                "id_b",
                "inter",
                uni.cast("long").alias("uni"),
                F.round(F.col("inter") * 1.0 / uni, 6).alias("jaccard"),
            )
            .localCheckpoint(eager=True)
        )
        return out


@register(
    "q273_prefix_filter_jaccard",
    oracle=rf"""
        WITH corpus AS ({_DUP_CORPUS_SQL}),
        tok AS (
            SELECT DISTINCT id, t.tok AS term
            FROM corpus,
                 UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS t(tok)
        ),
        sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY id),
        dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY term),
        ranked AS (
            SELECT tok.id, tok.term
            FROM tok JOIN dfreq USING (term) JOIN sizes USING (id)
            QUALIFY ROW_NUMBER() OVER (PARTITION BY tok.id ORDER BY df, term)
                    <= n - CAST(CEIL(n * 80 / 100.0) AS BIGINT) + 1
        ),
        cands AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM ranked a JOIN ranked b ON a.term = b.term AND a.id < b.id
        ),
        inter AS (
            SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
            FROM cands c
            JOIN tok ta ON ta.id = c.id_a
            WHERE EXISTS (
                SELECT 1 FROM tok tb WHERE tb.id = c.id_b AND tb.term = ta.term
            )
            GROUP BY c.id_a, c.id_b
        )
        SELECT i.id_a, i.id_b, i.inter,
               na.n + nb.n - i.inter AS uni,
               ROUND(i.inter * 1.0 / (na.n + nb.n - i.inter), 6) AS jaccard
        FROM inter i
        JOIN sizes na ON na.id = i.id_a
        JOIN sizes nb ON nb.id = i.id_b
        WHERE i.inter * 100 >= 80 * (na.n + nb.n - i.inter)
        ORDER BY id_a, id_b
    """,
    doc=(
        "token-set Jaccard >= 0.8 self-join via prefix filtering "
        "(ppjoin): index only each doc's |d| - ceil(0.8|d|) + 1 RAREST "
        "tokens (global-df order) — the lossless candidate bound that "
        "never joins on stopwords; exact integer verification with the "
        "inter*100 >= 80*union cross-multiplication. Fifth blocking "
        "family, run over the planted-dup corpus."
    ),
    tags=("dedup", "jaccard", "blocking"),
)
def q273_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return prefix_filter_pairs(corpus, "id", "text", threshold_pct=80).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# Dedup savings report: what would exact dedup buy?
# ---------------------------------------------------------------------------
def dedup_savings(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(group_size, n_groups, rows_removable, chars_removable): the
    duplicate-group size histogram of exact dedup (md5 of the raw text)
    with, per size, how many rows and how much character mass keeping
    one representative per group would delete. The capacity-planning
    readout run BEFORE committing to a dedup pass over 100 TB — q40
    executes the dedup; this prices it.

    One hash aggregate (map-combinable, the q98 128-bit-key shape) to
    (key, size, chars), then a size-bounded rollup. Pure integers.
    """
    groups = docs.groupBy(F.md5(F.col(text_col)).alias("k")).agg(
        F.count(F.lit(1)).alias("sz"),
        F.sum(F.length(text_col)).alias("chars"),
        F.min(F.length(text_col)).alias("keep_chars"),
    )
    return (
        groups.groupBy(F.col("sz").alias("group_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.col("sz") - 1).cast("long").alias("rows_removable"),
            # keep ONE representative per group; identical texts, so any
            # representative has the same length — removable chars =
            # total minus one copy
            F.sum(F.col("chars") - F.col("keep_chars")).cast("long").alias(
                "chars_removable"
            ),
        )
        .orderBy("group_size")
    )


@register(
    "q303_dedup_savings",
    oracle="""
        WITH corpus AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id % 3 = 0
        ),
        groups AS (
            SELECT md5(text) AS k, COUNT(*) AS sz,
                   SUM(length(text)) AS chars, MIN(length(text)) AS keep_chars
            FROM corpus GROUP BY md5(text)
        )
        SELECT CAST(sz AS BIGINT) AS group_size,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(sz - 1) AS BIGINT) AS rows_removable,
               CAST(SUM(chars - keep_chars) AS BIGINT) AS chars_removable
        FROM groups
        GROUP BY sz
        ORDER BY group_size
    """,
    doc=(
        "dedup savings report: duplicate-group size histogram under "
        "exact (md5) dedup with removable row and character mass per "
        "size, over the q40 planted-dup corpus — prices the very dedup "
        "pass q40 executes, before anyone runs it over 100 TB. One "
        "map-combinable hash aggregate + a size-bounded rollup; "
        "pure integers."
    ),
    tags=("dedup", "stats", "quality"),
)
def q303_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # the q40 planted-dup corpus (one-scan exploded form), so the report
    # prices the SAME dedup pass the q40 gate executes
    return dedup_savings(_dup_corpus_one_scan(docs))


# --------------------------------------------------------------------------
# Cross-source duplicate-leakage matrix
# --------------------------------------------------------------------------
def cross_source_dup_matrix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """(source_a, source_b, n_pairs) with a <= b: how many exact-duplicate
    DOCUMENT PAIRS cross each source boundary (and sit inside each source,
    on the diagonal) — the leakage report that decides WHICH feed to cut
    when q303's savings report says dedup pays: duplicates inside one
    crawl are a re-fetch bug; duplicates ACROSS sources mean the feeds
    overlap and one is redundant.

    Scale shape: NO document self-join. Per duplicate group (128-bit text
    hash), count docs per source — group×source rows, each tiny — then
    the pair counts are pure arithmetic on those counts: c_a·c_b for
    a < b, C(c,2) on the diagonal, summed over groups. The only shuffle
    is the (hash, source) aggregate; the per-group source fan-out is
    bounded by the source count, never by group size.
    """
    counts = (
        docs.select(F.md5(F.col(text_col)).alias("h"), F.col(source_col).alias("src"))
        .groupBy("h", "src")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = counts.select("h", F.col("src").alias("source_a"), F.col("c").alias("ca"))
    b = counts.select("h", F.col("src").alias("source_b"), F.col("c").alias("cb"))
    pairs = (
        a.join(b, "h")
        .filter(F.col("source_a") <= F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.when(
                F.col("source_a") == F.col("source_b"),
                F.col("ca") * (F.col("ca") - 1) / 2,
            )
            .otherwise(F.col("ca") * F.col("cb"))
            .cast("long")
            .alias("np"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum("np").cast("long").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
        .orderBy("source_a", "source_b")
    )


@register(
    "q318_cross_source_dup_matrix",
    oracle="""
        WITH corpus AS (
            SELECT doc_id AS id, text, source FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS id, text, 'mirror' AS source
            FROM documents WHERE doc_id % 3 = 0
        ),
        counts AS (
            SELECT md5(text) AS h, source AS src, COUNT(*) AS c
            FROM corpus GROUP BY md5(text), source
        ),
        pairs AS (
            SELECT a.src AS source_a, b.src AS source_b,
                   CAST(CASE WHEN a.src = b.src THEN a.c * (a.c - 1) / 2
                             ELSE a.c * b.c END AS BIGINT) AS np
            FROM counts a JOIN counts b ON a.h = b.h AND a.src <= b.src
        )
        SELECT source_a, source_b, CAST(SUM(np) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY source_a, source_b
        HAVING SUM(np) > 0
        ORDER BY source_a, source_b
    """,
    doc=(
        "cross-source duplicate-leakage matrix on the planted-dup corpus "
        "(q40's corpus with the copies landing in a 'mirror' source): "
        "exact-dup pairs per source pair WITHOUT a document self-join — "
        "per-group source counts, then pure pair arithmetic c_a*c_b / "
        "C(c,2)."
    ),
    tags=("dedup", "quality", "report"),
)
def q318_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    corpus = docs.select("doc_id", "text", "source").unionByName(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text", F.lit("mirror").alias("source")
        )
    )
    return cross_source_dup_matrix(corpus)
