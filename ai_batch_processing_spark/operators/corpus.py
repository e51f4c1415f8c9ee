"""Corpus-level statistics for training-data pipelines: TF-IDF keyword
extraction, vocabulary/Zipf profiling, unigram-LM surprise scoring, and
incremental (batch-vs-corpus) dedup.

These complete the text-analysis family in ``text.py`` with the operators
that need CORPUS-WIDE state (document frequencies, the global vocabulary,
the unigram distribution, an existing corpus's fingerprint set) rather than
per-row expressions. The reference has no analog (its only string ops are
trim/split/replace, SURVEY.md §2.8); all four are BASELINE.json north-star
extensions.

Scale shape, per operator:

- **TF-IDF**: token explode → per-(doc, term) counts (one shuffle, partial
  agg map-side) → per-term document frequencies (vocab-sized, second
  shuffle) → join back. The df table is vocab-sized, typically ≪ corpus;
  the join strategy is left to AQE (broadcast when small, shuffle when a
  100 TB vocabulary isn't). Corpus cardinality N rides in as a broadcast
  1-row cross join, never a driver-side ``.count()``.
- **vocab/Zipf**: term counts (one shuffle), then a GLOBAL frequency rank.
  The rank uses the same two-phase range-partition + offsets scheme as
  ``template.with_row_index`` — no single-reducer window over the
  vocabulary — and feeds ``regr_slope`` partial aggregates.
- **unigram surprise**: per-term corpus probabilities joined back onto the
  token stream (AQE-sized join), then one per-doc aggregate. Three keyed
  shuffles total, all corpus-linear.
- **incremental dedup**: the daily-batch pattern — fingerprint the new
  batch, LEFT ANTI join against the existing corpus's fingerprints
  (column-pruned to the 32-char fp only), then intra-batch exact dedup.
  One anti-join shuffle on the fingerprint + one batch-sized groupBy.

Storage note: the operators here that read one compacted intermediate from
two or more branches keep it with ``jobs.cache`` (Catalyst does not reuse
the exchange across the branches — measured, not assumed), or with
``jobs.pin`` when rows must be computed once. One rule says who releases
it: a function that returns a lazy frame (the LIBRARY form:
``tfidf_top_terms``, ``unigram_surprise``, ``bm25_search``, ...) opens no
scope, so its caches go to the caller's ``jobs.pin_scope``; a function that
stores its result before it returns (every registered query over a library
form, and the operators that end in a stored result) runs in a scope of its
own and returns ``scope.store(result)``, so nothing it cached stays after
the call and the stored result is released by the caller's scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_batch_processing_spark.jobs import cache, pin, pin_scope
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables
from ai_batch_processing_spark.operators.template import with_row_index
from ai_batch_processing_spark.operators.text import (
    doc_bigram_counts,
    doc_term_counts,
    fingerprint_expr,
    term_counts,
    token_count_ws,
    tokens_expr,
)

# Shared token-stream CTE for the oracles (DuckDB spelling of tokens_expr).
_TOKS_SQL = r"""
    toks AS (
        SELECT doc_id, t.tok AS term
        FROM documents,
             UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS t(tok)
    )
"""


def token_stream(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, term): one row per token occurrence, lowercased whitespace tokens."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_expr(text_col)).alias("term")
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------
def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Top-``top_k`` TF-IDF terms per document: (doc_id, term, rnk, tfidf).

    tf = term count / doc token count; idf = ln((1+N)/(1+df)) + 1 (the
    smoothed sklearn form — never divides by zero, unseen-term safe).
    Ranking happens on the ROUNDED score with the term as tiebreak, so the
    selected rows are reproducible across engines and float-sum orders.
    """
    # ONE Arrow kernel pass (r11, guide §4.2 — the q164 template): the
    # JVM lower+split+explode+hash-agg pipeline is replaced by
    # doc_term_counts, which RE2-splits whole Arrow columns and counts
    # with a C++ hash aggregation per batch. A doc lives in one input
    # row, so the kernel's (doc, term, ct) rows are exact FINALS — no
    # corpus-sized shuffle exists in this query at all now — and the
    # per-doc total ``n`` rides on every row, so the separate
    # corpus-length scan AND its join are gone (plan: 2 joins, was 3).
    # Persisted: dfreq and the final score join both consume the kernel
    # output; without the persist each branch re-runs the corpus pass.
    tf = cache(doc_term_counts(docs, id_col, text_col).withColumnRenamed(id_col, "doc_id"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).cast("double").alias("nd"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("ct") / F.col("n"))
                * (F.log((F.lit(1.0) + F.col("nd")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    out = (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_k)
        .select("doc_id", "term", "rnk", "tfidf")
    )
    return out


@register(
    "q112_tfidf_top_terms",
    oracle=f"""
        WITH {_TOKS_SQL},
        tf AS (
            SELECT doc_id, term, COUNT(*) AS c
            FROM toks GROUP BY doc_id, term
        ),
        tot AS (SELECT doc_id, SUM(c) AS n FROM tf GROUP BY doc_id),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   ROUND((tf.c / tot.n) * (ln((1 + nd.nd) / (1 + dfreq.df)) + 1), 6) AS tfidf
            FROM tf
            JOIN tot USING (doc_id)
            JOIN dfreq USING (term)
            CROSS JOIN nd
        ),
        ranked AS (
            SELECT doc_id, term, tfidf,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, term
                   ) AS BIGINT) AS rnk
            FROM scored
        )
        SELECT doc_id, term, rnk, tfidf
        FROM ranked WHERE rnk <= 3
        ORDER BY doc_id, rnk
    """,
    doc="TF-IDF top-3 terms per doc: token explode + vocab-sized df join, "
    "rank on the rounded score for cross-engine determinism.",
    bench=True,  # the token-heavy headline: real per-row work at every sf
    tags=("text", "corpus", "tfidf"),
)
def q112_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # No trailing orderBy (r10): the driver's value hash is order-
    # insensitive; the global range sort of a corpus-sized output is a
    # pure-waste exchange+sort at scale (the q103/q164 precedent).
    with pin_scope() as scope:
        return scope.store(tfidf_top_terms(docs))


# ---------------------------------------------------------------------------
# Vocabulary / Zipf profile
# ---------------------------------------------------------------------------
def vocab_zipf_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-row corpus profile: vocab size, token count, hapax fraction, and
    the Zipf slope (regression of ln(freq) on ln(rank)).

    The frequency rank is GLOBAL over the vocabulary. A plain
    ``row_number`` window with no partition would drag the whole vocab
    through one reducer — a 100 TB corpus's vocabulary is itself a big
    table — so the rank comes from the distributed two-phase index
    (``with_row_index``: range-partition sort + broadcast offsets), and
    ``regr_slope`` partial-aggregates map-side like any other agg.
    """
    # Persisted: the distributed rank consumes freq through two plan
    # branches (partition numbering + per-partition counts); the persist
    # stops each branch re-running the corpus-wide token aggregate.
    # The corpus pass is the Arrow tokenizer kernel (r11, §4.2): per-batch
    # (term, ct) partials from term_counts replace the JVM explode — the
    # final term shuffle moves the same per-partition-distinct-term rows
    # the old map-side partial aggregation produced.
    freq = cache(term_counts(docs, text_col).groupBy("term").agg(F.sum("ct").alias("c")))
    # with_row_index sorts ascending; rank 1 = highest count ⇒ order by
    # (-c, term). 0-based index + 1 = the rank.
    ranked = with_row_index(
        freq.withColumn("_negc", -F.col("c")), order_by=["_negc", "term"], col="_idx"
    ).select("c", (F.col("_idx") + 1).alias("rnk"))
    out = ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("total_tokens"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) / F.count(F.lit(1)).cast("double"), 6
        ).alias("hapax_frac"),
        F.round(
            F.regr_slope(F.log(F.col("c").cast("double")), F.log(F.col("rnk").cast("double"))), 6
        ).alias("zipf_slope"),
    )
    return out


@register(
    "q113_vocab_zipf_stats",
    oracle=f"""
        WITH {_TOKS_SQL},
        freq AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
        ranked AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rnk
            FROM freq
        )
        SELECT
            CAST(COUNT(*) AS BIGINT) AS vocab_size,
            CAST(SUM(c) AS BIGINT) AS total_tokens,
            ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
                AS hapax_frac,
            ROUND(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
                AS zipf_slope
        FROM ranked
    """,
    doc="corpus vocabulary profile: vocab size, hapax fraction, Zipf slope "
    "via regr_slope over a DISTRIBUTED global frequency rank.",
    tags=("text", "corpus", "stats"),
)
def q113_vocab_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    with pin_scope() as scope:
        return scope.store(vocab_zipf_stats(docs))


# ---------------------------------------------------------------------------
# Unigram-LM surprise (bits per token)
# ---------------------------------------------------------------------------
def unigram_surprise(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc mean surprise under the corpus unigram LM:
    (doc_id, n_tokens, bits_per_token).

    bits_per_token = avg(-log2 p(term)), p = corpus frequency / total.
    The cheap statistical stand-in for model-perplexity quality filtering:
    low = repetitive/templated text, high = rare-token soup; both tails are
    what a curation pipeline prunes. Corpus-linear: the probability table
    is vocab-sized and its join onto the token stream is AQE-sized.
    """
    # Third rewrite (r11): the Arrow tokenizer kernel makes the compacted
    # (doc, term, ct) form cheap — the r10a compaction lost because its
    # hash-agg over every token occurrence ran in the JVM (4.7 s of the
    # 6.8 s x100 noop wall); doc_term_counts counts per batch in C++ and
    # emits exact finals, so the query has ZERO corpus-sized shuffles AND
    # no per-occurrence join stream: the score join and the per-doc mean
    # both run over distinct-(doc, term) rows.
    #
    # Scale-safety (r10 verdict item 1): the probability table is no
    # longer force-broadcast. The corpus total rides in as a broadcast
    # 1-row aggregate (no constant-key window funneling the vocab through
    # one partition), and the vocab-sized prob table goes through the
    # broadcast_if_small ladder with the docs TEXT SCAN leg as the
    # vouched upper bound (every distinct term appears in the text, so
    # vocabulary bytes ≤ text bytes): at bench scale the estimate is far
    # under the 64 MB threshold -> broadcast with zero actions; at
    # 100 TB the text-leg bound blows the 64 GB probe ceiling -> the
    # compacted shuffle join IS the plan, automatically. Both branches
    # are test-pinned (plan assertion + value parity).
    from ai_batch_processing_spark.plans.relational import broadcast_if_small

    tf = cache(doc_term_counts(docs, id_col, text_col).withColumnRenamed(id_col, "doc_id"))
    freq = tf.groupBy("term").agg(F.sum("ct").alias("c"))
    tot = tf.agg(F.sum("ct").cast("double").alias("t"))
    prob = freq.crossJoin(F.broadcast(tot))
    text_leg = docs.select(F.col(text_col))
    out = (
        tf.join(broadcast_if_small(prob, size_of=text_leg), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("ct").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("ct") * -F.log2(F.col("c") / F.col("t"))) / F.sum("ct"), 6
            ).alias("bits_per_token"),
        )
    )
    # ct-weighted summation is the oracle's per-occurrence AVG re-grouped
    # by (doc, term); the 6dp round absorbs FP order effects exactly as
    # the r10 forms did (x100 A/B then: 500k docs, zero rounded-value
    # diffs between the occurrence and compacted forms; the sf gates
    # re-prove it per round).
    return out


@register(
    "q114_unigram_surprise",
    oracle=f"""
        WITH {_TOKS_SQL},
        freq AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
        tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM freq)
        SELECT toks.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(-log2(freq.c / tot.t)), 6) AS bits_per_token
        FROM toks JOIN freq USING (term) CROSS JOIN tot
        GROUP BY toks.doc_id
        ORDER BY toks.doc_id
    """,
    doc="per-doc unigram-LM surprise (bits/token) — the statistical stand-in "
    "for perplexity-based quality filtering, fully corpus-linear.",
    tags=("text", "corpus", "quality"),
)
def q114_unigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # No trailing orderBy (r10): the driver's value hash is order-
    # insensitive; the global range sort of a corpus-sized output is a
    # pure-waste exchange+sort at scale (the q103/q164 precedent).
    with pin_scope() as scope:
        return scope.store(unigram_surprise(docs))


# ---------------------------------------------------------------------------
# Bigram-LM surprise (CCNet-style statistical perplexity filter)
# ---------------------------------------------------------------------------
def bigram_surprise(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """Per-doc mean surprise under an add-k-smoothed corpus BIGRAM LM:
    (doc_id, n_bigrams, bits_per_bigram), docs with ≥ 2 tokens.

    bits_per_bigram = avg(-log2 P(w₂|w₁)) with
    P(w₂|w₁) = (c(w₁w₂) + k) / (c(w₁·) + k·V) — the CCNet recipe's
    statistical core (there a KenLM 5-gram; the order is a knob, the
    pipeline shape is identical): low = templated/repetitive text, high =
    rare-transition soup, both tails pruned. A strictly stronger signal
    than :func:`unigram_surprise` — word-ORDER scrambles leave unigram
    bits unchanged but spike bigram bits (test-pinned).

    Scale shape: the bigram count table is O(distinct bigrams) ≪ token
    stream and is persisted for its two consumers (scoring join + the
    context-count aggregate reuses the stream); the vocab size rides in
    as a broadcast 1-row aggregate; everything else is one shuffle on the
    bigram key.
    """
    # Arrow bigram kernel (r11, §4.2): the Catalyst form exploded the
    # corpus into per-occurrence bigram ROWS twice (once for the count
    # table, once re-derived for the scoring join) plus a third tokenize
    # pass for the vocab size. doc_bigram_counts emits exact compacted
    # (doc, w1, w2, ct) finals from one corpus pass; persisting THAT
    # means the bigram count table, the context counts, and the scoring
    # join all derive from cached vocab-scale rows — the corpus text is
    # read twice total (bigram kernel + vocab kernel), each in C++.
    bigr = cache(doc_bigram_counts(docs, id_col, text_col).withColumnRenamed(id_col, "doc_id"))
    bc = bigr.groupBy("w1", "w2").agg(F.sum("ct").alias("cb"))
    cc = bigr.groupBy("w1").agg(F.sum("ct").alias("cw"))
    vocab = (
        term_counts(docs, text_col)
        .agg(F.count_distinct("term").cast("double").alias("v"))
    )
    p = (F.col("cb") + F.lit(k)) / (F.col("cw") + F.lit(k) * F.col("v"))
    out = (
        bigr.join(bc, ["w1", "w2"])
        .join(cc, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("ct").alias("n_bigrams"),
            F.round(F.sum(F.col("ct") * -F.log2(p)) / F.sum("ct"), 6).alias(
                "bits_per_bigram"
            ),
        )
    )
    return out


@register(
    "q168_bigram_surprise",
    oracle=r"""
        WITH toks_arr AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
            FROM documents
        ),
        bigr AS (
            SELECT doc_id, ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
            FROM toks_arr, unnest(generate_series(1, len(ts) - 1)) u(i)
            WHERE len(ts) >= 2
        ),
        bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bigr GROUP BY w1, w2),
        cc AS (SELECT w1, SUM(cb) AS cw FROM bc GROUP BY w1),
        vv AS (
            SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
            FROM (SELECT unnest(ts) AS tok FROM toks_arr)
        )
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(-log2((bc.cb + 0.5) / (cc.cw + 0.5 * vv.v))), 6) AS bits_per_bigram
        FROM bigr b JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN vv
        GROUP BY b.doc_id
        ORDER BY b.doc_id
    """,
    doc=(
        "per-doc surprise under an add-k corpus bigram LM (the CCNet "
        "statistical-perplexity filter shape): bits/bigram with "
        "P(w2|w1) = (c12+k)/(c1+kV) — order-sensitive quality signal, "
        "corpus-linear, vocab broadcast."
    ),
    tags=("text", "corpus", "quality"),
)
def q168_bigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # No trailing orderBy (r10): the driver's value hash is order-
    # insensitive; the global range sort of a corpus-sized output is a
    # pure-waste exchange+sort at scale (the q103/q164 precedent).
    with pin_scope() as scope:
        return scope.store(bigram_surprise(docs))


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------
def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """New-batch rows that are novel vs the corpus AND unique in-batch:
    (doc_id, fp).

    The daily-ingest pattern at 100 TB: the corpus side is column-pruned
    to the fingerprint expression only (the scan never materializes
    corpus text downstream), the LEFT ANTI join shuffles 32-byte
    fingerprints, and the intra-batch survivor pick is a batch-sized
    min-aggregate. Nothing corpus-sized is collected or broadcast.
    """
    bfp = batch.select(F.col(id_col).alias("doc_id"), fingerprint_expr(text_col).alias("fp"))
    cfp = corpus.select(fingerprint_expr(text_col).alias("fp"))
    fresh = bfp.join(cfp, "fp", "left_anti")
    return fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id", "fp")


def bloom_bitmap_words(df: DataFrame, key_col: str, num_bits: int = 1 << 22, k: int = 5) -> DataFrame:
    """Distributed Bloom filter as a (word_idx, word) bitmap table.

    Pure Catalyst (Spark doesn't expose bloom_filter_agg to SQL): each key
    sets ``k`` seeded-xxhash64 bit positions; positions fold into 64-bit
    words with a ``bit_or`` partial aggregate. The result is ≤ num_bits/64
    rows (num_bits=2²² → ≤ 65k rows, ~1 MB), built in one
    map-side-combined pass; membership probes never touch the corpus
    again.

    Sizing: the false-positive rate is a function of num_bits/n_keys
    (≈ (1 − e^(−k·n/m))^k; ~10-15 bits per key for ~0.1-1% fpp), so
    ``num_bits`` must GROW with the corpus — the 2²² default covers a few
    hundred thousand keys. At 10⁹+ keys a single broadcastable bitmap
    stops being cheap (~1-2 GB); shard it by key range (one words-table
    per shard, probe routed by the same range) or accept a higher fpp —
    false positives cost extra exact-check work, never correctness.
    """
    pos = F.explode(
        F.array(*[F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits)) for i in range(k)])
    ).alias("pos")
    return (
        df.select(pos)
        .groupBy(F.shiftright(F.col("pos"), 6).alias("word_idx"))
        .agg(
            # shiftleft with a COLUMN bit count needs the SQL form (the
            # Python helper only takes a literal int)
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")).alias("word")
        )
    )


def bloom_maybe_contains(
    probe: DataFrame, words: DataFrame, key_col: str, num_bits: int = 1 << 22, k: int = 5
) -> DataFrame:
    """Add boolean ``_maybe``: False ⇒ key DEFINITELY not in the filtered
    set; True ⇒ present or false positive (rate set by num_bits/k vs n).

    INLINE probe (r11, guide §2.4): the words table folds into ONE
    broadcast row holding a (word_idx → word) map (≤ num_bits/64 entries,
    ~1 MB at the default sizing), and each probe row evaluates its k bit
    tests as a plain projection over ``element_at`` lookups — no position
    explode, no per-key aggregate, no verdict join-back (the r10 form
    paid two exchanges + a join for what is row-local arithmetic; x100:
    16 → 10 stages for the q136 pipeline). Missing words read as 0, so an
    empty corpus maps every key to definitely-new; NULL keys keep their
    row with the verdict their hash positions produce, exactly as before
    (bare xxhash64 skips NULL inputs). Row-preserving by construction.
    """
    bitmap = words.agg(
        F.map_from_arrays(
            F.collect_list("word_idx"), F.collect_list("word")
        ).alias("_bm")
    )
    maybe = None
    for i in range(k):
        pos = F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits))
        word = F.coalesce(
            F.element_at(F.col("_bm"), F.shiftright(pos, 6)), F.lit(0).cast("long")
        )
        # shiftright with a COLUMN bit count needs the function-call form
        # (the Python helper only takes a literal int)
        hit = (
            F.call_function("shiftright", word, (pos % 64).cast("int")).bitwiseAND(
                F.lit(1)
            )
            == 1
        )
        maybe = hit if maybe is None else (maybe & hit)
    return (
        probe.crossJoin(F.broadcast(bitmap))
        .withColumn("_maybe", maybe)
        .drop("_bm")
    )


def incremental_dedup_bloom(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 1 << 22,
    k: int = 5,
) -> DataFrame:
    """``incremental_dedup`` with a Bloom pre-filter — EXACT results, but
    the corpus-vs-batch anti-join shrinks to the rows the Bloom bitmap
    can't rule out.

    Why this is the 100 TB shape: the plain anti-join shuffles the
    CORPUS-side fingerprints on every batch (corpus ≫ batch, daily). Here
    the corpus compresses once into the ≤1 MB bitmap table
    (:func:`bloom_bitmap_words` — rebuilt incrementally in production by
    OR-ing the new batch's words in); a broadcast probe splits the batch
    into definitely-new rows (no corpus contact at all) and maybe-dup
    rows, and only the maybe rows — reingested dups plus the ~n·2⁻ᵏ'
    false positives — pay the exact anti-join. False positives can only
    route extra rows into the exact check, never change the answer, so
    the output is hash-identical to ``incremental_dedup`` (test- and
    oracle-pinned).

    The corpus fingerprints and the flagged batch are each consumed by TWO
    downstream branches (bitmap build + anti-join; definite/maybe split),
    so both are pinned (``jobs.pin``): the regex-normalize+md5
    pass — the dominant cost — runs once per side instead of once per
    branch, and only the 32-byte fingerprints are retained. The batch
    side needs no checkpoint since r11: the inline Bloom probe reads it
    exactly once (the r10 verdict-join form probed it twice).
    """
    bfp = batch.select(
        F.col(id_col).alias("doc_id"), fingerprint_expr(text_col).alias("fp")
    )
    cfp = pin(corpus.select(fingerprint_expr(text_col).alias("fp")))
    words = bloom_bitmap_words(cfp, "fp", num_bits, k)
    flagged = pin(bloom_maybe_contains(bfp, words, "fp", num_bits, k))
    definite_new = flagged.filter(~F.col("_maybe")).select("doc_id", "fp")
    maybe = flagged.filter(F.col("_maybe")).select("doc_id", "fp")
    # the equi-join moves fp to the front — re-project before the
    # positional union
    fresh = definite_new.unionAll(maybe.join(cfp, "fp", "left_anti").select("doc_id", "fp"))
    return fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id", "fp")


# The base table has no exact duplicates, so the registered query
# synthesizes the scenario: the "batch" is every 10th doc plus re-ingested
# copies (id + 900000) of corpus docs — those copies must be dropped by the
# anti-join, the rest must survive.
_BATCH_FILTER = "doc_id % 10 = 0"
_REINGEST_FILTER = "doc_id % 10 = 1 AND doc_id % 3 = 0"


# Shared ground truth for q115 (plain anti-join) and q136 (Bloom-prefiltered
# path): the Bloom pre-filter is exact by construction, so both hash-match
# the same SQL.
_INCREMENTAL_DEDUP_ORACLE = rf"""
        WITH fp AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
            FROM documents
        ),
        corpus AS (SELECT fp FROM fp WHERE NOT ({_BATCH_FILTER})),
        batch AS (
            SELECT doc_id, fp FROM fp WHERE {_BATCH_FILTER}
            UNION ALL
            SELECT doc_id + 900000 AS doc_id, fp FROM fp WHERE {_REINGEST_FILTER}
        ),
        fresh AS (
            SELECT b.doc_id, b.fp FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
        )
        SELECT MIN(doc_id) AS doc_id, fp
        FROM fresh GROUP BY fp
        ORDER BY doc_id
    """


def _incremental_scenario(spark: SparkSession, sf_dir: str):
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    corpus = docs.filter(f"NOT ({_BATCH_FILTER})")
    batch = docs.filter(_BATCH_FILTER).select("doc_id", "text").union(
        docs.filter(_REINGEST_FILTER).select(
            (F.col("doc_id") + 900000).alias("doc_id"), "text"
        )
    )
    return batch, corpus


@register(
    "q115_incremental_dedup",
    oracle=_INCREMENTAL_DEDUP_ORACLE,
    doc="incremental (batch-vs-corpus) dedup: anti-join on normalized "
    "fingerprints + intra-batch survivor pick; re-ingested copies dropped.",
    tags=("dedup", "corpus", "incremental"),
)
def q115_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch, corpus = _incremental_scenario(spark, sf_dir)
    # No trailing orderBy (r10): the driver's value hash is order-
    # insensitive; the global range sort of a corpus-sized output is a
    # pure-waste exchange+sort at scale (the q103/q164 precedent).
    return incremental_dedup(batch, corpus)


@register(
    "q136_incremental_dedup_bloom",
    oracle=_INCREMENTAL_DEDUP_ORACLE,
    doc=(
        "q115's daily-ingest dedup behind a pure-Catalyst Bloom pre-filter: "
        "the corpus compresses to a ≤1 MB (word_idx, word) bitmap table "
        "(bit_or partial aggregate), the batch probes it via a broadcast "
        "join, and only maybe-duplicate rows pay the exact anti-join — "
        "definitely-new rows never touch the corpus. False positives only "
        "route extra rows into the exact check, so the output hash-matches "
        "the plain anti-join oracle."
    ),
    tags=("dedup", "corpus", "incremental", "bloom"),
)
def q136_incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch, corpus = _incremental_scenario(spark, sf_dir)
    # No trailing orderBy (r10): the driver's value hash is order-
    # insensitive; the global range sort of a corpus-sized output is a
    # pure-waste exchange+sort at scale (the q103/q164 precedent).
    return incremental_dedup_bloom(batch, corpus)


# ---------------------------------------------------------------------------
# BM25 retrieval (keyword search over the corpus)
# ---------------------------------------------------------------------------
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi-BM25 top-``top_k`` documents for a bag of query terms:
    (doc_id, score, rnk).

    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the Lucene form, always
    positive. Scale shape: the query-term list is tiny and LITERAL (an
    ``isin`` filter pushed into the aggregate's input — the exploded token
    stream drops to query-matching rows before any shuffle); df/N/avgdl are
    one-row or #terms-sized side aggregates broadcast into the score join;
    the only corpus-sized shuffle is the (doc, term) count on the filtered
    stream. Ranking happens on the ROUNDED score (doc_id tiebreak).
    """
    # Arrow kernel with the query-term whitelist applied INSIDE it (r11,
    # §4.2): (doc, term, tf, n) rows exist only for query-matching docs,
    # and n (the doc's full token length) rides on each row — so the
    # separate per-doc length scan no longer joins into the score (its
    # aggregate is still needed for corpus-wide N/avgdl). Persisted:
    # dfreq and the score both consume the kernel output.
    tf = (
        doc_term_counts(docs, id_col, text_col, vocab=[t.lower() for t in query_terms])
        .withColumnRenamed(id_col, "doc_id")
        .select("doc_id", "term", F.col("ct").alias("tf"), F.col("n").cast("double").alias("dl"))
    )
    tf = cache(tf)
    stats = docs.select(token_count_ws(F.col(text_col)).cast("double").alias("dl")).agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
    )
    per_term = idf * (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / denom
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(per_term), 6).alias("score"))
    )
    from pyspark.sql import Window

    # Global top-k the scale-safe way: orderBy+limit compiles to
    # TakeOrderedAndProject (each task keeps its local top-k; one merge of
    # ≤k rows per task) — no all-rows window through a single reducer. The
    # rank column is then a window over the ALREADY-capped k rows.
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    out = top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        "doc_id", "score", "rnk"
    )
    return out


_BM25_QUERY = ["data", "model", "training"]


@register(
    "q117_bm25_search",
    oracle=rf"""
        WITH {_TOKS_SQL},
        dl AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS DOUBLE) AS dl
            FROM documents
        ),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM toks WHERE term IN ('data', 'model', 'training')
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        scored AS (
            SELECT tf.doc_id,
                   ROUND(SUM(
                       ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                       * (tf.tf * (1.2 + 1.0))
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
                   ), 6) AS score
            FROM tf
            JOIN dl USING (doc_id)
            JOIN dfreq USING (term)
            CROSS JOIN stats
            GROUP BY tf.doc_id
        ),
        ranked AS (
            SELECT doc_id, score,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
            FROM scored
        )
        SELECT doc_id, score, rnk FROM ranked WHERE rnk <= 10
        ORDER BY rnk
    """,
    doc="Okapi-BM25 keyword retrieval: literal query-term filter pushed "
    "below the shuffle, broadcast df/N/avgdl side stats, rounded-score rank.",
    tags=("text", "corpus", "retrieval"),
)
def q117_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    with pin_scope() as scope:
        out = scope.store(bm25_search(docs, _BM25_QUERY, top_k=10))
    return out.orderBy("rnk")




# ---------------------------------------------------------------------------
# Corpus health report (per-source monitoring rollup)
# ---------------------------------------------------------------------------
def corpus_health(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source health metrics: (source, n_docs, n_tokens, avg_quality,
    dup_rate, n_langs, top_lang) — the rollup an ingest pipeline alerts on.

    One scan computes every per-row feature (quality score, token count,
    fingerprint — all Catalyst expressions). dup_rate counts rows whose
    normalized fingerprint repeats WITHIN the source via a window count
    over (source, fp) — no self-join. top_lang is a deterministic argmax
    (row_number over count desc, lang asc — engine-stable tiebreak); the
    per-source language tables are #sources-sized → broadcast back.
    """
    from pyspark.sql import Window

    from ai_batch_processing_spark.operators.text import (
        fingerprint_expr,
        quality_features,
        token_count_ws,
    )

    feats = quality_features(docs, text_col).withColumn("fp", fingerprint_expr(text_col))
    feats = feats.withColumn(
        "_fp_copies", F.count(F.lit(1)).over(Window.partitionBy("source", "fp"))
    )
    lang_counts = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("lc"))
    top_lang = (
        lang_counts.withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.desc("lc"), F.asc("lang"))
            ),
        )
        .filter(F.col("_r") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    n_langs = lang_counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_langs")
    )
    per_source = feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(F.col(text_col)).cast("long")).alias("n_tokens"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.round(
            F.sum(F.when(F.col("_fp_copies") > 1, 1).otherwise(0)) / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
    )
    return per_source.join(F.broadcast(n_langs), "source").join(
        F.broadcast(top_lang), "source"
    )


@register(
    "q130_corpus_health_report",
    oracle=r"""
        WITH feats AS (
            SELECT doc_id, source, lang,
                len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS n_tokens,
                length(text) AS n_chars,
                length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
                length(text) - length(regexp_replace(text, '[\.,;:!\?''"()\[\]{}-]', '', 'g')) AS punct_chars,
                len(list_filter(
                    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
                    t -> list_contains(['the','and','of','to','a','in','is','that','for','with'], t)
                )) AS stop_hits,
                md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
            FROM documents
        ),
        scored AS (
            SELECT *,
                ROUND(
                    (CASE WHEN n_chars BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.25 END)
                    * (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / n_chars ELSE 0.0 END)
                    * (1 - (CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / n_chars ELSE 0.0 END))
                    * LEAST(1.0, (CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END) * 4 + 0.5),
                6) AS q,
                COUNT(*) OVER (PARTITION BY source, fp) AS fp_copies
            FROM feats
        ),
        per_source AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   ROUND(AVG(q), 6) AS avg_quality,
                   ROUND(SUM(CASE WHEN fp_copies > 1 THEN 1 ELSE 0 END)
                         / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
            FROM scored GROUP BY source
        ),
        lang_counts AS (
            SELECT source, lang, COUNT(*) AS lc FROM documents GROUP BY source, lang
        ),
        nl AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_langs FROM lang_counts GROUP BY source),
        tl AS (
            SELECT source, lang AS top_lang
            FROM (
                SELECT source, lang,
                       ROW_NUMBER() OVER (PARTITION BY source ORDER BY lc DESC, lang) AS r
                FROM lang_counts
            ) WHERE r = 1
        )
        SELECT p.source, p.n_docs, p.n_tokens, p.avg_quality, p.dup_rate,
               nl.n_langs, tl.top_lang
        FROM per_source p JOIN nl USING (source) JOIN tl USING (source)
        ORDER BY p.source
    """,
    doc="per-source corpus health rollup: docs/tokens/avg-quality/intra-source "
    "dup-rate/language mix in one scan + one shuffle — the daily ingest "
    "monitoring query.",
    tags=("corpus", "profiling", "monitoring"),
)
def q130_corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return corpus_health(docs).orderBy("source")


# ---------------------------------------------------------------------------
# Per-source distribution divergence (domain-shift profile)
# ---------------------------------------------------------------------------
def source_divergence(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n_buckets: int = 512,
    smoothing: float = 1.0,
    method: str = "xxhash64",
) -> DataFrame:
    """(source, n_tokens, kl_bits): KL(source ‖ corpus) in bits over
    add-``smoothing`` hashed-unigram bucket distributions — the
    domain-shift profile data-mixing work ranks sources by (a source
    whose token distribution sits far from the corpus mean is a
    candidate for up-/down-weighting or a mixture of its own; near-zero
    means redundant with the mix).

    One token-stream pass into map-combinable (source, bucket) counts;
    everything after is source×bucket-sized: per-source totals broadcast
    back, the corpus marginal re-aggregated from the SAME table. The
    bucket hash is :func:`~ai_batch_processing_spark.operators.curation._feature_bucket`
    (xxhash64 production / md5 for the gate).
    """
    from ai_batch_processing_spark.operators.curation import _feature_bucket
    from ai_batch_processing_spark.operators.text import tokens_expr

    s = float(smoothing)
    if not s > 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    stream = docs.select(
        F.col(group_col).alias("source"), F.explode(tokens_expr(text_col)).alias("t")
    ).select("source", _feature_bucket(F.col("t"), n_buckets, method).alias("b"))
    sb = stream.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    stot = sb.groupBy("source").agg(F.sum("c").cast("double").alias("n_src"))
    corpus = sb.groupBy("b").agg(F.sum("c").alias("cc"))
    ctot = corpus.agg(F.sum("cc").cast("double").alias("n_all"))
    # dense per-(source, bucket) grid so zero-count buckets still carry
    # their smoothed mass: source-list × corpus-bucket-list cross join is
    # sources×n_buckets rows — tiny by construction
    grid = stot.crossJoin(corpus).crossJoin(F.broadcast(ctot))
    joined = grid.join(sb, ["source", "b"], "left").select(
        "source",
        "n_src",
        ((F.coalesce(F.col("c"), F.lit(0)) + s) / (F.col("n_src") + s * n_buckets)).alias("p"),
        ((F.col("cc") + s) / (F.col("n_all") + s * n_buckets)).alias("q"),
    )
    out = joined.groupBy("source").agg(
        F.max("n_src").cast("long").alias("n_tokens"),
        F.round(F.sum(F.col("p") * F.log2(F.col("p") / F.col("q"))), 6).alias("kl_bits"),
    )
    return out


@register(
    "q183_source_divergence",
    oracle=r"""
        WITH stream AS (
            SELECT source,
                   CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 512 AS b
            FROM (SELECT source, unnest(list_filter(
                      string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t
                  FROM documents)
        ),
        sb AS (SELECT source, b, COUNT(*) AS c FROM stream GROUP BY 1, 2),
        stot AS (SELECT source, CAST(SUM(c) AS DOUBLE) AS n_src FROM sb GROUP BY source),
        corpus AS (SELECT b, SUM(c) AS cc FROM sb GROUP BY b),
        ctot AS (SELECT CAST(SUM(cc) AS DOUBLE) AS n_all FROM corpus),
        grid AS (SELECT * FROM stot CROSS JOIN corpus CROSS JOIN ctot),
        joined AS (
            SELECT g.source, g.n_src,
                   (COALESCE(sb.c, 0) + 1.0) / (g.n_src + 1.0 * 512) AS p,
                   (g.cc + 1.0) / (g.n_all + 1.0 * 512) AS q
            FROM grid g LEFT JOIN sb ON g.source = sb.source AND g.b = sb.b
        )
        SELECT source,
               CAST(MAX(n_src) AS BIGINT) AS n_tokens,
               ROUND(SUM(p * log2(p / q)), 6) AS kl_bits
        FROM joined
        GROUP BY source
        ORDER BY source
    """,
    doc=(
        "per-source KL(source || corpus) in bits over add-1 hashed-"
        "unigram bucket distributions — the domain-shift profile that "
        "ranks sources for mixture (re)weighting. One stream pass, "
        "source x bucket-sized everything after."
    ),
    tags=("corpus", "mixture", "stats"),
)
def q183_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return source_divergence(docs, method="md5").orderBy("source")


# ---------------------------------------------------------------------------
# Cross-source duplicate overlap (contamination / lineage matrix)
# ---------------------------------------------------------------------------
def source_overlap_matrix(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(source_a, source_b, n_shared): for every source pair, how many
    distinct normalized-content fingerprints appear in BOTH — the
    cross-source contamination/lineage matrix (a crawl re-packaged under
    two names, a benchmark leaking into a training slice, mirrored
    sites). Within-source duplication is :func:`corpus_health`'s
    dup-rate; this is the BETWEEN-sources view.

    Corpus-linear: one fingerprint projection (:func:`fingerprint_expr`,
    the scan-speed md5 of normalized text), ONE distinct (fp, source)
    aggregate, then a self-equi-join on fp whose per-key fan-out is
    bounded by the source count — never an all-pairs document join.
    """
    from ai_batch_processing_spark.operators.text import fingerprint_expr

    d = docs.select(
        fingerprint_expr(F.col(text_col)).alias("fp"), F.col(group_col).alias("s")
    ).distinct()
    a = d.select("fp", F.col("s").alias("source_a"))
    b = d.select("fp", F.col("s").alias("source_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


@register(
    "q184_source_overlap_matrix",
    oracle=r"""
        WITH salted AS (
            SELECT source, text FROM documents
            UNION ALL
            SELECT 'mirror_of_' || source AS source, text
            FROM documents WHERE doc_id % 7 = 0
        ),
        d AS (
            SELECT DISTINCT
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
                   source AS s
            FROM salted
        )
        SELECT a.s AS source_a, b.s AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM d a JOIN d b ON a.fp = b.fp AND a.s < b.s
        GROUP BY 1, 2
        ORDER BY source_a, source_b
    """,
    doc=(
        "cross-source duplicate overlap matrix: distinct normalized-"
        "content fingerprints shared by each source pair — the "
        "contamination/lineage view between slices (within-source "
        "duplication is corpus_health's dup-rate). One distinct "
        "(fp, source) aggregate + a fp self-join bounded by the source "
        "count per key."
    ),
    tags=("corpus", "dedup", "stats"),
)
def q184_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # salt the corpus with KNOWN cross-source duplicates (the synthetic
    # table has none): every 7th doc re-appears under the next source id
    salted = docs.select("source", "text").unionAll(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            F.concat(F.lit("mirror_of_"), F.col("source")).alias("source"), "text"
        )
    )
    return source_overlap_matrix(salted).orderBy("source_a", "source_b")


@register(
    "q190_quality_length_correlation",
    oracle=r"""
        WITH feats AS (
            SELECT source,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   ROUND(CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                              / length(text)
                         ELSE 0.0 END, 6) AS score
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(CORR(score, n_chars), 4) AS corr_quality_length
        FROM feats
        GROUP BY source
        ORDER BY source
    """,
    doc=(
        "per-source correlation between quality score (alpha ratio) and "
        "document length — the sanity panel that catches a quality "
        "signal degenerating into a length proxy (|corr| near 1 means "
        "the filter mostly selects on length). Rounded to 4dp: CORR's "
        "big float accumulations are summation-order sensitive across "
        "engines at 6dp."
    ),
    tags=("corpus", "quality", "stats"),
)
def q190_quality_length_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    feats = docs.select(
        "source",
        F.length("text").cast("double").alias("n_chars"),
        F.round(
            F.when(F.length("text") > 0, alpha.cast("double") / F.length("text")).otherwise(
                0.0
            ),
            6,
        ).alias("score"),
    )
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.corr("score", "n_chars"), 4).alias("corr_quality_length"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Quality-threshold survival curve (the knob-picking sweep)
# ---------------------------------------------------------------------------
def threshold_survival(
    df: DataFrame,
    score_col: str,
    size_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """(threshold, n_docs, n_tokens, doc_frac): for each candidate cut
    t = k/n_bins, how many rows (and how much token mass) survive
    ``score >= t`` — the sweep a practitioner reads before choosing a
    quality threshold (the knee of this curve IS the knob; picking a
    cut without it is guessing how much data dies).

    Corpus-linear and one pass: scores collapse into an ``n_bins``
    histogram (map-combinable), survival is a suffix sum over the bin
    table (n_bins rows), never a re-scan per candidate threshold.
    Scores are clamped into [0, 1]; a row in bin b survives thresholds
    0..b.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    b = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor(F.col(score_col) * n_bins).cast("int")),
    )
    hist = df.select(b.alias("bin"), F.col(size_col).alias("sz")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("sz").alias("nt")
    )
    # dense bin axis so empty bins still emit a survival row
    spark = df.sparkSession
    axis = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    dense = axis.join(hist, "bin", "left").select(
        "bin",
        F.coalesce(F.col("nd"), F.lit(0)).alias("nd"),
        F.coalesce(F.col("nt"), F.lit(0)).alias("nt"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    # total from the bin table itself (an n_bins-row window), NOT a second
    # df.count() pass — the histogram already saw every row once
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return dense.select(
        F.round(F.col("bin") / n_bins, 6).alias("threshold"),
        F.sum("nd").over(w).cast("long").alias("n_docs"),
        F.sum("nt").over(w).cast("long").alias("n_tokens"),
        F.round(
            F.sum("nd").over(w)
            / F.greatest(F.sum("nd").over(w_all).cast("double"), F.lit(1.0)),
            6,
        ).alias("doc_frac"),
    )


@register(
    "q195_threshold_survival",
    oracle=r"""
        WITH feats AS (
            SELECT ROUND(CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                              / length(text)
                         ELSE 0.0 END, 6) AS score,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')) AS BIGINT) AS nt
            FROM documents
        ),
        hist AS (
            SELECT LEAST(9, GREATEST(0, CAST(FLOOR(score * 10) AS INT))) AS bin,
                   COUNT(*) AS nd, SUM(nt) AS nt
            FROM feats GROUP BY 1
        ),
        axis AS (SELECT CAST(u.b AS INT) AS bin FROM unnest(generate_series(0, 9)) u(b)),
        dense AS (
            SELECT a.bin, COALESCE(h.nd, 0) AS nd, COALESCE(h.nt, 0) AS nt
            FROM axis a LEFT JOIN hist h USING (bin)
        ),
        tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feats)
        SELECT ROUND(bin / 10.0, 6) AS threshold,
               CAST(SUM(nd) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_docs,
               CAST(SUM(nt) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_tokens,
               ROUND(SUM(nd) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) / tot.n, 6) AS doc_frac
        FROM dense CROSS JOIN tot
        ORDER BY threshold
    """,
    doc=(
        "quality-threshold survival curve: docs/token mass surviving each "
        "candidate cut t = k/10 of the alpha-ratio score — the sweep that "
        "picks a filter knob with its data cost visible. One histogram "
        "pass + an n_bins-row suffix sum; never a re-scan per threshold."
    ),
    tags=("corpus", "quality", "stats"),
)
def q195_threshold_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import token_count_ws

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    feats = docs.select(
        F.round(
            F.when(F.length("text") > 0, alpha.cast("double") / F.length("text")).otherwise(
                0.0
            ),
            6,
        ).alias("score"),
        token_count_ws(F.col("text")).cast("long").alias("nt"),
    )
    return threshold_survival(feats, "score", "nt", n_bins=10).orderBy("threshold")


# ---------------------------------------------------------------------------
# Dataset datasheet (one-row corpus summary panel)
# ---------------------------------------------------------------------------
def dataset_datasheet(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """One row: (n_docs, n_sources, n_tokens, n_chars, dup_rate,
    mean_alpha_ratio, lang_entropy_bits) — the headline numbers a
    dataset card publishes (Datasheets for Datasets shape), computed in
    THREE corpus-linear passes: the row-level scan aggregate, the
    fingerprint-distinct aggregate for the dup rate, and the per-lang
    rollup the entropy folds over (each map-combinable; nothing
    corpus-sized crosses a single reducer).

    dup_rate = 1 − distinct fingerprints / docs (share of docs that are
    a normalized copy of another). lang_entropy_bits = Shannon entropy
    of the declared-language distribution — a one-number mix summary
    (0 = monolingual).
    """
    from ai_batch_processing_spark.operators.text import (
        fingerprint_expr,
        token_count_ws,
    )

    alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    ratio = F.when(
        F.length(F.col(text_col)) > 0, alpha.cast("double") / F.length(F.col(text_col))
    ).otherwise(0.0)
    base = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct(group_col).cast("long").alias("n_sources"),
        F.sum(token_count_ws(F.col(text_col))).cast("long").alias("n_tokens"),
        F.sum(F.length(F.col(text_col))).cast("long").alias("n_chars"),
        F.round(F.avg(F.round(ratio, 6)), 6).alias("mean_alpha_ratio"),
    )
    fps = docs.select(fingerprint_expr(F.col(text_col)).alias("fp")).agg(
        F.count_distinct("fp").cast("long").alias("n_distinct")
    )
    langs = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(docs.agg(F.count(F.lit(1)).cast("double").alias("n")))
        .agg(
            F.round(
                -F.sum((F.col("c") / F.col("n")) * F.log2(F.col("c") / F.col("n"))), 6
            ).alias("lang_entropy_bits")
        )
    )
    return (
        base.crossJoin(fps)
        .crossJoin(langs)
        .select(
            "n_docs",
            "n_sources",
            "n_tokens",
            "n_chars",
            F.round(1.0 - F.col("n_distinct") / F.col("n_docs"), 6).alias("dup_rate"),
            "mean_alpha_ratio",
            "lang_entropy_bits",
        )
    )


@register(
    "q196_dataset_datasheet",
    oracle=r"""
        WITH base AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
                                            t -> t <> ''))) AS BIGINT) AS n_tokens,
                   CAST(SUM(length(text)) AS BIGINT) AS n_chars,
                   ROUND(AVG(ROUND(CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                              / length(text)
                         ELSE 0.0 END, 6)), 6) AS mean_alpha_ratio
            FROM documents
        ),
        fps AS (
            SELECT CAST(COUNT(DISTINCT md5(trim(regexp_replace(lower(text),
                       '[^a-z0-9]+', ' ', 'g')))) AS BIGINT) AS n_distinct
            FROM documents
        ),
        langs AS (
            SELECT ROUND(-SUM((c / n) * log2(c / n)), 6) AS lang_entropy_bits
            FROM (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS c FROM documents GROUP BY lang)
            CROSS JOIN (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
        )
        SELECT n_docs, n_sources, n_tokens, n_chars,
               ROUND(1.0 - n_distinct / n_docs, 6) AS dup_rate,
               mean_alpha_ratio, lang_entropy_bits
        FROM base CROSS JOIN fps CROSS JOIN langs
    """,
    doc=(
        "dataset datasheet: the one-row corpus card (docs, sources, "
        "tokens, chars, normalized-dup rate, mean alpha ratio, language-"
        "mix entropy) — two corpus passes total (scan aggregates + "
        "fingerprint distinct), languages-sized entropy fold."
    ),
    tags=("corpus", "stats", "qa"),
)
def q196_dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return dataset_datasheet(docs)


@register(
    "q198_quality_drift_by_ingest_half",
    oracle=r"""
        WITH feats AS (
            SELECT source, doc_id,
                   ROUND(CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                              / length(text)
                         ELSE 0.0 END, 6) AS score,
                   PERCENT_RANK() OVER (PARTITION BY source ORDER BY doc_id) AS pr
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(CASE WHEN pr <= 0.5 THEN score END), 6) AS early_quality,
               ROUND(AVG(CASE WHEN pr > 0.5 THEN score END), 6) AS late_quality,
               ROUND(AVG(CASE WHEN pr > 0.5 THEN score END)
                     - AVG(CASE WHEN pr <= 0.5 THEN score END), 6) AS drift
        FROM feats
        GROUP BY source
        ORDER BY source
    """,
    doc=(
        "quality drift across ingestion order: per source, mean quality "
        "of the first half of the id range vs the second — the panel "
        "that catches a crawl degrading over time (or a fixed extractor "
        "silently improving it) before the aggregate mean hides it. One "
        "per-source rank window + conditional means."
    ),
    tags=("corpus", "quality", "qa"),
)
def q198_quality_drift_by_ingest_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    score = F.round(
        F.when(F.length("text") > 0, alpha.cast("double") / F.length("text")).otherwise(0.0),
        6,
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    feats = docs.select("source", "doc_id", score.alias("score")).withColumn(
        "pr", F.percent_rank().over(w)
    )
    early = F.avg(F.when(F.col("pr") <= 0.5, F.col("score")))
    late = F.avg(F.when(F.col("pr") > 0.5, F.col("score")))
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(early, 6).alias("early_quality"),
            F.round(late, 6).alias("late_quality"),
            F.round(late - early, 6).alias("drift"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Phrase search over a positional inverted index
# ---------------------------------------------------------------------------
def positional_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, term): the positional posting stream — one row per
    token occurrence with its 0-based position. The index shape phrase
    and proximity queries run on."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_expr(text_col)).alias("pos", "term"),
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact consecutive-token phrase matching: ``(doc_id, n_hits,
    first_pos)`` for every document containing the phrase at least once.

    The inverted-index query plan, not the text-scan one: the posting
    stream is filtered to the phrase's vocabulary BEFORE anything
    shuffles (for a selective phrase that drops the corpus-sized stream
    to the df of its rarest term), then each adjacent term is attached
    by an equi-join on ``(doc_id, start_pos)`` — term i's postings
    joined at ``pos − i``. All k−1 joins share one key, so Catalyst
    lays the chain out on a single partitioning; per-join data is
    term-frequency-sized, never corpus-sized. A single-term "phrase"
    degrades to a posting count with no joins.

    The DuckDB oracle deliberately runs the OTHER algorithm — a per-row
    array scan testing every window of the token array — so the gate
    checks the index plan against an independent formulation.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase_search: phrase must contain at least one token")
    posts = positional_postings(docs, id_col, text_col)
    vocab = sorted(set(terms))
    base = posts.filter(F.col("term").isin(*vocab))
    cur = base.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("pos").alias("start_pos")
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = base.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - F.lit(i)).alias("start_pos")
        )
        cur = cur.join(nxt, ["doc_id", "start_pos"])
    return cur.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min("start_pos").cast("long").alias("first_pos"),
    )


_PHRASE = "value fast"


@register(
    "q211_phrase_search",
    oracle=rf"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
            FROM documents
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_hits,
               CAST(MIN(i - 1) AS BIGINT) AS first_pos
        FROM base, unnest(generate_series(1, len(ts) - 1)) u(i)
        WHERE ts[CAST(i AS INT)] = 'value' AND ts[CAST(i + 1 AS INT)] = 'fast'
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc=(
        "exact phrase search ('value fast') on a positional inverted index: "
        "vocabulary-filtered posting streams equi-joined on (doc_id, "
        "start_pos) — the index-side query plan, hash-checked against a "
        "DuckDB oracle that scans every token window per row (a genuinely "
        "different algorithm for the same answer)."
    ),
    tags=("corpus", "search", "phrase"),
)
def q211_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return phrase_search(docs, _PHRASE).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + embedding cosine fused by reciprocal-rank fusion
# ---------------------------------------------------------------------------
def rrf_fuse(
    ranked: dict[str, DataFrame],
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rnk",
) -> DataFrame:
    """Reciprocal-rank fusion of named ranked lists: ``(doc_id,
    <name>_rnk…, rrf_score, rnk)``.

    ``rrf_score = Σ_lists 1/(k + rank)`` over the lists that contain the
    doc (Cormack et al.'s rank-only fusion — no score calibration needed
    across heterogeneous scorers, which is exactly why hybrid lexical+
    vector search uses it). Each input list is top-N bounded by
    construction, so every frame here is N·|lists| rows: the unions,
    the group-by, and the final rank window all run on list-sized data —
    the corpus-scale work already happened inside the retrievers.
    Determinism: the per-doc contributions are summed via a sorted array
    fold (collect_list → array_sort → aggregate), so the 6dp score is
    independent of aggregation order for ANY number of lists — IEEE
    addition only commutes pairwise, so a plain F.sum over 3+ lists would
    be shuffle-order-dependent; ranks tiebreak on doc_id.
    """
    if not ranked:
        raise ValueError("rrf_fuse: need at least one ranked list")
    tagged = None
    for name, df in ranked.items():
        t = df.select(
            F.col(id_col).alias("doc_id"),
            F.lit(name).alias("_list"),
            F.col(rank_col).cast("long").alias("_r"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    names = sorted(ranked)
    fused = tagged.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("_list") == n, F.col("_r"))).alias(f"{n}_rnk")
            for n in names
        ],
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.lit(1.0) / (F.lit(float(k)) + F.col("_r")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("rrf_score"),
    )
    # BOUNDED window: `fused` holds at most sum(len(ranklist)) rows — the
    # inputs are already top-N ranklists, never the corpus
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return fused.withColumn("rnk", F.row_number().over(w).cast("long"))


_RRF_TOPN = 20
_RRF_QUERY_VEC_ID = 0


@register(
    "q212_hybrid_rrf_search",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id, t.tok AS term
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS t(tok)
        ),
        dl AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS DOUBLE) AS dl
            FROM documents
        ),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM toks WHERE term IN ('data', 'model', 'training')
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        bm25_scored AS (
            SELECT tf.doc_id,
                   ROUND(SUM(
                       ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                       * (tf.tf * (1.2 + 1.0))
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
                   ), 6) AS score
            FROM tf
            JOIN dl USING (doc_id)
            JOIN dfreq USING (term)
            CROSS JOIN stats
            GROUP BY tf.doc_id
        ),
        bm25_top AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
            FROM bm25_scored
            ORDER BY score DESC, doc_id LIMIT {_RRF_TOPN}
        ),
        qv AS (
            SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE vec_id = {_RRF_QUERY_VEC_ID}
        ),
        cos_scored AS (
            SELECT e.vec_id AS doc_id,
                   ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v), 6) AS score
            FROM embeddings e CROSS JOIN qv
            WHERE e.vec_id <> {_RRF_QUERY_VEC_ID}
        ),
        cos_top AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
            FROM cos_scored
            ORDER BY score DESC, doc_id LIMIT {_RRF_TOPN}
        ),
        tagged AS (
            SELECT doc_id, 'bm25' AS l, r FROM bm25_top
            UNION ALL
            SELECT doc_id, 'cosine' AS l, r FROM cos_top
        ),
        fused AS (
            SELECT doc_id,
                   MAX(CASE WHEN l = 'bm25' THEN r END) AS bm25_rnk,
                   MAX(CASE WHEN l = 'cosine' THEN r END) AS cosine_rnk,
                   ROUND(SUM(1.0 / (60.0 + r)), 6) AS rrf_score
            FROM tagged GROUP BY doc_id
        )
        SELECT doc_id, bm25_rnk, cosine_rnk, rrf_score,
               CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rnk
        FROM fused
        ORDER BY rnk
    """,
    doc=(
        "hybrid retrieval: BM25 ('data model training') and embedding-cosine "
        "(query = vec 0) top-20 lists fused with reciprocal-rank fusion "
        "1/(60+r) — the lexical+vector hybrid search pattern. Fusion runs "
        "entirely on list-sized frames; the corpus-scale work stays inside "
        "the two retrievers."
    ),
    tags=("corpus", "search", "similarity", "hybrid"),
)
def q212_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.similarity import cosine

    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    emb = t["embeddings"]
    qv = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC_ID).select(
        F.col("embedding").alias("_qvec")
    )
    cos_scored = (
        emb.filter(F.col("vec_id") != _RRF_QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("_qvec")), 6).alias("score"),
        )
    )
    cos_top = (
        cos_scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_RRF_TOPN)
        # BOUNDED window below: ranks the _RRF_TOPN rows the limit kept
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .cast("long"),
        )
        .select("doc_id", "rnk")
    )
    with pin_scope() as scope:
        bm25 = bm25_search(t["documents"], _BM25_QUERY, top_k=_RRF_TOPN).select(
            "doc_id", "rnk"
        )
        out = scope.store(rrf_fuse({"bm25": bm25, "cosine": cos_top}))
    return out.orderBy("rnk")


# ---------------------------------------------------------------------------
# Document-level co-occurrence PMI over the top vocabulary
# ---------------------------------------------------------------------------
_PMI_TOP_V = 30
_PMI_MIN_CO = 5


def cooccurrence_pmi(
    docs: DataFrame,
    top_v: int = _PMI_TOP_V,
    min_co: int = _PMI_MIN_CO,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-level pointwise mutual information between frequent terms:
    ``(term_a, term_b, n_a, n_b, n_ab, pmi)`` for term_a < term_b with
    co-document count ≥ ``min_co``.

    pmi = ln(n_ab·N / (n_a·n_b)) over DOCUMENT cooccurrence (presence,
    not adjacency — the topic-affinity signal, vs q168's adjacent-bigram
    surprise). Positive = the terms ride together across documents.

    Scale shape: the all-pairs explosion is capped BEFORE it happens —
    the distinct (doc, term) stream is semi-joined against the top-``top_v``
    document-frequency vocabulary (a TakeOrdered over the map-combined df
    aggregate, broadcast back), so the per-doc self-join emits at most
    C(top_v, 2) pairs per document regardless of corpus size. Vocabulary
    selection tie-breaks on the term, making the whole output
    deterministic.
    """
    dt = token_stream(docs, id_col, text_col).distinct()
    dfreq = dt.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    vocab = dfreq.orderBy(F.desc("n_t"), F.asc("term")).limit(top_v)
    hits = dt.join(F.broadcast(vocab), "term").select("doc_id", "term", "n_t")
    a = hits.select(
        "doc_id", F.col("term").alias("term_a"), F.col("n_t").alias("n_a")
    )
    b = hits.select(
        "doc_id", F.col("term").alias("term_b"), F.col("n_t").alias("n_b")
    )
    pairs = a.join(b, "doc_id").where(F.col("term_a") < F.col("term_b"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    return (
        pairs.groupBy("term_a", "term_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_co)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(
                F.log(F.col("n_ab") * F.col("nd") / (F.col("n_a") * F.col("n_b"))), 6
            ).alias("pmi"),
        )
    )


@register(
    "q217_cooccurrence_pmi",
    oracle=rf"""
        WITH {_TOKS_SQL},
        dt AS (SELECT DISTINCT doc_id, term FROM toks),
        dfreq AS (SELECT term, COUNT(*) AS n_t FROM dt GROUP BY term),
        vocab AS (
            SELECT term, n_t FROM dfreq
            ORDER BY n_t DESC, term LIMIT {_PMI_TOP_V}
        ),
        hits AS (
            SELECT dt.doc_id, dt.term, v.n_t
            FROM dt JOIN vocab v USING (term)
        ),
        nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
        pairs AS (
            SELECT a.term AS term_a, b.term AS term_b,
                   a.n_t AS n_a, b.n_t AS n_b, COUNT(*) AS n_ab
            FROM hits a JOIN hits b
              ON a.doc_id = b.doc_id AND a.term < b.term
            GROUP BY 1, 2, 3, 4
        )
        SELECT term_a, term_b,
               CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST(n_ab AS BIGINT) AS n_ab,
               ROUND(ln(n_ab * nd.nd / (n_a * n_b)), 6) AS pmi
        FROM pairs CROSS JOIN nd
        WHERE n_ab >= {_PMI_MIN_CO}
        ORDER BY term_a, term_b
    """,
    doc=(
        "document-level co-occurrence PMI over the top-30 vocabulary: which "
        "frequent terms ride together across documents (topic affinity; the "
        "presence-based complement of q168's adjacency surprise). The "
        "pair explosion is vocabulary-capped before it happens — "
        "broadcast-semi-join against a TakeOrdered top-df vocab bounds the "
        "per-doc self-join at C(30,2) pairs."
    ),
    tags=("corpus", "text", "stats"),
)
def q217_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return cooccurrence_pmi(docs).orderBy("term_a", "term_b")


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate per source
# ---------------------------------------------------------------------------
def vocab_coverage(
    docs: DataFrame,
    vocab_size: int = 20,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group coverage of the corpus's top-``vocab_size`` vocabulary.

    Builds the global vocabulary (top-N terms by occurrence count, ties →
    lexicographic) and reports, per ``group_col``: total token occurrences,
    occurrences covered by the vocabulary, the OOV rate, and the distinct
    OOV term count — the tokenizer-fit / domain-shift panel read before
    committing a vocabulary to a heterogeneous corpus.

    Scale shape: one token-stream aggregate builds the term counts
    (map-side partials), the vocabulary cut is a TakeOrderedAndProject
    (never a global sort), and membership rides back as a broadcast left
    join onto the stream — the corpus is scanned once per branch and never
    shuffled on the token. The vocabulary is bounded by construction.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"), F.explode(tokens_expr(text_col)).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(vocab_size)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    cov = toks.join(F.broadcast(vocab), "term", "left")
    return (
        cov.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_tokens"),
            F.sum(F.coalesce(F.col("in_vocab"), F.lit(0))).cast("long").alias("covered"),
            F.round(
                F.lit(1.0)
                - F.sum(F.coalesce(F.col("in_vocab"), F.lit(0))) / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("term"))
            ).cast("long").alias("distinct_oov"),
        )
        .orderBy(group_col)
    )


@register(
    "q222_vocab_coverage",
    oracle=r"""
        WITH toks AS (
            SELECT source AS grp, t.tok AS term
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS t(tok)
        ),
        vocab AS (
            SELECT term FROM (
                SELECT term, COUNT(*) AS n FROM toks GROUP BY term
                ORDER BY n DESC, term LIMIT 20
            )
        ),
        cov AS (
            SELECT t.grp, t.term,
                   CASE WHEN v.term IS NULL THEN 0 ELSE 1 END AS in_vocab
            FROM toks t LEFT JOIN vocab v ON v.term = t.term
        )
        SELECT grp AS source,
               CAST(COUNT(*) AS BIGINT) AS total_tokens,
               CAST(SUM(in_vocab) AS BIGINT) AS covered,
               ROUND(1.0 - SUM(in_vocab) * 1.0 / COUNT(*), 6) AS oov_rate,
               CAST(COUNT(DISTINCT CASE WHEN in_vocab = 0 THEN term END) AS BIGINT)
                   AS distinct_oov
        FROM cov GROUP BY grp ORDER BY grp
    """,
    doc=(
        "vocabulary coverage / OOV panel: per-source token occurrences covered "
        "by the global top-20 vocabulary, OOV rate, distinct OOV terms — the "
        "tokenizer-fit and domain-shift check before committing a vocabulary. "
        "Vocab cut is a TakeOrderedAndProject over map-combined term counts; "
        "membership returns as a broadcast left join, the token stream is "
        "never shuffled on the term for the census itself."
    ),
    tags=("corpus", "text", "tokenizer"),
)
def q222_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return vocab_coverage(docs, vocab_size=20)


# ---------------------------------------------------------------------------
# Snapshot diff (dataset versioning)
# ---------------------------------------------------------------------------
def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    compare_cols: list[str],
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, carry…, status) content diff between two corpus snapshots:
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` per id.

    The what-changed-between-crawls panel (and the input to incremental
    re-processing: only ``added``/``changed`` rows need re-embedding /
    re-scoring). Scale shape: each side collapses its compare columns to
    a 128-bit content hash (two seeded xxhash64 — q98's argument) BEFORE
    the full-outer join, so the shuffle carries 16 bytes + carry columns
    per row, never document payloads; collision odds ~pairs × 2⁻¹²⁸.
    One keyed shuffle total.
    """
    # per-column null markers make the hash null-POSITION-sensitive (bare
    # xxhash64 skips NULL inputs, so (NULL,'a') and ('a',NULL) would hash
    # equal); the salt goes FIRST so h2 starts from a different state —
    # appended, it would make h2 a pure function of h1 (xxhash64 folds
    # left-to-right with the running hash as seed) and the pair only 64-bit
    marked = [
        x
        for c in compare_cols
        for x in (F.isnull(F.col(c)).cast("int"), F.col(c))
    ]

    def side(df: DataFrame, tag: str) -> DataFrame:
        h1 = F.xxhash64(*marked)
        h2 = F.xxhash64(F.lit(0x5F3E), *marked)
        return df.select(
            F.col(id_col).alias("_id"),
            h1.alias(f"_h1{tag}"),
            h2.alias(f"_h2{tag}"),
            *[F.col(c).alias(f"_{c}{tag}") for c in carry_cols],
        )

    j = side(old, "_o").join(side(new, "_n"), "_id", "full_outer")
    status = (
        F.when(F.col("_h1_o").isNull(), F.lit("added"))
        .when(F.col("_h1_n").isNull(), F.lit("removed"))
        .when(
            (F.col("_h1_o") != F.col("_h1_n")) | (F.col("_h2_o") != F.col("_h2_n")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.col("_id").alias(id_col),
        *[
            F.coalesce(F.col(f"_{c}_o"), F.col(f"_{c}_n")).alias(c)
            for c in carry_cols
        ],
        status.alias("status"),
    )


@register(
    "q226_snapshot_diff",
    oracle="""
        WITH a AS (SELECT doc_id, source, text FROM documents),
        b AS (
            SELECT doc_id, source,
                   CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT doc_id + 300000 AS doc_id, source, 'new ' || text AS text
            FROM documents WHERE doc_id % 13 = 0
        ),
        d AS (
            SELECT COALESCE(a.source, b.source) AS source,
                   CASE WHEN a.doc_id IS NULL THEN 'added'
                        WHEN b.doc_id IS NULL THEN 'removed'
                        WHEN a.text <> b.text THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        )
        SELECT source,
               CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS added,
               CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS removed,
               CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS changed,
               CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
        FROM d GROUP BY source ORDER BY source
    """,
    doc=(
        "snapshot diff (dataset versioning): added/removed/changed/unchanged "
        "per source between two corpus snapshots — the what-changed panel and "
        "the work-list source for incremental re-processing. Spark side "
        "compares 128-bit content hashes so the full-outer join shuffles 16 "
        "bytes per row, never text; the oracle compares raw payloads — "
        "identical answers absent 2^-128 collisions (q98's argument, gated)."
    ),
    tags=("corpus", "versioning", "incremental"),
)
def q226_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    a = docs.select("doc_id", "source", "text")
    b = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            "source",
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" rev2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                "source",
                F.concat(F.lit("new "), F.col("text")).alias("text"),
            )
        )
    )
    d = snapshot_diff(a, b, "doc_id", ["text"], carry_cols=("source",))
    agg = [
        F.sum(F.when(F.col("status") == s, 1).otherwise(0)).cast("long").alias(s)
        for s in ("added", "removed", "changed", "unchanged")
    ]
    return d.groupBy("source").agg(*agg).orderBy("source")


# ---------------------------------------------------------------------------
# Deterministic bootstrap confidence intervals (hash-Poisson resampling)
# ---------------------------------------------------------------------------
def bootstrap_mean_ci(
    docs: DataFrame,
    value_col,
    id_col: str = "doc_id",
    n_replicates: int = 200,
    alpha: float = 0.05,
) -> DataFrame:
    """One row: (n_rows, point_mean, n_replicates, ci_lo, ci_hi) — a
    percentile-bootstrap CI for the corpus mean of an INTEGER statistic,
    with zero randomness.

    Poisson bootstrap (the streaming-friendly form: each replicate draws
    every row Poisson(1) times, no global n needed), derandomized: the
    draw count for (row, replicate) comes from an md5 bucket in [0,1000)
    → {0, 1, 2} with Poisson(1)-matched mass (368/368/264‰, the ≥2 tail
    lumped at 2). Every replicate sum is integer-exact, each replicate
    mean is one 6dp division, and the percentile endpoints are
    row_number picks at ceil(α/2·B) / ceil((1−α/2)·B) with the replicate
    id as tiebreak — fully reproducible in any engine, so the whole CI
    hash-gates.

    Scale shape: ONE pass — explode rows × B (B map-combinable partial
    sums per partition), shuffle B rows, a B-row window, two rank picks.
    At 100 TB this is the textbook way to get error bars without a
    second scan or a driver-side sample.
    """
    import math

    b_lo = max(1, math.ceil(alpha / 2 * n_replicates))
    b_hi = math.ceil((1 - alpha / 2) * n_replicates)
    vals = docs.select(
        F.col(id_col).alias("_id"), F.col(value_col).cast("long").alias("x")
    )
    point = vals.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("x") * 1.0 / F.count(F.lit(1)), 6).alias("point_mean"),
    )
    drawn = vals.select(
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(n_replicates - 1))).alias("b"),
        "_id",
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("_id").cast("string"), F.lit(":"), F.col("b").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000,
    ).withColumn(
        "c",
        F.when(F.col("u") < 368, 0).when(F.col("u") < 736, 1).otherwise(2).cast("long"),
    )
    reps = (
        drawn.groupBy("b")
        .agg(F.sum(F.col("c") * F.col("x")).alias("sx"), F.sum("c").alias("sc"))
        # a replicate that drew every row 0 times has no mean: drop it (in
        # BOTH engines — the oracle has the matching HAVING) instead of
        # producing a NULL that Spark's window ranks first and DuckDB's
        # last. Unreachable at corpus scale; matters for tiny inputs.
        .filter(F.col("sc") > 0)
        .select(
            "b", F.round(F.col("sx") * 1.0 / F.col("sc"), 6).alias("m")
        )
    )
    # BOUNDED window: `reps` has exactly n_replicates rows (e.g. 200)
    w = Window.orderBy("m", "b")
    ranked = reps.select("m", F.row_number().over(w).alias("rn"))
    ci = ranked.agg(
        F.sum(F.when(F.col("rn") == b_lo, F.col("m"))).alias("ci_lo"),
        F.sum(F.when(F.col("rn") == b_hi, F.col("m"))).alias("ci_hi"),
    )
    return point.crossJoin(
        ci.select(F.lit(n_replicates).cast("long").alias("n_replicates"), "ci_lo", "ci_hi")
    ).select("n_rows", "point_mean", "n_replicates", "ci_lo", "ci_hi")


_BOOT_B = 200


@register(
    "q249_bootstrap_token_mean_ci",
    oracle=rf"""
        WITH vals AS MATERIALIZED (
            SELECT doc_id AS id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')) AS BIGINT) AS x
            FROM documents
        ),
        point AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   ROUND(SUM(x) * 1.0 / COUNT(*), 6) AS point_mean
            FROM vals
        ),
        drawn AS (
            SELECT v.x, CAST(b.range AS BIGINT) AS b,
                   CAST(('0x' || substr(md5(CAST(v.id AS VARCHAR) || ':' ||
                                            CAST(b.range AS VARCHAR)), 1, 8))
                        AS BIGINT) % 1000 AS u
            FROM vals v, range({_BOOT_B}) b
        ),
        reps AS (
            SELECT b,
                   ROUND(SUM(CASE WHEN u < 368 THEN 0
                                  WHEN u < 736 THEN 1 ELSE 2 END * x) * 1.0
                         / SUM(CASE WHEN u < 368 THEN 0
                                    WHEN u < 736 THEN 1 ELSE 2 END), 6) AS m
            FROM drawn GROUP BY b
            HAVING SUM(CASE WHEN u < 368 THEN 0
                            WHEN u < 736 THEN 1 ELSE 2 END) > 0
        ),
        ranked AS (
            SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM reps
        ),
        ci AS (
            SELECT SUM(CASE WHEN rn = {max(1, (_BOOT_B * 5 + 199) // 200)} THEN m END) AS ci_lo,
                   SUM(CASE WHEN rn = {(_BOOT_B * 195 + 199) // 200} THEN m END) AS ci_hi
            FROM ranked
        )
        SELECT p.n_rows, p.point_mean,
               CAST({_BOOT_B} AS BIGINT) AS n_replicates, c.ci_lo, c.ci_hi
        FROM point p, ci c
    """,
    doc=(
        "derandomized Poisson-bootstrap 95% CI for the corpus mean token "
        "count: 200 replicates whose per-(doc,replicate) draw count is an "
        "md5 bucket mapped to {0,1,2} with Poisson(1) mass — integer "
        "replicate sums, one 6dp division each, percentile endpoints by "
        "row_number. Error bars for any corpus statistic in ONE pass, "
        "no RNG, no second scan, reproducible across engines."
    ),
    tags=("corpus", "stats", "bootstrap", "eval"),
)
def q249_bootstrap_token_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    vals = docs.select("doc_id", F.size(tokens_expr("text")).alias("ntok"))
    return bootstrap_mean_ci(vals, "ntok", id_col="doc_id", n_replicates=_BOOT_B)


# ---------------------------------------------------------------------------
# "Fightin' words" (Monroe, Colaresi & Quinn 2008): what vocabulary makes
# each source DIFFERENT — log-odds with an informative Dirichlet prior
# ---------------------------------------------------------------------------
def fightin_words(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    a0: float = 1000.0,
    top_k: int = 5,
) -> DataFrame:
    """(group, term, n_in_group, z, rnk): the ``top_k`` most
    group-distinctive terms by prior-regularized log-odds z-score —
    δ = ln[(y_gw + a_w)/(n_g + a0 − y_gw − a_w)] − ln[(y_rw + a_w)/(n_r + a0 − y_rw − a_w)],
    z = δ/√(1/(y_gw+a_w) + 1/(y_rw+a_w)), with the informative prior
    a_w = a0·y_w/N (corpus frequencies). Unlike raw TF-IDF or KL terms,
    the prior shrinks rare-word noise and the variance normalizes for
    frequency — the published standard for "what words distinguish
    corpus A from B".

    Scale shape: one token explode → one (group, term) count → one
    term-marginal aggregate joined back (vocabulary-sized) → per-row
    closed-form z → top-k window over groups·vocab rows. Ranking uses
    the ROUNDED z (plus the term as tiebreak) so the cut is
    engine-stable.
    """
    toks = docs.select(
        F.col(group_col).alias("g"), F.explode(tokens_expr(text_col)).alias("term")
    )
    ygw = cache(toks.groupBy("g", "term").agg(F.count(F.lit(1)).alias("ygw")))
    yw = ygw.groupBy("term").agg(F.sum("ygw").alias("yw"))
    ng = ygw.groupBy("g").agg(F.sum("ygw").alias("ng"))
    tot = ygw.agg(F.sum("ygw").alias("nn"))
    j = (
        ygw.join(yw, "term")
        .join(ng, "g")
        .crossJoin(F.broadcast(tot))
        .withColumn("aw", F.lit(a0) * F.col("yw") / F.col("nn"))
        .withColumn("yrw", F.col("yw") - F.col("ygw"))
        .withColumn("nr", F.col("nn") - F.col("ng"))
    )
    delta = F.log(
        (F.col("ygw") + F.col("aw"))
        / (F.col("ng") + F.lit(a0) - F.col("ygw") - F.col("aw"))
    ) - F.log(
        (F.col("yrw") + F.col("aw"))
        / (F.col("nr") + F.lit(a0) - F.col("yrw") - F.col("aw"))
    )
    var = 1.0 / (F.col("ygw") + F.col("aw")) + 1.0 / (F.col("yrw") + F.col("aw"))
    scored = j.select(
        "g", "term", F.col("ygw").cast("long").alias("n_in_group"),
        F.round(delta / F.sqrt(var), 6).alias("z"),
    )
    w = Window.partitionBy("g").orderBy(F.desc("z"), F.asc("term"))
    out = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select(
            F.col("g").alias(group_col),
            "term",
            "n_in_group",
            "z",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
    return out


@register(
    "q259_fightin_words",
    oracle=r"""
        WITH toks AS (
            SELECT source AS g, unnest(
                list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
            ) AS term
            FROM documents
        ),
        ygw AS (SELECT g, term, COUNT(*) AS ygw FROM toks GROUP BY 1, 2),
        yw AS (SELECT term, SUM(ygw) AS yw FROM ygw GROUP BY term),
        ng AS (SELECT g, SUM(ygw) AS ng FROM ygw GROUP BY g),
        tot AS (SELECT SUM(ygw) AS nn FROM ygw),
        scored AS (
            SELECT y.g, y.term, CAST(y.ygw AS BIGINT) AS n_in_group,
                   ROUND(
                       (ln((y.ygw + 1000.0 * w.yw / t.nn)
                           / (n.ng + 1000.0 - y.ygw - 1000.0 * w.yw / t.nn))
                        - ln(((w.yw - y.ygw) + 1000.0 * w.yw / t.nn)
                             / ((t.nn - n.ng) + 1000.0 - (w.yw - y.ygw)
                                - 1000.0 * w.yw / t.nn)))
                       / sqrt(1.0 / (y.ygw + 1000.0 * w.yw / t.nn)
                              + 1.0 / ((w.yw - y.ygw) + 1000.0 * w.yw / t.nn)),
                       6) AS z
            FROM ygw y JOIN yw w USING (term) JOIN ng n USING (g) CROSS JOIN tot t
        )
        SELECT g AS source, term, n_in_group, z, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY g ORDER BY z DESC, term ASC
            ) AS rnk
            FROM scored
        ) q WHERE rnk <= 5
        ORDER BY source, rnk
    """,
    doc=(
        "fightin' words (Monroe et al. 2008): top-5 most distinctive "
        "terms per source by Dirichlet-prior log-odds z-score — the "
        "published corpus-comparison statistic (prior shrinks rare-word "
        "noise, variance normalizes frequency) behind 'what is source X "
        "full of?'. One token explode, vocab-sized joins, closed-form z, "
        "rank on the rounded value."
    ),
    tags=("corpus", "stats", "comparison"),
)
def q259_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    with pin_scope() as scope:
        out = scope.store(fightin_words(docs))
    return out.orderBy("source", "rnk")


# ---------------------------------------------------------------------------
# Held-out perplexity: the train/eval-split form of the q168 bigram LM —
# generalization, not memorization
# ---------------------------------------------------------------------------
def heldout_bigram_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    holdout_mod: int = 7,
    k: float = 0.5,
) -> DataFrame:
    """(group, n_docs, n_bigrams, bits_per_bigram, oov_bigram_rate): the
    add-k bigram LM trained on doc_id % holdout_mod != 0 and SCORED on
    the held-out rest — q168 measures self-surprise (memorization);
    this measures generalization, the number a mixture/filter decision
    should read. Unseen held-out bigrams fall back to the smoothing
    floor (c=0 in both counts), and their rate is reported as
    oov_bigram_rate. V = distinct TRAIN tokens (the model's vocabulary).
    """
    toks_arr = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("g"),
        tokens_expr(text_col).alias("ts"),
    )
    is_held = (F.col("doc_id") % holdout_mod) == 0
    bigr = (
        toks_arr.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            "g",
            is_held.alias("held"),
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2),"
                    " i -> struct(ts[i] AS w1, ts[i+1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "g", "held", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    train = bigr.filter(~F.col("held"))
    bc = cache(train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")))
    cc = bc.groupBy("w1").agg(F.sum("cb").alias("cw"))
    vocab = (
        toks_arr.filter(~is_held)
        .select(F.explode("ts").alias("term"))
        .agg(F.count_distinct("term").cast("double").alias("v"))
    )
    held = (
        bigr.filter(F.col("held"))
        .join(bc, ["w1", "w2"], "left")
        .join(cc, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "g",
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
            F.coalesce(F.col("cw"), F.lit(0)).alias("cw"),
            "v",
        )
    )
    p = (F.col("cb") + F.lit(k)) / (F.col("cw") + F.lit(k) * F.col("v"))
    out = held.groupBy("g").agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg(-F.log2(p)), 6).alias("bits_per_bigram"),
        F.round(
            F.sum((F.col("cb") == 0).cast("long")) * 1.0 / F.count(F.lit(1)), 6
        ).alias("oov_bigram_rate"),
    )
    out = out.select(
        F.col("g").alias(group_col),
        "n_docs",
        "n_bigrams",
        "bits_per_bigram",
        "oov_bigram_rate",
    )
    return out


@register(
    "q260_heldout_perplexity",
    oracle=r"""
        WITH toks_arr AS (
            SELECT doc_id, source AS g, doc_id % 7 = 0 AS held,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
            FROM documents
        ),
        bigr AS (
            SELECT doc_id, g, held,
                   ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
            FROM toks_arr, unnest(generate_series(1, len(ts) - 1)) u(i)
            WHERE len(ts) >= 2
        ),
        bc AS (
            SELECT w1, w2, COUNT(*) AS cb FROM bigr WHERE NOT held GROUP BY 1, 2
        ),
        cc AS (SELECT w1, SUM(cb) AS cw FROM bc GROUP BY w1),
        vv AS (
            SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
            FROM (SELECT unnest(ts) AS tok FROM toks_arr WHERE NOT held)
        ),
        held AS (
            SELECT b.doc_id, b.g,
                   COALESCE(bc.cb, 0) AS cb, COALESCE(cc.cw, 0) AS cw, vv.v
            FROM bigr b
            LEFT JOIN bc USING (w1, w2)
            LEFT JOIN cc USING (w1)
            CROSS JOIN vv
            WHERE b.held
        )
        SELECT g AS source,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(-log2((cb + 0.5) / (cw + 0.5 * v))), 6) AS bits_per_bigram,
               ROUND(SUM(CASE WHEN cb = 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
                   AS oov_bigram_rate
        FROM held
        GROUP BY g
        ORDER BY source
    """,
    doc=(
        "held-out bigram perplexity per source: the q168 add-k LM "
        "trained on the doc_id%7!=0 split and scored on the held-out "
        "rest (7 is coprime with the source cycle, so every source "
        "contributes held docs) "
        "— generalization bits (not self-surprise/memorization) "
        "plus the unseen-bigram rate, the numbers a mixture or filter "
        "decision should actually read. Unseen transitions fall to the "
        "smoothing floor; V = train vocabulary."
    ),
    tags=("corpus", "eval", "lm", "quality"),
)
def q260_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    with pin_scope() as scope:
        out = scope.store(heldout_bigram_report(docs))
    return out.orderBy("source")


# ---------------------------------------------------------------------------
# Rank-exact robust length statistics from value-binned histograms
# ---------------------------------------------------------------------------
def _token_count_bins(docs: DataFrame) -> DataFrame:
    """(source, v, c, cum, n): per-source histogram of whitespace token
    counts with a running cumulative — the shared sufficient statistic for
    rank-exact robust stats (trimmed means, quantile cutoffs) computed
    WITHOUT ranking individual rows: the corpus collapses map-side to one
    row per (source, distinct count value), and every window below runs
    over that bounded bin table (≤ max-doc-token-count rows per source),
    never the corpus."""
    vals = docs.select("source", F.size(tokens_expr("text")).cast("long").alias("v"))
    bins = vals.groupBy("source", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # BOUNDED windows: over the (source, distinct v) bin table
    w_cum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return bins.select(
        "source", "v", "c", F.sum("c").over(w_cum).alias("cum"), F.sum("c").over(w_all).alias("n")
    )


_BINS_SQL = r"""
        vals AS (
            SELECT source,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS BIGINT) AS v
            FROM documents
        ),
        bins AS (
            SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
            FROM vals GROUP BY source, v
        ),
        cums AS (
            SELECT source, v, c,
                   SUM(c) OVER (PARTITION BY source ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(c) OVER (PARTITION BY source) AS n
            FROM bins
        )
"""


def trimmed_mean_tokens(docs: DataFrame, trim_pct: int = 5) -> DataFrame:
    """(source, n_docs, kept_docs, mean_ntok, trimmed_mean_ntok): the
    per-source mean token count with the lowest and highest ``trim_pct``
    percent of documents (by count value, ranked deterministically)
    dropped — the robust length statistic a corpus-health report quotes
    next to the raw mean, immune to the one 10M-token concatenation blob
    that drags the plain average.

    Rank-exact without per-row ranks: from the (source, v) histogram the
    kept slice of each bin is pure integer interval arithmetic
    (ranks lo+1..n-lo intersected with the bin's cumulative range), so
    the trimmed sum is an exact integer and one final 6dp division makes
    the statistic engine-portable. lo = floor(n·pct/100) in identical
    IEEE doubles on both sides.
    """
    bins = _token_count_bins(docs)
    lo = F.floor(F.col("n") * trim_pct / 100.0).cast("long")
    hi = F.col("n") - lo
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), hi)
        - F.greatest(F.col("cum") - F.col("c") + 1, lo + 1)
        + 1,
    )
    return (
        bins.select("source", "v", "c", "n", kept.alias("k"))
        .groupBy("source")
        .agg(
            F.max("n").alias("n_docs"),
            F.sum("k").cast("long").alias("kept_docs"),
            F.round(F.sum(F.col("v") * F.col("c")) * 1.0 / F.max("n"), 6).alias("mean_ntok"),
            F.when(
                F.sum("k") > 0,
                F.round(F.sum(F.col("v") * F.col("k")) * 1.0 / F.sum("k"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("trimmed_mean_ntok"),
        )
    )


@register(
    "q267_trimmed_mean_tokens",
    oracle=f"""
        WITH {_BINS_SQL},
        marked AS (
            SELECT source, v, c, cum, n,
                   CAST(FLOOR(n * 5 / 100.0) AS BIGINT) AS lo
            FROM cums
        ),
        kept AS (
            SELECT source, v, c, n,
                   GREATEST(0, LEAST(cum, n - lo)
                               - GREATEST(cum - c + 1, lo + 1) + 1) AS k
            FROM marked
        )
        SELECT source,
               CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(SUM(k) AS BIGINT) AS kept_docs,
               ROUND(SUM(v * c) * 1.0 / MAX(n), 6) AS mean_ntok,
               CASE WHEN SUM(k) > 0
                    THEN ROUND(SUM(v * k) * 1.0 / SUM(k), 6)
                    ELSE 0.0 END AS trimmed_mean_ntok
        FROM kept
        GROUP BY source
        ORDER BY source
    """,
    doc=(
        "per-source 5%-trimmed mean token count, rank-exact from the "
        "(source, count-value) histogram: the kept slice of each bin is "
        "integer interval arithmetic over cumulative ranks — no per-row "
        "rank window ever runs, the corpus collapses map-side to bounded "
        "bins. The robust length statistic for corpus health reports."
    ),
    tags=("corpus", "stats", "robust"),
)
def q267_trimmed_mean_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return trimmed_mean_tokens(docs).orderBy("source")


def token_deciles_by_source(docs: DataFrame) -> DataFrame:
    """(source, decile, ntok_cutoff): per-source decile cutoffs (type-1 /
    lower-rank quantiles: the smallest value whose cumulative count
    reaches ceil(q·n/10)) of the whitespace token count — the length
    distribution snapshot batch-size planning and mixture design read.

    Same bounded-histogram machinery as :func:`trimmed_mean_tokens`: the
    per-(source, decile) pick is a min over bins passing their target
    rank, exact integer arithmetic end to end.
    """
    bins = _token_count_bins(docs)
    qs = docs.sparkSession.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    target = F.ceil(F.col("decile") * F.col("n") / 10.0).cast("long")
    return (
        bins.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") >= target)
        .groupBy("source", "decile")
        .agg(F.min("v").alias("ntok_cutoff"))
    )


@register(
    "q268_token_deciles_by_source",
    oracle=f"""
        WITH {_BINS_SQL}
        SELECT source, decile, MIN(v) AS ntok_cutoff
        FROM cums, (SELECT CAST(range AS INT) AS decile FROM range(1, 10)) q
        WHERE cum >= CAST(CEIL(decile * n / 10.0) AS BIGINT)
        GROUP BY source, decile
        ORDER BY source, decile
    """,
    doc=(
        "per-source token-count deciles (type-1 quantiles, exact) from "
        "the bounded (source, value) histogram — rank targets hit by "
        "cumulative integer counts, no percentile_approx, no per-row "
        "sort; identical integer picks in both engines."
    ),
    tags=("corpus", "stats", "quantiles"),
)
def q268_token_deciles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return token_deciles_by_source(docs).orderBy("source", "decile")


def mad_outlier_audit(docs: DataFrame, z_cut: float = 3.5) -> DataFrame:
    """(source, n_docs, median_ntok, mad_ntok, n_outliers, outlier_ppm):
    robust per-source length-outlier report using the median/MAD modified
    z-score (Iglewicz & Hoaglin 1993): a document is an outlier when
    0.6745·|v − median| / MAD > ``z_cut`` — the screen that, unlike
    mean/stddev (q116's embedding form), cannot be dragged by the very
    blobs it is hunting.

    Rank-exact and sort-free: both medians are type-1 (lower) quantiles
    read off bounded histograms — token-count bins for the median, then
    |v − median| deviation bins for the MAD — so every statistic is exact
    integer arithmetic and the outlier test compares the two products
    ``0.6745·dev`` vs ``z_cut·MAD`` in one fixed IEEE expression both
    engines evaluate identically (MAD = 0 degenerates to "any deviation
    is an outlier", same rule both sides). Nothing row-ranked: the corpus
    collapses map-side to (source, value) bins and every window runs over
    those bins.
    """
    bins = _token_count_bins(docs)
    target = F.ceil(F.col("n") / 2.0).cast("long")
    med = (
        bins.filter(F.col("cum") >= target)
        .groupBy("source")
        .agg(F.min("v").alias("med"), F.max("n").alias("n"))
    )
    dev = (
        bins.select("source", "v", "c")
        .join(F.broadcast(med), "source")
        .select("source", F.abs(F.col("v") - F.col("med")).alias("dev"), "c")
        .groupBy("source", "dev")
        .agg(F.sum("c").alias("c"))
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev_cums = dev.withColumn("cum", F.sum("c").over(w_cum)).join(
        F.broadcast(med.select("source", "n")), "source"
    )
    mad = (
        dev_cums.filter(F.col("cum") >= target)
        .groupBy("source")
        .agg(F.min("dev").alias("mad"))
    )
    flagged = dev.join(F.broadcast(mad), "source").select(
        "source",
        "c",
        (F.lit(0.6745) * F.col("dev") > F.lit(z_cut) * F.col("mad")).cast("long").alias("is_out"),
    )
    outs = flagged.groupBy("source").agg(F.sum(F.col("c") * F.col("is_out")).alias("n_outliers"))
    return (
        med.join(mad, "source")
        .join(outs, "source")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("med").alias("median_ntok"),
            F.col("mad").alias("mad_ntok"),
            "n_outliers",
            F.expr("CAST(n_outliers * 1000000 DIV n AS BIGINT)").alias("outlier_ppm"),
        )
    )


@register(
    "q331_mad_outlier_audit",
    oracle=f"""
        WITH {_BINS_SQL},
        med AS (
            SELECT source, MIN(v) AS med, MAX(n) AS n
            FROM cums WHERE cum >= CAST(CEIL(n / 2.0) AS BIGINT)
            GROUP BY source
        ),
        dev AS (
            SELECT b.source, ABS(b.v - m.med) AS dev, CAST(SUM(b.c) AS BIGINT) AS c
            FROM bins b JOIN med m ON b.source = m.source
            GROUP BY b.source, ABS(b.v - m.med)
        ),
        dev_cums AS (
            SELECT d.source, d.dev, d.c, m.n,
                   SUM(d.c) OVER (PARTITION BY d.source ORDER BY d.dev
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM dev d JOIN med m ON d.source = m.source
        ),
        mad AS (
            SELECT source, MIN(dev) AS mad
            FROM dev_cums WHERE cum >= CAST(CEIL(n / 2.0) AS BIGINT)
            GROUP BY source
        ),
        outs AS (
            SELECT d.source,
                   CAST(SUM(d.c * CASE WHEN 0.6745 * d.dev > 3.5 * a.mad
                                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM dev d JOIN mad a ON d.source = a.source
            GROUP BY d.source
        )
        SELECT m.source,
               CAST(m.n AS BIGINT) AS n_docs,
               m.med AS median_ntok,
               a.mad AS mad_ntok,
               o.n_outliers,
               CAST(o.n_outliers * 1000000 // m.n AS BIGINT) AS outlier_ppm
        FROM med m JOIN mad a ON m.source = a.source
        JOIN outs o ON m.source = o.source
        ORDER BY m.source
    """,
    doc=(
        "robust length-outlier audit: per-source median + MAD + modified "
        "z-score outlier counts (Iglewicz-Hoaglin 3.5 cut), rank-exact "
        "from bounded value histograms — no per-row rank, no global sort, "
        "immune to the outliers it hunts (unlike mean/stddev screens)."
    ),
    tags=("corpus", "stats", "robust", "outliers"),
)
def q331_mad_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return mad_outlier_audit(docs).orderBy("source")


# ---------------------------------------------------------------------------
# Collocation mining: Dunning log-likelihood ratio (G²) over adjacent bigrams
# ---------------------------------------------------------------------------
def llr_collocations(docs: DataFrame, top_k: int = 20, min_count: int = 5) -> DataFrame:
    """(rnk, w1, w2, k11, cw1, cw2, g2): the corpus's most-associated
    adjacent word pairs by Dunning's log-likelihood ratio (Dunning 1993)
    — the collocation detector that, unlike raw PMI (q217), does not
    blow up on rare pairs: G² weights evidence by count, so 'of the'
    scores on mass and a twice-seen typo pair scores near zero.

    G² = 2·Σ k·ln(k·N / (row·col)) over the 2×2 contingency table of
    (first word = w1) × (second word = w2). Every table entry is an
    exact integer (bigram counts and marginals); the four ln terms are
    evaluated in ONE fixed-order expression (the BLEU convention), so
    both engines do identical IEEE ops and the 6dp round snaps them.

    Scale shape: one bigram explode (corpus-linear), map-combinable
    (w1, w2) counts, two marginal aggregates joined back (vocab-sized),
    N as a broadcast 1-row aggregate, global top-k via orderBy+limit
    (TakeOrderedAndProject) with the rank window over the capped rows.
    """
    toks_arr = docs.select(tokens_expr("text").alias("ts"))
    bigr = (
        toks_arr.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2),"
                    " i -> struct(ts[i] AS w1, ts[i+1] AS w2))"
                )
            ).alias("b")
        )
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    with pin_scope() as scope:
        bc = cache(bigr.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("k11")))
        cw1 = bc.groupBy("w1").agg(F.sum("k11").alias("cw1"))
        cw2 = bc.groupBy("w2").agg(F.sum("k11").alias("cw2"))
        tot = bc.agg(F.sum("k11").cast("double").alias("nn"))

        def term(k, r, c):
            kd = k.cast("double")
            return F.when(k > 0, kd * F.log(kd * F.col("nn") / (r.cast("double") * c.cast("double")))).otherwise(F.lit(0.0))

        k11 = F.col("k11")
        k12 = F.col("cw1") - k11
        k21 = F.col("cw2") - k11
        k22 = (F.col("nn").cast("long")) - F.col("cw1") - F.col("cw2") + k11
        r1, r2 = F.col("cw1"), F.col("nn").cast("long") - F.col("cw1")
        c1, c2 = F.col("cw2"), F.col("nn").cast("long") - F.col("cw2")
        g2 = F.round(
            2.0 * (term(k11, r1, c1) + term(k12, r1, c2) + term(k21, r2, c1) + term(k22, r2, c2)),
            6,
        )
        scored = (
            bc.filter(F.col("k11") >= min_count)
            .join(cw1, "w1")
            .join(cw2, "w2")
            .crossJoin(F.broadcast(tot))
            .select("w1", "w2", "k11", "cw1", "cw2", g2.alias("g2"))
        )
        top = scored.orderBy(F.desc("g2"), F.asc("w1"), F.asc("w2")).limit(top_k)
        # BOUNDED window: ranks only the top_k rows the TakeOrderedAndProject kept
        w = Window.orderBy(F.desc("g2"), F.asc("w1"), F.asc("w2"))
        out = top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
            "rnk", "w1", "w2", "k11", "cw1", "cw2", "g2"
        )
        return scope.store(out)


@register(
    "q269_llr_collocations",
    oracle=r"""
        WITH toks_arr AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
            FROM documents
        ),
        bigr AS (
            SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
            FROM toks_arr, unnest(generate_series(1, len(ts) - 1)) u(i)
            WHERE len(ts) >= 2
        ),
        bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k11 FROM bigr GROUP BY w1, w2),
        m1 AS (SELECT w1, SUM(k11) AS cw1 FROM bc GROUP BY w1),
        m2 AS (SELECT w2, SUM(k11) AS cw2 FROM bc GROUP BY w2),
        tot AS (SELECT CAST(SUM(k11) AS DOUBLE) AS nn FROM bc),
        scored AS (
            SELECT bc.w1, bc.w2, bc.k11, m1.cw1, m2.cw2,
                   ROUND(2.0 * (
                       (CASE WHEN bc.k11 > 0 THEN bc.k11 * ln(bc.k11 * nn / (CAST(m1.cw1 AS DOUBLE) * m2.cw2)) ELSE 0.0 END)
                     + (CASE WHEN m1.cw1 - bc.k11 > 0 THEN (m1.cw1 - bc.k11) * ln((m1.cw1 - bc.k11) * nn / (CAST(m1.cw1 AS DOUBLE) * (nn - m2.cw2))) ELSE 0.0 END)
                     + (CASE WHEN m2.cw2 - bc.k11 > 0 THEN (m2.cw2 - bc.k11) * ln((m2.cw2 - bc.k11) * nn / ((nn - m1.cw1) * CAST(m2.cw2 AS DOUBLE))) ELSE 0.0 END)
                     + (CASE WHEN nn - m1.cw1 - m2.cw2 + bc.k11 > 0 THEN (nn - m1.cw1 - m2.cw2 + bc.k11) * ln((nn - m1.cw1 - m2.cw2 + bc.k11) * nn / ((nn - m1.cw1) * (nn - m2.cw2))) ELSE 0.0 END)
                   ), 6) AS g2
            FROM bc JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
            WHERE bc.k11 >= 5
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY g2 DESC, w1, w2) AS BIGINT) AS rnk,
               w1, w2, k11, CAST(cw1 AS BIGINT) AS cw1, CAST(cw2 AS BIGINT) AS cw2, g2
        FROM scored
        QUALIFY rnk <= 20
        ORDER BY rnk
    """,
    doc=(
        "top-20 collocations by Dunning log-likelihood ratio (G2) over "
        "adjacent bigrams: count-weighted association that complements "
        "q217's PMI (which over-rewards rare pairs). 2x2 contingency "
        "table from exact integer bigram counts + marginals; the four "
        "ln terms in one fixed-order expression, 6dp-snapped."
    ),
    tags=("corpus", "text", "collocation", "stats"),
)
def q269_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return llr_collocations(docs).orderBy("rnk")


# ---------------------------------------------------------------------------
# Heaps' law fit: vocabulary growth V = K·N^beta from one corpus pass
# ---------------------------------------------------------------------------
def heaps_law_fit(docs: DataFrame, n_points: int = 20) -> DataFrame:
    """One row (n_points, beta, k_coeff): the Heaps'-law exponent and
    coefficient of the corpus's vocabulary-growth curve V(N) = K·N^β —
    the statistic that predicts how much NEW vocabulary the next 10×
    of crawl will bring (β ≈ 0.5 for natural text; β near 1 screams
    boilerplate-free noise, β near 0 a closed template vocabulary) and
    sizes tokenizer budgets before training.

    The growth curve needs "vocabulary after the first c documents" at
    ``n_points`` checkpoints — naively n_points corpus scans. Here it is
    ONE pass each over two bounded reductions: a term's contribution to
    every checkpoint is determined by its FIRST-occurrence doc
    (min(doc_id) per term — vocab-sized), and token mass by per-doc
    counts (doc-sized); both tables join the broadcast checkpoint list
    and aggregate to n_points rows. The log-log OLS fit runs over those
    n_points (x, y) pairs with every term 6dp-snapped before summation
    (ROUND(SUM) exact-decimal convention), closed form — no iterations.
    """
    sess = docs.sparkSession
    toks = docs.select("doc_id", F.explode(tokens_expr("text")).alias("term"))
    first_seen = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    per_doc = docs.select(
        "doc_id", F.size(tokens_expr("text")).cast("long").alias("ntok")
    )
    n_row = docs.agg(F.count(F.lit(1)).alias("nd"))
    ck = (
        sess.range(1, n_points + 1)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(n_row))
        .select("k", F.floor(F.col("nd") * F.col("k") / n_points).cast("long").alias("cut"))
    )
    vocab_k = (
        first_seen.crossJoin(F.broadcast(ck))
        .filter(F.col("fd") < F.col("cut"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    tokens_k = (
        per_doc.crossJoin(F.broadcast(ck))
        .filter(F.col("doc_id") < F.col("cut"))
        .groupBy("k")
        .agg(F.sum("ntok").cast("long").alias("nt"))
    )
    pts = (
        vocab_k.join(tokens_k, "k")
        .filter((F.col("v") > 0) & (F.col("nt") > 0))
        .select(
            F.round(F.log(F.col("nt").cast("double")), 6).alias("x"),
            F.round(F.log(F.col("v").cast("double")), 6).alias("y"),
        )
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("double").alias("np"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.round(F.col("x") * F.col("y"), 6)), 6).alias("sxy"),
        F.round(F.sum(F.round(F.col("x") * F.col("x"), 6)), 6).alias("sxx"),
    )
    beta = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    lnk = (F.col("sy") - beta * F.col("sx")) / F.col("np")
    return fit.select(
        F.col("np").cast("long").alias("n_points"),
        F.round(beta, 6).alias("beta"),
        F.round(F.exp(lnk), 6).alias("k_coeff"),
    )


@register(
    "q281_heaps_law_fit",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, t.tok AS term
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS t(tok)
        ),
        first_seen AS (SELECT term, MIN(doc_id) AS fd FROM toks GROUP BY term),
        per_doc AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS BIGINT) AS ntok
            FROM documents
        ),
        nd AS (SELECT COUNT(*) AS nd FROM documents),
        ck AS (
            SELECT CAST(r.range AS BIGINT) AS k,
                   CAST(FLOOR(nd.nd * r.range / 20.0) AS BIGINT) AS cut
            FROM range(1, 21) r CROSS JOIN nd
        ),
        vocab_k AS (
            SELECT ck.k, CAST(COUNT(*) AS BIGINT) AS v
            FROM first_seen, ck WHERE fd < cut GROUP BY ck.k
        ),
        tokens_k AS (
            SELECT ck.k, CAST(SUM(ntok) AS BIGINT) AS nt
            FROM per_doc, ck WHERE doc_id < cut GROUP BY ck.k
        ),
        pts AS (
            SELECT ROUND(ln(CAST(nt AS DOUBLE)), 6) AS x,
                   ROUND(ln(CAST(v AS DOUBLE)), 6) AS y
            FROM vocab_k JOIN tokens_k USING (k)
            WHERE v > 0 AND nt > 0
        ),
        fit AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS np,
                   ROUND(SUM(x), 6) AS sx,
                   ROUND(SUM(y), 6) AS sy,
                   ROUND(SUM(ROUND(x * y, 6)), 6) AS sxy,
                   ROUND(SUM(ROUND(x * x, 6)), 6) AS sxx
            FROM pts
        )
        SELECT CAST(np AS BIGINT) AS n_points,
               ROUND((np * sxy - sx * sy) / (np * sxx - sx * sx), 6) AS beta,
               ROUND(exp((sy - ((np * sxy - sx * sy) / (np * sxx - sx * sx)) * sx) / np), 6) AS k_coeff
        FROM fit
    """,
    doc=(
        "Heaps'-law vocabulary-growth fit V = K*N^beta from ONE corpus "
        "pass: per-term first-occurrence doc + per-doc token counts joined "
        "to 20 broadcast checkpoints (never 20 scans), then a closed-form "
        "log-log OLS over the 20 points with 6dp-snapped terms. Predicts "
        "new-vocabulary yield of the next crawl 10x and sizes tokenizer "
        "budgets."
    ),
    tags=("corpus", "stats", "vocabulary"),
)
def q281_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return heaps_law_fit(docs)


# ---------------------------------------------------------------------------
# Spearman rank correlation from value histograms (tie-averaged, exact)
# ---------------------------------------------------------------------------
def spearman_corr(
    pairs: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """One row ``(n, spearman_rho)``: tie-averaged Spearman rank
    correlation of two integer features — WITHOUT ranking rows. The
    average rank of every row with value v is fully determined by the
    VALUE HISTOGRAM (rank = #{u < v} + (cnt(v)+1)/2, the q267 trick), so
    ranks come from two bounded histogram passes + two broadcast joins,
    never a global row sort.

    Exactness: doubled ranks 2r are exact longs; every moment is summed
    as DECIMAL(38,0) (order-free exact in both engines at any corpus
    size — a BIGINT sum of rank-cubed-scale products overflows past
    ~1.5e9 rows); the correlation is assembled in ONE fixed-order IEEE
    expression on the exact sums (the doubling cancels), rounded 6dp.

    BOUNDED windows: cumulative counts over the two value histograms —
    rows = distinct feature values (≤ max document length here), not
    corpus size.
    """
    pr = pairs.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))

    def rank2(vals: DataFrame, col: str) -> DataFrame:
        h = vals.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        # BOUNDED window: over the distinct-value histogram
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return h.select(
            col,
            (2 * (F.sum("cnt").over(w) - F.col("cnt")) + F.col("cnt") + 1).alias(
                f"r2{col}"
            ),
        )

    rx = rank2(pr.select("x"), "x")
    ry = rank2(pr.select("y"), "y")
    ranked = pr.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y")
    dec = "decimal(38,0)"
    # cast EACH OPERAND to decimal BEFORE multiplying: a BIGINT product of
    # rank-squared-scale terms overflows past ~1.5e9 rows (Spark wraps
    # silently, DuckDB raises) — decimal×decimal keeps the exactness claim
    d2x, d2y = F.col("r2x").cast(dec), F.col("r2y").cast(dec)
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d2x).alias("sx"),
        F.sum(d2y).alias("sy"),
        F.sum((d2x * d2x).cast(dec)).alias("sxx"),
        F.sum((d2y * d2y).cast(dec)).alias("syy"),
        F.sum((d2x * d2y).cast(dec)).alias("sxy"),
    )
    # every operand cast to double BEFORE any arithmetic — the exact IEEE
    # op sequence the oracle spells out (a decimal×decimal intermediate
    # would round at a different point than DuckDB's double multiply)
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    return m.select(
        "n",
        F.when(
            (nd * sxx - sx * sx > 0) & (nd * syy - sy * sy > 0),
            F.round(
                (nd * sxy - sx * sy)
                / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
                6,
            ),
        ).alias("spearman_rho"),
    )


@register(
    "q286_spearman_chars_tokens",
    oracle=r"""
        WITH feats AS (
            SELECT CAST(length(text) AS BIGINT) AS x,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS BIGINT) AS y
            FROM documents
        ),
        hx AS (
            SELECT x, COUNT(*) AS cnt FROM feats GROUP BY x
        ),
        rx AS (
            SELECT x, 2 * (SUM(cnt) OVER (ORDER BY x
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
                       + cnt + 1 AS r2x
            FROM hx
        ),
        hy AS (
            SELECT y, COUNT(*) AS cnt FROM feats GROUP BY y
        ),
        ry AS (
            SELECT y, 2 * (SUM(cnt) OVER (ORDER BY y
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
                       + cnt + 1 AS r2y
            FROM hy
        ),
        ranked AS (
            SELECT f.x, f.y, rx.r2x, ry.r2y
            FROM feats f JOIN rx USING (x) JOIN ry USING (y)
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(r2x AS DECIMAL(38,0))) AS sx,
                   SUM(CAST(r2y AS DECIMAL(38,0))) AS sy,
                   SUM(CAST(CAST(r2x AS DECIMAL(38,0)) * CAST(r2x AS DECIMAL(38,0))
                            AS DECIMAL(38,0))) AS sxx,
                   SUM(CAST(CAST(r2y AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0))
                            AS DECIMAL(38,0))) AS syy,
                   SUM(CAST(CAST(r2x AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0))
                            AS DECIMAL(38,0))) AS sxy
            FROM ranked
        )
        SELECT n,
               CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
                     AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
                    THEN ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                               / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                               6)
               END AS spearman_rho
        FROM m
    """,
    doc=(
        "tie-averaged Spearman rank correlation of (chars, tokens) per "
        "document WITHOUT ranking rows: average ranks derived from the "
        "two value histograms (the q267 cumulative-rank trick), moments "
        "summed as DECIMAL(38,0) (order-free exact at any scale), one "
        "fixed-order IEEE assembly. The monotone-association companion "
        "to q96's Pearson — robust to the heavy length tail."
    ),
    tags=("corpus", "stats"),
)
def q286_spearman_chars_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    pairs = docs.select(
        F.length("text").cast("long").alias("x"),
        F.size(tokens_expr("text")).cast("long").alias("y"),
    )
    return spearman_corr(pairs)


# ---------------------------------------------------------------------------
# Hill tail-index estimator over the token-count distribution
# ---------------------------------------------------------------------------
_HILL_K = 100


def hill_tail_index(counts: DataFrame, k: int = _HILL_K) -> DataFrame:
    """One row ``(k, x_kplus1, sum_micro, alpha_hill)``: the Hill
    estimator of the power-law tail index over positive integer values
    ``v`` — α̂ = k / Σ_{i=1..k} ln(x_(i)/x_(k+1)) on the k largest
    values. The heavy-tail sanity check run before trusting mean-based
    corpus statistics (α ≤ 2 ⇒ infinite variance: means are noise).

    The top-(k+1) selection compiles to TakeOrderedAndProject (no global
    sort); x_(k+1) is the min of the selected rows, and since
    ln(x/x) = 0 the boundary row — and ANY row tied with it — contributes
    nothing, so the result depends only on the selected multiset of
    VALUES, never on which tied rows an engine picked. Each ln term is
    snapped to a 6dp scaled long before the exact integer sum.
    """
    pos = counts.select(F.col("v").cast("long").alias("v"), "doc_id").where(F.col("v") > 0)
    top = pos.orderBy(F.desc("v"), "doc_id").limit(k + 1)
    xk = top.agg(F.min("v").alias("xk"))
    summed = (
        top.crossJoin(F.broadcast(xk))
        .select(
            F.round(F.log(F.col("v") / F.col("xk")) * 1e6).cast("long").alias("t_micro"),
            "xk",
        )
        .groupBy("xk")
        .agg(F.sum("t_micro").cast("long").alias("sum_micro"))
    )
    return summed.select(
        F.lit(k).cast("long").alias("k"),
        F.col("xk").alias("x_kplus1"),
        "sum_micro",
        F.when(
            F.col("sum_micro") > 0,
            F.round(F.lit(k) * 1e6 / F.col("sum_micro"), 6),
        ).alias("alpha_hill"),
    )


@register(
    "q287_hill_tail_index",
    oracle=rf"""
        WITH cnts AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS BIGINT) AS v
            FROM documents
        ),
        top AS (
            SELECT v FROM cnts WHERE v > 0
            ORDER BY v DESC, doc_id LIMIT {_HILL_K + 1}
        ),
        xk AS (SELECT MIN(v) AS xk FROM top),
        s AS (
            SELECT xk.xk,
                   CAST(SUM(CAST(ROUND(LN(CAST(v AS DOUBLE) / xk.xk) * 1e6)
                                 AS BIGINT)) AS BIGINT) AS sum_micro
            FROM top, xk GROUP BY xk.xk
        )
        SELECT CAST({_HILL_K} AS BIGINT) AS k,
               xk AS x_kplus1,
               sum_micro,
               CASE WHEN sum_micro > 0
                    THEN ROUND({_HILL_K} * 1e6 / sum_micro, 6)
               END AS alpha_hill
        FROM s
    """,
    doc=(
        "Hill tail-index estimator over per-document token counts: "
        "alpha = k / sum ln(x_i/x_(k+1)) on the top-100 order statistics "
        "(TakeOrderedAndProject, never a global sort) — the heavy-tail "
        "audit run before trusting mean token statistics (alpha <= 2 "
        "means infinite variance). Boundary-tie-proof by construction "
        "(tied rows contribute ln(1) = 0); ln terms snapped to 6dp longs "
        "before the exact sum."
    ),
    tags=("corpus", "stats"),
)
def q287_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    cnts = docs.select("doc_id", F.size(tokens_expr("text")).cast("long").alias("v"))
    return hill_tail_index(cnts, k=_HILL_K)


# ---------------------------------------------------------------------------
# Good-Turing unseen-mass estimate (the Heaps-fit q281's companion)
# ---------------------------------------------------------------------------
def good_turing_unseen(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row ``(n_tokens, vocab, n1, n2, p_unseen, r1_star)``: the
    Turing estimate of unseen-vocabulary mass — the probability the NEXT
    token drawn from this corpus's source is a word never seen here is
    n₁/N (the singleton share), and the Good-Turing adjusted count for
    singletons is r₁* = 2·n₂/n₁. q281's Heaps fit extrapolates HOW MANY
    new types the next crawl adds; this prices how much probability mass
    they carry — the pair decides whether a corpus is big enough to
    stop crawling.

    One term-count aggregate, one bounded frequency-of-frequencies
    aggregate; exact integers to two rounded ratios.
    """
    tf = token_stream(docs, text_col=text_col).groupBy("term").agg(
        F.count(F.lit(1)).alias("c")
    )
    return tf.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    ).select(
        "n_tokens",
        "vocab",
        "n1",
        "n2",
        F.round(F.col("n1").cast("double") / F.col("n_tokens"), 6).alias("p_unseen"),
        F.when(
            F.col("n1") > 0,
            F.round(2.0 * F.col("n2") / F.col("n1"), 6),
        ).alias("r1_star"),
    )


@register(
    "q295_good_turing_unseen",
    oracle=rf"""
        WITH {_TOKS_SQL.strip()},
        tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term)
        SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / SUM(c), 6) AS p_unseen,
               CASE WHEN SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0
                    THEN ROUND(2.0 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                               / SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 6)
               END AS r1_star
        FROM tf
    """,
    doc=(
        "Good-Turing unseen-mass estimate: P(next token is a NEW type) = "
        "n1/N from the frequency-of-frequencies, plus the adjusted "
        "singleton count r1* = 2*n2/n1 — prices the probability mass of "
        "the vocabulary q281's Heaps fit says the next crawl will add. "
        "One term aggregate + one bounded rollup, integers to two ratios."
    ),
    tags=("corpus", "stats"),
)
def q295_good_turing_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return good_turing_unseen(docs)


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov from value histograms (exact argmax)
# ---------------------------------------------------------------------------
def ks_two_sample(
    a_vals: DataFrame, b_vals: DataFrame, col: str = "v"
) -> DataFrame:
    """One row ``(na, nb, d, at_value)``: the two-sample KS statistic
    D = max_v |F_a(v) − F_b(v)| with the value where the gap peaks —
    the strongest distribution-shift test between two corpora's length
    (or any integer-feature) distributions; PSI (q294) needs binning
    choices, KS does not.

    Exactness: the argmax compares |ca·nb − cb·na| as EXACT integers
    (cross-multiplied CDFs — no division until the one reported ratio),
    over cumulative counts from the two value histograms full-joined on
    the value domain. BOUNDED windows: rows = distinct feature values.
    """
    ha = a_vals.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("ca0"))
    hb = b_vals.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("cb0"))
    full = (
        ha.join(hb, "v", "full")
        .select(
            "v",
            F.coalesce("ca0", F.lit(0)).alias("ca0"),
            F.coalesce("cb0", F.lit(0)).alias("cb0"),
        )
    )
    # BOUNDED window: over the union value histogram
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = full.select(
        "v", F.sum("ca0").over(w).alias("ca"), F.sum("cb0").over(w).alias("cb")
    )
    tot = full.agg(
        F.sum("ca0").cast("long").alias("na"), F.sum("cb0").cast("long").alias("nb")
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "na",
        "nb",
        F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
        .cast("long")
        .alias("gap"),
    )
    return (
        gaps.orderBy(F.desc("gap"), "v")
        .limit(1)
        .select(
            "na",
            "nb",
            F.round(F.col("gap").cast("double") / (F.col("na") * F.col("nb")), 6).alias(
                "d"
            ),
            F.col("v").cast("long").alias("at_value"),
        )
    )


@register(
    "q313_ks_source_shift",
    oracle=r"""
        WITH feats AS (
            SELECT source,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS BIGINT) AS v
            FROM documents
        ),
        ha AS (SELECT v, COUNT(*) AS ca0 FROM feats WHERE source = 'src0' GROUP BY v),
        hb AS (SELECT v, COUNT(*) AS cb0 FROM feats WHERE source <> 'src0' GROUP BY v),
        fullh AS (
            SELECT COALESCE(ha.v, hb.v) AS v,
                   COALESCE(ca0, 0) AS ca0, COALESCE(cb0, 0) AS cb0
            FROM ha FULL JOIN hb ON ha.v = hb.v
        ),
        cum AS (
            SELECT v,
                   SUM(ca0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
                   SUM(cb0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
            FROM fullh
        ),
        tot AS (
            SELECT CAST(SUM(ca0) AS BIGINT) AS na, CAST(SUM(cb0) AS BIGINT) AS nb
            FROM fullh
        )
        SELECT na, nb,
               ROUND(CAST(ABS(ca * nb - cb * na) AS DOUBLE) / (na * nb), 6) AS d,
               CAST(v AS BIGINT) AS at_value
        FROM cum, tot
        ORDER BY ABS(ca * nb - cb * na) DESC, v
        LIMIT 1
    """,
    doc=(
        "two-sample Kolmogorov-Smirnov between src0's and the rest of "
        "the corpus's token-count distributions: D and its argmax value "
        "via EXACT cross-multiplied integer CDFs from the bounded value "
        "histograms (no division until the one reported ratio, no "
        "binning choices unlike PSI q294) — the strongest "
        "distribution-shift audit in the drift family."
    ),
    tags=("corpus", "stats", "anomaly"),
)
def q313_ks_source_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    feats = docs.select("source", F.size(tokens_expr("text")).cast("long").alias("v"))
    return ks_two_sample(
        feats.where(F.col("source") == "src0").select("v"),
        feats.where(F.col("source") != "src0").select("v"),
    )


# ---------------------------------------------------------------------------
# Capture-recapture (Chapman) vocabulary estimate
# ---------------------------------------------------------------------------
def capture_recapture_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row ``(n1, n2, overlap, union_vocab, chapman_estimate,
    coverage)``: the Chapman capture-recapture estimate of TOTAL
    vocabulary from two corpus halves (even/odd doc_ids) — treat half A
    as the tagging pass, half B as the recapture: V̂ = (n1+1)(n2+1)/
    (m+1) − 1. The third vocabulary-completeness lens next to Heaps
    (q281, growth-curve fit) and Good-Turing (q295, unseen mass);
    coverage = observed union / V̂ says how much of the estimated
    vocabulary this corpus already holds.

    One (term, which-halves) aggregate — bitwise OR of half flags, so
    the whole estimate reads off four counts; exact integers to two
    rounded ratios.
    """
    ts = token_stream(docs, text_col=text_col)
    # doc parity rides on the doc_id carried by token_stream
    flags = (
        ts.select(
            "term",
            F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0).alias("in_a"),
            F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0).alias("in_b"),
        )
        .groupBy("term")
        .agg(F.max("in_a").alias("a"), F.max("in_b").alias("b"))
    )
    c = flags.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("overlap"),
        F.count(F.lit(1)).cast("long").alias("union_vocab"),
    )
    chap = (
        (F.col("n1") + 1).cast("double")
        * (F.col("n2") + 1)
        / (F.col("overlap") + 1)
        - 1
    )
    return c.select(
        "n1",
        "n2",
        "overlap",
        "union_vocab",
        F.round(chap, 6).alias("chapman_estimate"),
        F.round(F.col("union_vocab") / chap, 6).alias("coverage"),
    )


@register(
    "q315_capture_recapture_vocab",
    oracle=rf"""
        WITH {_TOKS_SQL.strip()},
        flags AS (
            SELECT term,
                   MAX(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS a,
                   MAX(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS b
            FROM toks GROUP BY term
        ),
        c AS (
            SELECT CAST(SUM(a) AS BIGINT) AS n1,
                   CAST(SUM(b) AS BIGINT) AS n2,
                   CAST(SUM(a * b) AS BIGINT) AS overlap,
                   CAST(COUNT(*) AS BIGINT) AS union_vocab
            FROM flags
        )
        SELECT n1, n2, overlap, union_vocab,
               ROUND(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (overlap + 1) - 1, 6)
                   AS chapman_estimate,
               ROUND(union_vocab
                     / (CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (overlap + 1) - 1), 6)
                   AS coverage
        FROM c
    """,
    doc=(
        "Chapman capture-recapture estimate of total vocabulary from "
        "the even/odd corpus halves: V = (n1+1)(n2+1)/(m+1) - 1, plus "
        "observed-union coverage — the third completeness lens next to "
        "the Heaps fit (q281) and Good-Turing unseen mass (q295). One "
        "per-term half-flag aggregate; four counts decide everything."
    ),
    tags=("corpus", "stats"),
)
def q315_capture_recapture_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return capture_recapture_vocab(docs)


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between per-source unigram distributions
# ---------------------------------------------------------------------------
_JSD_VOCAB = 200


def js_divergence_sources(
    docs: DataFrame, vocab_k: int = _JSD_VOCAB, source_col: str = "source"
) -> DataFrame:
    """(source_a, source_b, jsd_nats) per source pair, a < b: the
    Jensen-Shannon divergence between the two sources' unigram
    distributions over the corpus-global top-``vocab_k`` terms plus one
    ``__oov__`` bucket absorbing the tail — symmetric, bounded by ln 2,
    the categorical companion to q294's binned PSI (PSI needs a
    continuous feature; source drift in TEXT is a distribution over
    words). Lin (1991).

    Scale shape: (source, term) counts are map-combinable; the vocab is
    a TakeOrderedAndProject top-k (deterministic term tiebreak) and the
    probability grid is DENSE over sources × (vocab ∪ oov) — a bounded
    k·(V+1) frame where absent counts coalesce to 0, so the pair join
    needs no outer-join null handling. Cross-engine exactness: each
    term's contribution x·ln(x/m) is snapped to a 1e-9-scaled long and
    the pair sum is an exact integer fold (float SUMMATION ORDER never
    reaches the hash), assembled and rounded to 6dp at the end.
    """
    toks = docs.select(F.col(source_col).alias("src"), F.explode(tokens_expr("text")).alias("term"))
    with pin_scope() as scope:
        counts = cache(toks.groupBy("src", "term").agg(F.count(F.lit(1)).alias("n")))
        vocab = (
            counts.groupBy("term")
            .agg(F.sum("n").alias("tot"))
            .orderBy(F.desc("tot"), "term")
            .limit(vocab_k)
            .select("term")
        )
        in_vocab = counts.join(F.broadcast(vocab), "term")
        src_tot = counts.groupBy("src").agg(F.sum("n").alias("n_src"))
        oov = (
            src_tot.join(
                in_vocab.groupBy("src").agg(F.sum("n").alias("n_in")), "src", "left"
            )
            .select(
                "src",
                F.lit("__oov__").alias("term"),
                (F.col("n_src") - F.coalesce(F.col("n_in"), F.lit(0))).alias("n"),
            )
        )
        cats = vocab.unionByName(
            docs.sparkSession.createDataFrame([("__oov__",)], "term string")
        )
        # dense grid: every (source, category) cell present, zeros included
        grid = (
            src_tot.select("src", "n_src")
            .crossJoin(F.broadcast(cats))
            .join(in_vocab.unionByName(oov), ["src", "term"], "left")
            .select(
                "src",
                "term",
                (F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("n_src")).alias("p"),
            )
        )
        a = grid.select(F.col("src").alias("source_a"), "term", F.col("p").alias("pa"))
        b = grid.select(F.col("src").alias("source_b"), "term", F.col("p").alias("pb"))
        pairs = a.join(b, "term").filter(F.col("source_a") < F.col("source_b"))
        m = (F.col("pa") + F.col("pb")) / 2.0
        term_f = lambda x: F.when(x > 0, x * F.log(x / m)).otherwise(F.lit(0.0))  # noqa: E731
        contrib = F.round((term_f(F.col("pa")) + term_f(F.col("pb"))) / 2.0 * 1e9).cast("long")
        return scope.store(
            pairs.select("source_a", "source_b", contrib.alias("c"))
            .groupBy("source_a", "source_b")
            .agg(F.round(F.sum("c") / 1e9, 6).alias("jsd_nats"))
            .orderBy("source_a", "source_b")
        )


@register(
    "q317_js_divergence_sources",
    oracle=rf"""
        WITH toks AS (
            SELECT source AS src, t.tok AS term
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS t(tok)
        ),
        counts AS (SELECT src, term, COUNT(*) AS n FROM toks GROUP BY src, term),
        vocab AS (
            SELECT term FROM (
                SELECT term, SUM(n) AS tot FROM counts GROUP BY term
                ORDER BY tot DESC, term LIMIT {_JSD_VOCAB}
            )
        ),
        src_tot AS (SELECT src, SUM(n) AS n_src FROM counts GROUP BY src),
        in_vocab AS (SELECT c.src, c.term, c.n FROM counts c JOIN vocab USING (term)),
        oov AS (
            SELECT s.src, '__oov__' AS term,
                   s.n_src - COALESCE(iv.n_in, 0) AS n
            FROM src_tot s LEFT JOIN (
                SELECT src, SUM(n) AS n_in FROM in_vocab GROUP BY src
            ) iv USING (src)
        ),
        cats AS (SELECT term FROM vocab UNION ALL SELECT '__oov__'),
        grid AS (
            SELECT s.src, c.term,
                   CAST(COALESCE(u.n, 0) AS DOUBLE) / s.n_src AS p
            FROM src_tot s CROSS JOIN cats c
            LEFT JOIN (SELECT * FROM in_vocab UNION ALL SELECT * FROM oov) u
              ON u.src = s.src AND u.term = c.term
        ),
        pairs AS (
            SELECT a.src AS source_a, b.src AS source_b, a.term,
                   a.p AS pa, b.p AS pb
            FROM grid a JOIN grid b ON a.term = b.term AND a.src < b.src
        ),
        contribs AS (
            SELECT source_a, source_b,
                   CAST(ROUND((
                       (CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2.0)) ELSE 0.0 END)
                     + (CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2.0)) ELSE 0.0 END)
                   ) / 2.0 * 1e9) AS BIGINT) AS c
            FROM pairs
        )
        SELECT source_a, source_b, ROUND(SUM(c) / 1e9, 6) AS jsd_nats
        FROM contribs GROUP BY source_a, source_b
        ORDER BY source_a, source_b
    """,
    doc=(
        "Jensen-Shannon divergence between every pair of sources' "
        "unigram distributions (top-200 vocab + __oov__ bucket) — the "
        "categorical source-drift lens next to q294's binned PSI. Dense "
        "bounded probability grid, per-term contributions snapped to "
        "1e-9 longs so the sum is order-free exact."
    ),
    tags=("corpus", "stats", "drift"),
)
def q317_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return js_divergence_sources(docs)


# ---------------------------------------------------------------------------
# Nucleus vocabulary size (smallest vocab prefix covering p% of tokens)
# ---------------------------------------------------------------------------
_NUCLEUS_PCTS = (50, 90, 99)


def nucleus_vocab_size(docs: DataFrame, pcts: tuple[int, ...] = _NUCLEUS_PCTS) -> DataFrame:
    """(p, nucleus_terms, vocab_size, n_tokens) per coverage target p:
    the smallest number of distinct terms (taken most-frequent-first)
    whose occurrences cover ≥ p% of all tokens — the "how head-heavy is
    this corpus" summary between q113's Zipf slope and q290's raw
    vocabulary count (a tiny nucleus at p=90 means a tokenizer/filter
    tuned on head terms sees almost everything; a huge one means the
    tail carries real mass).

    NO vocab-sized sort: terms with equal frequency are interchangeable,
    so the answer lives in the freq-of-freq histogram. With cum(f) =
    mass of all strictly-higher frequencies, exactly ONE histogram row
    straddles the target (cum·100 < T·p ≤ (cum+f·k)·100) and the term
    count is cum_terms + ceil((T·p − 100·cum)/(100·f)) — all BIGINT
    (T·p ≤ ~1e16·100 at a 100 TB corpus, inside int64).

    BOUNDED window: cumulative sums over the freq-of-freq histogram —
    rows = distinct frequency VALUES, never vocab- or corpus-sized.
    """
    toks = docs.select(F.explode(tokens_expr("text")).alias("term"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    h = freq.groupBy("f").agg(F.count(F.lit(1)).alias("k"))
    w = Window.orderBy(F.desc("f")).rowsBetween(Window.unboundedPreceding, -1)
    cum = h.select(
        "f",
        "k",
        F.coalesce(F.sum(F.col("f") * F.col("k")).over(w), F.lit(0)).alias("cum_mass"),
        F.coalesce(F.sum("k").over(w), F.lit(0)).alias("cum_terms"),
    )
    tot = h.agg(
        F.sum(F.col("f") * F.col("k")).cast("long").alias("n_tokens"),
        F.sum("k").cast("long").alias("vocab_size"),
    )
    ps = docs.sparkSession.createDataFrame([(p,) for p in pcts], "p long")
    straddle = (
        cum.crossJoin(F.broadcast(ps))
        .crossJoin(F.broadcast(tot))
        .filter(
            (F.col("cum_mass") * 100 < F.col("n_tokens") * F.col("p"))
            & ((F.col("cum_mass") + F.col("f") * F.col("k")) * 100 >= F.col("n_tokens") * F.col("p"))
        )
        .select(
            "p",
            # integer `div`, not float `/`: n_tokens·p reaches ~1e18 at a
            # 100 TB corpus, past double's 2^53 exact-integer range
            F.expr(
                "cum_terms + (n_tokens * p - 100 * cum_mass + 100 * f - 1) div (100 * f)"
            )
            .cast("long")
            .alias("nucleus_terms"),
            "vocab_size",
            "n_tokens",
        )
    )
    return straddle.orderBy("p")


@register(
    "q320_nucleus_vocab_size",
    oracle=rf"""
        WITH {_TOKS_SQL},
        freq AS (SELECT term, COUNT(*) AS f FROM toks GROUP BY term),
        h AS (SELECT f, COUNT(*) AS k FROM freq GROUP BY f),
        cum AS (
            SELECT f, k,
                   COALESCE(SUM(f * k) OVER (ORDER BY f DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_mass,
                   COALESCE(SUM(k) OVER (ORDER BY f DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_terms
            FROM h
        ),
        tot AS (SELECT CAST(SUM(f * k) AS BIGINT) AS n_tokens,
                       CAST(SUM(k) AS BIGINT) AS vocab_size FROM h),
        ps(p) AS (VALUES (50), (90), (99))
        SELECT CAST(p AS BIGINT) AS p,
               CAST(cum_terms + (n_tokens * p - 100 * cum_mass + 100 * f - 1)
                    // (100 * f) AS BIGINT) AS nucleus_terms,
               vocab_size,
               n_tokens
        FROM cum CROSS JOIN ps CROSS JOIN tot
        WHERE cum_mass * 100 < n_tokens * p
          AND (cum_mass + f * k) * 100 >= n_tokens * p
        ORDER BY p
    """,
    doc=(
        "nucleus vocabulary size at 50/90/99% token coverage: smallest "
        "most-frequent-first term count covering p% of occurrences, "
        "rank-exact from the freq-of-freq histogram (the q268 cumulative "
        "trick) — no vocab-sized sort anywhere."
    ),
    tags=("corpus", "stats"),
)
def q320_nucleus_vocab_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return nucleus_vocab_size(docs)


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) two-sample test from histograms
# ---------------------------------------------------------------------------
def mann_whitney_u(a_vals: DataFrame, b_vals: DataFrame, col: str = "v") -> DataFrame:
    """One row ``(na, nb, u2x, auc, z)``: the Mann-Whitney U test between
    two integer-feature samples — the rank companion to q313's KS (KS
    sees the worst single gap; U sees the whole-distribution shift and
    doubles as AUC: P(X > Y) + ½P(X = Y)). Mann & Whitney 1947.

    NO row ranking: with value histograms c_a(v), c_b(v),
    2·U_a = Σ_v c_a(v)·(2·C_b(<v) + c_b(v)) — exact BIGINT throughout
    (the doubling absorbs the ½ tie credit, the q286 doubled-rank
    trick). The normal approximation uses the tie-corrected variance
    σ² = (na·nb/12)·((n+1) − Σ(t³−t)/(n(n−1))) with every moment an
    exact integer sum; z is ONE fixed-order IEEE assembly, 6dp. auc =
    U_a/(na·nb), the probability a random a-value exceeds a random
    b-value (ties half-credited).

    BOUNDED windows: cumulative counts over the union value histogram —
    rows = distinct feature values, never corpus-sized.
    """
    ha = a_vals.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("ca"))
    hb = b_vals.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("cb"))
    full = ha.join(hb, "v", "full").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    # BOUNDED window: over the union value histogram
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = full.select(
        "v",
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(w), F.lit(0)).alias("cb_lt"),
        (F.col("ca") + F.col("cb")).alias("t"),
    )
    m = cum.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("ca") * (2 * F.col("cb_lt") + F.col("cb"))).cast("long").alias("u2x"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("long").alias("tie3"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    n = na + nb
    u = F.col("u2x").cast("double") / 2.0
    var = (na * nb / 12.0) * ((n + 1.0) - F.col("tie3").cast("double") / (n * (n - 1.0)))
    return m.select(
        "na",
        "nb",
        "u2x",
        F.round(u / (na * nb), 6).alias("auc"),
        F.when(
            var > 0, F.round((u - na * nb / 2.0) / F.sqrt(var), 6)
        ).alias("z"),
    )


@register(
    "q329_mann_whitney_sources",
    oracle=r"""
        WITH feats AS (
            SELECT source,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS BIGINT) AS v
            FROM documents
        ),
        ha AS (SELECT v, COUNT(*) AS ca FROM feats WHERE source = 'src0' GROUP BY v),
        hb AS (SELECT v, COUNT(*) AS cb FROM feats WHERE source <> 'src0' GROUP BY v),
        full_h AS (
            SELECT COALESCE(ha.v, hb.v) AS v,
                   COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
            FROM ha FULL JOIN hb ON ha.v = hb.v
        ),
        cum AS (
            SELECT v, ca, cb,
                   COALESCE(SUM(cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb_lt,
                   ca + cb AS t
            FROM full_h
        ),
        m AS (
            SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb,
                   CAST(SUM(ca * (2 * cb_lt + cb)) AS BIGINT) AS u2x,
                   CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
            FROM cum
        )
        SELECT na, nb, u2x,
               ROUND((u2x / 2.0) / (CAST(na AS DOUBLE) * nb), 6) AS auc,
               CASE WHEN (CAST(na AS DOUBLE) * nb / 12.0)
                         * ((CAST(na AS DOUBLE) + nb + 1.0)
                            - tie3 / ((CAST(na AS DOUBLE) + nb)
                                      * (CAST(na AS DOUBLE) + nb - 1.0))) > 0
                    THEN ROUND((u2x / 2.0 - CAST(na AS DOUBLE) * nb / 2.0)
                               / sqrt((CAST(na AS DOUBLE) * nb / 12.0)
                                      * ((CAST(na AS DOUBLE) + nb + 1.0)
                                         - tie3 / ((CAST(na AS DOUBLE) + nb)
                                                   * (CAST(na AS DOUBLE) + nb - 1.0)))), 6)
               END AS z
        FROM m
    """,
    doc=(
        "Mann-Whitney U / rank-sum test of src0 vs the rest on token "
        "counts WITHOUT ranking rows: 2U from the doubled-tie identity "
        "over the union value histogram (exact BIGINT), tie-corrected "
        "normal z in one fixed-order assembly, plus the AUC reading "
        "P(X>Y)+half-ties — the whole-shift companion to q313's "
        "worst-gap KS."
    ),
    tags=("corpus", "stats", "drift"),
)
def q329_mann_whitney_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    feats = docs.select("source", F.size(tokens_expr("text")).cast("long").alias("v"))
    return mann_whitney_u(
        feats.where(F.col("source") == "src0").select("v"),
        feats.where(F.col("source") != "src0").select("v"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (lang × source contingency)
# ---------------------------------------------------------------------------
def chi_square_independence(
    docs: DataFrame, row_col: str = "lang", col_col: str = "source"
) -> DataFrame:
    """One row ``(n, n_row_cats, n_col_cats, dof, chi2)``: Pearson's
    chi-square test of independence over the ``row_col`` × ``col_col``
    contingency table — "is language mix independent of source?", the
    census-level audit run before stratifying anything on either field
    (Pearson 1900).

    Exactness: each cell's term is (o·n − r·c)²/(n·r·c) with the square
    taken in DECIMAL(38,0) (o·n reaches ~1e24 at a 100 TB corpus — past
    BIGINT), one IEEE division per cell snapped to a 1e-6-scaled long,
    then an exact integer sum. The table is category-bounded (langs ×
    sources), so every frame past the first aggregate is tiny.
    """
    sparse = docs.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows = sparse.groupBy("r").agg(F.sum("o").alias("rt"))
    cols = sparse.groupBy("c").agg(F.sum("o").alias("ct"))
    tot = sparse.agg(F.sum("o").cast("long").alias("n"))
    # DENSE grid: an absent (r, c) cell is an OBSERVED ZERO and still
    # contributes rt·ct/n to chi-square — the sparse groupBy alone
    # undercounts (a diagonal-only 2×2 would read 20, not 40)
    cells = (
        rows.crossJoin(cols)
        .join(sparse, ["r", "c"], "left")
        .select("r", "c", "rt", "ct", F.coalesce("o", F.lit(0)).alias("o"))
    )
    dec = "decimal(38,0)"
    j = cells.crossJoin(F.broadcast(tot))
    num = (F.col("o") * F.col("n") - F.col("rt") * F.col("ct")).cast(dec)
    term = (num * num).cast(dec).cast("double") / (
        F.col("n").cast("double") * F.col("rt") * F.col("ct")
    )
    agg = j.agg(
        F.max("n").alias("n"),
        F.count_distinct("r").cast("long").alias("n_row_cats"),
        F.count_distinct("c").cast("long").alias("n_col_cats"),
        F.sum(F.round(term * 1e6).cast("long")).alias("chi2_micro"),
    )
    return agg.select(
        "n",
        "n_row_cats",
        "n_col_cats",
        ((F.col("n_row_cats") - 1) * (F.col("n_col_cats") - 1)).alias("dof"),
        F.round(F.col("chi2_micro") / 1e6, 6).alias("chi2"),
    )


@register(
    "q330_chi_square_lang_source",
    oracle="""
        WITH cells AS (
            SELECT lang AS r, source AS c, COUNT(*) AS o
            FROM documents GROUP BY lang, source
        ),
        rows_t AS (SELECT r, SUM(o) AS rt FROM cells GROUP BY r),
        cols_t AS (SELECT c, SUM(o) AS ct FROM cells GROUP BY c),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        dense AS (
            SELECT rows_t.r, cols_t.c, rt, ct, COALESCE(cells.o, 0) AS o
            FROM rows_t CROSS JOIN cols_t
            LEFT JOIN cells ON cells.r = rows_t.r AND cells.c = cols_t.c
        ),
        j AS (SELECT o, rt, ct, n FROM dense CROSS JOIN tot),
        terms AS (
            SELECT n, rt, ct,
                   CAST(ROUND(CAST(CAST(CAST(o * n - rt * ct AS DECIMAL(38,0))
                                        * CAST(o * n - rt * ct AS DECIMAL(38,0))
                                   AS DECIMAL(38,0)) AS DOUBLE)
                              / (CAST(n AS DOUBLE) * rt * ct) * 1e6) AS BIGINT) AS t_micro
            FROM j
        ),
        m AS (
            SELECT MAX(n) AS n,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_t) AS n_row_cats,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM cols_t) AS n_col_cats,
                   SUM(t_micro) AS chi2_micro
            FROM terms
        )
        SELECT n, n_row_cats, n_col_cats,
               (n_row_cats - 1) * (n_col_cats - 1) AS dof,
               ROUND(chi2_micro / 1e6, 6) AS chi2
        FROM m
    """,
    doc=(
        "Pearson chi-square independence of lang x source: contingency "
        "cells, DECIMAL(38,0) squared numerators (o*n overflows BIGINT "
        "at 100 TB), per-cell terms snapped to 1e-6 longs for an "
        "order-free exact sum — the stratification-sanity audit."
    ),
    tags=("corpus", "stats", "quality"),
)
def q330_chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return chi_square_independence(docs)


# ---------------------------------------------------------------------------
# Adjusted Rand index between two categorical partitions
# ---------------------------------------------------------------------------
def adjusted_rand_index(
    df: DataFrame, col_a: str = "lang", col_b: str = "source"
) -> DataFrame:
    """One row ``(n, n_a_cats, n_b_cats, ari)``: the Adjusted Rand Index
    (Hubert & Arabie 1985) between the partitions induced by two
    categorical columns — the chance-corrected pair-counting agreement
    that complements q330's chi-square (chi-square asks "independent?",
    ARI asks "the same partition?"; purity/NMI in q283 are not
    chance-corrected).

    With contingency cells n_ij, row sums a_i, col sums b_j, total n and
    s_x = Σ x(x−1) (twice the pair count):
    ARI = (2·s_cells·s_tot − 2·s_rows·s_cols)
        / (s_tot·(s_rows + s_cols) − 2·s_rows·s_cols).
    The s-sums are computed exactly in DECIMAL(38,0) (x(x−1) ~ 1e24 at a
    100 TB corpus — past BIGINT); the final ratio runs in IEEE doubles
    (its operands are ~1e48 — no integer type holds them; relative error
    ~1e-16 against the 6dp rounding) — mirrored in the oracle. Cost
    shape: one category-bounded aggregate; everything after is cells-sized.
    Degenerate single-category-both-sides input nulls (0/0) explicitly.
    """
    dec = "decimal(38,0)"
    sparse = df.groupBy(F.col(col_a).alias("r"), F.col(col_b).alias("c")).agg(
        F.count(F.lit(1)).alias("o")
    )
    pairs2 = lambda x: (x.cast(dec) * (x.cast(dec) - 1)).cast(dec)  # noqa: E731
    cells = sparse.agg(
        F.sum(pairs2(F.col("o"))).alias("s_cells"),
        F.sum("o").cast("long").alias("n"),
        F.count_distinct("r").cast("long").alias("n_a_cats"),
        F.count_distinct("c").cast("long").alias("n_b_cats"),
    )
    rows = (
        sparse.groupBy("r")
        .agg(F.sum("o").alias("rt"))
        .agg(F.sum(pairs2(F.col("rt"))).alias("s_rows"))
    )
    cols = (
        sparse.groupBy("c")
        .agg(F.sum("o").alias("ct"))
        .agg(F.sum(pairs2(F.col("ct"))).alias("s_cols"))
    )
    j = cells.crossJoin(F.broadcast(rows)).crossJoin(F.broadcast(cols))
    s_tot = (F.col("n").cast(dec) * (F.col("n").cast(dec) - 1)).cast(dec).cast("double")
    s_cells = F.col("s_cells").cast("double")
    s_rows = F.col("s_rows").cast("double")
    s_cols = F.col("s_cols").cast("double")
    num = 2.0 * s_cells * s_tot - 2.0 * s_rows * s_cols
    den = s_tot * (s_rows + s_cols) - 2.0 * s_rows * s_cols
    return j.select(
        "n",
        "n_a_cats",
        "n_b_cats",
        F.when(den != 0.0, F.round(num / den, 6)).otherwise(None).alias("ari"),
    )


@register(
    "q339_ari_lang_source",
    oracle="""
        WITH cells AS (
            SELECT lang AS r, source AS c, COUNT(*) AS o
            FROM documents GROUP BY lang, source
        ),
        sc AS (
            SELECT SUM(CAST(o AS DECIMAL(38,0)) * (CAST(o AS DECIMAL(38,0)) - 1)) AS s_cells,
                   CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT r) AS BIGINT) AS n_a_cats,
                   CAST(COUNT(DISTINCT c) AS BIGINT) AS n_b_cats
            FROM cells
        ),
        sr AS (
            SELECT SUM(CAST(rt AS DECIMAL(38,0)) * (CAST(rt AS DECIMAL(38,0)) - 1)) AS s_rows
            FROM (SELECT SUM(o) AS rt FROM cells GROUP BY r)
        ),
        scl AS (
            SELECT SUM(CAST(ct AS DECIMAL(38,0)) * (CAST(ct AS DECIMAL(38,0)) - 1)) AS s_cols
            FROM (SELECT SUM(o) AS ct FROM cells GROUP BY c)
        )
        SELECT n, n_a_cats, n_b_cats,
               CASE WHEN CAST(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) - 1) AS DOUBLE)
                         * (CAST(s_rows AS DOUBLE) + CAST(s_cols AS DOUBLE))
                         - 2.0 * CAST(s_rows AS DOUBLE) * CAST(s_cols AS DOUBLE) <> 0.0
                    THEN ROUND(
                        (2.0 * CAST(s_cells AS DOUBLE)
                             * CAST(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) - 1) AS DOUBLE)
                         - 2.0 * CAST(s_rows AS DOUBLE) * CAST(s_cols AS DOUBLE))
                        / (CAST(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) - 1) AS DOUBLE)
                             * (CAST(s_rows AS DOUBLE) + CAST(s_cols AS DOUBLE))
                           - 2.0 * CAST(s_rows AS DOUBLE) * CAST(s_cols AS DOUBLE)), 6)
                    ELSE NULL END AS ari
        FROM sc CROSS JOIN sr CROSS JOIN scl
    """,
    doc=(
        "Adjusted Rand Index between the lang and source partitions "
        "(Hubert-Arabie chance-corrected pair counting): decimal-exact "
        "pair sums, IEEE final ratio — complements chi-square (q330) and "
        "purity/NMI (q283)."
    ),
    tags=("corpus", "stats", "eval"),
)
def q339_ari_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return adjusted_rand_index(docs)


# ---------------------------------------------------------------------------
# Wasserstein-1 length-distribution shift per source (bucketed earth mover)
# ---------------------------------------------------------------------------
def wasserstein_length_shift(
    sized: DataFrame, group_col: str = "source", value_col: str = "n_tokens"
) -> DataFrame:
    """Per group ``(group, n_src, n_rest, w1_buckets)``: the earth-mover
    (Wasserstein-1) distance between the group's ``value_col``
    distribution and the REST of the corpus, over the power-of-2 bucket
    discretization (bucket = bit length of the value, the q326 grid; W1
    on that support with unit spacing = Σ_b |CDF_src(b) − CDF_rest(b)| —
    the standard histogram EMD; the discretization is the documented
    resolution limit).

    W1 complements the existing shift statistics where each is blind:
    KS (q313) reads only the WORST bucket, PSI (q294/q332) and JS (q317)
    score mass ratios but not DISTANCE (mass moved two buckets costs the
    same as mass moved ten); W1 charges transport × distance — the right
    alarm for "this source's docs got systematically longer".

    Exactness: per-bucket CDFs never materialize as floats — the
    difference is the cross-multiplied integer
    |ck_s·(n_t−n_s) − (ck_t−ck_s)·n_s| in DECIMAL(38,0) (products reach
    ~1e24 at 100 TB), one IEEE division per bucket snapped to a
    1e-6-scaled long, exact integer sum (the q330 convention). Cost
    shape: one corpus aggregate to the (group, bucket) histogram
    (≤64 buckets/group); everything after is histogram-sized. A
    single-source corpus has no rest distribution — explicit NULL
    (the q333 guard), mirrored in the oracle.
    """
    dec = "decimal(38,0)"
    b = sized.select(
        F.col(group_col).alias("grp"),
        F.length(F.bin(F.col(value_col).cast("long"))).cast("long").alias("bucket"),
    ).filter(F.col(value_col) > 0)
    h = b.groupBy("grp", "bucket").agg(F.count(F.lit(1)).alias("k"))
    # dense (grp × bucket) grid: a bucket absent from one side still
    # carries the other side's cumulative mass difference
    grid = h.select("grp").distinct().crossJoin(h.select("bucket").distinct())
    dense = grid.join(h, ["grp", "bucket"], "left").select(
        "grp", "bucket", F.coalesce("k", F.lit(0)).alias("k")
    )
    w = Window.partitionBy("grp").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dense.select("grp", "bucket", "k", F.sum("k").over(w).alias("ck_s"))
    # corpus-total cumulative per bucket (bounded: ≤64 rows)
    tot_h = dense.groupBy("bucket").agg(F.sum("k").alias("kt"))
    wt = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot_cum = tot_h.select("bucket", F.sum("kt").over(wt).alias("ck_t"))
    n_s = cum.groupBy("grp").agg(F.sum("k").cast("long").alias("n_src"))
    n_t = dense.agg(F.sum("k").cast("long").alias("n_tot"))
    j = (
        cum.join(F.broadcast(tot_cum), "bucket")
        .join(F.broadcast(n_s), "grp")
        .crossJoin(F.broadcast(n_t))
    )
    num = (
        F.col("ck_s").cast(dec) * (F.col("n_tot") - F.col("n_src")).cast(dec)
        - (F.col("ck_t") - F.col("ck_s")).cast(dec) * F.col("n_src").cast(dec)
    ).cast(dec)
    # the ANSI-safe guard runs INSIDE the per-bucket term: for a
    # single-source corpus n_tot == n_src and the divisor is 0 — the
    # outer NULL projection never evaluates it
    term = F.when(
        F.col("n_tot") > F.col("n_src"),
        F.abs(num.cast("double"))
        / (F.col("n_src").cast("double") * (F.col("n_tot") - F.col("n_src")).cast("double")),
    )
    out = j.groupBy("grp", "n_src", "n_tot").agg(
        F.sum(F.round(term * 1e6).cast("long")).alias("_w1_micro")
    )
    return out.select(
        F.col("grp"),
        "n_src",
        (F.col("n_tot") - F.col("n_src")).alias("n_rest"),
        F.when(
            F.col("n_tot") > F.col("n_src"), F.round(F.col("_w1_micro") / 1e6, 6)
        ).otherwise(None).alias("w1_buckets"),
    )


@register(
    "q340_wasserstein_length_shift",
    oracle="""
        WITH sized AS (
            SELECT source AS grp,
                   len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS v
            FROM documents
        ),
        b AS (
            SELECT grp, CAST(length(bin(v)) AS BIGINT) AS bucket
            FROM sized WHERE v > 0
        ),
        h AS (SELECT grp, bucket, COUNT(*) AS k FROM b GROUP BY grp, bucket),
        grid AS (
            SELECT g.grp, u.bucket
            FROM (SELECT DISTINCT grp FROM h) g
            CROSS JOIN (SELECT DISTINCT bucket FROM h) u
        ),
        dense AS (
            SELECT grid.grp, grid.bucket, COALESCE(h.k, 0) AS k
            FROM grid LEFT JOIN h ON h.grp = grid.grp AND h.bucket = grid.bucket
        ),
        cum AS (
            SELECT grp, bucket, k,
                   SUM(k) OVER (PARTITION BY grp ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck_s
            FROM dense
        ),
        tot_cum AS (
            SELECT bucket,
                   SUM(kt) OVER (ORDER BY bucket
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck_t
            FROM (SELECT bucket, SUM(k) AS kt FROM dense GROUP BY bucket)
        ),
        ns AS (SELECT grp, CAST(SUM(k) AS BIGINT) AS n_src FROM dense GROUP BY grp),
        nt AS (SELECT CAST(SUM(k) AS BIGINT) AS n_tot FROM dense),
        terms AS (
            SELECT cum.grp, ns.n_src, nt.n_tot,
                   CAST(ROUND(ABS(CAST(CAST(cum.ck_s AS DECIMAL(38,0)) * (nt.n_tot - ns.n_src)
                                      - CAST(tot_cum.ck_t - cum.ck_s AS DECIMAL(38,0)) * ns.n_src
                                      AS DOUBLE))
                              / (CAST(ns.n_src AS DOUBLE) * (nt.n_tot - ns.n_src)) * 1e6)
                        AS BIGINT) AS t_micro
            FROM cum
            JOIN tot_cum USING (bucket)
            JOIN ns ON ns.grp = cum.grp
            CROSS JOIN nt
            WHERE nt.n_tot > ns.n_src
        )
        SELECT dense_out.grp AS grp, dense_out.n_src,
               dense_out.n_tot - dense_out.n_src AS n_rest,
               CASE WHEN dense_out.n_tot > dense_out.n_src
                    THEN ROUND(t.w1_micro / 1e6, 6) ELSE NULL END AS w1_buckets
        FROM (SELECT ns.grp, ns.n_src, nt.n_tot FROM ns CROSS JOIN nt) dense_out
        LEFT JOIN (SELECT grp, SUM(t_micro) AS w1_micro FROM terms GROUP BY grp) t
               ON t.grp = dense_out.grp
        ORDER BY dense_out.grp
    """,
    doc=(
        "Wasserstein-1 (earth-mover) token-length shift per source vs the "
        "rest of the corpus over power-of-2 buckets — transport×distance "
        "drift, complementing KS (worst bucket), PSI and JS (distance-"
        "blind); decimal cross-multiplied CDFs, 1e-6-snapped exact sum."
    ),
    tags=("corpus", "stats", "drift"),
)
def q340_wasserstein_length_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import doc_stats_cached

    sized = doc_stats_cached(spark, sf_dir).select("source", "n_tokens")
    return wasserstein_length_shift(sized).orderBy("grp")


# ---------------------------------------------------------------------------
# Vocabulary–source mutual information (global source-specificity number)
# ---------------------------------------------------------------------------
def vocab_source_mi(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """One row ``(n_tokens, n_terms, n_groups, h_term_bits, mi_bits,
    mi_ratio)``: the mutual information I(term; group) of the corpus
    token stream in bits, plus the term entropy H(term) and the ratio
    I/H ∈ [0, 1] (the fraction of vocabulary information that is
    source-identifying).

    I = Σ_{t,g} p(t,g)·log2(p(t,g)·N / (c_t·c_g / N)) over observed
    cells — the single-number decomposition behind the pairwise shift
    statistics: fightin'-words (q259) and JS (q317) compare source PAIRS;
    MI answers "how much does knowing the source tell you about the next
    token" for the WHOLE mixture, which is the number a dedup/mixing
    policy wants before deciding whether source tags belong in training
    metadata. I = 0 iff every source shares one token distribution.

    Exactness: per-cell terms are IEEE log2s of integer-count ratios
    snapped to 1e-6-scaled longs and exactly summed (q330 convention).
    Cost shape: ONE pass over the exploded stream into the (term, group)
    aggregate; the term and group margins derive from it map-side —
    nothing after the first aggregate is corpus-sized.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"), F.explode(tokens_expr(text_col)).alias("term")
    )
    with pin_scope() as scope:
        tg = cache(toks.groupBy("term", "grp").agg(F.count(F.lit(1)).alias("c")))
        t_m = tg.groupBy("term").agg(F.sum("c").alias("ct"))
        g_m = tg.groupBy("grp").agg(F.sum("c").alias("cg"))
        n = tg.agg(F.sum("c").cast("long").alias("n"))
        j = (
            tg.join(t_m, "term")
            .join(F.broadcast(g_m), "grp")
            .crossJoin(F.broadcast(n))
        )
        # p(t,g)·log2( p(t,g) / (p(t)p(g)) ) scaled by N: c/N · log2(c·N/(ct·cg))
        mi_term = (F.col("c") / F.col("n")) * (
            F.log2(F.col("c").cast("double") * F.col("n").cast("double"))
            - F.log2(F.col("ct").cast("double") * F.col("cg").cast("double"))
        )
        h_term = (F.col("c") / F.col("n")) * -F.log2(F.col("ct").cast("double") / F.col("n"))
        agg = j.agg(
            F.max("n").alias("n_tokens"),
            F.count_distinct("term").cast("long").alias("n_terms"),
            F.count_distinct("grp").cast("long").alias("n_groups"),
            F.sum(F.round(mi_term * 1e6).cast("long")).alias("_mi_micro"),
            F.sum(F.round(h_term * 1e6).cast("long")).alias("_h_micro"),
        )
        out = agg.select(
            "n_tokens",
            "n_terms",
            "n_groups",
            F.round(F.col("_h_micro") / 1e6, 6).alias("h_term_bits"),
            F.round(F.col("_mi_micro") / 1e6, 6).alias("mi_bits"),
            F.when(
                F.col("_h_micro") > 0,
                F.round(F.col("_mi_micro") / F.col("_h_micro").cast("double"), 6),
            ).otherwise(None).alias("mi_ratio"),
        )
        return scope.store(out)


@register(
    "q341_vocab_source_mi",
    oracle=r"""
        WITH toks AS (
            SELECT source AS grp, t.tok AS term
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS t(tok)
        ),
        tg AS (SELECT term, grp, COUNT(*) AS c FROM toks GROUP BY term, grp),
        tm AS (SELECT term, SUM(c) AS ct FROM tg GROUP BY term),
        gm AS (SELECT grp, SUM(c) AS cg FROM tg GROUP BY grp),
        nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tg),
        terms AS (
            SELECT tg.c, tm.ct, gm.cg, nn.n,
                   CAST(ROUND((tg.c / CAST(nn.n AS DOUBLE))
                              * (log2(CAST(tg.c AS DOUBLE) * nn.n)
                                 - log2(CAST(tm.ct AS DOUBLE) * gm.cg)) * 1e6)
                        AS BIGINT) AS mi_micro,
                   CAST(ROUND((tg.c / CAST(nn.n AS DOUBLE))
                              * -log2(CAST(tm.ct AS DOUBLE) / nn.n) * 1e6)
                        AS BIGINT) AS h_micro
            FROM tg JOIN tm USING (term) JOIN gm USING (grp) CROSS JOIN nn
        )
        SELECT MAX(n) AS n_tokens,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM tm) AS n_terms,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM gm) AS n_groups,
               ROUND(SUM(h_micro) / 1e6, 6) AS h_term_bits,
               ROUND(SUM(mi_micro) / 1e6, 6) AS mi_bits,
               CASE WHEN SUM(h_micro) > 0
                    THEN ROUND(SUM(mi_micro) / CAST(SUM(h_micro) AS DOUBLE), 6)
                    ELSE NULL END AS mi_ratio
        FROM terms
    """,
    doc=(
        "mutual information I(term; source) in bits + H(term) + the "
        "source-specificity ratio I/H — the global 'does the source tag "
        "carry vocabulary information' audit behind the pairwise shift "
        "stats; one (term, source) aggregate, snapped exact sums."
    ),
    tags=("corpus", "stats", "drift"),
)
def q341_vocab_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return vocab_source_mi(docs)


# ---------------------------------------------------------------------------
# Vocabulary churn between ingest halves (top-K turnover)
# ---------------------------------------------------------------------------
def vocab_churn(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """One row ``(k, n_terms_h0, n_terms_h1, overlap_topk, jaccard_topk,
    churn)``: turnover of the top-``k`` vocabulary between the two
    deterministic ingest halves (``doc_id`` parity — the q198 split).

    Heaps-law fits (q281) say how fast NEW terms arrive; capture-
    recapture (q315) sizes the unseen tail; churn asks the operational
    question neither answers: did the HEAD of the distribution — the
    terms a tokenizer/vocab build actually keeps — change between
    batches? jaccard_topk = |A∩B|/|A∪B| over the two top-k sets,
    churn = 1 − overlap/k. Top-k per half is rank-by-(count desc, term)
    via TakeOrderedAndProject on the vocab-sized aggregate — no global
    sort, no window over the corpus; the k-row frames join broadcast.
    """
    toks = docs.select(
        (F.col(id_col) % 2).alias("h"), F.explode(tokens_expr(text_col)).alias("term")
    )
    with pin_scope() as scope:
        counts = cache(toks.groupBy("h", "term").agg(F.count(F.lit(1)).alias("c")))
        tops = [
            counts.filter(F.col("h") == i)
            .orderBy(F.desc("c"), F.asc("term"))
            .limit(k)
            .select(F.col("term").alias(f"t{i}"))
            for i in (0, 1)
        ]
        n_terms = counts.groupBy("h").agg(F.count(F.lit(1)).alias("nt"))
        inter = tops[0].join(tops[1], tops[0].t0 == tops[1].t1, "inner").agg(
            F.count(F.lit(1)).cast("long").alias("overlap_topk")
        )
        n0 = n_terms.filter(F.col("h") == 0).select(F.col("nt").cast("long").alias("n_terms_h0"))
        n1 = n_terms.filter(F.col("h") == 1).select(F.col("nt").cast("long").alias("n_terms_h1"))
        sizes = [t.agg(F.count(F.lit(1)).cast("long").alias(f"k{i}")) for i, t in enumerate(tops)]
        out = (
            n0.crossJoin(F.broadcast(n1))
            .crossJoin(F.broadcast(inter))
            .crossJoin(F.broadcast(sizes[0]))
            .crossJoin(F.broadcast(sizes[1]))
            .select(
                F.lit(k).cast("long").alias("k"),
                "n_terms_h0",
                "n_terms_h1",
                "overlap_topk",
                F.round(
                    F.col("overlap_topk")
                    / (F.col("k0") + F.col("k1") - F.col("overlap_topk")).cast("double"),
                    6,
                ).alias("jaccard_topk"),
                F.round(1.0 - F.col("overlap_topk") / F.least("k0", "k1").cast("double"), 6).alias(
                    "churn"
                ),
            )
        )
        return scope.store(out)


@register(
    "q344_vocab_churn_halves",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id % 2 AS h, t.tok AS term
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS t(tok)
        ),
        counts AS (SELECT h, term, COUNT(*) AS c FROM toks GROUP BY h, term),
        ranked AS (
            SELECT h, term,
                   ROW_NUMBER() OVER (PARTITION BY h ORDER BY c DESC, term) AS rnk
            FROM counts
        ),
        t0 AS (SELECT term FROM ranked WHERE h = 0 AND rnk <= 100),
        t1 AS (SELECT term FROM ranked WHERE h = 1 AND rnk <= 100),
        onum AS (SELECT CAST(COUNT(*) AS BIGINT) AS overlap_topk
                 FROM t0 JOIN t1 USING (term)),
        sizes AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM counts WHERE h = 0) AS n_terms_h0,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM counts WHERE h = 1) AS n_terms_h1,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM t0) AS k0,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS k1
        )
        SELECT CAST(100 AS BIGINT) AS k, n_terms_h0, n_terms_h1, overlap_topk,
               ROUND(overlap_topk * 1.0 / (k0 + k1 - overlap_topk), 6) AS jaccard_topk,
               ROUND(1.0 - overlap_topk * 1.0 / LEAST(k0, k1), 6) AS churn
        FROM sizes CROSS JOIN onum
    """,
    doc=(
        "top-100 vocabulary turnover between the doc_id-parity ingest "
        "halves (overlap, Jaccard, churn): the head-of-distribution "
        "stability check a vocab build wants, complementing Heaps growth "
        "(q281) and capture-recapture tail size (q315); TakeOrdered top-k, "
        "no corpus window."
    ),
    tags=("corpus", "stats", "drift"),
)
def q344_vocab_churn_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return vocab_churn(docs)
