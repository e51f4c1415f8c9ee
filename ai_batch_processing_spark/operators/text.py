"""Text analysis for training-data pipelines: language ID, quality scoring,
token counting, document fingerprinting.

All hot paths are pure Catalyst expressions (split / regexp / aggregate) —
no Python touches the data, so these run at scan speed and every one of
them is SQL-oracle-checkable. The reference has no text analytics (its only
string ops are trim/split/replace, SURVEY.md §2.8); these are BASELINE.json
north-star extensions.
"""

from __future__ import annotations

import functools

import pandas as pd  # noqa: F401 — pandas-UDF type hints resolve against it

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_batch_processing_spark.jobs import cache, pin, pin_scope
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables

# Tiny per-language stopword anchors for the n-gram/stopword-voting
# heuristic. Deliberately small and hard-coded: deterministic, dependency-free.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "avec"],
}

_WORD_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish: words / numbers / solo punct


def tokens_expr(text: Column | str) -> Column:
    """Lowercased whitespace tokens (empty tokens dropped)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count.

    Counts maximal ``\\S+`` runs directly instead of materializing the
    token array (``size(filter(split(lower(x))))``): identical count —
    the number of non-empty split tokens IS the number of non-whitespace
    runs, and lowercasing can't change it — but one regex scan with no
    per-token string allocation. Measured 1.8× cheaper on the x100
    crossover corpus (the count feeds every packing/budget/mixture
    operator, so this is the hot path of the curation family).
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"\S+"))


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish token count: alpha runs + digit runs + individual punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(_WORD_RE), 0))


# ---------------------------------------------------------------------------
# Arrow tokenizer kernels (round 11, guide §4.2 — the q164 kernel template
# applied to the token-explode family). The Catalyst token pipeline pays
# lower+split+explode — a corpus×tokens ROW explosion through the JVM —
# followed by a corpus-sized hash aggregate; these kernels RE2-split whole
# Arrow columns, count with a C++ hash aggregation per batch, and only the
# compacted counts ever cross back out of Python.
#
# Exactness vs tokens_expr (tests pin all of it):
# - RE2 '[\t\n\x0B\f\r ]+' is Java's \s+ written out (RE2's \s omits \x0B).
# - empties from leading/trailing/repeated separators are dropped on both
#   sides; NULL text yields no rows on both sides (explode semantics).
# - lowering is utf8proc SIMPLE case mapping vs the JVM's FULL mapping —
#   divergent only for U+0130-class code points (absent from the corpus;
#   the DuckDB oracle lowers with utf8proc too, so the hash gates pin the
#   kernel, not the JVM form).
# ---------------------------------------------------------------------------


def doc_term_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: list[str] | None = None,
) -> DataFrame:
    """(id, term, ct, n): exact per-document token counts plus the
    document's total token count, in ONE ``mapInArrow`` pass — the kernel
    twin of ``token_stream(df).groupBy(id, term).count()`` joined with
    per-doc totals.

    A document lives in exactly one input row, so per-batch counts are
    exact FINALS, not partials — the result needs no further shuffle at
    all, and ``n`` rides on every row (the tfidf/bm25 consumers drop
    their separate corpus-length scan+join). ``vocab`` optionally
    restricts ``ct`` rows to a term whitelist AFTER tokenization (the
    bm25 shape); ``n`` still counts all tokens of the doc.
    """
    id_field = df.schema[id_col]
    out_schema = (
        f"`{id_field.name}` {id_field.dataType.simpleString()}, "
        "term string, ct bigint, n bigint"
    )
    vocab_list = list(vocab) if vocab is not None else None
    id_name = id_field.name

    def _counts(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        keep_set = (
            pa.array(vocab_list, type=pa.string()) if vocab_list is not None else None
        )
        for b in batches:
            if b.num_rows:
                b = b.filter(pc.is_valid(b.column(1)))  # NULL text → no rows
            if b.num_rows == 0:
                continue
            ids, t = b.column(0), b.column(1)
            toks = pc.split_pattern_regex(
                pc.utf8_lower(t), "[\\t\\n\\x0B\\f\\r ]+"
            )
            off = np.asarray(toks.offsets, dtype=np.int64)
            off = off - off[0]
            flat = toks.flatten()
            ne = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
            cs = np.concatenate([[0], np.cumsum(ne, dtype=np.int64)])
            n_per = cs[off[1:]] - cs[off[:-1]]  # non-empty tokens per doc
            ids_np = ids.to_numpy(zero_copy_only=False)
            doc_rep = np.repeat(ids_np, np.diff(off))
            mask = ne
            if keep_set is not None:
                mask = mask & pc.is_in(flat, value_set=keep_set).to_numpy(
                    zero_copy_only=False
                )
            pam = pa.array(mask)
            tbl = pa.table(
                {"_id": pa.array(doc_rep[mask], type=ids.type), "term": flat.filter(pam)}
            )
            g = tbl.group_by(["_id", "term"], use_threads=False).aggregate(
                [([], "count_all")]
            )
            if g.num_rows == 0:
                continue
            gid = g.column("_id").combine_chunks()
            order = np.argsort(ids_np, kind="stable")
            pos = np.searchsorted(
                ids_np[order], gid.to_numpy(zero_copy_only=False)
            )
            n_g = n_per[order[pos]]
            yield pa.RecordBatch.from_arrays(
                [
                    gid,
                    g.column("term").combine_chunks(),
                    g.column("count_all").combine_chunks(),
                    pa.array(n_g, type=pa.int64()),
                ],
                names=[id_name, "term", "ct", "n"],
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(_counts, out_schema)


def term_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, ct) PARTIAL corpus token counts — one aggregate row per
    distinct term per Arrow batch; callers finish with
    ``groupBy('term').sum('ct')``. Exactly the map-side partial-aggregation
    shape the JVM explode+count pipeline produced (shuffle bytes are the
    same per-partition-distinct-term rows), minus the JVM row explosion."""

    def _counts(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            if b.num_rows:
                b = b.filter(pc.is_valid(b.column(0)))
            if b.num_rows == 0:
                continue
            toks = pc.split_pattern_regex(
                pc.utf8_lower(b.column(0)), "[\\t\\n\\x0B\\f\\r ]+"
            )
            flat = toks.flatten()
            flat = flat.filter(pc.not_equal(flat, ""))
            g = pa.table({"term": flat}).group_by(
                ["term"], use_threads=False
            ).aggregate([([], "count_all")])
            if g.num_rows == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [g.column("term").combine_chunks(), g.column("count_all").combine_chunks()],
                names=["term", "ct"],
            )

    return df.select(F.col(text_col)).mapInArrow(_counts, "term string, ct bigint")


def doc_bigram_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, w1, w2, ct): exact per-document adjacent-token bigram counts in
    one ``mapInArrow`` pass — the kernel twin of the sequence/transform
    bigram explode. Docs with < 2 tokens emit nothing (their token runs
    contain no adjacency), matching the Catalyst form's ``size(ts) >= 2``
    filter + empty transform."""
    id_field = df.schema[id_col]
    out_schema = (
        f"`{id_field.name}` {id_field.dataType.simpleString()}, "
        "w1 string, w2 string, ct bigint"
    )
    id_name = id_field.name

    def _counts(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            if b.num_rows:
                b = b.filter(pc.is_valid(b.column(1)))
            if b.num_rows == 0:
                continue
            ids, t = b.column(0), b.column(1)
            toks = pc.split_pattern_regex(
                pc.utf8_lower(t), "[\\t\\n\\x0B\\f\\r ]+"
            )
            off = np.asarray(toks.offsets, dtype=np.int64)
            off = off - off[0]
            flat = toks.flatten()
            ne = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
            cs = np.concatenate([[0], np.cumsum(ne, dtype=np.int64)])
            n_per = cs[off[1:]] - cs[off[:-1]]
            ids_np = ids.to_numpy(zero_copy_only=False)
            filt = flat.filter(pa.array(ne))  # order-preserving non-empty tokens
            total = len(filt)
            if total < 2:
                continue
            # a token starts a bigram unless it is the last of its doc
            ends = np.cumsum(n_per)
            starts_ok = np.ones(total, dtype=bool)
            last_idx = ends[ends > 0] - 1
            starts_ok[last_idx] = False
            # the corpus-last token is in last_idx, so every True j has
            # j + 1 < total
            j = np.nonzero(starts_ok)[0]
            if len(j) == 0:
                continue
            doc_rep = np.repeat(ids_np, n_per)
            idx = pa.array(j)
            tbl = pa.table(
                {
                    "_id": pa.array(doc_rep[j], type=ids.type),
                    "w1": filt.take(idx),
                    "w2": filt.take(pa.array(j + 1)),
                }
            )
            g = tbl.group_by(["_id", "w1", "w2"], use_threads=False).aggregate(
                [([], "count_all")]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    g.column("_id").combine_chunks(),
                    g.column("w1").combine_chunks(),
                    g.column("w2").combine_chunks(),
                    g.column("count_all").combine_chunks(),
                ],
                names=[id_name, "w1", "w2", "ct"],
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(_counts, out_schema)


# Shared corpus-statistics frame, materialized once per (SparkContext,
# scale dir). Keyed FIFO-bounded; evicted entries' blocks are reclaimed by
# the ContextCleaner once unreferenced.
_DOC_STATS_CACHE: dict[tuple[str, str], DataFrame] = {}
_DOC_STATS_CACHE_MAX = 4


def doc_stats_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, source, n_chars, n_alpha, n_tokens)`` for ``sf_dir``'s
    documents table — the narrow statistics frame every packing / budget /
    curriculum / mixture operator starts from, tokenized ONCE per
    (SparkContext, scale dir) and materialized via eager localCheckpoint.

    Rationale (r9 verdict item 4): each of q103/q135/q148 persisted its
    own copy of this projection, so one bench pass re-paid the corpus
    tokenize+alpha regexes per query — the regexes ARE the wall at 100x
    sf0.1 (q103 8.2 s, 6.3x single-node DuckDB). A shared materialized
    frame is the engine-native fix: ~40 bytes/doc means even a 100 TB raw
    corpus reduces to executor-storage scale, and consumers derive their
    columns instead of rescanning text. localCheckpoint (not persist)
    so a session-level ``clearCache()`` between bench runs doesn't force
    a re-tokenize; on a real cluster the same contract is a materialized
    stats table. Staleness caveat matches Spark's FileIndex caching:
    in-place rewrites of ``sf_dir`` mid-session are not observed.
    """
    import os as _os

    key = (spark.sparkContext.applicationId, _os.path.normpath(sf_dir))
    df = _DOC_STATS_CACHE.get(key)
    if df is None:
        docs = load_tables(spark, sf_dir, ["documents"])["documents"]
        df = docs.select(
            "doc_id",
            "source",
            F.length("text").cast("long").alias("n_chars"),
            F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("long").alias("n_alpha"),
            token_count_ws(F.col("text")).cast("long").alias("n_tokens"),
        ).localCheckpoint(eager=False)
        # eager=False (r10): the first consumer's action materializes the
        # checkpoint as a side effect — one less dedicated job per scale
        # dir. Interleaved x100 A/B measured a wash on wall (2.27 vs
        # 2.28 s min on q103) — kept for the job-count reduction, which is
        # what the sf0.1 scheduling floor prices.
        # A persist() on top of the checkpoint was A/B'd (4 interleaved
        # x100 windows) and rejected: the columnar copy's rebuild after
        # each session clearCache() added variance (1.7-13.8 s swings on
        # q148) without a reproducible win over reading the checkpoint
        # blocks directly (q148 steady at ~2.5 s).
        while len(_DOC_STATS_CACHE) >= _DOC_STATS_CACHE_MAX:
            _DOC_STATS_CACHE.pop(next(iter(_DOC_STATS_CACHE)))
        _DOC_STATS_CACHE[key] = df
    return df


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach quality-scoring features: length, token counts, ratios.

    score ∈ [0,1]: downweights extreme lengths, punctuation soup, and
    stopword-free word salad — the standard cheap pre-filter before
    expensive model-based scoring.
    """
    c = F.col(text_col)
    toks = tokens_expr(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(c, "[^A-Za-z]", ""))
    punct_chars = F.length(c) - F.length(F.regexp_replace(c, r"[\.,;:!\?'\"()\[\]{}-]", ""))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    mean_word_len = F.when(n_tokens > 0, (n_chars - n_tokens + 1) / n_tokens).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct_chars / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    length_ok = F.when((n_chars >= 20) & (n_chars <= 20000), F.lit(1.0)).otherwise(F.lit(0.25))
    score = length_ok * alpha_ratio * (1 - punct_ratio) * F.least(F.lit(1.0), stop_ratio * 4 + 0.5)
    return df.withColumns(
        {
            "n_tokens": n_tokens,
            "alpha_ratio": F.round(alpha_ratio, 6),
            "punct_ratio": F.round(punct_ratio, 6),
            "stopword_ratio": F.round(stop_ratio, 6),
            "mean_word_len": F.round(mean_word_len, 6),
            "quality_score": F.round(score, 6),
        }
    )


def lang_id_expr(text: Column | str) -> Column:
    """Stopword-voting language ID: most stopword hits wins; ties and
    zero-hit rows → 'und' (undetermined)."""
    return lang_vote_expr(tokens_expr(text))


def lang_vote_expr(toks: Column) -> Column:
    """The stopword vote over an ALREADY-TOKENIZED array — shared by the
    whole-doc form (:func:`lang_id_expr`) and the windowed
    code-switching detector (:func:`lang_mixing`), so the two can never
    disagree on vote semantics."""
    arrays = {lang: F.array(*[F.lit(w) for w in ws]) for lang, ws in STOPWORDS.items()}
    hits = {
        lang: F.size(F.filter(toks, (lambda arr: lambda t: F.array_contains(arr, t))(arr)))
        for lang, arr in arrays.items()
    }
    best = functools.reduce(F.greatest, hits.values())
    expr = F.lit("und")
    # deterministic priority order on ties: first language in dict order wins
    # only when strictly greater than the rest seen so far; equal-best → 'und'
    n_best = functools.reduce(
        lambda acc, h: acc + F.when(h == best, 1).otherwise(0), hits.values(), F.lit(0)
    )
    cases = F.when((best <= 0) | (n_best > 1), F.lit("und"))
    for lang, h in hits.items():
        cases = cases.when(h == best, F.lit(lang))
    return cases.otherwise(F.lit("und"))


def fingerprint_expr(text: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text (lowercase, every
    non-alphanumeric run → one space) — whitespace/punct/case-insensitive
    exact dedup key.

    ONE fused regex pass on purpose: the earlier strip-then-collapse
    formulation (two regexp_replace, the second matching at every word
    gap) measured 20× slower on the JVM (24.4 s vs 1.2 s over 450k docs)
    — at 100 TB the fingerprint pass IS the dedup cost, so the
    normalization is defined as whatever one linear pass can compute."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))
    return F.md5(norm)


@register(
    "q48_token_stats",
    oracle=r"""
        SELECT
            doc_id,
            len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS n_ws_tokens,
            len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
            length(text) AS n_chars_computed
        FROM documents
        ORDER BY doc_id
    """,
    doc="token counting: whitespace + BPE-ish regex tokenizers, pure Catalyst.",
    tags=("text", "tokens"),
)
def q48_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t["documents"]
        .select(
            "doc_id",
            token_count_ws("text").alias("n_ws_tokens"),
            token_count_bpe("text").alias("n_bpe_tokens"),
            F.length("text").alias("n_chars_computed"),
        )
        .orderBy("doc_id")
    )


@register(
    "q49_quality_score",
    oracle=r"""
        WITH feats AS (
            SELECT
                doc_id,
                length(text) AS n_chars,
                len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS n_tokens,
                length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
                length(text) - length(regexp_replace(text, '[\.,;:!\?''"()\[\]{}-]', '', 'g')) AS punct_chars,
                len(list_filter(
                    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
                    t -> list_contains(['the','and','of','to','a','in','is','that','for','with'], t)
                )) AS stop_hits
            FROM documents
        )
        SELECT
            doc_id,
            n_tokens,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / n_chars ELSE 0.0 END, 6) AS alpha_ratio,
            ROUND(CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / n_chars ELSE 0.0 END, 6) AS punct_ratio,
            ROUND(CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
            ROUND(CASE WHEN n_tokens > 0 THEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS mean_word_len,
            ROUND(
                (CASE WHEN n_chars BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.25 END)
                * (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / n_chars ELSE 0.0 END)
                * (1 - (CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / n_chars ELSE 0.0 END))
                * LEAST(1.0, (CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END) * 4 + 0.5),
            6) AS quality_score
        FROM feats
        ORDER BY doc_id
    """,
    doc="quality scoring: length/alpha/punct/stopword ratios → composite score.",
    tags=("text", "quality"),
)
def q49_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        quality_features(t["documents"])
        .select(
            "doc_id", "n_tokens", "alpha_ratio", "punct_ratio", "stopword_ratio",
            "mean_word_len", "quality_score",
        )
        .orderBy("doc_id")
    )


@register(
    "q50_lang_id",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
            FROM documents
        ),
        hits AS (
            SELECT
                doc_id,
                lang,
                len(list_filter(tk, t -> list_contains(['the','and','of','to','a','in','is','that','for','with'], t))) AS h_en,
                len(list_filter(tk, t -> list_contains(['el','la','de','que','y','en','un','es','por','con'], t))) AS h_es,
                len(list_filter(tk, t -> list_contains(['der','die','das','und','ist','von','mit','den','ein','zu'], t))) AS h_de,
                len(list_filter(tk, t -> list_contains(['le','la','de','et','un','est','que','pour','dans','avec'], t))) AS h_fr
            FROM toks
        ),
        voted AS (
            SELECT
                doc_id,
                lang,
                GREATEST(h_en, h_es, h_de, h_fr) AS best,
                (CASE WHEN h_en = GREATEST(h_en, h_es, h_de, h_fr) THEN 1 ELSE 0 END
               + CASE WHEN h_es = GREATEST(h_en, h_es, h_de, h_fr) THEN 1 ELSE 0 END
               + CASE WHEN h_de = GREATEST(h_en, h_es, h_de, h_fr) THEN 1 ELSE 0 END
               + CASE WHEN h_fr = GREATEST(h_en, h_es, h_de, h_fr) THEN 1 ELSE 0 END) AS n_best,
                h_en, h_es, h_de, h_fr
            FROM hits
        )
        SELECT
            CASE
                WHEN best <= 0 OR n_best > 1 THEN 'und'
                WHEN h_en = best THEN 'en'
                WHEN h_es = best THEN 'es'
                WHEN h_de = best THEN 'de'
                WHEN h_fr = best THEN 'fr'
                ELSE 'und'
            END AS predicted_lang,
            COUNT(*) AS n_docs
        FROM voted
        GROUP BY 1
        ORDER BY predicted_lang
    """,
    doc="language-ID heuristic: per-language stopword voting, ties → 'und'.",
    tags=("text", "langid"),
)
def q50_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t["documents"]
        .select(lang_id_expr("text").alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("predicted_lang")
    )


@register(
    "q51_fingerprint_dedup",
    oracle="""
        WITH fp AS (
            SELECT
                doc_id,
                md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
            FROM documents
        )
        SELECT fingerprint, CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_copies
        FROM fp
        GROUP BY fingerprint
        ORDER BY keep_id
    """,
    doc="document fingerprinting: md5 of normalized text as a dedup key.",
    tags=("text", "fingerprint"),
)
def q51_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t["documents"]
        .select("doc_id", fingerprint_expr("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").cast("long").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_id")
    )


# --- document chunking -------------------------------------------------------
# Fixed-size overlapping character chunks — the step between curation and
# embedding in a training pipeline (each chunk becomes one embedding row).
# Pure Catalyst: sequence() builds the chunk-start list from the document
# length, posexplode fans it out, substring slices — all whole-stage
# codegen, no Python in the path. At 100 TB the fan-out multiplies rows by
# ~len/stride but each output partition derives from its input partition
# (no shuffle at all until a downstream op asks for one).


_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 40,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style rule-based document quality filter (Rae et al. 2021,
    the published curation recipe every large text pipeline reuses):
    per-document metrics + one boolean per rule + the overall verdict,
    entirely in Catalyst (one pass, no Python, no shuffle — a pure
    projection that composes with any downstream filter pushdown).

    Rules (pass condition):
    - ``r_word_count``: word count in [min_words, max_words]
    - ``r_mean_word_len``: mean word length in [3, 10]
    - ``r_symbol_ratio``: (# + ellipsis occurrences) / words ≤ 0.1
    - ``r_bullet_lines``: ≤ 90% of lines start with a bullet
    - ``r_ellipsis_lines``: ≤ 30% of lines end with an ellipsis
    - ``r_alpha_words``: ≥ 80% of words contain an alphabetic char
    - ``r_stop_words``: ≥ 2 DISTINCT common stop words present

    ``passes`` is the conjunction. Ratios are rounded to 6dp for
    cross-engine hash stability (q164's DuckDB oracle mirrors every
    expression).

    Physical shape: ONE ``mapInArrow`` kernel computes the eight
    per-document integer metrics (RE2-backed ``pyarrow.compute``); the
    ratio/rule arithmetic stays in Catalyst above it. The MapInArrow node
    is opaque to Catalyst, so downstream filters (e.g. on ``passes``) do
    NOT push below it into the scan — the explicit two-column select
    preserves column pruning only. Callers that pre-filter on a scan
    column should do so before calling this."""
    # ONE Arrow pass computes every per-document metric (second r10
    # rewrite, guide §4.2): the r10a Catalyst form was already a pure
    # projection, but it paid EIGHT separate JVM passes over the text
    # (three regexp_counts, a translate, two splits, two HOF filter
    # lambdas) — measured 77 core-seconds on the x100 crossover corpus.
    # The mapInArrow kernel below reads the text exactly once per batch
    # and runs RE2-backed pyarrow.compute kernels over whole columns
    # (measured 14 core-seconds for the identical metrics — 5.5×; wall
    # 2.36 → 0.9 s at x100). The text column crosses the Python boundary
    # once, inbound only: the kernel emits id + 8 small integers, so no
    # payload ever comes back (and the explicit two-column select keeps
    # scan pruning intact under the opaque node). Ratio/rule arithmetic
    # stays in Catalyst on the integer columns.
    #
    # Exactness notes (the DuckDB oracle and the r9/r10a forms are the
    # arbiters; tests/test_text_chunking.py pins the adversarial cases):
    # - Java's \s is exactly [ \t\n\x0B\f\r] while RE2's \s omits \x0B,
    #   so every pattern writes the class out explicitly.
    # - RE2's leftmost non-overlapping count of "\S*[A-Za-z]\S*" equals
    #   Java's (greedy tails consume the maximal run; letterless runs
    #   never match), so alpha_words is unchanged.
    # - stop hits: a DISTINCT stop word is present iff some maximal
    #   ws-delimited run of the lowered text equals it, i.e. the literal
    #   flanked by ws-or-boundary — eight RE2 existence scans sum to
    #   size(array_intersect(split(lower(text)), stops)) exactly.
    #   Case-mapping caveat: pc.utf8_lower is utf8proc SIMPLE case
    #   mapping while Spark's lower() is JVM FULL mapping — U+0130-class
    #   code points diverge ('WİTH' lowers to 'with' here, 'wi̇th'
    #   in the JVM), so a stop hit could flip vs the r10a Catalyst form
    #   for such tokens. The DuckDB oracle also uses utf8proc, so the
    #   hash gate matches this kernel; the generated corpus has no such
    #   code points.
    # - line rules: split on \n, utf8_trim of [ \t\x0B\f\r] == btrim,
    #   first-char / suffix tests identical; per-row counts come from a
    #   cumsum over the flattened child indexed by the list offsets.
    # - NULL text propagates NULL metrics, matching the JVM expressions
    #   under ANSI semantics.
    id_field = df.schema[id_col]
    in_cols = df.select(F.col(id_col), F.col(text_col).alias("_text"))
    out_fields = (
        f"`{id_field.name}` {id_field.dataType.simpleString()}, _n_words bigint, "
        "_word_chars bigint, _n_lines int, _symbols int, _alpha_words int, "
        "_n_stop_hits int, _bullet_lines int, _ellipsis_lines int"
    )
    stops_list = list(_GOPHER_STOPS)

    def _metrics(batches):
        import re as _re

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        ws_cls = "[\\t\\n\\x0B\\f\\r ]"  # Java \s, written out for RE2
        nws_cls = "[^\\t\\n\\x0B\\f\\r ]"
        # re.escape: today's stops are all-alphabetic, but a future stop
        # word containing a regex metacharacter must match literally, not
        # silently change semantics
        stop_pats = [
            f"(?:^|{ws_cls}){_re.escape(s)}(?:{ws_cls}|$)" for s in stops_list
        ]
        bullet_set = pa.array(["•", "*", "-"])

        def seg_counts(flags: "np.ndarray", off: "np.ndarray") -> "np.ndarray":
            # per-list sums of a flat 0/1 array, safe for empty lists
            cs = np.concatenate([[0], np.cumsum(flags, dtype=np.int64)])
            return cs[off[1:]] - cs[off[:-1]]

        for b in batches:
            ids, t = b.column(0), b.column(1)
            n_words = pc.count_substring_regex(t, nws_cls + "+")
            word_chars = pc.subtract(
                pc.utf8_length(t), pc.count_substring_regex(t, ws_cls)
            )
            symbols = pc.count_substring_regex(t, "#|\\.\\.\\.|…")
            alpha = pc.count_substring_regex(t, nws_cls + "*[A-Za-z]" + nws_cls + "*")
            low = pc.utf8_lower(t)
            hits = None
            for pat in stop_pats:
                h = pc.cast(pc.match_substring_regex(low, pat), pa.int32())
                hits = h if hits is None else pc.add_checked(hits, h)
            lines = pc.split_pattern(t, "\n")
            n_lines = pc.list_value_length(lines)
            off = np.asarray(lines.offsets)
            flat = lines.values  # raw child array; offsets index it directly
            trimmed = pc.utf8_trim(flat, " \t\x0b\f\r")
            bullet = pc.is_in(
                pc.utf8_slice_codeunits(trimmed, 0, 1), value_set=bullet_set
            )
            ell = pc.or_(
                pc.ends_with(trimmed, pattern="..."),
                pc.ends_with(trimmed, pattern="…"),
            )
            null_mask = pc.is_null(t).to_numpy(zero_copy_only=False)
            bcnt = seg_counts(bullet.to_numpy(zero_copy_only=False).astype(np.int64), off)
            ecnt = seg_counts(ell.to_numpy(zero_copy_only=False).astype(np.int64), off)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pc.cast(n_words, pa.int64()),
                    pc.cast(word_chars, pa.int64()),
                    n_lines,
                    pc.cast(symbols, pa.int32()),
                    pc.cast(alpha, pa.int32()),
                    pc.cast(hits, pa.int32()),
                    pa.array(bcnt, type=pa.int32(), mask=null_mask),
                    pa.array(ecnt, type=pa.int32(), mask=null_mask),
                ],
                names=[
                    id_field.name, "_n_words", "_word_chars", "_n_lines",
                    "_symbols", "_alpha_words", "_n_stop_hits",
                    "_bullet_lines", "_ellipsis_lines",
                ],
            )

    base = in_cols.mapInArrow(_metrics, out_fields)
    n_words = F.col("_n_words")
    n_lines = F.col("_n_lines")
    word_chars = F.col("_word_chars")
    mean_word_len = F.round(
        F.when(n_words > 0, word_chars.cast("double") / n_words).otherwise(F.lit(0.0)), 6
    )
    symbols = F.col("_symbols")
    symbol_ratio = F.round(
        F.when(n_words > 0, symbols.cast("double") / n_words).otherwise(F.lit(0.0)), 6
    )
    bullet_lines = F.col("_bullet_lines")
    bullet_line_ratio = F.round(
        F.when(n_lines > 0, bullet_lines.cast("double") / n_lines).otherwise(F.lit(0.0)), 6
    )
    ellipsis_lines = F.col("_ellipsis_lines")
    ellipsis_line_ratio = F.round(
        F.when(n_lines > 0, ellipsis_lines.cast("double") / n_lines).otherwise(F.lit(0.0)), 6
    )
    alpha_words = F.col("_alpha_words")
    alpha_word_ratio = F.round(
        F.when(n_words > 0, alpha_words.cast("double") / n_words).otherwise(F.lit(0.0)), 6
    )
    n_stop_hits = F.col("_n_stop_hits")

    out = base.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_line_ratio.alias("bullet_line_ratio"),
        ellipsis_line_ratio.alias("ellipsis_line_ratio"),
        alpha_word_ratio.alias("alpha_word_ratio"),
        n_stop_hits.alias("n_stop_hits"),
    )
    return out.select(
        "*",
        F.col("n_words").between(min_words, max_words).alias("r_word_count"),
        F.col("mean_word_len").between(3.0, 10.0).alias("r_mean_word_len"),
        (F.col("symbol_ratio") <= 0.1).alias("r_symbol_ratio"),
        (F.col("bullet_line_ratio") <= 0.9).alias("r_bullet_lines"),
        (F.col("ellipsis_line_ratio") <= 0.3).alias("r_ellipsis_lines"),
        (F.col("alpha_word_ratio") >= 0.8).alias("r_alpha_words"),
        (F.col("n_stop_hits") >= 2).alias("r_stop_words"),
    ).withColumn(
        "passes",
        F.col("r_word_count")
        & F.col("r_mean_word_len")
        & F.col("r_symbol_ratio")
        & F.col("r_bullet_lines")
        & F.col("r_ellipsis_lines")
        & F.col("r_alpha_words")
        & F.col("r_stop_words"),
    )


@register(
    "q164_gopher_quality_rules",
    oracle=r"""
        WITH feats AS (
            SELECT
                doc_id,
                list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS words,
                list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS words_l,
                string_split(text, chr(10)) AS lines,
                len(regexp_extract_all(text, '#|\.\.\.|…')) AS symbols
            FROM documents
        ),
        m AS (
            SELECT
                doc_id,
                len(words) AS n_words,
                len(lines) AS n_lines,
                COALESCE(list_sum(list_transform(words, w -> length(w))), 0) AS word_chars,
                symbols,
                len(list_filter(lines, ln -> substring(trim(ln, ' ' || chr(9) || chr(11) || chr(12) || chr(13)), 1, 1) IN ('•','*','-'))) AS bullet_lines,
                len(list_filter(lines, ln -> suffix(trim(ln, ' ' || chr(9) || chr(11) || chr(12) || chr(13)), '...')
                                           OR suffix(trim(ln, ' ' || chr(9) || chr(11) || chr(12) || chr(13)), '…'))) AS ellipsis_lines,
                len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
                len(list_filter(['the','be','to','of','and','that','have','with'],
                                s -> list_contains(words_l, s))) AS n_stop_hits
            FROM feats
        ),
        r AS (
            SELECT
                doc_id,
                n_words,
                ROUND(CASE WHEN n_words > 0 THEN CAST(word_chars AS DOUBLE) / n_words ELSE 0.0 END, 6) AS mean_word_len,
                ROUND(CASE WHEN n_words > 0 THEN CAST(symbols AS DOUBLE) / n_words ELSE 0.0 END, 6) AS symbol_ratio,
                ROUND(CASE WHEN n_lines > 0 THEN CAST(bullet_lines AS DOUBLE) / n_lines ELSE 0.0 END, 6) AS bullet_line_ratio,
                ROUND(CASE WHEN n_lines > 0 THEN CAST(ellipsis_lines AS DOUBLE) / n_lines ELSE 0.0 END, 6) AS ellipsis_line_ratio,
                ROUND(CASE WHEN n_words > 0 THEN CAST(alpha_words AS DOUBLE) / n_words ELSE 0.0 END, 6) AS alpha_word_ratio,
                n_stop_hits
            FROM m
        )
        SELECT
            doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_ratio,
            ellipsis_line_ratio, alpha_word_ratio, n_stop_hits,
            n_words BETWEEN 40 AND 100000 AS r_word_count,
            mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
            symbol_ratio <= 0.1 AS r_symbol_ratio,
            bullet_line_ratio <= 0.9 AS r_bullet_lines,
            ellipsis_line_ratio <= 0.3 AS r_ellipsis_lines,
            alpha_word_ratio >= 0.8 AS r_alpha_words,
            n_stop_hits >= 2 AS r_stop_words,
            (n_words BETWEEN 40 AND 100000)
                AND (mean_word_len BETWEEN 3.0 AND 10.0)
                AND symbol_ratio <= 0.1
                AND bullet_line_ratio <= 0.9
                AND ellipsis_line_ratio <= 0.3
                AND alpha_word_ratio >= 0.8
                AND n_stop_hits >= 2 AS passes
        FROM r
        ORDER BY doc_id
    """,
    doc=(
        "Gopher-style rule-based quality filter (published curation recipe): "
        "word-count / mean-word-length / symbol-ratio / bullet-line / "
        "ellipsis-line / alpha-word / stop-word rules as one Catalyst "
        "projection — per-rule booleans + verdict, hash-matched per rule."
    ),
    tags=("text", "quality", "curation"),
)
def q164_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # No trailing orderBy (r10): the driver's value hash is
    # order-insensitive and the global range sort of a corpus-sized rule
    # table was a pure-waste stage at x100 (see q103's note).
    return gopher_rules(t["documents"])


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split each document into overlapping character chunks.

    Chunks start at offsets 0, stride, 2*stride, ... (stride = chunk_size -
    overlap) while the offset is inside the document; the last chunk may be
    short. Empty documents produce no chunks. Output: (id_col, chunk_idx,
    start_offset, chunk_text), one row per chunk, 0-indexed.

    The reference has no chunking (it maps whole rows to prompts,
    main.py:385-402); this is a north-star extension. A row-at-a-time UDTF
    parity surface exists in tests — this composition is the scale path.
    """
    if overlap >= chunk_size:
        raise ValueError(f"overlap {overlap} must be < chunk_size {chunk_size}")
    stride = chunk_size - overlap
    n_chunks = (F.floor((F.length(F.col(text_col)) - 1) / stride) + 1).cast("int")
    return (
        df.filter(F.length(F.col(text_col)) > 0)
        .select(
            F.col(id_col),
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_start_n"),
            F.col(text_col),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("_start_n").cast("long") * stride).alias("start_offset"),
            F.substring(
                F.col(text_col), F.col("_start_n") * stride + 1, F.lit(chunk_size)
            ).alias("chunk_text"),
        )
    )


@register(
    "q108_chunk_documents",
    oracle="""
        WITH rng AS (
            -- constant bound (docs up to ~153k chars); the join predicate
            -- below trims it to the true per-doc chunk count
            SELECT g FROM generate_series(0, 1023) t(g)
        )
        SELECT d.doc_id,
               CAST(r.g AS BIGINT) AS chunk_idx,
               CAST(r.g * 150 AS BIGINT) AS start_offset,
               substr(d.text, CAST(r.g * 150 + 1 AS BIGINT), 200) AS chunk_text
        FROM documents d
        JOIN rng r ON r.g <= CAST(floor((length(d.text) - 1) / 150) AS BIGINT)
        WHERE length(d.text) > 0
        ORDER BY doc_id, chunk_idx
    """,
    doc="overlapping character chunking (size 200 / overlap 50) — "
    "sequence+posexplode+substring, zero-shuffle row fan-out.",
    tags=("text", "chunking", "pipeline"),
)
def q108_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return chunk_documents(t["documents"], chunk_size=200, overlap=50).orderBy(
        "doc_id", "chunk_idx"
    )


# Row-at-a-time UDTF twin of chunk_documents — the table-function API
# surface (SURVEY.md §2.10: the reference has no UDTF; Spark 4 adds
# python UDTFs). Kept as a parity/reference implementation: per-row
# Python is the slow path, so the Catalyst composition above is what
# queries register. Registered per-session via register_chunk_udtf().
try:  # pragma: no cover - import guard exercised implicitly
    from pyspark.sql.functions import udtf as _udtf

    @_udtf(returnType="chunk_idx: bigint, start_offset: bigint, chunk_text: string")
    class ChunkTextUDTF:
        def eval(self, text: str, chunk_size: int, overlap: int):  # noqa: D102
            if not text or chunk_size is None or overlap is None:
                return
            stride = chunk_size - overlap
            if stride <= 0:
                raise ValueError("overlap must be < chunk_size")
            idx = 0
            for start in range(0, len(text), stride):
                yield (idx, start, text[start : start + chunk_size])
                idx += 1

    HAS_UDTF = True
except ImportError:  # pragma: no cover - pyspark < 3.5
    ChunkTextUDTF = None
    HAS_UDTF = False


def register_chunk_udtf(spark: SparkSession, name: str = "chunk_text") -> None:
    """Register the chunking UDTF for SQL LATERAL use on this session."""
    if not HAS_UDTF:  # pragma: no cover
        raise RuntimeError("python UDTFs need pyspark >= 3.5")
    spark.udtf.register(name, ChunkTextUDTF)


# --- repetition metrics (Gopher-style quality rules) -------------------------
# Intra-document repetition: duplicate-word fraction and the count of the
# most frequent word bigram. Both are per-row array computations — size /
# array_distinct / a run-length fold over the SORTED bigram array — so the
# whole metric is a zero-shuffle scan. The fold replaces the obvious
# explode→groupBy(doc,bigram)→max plan (two shuffles) with O(len log len)
# per-row work that scales embarrassingly parallel.


def repetition_metrics(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc repetition: (id, n_tokens, dup_word_frac, top_bigram_n)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    dup_frac = F.round(1.0 - F.size(F.array_distinct(toks)) / n.cast("double"), 6)
    # bigrams, sorted; then a single fold tracks (prev, current run, best run)
    # sequence(1, 0) is DESCENDING [1, 0], not empty — docs with < 2 tokens
    # must short-circuit to an empty bigram array or element_at throws.
    top_bigram = F.expr(
        """
        aggregate(
            sort_array(CASE WHEN size(split({t}, ' ')) < 2 THEN array()
                ELSE transform(sequence(1, size(split({t}, ' ')) - 1),
                               i -> concat(element_at(split({t}, ' '), i), ' ',
                                           element_at(split({t}, ' '), i + 1))) END),
            struct(CAST('' AS STRING) AS prev, 0L AS run, 0L AS best),
            (acc, x) -> struct(
                x AS prev,
                CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1L END AS run,
                GREATEST(acc.best,
                         CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1L END) AS best),
            acc -> acc.best)
        """.format(t=text_col)
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        dup_frac.alias("dup_word_frac"),
        top_bigram.alias("top_bigram_n"),
    )


@register(
    "q110_repetition_metrics",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        rng AS (SELECT g FROM generate_series(1, 4095) t(g)),
        exploded AS (
            SELECT d.doc_id, list_extract(d.ts, r.g) AS tok,
                   CASE WHEN r.g < len(d.ts)
                        THEN list_extract(d.ts, r.g) || ' ' || list_extract(d.ts, r.g + 1)
                   END AS bg
            FROM toks d JOIN rng r ON r.g <= len(d.ts)
        ),
        per_tok AS (
            SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct
            FROM exploded GROUP BY doc_id
        ),
        bg_counts AS (
            SELECT doc_id, bg, COUNT(*) AS c
            FROM exploded WHERE bg IS NOT NULL GROUP BY doc_id, bg
        ),
        per_bg AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM bg_counts GROUP BY doc_id)
        SELECT p.doc_id,
               CAST(p.n_tokens AS BIGINT) AS n_tokens,
               ROUND(1.0 - CAST(p.n_distinct AS DOUBLE) / p.n_tokens, 6) AS dup_word_frac,
               CAST(b.top_bigram_n AS BIGINT) AS top_bigram_n
        FROM per_tok p JOIN per_bg b USING (doc_id)
        ORDER BY doc_id
    """,
    doc="Gopher-style intra-doc repetition: dup-word fraction + max bigram "
    "count, as a zero-shuffle per-row fold (no explode/groupBy).",
    tags=("text", "quality", "repetition"),
)
def q110_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return repetition_metrics(t["documents"]).orderBy("doc_id")


# --- degenerate-generation loop audit ----------------------------------------
def _max_run(flags: Column) -> Column:
    """Longest run of true values in a boolean array — a single HOF fold
    with a (current, best) struct accumulator; empty array → 0."""
    return F.aggregate(
        flags,
        F.named_struct(F.lit("cur"), F.lit(0), F.lit("best"), F.lit(0)),
        lambda acc, x: F.named_struct(
            F.lit("cur"),
            F.when(x, acc.cur + 1).otherwise(F.lit(0)),
            F.lit("best"),
            F.greatest(acc.best, F.when(x, acc.cur + 1).otherwise(F.lit(0))),
        ),
        lambda acc: acc.best,
    )


def degenerate_loop_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    uni_threshold: int = 2,
    loop2_threshold: int = 3,
) -> DataFrame:
    """Per doc ``(doc_id, n_tokens, max_uni_rep, max_loop2, looped)`` —
    the degenerate-generation detector for synthetic/model-written text:
    "aaa a a a" stutters and "x y x y x y" two-token loops, the failure
    modes n-gram REPETITION COUNTS (q110) under-rank because a loop
    spreads its mass over two bigrams while a run concentrates it.

    - ``max_uni_rep``: longest streak of positions i with t[i] = t[i−1]
      (a run of r identical tokens scores r−1);
    - ``max_loop2``: longest streak of positions i with t[i] = t[i−2]
      (an a-b-a-b… loop of length L scores L−2; a uniform run also
      trips this — by design, both are degenerate);
    - ``looped``: either streak at/over its threshold.

    Zero-shuffle per-row fold (the q110 contract): the streaks are ONE
    HOF ``aggregate`` each over lagged ``zip_with`` equality arrays —
    no explode, no window, no per-doc partitioning; the DuckDB twin is
    the classic gaps-and-islands formulation over the same token
    stream, value-identical by construction.
    """
    toks = tokens_expr(text_col)
    base = df.select(F.col(id_col), toks.alias("_ts"))
    n = F.size("_ts")
    eq1 = F.zip_with(
        F.slice("_ts", 2, F.greatest(n - 1, F.lit(0))),
        F.slice("_ts", 1, F.greatest(n - 1, F.lit(0))),
        lambda a, b: a == b,
    )
    eq2 = F.zip_with(
        F.slice("_ts", 3, F.greatest(n - 2, F.lit(0))),
        F.slice("_ts", 1, F.greatest(n - 2, F.lit(0))),
        lambda a, b: a == b,
    )
    out = base.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        _max_run(eq1).cast("long").alias("max_uni_rep"),
        _max_run(eq2).cast("long").alias("max_loop2"),
    )
    return out.withColumn(
        "looped",
        (F.col("max_uni_rep") >= uni_threshold) | (F.col("max_loop2") >= loop2_threshold),
    )


@register(
    "q342_degenerate_loop_audit",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
            FROM documents
        ),
        pos AS (
            SELECT doc_id, len(ts) AS n, u.i,
                   ts[CAST(u.i AS INT)] AS t0,
                   CASE WHEN u.i >= 2 THEN ts[CAST(u.i - 1 AS INT)] END AS t1,
                   CASE WHEN u.i >= 3 THEN ts[CAST(u.i - 2 AS INT)] END AS t2
            FROM toks, unnest(generate_series(1, len(ts))) u(i)
        ),
        flags AS (
            SELECT doc_id, n, i,
                   (t1 IS NOT NULL AND t0 = t1) AS e1,
                   (t2 IS NOT NULL AND t0 = t2) AS e2
            FROM pos
        ),
        r1 AS (
            SELECT doc_id, COUNT(*) AS run
            FROM (SELECT doc_id, i,
                         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS isl
                  FROM flags WHERE e1)
            GROUP BY doc_id, isl
        ),
        r2 AS (
            SELECT doc_id, COUNT(*) AS run
            FROM (SELECT doc_id, i,
                         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS isl
                  FROM flags WHERE e2)
            GROUP BY doc_id, isl
        ),
        m AS (
            SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
                   CAST(COALESCE((SELECT MAX(run) FROM r1 WHERE r1.doc_id = t.doc_id), 0) AS BIGINT) AS max_uni_rep,
                   CAST(COALESCE((SELECT MAX(run) FROM r2 WHERE r2.doc_id = t.doc_id), 0) AS BIGINT) AS max_loop2
            FROM toks t
        )
        SELECT doc_id, n_tokens, max_uni_rep, max_loop2,
               (max_uni_rep >= 2 OR max_loop2 >= 3) AS looped
        FROM m
        ORDER BY doc_id
    """,
    doc=(
        "degenerate-generation loop audit: longest identical-token streak "
        "and longest 2-token a-b-a-b loop per doc (zero-shuffle HOF folds; "
        "gaps-and-islands DuckDB twin) — the synthetic-text QA gate q110's "
        "count-based repetition metrics under-rank."
    ),
    tags=("text", "quality", "repetition"),
)
def q342_degenerate_loop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return degenerate_loop_audit(t["documents"])


# --- cross-document n-gram repetition ----------------------------------------
# Inter-document repetition: the fraction of a doc's distinct word 8-grams
# that also appear in at least one OTHER document. High values flag
# boilerplate/template docs that survive exact dedup. Corpus-linear: one
# explode, one groupBy on a compact 8-byte hash, one join back.


def cross_doc_ngram_overlap(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """(id, n_shingles, dup_frac): share of distinct word n-grams seen in >1 doc.

    The corpus-wide frequency groupBy keys on xxhash64 of the shingle (8
    bytes through the shuffle, never the 8-word string); the per-doc
    distinct explode keeps id-locality so the final per-doc aggregate is
    cheap. At 64-bit hash width, cross-shingle collisions are ~n_shingles²
    x 2⁻⁶⁴ — noise-free in practice.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.expr(
                    # sequence(1, 0) is descending, not empty — short docs
                    # must short-circuit to no shingles
                    f"CASE WHEN size(split({text_col}, ' ')) < {n} THEN array() "
                    f"ELSE transform(sequence(1, size(split({text_col}, ' ')) - {n - 1}),"
                    f" i -> xxhash64(concat_ws(' ', slice(split({text_col}, ' '), i, {n})))) END"
                )
            )
        ).alias("h"),
    )
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(freq, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(F.avg((F.col("n_docs") > 1).cast("double")), 6).alias("dup_frac"),
        )
        .select(F.col("id").alias(id_col), "n_shingles", "dup_frac")
    )


@register(
    "q111_cross_doc_ngram_overlap",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        rng AS (SELECT g FROM generate_series(1, 4095) t(g)),
        sh AS (
            SELECT DISTINCT d.doc_id,
                   array_to_string(list_slice(d.ts, r.g, r.g + 7), ' ') AS sh8
            FROM toks d JOIN rng r ON r.g <= len(d.ts) - 7
        ),
        freq AS (
            SELECT sh8, COUNT(*) AS n_docs FROM sh GROUP BY sh8
        )
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               ROUND(AVG(CASE WHEN f.n_docs > 1 THEN 1.0 ELSE 0.0 END), 6) AS dup_frac
        FROM sh s JOIN freq f USING (sh8)
        GROUP BY s.doc_id
        ORDER BY doc_id
    """,
    doc="inter-doc repetition: fraction of a doc's distinct word 8-grams "
    "appearing in >1 document — boilerplate detector past exact dedup.",
    tags=("text", "quality", "dedup"),
)
def q111_cross_doc_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return cross_doc_ngram_overlap(t["documents"]).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (tokenizer-fit data prep)
# ---------------------------------------------------------------------------
def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """Top-``top_k`` adjacent character pairs across the corpus — the
    statistic the first BPE merge step maximizes (training a tokenizer ON
    the corpus is a data-pipeline job: this is its inner loop's first
    iteration, distributed).

    Plan: whitespace tokens explode once, then each token explodes to its
    ``len-1`` adjacent pairs via sequence+substring — all codegen (the
    same explode-positions idiom as shingling) — into one partial-agg
    count and a top-k. Cost is corpus-linear in characters; no Python.
    Ranking on (count DESC, pair ASC) is engine-stable.
    """
    toks = df.select(F.explode(tokens_expr(text_col)).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(F.sequence(F.lit(1), F.length("tok") - 1)).alias("i"), "tok"
    ).select(F.expr("substring(tok, i, 2)").alias("pair"))
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    # constant partition key: same single-partition execution over the
    # vocab-sized counts, without WindowExec's all-data warning (the data
    # never takes this path — only ≤|alphabet|² aggregate rows do)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("n"), F.asc("pair"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_k)
        .select("pair", "n", "rnk")
    )


@register(
    "q144_bpe_pair_counts",
    oracle=r"""
        WITH toks AS (
            SELECT tok FROM (
                SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              t -> t <> '')) AS tok
                FROM documents
            ) WHERE length(tok) >= 2
        ),
        pairs AS (
            SELECT substring(tok, CAST(i AS INT), 2) AS pair
            FROM toks, unnest(generate_series(1, length(tok) - 1)) u(i)
        ),
        counts AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair),
        ranked AS (
            SELECT pair, n,
                   CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rnk
            FROM counts
        )
        SELECT pair, n, rnk FROM ranked WHERE rnk <= 20
        ORDER BY rnk
    """,
    doc=(
        "BPE merge-candidate counts (tokenizer training's first iteration, "
        "distributed): adjacent character-pair frequencies over whitespace "
        "tokens — explode-positions + substring, all codegen, one "
        "partial-agg count, engine-stable top-20."
    ),
    tags=("text", "tokenizer", "corpus"),
)
def q144_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return bpe_pair_counts(t["documents"]).orderBy("rnk")


# ---------------------------------------------------------------------------
# Full iterative BPE trainer (q144 is its first iteration)
# ---------------------------------------------------------------------------
# Symbol encoding for the merge step: every symbol is individually wrapped,
# \x01<sym>\x02, and a word is the concatenation of its wrapped symbols.
# Merging pair (a, b) is then a PLAIN (non-regex) string replace of
# "\x01a\x02\x01b\x02" with "\x01ab\x02" — both Spark `replace` and DuckDB
# `replace` scan left-to-right over non-overlapping occurrences without
# rescanning replacements, which is EXACTLY BPE's leftmost-non-overlapping
# merge rule; and because adjacent pair occurrences share no characters
# (each symbol carries its own sentinels), "a a a a" correctly merges to
# "aa aa" (a single shared separator would block every second merge).
# False matches are impossible: \x01 only ever precedes a symbol start, so
# the pattern anchors whole symbols. Tokens containing the sentinel bytes
# are excluded (they cannot occur in well-formed text).
_BPE_O = "\x01"
_BPE_C = "\x02"


def _bpe_word_types(df: DataFrame, text_col: str) -> DataFrame:
    """(w, cnt): wrapped-symbol word-type table — BPE trains on distinct
    words weighted by frequency (corpus-linear once, then iterations touch
    only the vocab-sized type table: the Sennrich formulation, the only
    shape that survives 100 TB since re-segmenting the raw corpus per merge
    would be corpus × merges)."""
    # Arrow tokenizer kernel (r11, §4.2): per-batch (term, ct) partials
    # replace the JVM lower+split+explode; the length/sentinel filter runs
    # in Catalyst on the vocab-scale partial rows BEFORE the final term
    # shuffle (same bytes as the old map-side partial aggregation).
    toks = (
        term_counts(df, text_col)
        .filter(
            (F.length("term") >= 2)
            & ~F.col("term").contains(_BPE_O)
            & ~F.col("term").contains(_BPE_C)
        )
        .groupBy(F.col("term").alias("tok"))
        .agg(F.sum("ct").alias("cnt"))
    )
    wrapped = F.array_join(
        F.transform(F.split("tok", ""), lambda ch: F.concat(F.lit(_BPE_O), ch, F.lit(_BPE_C))),
        "",
    )
    return toks.select(wrapped.alias("w"), "cnt")


def _bpe_pair_totals(words: DataFrame) -> DataFrame:
    """(a, b, total): adjacent-symbol pair counts over the type table,
    weighted by word frequency, overlaps included (the Sennrich
    ``get_stats`` semantics)."""
    syms = F.split(F.expr("substring(w, 2, length(w) - 2)"), _BPE_C + _BPE_O)
    exploded = (
        words.select("cnt", syms.alias("s"))
        .filter(F.size("s") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr("transform(sequence(0, size(s) - 2), i -> struct(s[i] AS a, s[i+1] AS b))")
            ).alias("p"),
        )
    )
    return exploded.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("cnt").alias("total")
    )


def bpe_train(
    df: DataFrame, text_col: str = "text", n_merges: int = 8, merge_batch: int = 64
) -> DataFrame:
    """Train ``n_merges`` BPE merges on the corpus; returns the merge table
    (step, left, right, merged, pair_n) in learned order — the artifact a
    tokenizer ships.

    Each PASS: one vocab-sized pair aggregate, a top-``merge_batch+1``
    driver collect, then up to ``merge_batch`` merges applied as a single
    chained ``replace`` projection over the type table, its lineage cut
    with ``jobs.pin``. The corpus is touched ONCE
    (word-type extraction); every pass is O(|vocab|), and a real
    30k-merge vocabulary needs ~vocab/merge_batch Spark jobs instead of
    one per merge (the round-4 driver-cadence defect). Stops early if no
    pair remains (all words fused).

    The batch is PROVABLY equal to the sequential trainer — each pass
    accepts a clean top-ranked prefix of pairs (rank order: count DESC,
    pair ASC, the cross-engine-deterministic total order) such that:

    - accepted pairs are pairwise SYMBOL-DISJOINT — merging one cannot
      change another's count (an (a,b) merge only touches counts of pairs
      containing a or b; disjoint adjacencies survive verbatim);
    - each accepted pair's count STRICTLY exceeds the next rank's count.
      Any pair sequential could prefer instead at that step is either (i)
      an untouched pair ranked below — count ≤ next rank < accepted, (ii)
      a pair whose count an earlier accepted merge decreased — bounded by
      its snapshot count, ranked below the prefix (it interacts with an
      accepted pair, so disjointness bars it from the prefix), or (iii) a
      NEW pair (x, ab) / (ab, y) / (ab, ab) — bounded by the snapshot
      count of the interacting (x, a) / (b, y) / (b, a), again below the
      prefix. The strict inequality also kills every tie-break ambiguity.
    - a SELF-pair (a == b) ends the pass after its own merge: its
      descendants ((aa, aa) from even runs, (aa, a) from odd runs) are
      bounded by the self-pair's OWN count — the one case where a new
      pair's bound sits inside the accepted prefix instead of below it,
      so no later same-pass acceptance can be proven (the ``"aaaa xy"``
      counter-example: sequential's step 2 is (aa, aa), not (x, y)).

    The first interacting or non-strictly-dominating pair ends the pass
    (worst case one merge per pass = exactly the sequential trainer;
    ``merge_batch=1`` forces that mode). Equality with sequential is
    pinned in tests; the unrolled DuckDB CTE oracle (q151/q157) is
    sequential by construction, so the hash gates prove it per-round.
    """
    # the pins are released when training ends: the merges are driver rows
    with pin_scope():
        # pinned, not stored (r11): the first pass's pair-totals collect
        # materializes the type table as a side effect — one less dedicated job
        # (the q103 doc-stats precedent); later passes read the pinned blocks.
        words = pin(_bpe_word_types(df, text_col))
        spark = df.sparkSession
        merges: list[tuple] = []
        # lineage-depth budget (r11): a checkpoint per PASS re-materialized the
        # whole type table every iteration, but each pass only adds ≤ accepted
        # replace expressions to the plan — re-deriving a few chained replaces
        # from the last checkpoint is cheaper than writing the table (sf0.1
        # interleaved: 1.34 → 1.22 s min, identical merges). Checkpoint only
        # once ~128 replaces have accumulated, so a 30k-merge run still
        # truncates its plan every couple of passes.
        _ckpt_every = 128
        _pending = 0
        while len(merges) < n_merges:
            want = min(merge_batch, n_merges - len(merges))
            rows = (
                _bpe_pair_totals(words)
                .orderBy(F.desc("total"), F.asc("a"), F.asc("b"))
                .limit(want + 1)
                .collect()
            )
            if not rows:
                break
            accepted = []
            used: set[str] = set()
            for i, r in enumerate(rows[:want]):
                if accepted:
                    if {r.a, r.b} & used:
                        break  # interacting: sequential must recount first
                    nxt = rows[i + 1].total if i + 1 < len(rows) else None
                    if nxt is not None and r.total <= nxt:
                        break  # can't prove strict dominance over ranks below
                accepted.append(r)
                used |= {r.a, r.b}
                if r.a == r.b:
                    break  # self-pair: descendants bounded by its own count
            step0 = len(merges)
            col = F.col("w")
            for j, r in enumerate(accepted):
                merges.append((step0 + j + 1, r.a, r.b, r.a + r.b, r.total))
                pat = f"{_BPE_O}{r.a}{_BPE_C}{_BPE_O}{r.b}{_BPE_C}"
                col = F.replace(col, F.lit(pat), F.lit(f"{_BPE_O}{r.a + r.b}{_BPE_C}"))
            words = words.select(col.alias("w"), "cnt")
            _pending += len(accepted)
            if _pending >= _ckpt_every:
                words = pin(words)
                _pending = 0
        return spark.createDataFrame(
            merges, "step long, left string, right string, merged string, pair_n long"
        )


def _bpe_train_ctes(n_merges: int) -> str:
    """Shared WITH-chain for the BPE oracles: word-type table + ``n_merges``
    unrolled count→argmax→replace iterations, ending with CTEs
    ``t0``…``t{n-1}`` (the learned merges) and ``w{n}`` (final types)."""
    o, c = "chr(1)", "chr(2)"
    head = rf"""
        WITH toks AS (
            SELECT tok, COUNT(*) AS cnt FROM (
                SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              t -> t <> '')) AS tok
                FROM documents
            )
            WHERE length(tok) >= 2
              AND NOT contains(tok, {o}) AND NOT contains(tok, {c})
            GROUP BY tok
        ),
        w0 AS (
            SELECT array_to_string(
                       list_transform(range(length(tok)),
                                      i -> {o} || substring(tok, i + 1, 1) || {c}),
                       '') AS w,
                   cnt
            FROM toks
        )
    """
    steps = []
    for i in range(n_merges):
        steps.append(
            f"""
        , p{i} AS (
            SELECT s[i] AS a, s[i + 1] AS b, SUM(cnt) AS total
            FROM (
                SELECT string_split(substring(w, 2, length(w) - 2), {c} || {o}) AS s, cnt
                FROM w{i}
            ), unnest(generate_series(1, len(s) - 1)) u(i)
            WHERE len(s) >= 2
            GROUP BY s[i], s[i + 1]
        ),
        t{i} AS (
            SELECT CAST({i + 1} AS BIGINT) AS step, a AS "left", b AS "right",
                   a || b AS merged, CAST(total AS BIGINT) AS pair_n
            FROM p{i} ORDER BY total DESC, a, b LIMIT 1
        ),
        w{i + 1} AS (
            SELECT replace(w, {o} || t.a2 || {c} || {o} || t.b2 || {c},
                           {o} || t.a2 || t.b2 || {c}) AS w, cnt
            FROM w{i},
                 (SELECT "left" AS a2, "right" AS b2 FROM t{i}) t
        )"""
        )
    return head + "".join(steps)


def _bpe_oracle_sql(n_merges: int) -> str:
    """Straight-line DuckDB twin of :func:`bpe_train` on ``documents``:
    the q122 unrolled-CTE pattern over :func:`_bpe_train_ctes`."""
    unions = "\n        UNION ALL ".join(
        f'SELECT step, "left", "right", merged, pair_n FROM t{i}' for i in range(n_merges)
    )
    return _bpe_train_ctes(n_merges) + f"\n        {unions}\n        ORDER BY step\n"


_BPE_MERGES = 8


@register(
    "q151_bpe_trainer",
    oracle=_bpe_oracle_sql(_BPE_MERGES),
    doc=(
        "full iterative BPE tokenizer training (q144 is its first "
        "iteration): 8 merge rounds of count-pairs → argmax → re-segment "
        "over the frequency-weighted word-type table, the corpus touched "
        "once. Merge is a plain sentinel-delimited string replace — "
        "leftmost-non-overlapping in both engines — so the distributed "
        "loop hash-matches 8 UNROLLED DuckDB CTE iterations."
    ),
    bench=True,  # tokenizer-training representative: the one headline
    # where the distributed loop BEATS the single-node oracle outright
    # (x100 crossover: Spark 2.5 s vs DuckDB 92.7 s — the 8 unrolled CTE
    # passes each rescan the corpus; Spark's type table is touched once)
    tags=("text", "tokenizer", "iterative"),
)
def q151_bpe_trainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return bpe_train(t["documents"], n_merges=_BPE_MERGES).orderBy("step")


# ---------------------------------------------------------------------------
# BPE encode: apply trained merges to the corpus (the q151 artifact, used)
# ---------------------------------------------------------------------------
def _bpe_wrap_expr(tok: Column) -> Column:
    """Token → sentinel-wrapped symbol string (the q151 encoding)."""
    return F.array_join(
        F.transform(F.split(tok, ""), lambda ch: F.concat(F.lit(_BPE_O), ch, F.lit(_BPE_C))),
        "",
    )


def _bpe_apply_merges_expr(tok: Column, merges: list[tuple[str, str]]) -> Column:
    """Chained plain-string replaces applying ``merges`` in learned order —
    one codegen'd expression per merge, no shuffle, no Python. Sequential
    application is exact BPE: merging a pair only ever creates adjacencies
    involving the NEW symbol, so no earlier merge can become applicable
    again (the same argument that makes the rank-loop encoder below
    equivalent)."""
    w = _bpe_wrap_expr(tok)
    for left, right in merges:
        w = F.replace(
            w,
            F.lit(f"{_BPE_O}{left}{_BPE_C}{_BPE_O}{right}{_BPE_C}"),
            F.lit(f"{_BPE_O}{left}{right}{_BPE_C}"),
        )
    return w


def _bpe_clean_tokens_expr(text_col: str) -> Column:
    """All whitespace tokens of a doc, sentinel-carrying ones dropped (they
    cannot occur in well-formed text). Unlike TRAINING (len ≥ 2), encoding
    keeps single-char tokens — they are one symbol each."""
    return F.filter(
        tokens_expr(text_col),
        lambda t: ~t.contains(_BPE_O) & ~t.contains(_BPE_C),
    )


def bpe_encode_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token counts under a trained BPE: (id, n_tokens_base,
    n_tokens_bpe) — base = character symbols before any merge, bpe = after
    applying ``merges`` in order. The compression the tokenizer buys,
    measured corpus-wide.

    Plan: ONE narrow projection — tokens split, wrap, |merges| chained
    replaces, symbol counts folded with ``aggregate`` — zero shuffles and
    zero Python; scales as scan × |merges|. For real (30k+) vocabularies
    the chained-replace expression is the wrong tool — use
    :func:`bpe_encode_tokens` (rank-loop, per-word cost independent of
    vocab size, parity-pinned against this form).

    Docs with no encodable tokens are dropped (mirrors the oracle's
    explode semantics).
    """
    toks = _bpe_clean_tokens_expr(text_col)
    n_base = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sep = _BPE_C + _BPE_O
    n_bpe = F.aggregate(
        F.transform(
            toks,
            lambda t: F.size(
                F.split(
                    _bpe_apply_merges_expr(t, merges).substr(
                        F.lit(2), F.length(_bpe_apply_merges_expr(t, merges)) - 2
                    ),
                    sep,
                )
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            n_base.alias("n_tokens_base"),
            n_bpe.alias("n_tokens_bpe"),
        )
        .filter(F.col("n_tokens_base") >= 1)
        .orderBy("doc_id")
    )


def bpe_encode_symbols(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, tokens): per-doc BPE symbol sequence via the chained-replace
    expression — the exact-semantics twin :func:`bpe_encode_tokens` is
    parity-tested against."""
    sep = _BPE_C + _BPE_O
    enc = F.flatten(
        F.transform(
            _bpe_clean_tokens_expr(text_col),
            lambda t: F.split(
                _bpe_apply_merges_expr(t, merges).substr(
                    F.lit(2), F.length(_bpe_apply_merges_expr(t, merges)) - 2
                ),
                sep,
            ),
        )
    )
    return df.select(F.col(id_col).alias("doc_id"), enc.alias("tokens"))


def bpe_encode_tokens(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, tokens): Arrow-batched BPE encoder — the real-vocabulary path.

    The Catalyst chained-replace form costs one full string pass PER MERGE;
    at tokenizer-sized vocabularies (30k+ merges) that is the wrong shape.
    Here each word pays only for the merges that actually apply: a rank
    dict (pair → merge priority) and a loop that repeatedly merges the
    best-ranked adjacent pair, leftmost-non-overlapping per pass —
    equivalent to sequential application because a merge only creates
    adjacencies involving its new symbol, never a fresh occurrence of an
    earlier pair (parity-pinned against :func:`bpe_encode_symbols`).
    mapInPandas, no shuffle; merges ship broadcast-style in the closure
    (vocab-sized, bounded by contract).
    """
    ranks = {pair: i for i, pair in enumerate(merges)}
    pairs = list(merges)
    schema = "doc_id long, tokens array<string>"

    def run(batches):
        import re as _re

        import pandas as pd

        ws = _re.compile(r"\s+")

        def encode_word(word: str) -> list[str]:
            syms = list(word)
            while len(syms) >= 2:
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best = r
                if best is None:
                    break
                left, right = pairs[best]
                merged, out, i = left + right, [], 0
                while i < len(syms):
                    if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return syms

        for pdf in batches:
            toks_out = []
            for text in pdf["_t"]:
                if not isinstance(text, str):
                    toks_out.append([])
                    continue
                doc = []
                for tok in ws.split(text.lower()):
                    if tok and _BPE_O not in tok and _BPE_C not in tok:
                        doc.extend(encode_word(tok))
                toks_out.append(doc)
            yield pd.DataFrame({"doc_id": pdf["_id"], "tokens": toks_out})

    return df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    ).mapInPandas(run, schema)


def _bpe_encode_oracle_sql(n_merges: int) -> str:
    """DuckDB twin of train-then-encode: the :func:`_bpe_train_ctes` chain
    learns the merges, then every document token is wrapped and pushed
    through the same ``n_merges`` chained replaces. COALESCE guards the
    (corpus-impossible) early-stop case where a t_i is empty — chr(3) can
    never match, so a missing merge is a no-op, matching the Spark side's
    shorter merge list."""
    o, c = "chr(1)", "chr(2)"
    m_cols = ",\n            ".join(
        f'(SELECT COALESCE({o} || "left" || {c} || {o} || "right" || {c}, chr(3)) FROM t{i}) AS p{i},'
        f"\n            (SELECT COALESCE({o} || merged || {c}, '')  FROM t{i}) AS r{i}"
        for i in range(n_merges)
    )
    repl = "w"
    for i in range(n_merges):
        repl = f"replace({repl}, m.p{i}, m.r{i})"
    return (
        _bpe_train_ctes(n_merges)
        + f"""
        , m AS (
            SELECT {m_cols}
        ),
        doc_toks AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
                FROM documents
            )
            WHERE NOT contains(tok, {o}) AND NOT contains(tok, {c})
        ),
        wrapped AS (
            SELECT doc_id, length(tok) AS n_sym,
                   array_to_string(list_transform(range(length(tok)),
                                   i -> {o} || substring(tok, i + 1, 1) || {c}),
                                   '') AS w
            FROM doc_toks
        ),
        enc AS (
            SELECT doc_id, n_sym, {repl} AS w
            FROM wrapped CROSS JOIN m
        )
        SELECT doc_id,
               CAST(SUM(n_sym) AS BIGINT) AS n_tokens_base,
               CAST(SUM(len(string_split(substring(w, 2, length(w) - 2),
                                         {c} || {o}))) AS BIGINT) AS n_tokens_bpe
        FROM enc GROUP BY doc_id ORDER BY doc_id
    """
    )


@register(
    "q157_bpe_encode_counts",
    oracle=_bpe_encode_oracle_sql(_BPE_MERGES),
    doc=(
        "train-then-encode: the 8 q151-learned merges applied back to every "
        "document as ONE chained-replace projection (zero shuffle, zero "
        "Python), yielding per-doc base vs BPE token counts — the "
        "compression the tokenizer buys. Oracle re-learns the merges with "
        "the unrolled CTE chain and applies the same 8 replaces."
    ),
    tags=("text", "tokenizer"),
)
def q157_bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    trained = bpe_train(docs, n_merges=_BPE_MERGES).orderBy("step").collect()
    merges = [(r.left, r.right) for r in trained]
    return bpe_encode_counts(docs, merges)


# ---------------------------------------------------------------------------
# Exact duplicate-span detection (cross-doc repeated n-gram islands)
# ---------------------------------------------------------------------------
def duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "xxhash64",
) -> DataFrame:
    """Maximal token spans duplicated across documents:
    (doc_id, span_start, span_end, span_tokens) — token positions 0-based,
    span_end inclusive.

    The exact-substring dedup shape of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), approximated at a fixed
    granule: a position is covered when the ``n``-token gram starting
    there also appears in ≥ ``min_docs`` distinct documents; overlapping /
    adjacent covered granules merge into one maximal span (the
    gaps-and-islands rollup). Downstream, spans are what you cut or use to
    discount loss — this emits them rather than rewriting text so the
    operator composes with any cut policy.

    Scale shape: the gram stream is corpus-linear (size-n+1 grams per
    doc); grams shuffle as 32-char md5 keys, never the raw token windows
    (the 100 TB form — same trick as exact_dedup_hashed); the distinct-doc
    count is map-combinable; the island rollup is a per-doc window —
    partition-parallel, no global sort. The suffix-array construction of
    the paper finds arbitrary-length matches; fixed-``n`` granules trade
    that generality for one shuffle and no per-node suffix index, and
    catch every duplicated run ≥ n tokens exactly (runs < n are below the
    granule and invisible — the standard knob).

    ``method``: gram-key hash — ``xxhash64`` (8-byte shuffle key, JVM
    intrinsic) is the production default; ``md5`` is the SQL-portable
    twin the q171 oracle gate runs (the :func:`_feature_bucket` pattern).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    if method == "xxhash64":
        key = lambda g: F.xxhash64(g)  # noqa: E731
    elif method == "md5":
        key = F.md5
    else:
        raise ValueError(f"method must be xxhash64|md5, got {method!r}")
    toks = tokens_expr(text_col)
    # persisted: the tokenize+hash explode is the corpus-dominant cost and
    # BOTH consumers (the dup aggregate and the join-back) need the full
    # stream — without the cache it runs twice (measured r9 at x100:
    # 35 s → 12 s warm with this cache + the min/max dup test + the
    # broadcast join-back below, vs DuckDB's 14 s — a crossover win)
    grams = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("ts"))
        .filter(F.size("ts") >= n)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - (n - 1)),
                    lambda i: key(F.concat_ws(" ", F.slice(F.col("ts"), i, n))),
                )
            ).alias("pos", "g"),
        )
    )
    with pin_scope() as scope:
        grams = cache(grams)
        if min_docs == 2:
            # "appears in ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id):
            # two cheap map-combinable aggregates instead of the partial-
            # distinct machinery count_distinct needs per gram key
            dup = (
                grams.groupBy("g")
                .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
                .filter(F.col("_lo") != F.col("_hi"))
                .select("g")
            )
        else:
            dup = (
                grams.groupBy("g")
                .agg(F.count_distinct("doc_id").alias("nd"))
                .filter(F.col("nd") >= min_docs)
                .select("g")
            )
        # duplicated grams are a small fraction of the stream on any corpus
        # worth deduplicating incrementally — measure and broadcast when they
        # fit, turning the join-back into a map-side probe of the cached
        # stream (no second full-stream shuffle); above the cap it shuffles.
        from ai_batch_processing_spark.plans.relational import broadcast_if_small

        hits = grams.join(broadcast_if_small(dup), "g").select("doc_id", "pos")
        w = Window.partitionBy("doc_id").orderBy("pos")
        prev_end = F.max(F.col("pos") + (n - 1)).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        islands = hits.withColumn(
            "new_island",
            F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
        ).withColumn("island", F.sum("new_island").over(w))
        return scope.store(
            islands.groupBy("doc_id", "island")
            .agg(
                F.min("pos").cast("long").alias("span_start"),
                (F.max("pos") + (n - 1)).cast("long").alias("span_end"),
            )
            .select(
                "doc_id",
                "span_start",
                "span_end",
                (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            )
        )


@register(
    "q171_duplicate_spans",
    oracle=r"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
            FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   CAST(i AS BIGINT) - 1 AS pos,
                   md5(array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 7], ' ')) AS g
            FROM base, unnest(generate_series(1, len(ts) - 7)) u(i)
            WHERE len(ts) >= 8
        ),
        dup AS (
            SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
        flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN MAX(pos + 7) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR pos > MAX(pos + 7) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) + 1
                   THEN 1 ELSE 0 END AS new_island
            FROM hits
        ),
        islands AS (
            SELECT doc_id, pos,
                   SUM(new_island) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        )
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
               CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens
        FROM islands
        GROUP BY doc_id, island
        ORDER BY doc_id, span_start
    """,
    doc=(
        "exact duplicate-span detection (Lee et al. 2022 exact-substring "
        "dedup at fixed 8-token granules): positions whose 8-gram repeats "
        "in >=2 docs, merged into maximal spans via a per-doc "
        "gaps-and-islands window. Grams shuffle as md5 keys."
    ),
    tags=("text", "dedup", "spans"),
)
def q171_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # PRODUCTION hash (xxhash64): unlike q170, the gram hash is only a
    # join/aggregate key here — spans never expose it, so the registered
    # form runs the production path and still hash-matches the md5-keyed
    # oracle (outputs are hash-agnostic; only gram EQUALITY matters)
    return duplicate_spans(docs, n=8, min_docs=2).orderBy("doc_id", "span_start")


def duplicate_char_spans(
    docs: DataFrame,
    g: int = 50,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "xxhash64",
) -> DataFrame:
    """Maximal CHARACTER spans duplicated across documents:
    (doc_id, span_start, span_end, span_chars) — 0-based char positions,
    end inclusive. The char-granule form of Lee et al. 2022's
    ExactSubstr (their threshold is 50 bytes; here 50 chars on the raw
    text): a position is covered when the ``g``-char window starting
    there also appears in ≥ ``min_docs`` distinct documents, and
    overlapping covered windows merge into maximal spans.

    This is the companion q171 (token granule) deliberately does NOT
    subsume: char granules see through tokenization — a duplicated run
    that starts or ends MID-TOKEN (splice boundaries, punctuation edits,
    whitespace changes inside the copy) shifts every token 8-gram and
    hides from q171, but leaves ≥ g−1 unchanged char windows.

    Scale shape: stride is 1 by necessity — two copies of a run land on
    arbitrary relative offsets, so any stride > 1 misaligns their window
    grids and loses the guarantee (the same reason q255's winnowing
    samples MINIMA, not a fixed grid). The stream is corpus-CHARS-linear
    (~5× the token-gram stream): windows shuffle as 8-byte hashes, the
    ≥2-docs test is the min≠max aggregate, the join-back probes the
    cached stream against the (measured, usually small) duplicated-window
    set, and the island rollup is a per-doc window. The paper's suffix
    array finds arbitrary-length matches with a per-node index; this is
    the one-shuffle relational form that catches every duplicated run
    ≥ g chars exactly.

    Reference parity: /root/reference has no dedup; this extends the
    Lee-et-al family (q171/q181) per the r8 verdict's ExactSubstr item.
    """
    if g < 1:
        raise ValueError(f"g must be >= 1, got {g}")
    if min_docs != 2:
        raise ValueError("duplicate_char_spans implements the min_docs=2 form")
    if method == "xxhash64":
        key = F.xxhash64
    elif method == "md5":
        key = F.md5
    else:
        raise ValueError(f"method must be xxhash64|md5, got {method!r}")
    text = F.col(text_col)
    grams = (
        docs.select(F.col(id_col).alias("doc_id"), text.alias("_t"))
        .filter(F.length("_t") >= g)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.length("_t") - (g - 1)),
                    lambda i: key(F.substring(F.col("_t"), i, g)),
                )
            ).alias("pos", "w"),
        )
    )
    with pin_scope() as scope:
        grams = cache(grams)
        dup = (
            grams.groupBy("w")
            .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
            .filter(F.col("_lo") != F.col("_hi"))
            .select("w")
        )
        from ai_batch_processing_spark.plans.relational import broadcast_if_small

        hits = grams.join(broadcast_if_small(dup), "w").select("doc_id", "pos")
        win = Window.partitionBy("doc_id").orderBy("pos")
        prev_end = F.max(F.col("pos") + (g - 1)).over(
            win.rowsBetween(Window.unboundedPreceding, -1)
        )
        islands = hits.withColumn(
            "new_island",
            F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
        ).withColumn("island", F.sum("new_island").over(win))
        return scope.store(
            islands.groupBy("doc_id", "island")
            .agg(
                F.min("pos").cast("long").alias("span_start"),
                (F.max("pos") + (g - 1)).cast("long").alias("span_end"),
            )
            .select(
                "doc_id",
                "span_start",
                "span_end",
                (F.col("span_end") - F.col("span_start") + 1).alias("span_chars"),
            )
        )


@register(
    "q316_exact_substr_char_spans",
    oracle="""
        WITH grams AS (
            SELECT doc_id,
                   CAST(i AS BIGINT) - 1 AS pos,
                   md5(substr(text, CAST(i AS INT), 50)) AS w
            FROM documents, unnest(generate_series(1, length(text) - 49)) u(i)
            WHERE length(text) >= 50
        ),
        dup AS (
            SELECT w FROM grams GROUP BY w HAVING MIN(doc_id) <> MAX(doc_id)
        ),
        hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (w)),
        flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN MAX(pos + 49) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR pos > MAX(pos + 49) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) + 1
                   THEN 1 ELSE 0 END AS new_island
            FROM hits
        ),
        islands AS (
            SELECT doc_id, pos,
                   SUM(new_island) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        )
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + 49 AS BIGINT) AS span_end,
               CAST(MAX(pos) + 49 - MIN(pos) + 1 AS BIGINT) AS span_chars
        FROM islands
        GROUP BY doc_id, island
        ORDER BY doc_id, span_start
    """,
    doc=(
        "ExactSubstr at the character granule (Lee et al. 2022's 50-char "
        "threshold): positions whose 50-char window repeats in >=2 docs, "
        "merged to maximal spans — catches splice boundaries and "
        "mid-token edits the token-granule q171 misses. Windows shuffle "
        "as hashes; >=2-docs is the min!=max aggregate; islands merge in "
        "a per-doc window."
    ),
    tags=("text", "dedup", "spans"),
)
def q316_exact_substr_char_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return duplicate_char_spans(docs, g=50, min_docs=2).orderBy("doc_id", "span_start")


@register(
    "q175_ngram_novelty",
    oracle=r"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
            FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   md5(array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 7], ' ')) AS g
            FROM base, unnest(generate_series(1, len(ts) - 7)) u(i)
            WHERE len(ts) >= 8
        ),
        df AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g)
        SELECT grams.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               ROUND(AVG(CASE WHEN df.nd = 1 THEN 1.0 ELSE 0.0 END), 6) AS novelty
        FROM grams JOIN df USING (g)
        GROUP BY grams.doc_id
        ORDER BY grams.doc_id
    """,
    doc=(
        "per-doc n-gram novelty: fraction of a document's 8-token grams "
        "that occur in NO other document — the RAVEN-style novelty / "
        "memorization measure (complement of q171's duplicated spans, as "
        "a scalar curation signal). Same corpus-linear gram machinery: "
        "hashed gram keys, map-combinable doc-frequency aggregate."
    ),
    tags=("text", "dedup", "quality"),
)
def q175_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # xxhash64: hash-agnostic output (see q171's note)
    return ngram_novelty(docs, n=8).orderBy("doc_id")


def ngram_novelty(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "xxhash64",
) -> DataFrame:
    """(doc_id, n_grams, novelty): fraction of the doc's ``n``-token grams
    that appear in no OTHER document (repeats within the same doc still
    count as novel — doc-frequency, not raw frequency, is the signal).

    High novelty = content unique to this document; low novelty =
    assembled from text shared across the corpus. The scalar companion to
    :func:`duplicate_spans` (which localizes the shared regions), used as
    a ranking/filter feature where spans are the cut instruction.

    Scale shape identical to :func:`duplicate_spans`: one corpus-linear
    gram explode, grams shuffle as hashed keys (``method`` as there), the
    doc-frequency aggregate is map-combinable, and the per-doc rollup
    joins gram→df on the hashed key only.
    """
    if method == "xxhash64":
        key = lambda g: F.xxhash64(g)  # noqa: E731
    elif method == "md5":
        key = F.md5
    else:
        raise ValueError(f"method must be xxhash64|md5, got {method!r}")
    toks = tokens_expr(text_col)
    grams = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("ts"))
        .filter(F.size("ts") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - (n - 1)),
                    lambda i: key(F.concat_ws(" ", F.slice(F.col("ts"), i, n))),
                )
            ).alias("g"),
        )
    )
    df_counts = grams.groupBy("g").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        grams.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.round(F.avg(F.when(F.col("nd") == 1, 1.0).otherwise(0.0)), 6).alias(
                "novelty"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (Dolma / RedPajama-2 feature)
# ---------------------------------------------------------------------------
def compression_ratio(
    docs: DataFrame,
    level: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bytes, n_compressed, ratio): per-doc DEFLATE ratio — the
    compressibility quality signal published pipelines compute per
    document (Dolma's and RedPajama-v2's quality-signal sets): highly
    compressible text (ratio « typical prose ~0.4–0.6) is boilerplate /
    repetition; near-incompressible text (ratio ≈ 1) is encoded blobs or
    noise. Both tails are cut or down-weighted.

    One Arrow-batched pandas UDF (zlib is CPython-bundled — no optional
    dependency); the work is embarrassingly row-parallel and
    corpus-linear, the right shape for a scan-time signal. Rows-only by
    necessity: the oracle engine has no compressor, so this signal is
    pinned by unit tests (repetition → lower ratio than novel prose;
    byte-exact determinism) instead of a SQL twin.
    """
    lvl = int(level)

    @F.pandas_udf("long")
    def comp(texts: pd.Series) -> pd.Series:
        import zlib

        return pd.Series(
            [
                len(zlib.compress(t.encode("utf-8") if t is not None else b"", lvl))
                for t in texts
            ],
            dtype="int64",
        )

    out = docs.select(
        F.col(id_col).alias("doc_id"),
        F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),  # JVM-side
        comp(F.col(text_col)).alias("n_compressed"),
    )
    return out.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        F.round(
            F.when(F.col("n_bytes") > 0, F.col("n_compressed") / F.col("n_bytes"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("ratio"),
    )


@register(
    "q176_compression_ratio",
    oracle=None,  # no compressor in the oracle engine — unit-test pinned
    doc=(
        "per-doc DEFLATE compression ratio (Dolma / RedPajama-v2 quality "
        "signal): boilerplate compresses far below prose, encoded noise "
        "barely compresses; both tails are filter targets. Arrow-batched "
        "zlib, corpus-linear. Rows-only: no SQL-side compressor exists; "
        "repetition-ordering and determinism are test-pinned."
    ),
    tags=("text", "quality"),
)
def q176_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return compression_ratio(docs).orderBy("doc_id")


def rle_compressibility(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_chars, n_runs, ratio): maximal-run count per document —
    the hash-gateable twin of :func:`compression_ratio`. Same shape end to
    end (one Arrow-batched pandas UDF beside a JVM-side length column,
    same guarded ratio arithmetic, corpus-linear, zero shuffles), but the
    'compressor' is run-length symbol counting, which a SQL engine CAN
    express — so this one carries the DuckDB hash gate that zlib's DEFLATE
    (q176) structurally cannot, pinning the shared plumbing. Runs are
    counted over unicode codepoints (UTF-32), matching DuckDB's
    ``string_split(text, '')`` / ``length()`` codepoint semantics.
    """

    @F.pandas_udf("long")
    def runs(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            if t is None or len(t) == 0:
                out.append(0)
                continue
            a = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
            out.append(int(1 + np.count_nonzero(a[1:] != a[:-1])))
        return pd.Series(out, dtype="int64")

    out = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.length(F.col(text_col)), F.lit(0)).cast("long").alias("n_chars"),
        runs(F.col(text_col)).alias("n_runs"),
    )
    return out.select(
        "doc_id",
        "n_chars",
        "n_runs",
        F.round(
            F.when(F.col("n_chars") > 0, F.col("n_runs") / F.col("n_chars")).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("ratio"),
    )


@register(
    "q229_rle_compressibility",
    oracle=r"""
        WITH cs AS (
            -- guard on length(text), NOT len(c): string_split('', '')
            -- returns [''] (len 1), which would score an empty document
            -- as one run where the Spark side scores 0
            SELECT doc_id,
                   COALESCE(length(text), 0) AS n,
                   string_split(text, '') AS c
            FROM documents
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_chars,
               CAST(CASE WHEN n = 0 THEN 0
                    ELSE 1 + len(list_filter(range(2, n + 1),
                                             i -> c[i] != c[i - 1]))
                    END AS BIGINT) AS n_runs,
               ROUND(CASE WHEN n > 0
                     THEN (1 + len(list_filter(range(2, n + 1),
                                               i -> c[i] != c[i - 1]))) * 1.0 / n
                     ELSE 0.0 END, 6) AS ratio
        FROM cs ORDER BY doc_id
    """,
    doc=(
        "run-length compressibility: maximal-run count over codepoints per "
        "document — the oracle-backed twin of q176 (DEFLATE has no SQL "
        "compressor; RLE does), hash-pinning the shared Arrow-batched UDF "
        "plumbing, JVM-side length column, and guarded ratio arithmetic. "
        "Oracle iterates the split-char list per row — a genuinely "
        "different evaluation of the same run count."
    ),
    tags=("text", "quality", "verify-twin"),
)
def q229_rle_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return rle_compressibility(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Window-level language consistency (code-switching / mixed-language signal)
# ---------------------------------------------------------------------------
def lang_mixing(
    docs: DataFrame,
    window: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, doc_lang, n_windows, n_foreign, mix_ratio): split each doc
    into non-overlapping ``window``-token spans, language-vote each span,
    and measure how many disagree with the whole-doc vote — the
    code-switching / mixed-language signal (CCNet and mC4 drop or reroute
    documents whose language is locally inconsistent; a single document
    vote can't see a pasted foreign block that this catches).

    'und' windows (no stopword hits / tied votes) are indeterminate, not
    foreign — only a window CONFIDENTLY voting another language counts.
    Zero-shuffle: windows are a per-row sequence+slice fan-out and the
    rollup folds over the array in the same projection; nothing leaves
    the row until the final (doc-sized) result.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    toks = tokens_expr(text_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("ts"),
        lang_vote_expr(toks).alias("doc_lang"),
    ).filter(F.size("ts") > 0)
    wins = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size("ts") / window).cast("int") - 1),
        lambda i: lang_vote_expr(F.slice(F.col("ts"), i * window + 1, window)),
    )
    out = base.select(
        "doc_id",
        "doc_lang",
        wins.alias("_wl"),
    ).select(
        "doc_id",
        "doc_lang",
        F.size("_wl").cast("long").alias("n_windows"),
        F.size(
            F.filter(
                F.col("_wl"), lambda wl: (wl != F.col("doc_lang")) & (wl != F.lit("und"))
            )
        )
        .cast("long")
        .alias("n_foreign"),
    )
    return out.withColumn(
        "mix_ratio", F.round(F.col("n_foreign") / F.col("n_windows"), 6)
    )


def _vote_case_sql(tk: str) -> str:
    """The q50 stopword-vote CASE over token-array expression ``tk`` —
    generated once and interpolated for both the doc and window votes so
    the oracle can never drift from itself."""
    stops = {
        "en": "['the','and','of','to','a','in','is','that','for','with']",
        "es": "['el','la','de','que','y','en','un','es','por','con']",
        "de": "['der','die','das','und','ist','von','mit','den','ein','zu']",
        "fr": "['le','la','de','et','un','est','que','pour','dans','avec']",
    }
    hits = {
        lang: f"len(list_filter({tk}, t -> list_contains({lst}, t)))"
        for lang, lst in stops.items()
    }
    best = f"GREATEST({hits['en']}, {hits['es']}, {hits['de']}, {hits['fr']})"
    n_best = " + ".join(
        f"CASE WHEN {h} = {best} THEN 1 ELSE 0 END" for h in hits.values()
    )
    branches = "\n                ".join(
        f"WHEN {hits[lang]} = {best} THEN '{lang}'" for lang in ("en", "es", "de", "fr")
    )
    return f"""CASE
                WHEN {best} <= 0 OR ({n_best}) > 1 THEN 'und'
                {branches}
                ELSE 'und'
            END"""


@register(
    "q180_lang_mixing",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
            FROM documents
        ),
        base AS (
            SELECT doc_id, ts, {_vote_case_sql('ts')} AS doc_lang
            FROM toks WHERE len(ts) > 0
        ),
        wins AS (
            SELECT doc_id, doc_lang,
                   ts[CAST(i * 20 + 1 AS INT):CAST(i * 20 + 20 AS INT)] AS wts
            FROM base,
                 unnest(generate_series(0, CAST(ceil(len(ts) / 20.0) AS BIGINT) - 1)) u(i)
        ),
        voted AS (
            SELECT doc_id, doc_lang, {_vote_case_sql('wts')} AS wl FROM wins
        )
        SELECT doc_id, doc_lang,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN wl <> doc_lang AND wl <> 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_foreign,
               ROUND(SUM(CASE WHEN wl <> doc_lang AND wl <> 'und' THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS mix_ratio
        FROM voted
        GROUP BY doc_id, doc_lang
        ORDER BY doc_id
    """,
    doc=(
        "window-level language consistency (code-switching signal, the "
        "CCNet/mC4 mixed-language filter shape): 20-token spans "
        "language-voted independently, mix_ratio = confidently-foreign "
        "windows / windows. Zero-shuffle per-row fan-out; the window vote "
        "shares lang_vote_expr with q50 so the two cannot drift."
    ),
    tags=("text", "langid", "quality"),
)
def q180_lang_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return lang_mixing(docs, window=20).orderBy("doc_id")


def cut_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "xxhash64",
) -> DataFrame:
    """(doc_id, cleaned_text, n_tokens, n_removed): the CUT action on
    :func:`duplicate_spans` — rebuild each document's token stream with
    every cross-doc duplicated span removed (Lee et al. 2022's dedup
    applied, not just reported). Text is the whitespace-token stream
    lowercased and single-space rejoined (the :func:`tokens_expr`
    normalization, same contract as line_dedup's reassembly).

    The span list per doc is tiny (merged maximal islands), so the cut
    is a doc-sized join of spans onto documents followed by ONE pure
    row expression: tokens → (pos, token) structs → drop positions any
    span covers → rejoin. Nothing token-sized shuffles beyond what
    :func:`duplicate_spans` already does.
    """
    spans = (
        duplicate_spans(
            docs, n=n, min_docs=min_docs, id_col=id_col, text_col=text_col, method=method
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("span_start").alias("lo"), F.col("span_end").alias("hi"))
            ).alias("spans")
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("ts"))
    joined = base.join(spans, "doc_id", "left").select(
        "doc_id",
        "ts",
        F.coalesce(F.col("spans"), F.array().cast("array<struct<lo:long,hi:long>>")).alias(
            "spans"
        ),
    )
    indexed = F.transform(
        F.col("ts"), lambda t, i: F.struct(i.cast("long").alias("p"), t.alias("t"))
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            F.col("spans"), lambda s: (x["p"] >= s["lo"]) & (x["p"] <= s["hi"])
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", F.transform(kept, lambda x: x["t"])).alias("cleaned_text"),
        F.size("ts").cast("long").alias("n_tokens"),
        (F.size("ts") - F.size(kept)).cast("long").alias("n_removed"),
    )


@register(
    "q181_cut_duplicate_spans",
    oracle=r"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
            FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   CAST(i AS BIGINT) - 1 AS pos,
                   md5(array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 7], ' ')) AS g
            FROM base, unnest(generate_series(1, len(ts) - 7)) u(i)
            WHERE len(ts) >= 8
        ),
        dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
        flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN MAX(pos + 7) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR pos > MAX(pos + 7) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) + 1
                   THEN 1 ELSE 0 END AS new_island
            FROM hits
        ),
        islands AS (
            SELECT doc_id, pos,
                   SUM(new_island) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        ),
        spans AS (
            SELECT doc_id, list({'lo': lo, 'hi': hi}) AS spans
            FROM (
                SELECT doc_id, MIN(pos) AS lo, MAX(pos) + 7 AS hi
                FROM islands GROUP BY doc_id, island
            )
            GROUP BY doc_id
        ),
        joined AS (
            SELECT b.doc_id, b.ts, COALESCE(s.spans, []) AS spans
            FROM base b LEFT JOIN spans s USING (doc_id)
        ),
        cut AS (
            SELECT doc_id, ts, spans,
                   list_filter(
                       list_transform(generate_series(1, len(ts)),
                                      i -> {'p': CAST(i AS BIGINT) - 1, 't': ts[CAST(i AS INT)]}),
                       x -> len(list_filter(spans, s -> x.p BETWEEN s.lo AND s.hi)) = 0
                   ) AS kept
            FROM joined
        )
        SELECT doc_id,
               -- a fully-cut doc: DuckDB's array_to_string on the empty
               -- list yields NULL where Spark's concat_ws yields ''
               COALESCE(array_to_string(list_transform(kept, x -> x.t), ' '), '') AS cleaned_text,
               CAST(len(ts) AS BIGINT) AS n_tokens,
               CAST(len(ts) - len(kept) AS BIGINT) AS n_removed
        FROM cut
        ORDER BY doc_id
    """,
    doc=(
        "duplicate-span CUT (Lee et al. 2022 applied): rebuild every "
        "document with its cross-doc duplicated 8-gram islands removed — "
        "doc-sized span join + one pure row expression over the token "
        "array, gated INCLUDING the reassembled text."
    ),
    tags=("text", "dedup", "spans"),
)
def q181_cut_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return cut_duplicate_spans(docs, n=8, min_docs=2).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Readability scoring (Flesch–Kincaid shape)
# ---------------------------------------------------------------------------
def readability(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllables, fk_grade): Flesch–
    Kincaid grade level with the standard cheap approximations —
    sentences = terminal-punctuation runs (min 1), syllables = vowel
    groups per word (the classic heuristic) — the education-level signal
    quality stacks use to slice corpora by reading difficulty (a "grade
    14" slice reads very differently from a "grade 4" one; both are
    valid targets, which is why it's a COLUMN, not a filter).

    fk = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59, the
    published coefficients. Pure Catalyst: one regex count for
    sentences, one per-word vowel-group fold for syllables; zero
    shuffle.
    """
    text = F.col(text_col)
    words = F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    n_sent = F.greatest(F.regexp_count(text, F.lit(r"[.!?]+")), F.lit(1))
    n_syll = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.greatest(F.regexp_count(w, F.lit("[aeiouy]+")), F.lit(1)),
    )
    fk = (
        F.lit(0.39) * (n_words.cast("double") / n_sent)
        + F.lit(11.8) * (n_syll.cast("double") / n_words)
        - F.lit(15.59)
    )
    return docs.filter(n_words > 0).select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        F.round(fk, 4).alias("fk_grade"),
    )


@register(
    "q199_readability",
    oracle=r"""
        WITH base AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS ws
            FROM documents
        ),
        m AS (
            SELECT doc_id,
                   len(ws) AS n_words,
                   GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
                   COALESCE(list_sum(list_transform(ws,
                       w -> GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 0) AS n_syllables
            FROM base
            WHERE len(ws) > 0
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               CAST(n_syllables AS BIGINT) AS n_syllables,
               ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                     + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                     - 15.59, 4) AS fk_grade
        FROM m
        ORDER BY doc_id
    """,
    doc=(
        "Flesch-Kincaid readability: grade level from words/sentences and "
        "vowel-group syllables (the standard cheap approximations, "
        "published coefficients) — the reading-difficulty column quality "
        "stacks slice corpora by. Pure Catalyst, zero shuffle."
    ),
    tags=("text", "quality"),
)
def q199_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return readability(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# HTML strip (the extraction step web pipelines start with)
# ---------------------------------------------------------------------------
def html_strip(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, cleaned_text, n_tags): markup removed — script/style
    blocks dropped WITH their contents, remaining tags replaced by a
    space, the five core entities unescaped, whitespace collapsed. The
    extraction step every web-corpus pipeline runs first (C4/Dolma
    shape); a regex extractor is deliberately the scope — a real DOM
    parser is a different fidelity/cost point, and the published
    pipelines themselves shipped regex-grade extraction for years.

    Pure chained ``regexp_replace`` — whole-stage codegen, zero Python,
    zero shuffle, scan-speed (the fingerprint_expr lesson: one linear
    pass per pattern).
    """
    c = F.col(text_col)
    n_tags = F.regexp_count(c, F.lit(r"<[^>]+>"))
    # two separate block patterns, NOT one with a backreference: the
    # oracle engine's RE2 has no backreferences (Java regex does — a
    # pattern only one engine can run is a portability bug)
    no_script = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script\s*>", " ")
    no_blocks = F.regexp_replace(no_script, r"(?is)<style[^>]*>.*?</style\s*>", " ")
    no_tags = F.regexp_replace(no_blocks, r"<[^>]+>", " ")
    unescaped = no_tags
    for ent, ch in (
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
    ):
        unescaped = F.replace(unescaped, F.lit(ent), F.lit(ch))
    cleaned = F.trim(F.regexp_replace(unescaped, r"\s+", " "))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        cleaned.alias("cleaned_text"),
        n_tags.cast("long").alias("n_tags"),
    )


@register(
    "q201_html_strip",
    oracle=r"""
        WITH salted AS (
            SELECT doc_id,
                   '<html><head><style>p { color: red }</style></head><body><p class="x">'
                   || text ||
                   CASE WHEN doc_id % 3 = 0
                        THEN '</p><script type="text/javascript">var x = 1 < 2;</script>'
                        ELSE '</p>' END
                   || '<br/>&amp; more &lt;here&gt; &quot;quoted&quot; &#39;s &nbsp;end</body></html>' AS text
            FROM documents
        )
        SELECT doc_id,
               trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                           regexp_replace(regexp_replace(text, '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
                               '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
                           '<[^>]+>', ' ', 'g'),
                       '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '),
                   '\s+', ' ', 'g')) AS cleaned_text,
               CAST(len(regexp_extract_all(text, '<[^>]+>')) AS BIGINT) AS n_tags
        FROM salted
        ORDER BY doc_id
    """,
    doc=(
        "HTML strip (the C4/Dolma extraction step): script/style blocks "
        "dropped with contents, tags -> space, core entities unescaped, "
        "whitespace collapsed — pure chained regexp_replace at scan "
        "speed. Gate wraps the synthetic corpus in real markup "
        "(nested tags, attrs, a script with a '<' inside) and "
        "hash-matches the cleaned text."
    ),
    tags=("text", "extraction", "curation"),
)
def q201_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    salted = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><style>p { color: red }</style></head><body><p class="x">'),
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit('</p><script type="text/javascript">var x = 1 < 2;</script>'),
            ).otherwise(F.lit("</p>")),
            F.lit('<br/>&amp; more &lt;here&gt; &quot;quoted&quot; &#39;s &nbsp;end</body></html>'),
        ).alias("text"),
    )
    return html_strip(salted).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Unicode normalization (NFC + control-char strip)
# ---------------------------------------------------------------------------
def normalize_unicode(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, cleaned_text, changed): NFC-compose the text and strip
    C0 control characters (keeping tab/newline) — the normalization step
    CCNet/Dolma-class pipelines run before anything hashes or tokenizes:
    WITHOUT it, 'é' and 'e'+COMBINING ACUTE are different fingerprints,
    different shingles, different dedup keys — the same document twice.

    NFC runs in an Arrow-batched pandas UDF (``unicodedata`` — the JVM
    side has no normalizer expression); the control strip is a Catalyst
    regex. ``changed`` marks rows the normalization actually touched, so
    the cheap follow-up is re-fingerprinting only those.
    """
    import unicodedata

    @F.pandas_udf("string")
    def nfc(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [unicodedata.normalize("NFC", t) if t is not None else None for t in texts]
        )

    c = F.col(text_col)
    cleaned = F.regexp_replace(nfc(c), r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        cleaned.alias("cleaned_text"),
        (cleaned != c).alias("changed"),
    )


@register(
    "q202_unicode_normalize",
    oracle=r"""
        WITH salted AS (
            SELECT doc_id,
                   text || ' cafe' || chr(769) || ' fiancee' || chr(769) || chr(1) || ' end' AS text
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(nfc_normalize(text),
                              '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g') AS cleaned_text,
               regexp_replace(nfc_normalize(text),
                              '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g') <> text AS changed
        FROM salted
        ORDER BY doc_id
    """,
    doc=(
        "Unicode NFC normalization + C0 control strip (the CCNet/Dolma "
        "pre-hash normalization: composed vs combining sequences must "
        "not be two different dedup keys). NFC via Arrow-batched "
        "unicodedata — hash-matched against the oracle engine's "
        "independent utf8proc normalizer on combining-accent salted "
        "text, which pins the two implementations agree."
    ),
    tags=("text", "extraction", "curation"),
)
def q202_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            # genuinely COMBINING sequences (e + U+0301), not precomposed
            # literals - the normalization must have real work to do
            F.lit(" cafe\u0301 fiancee\u0301\x01 end"),
        ).alias("text"),
    )
    return normalize_unicode(salted).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BLEU (Papineni et al. 2002) at corpus scale — generation-eval for the
# reference/candidate text pairs a training pipeline produces (distilled
# rewrites, augmentations, round-trip translations)
# ---------------------------------------------------------------------------
def _arr_ngrams(arr: Column, n: int) -> Column:
    """Array of space-joined token n-grams (empty when len(arr) < n)."""
    if n == 1:
        return arr
    return F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(arr, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bleu_pair_counts(
    pairs: DataFrame,
    id_col: str,
    ref_col: str,
    cand_col: str,
    max_n: int,
) -> DataFrame:
    """(pid, ref_len, cand_len, clip1..N, tot1..N): the integer sufficient
    statistics of BLEU — clipped (modified-precision) and total candidate
    n-gram counts per order, plus token lengths. Everything downstream
    (p_n, brevity penalty, the geometric mean) is a pure projection over
    these exact integers, which is what makes BLEU hash-gateable."""
    base = pairs.select(
        F.col(id_col).alias("pid"),
        tokens_expr(ref_col).alias("rt"),
        tokens_expr(cand_col).alias("ct"),
    )

    def stream(tok_col: str) -> DataFrame:
        parts = [
            base.select(
                "pid",
                F.lit(n).alias("n"),
                F.explode(_arr_ngrams(F.col(tok_col), n)).alias("g"),
            )
            for n in range(1, max_n + 1)
        ]
        return functools.reduce(DataFrame.unionAll, parts)

    cc = stream("ct").groupBy("pid", "n", "g").agg(F.count(F.lit(1)).alias("cc"))
    rc = stream("rt").groupBy("pid", "n", "g").agg(F.count(F.lit(1)).alias("rc"))
    pern = (
        cc.join(rc, ["pid", "n", "g"], "left")
        .groupBy("pid", "n")
        .agg(
            F.sum(F.least(F.col("cc"), F.coalesce(F.col("rc"), F.lit(0)))).alias(
                "clip"
            ),
            F.sum("cc").alias("tot"),
        )
    )
    wide = pern.groupBy("pid").agg(
        *[
            c
            for n in range(1, max_n + 1)
            for c in (
                F.sum(F.when(F.col("n") == n, F.col("clip")))
                .cast("long")
                .alias(f"clip{n}"),
                F.sum(F.when(F.col("n") == n, F.col("tot")))
                .cast("long")
                .alias(f"tot{n}"),
            )
        ]
    )
    lens = base.select(
        "pid",
        F.size("rt").cast("long").alias("ref_len"),
        F.size("ct").cast("long").alias("cand_len"),
    )
    return lens.join(wide, "pid", "left")


def _bleu_from_counts(max_n: int):
    """(bp_expr, bleu_expr) over clip1..N/tot1..N/ref_len/cand_len columns.
    The log-sum runs in one fixed-order expression (never an aggregate
    over the n rows), so the IEEE evaluation order is identical in both
    engines; ln/exp on identical doubles agree far below the 6dp round."""
    bp = F.when(F.col("cand_len") >= F.col("ref_len"), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - F.col("ref_len") / F.col("cand_len"))
    )
    logsum = None
    nonzero = F.lit(True)
    for n in range(1, max_n + 1):
        term = F.log(F.col(f"clip{n}") / F.col(f"tot{n}"))
        logsum = term if logsum is None else logsum + term
        nonzero = nonzero & (F.coalesce(F.col(f"clip{n}"), F.lit(0)) > 0)
    bleu = F.when(
        nonzero, F.round(bp * F.exp(F.lit(1.0 / max_n) * logsum), 6)
    ).otherwise(F.lit(0.0))
    return F.round(bp, 6), bleu


def bleu_pairs(
    pairs: DataFrame,
    id_col: str = "pid",
    ref_col: str = "ref",
    cand_col: str = "cand",
    max_n: int = 4,
) -> DataFrame:
    """Per-pair BLEU-4: (pid, ref_len, cand_len, p1..p4, bp, bleu).

    Modified n-gram precisions p_n = Σ_g min(cand_count, ref_count) /
    Σ_g cand_count, brevity penalty exp(1 − rl/cl) when the candidate is
    short, BLEU = bp · exp(¼ Σ ln p_n) (0 when any p_n is 0). Scale
    shape: one n-gram explode per side (corpus-linear in max_n · tokens),
    map-combinable counts, one (pid,n,g) join, conditional aggregation to
    a wide integer row per pair — no windows, no UDFs.
    """
    counts = _bleu_pair_counts(pairs, id_col, ref_col, cand_col, max_n)
    bp, bleu = _bleu_from_counts(max_n)
    return counts.select(
        "pid",
        "ref_len",
        "cand_len",
        *[
            F.round(F.col(f"clip{n}") / F.col(f"tot{n}"), 6).alias(f"p{n}")
            for n in range(1, max_n + 1)
        ],
        bp.alias("bp"),
        bleu.alias("bleu"),
    )


def bleu_corpus(
    pairs: DataFrame,
    id_col: str = "pid",
    ref_col: str = "ref",
    cand_col: str = "cand",
    max_n: int = 4,
) -> DataFrame:
    """Corpus-level BLEU summary, one row: micro-BLEU (the standard
    corpus BLEU — sufficient statistics summed over pairs BEFORE the
    ratios) plus the macro average of per-pair BLEU (the 6dp per-pair
    scores summed exactly, the memory-lesson ROUND(SUM) snap, then
    divided once)."""
    with pin_scope() as scope:
        counts = cache(_bleu_pair_counts(pairs, id_col, ref_col, cand_col, max_n))
        totals = counts.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("ref_len").cast("long").alias("ref_len"),
            F.sum("cand_len").cast("long").alias("cand_len"),
            *[
                c
                for n in range(1, max_n + 1)
                for c in (
                    F.sum(f"clip{n}").cast("long").alias(f"clip{n}"),
                    F.sum(f"tot{n}").cast("long").alias(f"tot{n}"),
                )
            ],
        )
        bp, bleu = _bleu_from_counts(max_n)
        micro = totals.select(
            "n_pairs",
            "ref_len",
            "cand_len",
            *[
                F.round(F.col(f"clip{n}") / F.col(f"tot{n}"), 6).alias(f"p{n}")
                for n in range(1, max_n + 1)
            ],
            bp.alias("bp"),
            bleu.alias("bleu_micro"),
        )
        _, pair_bleu = _bleu_from_counts(max_n)
        macro = counts.select(pair_bleu.alias("b")).agg(
            F.round(F.round(F.sum("b"), 6) / F.count(F.lit(1)), 6).alias("bleu_macro")
        )
        # materialize the 1-row result BEFORE the scope drops the cache —
        # returning the lazy plan would recompute the whole counting pipeline
        # twice (micro + macro) uncached on the caller's action
        return scope.store(micro.crossJoin(macro))


_BLEU_PAIRS_SQL = """
        SELECT doc_id AS pid, text AS ref,
               CASE WHEN doc_id % 2 = 0 THEN text || ' tail marker'
                    ELSE text END AS cand
        FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT a.doc_id + 100000 AS pid, a.text AS ref, b.text AS cand
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id < 100
"""


def _bleu_pairs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    same = docs.filter(F.col("doc_id") < 200).select(
        F.col("doc_id").alias("pid"),
        F.col("text").alias("ref"),
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.col("text"), F.lit(" tail marker"))
        )
        .otherwise(F.col("text"))
        .alias("cand"),
    )
    b = docs.select(F.col("doc_id").alias("bid"), F.col("text").alias("cand"))
    cross = (
        docs.filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("pid"), F.col("text").alias("ref"))
        .join(b, F.col("bid") == F.col("pid") + 1)
        .select((F.col("pid") + 100000).alias("pid"), "ref", "cand")
    )
    return same.unionAll(cross)


_BLEU_CORE_SQL = r"""
        base AS MATERIALIZED (
            SELECT pid,
                   list_filter(string_split_regex(lower(ref), '\s+'), t -> t <> '') AS rt,
                   list_filter(string_split_regex(lower(cand), '\s+'), t -> t <> '') AS ct
            FROM pairs
        ),
        cgrams AS (
            SELECT pid, nn.n,
                   array_to_string(ct[CAST(i AS INT):CAST(i AS INT) + nn.n - 1], ' ') AS g
            FROM base, (VALUES (1), (2), (3), (4)) nn(n),
                 unnest(generate_series(1, len(ct) - nn.n + 1)) u(i)
            WHERE len(ct) >= nn.n
        ),
        rgrams AS (
            SELECT pid, nn.n,
                   array_to_string(rt[CAST(i AS INT):CAST(i AS INT) + nn.n - 1], ' ') AS g
            FROM base, (VALUES (1), (2), (3), (4)) nn(n),
                 unnest(generate_series(1, len(rt) - nn.n + 1)) u(i)
            WHERE len(rt) >= nn.n
        ),
        cc AS (SELECT pid, n, g, COUNT(*) AS cc FROM cgrams GROUP BY 1, 2, 3),
        rc AS (SELECT pid, n, g, COUNT(*) AS rc FROM rgrams GROUP BY 1, 2, 3),
        pern AS (
            SELECT cc.pid, cc.n,
                   SUM(LEAST(cc.cc, COALESCE(rc.rc, 0))) AS clip,
                   SUM(cc.cc) AS tot
            FROM cc LEFT JOIN rc ON rc.pid = cc.pid AND rc.n = cc.n AND rc.g = cc.g
            GROUP BY 1, 2
        ),
        wide AS MATERIALIZED (
            SELECT l.pid,
                   CAST(len(l.rt) AS BIGINT) AS ref_len,
                   CAST(len(l.ct) AS BIGINT) AS cand_len,
                   CAST(SUM(CASE WHEN p.n = 1 THEN p.clip END) AS BIGINT) AS clip1,
                   CAST(SUM(CASE WHEN p.n = 1 THEN p.tot END) AS BIGINT) AS tot1,
                   CAST(SUM(CASE WHEN p.n = 2 THEN p.clip END) AS BIGINT) AS clip2,
                   CAST(SUM(CASE WHEN p.n = 2 THEN p.tot END) AS BIGINT) AS tot2,
                   CAST(SUM(CASE WHEN p.n = 3 THEN p.clip END) AS BIGINT) AS clip3,
                   CAST(SUM(CASE WHEN p.n = 3 THEN p.tot END) AS BIGINT) AS tot3,
                   CAST(SUM(CASE WHEN p.n = 4 THEN p.clip END) AS BIGINT) AS clip4,
                   CAST(SUM(CASE WHEN p.n = 4 THEN p.tot END) AS BIGINT) AS tot4
            FROM base l LEFT JOIN pern p ON p.pid = l.pid
            GROUP BY l.pid, len(l.rt), len(l.ct)
        )
"""

_BLEU_BP_SQL = (
    "CASE WHEN cand_len >= ref_len THEN 1.0 "
    "ELSE exp(1.0 - ref_len * 1.0 / cand_len) END"
)
_BLEU_VAL_SQL = (
    "CASE WHEN COALESCE(clip1, 0) > 0 AND COALESCE(clip2, 0) > 0 "
    "AND COALESCE(clip3, 0) > 0 AND COALESCE(clip4, 0) > 0 "
    f"THEN ROUND(({_BLEU_BP_SQL}) * exp(0.25 * ("
    "ln(clip1 * 1.0 / tot1) + ln(clip2 * 1.0 / tot2) "
    "+ ln(clip3 * 1.0 / tot3) + ln(clip4 * 1.0 / tot4))), 6) "
    "ELSE 0.0 END"
)


@register(
    "q245_bleu_pairs",
    oracle=f"""
        WITH pairs AS MATERIALIZED ({_BLEU_PAIRS_SQL}),
        {_BLEU_CORE_SQL}
        SELECT pid, ref_len, cand_len,
               ROUND(clip1 * 1.0 / tot1, 6) AS p1,
               ROUND(clip2 * 1.0 / tot2, 6) AS p2,
               ROUND(clip3 * 1.0 / tot3, 6) AS p3,
               ROUND(clip4 * 1.0 / tot4, 6) AS p4,
               ROUND({_BLEU_BP_SQL}, 6) AS bp,
               {_BLEU_VAL_SQL} AS bleu
        FROM wide ORDER BY pid
    """,
    doc=(
        "per-pair BLEU-4 (Papineni et al. 2002) over a deterministic "
        "ref/cand pair table (identity pairs, tail-extended copies, "
        "mismatched neighbors): modified n-gram precisions from integer "
        "clipped counts, brevity penalty, geometric mean in one "
        "fixed-order expression. The generation-eval metric run over "
        "distilled/augmented text at corpus scale — no UDFs, no windows."
    ),
    tags=("text", "eval", "bleu"),
)
def q245_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _bleu_pairs_spark(spark, sf_dir)
    return bleu_pairs(pairs).orderBy("pid")


@register(
    "q246_bleu_corpus",
    oracle=f"""
        WITH pairs AS MATERIALIZED ({_BLEU_PAIRS_SQL}),
        {_BLEU_CORE_SQL},
        totals AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(ref_len) AS BIGINT) AS ref_len,
                   CAST(SUM(cand_len) AS BIGINT) AS cand_len,
                   CAST(SUM(clip1) AS BIGINT) AS clip1, CAST(SUM(tot1) AS BIGINT) AS tot1,
                   CAST(SUM(clip2) AS BIGINT) AS clip2, CAST(SUM(tot2) AS BIGINT) AS tot2,
                   CAST(SUM(clip3) AS BIGINT) AS clip3, CAST(SUM(tot3) AS BIGINT) AS tot3,
                   CAST(SUM(clip4) AS BIGINT) AS clip4, CAST(SUM(tot4) AS BIGINT) AS tot4
            FROM wide
        ),
        macro AS (
            SELECT ROUND(ROUND(SUM({_BLEU_VAL_SQL}), 6) / COUNT(*), 6) AS bleu_macro
            FROM wide
        )
        SELECT t.n_pairs, t.ref_len, t.cand_len,
               ROUND(clip1 * 1.0 / tot1, 6) AS p1,
               ROUND(clip2 * 1.0 / tot2, 6) AS p2,
               ROUND(clip3 * 1.0 / tot3, 6) AS p3,
               ROUND(clip4 * 1.0 / tot4, 6) AS p4,
               ROUND({_BLEU_BP_SQL}, 6) AS bp,
               {_BLEU_VAL_SQL} AS bleu_micro,
               m.bleu_macro
        FROM totals t, macro m
    """,
    doc=(
        "corpus BLEU summary, one row: micro-BLEU (integer sufficient "
        "statistics summed across pairs before the ratios — the standard "
        "corpus BLEU) and the macro mean of per-pair 6dp BLEU scores "
        "(ROUND(SUM)/n, the exact-decimal snap). Same counting plan as "
        "q245; the reduction is two tiny aggregates."
    ),
    tags=("text", "eval", "bleu"),
)
def q246_bleu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _bleu_pairs_spark(spark, sf_dir)
    return bleu_corpus(pairs)


# ---------------------------------------------------------------------------
# chrF (Popović 2015): character n-gram F-score — BLEU's recall-aware
# companion (the standard pairing in MT/generation eval)
# ---------------------------------------------------------------------------
def chrf_pairs(
    pairs: DataFrame,
    id_col: str = "pid",
    ref_col: str = "ref",
    cand_col: str = "cand",
    max_n: int = 6,
    beta: float = 2.0,
) -> DataFrame:
    """Per-pair chrF: (pid, chrp, chrr, chrf) over whitespace-stripped
    lowercase char n-grams, n = 1..``max_n``.

    chrP/chrR are the arithmetic means over n of matched/total candidate
    (resp. reference) gram counts — matches are min(count_cand,
    count_ref) per gram, all integers; the means and the F_β combination
    run in one fixed-order expression. β=2 weights recall twice, the
    published default. Same counting plan as BLEU (explode → counts →
    one (pid,n,g) join → wide integer row); the gram alphabet is chars,
    so the stream is max_n·chars rows — corpus-linear.
    """
    strip = lambda c: F.regexp_replace(F.lower(F.col(c)), r"\s+", "")  # noqa: E731
    base = pairs.select(
        F.col(id_col).alias("pid"), strip(ref_col).alias("rs"), strip(cand_col).alias("cs")
    )

    def stream(side: str) -> DataFrame:
        parts = []
        for n in range(1, max_n + 1):
            parts.append(
                base.filter(F.length(side) >= n)
                .select(
                    "pid",
                    F.lit(n).alias("n"),
                    F.col(side).alias("_s"),
                    F.explode(
                        F.sequence(F.lit(1), F.length(side) - (n - 1))
                    ).alias("pos"),
                )
                .select("pid", "n", F.expr("substring(_s, pos, n)").alias("g"))
            )
        return functools.reduce(DataFrame.unionAll, parts)

    cc = stream("cs").groupBy("pid", "n", "g").agg(F.count(F.lit(1)).alias("cc"))
    rc = stream("rs").groupBy("pid", "n", "g").agg(F.count(F.lit(1)).alias("rc"))
    mt = (
        cc.join(rc, ["pid", "n", "g"])
        .groupBy("pid", "n")
        .agg(F.sum(F.least(F.col("cc"), F.col("rc"))).alias("m"))
    )
    tc = cc.groupBy("pid", "n").agg(F.sum("cc").alias("tc"))
    tr = rc.groupBy("pid", "n").agg(F.sum("rc").alias("tr"))
    pern = tc.join(tr, ["pid", "n"], "full").join(mt, ["pid", "n"], "left")
    wide = pern.groupBy("pid").agg(
        *[
            c
            for n in range(1, max_n + 1)
            for c in (
                F.sum(F.when(F.col("n") == n, F.coalesce(F.col("m"), F.lit(0))))
                .cast("long")
                .alias(f"m{n}"),
                F.sum(F.when(F.col("n") == n, F.col("tc"))).cast("long").alias(f"tc{n}"),
                F.sum(F.when(F.col("n") == n, F.col("tr"))).cast("long").alias(f"tr{n}"),
            )
        ]
    )
    p = None
    r = None
    for n in range(1, max_n + 1):
        tp = F.col(f"m{n}") / F.col(f"tc{n}")
        tn = F.col(f"m{n}") / F.col(f"tr{n}")
        p = tp if p is None else p + tp
        r = tn if r is None else r + tn
    p = p / max_n
    r = r / max_n
    b2 = beta * beta
    f = F.when(
        (p + r) > 0, F.round((1 + b2) * p * r / (b2 * p + r), 6)
    ).otherwise(F.lit(0.0))
    return wide.select(
        "pid", F.round(p, 6).alias("chrp"), F.round(r, 6).alias("chrr"), f.alias("chrf")
    )


def _chrf_oracle(pairs_sql: str, max_n: int = 6) -> str:
    nvals = ", ".join(f"({n})" for n in range(1, max_n + 1))
    mcols = ",\n                   ".join(
        f"CAST(SUM(CASE WHEN n = {n} THEN COALESCE(m, 0) END) AS BIGINT) AS m{n},\n"
        f"                   CAST(SUM(CASE WHEN n = {n} THEN tc END) AS BIGINT) AS tc{n},\n"
        f"                   CAST(SUM(CASE WHEN n = {n} THEN tr END) AS BIGINT) AS tr{n}"
        for n in range(1, max_n + 1)
    )
    psum = " + ".join(f"(m{n} * 1.0 / tc{n})" for n in range(1, max_n + 1))
    rsum = " + ".join(f"(m{n} * 1.0 / tr{n})" for n in range(1, max_n + 1))
    return rf"""
        WITH pairs AS MATERIALIZED ({pairs_sql}),
        base AS MATERIALIZED (
            SELECT pid,
                   regexp_replace(lower(ref), '\s+', '', 'g') AS rs,
                   regexp_replace(lower(cand), '\s+', '', 'g') AS cs
            FROM pairs
        ),
        cg AS (
            SELECT pid, nn.n, substring(cs, CAST(i AS INT), nn.n) AS g
            FROM base, (VALUES {nvals}) nn(n),
                 unnest(generate_series(1, length(cs) - nn.n + 1)) u(i)
            WHERE length(cs) >= nn.n
        ),
        rg AS (
            SELECT pid, nn.n, substring(rs, CAST(i AS INT), nn.n) AS g
            FROM base, (VALUES {nvals}) nn(n),
                 unnest(generate_series(1, length(rs) - nn.n + 1)) u(i)
            WHERE length(rs) >= nn.n
        ),
        cc AS (SELECT pid, n, g, COUNT(*) AS cc FROM cg GROUP BY 1, 2, 3),
        rc AS (SELECT pid, n, g, COUNT(*) AS rc FROM rg GROUP BY 1, 2, 3),
        mt AS (
            SELECT cc.pid, cc.n, SUM(LEAST(cc.cc, rc.rc)) AS m
            FROM cc JOIN rc ON rc.pid = cc.pid AND rc.n = cc.n AND rc.g = cc.g
            GROUP BY 1, 2
        ),
        tc AS (SELECT pid, n, SUM(cc) AS tc FROM cc GROUP BY 1, 2),
        tr AS (SELECT pid, n, SUM(rc) AS tr FROM rc GROUP BY 1, 2),
        pern AS (
            SELECT COALESCE(tc.pid, tr.pid) AS pid, COALESCE(tc.n, tr.n) AS n,
                   tc.tc, tr.tr, mt.m
            FROM tc FULL JOIN tr ON tr.pid = tc.pid AND tr.n = tc.n
            LEFT JOIN mt ON mt.pid = COALESCE(tc.pid, tr.pid)
                        AND mt.n = COALESCE(tc.n, tr.n)
        ),
        wide AS (
            SELECT pid,
                   {mcols}
            FROM pern GROUP BY pid
        )
        SELECT pid,
               ROUND(({psum}) / {max_n}, 6) AS chrp,
               ROUND(({rsum}) / {max_n}, 6) AS chrr,
               CASE WHEN (({psum}) / {max_n} + ({rsum}) / {max_n}) > 0
                    THEN ROUND(5.0 * (({psum}) / {max_n}) * (({rsum}) / {max_n})
                               / (4.0 * (({psum}) / {max_n}) + ({rsum}) / {max_n}), 6)
                    ELSE 0.0 END AS chrf
        FROM wide ORDER BY pid
    """


@register(
    "q253_chrf_pairs",
    oracle=_chrf_oracle(_BLEU_PAIRS_SQL),
    doc=(
        "per-pair chrF2 (Popović 2015) over the q245 pair table: char "
        "1..6-gram precision/recall means from integer matched counts, "
        "F_beta=2 in one fixed-order expression — the recall-aware "
        "companion generation-eval metric to BLEU (the published "
        "standard pairing). Whitespace-stripped lowercase gram alphabet."
    ),
    tags=("text", "eval", "chrf"),
)
def q253_chrf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _bleu_pairs_spark(spark, sf_dir)
    return chrf_pairs(pairs).orderBy("pid")


# ---------------------------------------------------------------------------
# Tokenizer fertility by source — the acceptance metric for a trained BPE
# ---------------------------------------------------------------------------
def _bpe_fertility_oracle_sql(n_merges: int) -> str:
    o, c = "chr(1)", "chr(2)"
    m_cols = ",\n            ".join(
        f'(SELECT COALESCE({o} || "left" || {c} || {o} || "right" || {c}, chr(3)) FROM t{i}) AS p{i},'
        f"\n            (SELECT COALESCE({o} || merged || {c}, '')  FROM t{i}) AS r{i}"
        for i in range(n_merges)
    )
    repl = "w"
    for i in range(n_merges):
        repl = f"replace({repl}, m.p{i}, m.r{i})"
    return (
        _bpe_train_ctes(n_merges)
        + f"""
        , m AS (
            SELECT {m_cols}
        ),
        doc_toks AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
                FROM documents
            )
            WHERE NOT contains(tok, {o}) AND NOT contains(tok, {c})
        ),
        wrapped AS (
            SELECT doc_id, length(tok) AS n_sym,
                   array_to_string(list_transform(range(length(tok)),
                                   i -> {o} || substring(tok, i + 1, 1) || {c}),
                                   '') AS w
            FROM doc_toks
        ),
        enc AS (
            SELECT doc_id, n_sym, {repl} AS w
            FROM wrapped CROSS JOIN m
        ),
        percounts AS (
            SELECT doc_id,
                   COUNT(*) AS n_words,
                   SUM(n_sym) AS n_base,
                   SUM(len(string_split(substring(w, 2, length(w) - 2),
                                        {c} || {o}))) AS n_bpe
            FROM enc GROUP BY doc_id
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(p.n_words) AS BIGINT) AS n_words,
               CAST(SUM(p.n_base) AS BIGINT) AS n_base_symbols,
               CAST(SUM(p.n_bpe) AS BIGINT) AS n_bpe_tokens,
               ROUND(SUM(p.n_bpe) * 1.0 / SUM(p.n_words), 6) AS fertility,
               ROUND(SUM(p.n_bpe) * 1.0 / SUM(p.n_base), 6) AS compression
        FROM percounts p JOIN documents d USING (doc_id)
        GROUP BY d.source
        ORDER BY d.source
    """
    )


@register(
    "q261_bpe_fertility_by_source",
    oracle=_bpe_fertility_oracle_sql(_BPE_MERGES),
    doc=(
        "tokenizer fertility per source under the q151-trained BPE: "
        "BPE tokens per whitespace word (the acceptance metric a "
        "tokenizer ships on — high-fertility sources train slower and "
        "truncate harder) plus symbol-level compression, rolled up per "
        "source. Train (batched merge loop) + encode (one chained-"
        "replace projection) + one rollup; the oracle re-learns the "
        "merges via the unrolled CTE chain and re-derives both counts."
    ),
    tags=("text", "tokenizer", "eval"),
)
def q261_bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    trained = bpe_train(docs, n_merges=_BPE_MERGES).orderBy("step").collect()
    merges = [(r.left, r.right) for r in trained]
    counts = bpe_encode_counts(docs, merges)
    words = docs.select(
        "doc_id", "source", F.size(_bpe_clean_tokens_expr("text")).alias("nw")
    )
    return (
        words.join(counts, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nw").cast("long").alias("n_words"),
            F.sum("n_tokens_base").cast("long").alias("n_base_symbols"),
            F.sum("n_tokens_bpe").cast("long").alias("n_bpe_tokens"),
            F.round(F.sum("n_tokens_bpe") * 1.0 / F.sum("nw"), 6).alias("fertility"),
            F.round(
                F.sum("n_tokens_bpe") * 1.0 / F.sum("n_tokens_base"), 6
            ).alias("compression"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# ROUGE-1/2: recall-oriented n-gram overlap (summarization / distillation eval)
# ---------------------------------------------------------------------------
def rouge_pairs(
    pairs: DataFrame,
    id_col: str = "pid",
    ref_col: str = "ref",
    cand_col: str = "cand",
) -> DataFrame:
    """Per-pair ROUGE-1 and ROUGE-2 (Lin 2004): (pid, ref_len, cand_len,
    rouge1_p, rouge1_r, rouge1_f, rouge2_p, rouge2_r, rouge2_f).

    The overlap statistic is the CLIPPED n-gram match count
    Σ_g min(count_cand(g), count_ref(g)) — the same integer sufficient
    statistics BLEU uses (:func:`_bleu_pair_counts` with max_n=2), read
    the other way: precision divides by candidate totals, recall by
    REFERENCE totals (ref unigram total = ref_len; ref bigram total =
    max(ref_len-1, 0)). F1 is assembled from the ALREADY-6dp-ROUNDED
    p and r (both engines divide identical snapped doubles — the
    memory-lesson convention), 0.0 when p+r = 0.

    Scale shape: identical to BLEU — one n-gram explode per side,
    map-combinable counts, one (pid, n, gram) join, a wide integer row
    per pair; no windows, no UDFs, corpus-linear.
    """
    counts = _bleu_pair_counts(pairs, id_col, ref_col, cand_col, max_n=2)
    ref1 = F.col("ref_len")
    ref2 = F.greatest(F.col("ref_len") - 1, F.lit(0))

    def prf(clip: str, tot, ref_tot):
        c = F.coalesce(F.col(clip), F.lit(0))
        p = F.when(tot > 0, F.round(c / tot, 6)).otherwise(F.lit(0.0))
        r = F.when(ref_tot > 0, F.round(c / ref_tot, 6)).otherwise(F.lit(0.0))
        return p, r

    p1, r1 = prf("clip1", F.coalesce(F.col("tot1"), F.lit(0)), ref1)
    p2, r2 = prf("clip2", F.coalesce(F.col("tot2"), F.lit(0)), ref2)

    def f1(p, r):
        return F.when(p + r > 0, F.round(2 * p * r / (p + r), 6)).otherwise(F.lit(0.0))

    return counts.select(
        "pid",
        "ref_len",
        "cand_len",
        p1.alias("rouge1_p"),
        r1.alias("rouge1_r"),
        f1(p1, r1).alias("rouge1_f"),
        p2.alias("rouge2_p"),
        r2.alias("rouge2_r"),
        f1(p2, r2).alias("rouge2_f"),
    )


_ROUGE_CORE_SQL = r"""
        base AS MATERIALIZED (
            SELECT pid,
                   list_filter(string_split_regex(lower(ref), '\s+'), t -> t <> '') AS rt,
                   list_filter(string_split_regex(lower(cand), '\s+'), t -> t <> '') AS ct
            FROM pairs
        ),
        cgrams AS (
            SELECT pid, nn.n,
                   array_to_string(ct[CAST(i AS INT):CAST(i AS INT) + nn.n - 1], ' ') AS g
            FROM base, (VALUES (1), (2)) nn(n),
                 unnest(generate_series(1, len(ct) - nn.n + 1)) u(i)
            WHERE len(ct) >= nn.n
        ),
        rgrams AS (
            SELECT pid, nn.n,
                   array_to_string(rt[CAST(i AS INT):CAST(i AS INT) + nn.n - 1], ' ') AS g
            FROM base, (VALUES (1), (2)) nn(n),
                 unnest(generate_series(1, len(rt) - nn.n + 1)) u(i)
            WHERE len(rt) >= nn.n
        ),
        cc AS (SELECT pid, n, g, COUNT(*) AS cc FROM cgrams GROUP BY 1, 2, 3),
        rc AS (SELECT pid, n, g, COUNT(*) AS rc FROM rgrams GROUP BY 1, 2, 3),
        pern AS (
            SELECT cc.pid, cc.n,
                   SUM(LEAST(cc.cc, COALESCE(rc.rc, 0))) AS clip,
                   SUM(cc.cc) AS tot
            FROM cc LEFT JOIN rc ON rc.pid = cc.pid AND rc.n = cc.n AND rc.g = cc.g
            GROUP BY 1, 2
        ),
        wide AS MATERIALIZED (
            SELECT l.pid,
                   CAST(len(l.rt) AS BIGINT) AS ref_len,
                   CAST(len(l.ct) AS BIGINT) AS cand_len,
                   CAST(COALESCE(SUM(CASE WHEN p.n = 1 THEN p.clip END), 0) AS BIGINT) AS clip1,
                   CAST(COALESCE(SUM(CASE WHEN p.n = 1 THEN p.tot END), 0) AS BIGINT) AS tot1,
                   CAST(COALESCE(SUM(CASE WHEN p.n = 2 THEN p.clip END), 0) AS BIGINT) AS clip2,
                   CAST(COALESCE(SUM(CASE WHEN p.n = 2 THEN p.tot END), 0) AS BIGINT) AS tot2
            FROM base l LEFT JOIN pern p ON p.pid = l.pid
            GROUP BY l.pid, len(l.rt), len(l.ct)
        ),
        prf AS (
            SELECT pid, ref_len, cand_len,
                   CASE WHEN tot1 > 0 THEN ROUND(clip1 * 1.0 / tot1, 6) ELSE 0.0 END AS rouge1_p,
                   CASE WHEN ref_len > 0 THEN ROUND(clip1 * 1.0 / ref_len, 6) ELSE 0.0 END AS rouge1_r,
                   CASE WHEN tot2 > 0 THEN ROUND(clip2 * 1.0 / tot2, 6) ELSE 0.0 END AS rouge2_p,
                   CASE WHEN GREATEST(ref_len - 1, 0) > 0
                        THEN ROUND(clip2 * 1.0 / GREATEST(ref_len - 1, 0), 6) ELSE 0.0 END AS rouge2_r
            FROM wide
        )
"""


@register(
    "q266_rouge_pairs",
    oracle=f"""
        WITH pairs AS MATERIALIZED ({_BLEU_PAIRS_SQL}),
        {_ROUGE_CORE_SQL}
        SELECT pid, ref_len, cand_len,
               rouge1_p, rouge1_r,
               CASE WHEN rouge1_p + rouge1_r > 0
                    THEN ROUND(2 * rouge1_p * rouge1_r / (rouge1_p + rouge1_r), 6)
                    ELSE 0.0 END AS rouge1_f,
               rouge2_p, rouge2_r,
               CASE WHEN rouge2_p + rouge2_r > 0
                    THEN ROUND(2 * rouge2_p * rouge2_r / (rouge2_p + rouge2_r), 6)
                    ELSE 0.0 END AS rouge2_f
        FROM prf ORDER BY pid
    """,
    doc=(
        "per-pair ROUGE-1/ROUGE-2 precision/recall/F1 (Lin 2004) over the "
        "same deterministic ref/cand pair table as q245 BLEU: clipped "
        "integer n-gram overlaps read recall-first (divide by REFERENCE "
        "totals) — the summarization/distillation eval twin of BLEU's "
        "precision view. F1 assembled from the 6dp-rounded p and r so both "
        "engines divide identical snapped doubles."
    ),
    tags=("text", "eval", "rouge"),
)
def q266_rouge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _bleu_pairs_spark(spark, sf_dir)
    return rouge_pairs(pairs).orderBy("pid")


# ---------------------------------------------------------------------------
# Unicode script-mix census: per-source writing-system composition
# ---------------------------------------------------------------------------
def script_mix_census(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, n_docs, n_with_cyrillic, n_with_greek, n_with_cjk,
    latin_char_share): which writing systems each source actually
    contains — the pre-language-ID audit that catches mixed-script spam
    (Cyrillic lookalike injection), mislabeled crawl segments, and CJK
    contamination in a "Latin-only" source before a tokenizer is trained
    on it.

    Counts are exact integers from codepoint-range character classes
    (counted by stripping the complement class — one regexp_replace per
    script, no explode); the one ratio is a division of two integer sums
    rounded once. Pure Catalyst projection + map-combinable aggregate:
    corpus-linear, one pass.
    """
    c = F.col(text_col)

    def n_in(pattern: str) -> Column:
        return (F.length(c) - F.length(F.regexp_replace(c, pattern, ""))).cast("long")

    cyr = n_in("[Ѐ-ӿ]")
    grk = n_in("[Ͱ-Ͽ]")
    cjk = n_in("[一-鿿]")
    lat = n_in("[A-Za-z]")
    per_doc = docs.select(
        "source",
        F.length(c).cast("long").alias("nc"),
        lat.alias("nlat"),
        cyr.alias("ncyr"),
        grk.alias("ngrk"),
        cjk.alias("ncjk"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("ncyr") > 0, 1).otherwise(0)).cast("long").alias("n_with_cyrillic"),
        F.sum(F.when(F.col("ngrk") > 0, 1).otherwise(0)).cast("long").alias("n_with_greek"),
        F.sum(F.when(F.col("ncjk") > 0, 1).otherwise(0)).cast("long").alias("n_with_cjk"),
        F.round(F.sum("nlat") * 1.0 / F.sum("nc"), 6).alias("latin_char_share"),
    )


@register(
    "q270_script_mix_census",
    oracle=r"""
        WITH salted AS (
            SELECT source,
                   text ||
                   CASE WHEN doc_id % 7 = 0 THEN ' привет мир данные' ELSE '' END ||
                   CASE WHEN doc_id % 13 = 0 THEN ' 機械学習' ELSE '' END ||
                   CASE WHEN doc_id % 17 = 0 THEN ' αλφα βητα' ELSE '' END AS text
            FROM documents
        ),
        per_doc AS (
            SELECT source,
                   CAST(length(text) AS BIGINT) AS nc,
                   CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS nlat,
                   CAST(length(text) - length(regexp_replace(text, '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS ncyr,
                   CAST(length(text) - length(regexp_replace(text, '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS ngrk,
                   CAST(length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS ncjk
            FROM salted
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN ncyr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_cyrillic,
               CAST(SUM(CASE WHEN ngrk > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_greek,
               CAST(SUM(CASE WHEN ncjk > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_cjk,
               ROUND(SUM(nlat) * 1.0 / SUM(nc), 6) AS latin_char_share
        FROM per_doc
        GROUP BY source
        ORDER BY source
    """,
    doc=(
        "per-source Unicode script-mix census (Latin/Cyrillic/Greek/CJK "
        "codepoint-range counts; the gate salts deterministic non-Latin "
        "suffixes into the ASCII synthetic corpus): the mixed-script "
        "audit run before language-ID and tokenizer training. Exact "
        "integer counts via complement-strip regexp_replace, one pass."
    ),
    tags=("text", "quality", "unicode"),
)
def q270_script_mix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    salted = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" привет мир данные")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" 機械学習")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0, F.lit(" αλφα βητα")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return script_mix_census(salted).orderBy("source")


# ---------------------------------------------------------------------------
# TextRank keyword extraction (Mihalcea & Tarau 2004)
# ---------------------------------------------------------------------------
_TR_VOCAB = 300
_TR_ITERS = 5
_TR_TOPK = 20
_TR_DAMPING = 0.85


def textrank_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = _TR_VOCAB,
    iterations: int = _TR_ITERS,
    top_k: int = _TR_TOPK,
) -> DataFrame:
    """(term, rank): the ``top_k`` corpus keywords by TextRank — PageRank
    over the term co-occurrence graph (undirected edges between
    vocabulary terms appearing within 2 positions of each other in any
    document). Unlike TF-IDF (q112), a term ranks high for sitting at
    the CENTER of the corpus's phrase structure, not for being locally
    frequent — the two lists disagree exactly on boilerplate glue terms.

    Scale shape: the posting stream is vocabulary-filtered BEFORE any
    join (vocab is a broadcast top-``vocab_size`` selection via
    TakeOrderedAndProject); co-occurrence is TWO equi-joins on
    (doc, pos+1) / (doc, pos+2) — never a per-document cartesian with a
    band filter; the graph itself is vocab-bounded, so the fixed-round
    PageRank runs in :func:`~...graph.pagerank`'s single-task regime
    (the distributed loop is the same call at a 100 TB vocabulary).
    Selection happens on ROUND(rank, 6) with the term as tiebreak — the
    q122 convention that absorbs float summation order across engines.
    """
    from ai_batch_processing_spark.operators.graph import pagerank

    posts = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_expr(text_col)).alias("pos", "term"),
    )
    counts = posts.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), "term").limit(vocab_size)
    # BOUNDED window: ranks the ≤ vocab_size capped rows only
    wv = Window.orderBy(F.desc("cnt"), "term")
    vocab = top.select("term", (F.row_number().over(wv) - 1).cast("long").alias("tid"))
    prs = posts.join(F.broadcast(vocab), "term").select("doc_id", "pos", "tid")
    a = prs.select("doc_id", "pos", F.col("tid").alias("src"))
    co = None
    for gap in (1, 2):
        b = prs.select(
            "doc_id", (F.col("pos") - gap).alias("pos"), F.col("tid").alias("dst")
        )
        pairs = a.join(b, ["doc_id", "pos"]).where(F.col("src") != F.col("dst"))
        co = pairs if co is None else co.unionByName(pairs)
    edges = (
        co.select("src", "dst")
        .unionByName(co.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    nodes = vocab.select(F.col("tid").alias("id"))
    ranks = pagerank(nodes, edges, iterations=iterations, damping=_TR_DAMPING)
    return (
        ranks.join(vocab, ranks.id == vocab.tid)
        .select("term", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "term")
        .limit(top_k)
    )


def _textrank_oracle_sql(
    vocab_size: int, iterations: int, top_k: int, damping: float
) -> str:
    head = rf"""
        WITH arrs AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                               x -> x <> '') AS arr
            FROM documents
        ),
        posts AS (
            SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
                   arr[CAST(t.i + 1 AS INT)] AS term
            FROM arrs, unnest(generate_series(0, len(arr) - 1)) t(i)
        ),
        vc AS (SELECT term, COUNT(*) AS cnt FROM posts GROUP BY term),
        vocab AS (
            SELECT term,
                   CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) - 1 AS BIGINT) AS tid
            FROM (SELECT term, cnt FROM vc ORDER BY cnt DESC, term LIMIT {vocab_size})
        ),
        prs AS (
            SELECT p.doc_id, p.pos, v.tid FROM posts p JOIN vocab v USING (term)
        ),
        co AS (
            SELECT DISTINCT src, dst FROM (
                SELECT a.tid AS src, b.tid AS dst
                FROM prs a JOIN prs b
                  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.tid <> b.tid
                UNION ALL
                SELECT a.tid AS src, b.tid AS dst
                FROM prs a JOIN prs b
                  ON a.doc_id = b.doc_id AND b.pos = a.pos + 2 AND a.tid <> b.tid
            )
        ),
        edges AS (SELECT src, dst FROM co UNION SELECT dst AS src, src AS dst FROM co),
        cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vocab),
        odeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src),
        e AS (SELECT edges.src, edges.dst, odeg.odeg FROM edges JOIN odeg USING (src)),
        r0 AS (SELECT tid AS id, 1.0 / cnt.n AS rank FROM vocab CROSS JOIN cnt)
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
            SELECT vocab.tid AS id,
                   (1 - {damping}) / cnt.n
                   + {damping} * COALESCE(c{i}.inflow, 0) AS rank
            FROM vocab CROSS JOIN cnt LEFT JOIN c{i} ON vocab.tid = c{i}.dst
        )"""
        )
    tail = f"""
        SELECT v.term, ROUND(r{iterations}.rank, 6) AS rank
        FROM r{iterations} JOIN vocab v ON v.tid = r{iterations}.id
        ORDER BY ROUND(r{iterations}.rank, 6) DESC, v.term
        LIMIT {top_k}
    """
    return head + "".join(steps) + tail


@register(
    "q291_textrank_keywords",
    oracle=_textrank_oracle_sql(_TR_VOCAB, _TR_ITERS, _TR_TOPK, _TR_DAMPING),
    doc=(
        "TextRank corpus keywords: PageRank (5 rounds, d=0.85) over the "
        "undirected co-occurrence graph of the top-300 vocabulary "
        "(window 2) — phrase-structure centrality vs TF-IDF's local "
        "frequency. Vocabulary-filtered postings, two equi-joins for "
        "co-occurrence (no band scan), vocab-bounded graph through the "
        "shared pagerank kernel; hash-matched against 5 unrolled DuckDB "
        "rounds."
    ),
    tags=("text", "graph", "ranking", "iterative"),
)
def q291_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return textrank_keywords(docs)


# ---------------------------------------------------------------------------
# Rank-biased overlap between frequency and TextRank keyword rankings
# ---------------------------------------------------------------------------
_RBO_P = 0.9
_RBO_DEPTH = 20
# p^(d-1) precomputed in Python and injected as LITERALS into both
# engines: repr round-trips the exact double, so neither engine's libm
# pow() is in the comparison path at all.
_RBO_WEIGHTS = [(d, _RBO_P ** (d - 1)) for d in range(1, _RBO_DEPTH + 1)]


def rank_biased_overlap(
    r1: DataFrame, r2: DataFrame, p: float = _RBO_P, depth: int = _RBO_DEPTH
) -> DataFrame:
    """One row ``(depth, overlap_at_depth, rbo)``: truncated rank-biased
    overlap (Webber et al. 2010, RBO_min without the residual) between
    two rankings given as ``(term, r)`` frames with 1-based ranks —
    RBO = (1−p)·Σ_{d=1..depth} p^{d−1}·|A_d ∩ B_d|/d. The top-weighted
    agreement score for comparing keyword/retrieval rankings where
    plain set overlap ignores order.

    Everything is bounded by ``depth``: one inner join of the two
    ranked lists, a depth×pairs prefix count, 6dp-snapped terms. The
    geometric weights ride in as Python-computed literals (no libm).
    """
    spark = r1.sparkSession
    wdf = spark.createDataFrame(
        [(d, w) for d, w in _RBO_WEIGHTS[:depth]], "d long, w double"
    )
    pairs = r1.select("term", F.col("r").alias("ra")).join(
        r2.select("term", F.col("r").alias("rb")), "term"
    )
    xd = (
        F.broadcast(wdf)
        .join(pairs, (F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")), "left")
        .groupBy("d", "w")
        .agg(F.count("term").cast("long").alias("x"))
    )
    terms = xd.select(
        "d",
        "x",
        F.round(F.lit(1.0 - p) * F.col("w") * F.col("x") / F.col("d"), 6).alias("t"),
    )
    return terms.agg(
        F.lit(depth).cast("long").alias("depth"),
        F.max(F.when(F.col("d") == depth, F.col("x"))).cast("long").alias(
            "overlap_at_depth"
        ),
        F.round(F.sum("t"), 6).alias("rbo"),
    )


def _rbo_oracle_sql() -> str:
    from ai_batch_processing_spark.registry import registered_oracle

    tr = registered_oracle("q291_textrank_keywords")
    weights = ", ".join(f"({d}, {w!r})" for d, w in _RBO_WEIGHTS)
    return rf"""
        WITH arrs AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                               x -> x <> '') AS arr
            FROM documents
        ),
        posts AS (
            SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
                   arr[CAST(t.i + 1 AS INT)] AS term
            FROM arrs, unnest(generate_series(0, len(arr) - 1)) t(i)
        ),
        vc AS (SELECT term, COUNT(*) AS cnt FROM posts GROUP BY term),
        freq AS (
            SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS ra
            FROM (SELECT term, cnt FROM vc ORDER BY cnt DESC, term LIMIT {_RBO_DEPTH})
        ),
        tr AS ({tr}),
        trr AS (
            SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, term) AS BIGINT) AS rb
            FROM tr
        ),
        pairs AS (SELECT f.term, f.ra, t.rb FROM freq f JOIN trr t USING (term)),
        wts(d, w) AS (VALUES {weights}),
        xd AS (
            SELECT wts.d, wts.w, CAST(COUNT(pairs.term) AS BIGINT) AS x
            FROM wts LEFT JOIN pairs ON pairs.ra <= wts.d AND pairs.rb <= wts.d
            GROUP BY wts.d, wts.w
        ),
        terms AS (
            SELECT d, x, ROUND({1.0 - _RBO_P!r} * w * x / d, 6) AS t FROM xd
        )
        SELECT CAST({_RBO_DEPTH} AS BIGINT) AS depth,
               CAST(MAX(CASE WHEN d = {_RBO_DEPTH} THEN x END) AS BIGINT)
                   AS overlap_at_depth,
               ROUND(SUM(t), 6) AS rbo
        FROM terms
    """


@register(
    "q297_rbo_freq_vs_textrank",
    # q291 registers earlier in THIS module, so its oracle is resolvable
    # at decoration time (and registered_oracle falls back to a lazy
    # module import if registration order ever changes)
    oracle=_rbo_oracle_sql(),
    doc=(
        "rank-biased overlap (p=0.9, depth 20) between the raw-frequency "
        "top-20 and the TextRank top-20 keyword rankings: the "
        "top-weighted agreement score quantifying exactly how much "
        "phrase-structure centrality (q291) disagrees with frequency — "
        "the two rankings' glue-term divergence in one number. "
        "Depth-bounded joins; geometric weights injected as Python "
        "literals so no libm pow enters the comparison."
    ),
    tags=("text", "ranking", "eval"),
)
def q297_rbo_freq_vs_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    posts = docs.select(F.posexplode(tokens_expr("text")).alias("pos", "term"))
    counts = posts.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), "term").limit(_RBO_DEPTH)
    # BOUNDED window: ranks the 20 capped rows
    freq = top.select(
        "term",
        F.row_number().over(Window.orderBy(F.desc("cnt"), "term")).cast("long").alias("r"),
    )
    tr = textrank_keywords(docs)
    # BOUNDED window: ranks the ≤20-row TextRank output
    trr = tr.select(
        "term",
        F.row_number()
        .over(Window.orderBy(F.desc("rank"), "term"))
        .cast("long")
        .alias("r"),
    )
    return rank_biased_overlap(freq, trr, p=_RBO_P, depth=_RBO_DEPTH)


# ---------------------------------------------------------------------------
# Character bigram entropy: the compression-rate / gibberish audit
# ---------------------------------------------------------------------------
def char_bigram_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row ``(n_bigrams, h_joint, h_first, h_cond)``: Shannon
    entropies (nats) of the corpus's character-bigram distribution over
    the normalized [a-z ] alphabet — joint H(ab), first-char H(a), and
    the conditional H(b|a) = H(ab) − H(a) that prices how predictable
    the next character is. The cheap gibberish/encrypted-blob detector
    (natural language sits near 2.3–2.8 nats of joint bigram entropy;
    random [a-z ] text at ln(729) ≈ 6.6) and a proxy for how well the
    corpus will compress.

    The bigram stream is corpus-sized but the distribution is BOUNDED
    (≤ 27² cells), so everything after the one map-combinable count is
    constant-size; entropy terms are exact-integer-ratio doubles
    snapped to 6dp before the bounded sums.
    """
    t = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", "")
    grams = (
        docs.select(t.alias("t"))
        .where(F.length("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("t") - 1),
                    lambda i: F.col("t").substr(i, F.lit(2)),
                )
            ).alias("g")
        )
    )
    with pin_scope() as scope:
        h = cache(grams.groupBy("g").agg(F.count(F.lit(1)).alias("c")))
        tot = h.agg(F.sum("c").cast("long").alias("n"))
        joint = (
            h.crossJoin(F.broadcast(tot))
            .select(
                F.round(
                    -(F.col("c").cast("double") / F.col("n"))
                    * F.log(F.col("c").cast("double") / F.col("n")),
                    6,
                ).alias("term")
            )
            .agg(F.round(F.sum("term"), 6).alias("h_joint"))
        )
        first = (
            h.groupBy(F.substring("g", 1, 1).alias("a"))
            .agg(F.sum("c").alias("ca"))
            .crossJoin(F.broadcast(tot))
            .select(
                F.round(
                    -(F.col("ca").cast("double") / F.col("n"))
                    * F.log(F.col("ca").cast("double") / F.col("n")),
                    6,
                ).alias("term")
            )
            .agg(F.round(F.sum("term"), 6).alias("h_first"))
        )
        return scope.store(
            tot.crossJoin(joint)
            .crossJoin(first)
            .select(
                F.col("n").alias("n_bigrams"),
                "h_joint",
                "h_first",
                F.round(F.col("h_joint") - F.col("h_first"), 6).alias("h_cond"),
            )
        )


@register(
    "q309_char_bigram_entropy",
    oracle=r"""
        WITH norm AS (
            SELECT regexp_replace(lower(text), '[^a-z ]', '', 'g') AS t
            FROM documents
        ),
        grams AS (
            SELECT substring(t, CAST(i AS INT), 2) AS g
            FROM norm, unnest(generate_series(1, length(t) - 1)) u(i)
            WHERE length(t) >= 2
        ),
        h AS (SELECT g, COUNT(*) AS c FROM grams GROUP BY g),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
        joint AS (
            SELECT ROUND(SUM(ROUND(-(CAST(c AS DOUBLE) / n)
                                   * LN(CAST(c AS DOUBLE) / n), 6)), 6) AS h_joint
            FROM h, tot
        ),
        first AS (
            SELECT ROUND(SUM(ROUND(-(CAST(ca AS DOUBLE) / n)
                                   * LN(CAST(ca AS DOUBLE) / n), 6)), 6) AS h_first
            FROM (SELECT substring(g, 1, 1) AS a, SUM(c) AS ca FROM h GROUP BY 1), tot
        )
        SELECT tot.n AS n_bigrams, joint.h_joint, first.h_first,
               ROUND(joint.h_joint - first.h_first, 6) AS h_cond
        FROM tot, joint, first
    """,
    doc=(
        "character-bigram entropy over the normalized [a-z ] alphabet: "
        "joint H(ab), first-char H(a), conditional H(b|a) in nats — the "
        "cheap gibberish/encrypted-blob detector and compression-rate "
        "proxy (natural text ~2.3-2.8 nats joint; random ~6.6). "
        "Corpus-sized stream into a <=729-cell distribution, one "
        "map-combinable count, 6dp-snapped bounded entropy sums."
    ),
    tags=("text", "stats", "quality"),
)
def q309_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return char_bigram_entropy(docs)


# ---------------------------------------------------------------------------
# Flesch readability (vowel-run syllable approximation)
# ---------------------------------------------------------------------------
def flesch_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllables, flesch_ease, fk_grade):
    Flesch Reading Ease 206.835 − 1.015·(W/S) − 84.6·(Syl/W) and the
    Flesch-Kincaid grade 0.39·(W/S) + 11.8·(Syl/W) − 15.59 (Kincaid et
    al. 1975) — the classic readability pair, a curation signal next to
    q49's quality score and q164's Gopher rules (reading level is a
    TARGETING knob, not a pass/fail rule).

    Deterministic approximations, identical in both engines: sentences =
    runs of [.!?] (min 1); syllables = vowel runs [aeiouy]+ over the
    lowercased text — word-boundary whitespace is a non-vowel, so the
    whole-text count equals the per-word sum with NO per-word pass (a
    vowel-free word contributes 0, the standard simplification of the
    dictionary syllabary). One Catalyst projection; ratios are fixed-
    order IEEE on per-doc integers, rounded 4dp.
    """
    text = F.col(text_col)
    n_words = F.size(tokens_expr(text_col)).cast("long")
    n_sents = F.greatest(F.regexp_count(text, F.lit(r"[.!?]+")), F.lit(1)).cast("long")
    n_syl = F.regexp_count(F.lower(text), F.lit("[aeiouy]+")).cast("long")
    wps = n_words.cast("double") / n_sents
    spw = F.when(n_words > 0, n_syl.cast("double") / n_words).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sents.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch_ease"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
    )


@register(
    "q319_flesch_readability",
    oracle=r"""
        SELECT
            doc_id,
            CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_words,
            CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
            CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
            ROUND(206.835
                  - 1.015 * (CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS DOUBLE)
                             / GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1))
                  - 84.6 * (CASE WHEN len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) > 0
                                 THEN CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                                      / len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))
                                 ELSE 0.0 END), 4) AS flesch_ease,
            ROUND(0.39 * (CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS DOUBLE)
                          / GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1))
                  + 11.8 * (CASE WHEN len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) > 0
                                 THEN CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                                      / len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))
                                 ELSE 0.0 END)
                  - 15.59, 4) AS fk_grade
        FROM documents
        ORDER BY doc_id
    """,
    doc=(
        "Flesch Reading Ease + Flesch-Kincaid grade per document "
        "(vowel-run syllable approximation, sentence = [.!?]+ run): the "
        "classic readability pair as one Catalyst projection — a "
        "reading-level TARGETING signal next to q49/q164's pass-fail "
        "quality rules."
    ),
    tags=("text", "quality", "curation"),
)
def q319_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return flesch_scores(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Self-BLEU source diversity (Zhu et al. 2018, Texygen)
# ---------------------------------------------------------------------------
_SELF_BLEU_K = 4


def self_bleu_sources(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = _SELF_BLEU_K,
) -> DataFrame:
    """Per group ``(source, n_pairs, self_bleu, max_pair_bleu)``: mean
    pairwise BLEU-4 among the group's ``k`` lowest-id documents — the
    Texygen self-BLEU diversity probe (high self-BLEU = templated /
    mode-collapsed text; THE standard first check on a synthetic-data
    source before mixing it into training).

    Deterministic and bounded by construction: the sample is the k
    lowest ids per group (reproducible across engines, no RNG), so the
    pair set is ≤ k·(k−1) per group regardless of corpus size — the
    quadratic stays inside a constant-size sample while the candidate
    SELECTION stays corpus-scale. BLEU machinery is the gated q245 core
    (integer clipped counts, fixed-order assembly); the per-group mean
    uses the ROUND(SUM,6)/n snap. Pair ids pack as a_id·10⁷ + b_id
    (unique while ids < 10⁷; the gate data is far below)."""
    w = Window.partitionBy(F.col("grp")).orderBy(F.col("id"))
    pick = (
        docs.select(F.col(group_col).alias("grp"), F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= k)
        .drop("_rnk")
    )
    a = pick.select(F.col("grp"), F.col("id").alias("ia"), F.col("t").alias("ref"))
    b = pick.select(F.col("grp"), F.col("id").alias("ib"), F.col("t").alias("cand"))
    pairs = (
        a.join(b, "grp")
        .filter(F.col("ia") != F.col("ib"))
        .select(
            (F.col("ia") * F.lit(10_000_000) + F.col("ib")).alias("pid"),
            "grp",
            "ref",
            "cand",
        )
    )
    scored = bleu_pairs(pairs.select("pid", "ref", "cand"))
    j = scored.join(pairs.select("pid", "grp"), "pid")
    return j.groupBy(F.col("grp").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.round(F.sum("bleu"), 6) / F.count(F.lit(1)), 6).alias("self_bleu"),
        F.max("bleu").alias("max_pair_bleu"),
    )


@register(
    "q345_self_bleu_sources",
    oracle=f"""
        WITH sel AS (
            SELECT doc_id, source, text,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
            FROM documents
        ),
        pick AS (SELECT doc_id, source, text FROM sel WHERE rnk <= {_SELF_BLEU_K}),
        pairs AS MATERIALIZED (
            SELECT a.doc_id * 10000000 + b.doc_id AS pid, a.source,
                   a.text AS ref, b.text AS cand
            FROM pick a JOIN pick b
              ON a.source = b.source AND a.doc_id <> b.doc_id
        ),
        {{core}}
        SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(ROUND(SUM({{val}}), 6) / COUNT(*), 6) AS self_bleu,
               MAX({{val}}) AS max_pair_bleu
        FROM wide JOIN pairs p USING (pid)
        GROUP BY p.source
        ORDER BY p.source
    """.format(core=_BLEU_CORE_SQL, val=_BLEU_VAL_SQL),
    doc=(
        "self-BLEU diversity per source (mean pairwise BLEU-4 among the "
        "4 lowest-id docs of each source — Zhu et al. 2018): the "
        "mode-collapse probe for synthetic sources; deterministic bounded "
        "sample, gated q245 BLEU core."
    ),
    tags=("text", "eval", "bleu", "quality"),
)
def q345_self_bleu_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return self_bleu_sources(docs).orderBy("source")
