"""Reference end-to-end pipeline as one declarative plan (SURVEY.md §3.2-§3.3).

ingest → group → template → LLM map (mock) → order-restoring sort →
export projection. This is the reference's whole job expressed in a handful
of DataFrame calls; the oracle reproduces every rule in SQL so the export
shape itself is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_batch_processing_spark.io.writers import export_projection
from ai_batch_processing_spark.jobs import pin, pin_scope
from ai_batch_processing_spark.operators.llm_map import LLMConfig, llm_map
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables

_TEMPLATE = "Review {source}/{doc_id}: {text}"
_PROMPT_SQL = (
    "'Review ' || COALESCE(CAST(source AS VARCHAR), '') || '/' || "
    "COALESCE(CAST(doc_id AS VARCHAR), '') || ': ' || COALESCE(CAST(text AS VARCHAR), '')"
)


@register(
    "q34_pipeline_export",
    oracle=f"""
        WITH p AS (
            SELECT
                *,
                {_PROMPT_SQL} AS prompt,
                ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
            FROM documents
        )
        SELECT
            lang AS "group",
            COALESCE(CAST(text AS VARCHAR), '') AS main_content,
            COALESCE(CAST(doc_id AS VARCHAR), '') AS doc_id,
            COALESCE(CAST(lang AS VARCHAR), '') AS lang,
            COALESCE(CAST(n_chars AS VARCHAR), '') AS n_chars,
            COALESCE(CAST(source AS VARCHAR), '') AS source,
            COALESCE(CAST(text AS VARCHAR), '') AS text,
            prompt,
            'mock:' || md5(prompt) || ':' || CAST(2 * (rn - 1) AS VARCHAR) AS response
        FROM p
        ORDER BY doc_id
    """,
    doc=(
        "whole reference pipeline: grouped mock LLM map + export projection "
        "(column order group, main_content, originals-sorted, prompt, response; "
        "'' defaults; main.py:697-733)."
    ),
    bench=True,
    tags=("reference", "pipeline", "export"),
)
def q34_pipeline_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    cfg = LLMConfig(
        prompt_template=_TEMPLATE,
        group_by="lang",
        main_content="text",
        order_by=["doc_id"],
    )
    result = llm_map(t["documents"], cfg).drop("timestamp")  # export-time stamps aren't hashable
    return export_projection(result, include_prompt=True)


# --- q73: the training-data filter pipeline ----------------------------------
# The capstone composition a 100 TB curation run actually executes:
# quality gate → language filter → exact dedup (keep min id) → join to
# the embedding table. Every stage is an operator proven individually
# (q49 quality, q40 dedup, joins); this query proves they compose in one
# plan — quality/lang predicates run scan-side, the dedup is one shuffle
# on text, the embedding join is the only other shuffle.
@register(
    "q73_training_data_filter",
    oracle=r"""
        WITH feats AS (
            SELECT
                doc_id, lang, text,
                length(text) AS n_chars,
                len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS n_tokens,
                length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
                length(text) - length(regexp_replace(text, '[\.,;:!\?''"()\[\]{}-]', '', 'g')) AS punct_chars,
                len(list_filter(
                    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
                    t -> list_contains(['the','and','of','to','a','in','is','that','for','with'], t)
                )) AS stop_hits
            FROM documents
        ),
        scored AS (
            SELECT doc_id, lang, text, n_tokens,
                ROUND(
                    (CASE WHEN n_chars BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.25 END)
                    * (CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / n_chars ELSE 0.0 END)
                    * (1 - (CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / n_chars ELSE 0.0 END))
                    * LEAST(1.0, (CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END) * 4 + 0.5),
                6) AS quality_score
            FROM feats
        ),
        kept AS (
            SELECT MIN(doc_id) AS doc_id, ANY_VALUE(n_tokens) AS n_tokens,
                   ANY_VALUE(quality_score) AS quality_score
            FROM scored
            WHERE lang = 'en' AND quality_score >= 0.5
            GROUP BY text
        )
        SELECT k.doc_id, k.n_tokens, k.quality_score,
               ROUND(sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x))), 4) AS emb_norm
        FROM kept k JOIN embeddings e ON e.vec_id = k.doc_id
        ORDER BY k.doc_id
    """,
    doc="capstone curation pipeline: quality gate → lang filter → exact dedup → embedding join.",
    bench=True,
    tags=("pipeline", "dedup", "quality", "join"),
)
def q73_training_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import quality_features

    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    scored = quality_features(t["documents"]).select("doc_id", "lang", "text", "n_tokens", "quality_score")
    kept = (
        scored.filter((F.col("lang") == "en") & (F.col("quality_score") >= 0.5))
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.first("n_tokens").alias("n_tokens"),
            F.first("quality_score").alias("quality_score"),
        )
    )
    emb = t["embeddings"]
    norm_sq = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return (
        kept.join(emb, kept.doc_id == emb.vec_id)
        .select("doc_id", "n_tokens", "quality_score", F.round(F.sqrt(norm_sq), 4).alias("emb_norm"))
        .orderBy("doc_id")
    )


# --- q169: round-5 curation pipeline v3 --------------------------------------
# The composition the round-5 operators exist for, in the order a modern
# web-corpus pipeline runs them (C4 / Gopher / CCNet / mC4 lineage):
#   line-level cleanup (intra-doc dedup + corpus-frequency boilerplate
#   removal) → Gopher rule gate on the CLEANED text → bigram-LM surprise
#   trained on the cleaned corpus, keep the at-or-below-mean half
#   (low-perplexity selection) → temperature (alpha=0.5) mixture repeat
#   factors per source over the survivors. Every stage is hash-gated
#   individually (q167 / q164 / q168 / q166); this query proves they
#   compose in one lazy plan — the line stats, rule booleans, LM bits and
#   repeat factor all emerge from a single optimized DAG.
@register(
    "q169_curation_pipeline_v3",
    oracle=r"""
        WITH corpus AS (
            SELECT doc_id AS id,
                   concat_ws(chr(10),
                             text,
                             'subscribe to our newsletter',
                             'tag group ' || CAST(doc_id % 7 AS VARCHAR),
                             CASE WHEN doc_id % 3 = 0 THEN text END) AS text
            FROM documents
        ),
        split AS (SELECT id, string_split(text, chr(10)) AS ls FROM corpus),
        lines AS (
            SELECT id, ls[CAST(i AS INT)] AS line, CAST(i AS BIGINT) AS pos
            FROM split, unnest(generate_series(1, len(ls))) u(i)
            WHERE ls[CAST(i AS INT)] <> ''
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id, line ORDER BY pos) AS rn
            FROM lines
        ),
        lfreq AS (
            SELECT line, COUNT(*) AS doc_freq FROM ranked WHERE rn = 1 GROUP BY line
        ),
        flagged AS (
            SELECT r.id, r.pos, r.line, (r.rn = 1 AND f.doc_freq <= 100) AS keep
            FROM ranked r JOIN lfreq f USING (line)
        ),
        cleaned AS (
            SELECT id AS doc_id,
                   CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS text
            FROM flagged GROUP BY id
        ),
        gwords AS (
            SELECT doc_id, n_kept,
                   list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS words,
                   text
            FROM cleaned
        ),
        gop AS (
            SELECT doc_id, n_kept,
                   len(words) AS n_words,
                   COALESCE(list_sum(list_transform(words, w -> length(w))), 0) AS word_chars,
                   len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words
            FROM gwords
        ),
        grules AS (
            SELECT doc_id, n_kept, n_words,
                   (n_words BETWEEN 40 AND 100000) AS r_word_count,
                   (ROUND(CASE WHEN n_words > 0 THEN CAST(word_chars AS DOUBLE) / n_words ELSE 0.0 END, 6)
                        BETWEEN 3.0 AND 10.0) AS r_mean_word_len,
                   (ROUND(CASE WHEN n_words > 0 THEN CAST(alpha_words AS DOUBLE) / n_words ELSE 0.0 END, 6)
                        >= 0.8) AS r_alpha_words
            FROM gop
        ),
        toks_arr AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
            FROM cleaned
        ),
        bigr AS (
            SELECT doc_id, ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
            FROM toks_arr, unnest(generate_series(1, len(ts) - 1)) u(i)
            WHERE len(ts) >= 2
        ),
        bcnt AS (SELECT w1, w2, COUNT(*) AS cb FROM bigr GROUP BY w1, w2),
        ccnt AS (SELECT w1, SUM(cb) AS cw FROM bcnt GROUP BY w1),
        vv AS (
            SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
            FROM (SELECT unnest(ts) AS tok FROM toks_arr)
        ),
        bits AS (
            SELECT b.doc_id,
                   ROUND(AVG(-log2((bcnt.cb + 0.5) / (ccnt.cw + 0.5 * vv.v))), 6) AS bits_per_bigram
            FROM bigr b JOIN bcnt USING (w1, w2) JOIN ccnt USING (w1) CROSS JOIN vv
            GROUP BY b.doc_id
        ),
        mu AS (SELECT ROUND(AVG(bits_per_bigram), 6) AS mu FROM bits),
        kept AS (
            SELECT g.doc_id, g.n_kept, g.n_words, b.bits_per_bigram, d.source
            FROM grules g
            JOIN bits b USING (doc_id)
            JOIN documents d USING (doc_id)
            CROSS JOIN mu
            WHERE g.r_word_count AND g.r_mean_word_len AND g.r_alpha_words
              AND b.bits_per_bigram <= mu.mu
        ),
        agg AS (
            SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS n_tokens
            FROM kept GROUP BY source
        ),
        shares AS (
            SELECT source, CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS p
            FROM agg
        ),
        tempered AS (
            SELECT source, p, sqrt(p) / SUM(sqrt(p)) OVER () AS q
            FROM shares
        ),
        factors AS (
            SELECT source, ROUND(q / p, 6) AS repeat_factor FROM tempered
        )
        SELECT k.doc_id, k.source, k.n_kept, k.n_words, k.bits_per_bigram,
               f.repeat_factor
        FROM kept k JOIN factors f USING (source)
        ORDER BY k.doc_id
    """,
    doc=(
        "round-5 capstone: line cleanup -> Gopher rule gate -> bigram-LM "
        "low-perplexity selection -> temperature mixture factors, composed "
        "in one plan and hash-matched end to end (each stage also gated "
        "individually as q167/q164/q168/q166)."
    ),
    tags=("pipeline", "curation", "quality", "mixture"),
)
def q169_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.curation import line_dedup, temperature_mixture
    from ai_batch_processing_spark.operators.corpus import bigram_surprise
    from ai_batch_processing_spark.operators.text import gopher_rules

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    corpus = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("subscribe to our newsletter"),
            F.concat(F.lit("tag group "), (F.col("doc_id") % 7).cast("string")),
            F.when(F.col("doc_id") % 3 == 0, F.col("text")),
        ).alias("text"),
    )
    # the cleaned corpus feeds THREE consumers (rule gate, LM bits, final
    # stats) — pin it or the explode+window+join DAG re-runs per consumer
    # (measured 6.7 s -> with checkpoint the shared stage runs once)
    cleaned = pin(
        line_dedup(corpus, max_doc_freq=100).select(
            F.col("id").alias("doc_id"), "n_kept", F.col("cleaned_text").alias("text")
        )
    )
    gop = gopher_rules(cleaned, min_words=40).select(
        "doc_id", "n_words", "r_word_count", "r_mean_word_len", "r_alpha_words"
    )
    with pin_scope() as scope:
        bits = scope.store(bigram_surprise(cleaned).select("doc_id", "bits_per_bigram"))
    feats = (
        cleaned.select("doc_id", "n_kept")
        .join(gop, "doc_id")
        .join(bits, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    mu = bits.agg(F.round(F.avg("bits_per_bigram"), 6).alias("mu"))
    kept = feats.crossJoin(F.broadcast(mu)).filter(
        F.col("r_word_count")
        & F.col("r_mean_word_len")
        & F.col("r_alpha_words")
        & (F.col("bits_per_bigram") <= F.col("mu"))
    )
    factors = temperature_mixture(
        kept.select("source", F.col("n_words").cast("long").alias("n_tokens")),
        "source",
        "n_tokens",
        alpha=0.5,
    ).select("source", "repeat_factor")
    return (
        kept.join(F.broadcast(factors), "source")
        .select("doc_id", "source", "n_kept", "n_words", "bits_per_bigram", "repeat_factor")
        .orderBy("doc_id")
    )


@register(
    "q177_curation_pipeline_v4",
    oracle=r"""
        WITH base AS (
            SELECT doc_id, source,
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
        gdf AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g),
        novelty AS (
            SELECT grams.doc_id,
                   ROUND(AVG(CASE WHEN gdf.nd = 1 THEN 1.0 ELSE 0.0 END), 6) AS novelty
            FROM grams JOIN gdf USING (g)
            GROUP BY grams.doc_id
        ),
        hits AS (
            SELECT doc_id, pos FROM grams JOIN (SELECT g FROM gdf WHERE nd >= 2) d USING (g)
        ),
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
        cover AS (
            SELECT doc_id, SUM(span_tokens) AS covered
            FROM (
                SELECT doc_id, MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens
                FROM islands GROUP BY doc_id, island
            )
            GROUP BY doc_id
        ),
        uni AS (SELECT doc_id, (source = 'src1') AS is_target, unnest(ts) AS f FROM base),
        bi AS (
            SELECT doc_id, (source = 'src1') AS is_target,
                   ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS f
            FROM base, unnest(generate_series(1, len(ts) - 1)) u(i)
            WHERE len(ts) >= 2
        ),
        stream AS (
            SELECT doc_id, is_target,
                   CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 512 AS b
            FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        ),
        nb AS (SELECT doc_id, is_target, b, COUNT(*) AS c FROM stream GROUP BY 1, 2, 3),
        raw AS (SELECT b, SUM(c) AS rq FROM nb GROUP BY b),
        tgt AS (SELECT b, SUM(c) AS tp FROM nb WHERE is_target GROUP BY b),
        tots AS (SELECT (SELECT CAST(SUM(rq) AS DOUBLE) FROM raw) AS r_tot,
                        (SELECT CAST(SUM(tp) AS DOUBLE) FROM tgt) AS t_tot),
        ratio AS (
            SELECT raw.b,
                   ln((COALESCE(tgt.tp, 0) + 1.0) / (tots.t_tot + 1.0 * 512))
                 - ln((raw.rq + 1.0) / (tots.r_tot + 1.0 * 512)) AS lam
            FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tots
        ),
        dsir AS (
            SELECT nb.doc_id, ROUND(SUM(nb.c * ratio.lam), 6) AS log_weight
            FROM nb JOIN ratio ON nb.b = ratio.b
            GROUP BY nb.doc_id
        ),
        feats AS (
            SELECT b.doc_id, b.source,
                   CAST(len(b.ts) AS BIGINT) AS n_tokens,
                   n.novelty,
                   ROUND(CAST(COALESCE(c.covered, 0) AS DOUBLE) / len(b.ts), 6) AS span_frac,
                   d.log_weight
            FROM base b
            JOIN novelty n USING (doc_id)
            LEFT JOIN cover c USING (doc_id)
            JOIN dsir d USING (doc_id)
            WHERE len(b.ts) > 0
        ),
        kept AS (SELECT * FROM feats WHERE novelty >= 0.5 AND span_frac <= 0.5),
        ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY log_weight DESC, doc_id
            ) AS BIGINT) AS rk
            FROM kept
        )
        SELECT doc_id, source, n_tokens, novelty, span_frac, log_weight, rk
        FROM ranked WHERE rk <= 10
        ORDER BY source, rk
    """,
    doc=(
        "round-5 capstone v4: n-gram novelty gate + duplicate-span "
        "coverage cap + DSIR target-likeness ranking -> top-10 per "
        "source, composed in one plan from the q175/q171/q170 machinery "
        "(each stage also gated individually) and hash-matched end to "
        "end. Ranking is on the ROUNDED log-weight (both engines agree "
        "on it by q170's gate) with the doc_id tiebreak."
    ),
    tags=("pipeline", "curation", "selection", "dsir"),
)
def q177_curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.curation import dsir_importance_weights
    from ai_batch_processing_spark.operators.text import (
        doc_stats_cached,
        duplicate_spans,
        ngram_novelty,
    )
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    nov = ngram_novelty(docs, n=8).select("doc_id", "novelty")
    cover = (
        duplicate_spans(docs, n=8, min_docs=2)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("covered"))
    )
    dsir = dsir_importance_weights(
        docs, target_pred=F.col("source") == "src1", n_buckets=512, method="md5"
    ).select("doc_id", "log_weight")
    feats = (
        doc_stats_cached(spark, sf_dir)
        .select("doc_id", "source", "n_tokens")
        .filter(F.col("n_tokens") > 0)
        .join(nov, "doc_id")
        .join(cover, "doc_id", "left")
        .join(dsir, "doc_id")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "novelty",
            F.round(
                F.coalesce(F.col("covered"), F.lit(0)).cast("double") / F.col("n_tokens"), 6
            ).alias("span_frac"),
            "log_weight",
        )
    )
    kept = feats.filter((F.col("novelty") >= 0.5) & (F.col("span_frac") <= 0.5))
    w = Window.partitionBy("source").orderBy(F.desc("log_weight"), F.asc("doc_id"))
    return (
        kept.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .orderBy("source", "rk")
    )


@register(
    "q200_training_mix_plan",
    oracle=r"""
        WITH fp AS (
            SELECT source, doc_id,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS f,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')) AS BIGINT) AS nt
            FROM documents
        ),
        survivors AS (
            SELECT source, f, ARG_MIN(nt, doc_id) AS n_tokens
            FROM fp GROUP BY source, f
        ),
        agg AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM survivors GROUP BY source
        ),
        tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t FROM agg),
        shared AS (
            SELECT agg.*, agg.n_tokens / tot.t AS p FROM agg CROSS JOIN tot
        ),
        powsum AS (SELECT SUM(sqrt(p)) AS sp FROM shared),
        stream AS (
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
        kls AS (
            SELECT g.source,
                   ROUND(SUM(((COALESCE(sb.c, 0) + 1.0) / (g.n_src + 512.0))
                             * log2(((COALESCE(sb.c, 0) + 1.0) / (g.n_src + 512.0))
                                    / ((g.cc + 1.0) / (g.n_all + 512.0)))), 6) AS kl_bits
            FROM grid g LEFT JOIN sb ON g.source = sb.source AND g.b = sb.b
            GROUP BY g.source
        )
        SELECT s.source, s.n_docs, s.n_tokens,
               ROUND(s.p, 6) AS p_natural,
               ROUND(sqrt(s.p) / ps.sp, 6) AS q_temperature,
               ROUND((sqrt(s.p) / ps.sp) / s.p, 6) AS repeat_factor,
               k.kl_bits
        FROM shared s CROSS JOIN powsum ps JOIN kls k USING (source)
        ORDER BY s.source
    """,
    doc=(
        "the training-mix plan, composed end to end: per-source DEDUPED "
        "token mass (q188's min-id-survivor aggregate, so self-mirroring "
        "can't inflate epochs) -> alpha=0.5 temperature shares and repeat "
        "factors (q166's IEEE-exact sqrt) -> annotated with KL(source || "
        "corpus) (q183) so the operator of the mix sees which weights "
        "are backed by genuinely distinct distributions. One lazy plan; "
        "each stage is also gated alone."
    ),
    tags=("pipeline", "curation", "mixture", "dedup"),
)
def q200_training_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.corpus import source_divergence
    from ai_batch_processing_spark.operators.curation import (
        mixture_weights_deduped,  # noqa: F401 — the fp/survivor shape below is its core
        temperature_mixture,
    )
    from ai_batch_processing_spark.operators.text import fingerprint_expr, token_count_ws

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    survivors = (
        docs.select(
            "source",
            fingerprint_expr(F.col("text")).alias("fp"),
            F.col("doc_id").alias("id"),
            token_count_ws(F.col("text")).cast("long").alias("nt"),
        )
        .groupBy("source", "fp")
        .agg(F.min_by("nt", "id").alias("n_tokens"))
    )
    mix = temperature_mixture(survivors, "source", "n_tokens", alpha=0.5)
    kl = source_divergence(docs, method="md5").select("source", "kl_bits")
    return mix.join(kl, "source").orderBy("source")
