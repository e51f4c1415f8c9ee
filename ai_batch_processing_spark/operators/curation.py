"""Training-corpus curation beyond dedup: decontamination, PII redaction,
sequence packing, and mixture reweighting.

These are the remaining first-class ops a 100 TB pretraining-data pipeline
runs after quality/lang/dedup (which live in text.py / dedup.py). The
reference has no analog (its pipeline stops at prompt→response export,
main.py:697-733); all four are north-star extensions, built Catalyst-first:

- decontamination: benchmark n-gram shingles are a SMALL set → broadcast;
  the corpus side stays scan-parallel, two shuffles total (per-doc distinct
  shingles, then the per-doc rollup). Never an all-pairs join.
- PII redaction: pure `regexp_replace`/`regexp_extract_all` chains — runs
  at scan speed inside whole-stage codegen, no Python in the path.
- sequence packing (concat-and-chunk): needs a GLOBAL running token offset
  per source — the naive `Window.partitionBy(source)` puts a whole source
  on one task. Uses the same two-phase distributed prefix sum as
  `template.with_row_index`: range-partition, per-partition cumsum, then
  broadcast the tiny per-(partition, source) offset table.
- mixture reweighting: one tiny per-source aggregate; the repeat factors it
  emits are what a weighted-sampling epoch plan consumes.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_batch_processing_spark.jobs import cache, pin, pin_scope
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables

from ai_batch_processing_spark.operators.text import tokens_expr

# ---------------------------------------------------------------------------
# Decontamination: n-gram overlap against a held-out benchmark set
# ---------------------------------------------------------------------------


def shingles_expr(text: Column | str, n: int = 8) -> Column:
    """All ``n``-token shingles of ``text`` (whitespace tokens, lowercased).

    Documents shorter than ``n`` tokens yield ONE shingle — the whole token
    sequence — so short docs still participate in overlap checks.
    """
    toks = tokens_expr(text)
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.2,
) -> DataFrame:
    """Per-document benchmark contamination: share of the doc's distinct
    n-gram shingles that also appear in the benchmark set.

    Scale shape: the benchmark (a test/eval set) is small by definition —
    its distinct shingle hashes are broadcast. The corpus side is two
    shuffles (distinct (doc, shingle), then per-doc rollup), both
    corpus-linear. Shingles travel as 64-bit xxhash, not strings, so the
    shuffle payload is 8 bytes per shingle regardless of n.
    """
    sh = F.explode(shingles_expr(F.col(text_col), n)).alias("_shingle")
    corpus_sh = (
        corpus.select(F.col(id_col), sh)
        .select(id_col, F.xxhash64("_shingle").alias("_sh"))
        .distinct()
    )
    bench_sh = (
        benchmark.select(F.explode(shingles_expr(F.col(text_col), n)).alias("_shingle"))
        .select(F.xxhash64("_shingle").alias("_sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "_sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_overlap") / F.col("n_shingles"), 6),
        )
        .withColumn("flagged", F.col("contamination") >= threshold)
    )


@register(
    "q101_decontaminate_ngram",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(t) - 7, 1) + 1),
                       i -> array_to_string(t[i:i+7], ' '))) AS shingle
            FROM toks
        ),
        corpus AS (
            SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0
        ),
        bench AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
        )
        SELECT c.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
               ROUND(CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS contamination,
               (CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*)) >= 0.2 AS flagged
        FROM corpus c LEFT JOIN bench b USING (shingle)
        GROUP BY c.doc_id
        ORDER BY c.doc_id
    """,
    doc=(
        "test-set decontamination: 8-gram shingle overlap of every corpus doc "
        "against a held-out benchmark slice (doc_id % 97 = 0); benchmark "
        "shingle hashes broadcast, corpus side two corpus-linear shuffles."
    ),
    tags=("curation", "decontamination", "ngram"),
)
def q101_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(corpus, benchmark, n=8, threshold=0.2).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Fuzzy decontamination: MinHash-LSH corpus-vs-benchmark near-dup match
# ---------------------------------------------------------------------------
def decontaminate_fuzzy(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 64,
    bands: int = 64,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, bench_id, jaccard): corpus documents whose character-k-gram
    Jaccard with ANY benchmark document is ≥ ``threshold``.

    The exact n-gram overlap (:func:`decontaminate`) catches verbatim
    leakage; this catches PARAPHRASED contamination — a benchmark item
    lightly rewritten into the training set still collides on most
    minhash positions.

    Scale shape: the benchmark side (signatures, band hashes, verify
    sets) is AQE-sized — broadcast when the eval set is genuinely small,
    shuffled when it isn't (a forced broadcast measured an OOM at a
    51.5k-doc bench whose shingle sets are ~300 MB); the corpus pays
    exactly one shingle+signature pass (the fused ``sig_and_sets``
    aggregate, pinned — banding and verify both read it
    without recomputing) and the band join prunes it to candidate rows
    before any verify work. At ``bands == num_perm``
    (one-row bands, the default) a pair is a candidate iff any of the
    ``num_perm`` positions agree — miss probability ``(1−J)^num_perm``,
    the q131 recall-1 argument — and every candidate is exactly verified
    with ``array_intersect``, so the output IS the Jaccard ≥ threshold
    cross pair set (oracle-gated as q158). Fewer/wider bands trade
    recall for candidate volume exactly as in ``minhash_dedup_pairs``.

    No bucket cap: the fan-out of the band join is bounded by the
    benchmark's size, not the corpus's — a degenerate all-same-shingle
    corpus costs candidates linear in the corpus, which the exact verify
    then filters; it cannot go quadratic.

    Config contract (measured, x10 crossover corpus): the ``bands ==
    num_perm`` default is the GATE/PROOF configuration — on a corpus with
    baseline Jaccard ~0.1 "any position agrees" admits 1−(1−J)⁶⁴ ≈ all
    corpus×bench pairs into the exact verify (81.5 s at 50k×5k; the
    |bench| factor is the constant, but eval sets aren't always small
    enough to pay it). At scale run PRODUCTION banding (``bands=16``,
    r=4: candidate rate ∝ J⁴) — recall ≥0.9 on the planted corpus is
    test-pinned, and every reported pair is still exactly verified.
    """
    from ai_batch_processing_spark.operators.dedup import (
        banded_signature_hashes,
        shingle_hash_stream,
        sig_and_sets,
    )

    c = pin(sig_and_sets(shingle_hash_stream(corpus, id_col, text_col, k), num_perm, seed))
    b = pin(sig_and_sets(shingle_hash_stream(benchmark, id_col, text_col, k), num_perm, seed))
    # The banded join carries only (band, bh, id) rows — AQE sizes it
    # correctly and may broadcast the bench side when the eval set is
    # genuinely small.
    cands = (
        banded_signature_hashes(c, num_perm, bands)
        .join(
            banded_signature_hashes(b, num_perm, bands).withColumnRenamed(
                "id", "bench_id"
            ),
            ["band", "bh"],
        )
        .select(F.col("id").alias("doc_id"), "bench_id")
        .distinct()
    )
    # The VERIFY joins carry the collect_set shingle arrays, whose true
    # size Catalyst cannot see (its estimate comes from the pre-explode
    # base-table stats) — both a forced broadcast AND the
    # estimate-trusting default measured driver OOMs at a 51.5k-doc
    # benchmark (~300 MB of sets). SHUFFLE_HASH pins the safe strategy:
    # per-partition hash build, no driver-side materialization, correct
    # at any benchmark size.
    cs = c.select(F.col("id").alias("doc_id"), F.col("hs").alias("hs_c")).hint("shuffle_hash")
    bs = b.select(F.col("id").alias("bench_id"), F.col("hs").alias("hs_b")).hint("shuffle_hash")
    inter = F.size(F.array_intersect("hs_c", "hs_b"))
    jac = inter / (F.size("hs_c") + F.size("hs_b") - inter)
    return (
        cands.join(cs, "doc_id")
        .join(bs, "bench_id")
        .filter(jac >= threshold)
        .select("doc_id", "bench_id", F.round(jac, 6).alias("jaccard"))
    )


# The q158 scenario: the benchmark is a perturbed copy of every 97th corpus
# doc (suffix appended, ids shifted out of the corpus domain) — each bench
# item's source doc is planted paraphrased contamination the fuzzy matcher
# must find; the exact matcher (q101's n-gram containment at n=8) would see
# depressed overlap on short docs whose every 8-gram crosses the edit.
_FUZZY_BENCH_SHIFT = 500_000


@register(
    "q158_decontaminate_fuzzy",
    oracle=f"""
        WITH corpus AS (SELECT doc_id AS id, text FROM documents),
        bench AS (
            SELECT doc_id + {_FUZZY_BENCH_SHIFT} AS id, text || ' eval item' AS text
            FROM documents WHERE doc_id % 97 = 0
        ),
        cd AS (SELECT id, text FROM corpus WHERE length(text) >= 5),
        bd AS (SELECT id, text FROM bench WHERE length(text) >= 5),
        csh AS (
            SELECT DISTINCT id, substring(text, CAST(i AS INT), 5) AS s
            FROM cd, unnest(generate_series(1, length(text) - 4)) AS t(i)
        ),
        bsh AS (
            SELECT DISTINCT id, substring(text, CAST(i AS INT), 5) AS s
            FROM bd, unnest(generate_series(1, length(text) - 4)) AS t(i)
        ),
        cn AS (SELECT id, COUNT(*) AS n FROM csh GROUP BY id),
        bn AS (SELECT id, COUNT(*) AS n FROM bsh GROUP BY id),
        inter AS (
            SELECT c.id AS doc_id, b.id AS bench_id, COUNT(*) AS i
            FROM csh c JOIN bsh b ON c.s = b.s
            GROUP BY 1, 2
        )
        SELECT doc_id, bench_id,
               ROUND(CAST(i AS DOUBLE) / (cn.n + bn.n - i), 6) AS jaccard
        FROM inter
        JOIN cn ON cn.id = doc_id
        JOIN bn ON bn.id = bench_id
        WHERE CAST(i AS DOUBLE) / (cn.n + bn.n - i) >= 0.5
        ORDER BY doc_id, bench_id
    """,
    doc=(
        "fuzzy test-set decontamination in the recall-1 configuration "
        "(bands = num_perm: candidate iff ANY minhash position agrees, miss "
        "probability (1-J)^64, every candidate exactly verified) against a "
        "planted-paraphrase benchmark — hash-matched with the independent "
        "DuckDB exact cross-table Jaccard oracle. The corpus pays one fused "
        "shingle+signature pass; the band join is AQE-sized and the verify "
        "joins are pinned SHUFFLE_HASH (a broadcast benchmark side measured "
        "a driver OOM at 51.5k docs — shingle sets are corpus-scale data, "
        "not dimension-scale)."
    ),
    tags=("curation", "decontamination", "minhash", "verify"),
)
def q158_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    corpus = docs.select("doc_id", "text")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + _FUZZY_BENCH_SHIFT).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" eval item")).alias("text"),
    )
    return decontaminate_fuzzy(corpus, benchmark, threshold=0.5).orderBy(
        "doc_id", "bench_id"
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (pure Catalyst regex chain)
# ---------------------------------------------------------------------------

# Order matters: SSN (ddd-dd-dddd) before PHONE (ddd-dddd) so the phone
# pattern can't eat an SSN tail; EMAIL first so its local part's digits
# aren't clipped by the number patterns.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\d{3}-\d{2}-\d{4}", "[SSN]"),
    ("ip", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "[IP]"),
    ("phone", r"\d{3}-\d{4}", "[PHONE]"),
)


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-category PII match counts (before redaction)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        name: F.size(F.regexp_extract_all(c, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    }


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with its category token, in pattern order."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


@register(
    "q102_pii_redaction",
    oracle=r"""
        WITH contact AS (
            SELECT doc_id,
                   'u' || CAST(doc_id AS VARCHAR) || '@mail.example.com ip 10.'
                       || CAST(doc_id % 200 AS VARCHAR) || '.'
                       || CAST((doc_id * 7) % 250 AS VARCHAR) || '.4 ssn 123-45-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' call 555-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
                       AS contact
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
               CAST(len(regexp_extract_all(regexp_replace(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), '\d{3}-\d{2}-\d{4}')) AS INTEGER) AS n_ssn,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(contact,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '\d{3}-\d{2}-\d{4}', '[SSN]', 'g'),
                   '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '[IP]', 'g'),
                   '\d{3}-\d{4}', '[PHONE]', 'g') AS redacted
        FROM contact
        ORDER BY doc_id
    """,
    doc=(
        "PII scrub: email/SSN/IP/phone detection + redaction as a pure "
        "regexp_replace chain (codegen, scan speed); counts computed on the "
        "pre-redaction text. Contact strings synthesized deterministically "
        "from doc_id so the gate exercises every pattern."
    ),
    tags=("curation", "pii", "regex"),
)
def q102_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    contact = F.concat(
        F.lit("u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com ip 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 250).cast("string"),
        F.lit(".4 ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" call 555-"),
        F.lpad(((F.col("doc_id") * 3) % 10000).cast("string"), 4, "0"),
    )
    with_contact = docs.select("doc_id", contact.alias("contact"))
    email_pat = PII_PATTERNS[0][1]
    after_email = F.regexp_replace(F.col("contact"), email_pat, "[EMAIL]")
    return with_contact.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("contact"), F.lit(email_pat), 0)).alias("n_email"),
        # SSN counted after email redaction (an address' digits can't shadow it)
        F.size(F.regexp_extract_all(after_email, F.lit(PII_PATTERNS[1][1]), 0)).alias("n_ssn"),
        redact_pii(F.col("contact")).alias("redacted"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Line-level cleanup: intra-doc dedup + corpus-wide boilerplate removal
# ---------------------------------------------------------------------------
def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """C4/RefinedWeb-style line cleanup, the web-corpus curation staple:

    - INTRA-DOC dedup: within each document, keep only the FIRST
      occurrence of every line (repeated paragraphs, duplicated blocks);
    - BOILERPLATE removal (``max_doc_freq`` set): drop every occurrence
      of a line that appears in more than ``max_doc_freq`` distinct
      documents — the corpus-wide header/footer/cookie-banner rule.

    Output: (id, n_lines, n_kept, cleaned_text) with surviving lines
    rejoined in original order. Empty lines are dropped up front.

    Scale shape: one explode, one (id, line) window for first-occurrence
    ranking, one line-keyed aggregate for document frequency (the
    rn = 1 stream, so each (doc, line) counts once) joined back on line,
    then a per-doc aggregate that reassembles via an ordered
    ``array_sort(collect_list(struct(pos, line)))`` — no driver state,
    no quadratic term; the heavy key (the line text) could be swapped
    for its xxhash128 exactly as in ``exact_dedup_hashed`` when lines
    are megabyte-scale.
    """
    lines = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .filter(F.col("line") != "")
    )
    first = Window.partitionBy("id", "line").orderBy("pos")
    ranked = lines.withColumn("_rn", F.row_number().over(first))
    freq = (
        ranked.filter(F.col("_rn") == 1)
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    flagged = ranked.join(freq, "line").withColumn(
        "_keep",
        (F.col("_rn") == 1)
        & (F.lit(True) if max_doc_freq is None else F.col("doc_freq") <= max_doc_freq),
    )
    kept_struct = F.when(F.col("_keep"), F.struct("pos", "line"))
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
                ),
                "\n",
            ).alias("cleaned_text"),
        )
    )


@register(
    "q167_line_dedup_boilerplate",
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
        freq AS (
            SELECT line, COUNT(*) AS doc_freq FROM ranked WHERE rn = 1 GROUP BY line
        ),
        flagged AS (
            SELECT r.id, r.pos, r.line,
                   (r.rn = 1 AND f.doc_freq <= 100) AS keep
            FROM ranked r JOIN freq f USING (line)
        )
        SELECT id,
               COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS cleaned_text
        FROM flagged GROUP BY id ORDER BY id
    """,
    doc=(
        "C4-style line-level cleanup on a planted corpus (universal "
        "boilerplate line in every doc, a moderate-frequency tag line, an "
        "intra-doc duplicate for every 3rd doc): first-occurrence dedup "
        "within documents + corpus-frequency boilerplate removal "
        "(doc_freq > 100), cleaned text reassembled in line order — "
        "hash-matched including the reassembled text."
    ),
    tags=("curation", "dedup", "text"),
)
def q167_line_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    corpus = docs.select(
        F.col("doc_id"),
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("subscribe to our newsletter"),
            F.concat(F.lit("tag group "), (F.col("doc_id") % 7).cast("string")),
            F.when(F.col("doc_id") % 3 == 0, F.col("text")),
        ).alias("text"),
    )
    return line_dedup(corpus, max_doc_freq=100).orderBy("id")


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk) via distributed prefix sum
# ---------------------------------------------------------------------------


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "_prefix",
) -> DataFrame:
    """Exclusive running sum of ``value_col`` per group in ``order_cols``
    order, WITHOUT putting any whole group on one task.

    `Window.partitionBy(group)` is the textbook answer and the textbook
    scale bug: one source = one task. Instead (mirrors
    `template.with_row_index`): range-partition on (group, order) — a
    distributed sort — cumsum within each physical partition
    (:func:`_range_cumsum`), then add the per-(partition, group) offsets
    (``template.partition_offsets``). Only ≤ n_partitions × n_groups
    offset rows ever cross one reducer, never the data.
    """
    from ai_batch_processing_spark.operators.template import partition_offsets

    summed = _range_cumsum(df, group_cols, order_cols, value_col)
    return (
        partition_offsets(summed, F.col(value_col), group_cols)
        .withColumn(out_col, (F.col("_off") + F.col("_incl") - F.col(value_col)).cast("long"))
        .drop("_pid", "_incl", "_off")
    )


def _range_cumsum(df: DataFrame, group_cols: list[str], order_cols: list[str], value_col: str) -> DataFrame:
    """Range-partition ``df`` on (group, order) and add the inclusive
    running sum of ``value_col`` per group within each partition:
    ``_pid`` (partition) and ``_incl``.

    The within-partition cumsum is an Arrow kernel over the locally sorted
    partition, NOT a ``Window.partitionBy(_pid, group)``: Catalyst cannot
    see that ``spark_partition_id()`` is partition-constant, so that window
    inserted a SECOND full Exchange (hashpartitioning(_pid, group),
    ENSURE_REQUIREMENTS) — the whole frame crossed the network twice
    (guide §2.4; measured at 100× sf0.1: the q103 prefix-sum subtree fell
    1.99 s → 1.51 s when the kernel replaced the window, identical rows).
    Rows arrive sorted by (group, order), so groups are contiguous and the
    running sum is a segmented cumsum with a tail carry across Arrow
    batches. Value column must be non-null (every caller passes regex-
    derived token counts, ≥ 0 by construction); integer sums are exact, so
    the kernel is value-identical to the window form.
    """
    from ai_batch_processing_spark.session import shuffle_partitions

    keys = [F.col(c) for c in group_cols + order_cols]
    n = shuffle_partitions(df.sparkSession)
    ranged = df.repartitionByRange(n, *keys).sortWithinPartitions(*keys)
    sum_t = "double" if dict(df.dtypes)[value_col] in ("float", "double") else "bigint"
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in ranged.schema.fields)
        + f", `_pid` int, `_incl` {sum_t}"
    )

    def _cumsum_part(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        carry_key: tuple | None = None
        carry = 0
        acc_t = "float64" if sum_t == "double" else "int64"
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # accumulate at full width (int64/float64) regardless of the
            # input column's width; Arrow casts the passthrough columns
            # back to the declared schema
            pdf[value_col] = pdf[value_col].astype(acc_t)
            cs = pdf.groupby(group_cols, sort=False, dropna=False)[value_col].cumsum()
            if carry_key is not None:
                gk = list(zip(*[pdf[c] for c in group_cols]))
                prefix = 0
                for k in gk:
                    if k == carry_key:
                        prefix += 1
                    else:
                        break
                if prefix:
                    cs.iloc[:prefix] += carry
            gk_last = tuple(pdf[c].iloc[-1] for c in group_cols)
            carry_key, carry = gk_last, cs.iloc[-1]
            pdf["_pid"] = pid
            pdf["_incl"] = cs
            yield pdf

    return ranged.mapInPandas(_cumsum_part, out_schema)


def pack_sequences(
    df: DataFrame,
    budget: int,
    group_cols: list[str],
    order_cols: list[str],
    token_col: str,
) -> DataFrame:
    """Concat-and-chunk packing: lay every document's tokens end-to-end per
    group (in ``order_cols`` order) and cut a training sequence every
    ``budget`` tokens. Each doc is assigned the pack where its first token
    lands (``pack_id``) and its offset inside that pack (``pack_offset``) —
    the standard pretraining packing where documents may straddle pack
    boundaries and get truncated/continued by the loader.
    """
    out = grouped_prefix_sum(df, group_cols, order_cols, token_col, out_col="_start")
    return (
        out.withColumn("pack_id", F.floor(F.col("_start") / budget))
        .withColumn("pack_offset", (F.col("_start") % budget).cast("long"))
        .drop("_start")
    )


def pack_fragments(
    df: DataFrame,
    budget: int,
    group_cols: list[str],
    order_cols: list[str],
    token_col: str,
) -> DataFrame:
    """Per-fragment packing rows: one row per (document, pack) slice.

    ``pack_sequences`` tells a loader where each document STARTS; a doc
    straddling pack boundaries still forces the loader to re-derive where
    its continuation lands. This emits the loader-ready form directly —
    for every pack a document touches: ``pack_id``, ``slice_start`` (token
    offset INSIDE the document where the fragment begins), ``slice_len``,
    and ``pack_offset`` (where the fragment begins inside the pack). A
    loader materializes pack p by concatenating its fragments ordered by
    pack_offset; Σ slice_len per document = the document's token count
    (test-pinned).

    Scale shape: the same distributed prefix sum as ``pack_sequences``
    (range-partitioned cumsum, broadcast offsets — no whole-group window),
    then a per-row explode over the touched pack range — output is
    fragments-linear (≤ 1 + tokens/budget rows per doc), all Catalyst.
    Zero-token documents emit one zero-length fragment rather than
    disappearing silently.
    """
    out = grouped_prefix_sum(df, group_cols, order_cols, token_col, out_col="_start")
    first = F.floor(F.col("_start") / budget).cast("long")
    last = F.greatest(
        first, F.floor((F.col("_start") + F.col(token_col) - 1) / budget).cast("long")
    )
    frag = out.withColumn("pack_id", F.explode(F.sequence(first, last)))
    gstart = F.greatest(F.col("_start"), F.col("pack_id") * budget)
    gend = F.least(F.col("_start") + F.col(token_col), (F.col("pack_id") + 1) * F.lit(budget))
    return (
        frag.withColumn("slice_start", (gstart - F.col("_start")).cast("long"))
        .withColumn("slice_len", (gend - gstart).cast("long"))
        .withColumn("pack_offset", (gstart - F.col("pack_id") * budget).cast("long"))
        .drop("_start")
    )


@register(
    "q135_sequence_packing_fragments",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, source,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        laid AS (
            SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS start_off
            FROM toks
        ),
        frag AS (
            SELECT doc_id, source, n_tokens, start_off, CAST(p AS BIGINT) AS pack_id
            FROM laid, unnest(generate_series(
                CAST(FLOOR(start_off / 512.0) AS BIGINT),
                GREATEST(CAST(FLOOR(start_off / 512.0) AS BIGINT),
                         CAST(FLOOR((start_off + n_tokens - 1) / 512.0) AS BIGINT))
            )) t(p)
        )
        SELECT doc_id, source, pack_id,
               CAST(GREATEST(start_off, pack_id * 512) - start_off AS BIGINT) AS slice_start,
               CAST(LEAST(start_off + n_tokens, (pack_id + 1) * 512)
                    - GREATEST(start_off, pack_id * 512) AS BIGINT) AS slice_len,
               CAST(GREATEST(start_off, pack_id * 512) - pack_id * 512 AS BIGINT) AS pack_offset
        FROM frag
        ORDER BY doc_id, pack_id
    """,
    doc=(
        "loader-ready sequence packing: one row per (document, pack) "
        "fragment with slice_start/slice_len/pack_offset, so straddling "
        "documents need no loader-side re-derivation (q103's continuation "
        "form). Distributed prefix sum + fragments-linear explode."
    ),
    tags=("curation", "packing", "prefix-sum"),
)
def q135_sequence_packing_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import doc_stats_cached

    # shared materialized stats frame (see doc_stats_cached): the prefix
    # sum's range partitioner and the final orderBy each run a sampling
    # job over this input — reading the checkpointed narrow frame, never
    # re-tokenizing the corpus (r9 verdict item 4)
    sized = doc_stats_cached(spark, sf_dir).select("doc_id", "source", "n_tokens")
    # No trailing orderBy — see q103: the driver hash is order-insensitive
    # and the global sort of the fragment stream is a pure-waste stage.
    return pack_fragments(
        sized, budget=512, group_cols=["source"], order_cols=["doc_id"], token_col="n_tokens"
    ).select("doc_id", "source", "pack_id", "slice_start", "slice_len", "pack_offset")


@register(
    "q103_sequence_packing",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, source,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        laid AS (
            SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS start_off
            FROM toks
        )
        SELECT doc_id, source, n_tokens,
               CAST(FLOOR(start_off / 512) AS BIGINT) AS pack_id,
               CAST(start_off % 512 AS BIGINT) AS pack_offset
        FROM laid
        ORDER BY doc_id
    """,
    doc=(
        "sequence packing for training (concat-and-chunk, 512-token packs "
        "per source): per-source running token offset computed as a "
        "distributed prefix sum — range-partitioned cumsum + broadcast "
        "offsets, no whole-source-on-one-task window."
    ),
    tags=("curation", "packing", "prefix-sum"),
)
def q103_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import doc_stats_cached

    # Shared materialized stats frame: the prefix sum's range partitioner
    # AND the final orderBy each run a sampling job over this input —
    # under the r9 per-query persist that still re-paid the tokenization
    # regex once per query; the session-cached frame pays it once per
    # scale dir (r9 verdict item 4).
    sized = doc_stats_cached(spark, sf_dir).select("doc_id", "source", "n_tokens")
    # No trailing orderBy (r10): the driver's value hash is
    # order-insensitive (rows are sorted before hashing), and the global
    # range sort over a corpus-sized output was 2.4 s of the 3.3 s warm
    # x100 wall — exactly the stage a 100 TB plan must not have. The
    # oracle keeps its ORDER BY (free determinism on the DuckDB side).
    return pack_sequences(
        sized, budget=512, group_cols=["source"], order_cols=["doc_id"], token_col="n_tokens"
    ).select("doc_id", "source", "n_tokens", "pack_id", "pack_offset")


# ---------------------------------------------------------------------------
# Mixture reweighting (domain balancing)
# ---------------------------------------------------------------------------


def mixture_weights(
    df: DataFrame, group_col: str, token_col: str, target_share: dict[str, float] | None = None
) -> DataFrame:
    """Per-source token shares and the repeat factor that moves the mix to
    the target distribution (uniform when ``target_share`` is None).

    repeat_factor > 1 ⇒ upsample (repeat epochs), < 1 ⇒ downsample. One
    tiny per-source aggregate; the constant-key share window runs over
    n_sources rows, never the data.
    """
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(token_col).alias("n_tokens")
    )
    w = Window.partitionBy(F.lit(0))
    shared = agg.withColumn(
        "token_share", F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 6)
    )
    if target_share is None:
        target = 1.0 / F.count(F.lit(1)).over(w)
    else:
        m = F.create_map(*[F.lit(x) for kv in target_share.items() for x in kv])
        target = m[F.col(group_col)]
    return shared.withColumn(
        "repeat_factor",
        F.round(target / (F.col("n_tokens") / F.sum("n_tokens").over(w)), 6),
    )


@register(
    "q104_mixture_reweighting",
    oracle=r"""
        WITH toks AS (
            SELECT source,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        agg AS (
            SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM toks GROUP BY source
        )
        SELECT source, n_docs, n_tokens,
               ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) AS token_share,
               ROUND((1.0 / COUNT(*) OVER ())
                     / (CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()), 6) AS repeat_factor
        FROM agg
        ORDER BY source
    """,
    doc=(
        "domain mixture reweighting: per-source token share + repeat factor "
        "to reach a uniform mix — the knob a weighted-epoch sampler consumes; "
        "one tiny aggregate, share window over n_sources rows only."
    ),
    tags=("curation", "mixture"),
)
def q104_mixture_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import doc_stats_cached

    sized = doc_stats_cached(spark, sf_dir).select("source", "n_tokens")
    return mixture_weights(sized, "source", "n_tokens").orderBy("source")


def temperature_mixture(
    df: DataFrame, group_col: str, token_col: str, alpha: float = 0.5
) -> DataFrame:
    """Temperature-based mixture reweighting (the mC4/XLM-R multilingual
    recipe): sampling share qᵍ ∝ pᵍ^α where pᵍ is the group's natural
    token share — α < 1 flattens the distribution toward uniform
    (upsampling tail languages/sources without drowning the head), α = 1
    keeps the natural mix. Output per group: natural share, tempered
    share, and the repeat factor q/p that :func:`materialize_mixture`
    turns into an epoch-expanded dataset.

    One tiny per-group aggregate; the share windows run over #groups
    rows, never the data. α = 0.5 (temperature 2, the common default) is
    computed via ``sqrt`` — IEEE-exact and bit-identical across engines,
    which is what lets q166 hash-gate the math (a general ``pow(p, α)``
    is correctly-rounded-ish but not guaranteed identical between Java
    and C libm; other α values use it and are test-covered, not
    hash-gated).
    """
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(token_col).alias("n_tokens")
    )
    w = Window.partitionBy(F.lit(0))
    # layered projections: window functions cannot nest, so p's window
    # materializes before the tempered share's window consumes it
    shared = agg.withColumn("_p", F.col("n_tokens") / F.sum("n_tokens").over(w))
    powed = F.sqrt(F.col("_p")) if alpha == 0.5 else F.pow(F.col("_p"), F.lit(alpha))
    tempered = shared.withColumn("_pw", powed).withColumn(
        "_q", F.col("_pw") / F.sum("_pw").over(w)
    )
    return tempered.select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round("_p", 6).alias("p_natural"),
        F.round("_q", 6).alias("q_temperature"),
        F.round(F.col("_q") / F.col("_p"), 6).alias("repeat_factor"),
    )


@register(
    "q166_temperature_mixture",
    oracle=r"""
        WITH toks AS (
            SELECT source,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        agg AS (
            SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM toks GROUP BY source
        ),
        shares AS (
            SELECT source, n_docs, n_tokens,
                   CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS p
            FROM agg
        ),
        tempered AS (
            SELECT source, n_docs, n_tokens, p,
                   sqrt(p) / SUM(sqrt(p)) OVER () AS q
            FROM shares
        )
        SELECT source, n_docs, n_tokens,
               ROUND(p, 6) AS p_natural,
               ROUND(q, 6) AS q_temperature,
               ROUND(q / p, 6) AS repeat_factor
        FROM tempered
        ORDER BY source
    """,
    doc=(
        "temperature-based mixture reweighting (the mC4/XLM-R alpha-"
        "sampling recipe, alpha=0.5 via IEEE-exact sqrt): tempered "
        "sampling shares q ∝ p^alpha flatten the source mix toward "
        "uniform; repeat factors feed materialize_mixture."
    ),
    tags=("curation", "mixture"),
)
def q166_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import token_count_ws

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    toks = docs.select("source", token_count_ws("text").cast("long").alias("n_tokens"))
    return temperature_mixture(toks, "source", "n_tokens", alpha=0.5).orderBy("source")


def materialize_mixture(
    df: DataFrame,
    factors: DataFrame,
    group_col: str,
    id_col: str,
    seed: int = 11,
    method: str = "xxhash64",
) -> DataFrame:
    """Turn per-group repeat factors into an actual epoch-expanded dataset.

    ``mixture_weights`` SAYS how much to up/downsample each source;
    this DOES it: every row is emitted ``floor(rf)`` times plus one more
    with probability ``frac(rf)``, decided by a deterministic per-row hash
    (so reruns, repartitions, and clusters agree row-by-row — never
    ``rand()``). Output adds an ``epoch`` column (1..n_copies); rows whose
    copy count is 0 (downsampled sources) drop out.

    Scale shape: ``factors`` is #groups rows → broadcast join; the
    expansion is a per-row ``sequence``+``explode`` (fan-out exactly
    Σ rf·|group|, no shuffle). ``method="knuth"`` makes the Bernoulli
    hash SQL-portable for the oracle gate (q109's pattern).
    """
    with_rf = df.join(F.broadcast(factors), group_col)
    k = F.floor(F.col("repeat_factor")).cast("long")
    frac = F.col("repeat_factor") - k
    # FLOOR, not a bare cast: Spark's cast('long') truncates but DuckDB's
    # CAST(AS BIGINT) rounds — the oracle twin must FLOOR too, or boundary
    # fractions shift the Bernoulli threshold by 1 between engines
    extra = (
        F.pmod(_hash_key(id_col, seed, method), F.lit(_SPLIT_BUCKETS))
        < F.floor(frac * _SPLIT_BUCKETS).cast("long")
    ).cast("long")
    n_copies = (k + extra).alias("n_copies")
    return (
        with_rf.withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") >= 1)  # sequence(1, 0) would DESCEND in Spark
        .withColumn("epoch", F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))))
        .drop("n_copies")
    )


@register(
    "q142_mixture_materialized",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, source,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        agg AS (
            SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tok FROM toks GROUP BY source
        ),
        rf AS (
            -- ROUND(...,6) mirrors mixture_weights' rounding exactly: the
            -- Bernoulli threshold derives from frac(repeat_factor), so both
            -- engines must hash the same 6-decimal value
            SELECT source,
                   ROUND((1.0 / COUNT(*) OVER ())
                         / (CAST(tok AS DOUBLE) / SUM(tok) OVER ()), 6) AS repeat_factor
            FROM agg
        ),
        sized AS (
            SELECT t.doc_id, t.source, t.n_tokens, rf.repeat_factor,
                   CAST(FLOOR(rf.repeat_factor) AS BIGINT)
                   + CASE WHEN ((t.doc_id * 2654435761 + 11) % 4294967296) % 1000000
                           < CAST(FLOOR((rf.repeat_factor - FLOOR(rf.repeat_factor)) * 1000000) AS BIGINT)
                          THEN 1 ELSE 0 END AS n_copies
            FROM toks t JOIN rf USING (source)
        )
        SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
        FROM sized, unnest(generate_series(1, n_copies)) u(e)
        WHERE n_copies >= 1
        ORDER BY doc_id, epoch
    """,
    doc=(
        "mixture materialization: per-source repeat factors (uniform "
        "target over token shares, q104's math) expanded into an actual "
        "epoch-replicated dataset — floor(rf) copies plus a deterministic "
        "hash-Bernoulli extra, broadcast factors, explode fan-out, zero "
        "shuffle. Knuth-hash variant is the oracle twin (q109 pattern)."
    ),
    tags=("curation", "mixture", "sampling"),
)
def q142_mixture_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import doc_stats_cached

    sized = doc_stats_cached(spark, sf_dir).select("doc_id", "source", "n_tokens")
    factors = mixture_weights(sized, "source", "n_tokens").select("source", "repeat_factor")
    out = materialize_mixture(sized, factors, "source", "doc_id", seed=11, method="knuth")
    # No trailing orderBy — see q103 (order-insensitive driver hash).
    return out.select("doc_id", "source", "epoch")


# --- deterministic train/val/test split --------------------------------------
# Split assignment must be a pure function of the row (reproducible across
# runs, clusters, and re-partitioning) and uncorrelated with the id's
# natural ordering. Production default hashes with xxhash64; the "knuth"
# multiplicative variant uses only BIGINT arithmetic so the exact same
# assignment is expressible in ANSI SQL — that variant is what the oracle
# gate checks, and a unit test pins the xxhash64 path's proportions.

_SPLIT_BUCKETS = 1_000_000


def _hash_key(id_col: str, seed: int, method: str) -> Column:
    """Deterministic per-row hash of ``id_col`` — the one place the two
    portable hash variants live (``assign_splits`` and
    ``sample_k_per_group`` must never drift apart).

    ``xxhash64``: any id type, no overflow — the production default.
    ``knuth``: (id · 2654435761 + seed) mod 2³² — BIGINT-only arithmetic,
    expressible verbatim in ANSI SQL for the oracle gates; integral ids
    only (a string id would fail the long cast under ANSI mode).
    """
    if method == "xxhash64":
        return F.xxhash64(F.col(id_col), F.lit(seed))
    if method == "knuth":
        return (F.col(id_col).cast("long") * F.lit(2654435761) + F.lit(seed)) % F.lit(4294967296)
    raise ValueError(f"method must be xxhash64|knuth, got {method!r}")


def assign_splits(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[tuple[str, float], ...] = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    seed: int = 7,
    method: str = "xxhash64",
) -> DataFrame:
    """Attach a deterministic ``split`` column by hashing ``id_col``.

    Zero shuffle: the bucket is a per-row expression. ``method="knuth"``
    ((id * 2654435761 + seed) mod 2^32 — Knuth's multiplicative hash) is
    SQL-portable for oracle checks; ``xxhash64`` is the production default
    (better avalanche on structured ids).
    """
    total = sum(w for _, w in weights)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = F.pmod(_hash_key(id_col, seed, method), F.lit(_SPLIT_BUCKETS))
    expr = None
    acc = 0.0
    for name, w in weights[:-1]:
        acc += w
        cond = bucket < int(acc * _SPLIT_BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = weights[-1][0]
    split = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", split)


@register(
    "q109_split_assignment",
    oracle="""
        SELECT doc_id, source,
               CASE
                   WHEN ((doc_id * 2654435761 + 7) % 4294967296) % 1000000 < 900000 THEN 'train'
                   WHEN ((doc_id * 2654435761 + 7) % 4294967296) % 1000000 < 950000 THEN 'val'
                   ELSE 'test'
               END AS split
        FROM documents
        ORDER BY doc_id
    """,
    doc="deterministic hash-based train/val/test split (90/5/5) — "
    "reproducible across runs and partitionings, zero shuffle.",
    tags=("curation", "split"),
)
def q109_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        assign_splits(t["documents"], method="knuth")
        .select("doc_id", "source", "split")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic fixed-k per-group sampling (reservoir analog)
# ---------------------------------------------------------------------------
def sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 7,
    method: str = "xxhash64",
) -> DataFrame:
    """Exactly ``min(k, group size)`` rows per group, chosen by hash rank —
    the distributed, rerun-stable analog of per-group reservoir sampling.

    Ranking by a hash of the id gives every row equal selection
    probability while staying a pure row function: reruns, repartitions,
    and engines agree on the sample. ``method="xxhash64"`` (default) works
    on ANY id type with no overflow; ``"knuth"`` is the SQL-portable twin
    (``assign_splits`` pattern) for oracle checks, valid for integral ids
    only — string ids would fail the long cast under ANSI mode. One window
    per group partition — partition-parallel, no global sort.
    """
    hk = _hash_key(id_col, seed, method)
    w = Window.partitionBy(group_col).orderBy(hk.asc(), F.col(id_col).asc())
    return (
        df.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(group_col, id_col, "rnk")
    )


@register(
    "q120_sample_k_per_group",
    oracle="""
        WITH keyed AS (
            SELECT source, doc_id,
                   (doc_id * 2654435761 + 7) % 4294967296 AS hk
            FROM documents
        ),
        ranked AS (
            SELECT source, doc_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY hk, doc_id
                   ) AS BIGINT) AS rnk
            FROM keyed
        )
        SELECT source, doc_id, rnk FROM ranked WHERE rnk <= 5
        ORDER BY source, rnk
    """,
    doc="deterministic k-per-group sampling: multiplicative-hash rank inside "
    "each group partition — rerun/repartition/engine-stable reservoir analog.",
    tags=("curation", "sample"),
)
def q120_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return sample_k_per_group(t["documents"], "source", k=5, method="knuth").orderBy(
        "source", "rnk"
    )


# ---------------------------------------------------------------------------
# Curation capstone v2: quality → lang → dedup → LM-surprise band → split
# ---------------------------------------------------------------------------
@register(
    "q121_curation_v2_splits",
    oracle=r"""
        WITH feats AS (
            SELECT doc_id, lang, text,
                len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS n_tokens,
                length(text) AS n_chars,
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
                6) AS q
            FROM feats
        ),
        kept AS (
            SELECT doc_id, text, n_tokens FROM scored
            WHERE q >= 0.1 AND lang IN ('en', 'es', 'de', 'fr')
        ),
        surv AS (
            SELECT MIN(doc_id) AS doc_id,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
            FROM kept GROUP BY fp
        ),
        toks AS (
            SELECT doc_id, t.tok AS term
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS t(tok)
        ),
        freq AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
        tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM freq),
        bits AS (
            SELECT toks.doc_id, ROUND(AVG(-log2(freq.c / tot.t)), 6) AS b
            FROM toks JOIN freq USING (term) CROSS JOIN tot
            GROUP BY toks.doc_id
        ),
        banded AS (
            SELECT k.doc_id, k.n_tokens
            FROM kept k
            JOIN surv ON k.doc_id = surv.doc_id
            JOIN bits ON k.doc_id = bits.doc_id
            WHERE bits.b BETWEEN 2.0 AND 16.0
        ),
        assigned AS (
            SELECT n_tokens,
                CASE
                    WHEN ((doc_id * 2654435761 + 7) % 4294967296) % 1000000 < 900000 THEN 'train'
                    WHEN ((doc_id * 2654435761 + 7) % 4294967296) % 1000000 < 950000 THEN 'val'
                    ELSE 'test'
                END AS split
            FROM banded
        )
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM assigned GROUP BY split ORDER BY split
    """,
    doc="curation capstone v2: quality filter → lang allowlist → fingerprint "
    "dedup → unigram-LM surprise band → deterministic split → per-split "
    "doc/token budget. All predicates scan-side; the only corpus-sized "
    "shuffles are the fp dedup and the LM aggregates.",
    tags=("pipeline", "curation", "capstone"),
)
def q121_curation_v2_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.corpus import unigram_surprise
    from ai_batch_processing_spark.operators.dedup import exact_dedup
    from ai_batch_processing_spark.operators.text import fingerprint_expr, quality_features

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    kept = (
        quality_features(docs)
        .filter((F.col("quality_score") >= 0.1) & F.col("lang").isin("en", "es", "de", "fr"))
        .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "text")
        .withColumn("fp", fingerprint_expr("text"))
    )
    surv = exact_dedup(kept.select("doc_id", "n_tokens", "fp"), ["fp"], keep_min="doc_id")
    # LM trained on the FULL corpus (q114 semantics), scored on survivors
    with pin_scope() as scope:
        bits = unigram_surprise(docs).select("doc_id", "bits_per_token")
        banded = surv.join(bits, "doc_id").filter(
            (F.col("bits_per_token") >= 2.0) & (F.col("bits_per_token") <= 16.0)
        )
        out = scope.store(
            assign_splits(banded, method="knuth")
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        )
    return out.orderBy("split")


# ---------------------------------------------------------------------------
# Curriculum ordering (easy→hard, source-interleaved)
# ---------------------------------------------------------------------------
def curriculum_order(
    df: DataFrame,
    score_col: str,
    group_col: str,
    id_col: str,
    descending: bool = True,
) -> DataFrame:
    """Attach a global training order: rank within each source by
    difficulty score, then interleave sources round-robin — batch k sees
    every source's k-th best document, so the curriculum progresses
    easy→hard WITHOUT clumping one domain at the front (the failure mode
    of a plain global score sort when sources have different score
    distributions).

    Output adds ``source_rank`` (1-based within-group) and ``curriculum``
    (0-based global position). Scale shape: the within-group rank windows
    partition by source (bounded partitions); the global position is pure
    arithmetic over (rank, group index) — no global window, no single
    reducer. The group-index table is #sources rows, broadcast.
    """
    order = [F.desc(score_col) if descending else F.asc(score_col), F.asc(id_col)]
    w = Window.partitionBy(group_col).orderBy(*order)
    ranked = df.withColumn("source_rank", F.row_number().over(w).cast("long"))
    groups = (
        df.select(group_col).distinct()
        .withColumn(
            "_gidx",
            F.row_number().over(Window.partitionBy(F.lit(0)).orderBy(group_col)).cast("long") - 1,
        )
    )
    n_groups = F.count(F.lit(1)).over(Window.partitionBy(F.lit(0)))
    groups = groups.withColumn("_ng", n_groups)
    return (
        ranked.join(F.broadcast(groups), group_col)
        .withColumn(
            "curriculum",
            ((F.col("source_rank") - 1) * F.col("_ng") + F.col("_gidx")).cast("long"),
        )
        .drop("_gidx", "_ng")
    )


@register(
    "q147_curriculum_order",
    oracle=r"""
        WITH scored AS (
            SELECT doc_id, source,
                   ROUND(
                     (CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.25 END)
                     * (CASE WHEN length(text) > 0
                        THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text)
                        ELSE 0.0 END), 6) AS ease
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, source, ease,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY ease DESC, doc_id
                   ) AS BIGINT) AS source_rank
            FROM scored
        ),
        groups AS (
            SELECT source,
                   CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) - 1 AS gidx,
                   CAST(COUNT(*) OVER () AS BIGINT) AS ng
            FROM (SELECT DISTINCT source FROM scored)
        )
        SELECT r.doc_id, r.source, r.ease, r.source_rank,
               CAST((r.source_rank - 1) * g.ng + g.gidx AS BIGINT) AS curriculum
        FROM ranked r JOIN groups g USING (source)
        ORDER BY curriculum, doc_id
    """,
    doc=(
        "curriculum training order: per-source ease rank (simple "
        "length/alpha score), sources interleaved round-robin so batch k "
        "holds every source's k-th easiest doc — no global window, the "
        "position is arithmetic over (rank, broadcast group index)."
    ),
    tags=("curation", "curriculum", "ordering"),
)
def q147_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import doc_stats_cached

    # ease derives from the shared stats frame's (n_chars, n_alpha) —
    # no text rescan (r9 verdict item 4)
    stats = doc_stats_cached(spark, sf_dir)
    ease = F.round(
        F.when((F.col("n_chars") >= 20) & (F.col("n_chars") <= 20000), F.lit(1.0)).otherwise(0.25)
        * F.when(F.col("n_chars") > 0, F.col("n_alpha") / F.col("n_chars")).otherwise(0.0),
        6,
    )
    scored = stats.select("doc_id", "source", ease.alias("ease"))
    out = curriculum_order(scored, "ease", "source", "doc_id")
    # No trailing orderBy — see q103 (order-insensitive driver hash).
    return out.select("doc_id", "source", "ease", "source_rank", "curriculum")


# ---------------------------------------------------------------------------
# Token-budget corpus selection (best docs under a budget)
# ---------------------------------------------------------------------------
def select_within_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str,
    token_col: str,
    id_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Greedy data selection: take documents best-score-first until the
    (per-group, or global) token budget is exhausted.

    The classic "we can only train on N tokens — which documents?" rule.
    A doc is kept iff the running token total of everything ranked before
    it is still under budget (so the selection may overshoot by at most
    one document — the standard greedy contract, deterministic via the
    (score desc, id) order). The running total is the distributed prefix
    sum (range-partitioned cumsum + broadcast offsets) — no whole-corpus
    window, same machinery as sequence packing.
    """
    groups = group_cols or []
    if not groups:
        df = df.withColumn("_g", F.lit(0))
        groups = ["_g"]
    neg = F.col(score_col) * -1  # prefix sum orders ASC; we need best-first
    ordered = df.withColumn("_negscore", neg)
    out = grouped_prefix_sum(
        ordered, groups, ["_negscore", id_col], token_col, out_col="_tokens_before"
    )
    return (
        out.filter(F.col("_tokens_before") < budget)
        .drop("_negscore", *( ["_g"] if "_g" in out.columns else []))
    )


@register(
    "q148_token_budget_selection",
    oracle=r"""
        WITH sized AS (
            SELECT doc_id, source,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
                   ROUND(CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text)
                         ELSE 0.0 END, 6) AS score
            FROM documents
        ),
        laid AS (
            SELECT doc_id, source, n_tokens, score,
                   COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY score DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS tokens_before
            FROM sized
        )
        SELECT doc_id, source, n_tokens, score,
               CAST(tokens_before AS BIGINT) AS tokens_before
        FROM laid WHERE tokens_before < 3000
        ORDER BY doc_id
    """,
    doc=(
        "token-budget data selection: per-source, keep best-scored docs "
        "until 3000 tokens are spent (greedy, may overshoot by one doc — "
        "the standard contract). The running total is the distributed "
        "prefix sum, not a whole-corpus window."
    ),
    tags=("curation", "selection", "prefix-sum"),
)
def q148_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import doc_stats_cached

    # score derives from the shared stats frame's (n_chars, n_alpha) —
    # the TWO corpus regexes (tokenize + alpha) this query used to re-pay
    # per run are paid once per scale dir (r9 verdict item 4)
    stats = doc_stats_cached(spark, sf_dir)
    score = F.round(
        F.when(F.col("n_chars") > 0, F.col("n_alpha") / F.col("n_chars")).otherwise(0.0), 6
    )
    sized = stats.select("doc_id", "source", "n_tokens", score.alias("score"))
    out = select_within_token_budget(
        sized, 3000, "score", "n_tokens", "doc_id", group_cols=["source"]
    )
    # No trailing orderBy — see q103 (order-insensitive driver hash).
    return out.select(
        "doc_id", "source", "n_tokens", "score",
        F.col("_tokens_before").cast("long").alias("tokens_before"),
    )


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed n-gram features)
# ---------------------------------------------------------------------------
def _feature_bucket(col: Column, n_buckets: int, method: str = "xxhash64") -> Column:
    """Deterministic string→bucket hash (the :func:`_hash_key` pattern for
    STRING features).

    ``xxhash64``: JVM-intrinsic, the production default (measured 1.4×
    cheaper than md5+base-conv on the sf0.1 ~7M-feature stream: 2.0 s vs
    2.9 s warm).
    ``md5``: first 8 md5 hex digits as an int — the SQL-portable variant
    for oracle gates; DuckDB computes the identical bucket via
    ``CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % n_buckets``.
    """
    if method == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(n_buckets))
    if method == "md5":
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % F.lit(n_buckets)
    raise ValueError(f"method must be xxhash64|md5, got {method!r}")


def dsir_importance_weights(
    docs: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 512,
    smoothing: float = 1.0,
    include_bigrams: bool = True,
    method: str = "xxhash64",
) -> DataFrame:
    """Per-doc DSIR importance weight: (doc_id, n_feats, log_weight).

    Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
    fit two bag-of-hashed-n-gram unigram models — ``p`` over the TARGET
    slice (``target_pred`` rows) and ``q`` over the full raw corpus — and
    weight every document by ``log w(x) = Σ_b n_b(x)·(ln p_b − ln q_b)``
    with add-``smoothing`` estimates over ``n_buckets`` hashed buckets
    (unigrams + bigrams, the paper's feature set). Selection = rank by
    ``log_weight`` (optionally + Gumbel noise for sampled-softmax; the
    deterministic top-k form composes with :func:`sample_k_per_group` /
    :func:`select_within_token_budget`).

    Scale shape: ONE explode pass over the token stream; the per-(doc,
    bucket) count is a map-side-combinable groupBy; both bucket marginals
    re-aggregate THAT table (≤ docs×min(feats, n_buckets) rows), never the
    raw stream; the log-ratio table is ≤ ``n_buckets`` rows and broadcast
    into the scoring join. Nothing corpus-sized crosses the driver.

    Fails fast when ``target_pred`` matches nothing (the weights would
    otherwise be silently NULL — there is no target distribution to
    estimate).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if not smoothing > 0:
        raise ValueError(f"smoothing must be > 0 (log of zero otherwise), got {smoothing}")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        target_pred.alias("is_target"),
        tokens_expr(text_col).alias("ts"),
    )
    ts = F.col("ts")
    feats = ts
    if include_bigrams:
        bigrams = F.when(
            F.size(ts) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - 1),
                lambda i: F.concat(
                    F.element_at(ts, i), F.lit(" "), F.element_at(ts, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        feats = F.concat(ts, bigrams)
    stream = base.select(
        "doc_id", "is_target", F.explode(feats).alias("f")
    ).select("doc_id", "is_target", _feature_bucket(F.col("f"), n_buckets, method).alias("b"))

    nb = stream.groupBy("doc_id", "is_target", "b").agg(F.count(F.lit(1)).alias("c"))
    if nb.filter("is_target").limit(1).count() == 0:
        raise ValueError(
            "dsir_importance_weights: target_pred matches no documents — "
            "no target distribution to estimate"
        )

    raw = nb.groupBy("b").agg(F.sum("c").alias("rq"))
    tgt = nb.filter("is_target").groupBy("b").agg(F.sum("c").alias("tp"))
    totals = raw.agg(
        F.sum("rq").cast("double").alias("r_tot"),
    ).crossJoin(tgt.agg(F.sum("tp").cast("double").alias("t_tot")))

    s = float(smoothing)
    ratio = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("tp"), F.lit(0)) + s) / (F.col("t_tot") + s * n_buckets))
                - F.log((F.col("rq") + s) / (F.col("r_tot") + s * n_buckets))
            ).alias("lam"),
        )
    )
    out = (
        nb.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.round(F.sum(F.col("c") * F.col("lam")), 6).alias("log_weight"),
        )
    )
    return out


@register(
    "q170_dsir_importance_weights",
    oracle=r"""
        WITH base AS (
            SELECT doc_id, (source = 'src1') AS is_target,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
            FROM documents
        ),
        uni AS (SELECT doc_id, is_target, unnest(ts) AS f FROM base),
        bi AS (
            SELECT doc_id, is_target,
                   ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS f
            FROM base, unnest(generate_series(1, len(ts) - 1)) u(i)
            WHERE len(ts) >= 2
        ),
        feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        stream AS (
            SELECT doc_id, is_target,
                   CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 512 AS b
            FROM feats
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
        )
        SELECT nb.doc_id,
               CAST(SUM(nb.c) AS BIGINT) AS n_feats,
               ROUND(SUM(nb.c * ratio.lam), 6) AS log_weight
        FROM nb JOIN ratio ON nb.b = ratio.b
        GROUP BY nb.doc_id
        ORDER BY nb.doc_id
    """,
    doc=(
        "DSIR data selection (Xie et al. 2023): per-doc importance weight "
        "log p_target(x)/p_raw(x) under add-1-smoothed hashed unigram+bigram "
        "bag models (512 md5-hashed buckets, source='src1' as the target "
        "domain). One token-stream pass, map-combinable (doc,bucket) counts, "
        "bucket-sized broadcast log-ratio table."
    ),
    tags=("curation", "selection", "dsir"),
)
def q170_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return dsir_importance_weights(
        docs, target_pred=F.col("source") == "src1", n_buckets=512, method="md5"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Weighted priority sampling (Efraimidis–Spirakis reservoir analog)
# ---------------------------------------------------------------------------
def weighted_sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 7,
    method: str = "xxhash64",
) -> DataFrame:
    """Exactly ``min(k, group size)`` rows per group, drawn with
    probability proportional to ``weight_col`` — Efraimidis–Spirakis
    (2006) priority sampling: key = −ln(u)/w with u hash-uniform in
    (0, 1], keep the k SMALLEST keys. The weighted twin of
    :func:`sample_k_per_group` (uniform = all weights equal), and the
    standard way to take a token-weighted corpus sample without a
    global sort or draw-with-replacement loop.

    Deterministic and distributed by construction: the key is a pure
    row expression (hash → uniform → transform), so reruns,
    repartitions, and engines agree; per-group selection is one window
    over the group partition. Rows with non-positive weight are
    excluded (their inclusion probability is 0). Keys are ROUNDED to
    6dp for the oracle gate with the id tiebreak breaking rounding
    collisions deterministically — ln parity across engines is the
    q170 precedent.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    hk = _hash_key(id_col, seed, method)
    # u in (0, 1]: (h + 1) / (2^32 + 1) for the knuth hash's [0, 2^32) range;
    # xxhash64 spans the full signed long — shift into [0, 2^64) first
    if method == "knuth":
        u = (hk + 1).cast("double") / F.lit(4294967297.0)
    else:
        u = (hk.cast("double") + F.lit(2.0**63) + 1.0) / F.lit(2.0**64 + 1.0)
    key = F.round(-F.log(u) / F.col(weight_col).cast("double"), 6)
    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("skey", key)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(group_col, id_col, "skey", "rnk")
    )


@register(
    "q178_weighted_sample",
    oracle=r"""
        WITH weighted AS (
            SELECT source, doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')) AS DOUBLE) AS w,
                   ((doc_id * 2654435761 + 7) % 4294967296 + 1) / 4294967297.0 AS u
            FROM documents
        ),
        keyed AS (
            SELECT source, doc_id, ROUND(-ln(u) / w, 6) AS skey
            FROM weighted WHERE w > 0
        ),
        ranked AS (
            SELECT source, doc_id, skey,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY skey, doc_id
                   ) AS BIGINT) AS rnk
            FROM keyed
        )
        SELECT source, doc_id, skey, rnk FROM ranked WHERE rnk <= 5
        ORDER BY source, rnk
    """,
    doc=(
        "Efraimidis-Spirakis weighted priority sampling: 5 docs per "
        "source with probability proportional to token count — "
        "key = -ln(hash-uniform)/weight, k smallest per group. The "
        "token-weighted corpus sample as a pure row expression + one "
        "group window; knuth-hash uniform for the oracle gate."
    ),
    tags=("curation", "sample"),
)
def q178_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import token_count_ws

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    sized = docs.select(
        "source", "doc_id", token_count_ws(F.col("text")).cast("double").alias("w")
    )
    return weighted_sample_k_per_group(
        sized, "source", k=5, weight_col="w", method="knuth"
    ).orderBy("source", "rnk")


# ---------------------------------------------------------------------------
# Quantile-thresholded selection (relative quality cuts)
# ---------------------------------------------------------------------------
def select_top_fraction(
    df: DataFrame,
    frac: float,
    score_col: str,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the best ``frac`` of rows by ``score_col`` within each group —
    the RELATIVE form of quality filtering (absolute thresholds drift as
    the corpus mix shifts; "top 30% per source" is the knob production
    pipelines actually turn). Ties at the cut resolve deterministically
    by ``id_col``.

    One window per group partition (percent_rank over (score desc, id)),
    no global sort, no two-pass quantile estimation: at 100 TB the
    per-group rank IS the selection, where a computed threshold would
    need a second full pass to apply. percent_rank is (rank−1)/(n−1), so
    ``frac`` of a large group survives to within one row; single-row
    groups always survive (their percent_rank is 0).
    """
    if not 0 < frac <= 1:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    parts = [F.col(c) for c in (group_cols or [])]
    w = (
        Window.partitionBy(*parts).orderBy(F.desc(score_col), F.asc(id_col))
        if parts
        else Window.partitionBy(F.lit(1)).orderBy(F.desc(score_col), F.asc(id_col))
    )
    return (
        df.withColumn("pr", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("pr") <= frac)
        .drop("pr")
    )


@register(
    "q179_top_fraction_by_source",
    oracle=r"""
        WITH scored AS (
            SELECT doc_id, source,
                   ROUND(CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                              / length(text)
                         ELSE 0.0 END, 6) AS score
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, source, score,
                   ROUND(PERCENT_RANK() OVER (
                       PARTITION BY source ORDER BY score DESC, doc_id
                   ), 6) AS pr
            FROM scored
        )
        SELECT doc_id, source, score FROM ranked WHERE pr <= 0.3
        ORDER BY doc_id
    """,
    doc=(
        "relative quality cut: keep the top 30% of docs per source by "
        "alpha-ratio score — percent_rank per group partition, ties "
        "broken by doc_id, no global sort and no two-pass threshold "
        "computation. The production knob absolute thresholds can't be."
    ),
    tags=("curation", "selection"),
)
def q179_top_fraction_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    scored = docs.select(
        "doc_id",
        "source",
        F.round(
            F.when(F.length("text") > 0, alpha.cast("double") / F.length("text")).otherwise(
                0.0
            ),
            6,
        ).alias("score"),
    )
    return select_top_fraction(scored, 0.3, "score", group_cols=["source"]).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# Shard-manifest planning (balanced training-shard assignment)
# ---------------------------------------------------------------------------
def shard_manifest(
    df: DataFrame,
    shard_tokens: int,
    group_cols: list[str],
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every doc to a fixed-token-budget shard: input columns +
    (shard_id, offset_tokens) — shard_id = ⌊running-token-offset /
    shard_tokens⌋ in ``id_col`` order within each group, offset_tokens
    the doc's start offset inside its shard. The write-side plan for a
    training corpus: shards of ~shard_tokens tokens each, assignment
    reproducible from the manifest alone (greedy by starting offset —
    a doc may straddle its shard's end, the standard manifest
    convention, cf. sequence packing for the hard-boundary form).

    The running offset is :func:`grouped_prefix_sum` — range-partition,
    per-partition cumsum, broadcast offsets — NOT a whole-group window,
    so one source never lands on one task.
    """
    if shard_tokens < 1:
        raise ValueError(f"shard_tokens must be >= 1, got {shard_tokens}")
    cum = grouped_prefix_sum(df, group_cols, [id_col], size_col, "_cum")
    return cum.select(
        *df.columns,
        F.floor(F.col("_cum") / shard_tokens).cast("long").alias("shard_id"),
        (F.col("_cum") % shard_tokens).cast("long").alias("offset_tokens"),
    )


@register(
    "q182_shard_manifest",
    oracle=r"""
        WITH sized AS (
            SELECT source, doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT source, doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS c
            FROM sized
        )
        SELECT source, doc_id, n_tokens,
               CAST(FLOOR(c / 2000) AS BIGINT) AS shard_id,
               CAST(c % 2000 AS BIGINT) AS offset_tokens
        FROM cum
        ORDER BY source, doc_id
    """,
    doc=(
        "training-shard manifest: per-source ~2000-token shards assigned "
        "by the distributed prefix sum (range-partition + per-partition "
        "cumsum + broadcast offsets — never a whole-source window); the "
        "manifest alone reproduces the shard layout."
    ),
    tags=("curation", "packing", "prefix-sum"),
)
def q182_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import token_count_ws

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    sized = docs.select(
        "source", "doc_id", token_count_ws(F.col("text")).cast("long").alias("n_tokens")
    )
    return shard_manifest(sized, 2000, ["source"]).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# Leakage-safe splits: duplicates can never straddle train/test
# ---------------------------------------------------------------------------
def assign_splits_leakage_safe(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: tuple[tuple[str, float], ...] = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    seed: int = 7,
    method: str = "xxhash64",
) -> DataFrame:
    """:func:`assign_splits` with the leakage fix: hash the duplicate
    GROUP's representative id (min ``id_col`` per content fingerprint),
    not the row's own id, so exact/normalized duplicates always land in
    the SAME split. Per-row hashing leaks evaluation data — a test doc's
    duplicate in train is memorization measured as generalization (the
    published reason train/test dedup exists at all; this closes the
    assignment-side hole even when upstream dedup keeps copies on
    purpose, e.g. mixture upsampling).

    Adds one fingerprint aggregate + a fp-keyed join to
    :func:`assign_splits`'s zero-shuffle expression — the min-id
    representative is the same survivor rule as exact_dedup, so the
    split of a kept doc never changes when its duplicates are added or
    removed.
    """
    from ai_batch_processing_spark.operators.text import fingerprint_expr

    fp = df.select(
        F.col(id_col).alias("_id"), fingerprint_expr(F.col(text_col)).alias("_fp")
    )
    rep = fp.groupBy("_fp").agg(F.min("_id").alias("rep_id"))
    keyed = (
        df.join(fp.withColumnRenamed("_id", id_col), id_col)
        .join(rep, "_fp")
        .drop("_fp")
    )
    out = assign_splits(keyed, id_col="rep_id", weights=weights, seed=seed, method=method)
    return out.select(*df.columns, "rep_id", "split")


@register(
    "q185_leakage_safe_splits",
    oracle=r"""
        WITH fp AS (
            SELECT doc_id, source,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS f
            FROM documents
        ),
        rep AS (SELECT f, MIN(doc_id) AS rep_id FROM fp GROUP BY f)
        SELECT fp.doc_id, fp.source, rep.rep_id,
               CASE
                   WHEN ((rep.rep_id * 2654435761 + 7) % 4294967296) % 1000000 < 900000 THEN 'train'
                   WHEN ((rep.rep_id * 2654435761 + 7) % 4294967296) % 1000000 < 950000 THEN 'val'
                   ELSE 'test'
               END AS split
        FROM fp JOIN rep USING (f)
        ORDER BY fp.doc_id
    """,
    doc=(
        "leakage-safe train/val/test assignment: split by the duplicate "
        "group's min-id representative (content fingerprint), so "
        "duplicates can never straddle train and test — the assignment-"
        "side half of train/test decontamination, robust even when "
        "copies are kept on purpose (mixture upsampling)."
    ),
    tags=("curation", "split", "dedup"),
)
def q185_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return assign_splits_leakage_safe(
        docs.select("doc_id", "source", "text"), method="knuth"
    ).select("doc_id", "source", "rep_id", "split").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Dedup-aware mixture weights
# ---------------------------------------------------------------------------
def mixture_weights_deduped(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    target_share: dict[str, float] | None = None,
) -> DataFrame:
    """:func:`mixture_weights` computed on DEDUPLICATED token mass: each
    distinct normalized content counts once per source (min-id survivor),
    so a source's mixture weight cannot be inflated by its own internal
    duplication — the bug class where a crawl that mirrored itself 10×
    claims 10× the epochs. Comparing ``n_tokens`` here against the raw
    aggregate (q104) per source IS the duplication-inflation report.

    One fingerprint aggregate ((source, fp) → survivor token count —
    map-combinable, 16-byte keys) feeding the same n_sources-row
    share/target math as :func:`mixture_weights`.
    """
    from ai_batch_processing_spark.operators.text import fingerprint_expr, token_count_ws

    survivors = (
        docs.select(
            F.col(group_col).alias("source"),
            fingerprint_expr(F.col(text_col)).alias("fp"),
            F.col(id_col).alias("id"),
            token_count_ws(F.col(text_col)).cast("long").alias("nt"),
        )
        .groupBy("source", "fp")
        .agg(F.min_by("nt", "id").alias("n_tokens"))
    )
    return mixture_weights(survivors, "source", "n_tokens", target_share=target_share)


@register(
    "q188_mixture_deduped",
    oracle=r"""
        WITH salted AS (
            SELECT source, doc_id, text FROM documents
            UNION ALL
            SELECT source, doc_id + 500000 AS doc_id, text
            FROM documents WHERE doc_id % 4 = 0
        ),
        fp AS (
            SELECT source, doc_id,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS f,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        t -> t <> '')) AS BIGINT) AS nt
            FROM salted
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
        tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS ns FROM agg)
        SELECT source, n_docs, n_tokens,
               ROUND(n_tokens / tot.t, 6) AS token_share,
               ROUND((1.0 / tot.ns) / (n_tokens / tot.t), 6) AS repeat_factor
        FROM agg CROSS JOIN tot
        ORDER BY source
    """,
    doc=(
        "dedup-aware mixture weights: per-source token shares over "
        "DEDUPLICATED content (distinct fingerprints, min-id survivor) — "
        "a source mirroring itself can't inflate its epochs. One "
        "map-combinable (source, fp) aggregate into the q104 share math; "
        "the delta vs the raw aggregate is the duplication-inflation "
        "report."
    ),
    tags=("curation", "mixture", "dedup"),
)
def q188_mixture_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # salt with a self-mirroring source so the dedup correction is visible
    salted = docs.select("source", "doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 4 == 0).select(
            "source", (F.col("doc_id") + 500_000).alias("doc_id"), "text"
        )
    )
    return mixture_weights_deduped(salted).orderBy("source")


# ---------------------------------------------------------------------------
# Benchmark-side contamination coverage (the eval set's own exposure)
# ---------------------------------------------------------------------------
def benchmark_exposure(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """(bench_id, n_shingles, n_exposed, exposure): for every BENCHMARK
    document, the share of its distinct ``n``-gram shingles that appear
    anywhere in the training corpus — :func:`decontaminate` answers
    "which corpus docs must go"; this answers the eval owner's question
    "how compromised is each eval item, even after cuts" (an item at
    exposure 0.9 measures memorization no matter what the corpus side
    deletes later — re-run after every corpus refresh).

    The corpus side collapses to DISTINCT shingle hashes ONCE
    (map-combinable, md5-keyed shuffle) and the per-item rollup joins
    the small benchmark stream against it — corpus-linear, one corpus
    pass, never doc×doc.
    """
    c_sh = (
        corpus.select(F.explode(shingles_expr(F.col(text_col), n)).alias("s"))
        .select(F.md5("s").alias("h"))
        .distinct()
    )
    b_sh = (
        benchmark.select(
            F.col(id_col).alias("bench_id"),
            F.explode(shingles_expr(F.col(text_col), n)).alias("s"),
        )
        .select("bench_id", F.md5("s").alias("h"))
        .distinct()
    )
    hit = b_sh.join(c_sh.withColumn("_in", F.lit(1)), "h", "left")
    return (
        hit.groupBy("bench_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_in"), F.lit(0))).cast("long").alias("n_exposed"),
        )
        .withColumn(
            "exposure", F.round(F.col("n_exposed") / F.col("n_shingles"), 6)
        )
    )


@register(
    "q189_benchmark_exposure",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(t) - 7, 1) + 1),
                       i -> array_to_string(t[i:i+7], ' '))) AS shingle
            FROM toks
        ),
        corpus AS (SELECT DISTINCT md5(shingle) AS h FROM sh WHERE doc_id % 97 <> 0),
        bench AS (
            SELECT DISTINCT doc_id AS bench_id, md5(shingle) AS h
            FROM sh WHERE doc_id % 97 = 0
        )
        SELECT b.bench_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exposed,
               ROUND(CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS exposure
        FROM bench b LEFT JOIN corpus c USING (h)
        GROUP BY b.bench_id
        ORDER BY b.bench_id
    """,
    doc=(
        "benchmark-side contamination: per eval item, the share of its "
        "8-gram shingles found anywhere in the training corpus — the "
        "eval owner's exposure report (q101 is the corpus-side cut "
        "list). Corpus collapses to distinct md5 shingle keys once; "
        "corpus-linear."
    ),
    tags=("curation", "decontamination", "ngram"),
)
def q189_benchmark_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return benchmark_exposure(corpus, benchmark, n=8).orderBy("bench_id")


# ---------------------------------------------------------------------------
# Boilerplate census: what the corpus's repeated lines actually are
# ---------------------------------------------------------------------------
def boilerplate_census(
    docs: DataFrame,
    top_k: int = 20,
    min_doc_freq: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(line, n_docs, n_occurrences, rnk): the corpus's most widespread
    lines — the report an engineer reads BEFORE picking
    :func:`line_dedup`'s ``max_doc_freq`` threshold (cut blind and the
    cookie banner survives at freq 99 while a legitimate quote dies at
    freq 3; the census shows where the cliff is). Trimmed non-empty
    lines, ranked by distinct-document reach with the line text as the
    deterministic tiebreak.

    Corpus-linear: one line explode, one map-combinable aggregate, and a
    top-k via the rank window over the (already df-filtered) line table —
    at 100 TB the ``min_doc_freq`` filter runs before the rank so the
    window sees only repeated lines, a tiny fraction of the line space.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("raw"),
    ).select("doc_id", F.trim(F.col("raw")).alias("line")).filter(F.col("line") != "")
    agg = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    hot = agg.filter(F.col("n_docs") >= min_doc_freq)
    # Global top-k the scale-safe way (the bm25/corpus.py pattern):
    # orderBy+limit compiles to TakeOrderedAndProject (per-task local top-k,
    # one ≤k-row merge) — on a boilerplate-heavy crawl the hot set is
    # corpus-sized, and a bare rank window would funnel it through one
    # reducer. The rank column is a window over the ALREADY-capped k rows.
    top = hot.orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("line")).limit(
        top_k
    )
    w = Window.orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("line"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("rnk", "line", F.col("n_docs").cast("long"), F.col("n_occurrences").cast("long"))
    )


@register(
    "q191_boilerplate_census",
    oracle=r"""
        WITH salted AS (
            SELECT doc_id,
                   text || chr(10) || 'subscribe to our newsletter' ||
                   CASE WHEN doc_id % 3 = 0
                        THEN chr(10) || 'cookie policy applies' ELSE '' END AS text
            FROM documents
        ),
        lines AS (
            SELECT doc_id, trim(l) AS line
            FROM salted, unnest(string_split(text, chr(10))) u(l)
            WHERE trim(l) <> ''
        ),
        agg AS (
            SELECT line,
                   COUNT(DISTINCT doc_id) AS n_docs,
                   COUNT(*) AS n_occurrences
            FROM lines GROUP BY line
        ),
        hot AS (SELECT * FROM agg WHERE n_docs >= 2)
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY n_docs DESC, n_occurrences DESC, line
               ) AS BIGINT) AS rnk,
               line,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_occurrences AS BIGINT) AS n_occurrences
        FROM hot
        QUALIFY rnk <= 20
        ORDER BY rnk
    """,
    doc=(
        "boilerplate census: the corpus's most widespread lines by "
        "distinct-doc reach — the report that picks line_dedup's "
        "max_doc_freq threshold with eyes open. df-filter BEFORE the "
        "rank window; gate salts newsletter/cookie lines into the "
        "single-line synthetic corpus."
    ),
    tags=("curation", "text", "stats"),
)
def q191_boilerplate_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nsubscribe to our newsletter"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\ncookie policy applies")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return boilerplate_census(salted, top_k=20, min_doc_freq=2).orderBy("rnk")


# ---------------------------------------------------------------------------
# Weighted epoch interleave (deficit-round-robin stream order)
# ---------------------------------------------------------------------------
def weighted_interleave(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """(position, doc_id, source, rk_in_source): a deterministic global
    training-stream order in which each source appears with density
    proportional to its weight — virtual-time (deficit round-robin)
    scheduling: the s-th source's k-th doc is emitted at key k/w_s, so a
    weight-2 source interleaves twice as densely as a weight-1 source
    instead of arriving in blocks. Stream order matters for training
    (per-source blocks = distribution shift every boundary); this is the
    loader-side companion to :func:`mixture_weights`' epoch counts.

    ``position`` is the contiguous global index over the key order via
    the distributed range-partition row indexer
    (:func:`~ai_batch_processing_spark.operators.template.with_row_index`) —
    no single-reducer sort. Ties (equal virtual time) break by (source,
    id) so the order is total and engine-reproducible.
    """
    from ai_batch_processing_spark.operators.template import with_row_index

    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive, got {weights}")
    m = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    w_in = Window.partitionBy(group_col).orderBy(F.col(id_col).asc())
    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("source"),
    ).withColumn("rk_in_source", F.row_number().over(w_in).cast("long"))
    # a source missing from `weights` must FAIL, not silently sort as one
    # null-keyed block at the head of the stream (the exact distribution-
    # shift failure this operator exists to prevent); the raise_error
    # branch costs nothing on covered rows and needs no extra job
    keyed = keyed.withColumn(
        "_key",
        F.when(
            m[F.col("source")].isNull(),
            F.raise_error(
                F.concat(
                    F.lit("weighted_interleave: no weight for source "),
                    F.col("source"),
                )
            ),
        ).otherwise(F.round(F.col("rk_in_source") / m[F.col("source")], 9)),
    )
    out = with_row_index(keyed, order_by=["_key", "source", "doc_id"], col="position")
    return out.select(
        F.col("position").cast("long"), "doc_id", "source", "rk_in_source"
    )


@register(
    "q194_weighted_interleave",
    oracle=r"""
        WITH keyed AS (
            SELECT doc_id, source,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY doc_id
                   ) AS BIGINT) AS rk_in_source,
                   CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 1 THEN 2.0 ELSE 1.0 END AS w
            FROM documents
        )
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY ROUND(rk_in_source / w, 9), source, doc_id
               ) - 1 AS BIGINT) AS position,
               doc_id, source, rk_in_source
        FROM keyed
        ORDER BY position
    """,
    doc=(
        "weighted epoch interleave (virtual-time / deficit round-robin): "
        "source s's k-th doc streams at key k/w_s, so weight-2 sources "
        "interleave twice as densely instead of arriving in blocks — the "
        "loader-side stream order behind mixture weights. Global position "
        "via the distributed range-partition row indexer, never a "
        "single-reducer sort."
    ),
    tags=("curation", "mixture", "ordering"),
)
def q194_weighted_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    srcs = [r.source for r in docs.select("source").distinct().collect()]
    weights = {s: (2.0 if int(s[3:]) % 2 == 1 else 1.0) for s in srcs}
    return weighted_interleave(docs, weights).orderBy("position")


# ---------------------------------------------------------------------------
# Quantile normalization: calibrate per-source score distributions onto the
# global distribution (score calibration across heterogeneous sources)
# ---------------------------------------------------------------------------
def quantile_normalize(
    df: DataFrame,
    score_col: str = "score",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Input columns + ``(pr, calibrated)``: each row's within-group ECDF
    rank and the GLOBAL score at that quantile.

    Why: per-source quality scorers drift (different boilerplate, length
    mixes, scorer versions), so a fixed absolute threshold over-prunes
    some sources and under-prunes others. Quantile normalization maps
    every group's distribution onto the pooled one — after calibration,
    "calibrated ≥ t" selects comparable quality everywhere. The
    classical quantile-normalization recipe, group-vs-pooled form.

    Semantics: ``pr = (#rows in the group with a strictly smaller
    score) / (n_group − 1)`` (0 for singleton groups) — a pure function
    of the group's score MULTISET, no per-row tiebreaks, so equal scores
    calibrate equally. ``calibrated = Q_global(pr)`` with ``Q_global(p) =
    min{s : ECDF_global(s) ≥ p}`` — an actual observed score, not an
    interpolation.

    Scale shape: every per-row window here would be a skew trap, so there
    are none. Both ECDFs are built on groupBy-aggregated ``(group,
    score) → count`` tables (map-combinable; size = distinct scores, not
    rows — scores arrive rounded, so the domain is bounded); the
    cumulative windows run on those aggregate tables only. Rows get
    their pr by joining the aggregate back on (group, score), and the
    global quantile lookup is a broadcast range join against the
    distinct-score table: per row O(1), one shuffle total on the
    aggregate key.
    """
    n_w = Window.partitionBy(group_col)
    cum_w = Window.partitionBy(group_col).orderBy(score_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    src_ecdf = (
        df.groupBy(group_col, score_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_cum", F.sum("_c").over(cum_w))
        .withColumn("_n", F.sum("_c").over(n_w))
        .withColumn(
            "pr",
            F.when(
                F.col("_n") > 1,
                (F.col("_cum") - F.col("_c")) / (F.col("_n") - F.lit(1)),
            ).otherwise(F.lit(0.0)),
        )
        .select(group_col, score_col, "pr")
    )
    # BOUNDED window: runs over the groupBy(score)_ aggregate — one row per
    # DISTINCT rounded score value (6dp grid), never the corpus
    g_cum_w = Window.orderBy(score_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    glob = (
        df.groupBy(score_col)
        .agg(F.count(F.lit(1)).alias("_cg"))
        .withColumn("_cumg", F.sum("_cg").over(g_cum_w))
        .select(F.col(score_col).alias("_gscore"), "_cg", "_cumg")
    )
    n_total = df.count()
    with_pr = df.join(src_ecdf, [group_col, score_col])
    # Q_global(pr): the unique global row with cum−c < t ≤ cum,
    # t = max(pr·n, 0.5) — the 0.5 floor lands pr=0 on the first row and
    # never moves an integer boundary (cumulative counts are integers).
    t = F.greatest(F.col("pr") * F.lit(float(n_total)), F.lit(0.5))
    return (
        with_pr.join(
            F.broadcast(glob),
            (F.col("_cumg") >= t) & ((F.col("_cumg") - F.col("_cg")) < t),
        )
        .withColumn("calibrated", F.col("_gscore"))
        .drop("_gscore", "_cg", "_cumg")
    )


@register(
    "q207_quality_calibration",
    oracle=r"""
        WITH scored AS (
            SELECT doc_id, source,
                   ROUND(CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                              / length(text)
                         ELSE 0.0 END, 6) AS score
            FROM documents
        ),
        src_ecdf AS (
            SELECT source, score,
                   CASE WHEN SUM(c) OVER (PARTITION BY source) > 1
                        THEN CAST(SUM(c) OVER (
                                 PARTITION BY source ORDER BY score
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                             ) - c AS DOUBLE)
                             / (SUM(c) OVER (PARTITION BY source) - 1)
                        ELSE 0.0 END AS pr
            FROM (SELECT source, score, COUNT(*) AS c FROM scored GROUP BY 1, 2)
        ),
        gq AS (
            SELECT score AS gscore, cg,
                   SUM(cg) OVER (
                       ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cumg
            FROM (SELECT score, COUNT(*) AS cg FROM scored GROUP BY 1)
        ),
        n AS (SELECT COUNT(*) AS n_total FROM scored)
        SELECT s.doc_id, s.source, s.score,
               ROUND(e.pr, 6) AS pr,
               g.gscore AS calibrated
        FROM scored s
        JOIN src_ecdf e USING (source, score)
        JOIN n ON TRUE
        JOIN gq g
          ON g.cumg >= GREATEST(e.pr * n.n_total, 0.5)
         AND g.cumg - g.cg < GREATEST(e.pr * n.n_total, 0.5)
        ORDER BY s.doc_id
    """,
    doc=(
        "quantile normalization: map every source's alpha-ratio score "
        "distribution onto the pooled global distribution (ECDF rank -> "
        "global quantile), so one calibrated threshold selects comparable "
        "quality across heterogeneous sources. No per-row windows: both "
        "ECDFs live on groupBy-aggregated distinct-score tables; the "
        "quantile lookup is a broadcast range join."
    ),
    tags=("curation", "calibration", "quality"),
)
def q207_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    scored = docs.select(
        "doc_id",
        "source",
        F.round(
            F.when(F.length("text") > 0, alpha.cast("double") / F.length("text")).otherwise(
                0.0
            ),
            6,
        ).alias("score"),
    )
    out = quantile_normalize(scored, "score", "source", "doc_id")
    return out.select(
        "doc_id", "source", "score", F.round("pr", 6).alias("pr"), "calibrated"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Hashed linear text classifier (fastText-shape inference at scale)
# ---------------------------------------------------------------------------
def linear_text_classifier(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    method: str = "xxhash64",
    include_bigrams: bool = True,
) -> DataFrame:
    """fastText-shape linear classifier INFERENCE: ``(doc_id, n_feats,
    margin, score, label)`` from a hashed unigram(+bigram) bag and a
    ``(b, w)`` weight table — the model-based quality-classifier pass
    every published curation pipeline runs after the rule-based gates
    (GPT-3/LLaMA's "quality classifier" step), reduced to its data-plane
    shape: the training happens elsewhere; at corpus scale the COST is
    this inference scan.

    ``margin = Σ_features w[bucket(f)]`` with integer weights, so the
    margin is exact (no float-summation order sensitivity — what makes
    the op hash-gateable); ``score = margin / (w_scale · n_feats)`` is a
    normalized confidence; ``label = margin > 0``.

    Scale shape: the DSIR feature stream — ONE explode over tokens,
    map-combinable (doc, bucket) counts — then a broadcast join against
    the ≤ ``n_buckets``-row weight table and one per-doc sum. Weights are
    a TABLE, not an expression, because real learned weights arrive as
    data; pass any (b, w) frame (``procedural_weights`` gives the
    deterministic test model).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("ts")
    )
    ts = F.col("ts")
    feats = ts
    if include_bigrams:
        bigrams = F.when(
            F.size(ts) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - 1),
                lambda i: F.concat(
                    F.element_at(ts, i), F.lit(" "), F.element_at(ts, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        feats = F.concat(ts, bigrams)
    stream = base.select("doc_id", F.explode(feats).alias("f")).select(
        "doc_id", _feature_bucket(F.col("f"), n_buckets, method).alias("b")
    )
    nb = stream.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    scored = (
        nb.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.sum(F.col("c") * F.col("w")).cast("long").alias("margin"),
        )
    )
    return scored.select(
        "doc_id",
        "n_feats",
        "margin",
        F.round(F.col("margin") / (F.lit(1000.0) * F.col("n_feats")), 6).alias("score"),
        (F.col("margin") > 0).alias("label"),
    )


def procedural_weights(spark: SparkSession, n_buckets: int = 256, seed: int = 99991) -> DataFrame:
    """Deterministic integer weight table ``(b, w)``, w ∈ [−1000, 1000]:
    Knuth multiplicative hash of the bucket id — BIGINT-only arithmetic,
    reproducible in ANSI SQL, stands in for learned weights in gates and
    tests (a trained model would be loaded as the same (b, w) shape)."""
    return spark.range(n_buckets).select(
        F.col("id").alias("b"),
        (
            ((F.col("id") * F.lit(2654435761) + F.lit(seed)) % F.lit(4294967296))
            % F.lit(2001)
            - F.lit(1000)
        ).cast("long").alias("w"),
    )


@register(
    "q208_linear_classifier_scores",
    oracle=r"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
            FROM documents
        ),
        uni AS (SELECT doc_id, unnest(ts) AS f FROM base),
        bi AS (
            SELECT doc_id,
                   ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS f
            FROM base, unnest(generate_series(1, len(ts) - 1)) u(i)
            WHERE len(ts) >= 2
        ),
        feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        nb AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 256 AS b,
                   COUNT(*) AS c
            FROM feats GROUP BY 1, 2
        ),
        wt AS (
            SELECT r.range AS b,
                   (r.range * 2654435761 + 99991) % 4294967296 % 2001 - 1000 AS w
            FROM range(256) r
        )
        SELECT nb.doc_id,
               CAST(SUM(nb.c) AS BIGINT) AS n_feats,
               CAST(SUM(nb.c * wt.w) AS BIGINT) AS margin,
               ROUND(CAST(SUM(nb.c * wt.w) AS DOUBLE) / (1000.0 * SUM(nb.c)), 6) AS score,
               SUM(nb.c * wt.w) > 0 AS label
        FROM nb JOIN wt USING (b)
        GROUP BY nb.doc_id
        ORDER BY nb.doc_id
    """,
    doc=(
        "hashed linear classifier inference (fastText shape): unigram+bigram "
        "features -> 256 md5 buckets -> integer weight table -> per-doc "
        "margin/score/label. The quality-classifier pass of published "
        "curation recipes as pure data-plane: one explode, map-combinable "
        "(doc,bucket) counts, broadcast weight join — integer margins make "
        "it engine-exact."
    ),
    tags=("curation", "classifier", "quality"),
)
def q208_linear_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    w = procedural_weights(spark, 256)
    return linear_text_classifier(
        docs, w, n_buckets=256, method="md5"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Pareto front (skyline) over two maximize-objectives
# ---------------------------------------------------------------------------
def pareto_front(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Rows not dominated in the (maximize ``x_col``, maximize ``y_col``)
    sense: keep row i unless some j has (x_j > x_i ∧ y_j ≥ y_i) or
    (x_j ≥ x_i ∧ y_j > y_i). Exact duplicates of a front point all
    survive (no strict part). The multi-signal selection primitive:
    "no other doc is both higher-quality AND longer" — a cut no single
    weighted score can express.

    Scale shape: the textbook skyline needs the all-pairs NOT EXISTS
    (the oracle's quadratic form); this runs in one aggregate + one
    tiny window. Per distinct x, take max(y) (map-combinable groupBy);
    over that x-sorted table compute the running max of y from strictly
    greater x (row-window on the AGGREGATE, whose size is distinct-x —
    bounded, since scores arrive rounded — never the corpus). A row is
    on the front iff y equals its x-group max and beats every
    greater-x max.
    """
    per_x = df.groupBy(x_col).agg(F.max(y_col).alias("_ymax"))
    # BOUNDED window: over per_x — one row per distinct rounded x value
    w = (
        Window.orderBy(F.desc(x_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = per_x.withColumn("_mstrict", F.max("_ymax").over(w)).select(
        x_col,
        "_ymax",
        F.coalesce("_mstrict", F.lit(float("-inf")).cast("double")).alias("_mstrict"),
    )
    return (
        df.join(F.broadcast(marked), x_col)
        .where((F.col(y_col) == F.col("_ymax")) & (F.col(y_col) > F.col("_mstrict")))
        .drop("_ymax", "_mstrict")
    )


@register(
    "q209_pareto_front",
    oracle=r"""
        WITH scored AS (
            SELECT doc_id, source,
                   ROUND(CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                              / length(text)
                         ELSE 0.0 END, 6) AS score,
                   len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))
                       AS n_tokens
            FROM documents
        )
        SELECT s.doc_id, s.source, s.score, CAST(s.n_tokens AS BIGINT) AS n_tokens
        FROM scored s
        WHERE NOT EXISTS (
            SELECT 1 FROM scored o
            WHERE (o.score > s.score AND o.n_tokens >= s.n_tokens)
               OR (o.score >= s.score AND o.n_tokens > s.n_tokens)
        )
        ORDER BY s.doc_id
    """,
    doc=(
        "Pareto front: docs not dominated on (alpha-ratio quality, token "
        "length) — the multi-objective selection cut. Linear plan: per-"
        "distinct-score max-length aggregate + a window over that bounded "
        "table; the oracle runs the textbook quadratic NOT EXISTS."
    ),
    tags=("curation", "selection", "skyline"),
)
def q209_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import tokens_expr as _toks

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    scored = docs.select(
        "doc_id",
        "source",
        F.round(
            F.when(F.length("text") > 0, alpha.cast("double") / F.length("text")).otherwise(
                0.0
            ),
            6,
        ).alias("score"),
        F.size(_toks(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return pareto_front(scored, "score", "n_tokens").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Blocklist policy filter (the C4 "bad words" pass)
# ---------------------------------------------------------------------------
def blocklist_hits(text: Column | str, terms: tuple[str, ...]) -> Column:
    """Count of whole-word blocklist matches in ``text`` (case-insensitive).

    One ``regexp_count`` over an alternation anchored by word boundaries —
    pure codegen at scan speed, the same shape as the PII pass above. C4
    (Raffel et al. 2020 §2.2) drops any page containing a blocklisted word;
    callers filter on ``blocklist_hits(...) > 0`` or keep the count as a
    policy feature. Terms are inlined as a regex alternation: the list is a
    policy artifact (hundreds of terms), never a data-sized table.
    """
    if not terms:
        # '()' would match the empty string at every position, silently
        # flagging every document with length(text)+1 hits
        raise ValueError("blocklist_hits: terms must be non-empty")
    c = F.col(text) if isinstance(text, str) else text
    # escape each term (real bad-word lists contain regex metacharacters:
    # 'f*ck', 'a$$', parens), and anchor \b only against a WORD-char edge:
    # \b between '$' and a space is no boundary at all, so an
    # unconditionally-anchored metachar-edged term could never match
    def one(t: str) -> str:
        lead = r"\b" if t and (t[0].isalnum() or t[0] == "_") else ""
        trail = r"\b" if t and (t[-1].isalnum() or t[-1] == "_") else ""
        return lead + re.escape(t) + trail

    pat = "(" + "|".join(one(t) for t in terms) + ")"
    return F.regexp_count(F.lower(c), F.lit(pat))


_BLOCKLIST = ("slow", "dup", "big")  # stand-in policy list for the gate


@register(
    "q220_blocklist_policy",
    oracle=r"""
        WITH hits AS (
            SELECT source,
                   len(regexp_extract_all(lower(text), '\b(slow|dup|big)\b')) AS n_hits
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
               ROUND(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS flag_rate,
               CAST(SUM(n_hits) AS BIGINT) AS total_hits
        FROM hits GROUP BY source ORDER BY source
    """,
    doc=(
        "blocklist policy census (the C4 bad-words pass): whole-word "
        "case-insensitive blocklist matches per document via one regexp_count "
        "alternation (scan-speed codegen, zero extra shuffles beyond the "
        "per-source aggregate), rolled up to per-source docs / flagged / "
        "flag-rate / total hits — the policy-impact panel reviewed before "
        "turning a filter on."
    ),
    tags=("curation", "policy", "filter"),
)
def q220_blocklist_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    n_hits = blocklist_hits(F.col("text"), _BLOCKLIST)
    per_doc = docs.select("source", n_hits.alias("n_hits"))
    flagged = F.when(F.col("n_hits") > 0, 1).otherwise(0)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum(flagged).cast("long").alias("flagged_docs"),
            F.round(F.sum(flagged) / F.count(F.lit(1)), 6).alias("flag_rate"),
            F.sum("n_hits").cast("long").alias("total_hits"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Rater agreement (Cohen's kappa) between two quality signals
# ---------------------------------------------------------------------------
_KAPPA_ALPHA_THRESHOLD = 0.822  # ~median alpha-ratio: keeps rater 1 balanced


def _kappa_oracle() -> str:
    # q208 is registered earlier in this module, so its oracle is available
    # here; embedding it keeps the capstone's twin derived from the gated
    # source (the q225 registered_oracle pattern)
    from ai_batch_processing_spark.registry import registered_oracle

    q208 = registered_oracle("q208_linear_classifier_scores")
    return f"""
        WITH cls AS ({q208}),
        r1t AS (
            SELECT doc_id,
                   CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                             * 1.0 / length(text)
                        ELSE 0.0 END >= {_KAPPA_ALPHA_THRESHOLD} AS r1
            FROM documents
        ),
        j AS (SELECT r1t.r1, cls.label AS r2 FROM r1t JOIN cls USING (doc_id)),
        cells AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
                   CAST(SUM(CASE WHEN r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                   CAST(SUM(CASE WHEN NOT r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                   CAST(SUM(CASE WHEN NOT r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS n00
            FROM j
        )
        SELECT n_docs, n11, n10, n01, n00,
               ROUND((n11 + n00) * 1.0 / n_docs, 6) AS po,
               ROUND((n11 + n10) * 1.0 / n_docs * ((n11 + n01) * 1.0 / n_docs)
                     + (n01 + n00) * 1.0 / n_docs * ((n10 + n00) * 1.0 / n_docs), 6) AS pe,
               CASE WHEN (n11 + n10) * 1.0 / n_docs * ((n11 + n01) * 1.0 / n_docs)
                         + (n01 + n00) * 1.0 / n_docs * ((n10 + n00) * 1.0 / n_docs) < 1.0
               THEN ROUND(((n11 + n00) * 1.0 / n_docs
                      - ((n11 + n10) * 1.0 / n_docs * ((n11 + n01) * 1.0 / n_docs)
                         + (n01 + n00) * 1.0 / n_docs * ((n10 + n00) * 1.0 / n_docs)))
                     / (1.0 - ((n11 + n10) * 1.0 / n_docs * ((n11 + n01) * 1.0 / n_docs)
                               + (n01 + n00) * 1.0 / n_docs
                                 * ((n10 + n00) * 1.0 / n_docs))), 6)
               ELSE NULL END AS kappa
        FROM cells
    """


@register(
    "q228_rater_agreement",
    oracle=_kappa_oracle(),
    doc=(
        "Cohen's kappa between two automatic quality raters — the rule-based "
        "alpha-ratio cut and the hashed linear classifier (q208) — plus the "
        "2x2 agreement cells: the calibration check run before swapping one "
        "quality signal for another (agreement >> chance means the cheap rule "
        "can gate data the classifier would). One doc-keyed join, one "
        "single-row aggregate; kappa arithmetic on exact BIGINT cells."
    ),
    tags=("curation", "eval", "quality"),
)
def q228_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    ratio = F.when(F.length("text") > 0, alpha * 1.0 / F.length("text")).otherwise(0.0)
    r1 = docs.select("doc_id", (ratio >= _KAPPA_ALPHA_THRESHOLD).alias("r1"))
    r2 = q208_linear_classifier_scores(spark, sf_dir).select(
        "doc_id", F.col("label").alias("r2")
    )
    j = r1.join(r2, "doc_id")
    cells = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("r1") & F.col("r2")).cast("int")).cast("long").alias("n11"),
        F.sum((F.col("r1") & ~F.col("r2")).cast("int")).cast("long").alias("n10"),
        F.sum((~F.col("r1") & F.col("r2")).cast("int")).cast("long").alias("n01"),
        F.sum((~F.col("r1") & ~F.col("r2")).cast("int")).cast("long").alias("n00"),
    )
    return kappa_from_cells(cells)


def kappa_from_cells(cells: DataFrame) -> DataFrame:
    """Cohen's kappa from a 1-row 2x2 cell frame ``(n_docs, n11, n10,
    n01, n00)`` — split out so the degenerate-agreement guard is unit-
    testable without a corpus."""
    po = (F.col("n11") + F.col("n00")) / F.col("n_docs")
    pe = ((F.col("n11") + F.col("n10")) / F.col("n_docs"))
    pe = pe * ((F.col("n11") + F.col("n01")) / F.col("n_docs")) + (
        (F.col("n01") + F.col("n00")) / F.col("n_docs")
    ) * ((F.col("n10") + F.col("n00")) / F.col("n_docs"))
    return cells.select(
        "n_docs",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        # pe == 1.0 (both raters collapse to one class) would divide by
        # zero — Spark yields NULL where DuckDB double division diverges;
        # both twins guard, so the gate holds exactly when agreement is
        # trivial (the oracle mirrors this with CASE WHEN ... < 1.0)
        F.when(pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6))
        .otherwise(F.lit(None).cast("double"))
        .alias("kappa"),
    )




# ---------------------------------------------------------------------------
# Facility-location greedy coreset selection (submodular data selection)
# ---------------------------------------------------------------------------
def facility_location_select(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 10_000,
) -> DataFrame:
    """(round, vec_id, gain): k greedily-selected coreset rows maximizing
    the facility-location objective F(S) = Σ_x max_{s∈S} cos(x, s).

    The standard submodular data-selection primitive (pick the k most
    *representative* examples, not the k best-scoring — every corpus row
    must be near SOME selected row): greedy is (1−1/e)-optimal. Per
    round, the marginal gain of a candidate c is
    Σ_x (max(cos(x,c), cur(x)) − cur(x)) with cur(x) the best coverage so
    far; the argmax row comes back to the driver (one bounded limit(1)
    round-trip per round — the BPE-argmax cadence), previously-selected
    ids are excluded, and coverage updates distributed.

    The pair-similarity frame is computed ONCE (6dp-rounded, persisted);
    each round is one join + one candidate aggregate over it. That frame
    is O(n²) — the exact form carries the same ``max_rows`` fail-fast
    guard as ``knn_edges``; for large corpora, prefilter candidates to an
    IVF-bucketed pool and feed the bounded pool here. Gains are
    ROUND(SUM, 6)ed and ties break to the smallest id, so a fixed round
    count unrolls into a straight-line DuckDB CTE chain (the q122/q151
    recipe) and the whole greedy loop hash-gates. The gain sum is a plain
    global F.sum rounded once (the kmeans/PCA aggregate convention, NOT
    the rrf sorted fold — vote groups there are k-bounded, while a
    per-candidate sorted fold here would collect corpus-sized lists);
    boundary-exact ties between shuffle layouts are assumed absent, as
    everywhere 6dp-rounded global sums are used.
    """
    from ai_batch_processing_spark.operators.similarity import _dot, _norm

    if max_rows is not None:
        n = emb.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"facility_location_select: corpus exceeds max_rows={max_rows}. "
                "The exact form scores all pairs (O(n^2)); prefilter the "
                "candidate pool (IVF buckets) or pass max_rows=None to accept "
                "the quadratic scan."
            )
    a = emb.select(
        F.col(id_col).alias("x"), F.col(vec_col).alias("_xv"), _norm(F.col(vec_col)).alias("_xn")
    )
    b = emb.select(
        F.col(id_col).alias("cand"), F.col(vec_col).alias("_cv"), _norm(F.col(vec_col)).alias("_cn")
    )
    with pin_scope():
        pairs = cache(
            a.join(F.broadcast(b), F.lit(True)).select(
                "x",
                "cand",
                F.round(
                    _dot(F.col("_xv"), F.col("_cv")) / (F.col("_xn") * F.col("_cn")), 6
                ).alias("sim"),
            )
        )
        cur = emb.select(F.col(id_col).alias("x"), F.lit(0.0).alias("cur"))
        chosen: list[tuple[int, int, float]] = []
        for rnd in range(1, k + 1):
            cands = pairs
            if chosen:
                cands = pairs.filter(~F.col("cand").isin([c[1] for c in chosen]))
            winners = (
                cands.join(cur, "x")
                .groupBy("cand")
                .agg(
                    F.round(
                        F.sum(F.greatest(F.col("sim"), F.col("cur")) - F.col("cur")), 6
                    ).alias("gain")
                )
                .orderBy(F.desc("gain"), F.asc("cand"))
                .limit(1)
                .collect()
            )
            if not winners:
                raise ValueError(
                    f"facility_location_select: k={k} exceeds the candidate "
                    f"count (all {len(chosen)} rows already selected)"
                )
            win = winners[0]
            chosen.append((rnd, int(win.cand), float(win.gain)))
            if rnd == k:
                break  # the last round's coverage is never read
            upd = pairs.filter(F.col("cand") == win.cand).select("x", "sim")
            cur = pin(
                cur.join(upd, "x", "left").select(
                    "x",
                    F.greatest(F.col("cur"), F.coalesce(F.col("sim"), F.lit(0.0))).alias(
                        "cur"
                    ),
                )
            )
        return emb.sparkSession.createDataFrame(
            chosen, "round bigint, vec_id bigint, gain double"
        )


def _facility_location_oracle_sql(k: int, cap: int) -> str:
    """Unrolled DuckDB twin of the greedy loop: per round, a gains CTE
    over the not-yet-selected candidates, a LIMIT-1 winner, a coverage
    update — straight-line SQL for the same k selections."""
    head = f"""
        WITH emb AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {cap}
        ),
        pairs AS (
            SELECT a.id AS x, b.id AS cand,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
            FROM emb a CROSS JOIN emb b
        ),
        sel0 AS (
            SELECT CAST(NULL AS BIGINT) AS rnd, CAST(NULL AS BIGINT) AS id,
                   CAST(NULL AS DOUBLE) AS gain WHERE FALSE
        ),
        c0 AS (SELECT id AS x, 0.0 AS cur FROM emb)
    """
    steps = []
    for r in range(1, k + 1):
        steps.append(
            f"""
        , g{r} AS (
            SELECT p.cand,
                   ROUND(SUM(GREATEST(p.sim, c.cur) - c.cur), 6) AS gain
            FROM pairs p JOIN c{r - 1} c ON p.x = c.x
            WHERE p.cand NOT IN (SELECT id FROM sel{r - 1})
            GROUP BY p.cand
        ),
        w{r} AS (SELECT cand AS id, gain FROM g{r} ORDER BY gain DESC, cand ASC LIMIT 1),
        sel{r} AS (
            SELECT * FROM sel{r - 1}
            UNION ALL SELECT {r} AS rnd, id, gain FROM w{r}
        ),
        c{r} AS (
            SELECT c.x, GREATEST(c.cur, COALESCE(p.sim, 0.0)) AS cur
            FROM c{r - 1} c
            LEFT JOIN (
                SELECT pairs.x, pairs.sim FROM pairs JOIN w{r} ON pairs.cand = w{r}.id
            ) p ON c.x = p.x
        )"""
        )
    tail = f"""
        SELECT rnd AS round, id AS vec_id, gain FROM sel{k} ORDER BY round
    """
    return head + "".join(steps) + tail


_FL_K = 5
_FL_CAP = 200


@register(
    "q233_facility_location_coreset",
    oracle=_facility_location_oracle_sql(_FL_K, _FL_CAP),
    doc=(
        "greedy facility-location coreset: the 5 most REPRESENTATIVE "
        "embedding rows (every corpus row close to some selected row — "
        "submodular coverage, (1-1/e)-optimal greedy), not the 5 "
        "best-scoring. One persisted 6dp pair frame, one join+aggregate+"
        "argmax per round with a bounded limit(1) driver round-trip, "
        "hash-checked against the same greedy rounds unrolled as DuckDB "
        "CTEs."
    ),
    tags=("curation", "selection", "embedding", "iterative"),
)
def q233_facility_location_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        .filter(F.col("vec_id") < _FL_CAP)
        .select("vec_id", "embedding")
    )
    return facility_location_select(emb, k=_FL_K).orderBy("round")


# ---------------------------------------------------------------------------
# Rank AUC (Mann-Whitney) — threshold-free rater/classifier evaluation
# ---------------------------------------------------------------------------
def rank_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: list[str] | None = None,
) -> DataFrame:
    """Per-group ROC-AUC of ``score_col`` against boolean ``label_col``
    via the Mann-Whitney rank statistic — no threshold sweep, no curve
    materialization: AUC = (Σ_pos avgrank − P(P+1)/2) / (P·N), with
    average ranks for tied scores (the exact ROC-trapezoid value).

    Complements q207 (calibration buckets) and q228 (kappa at ONE
    threshold): AUC measures whether the score ORDERS positives above
    negatives anywhere on the curve. One rank window + one aggregate per
    group; avgrank arithmetic is integer/half-integer exact, so the only
    rounding is the final 6dp division — bit-stable across engines.
    Degenerate groups (all-positive / all-negative) yield NULL (the
    kappa-guard convention). Output: by-cols + (n_docs, n_pos, n_neg,
    auc).
    """
    by = by or []
    part = [F.col(c) for c in by]
    w_rank = Window.partitionBy(*part).orderBy(F.asc(score_col))
    w_tie = Window.partitionBy(*part, F.col(score_col))
    rk = df.select(
        *by,
        F.col(label_col).alias("_y"),
        (
            F.rank().over(w_rank) + (F.count(F.lit(1)).over(w_tie) - 1) / 2.0
        ).alias("_ar"),
    )
    ag = rk.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("_y").cast("int")).cast("long").alias("n_pos"),
        F.sum((~F.col("_y")).cast("int")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("_y"), F.col("_ar"))).alias("_sp"),
    )
    auc = (F.col("_sp") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0) / (
        F.col("n_pos") * 1.0 * F.col("n_neg")
    )
    return ag.select(
        *by,
        "n_docs",
        "n_pos",
        "n_neg",
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), F.round(auc, 6)).alias(
            "auc"
        ),
    )


def _auc_oracle() -> str:
    from ai_batch_processing_spark.registry import registered_oracle

    q208 = registered_oracle("q208_linear_classifier_scores")
    return f"""
        WITH cls AS ({q208}),
        r1 AS (
            SELECT doc_id, source,
                   CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                             * 1.0 / length(text)
                        ELSE 0.0 END >= {_KAPPA_ALPHA_THRESHOLD} AS y
            FROM documents
        ),
        j AS (SELECT r1.source, r1.y, cls.score FROM r1 JOIN cls USING (doc_id)),
        rk AS (
            SELECT source, y,
                   RANK() OVER (PARTITION BY source ORDER BY score ASC) AS r,
                   COUNT(*) OVER (PARTITION BY source, score) AS c
            FROM j
        ),
        ag AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                   CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
                   SUM(CASE WHEN y THEN r + (c - 1) / 2.0 END) AS sp
            FROM rk GROUP BY source
        )
        SELECT source, n_docs, n_pos, n_neg,
               CASE WHEN n_pos > 0 AND n_neg > 0
                    THEN ROUND((sp - n_pos * (n_pos + 1) / 2.0)
                               / (n_pos * 1.0 * n_neg), 6)
               END AS auc
        FROM ag ORDER BY source
    """


@register(
    "q235_quality_auc",
    oracle=_auc_oracle(),
    doc=(
        "per-source ROC-AUC (Mann-Whitney rank form, tie-averaged ranks) of "
        "the hashed linear classifier's score against the alpha-ratio rule "
        "label — the threshold-free companion to q207's calibration buckets "
        "and q228's single-threshold kappa: does the continuous score ORDER "
        "rule-positives above rule-negatives, per source? One rank window + "
        "one aggregate; degenerate one-class sources yield NULL."
    ),
    tags=("curation", "eval", "quality"),
)
def q235_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    ratio = F.when(F.length("text") > 0, alpha * 1.0 / F.length("text")).otherwise(0.0)
    r1 = docs.select("doc_id", "source", (ratio >= _KAPPA_ALPHA_THRESHOLD).alias("y"))
    cls = q208_linear_classifier_scores(spark, sf_dir).select("doc_id", "score")
    j = r1.join(cls, "doc_id")
    return rank_auc(j, "score", "y", by=["source"]).orderBy("source")


# ---------------------------------------------------------------------------
# Fleiss' kappa — multi-rater agreement (3 automatic quality raters)
# ---------------------------------------------------------------------------
_FLEISS_FK_THRESHOLD = 23.0  # ~median Flesch-Kincaid grade: balanced rater 3


def fleiss_kappa_cells(votes: DataFrame, n_raters: int) -> DataFrame:
    """Fleiss' kappa from per-item positive-vote counts ``(id, n_pos)``.

    The m-rater generalization of :func:`kappa_from_cells` (Cohen only
    compares two): per item, P_i = Σ_cat n_ic(n_ic−1) / (m(m−1)); kappa =
    (mean(P_i) − Pe) / (1 − Pe) with Pe from the pooled category
    proportions. All per-item arithmetic is integer-exact rationals over
    m(m−1); only the final three ratios round. Degenerate unanimity
    (Pe = 1) yields NULL — the q228 guard convention. Output one row:
    (n_docs, p_bar, p_e, kappa).
    """
    if n_raters < 2:
        raise ValueError(f"fleiss_kappa_cells: need >= 2 raters, got {n_raters}")
    m = n_raters
    npos = F.col("n_pos")
    nneg = F.lit(m) - npos
    # sum the INTEGER numerators n_i1(n_i1-1)+n_i0(n_i0-1) and divide by
    # m(m-1)·N once at the end — summing per-item /m(m-1) fractions would
    # accumulate non-representable 1/3-style values in shuffle order
    ag = votes.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(npos * (npos - 1) + nneg * (nneg - 1)).cast("long").alias("_spi"),
        F.sum(npos).cast("long").alias("_tpos"),
    )
    p1 = F.col("_tpos") / (F.col("n_docs") * F.lit(float(m)))
    pe = p1 * p1 + (F.lit(1.0) - p1) * (F.lit(1.0) - p1)
    pbar = F.col("_spi") / (F.col("n_docs") * F.lit(float(m * (m - 1))))
    return ag.select(
        "n_docs",
        F.round(pbar, 6).alias("p_bar"),
        F.round(pe, 6).alias("p_e"),
        F.when(pe < 1.0, F.round((pbar - pe) / (F.lit(1.0) - pe), 6))
        .otherwise(F.lit(None).cast("double"))
        .alias("kappa"),
    )


def _fleiss_oracle() -> str:
    from ai_batch_processing_spark.registry import registered_oracle

    q208 = registered_oracle("q208_linear_classifier_scores")
    q199 = registered_oracle("q199_readability")
    return f"""
        WITH cls AS ({q208}),
        rd AS ({q199}),
        r1t AS (
            SELECT doc_id,
                   CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                             * 1.0 / length(text)
                        ELSE 0.0 END >= {_KAPPA_ALPHA_THRESHOLD} AS r1
            FROM documents
        ),
        votes AS (
            SELECT r1t.doc_id,
                   (CASE WHEN r1t.r1 THEN 1 ELSE 0 END
                    + CASE WHEN cls.label THEN 1 ELSE 0 END
                    + CASE WHEN rd.fk_grade <= {_FLEISS_FK_THRESHOLD} THEN 1 ELSE 0 END
                   ) AS n_pos
            FROM r1t JOIN cls USING (doc_id) JOIN rd USING (doc_id)
        ),
        ag AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_pos * (n_pos - 1) + (3 - n_pos) * (2 - n_pos))
                        AS BIGINT) AS spi,
                   CAST(SUM(n_pos) AS BIGINT) AS tpos
            FROM votes
        )
        SELECT n_docs,
               ROUND(spi / (6.0 * n_docs), 6) AS p_bar,
               ROUND(POWER(tpos * 1.0 / (n_docs * 3.0), 2)
                     + POWER(1.0 - tpos * 1.0 / (n_docs * 3.0), 2), 6) AS p_e,
               CASE WHEN POWER(tpos * 1.0 / (n_docs * 3.0), 2)
                         + POWER(1.0 - tpos * 1.0 / (n_docs * 3.0), 2) < 1.0
                    THEN ROUND((spi / (6.0 * n_docs)
                                - (POWER(tpos * 1.0 / (n_docs * 3.0), 2)
                                   + POWER(1.0 - tpos * 1.0 / (n_docs * 3.0), 2)))
                               / (1.0 - (POWER(tpos * 1.0 / (n_docs * 3.0), 2)
                                         + POWER(1.0 - tpos * 1.0 / (n_docs * 3.0), 2))), 6)
               END AS kappa
        FROM ag
    """


@register(
    "q238_fleiss_kappa",
    oracle=_fleiss_oracle(),
    doc=(
        "Fleiss' kappa across THREE automatic quality raters — the "
        "alpha-ratio rule, the hashed linear classifier (q208), and the "
        "Flesch-Kincaid grade cut (q199) — the m-rater agreement panel run "
        "before trusting any single cheap signal as a gate (Cohen/q228 "
        "only compares two). Per-item vote counts are integer-exact; one "
        "doc-keyed 3-way join + one single-row aggregate; unanimity "
        "degenerate case yields NULL in both engines."
    ),
    tags=("curation", "eval", "quality"),
)
def q238_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import readability

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    ratio = F.when(F.length("text") > 0, alpha * 1.0 / F.length("text")).otherwise(0.0)
    r1 = docs.select("doc_id", (ratio >= _KAPPA_ALPHA_THRESHOLD).alias("r1"))
    r2 = q208_linear_classifier_scores(spark, sf_dir).select(
        "doc_id", F.col("label").alias("r2")
    )
    r3 = readability(docs).select(
        "doc_id", (F.col("fk_grade") <= _FLEISS_FK_THRESHOLD).alias("r3")
    )
    votes = (
        r1.join(r2, "doc_id")
        .join(r3, "doc_id")
        .select(
            "doc_id",
            (
                F.col("r1").cast("int") + F.col("r2").cast("int") + F.col("r3").cast("int")
            ).alias("n_pos"),
        )
    )
    return fleiss_kappa_cells(votes, n_raters=3)


# ---------------------------------------------------------------------------
# Hashed linear classifier TRAINING (closes q208's "the training happens
# elsewhere": the weight table is learned in-engine, then plugs straight
# into linear_text_classifier for the inference scan)
# ---------------------------------------------------------------------------
def _hashed_feature_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    method: str,
    include_bigrams: bool,
) -> DataFrame:
    """(doc_id, b, c): the q208 hashed unigram(+bigram) bag, PLUS one bias
    row per doc at bucket -1 with c = 1, so the bias trains and scores
    through exactly the same join/aggregate path as every other weight."""
    base = docs.select(F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("ts"))
    ts = F.col("ts")
    feats = ts
    if include_bigrams:
        bigrams = F.when(
            F.size(ts) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - 1),
                lambda i: F.concat(
                    F.element_at(ts, i), F.lit(" "), F.element_at(ts, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        feats = F.concat(ts, bigrams)
    counts = (
        base.select("doc_id", F.explode(feats).alias("f"))
        .select("doc_id", _feature_bucket(F.col("f"), n_buckets, method).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bias = base.select(
        "doc_id", F.lit(-1).cast("long").alias("b"), F.lit(1).cast("long").alias("c")
    )
    return counts.unionAll(bias)


def perceptron_train_hashed(
    docs: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    epochs: int = 5,
    method: str = "xxhash64",
    include_bigrams: bool = True,
) -> DataFrame:
    """Learned (b, w) integer weight table for the fastText-shape hashed
    linear classifier — batch-perceptron training run entirely in-engine.

    ``label_col`` holds y ∈ {+1, −1}. Each epoch is one synchronous
    batch update: margins m_d = Σ_b c_db·w_b (the bias rides along as
    bucket −1), every doc with y_d·m_d ≤ 0 is misclassified, and
    w_b += Σ_misclassified y_d·c_db. All state is INTEGER (counts,
    weights, margins), so every decision — the ≤ 0 test and the final
    weights — is exact in any engine and the fixed-epoch loop
    hash-matches an unrolled DuckDB CTE chain; there is no learning rate
    because perceptron updates are scale-invariant. Overflow headroom:
    |w| grows ≤ Σ_d c_db per epoch (~corpus tokens / n_buckets), margins
    ≤ doc_tokens · max|w| — int64 holds past billions of documents.

    Scale shape: the feature bag is built ONCE (one explode + one
    map-combinable (doc,b) count, persisted and pre-partitioned on
    doc_id); each epoch joins the ≤ n_buckets+1-row weight table in as a
    broadcast (margins need no shuffle beyond the persisted layout), the
    misclassified-doc join is doc_id-co-partitioned, and the weight
    update aggregates to n_buckets rows. Lineage is cut after every epoch
    but the last with :func:`~ai_batch_processing_spark.jobs.pin`; the
    last epoch's weights are stored before the feature bag is released.
    """
    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    sess = docs.sparkSession
    feats = _hashed_feature_counts(
        docs, id_col, text_col, n_buckets, method, include_bigrams
    )
    from ai_batch_processing_spark.session import shuffle_partitions

    n = min(shuffle_partitions(sess), max(2 * sess.sparkContext.defaultParallelism, 16))
    with pin_scope() as scope:
        feats = cache(feats.repartition(n, "doc_id"))
        labels = docs.select(
            F.col(id_col).alias("doc_id"), F.col(label_col).cast("long").alias("y")
        )
        wt = sess.range(-1, n_buckets).select(
            F.col("id").alias("b"), F.lit(0).cast("long").alias("w")
        )
        for e in range(epochs):
            margins = (
                feats.join(F.broadcast(wt), "b")
                .groupBy("doc_id")
                .agg(F.sum(F.col("c") * F.col("w")).alias("m"))
            )
            miscl = (
                margins.join(labels, "doc_id")
                .filter(F.col("y") * F.col("m") <= 0)
                .select("doc_id", "y")
            )
            upd = (
                feats.join(miscl, "doc_id")
                .groupBy("b")
                .agg(F.sum(F.col("y") * F.col("c")).alias("dw"))
            )
            wt = wt.join(upd, "b", "left").select(
                "b",
                (F.col("w") + F.coalesce(F.col("dw"), F.lit(0))).cast("long").alias("w"),
            )
            if e < epochs - 1:
                wt = pin(wt)
        return scope.store(wt)


_PERC_BUCKETS = 256
_PERC_EPOCHS = 5
# integer alpha-ratio label at the corpus median (ratio >= 0.82) — exact
# in both engines, no division
_PERC_LABEL_SPARK = None  # built in the query (needs F)
_PERC_LABEL_SQL = (
    "CASE WHEN 50 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
    ">= 41 * length(text) THEN 1 ELSE -1 END"
)


def _perceptron_oracle(n_buckets: int, epochs: int, tail: str) -> str:
    head = rf"""
        WITH base AS MATERIALIZED (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts,
                   {_PERC_LABEL_SQL} AS y
            FROM documents
        ),
        uni AS (SELECT doc_id, unnest(ts) AS f FROM base),
        bi AS (
            SELECT doc_id,
                   ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS f
            FROM base, unnest(generate_series(1, len(ts) - 1)) u(i)
            WHERE len(ts) >= 2
        ),
        feats AS MATERIALIZED (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % {n_buckets} AS b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) allf
            GROUP BY 1, 2
            UNION ALL
            SELECT doc_id, CAST(-1 AS BIGINT) AS b, CAST(1 AS BIGINT) AS c FROM base
        ),
        labels AS MATERIALIZED (SELECT doc_id, y FROM base),
        w0 AS (
            SELECT r.range AS b, CAST(0 AS BIGINT) AS w FROM range(-1, {n_buckets}) r
        )
    """
    steps = []
    for i in range(1, epochs + 1):
        steps.append(
            f"""
        , m{i} AS (
            SELECT f.doc_id, SUM(f.c * w.w) AS m
            FROM feats f JOIN w{i - 1} w USING (b) GROUP BY 1
        ),
        u{i} AS (
            SELECT f.b, SUM(l.y * f.c) AS dw
            FROM feats f
            JOIN m{i} m ON m.doc_id = f.doc_id
            JOIN labels l ON l.doc_id = f.doc_id
            WHERE l.y * m.m <= 0
            GROUP BY 1
        ),
        w{i} AS MATERIALIZED (
            SELECT w.b, CAST(w.w + COALESCE(u.dw, 0) AS BIGINT) AS w
            FROM w{i - 1} w LEFT JOIN u{i} u USING (b)
        )"""
        )
    return head + "".join(steps) + tail


def _perc_labeled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    return docs.withColumn(
        "y", F.when(alpha * 50 >= F.length("text") * 41, 1).otherwise(-1)
    )


@register(
    "q243_perceptron_train",
    oracle=_perceptron_oracle(
        _PERC_BUCKETS,
        _PERC_EPOCHS,
        f"\n        SELECT b, w FROM w{_PERC_EPOCHS} ORDER BY b\n    ",
    ),
    doc=(
        "in-engine training of the q208 hashed linear classifier: 5 "
        "batch-perceptron epochs over the unigram+bigram md5-bucket bag "
        "(bias as bucket -1), labels = integer alpha-ratio median rule. "
        "All-integer state makes every epoch exact; hash-matched against "
        "the 5 epochs unrolled as a DuckDB CTE chain. The learned (b, w) "
        "table plugs straight into linear_text_classifier for inference."
    ),
    tags=("curation", "classifier", "training", "iterative"),
)
def q243_perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = _perc_labeled_docs(spark, sf_dir)
    wt = perceptron_train_hashed(
        labeled, "y", n_buckets=_PERC_BUCKETS, epochs=_PERC_EPOCHS, method="md5"
    )
    return wt.orderBy("b")


@register(
    "q244_perceptron_train_eval",
    oracle=_perceptron_oracle(
        _PERC_BUCKETS,
        _PERC_EPOCHS,
        f"""
        , mf AS (
            SELECT f.doc_id, SUM(f.c * w.w) AS m
            FROM feats f JOIN w{_PERC_EPOCHS} w USING (b) GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN m.m > 0 AND l.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN m.m > 0 AND l.y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN m.m <= 0 AND l.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN m.m <= 0 AND l.y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               ROUND(SUM(CASE WHEN (m.m > 0) = (l.y = 1) THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS accuracy
        FROM mf m JOIN labels l ON l.doc_id = m.doc_id
    """,
    ),
    doc=(
        "training-set confusion matrix + accuracy of the q243-trained "
        "perceptron: the trained weights scored back over the same "
        "integer feature bag (one broadcast join + per-doc sum). Oracle "
        "re-derives the identical weights via the shared unrolled-epoch "
        "builder, so the eval can never drift from the trainer."
    ),
    tags=("curation", "classifier", "training", "eval"),
)
def q244_perceptron_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = _perc_labeled_docs(spark, sf_dir)
    wt = perceptron_train_hashed(
        labeled, "y", n_buckets=_PERC_BUCKETS, epochs=_PERC_EPOCHS, method="md5"
    )
    feats = _hashed_feature_counts(
        labeled, "doc_id", "text", _PERC_BUCKETS, "md5", include_bigrams=True
    )
    margins = (
        feats.join(F.broadcast(wt), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("w")).alias("m"))
    )
    j = margins.join(labeled.select("doc_id", "y"), "doc_id")
    pred_pos = F.col("m") > 0
    actual_pos = F.col("y") == 1
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((pred_pos & actual_pos).cast("int")).cast("long").alias("tp"),
        F.sum((pred_pos & ~actual_pos).cast("int")).cast("long").alias("fp"),
        F.sum((~pred_pos & actual_pos).cast("int")).cast("long").alias("fn"),
        F.sum((~pred_pos & ~actual_pos).cast("int")).cast("long").alias("tn"),
        F.round(
            F.sum((pred_pos == actual_pos).cast("int")) / F.count(F.lit(1)), 6
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Rendezvous (highest-random-weight) sharding — stable shard routing:
# adding a shard moves only ~1/(S+1) of the corpus, never a reshuffle
# ---------------------------------------------------------------------------
def rendezvous_assign(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    method: str = "xxhash64",
) -> DataFrame:
    """(id, shard): highest-random-weight assignment — each row goes to
    argmax_s hash(id ':' s), ties to the smaller shard id.

    The routing rule q182's contiguous manifest can't give: when the
    shard count changes, ONLY the rows whose winning shard is the new
    (or removed) one move — ~1/(S+1) of the corpus, proven in the unit
    test — where modulo sharding reshuffles nearly everything. Pure
    projection: the S candidate scores unroll into one greatest/argmax
    expression per row, no explode, no shuffle, no state.

    ``method``: ``xxhash64`` (JVM intrinsic, production) or ``md5``
    (the SQL-portable gate twin — same _feature_bucket convention).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.col(id_col).cast("string")

    def score(s: int) -> Column:
        tag = F.concat(key, F.lit(f":{s}"))
        if method == "xxhash64":
            return F.xxhash64(tag)
        if method == "md5":
            return F.conv(F.substring(F.md5(tag), 1, 8), 16, 10).cast("long")
        raise ValueError(f"method must be xxhash64|md5, got {method!r}")

    # argmax via one lexicographic MAX over (score, -shard) structs —
    # ties (astronomically rare, but defined) go to the smaller shard
    best = F.greatest(
        *[F.struct(score(s).alias("h"), F.lit(-s).alias("ns")) for s in range(n_shards)]
    )
    return df.select(
        F.col(id_col).alias("id"), (-best["ns"]).cast("long").alias("shard")
    )


def _rendezvous_oracle(n_shards: int) -> str:
    # DuckDB GREATEST is scalar-only (no struct lexicographic form), so
    # the twin expresses the same argmax relationally: 8 candidate rows
    # per doc, ROW_NUMBER ordered by (score DESC, shard ASC), keep rn=1.
    return f"""
        SELECT id, shard FROM (
            SELECT doc_id AS id, CAST(s.s AS BIGINT) AS shard,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                      || ':' || CAST(s.s AS VARCHAR)), 1, 8))
                                AS BIGINT) DESC,
                                s.s ASC
                   ) AS rn
            FROM documents, unnest(generate_series(0, {n_shards - 1})) AS s(s)
        ) q WHERE rn = 1
        ORDER BY id
    """


_HRW_SHARDS = 8


@register(
    "q256_rendezvous_sharding",
    oracle=_rendezvous_oracle(_HRW_SHARDS),
    doc=(
        "rendezvous / highest-random-weight shard routing over documents "
        "(8 shards): per-row argmax of md5(id:shard) scores as ONE "
        "lexicographic greatest-of-structs projection — no shuffle, no "
        "explode. The stable-routing property (changing S moves only "
        "~1/(S+1) of rows, vs modulo's full reshuffle) is unit-pinned."
    ),
    tags=("curation", "sharding", "routing"),
)
def q256_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return rendezvous_assign(docs, "doc_id", _HRW_SHARDS, method="md5").orderBy("id")


# ---------------------------------------------------------------------------
# Padding efficiency: length-bucketing waste report for batch assembly
# ---------------------------------------------------------------------------
_PAD_BUCKETS = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192]


def padding_efficiency(docs: DataFrame, buckets: list[int] | None = None) -> DataFrame:
    """(bucket, n_seqs, sum_tokens, padded_tokens, waste_share): what
    fixed-length batch assembly would cost at each power-of-two bucket —
    every sequence is padded up to the smallest bucket holding it, and
    waste_share is the padding fraction the accelerator burns. The
    report that decides between bucketing configs before
    :func:`pack_sequences` (q103) is even considered; sequences longer
    than the largest bucket surface as bucket = -1 (truncation candidates),
    never silently dropped.

    One Catalyst CASE-chain projection (identical integer thresholds in
    both engines) + a map-combinable aggregate over ≤ len(buckets)+1
    groups: corpus-linear, one pass, integer arithmetic until the one
    rounded division.
    """
    bs = sorted(buckets or _PAD_BUCKETS)
    ntok = F.size(tokens_expr("text")).cast("long")
    bucket = F.lit(-1).cast("long")
    for b in reversed(bs):
        bucket = F.when(ntok <= b, F.lit(b).cast("long")).otherwise(bucket)
    per = docs.select(bucket.alias("bucket"), ntok.alias("v"))
    return per.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.sum("v").cast("long").alias("sum_tokens"),
        F.when(F.col("bucket") > 0, F.count(F.lit(1)) * F.first("bucket"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("padded_tokens"),
        F.when(
            F.col("bucket") > 0,
            F.round(1.0 - F.sum("v") * 1.0 / (F.count(F.lit(1)) * F.first("bucket")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("waste_share"),
    )


@register(
    "q271_padding_efficiency",
    oracle=r"""
        WITH per AS (
            SELECT CASE
                     WHEN v <= 16 THEN 16 WHEN v <= 32 THEN 32
                     WHEN v <= 64 THEN 64 WHEN v <= 128 THEN 128
                     WHEN v <= 256 THEN 256 WHEN v <= 512 THEN 512
                     WHEN v <= 1024 THEN 1024 WHEN v <= 2048 THEN 2048
                     WHEN v <= 4096 THEN 4096 WHEN v <= 8192 THEN 8192
                     ELSE -1 END AS bucket,
                   v
            FROM (
                SELECT CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                            x -> x <> '')) AS BIGINT) AS v
                FROM documents
            )
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_seqs,
               CAST(SUM(v) AS BIGINT) AS sum_tokens,
               CAST(CASE WHEN bucket > 0 THEN COUNT(*) * bucket ELSE 0 END AS BIGINT) AS padded_tokens,
               CASE WHEN bucket > 0
                    THEN ROUND(1.0 - SUM(v) * 1.0 / (COUNT(*) * bucket), 6)
                    ELSE 0.0 END AS waste_share
        FROM per
        GROUP BY bucket
        ORDER BY bucket
    """,
    doc=(
        "power-of-two length-bucketing waste report: per bucket, how many "
        "sequences land there, their real token mass, the padded mass a "
        "fixed-length batcher would ship, and the waste share — the "
        "decision table read before sequence packing; over-length rows "
        "surface as bucket -1. One CASE-chain pass, integer-exact."
    ),
    tags=("curation", "packing", "stats"),
)
def q271_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return padding_efficiency(docs).orderBy("bucket")


# ---------------------------------------------------------------------------
# Isotonic calibration (PAV via the minimax identity, binned)
# ---------------------------------------------------------------------------
def _calibration_bins(docs: DataFrame) -> DataFrame:
    """(b, cnt, pos): the deterministic score-bin fixture shared by the
    calibration operators — score bin b = min(19, ntok // 20) (a 20-bin
    grid over the token-count range) and a noisy-but-monotone synthetic
    label: positive iff (doc_id·37) mod 100 < 20 + min(60, ntok·3 // 10).
    Pure integer arithmetic, identical in both engines."""
    ntok = F.size(tokens_expr("text")).cast("long")
    b = F.least(F.lit(19).cast("long"), F.floor(ntok / 20).cast("long"))
    thr = F.lit(20) + F.least(F.lit(60).cast("long"), F.floor(ntok * 3 / 10).cast("long"))
    label = F.when((F.col("doc_id") * 37) % 100 < thr, 1).otherwise(0)
    return (
        docs.select(b.alias("b"), label.alias("y"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"), F.sum("y").cast("long").alias("pos"))
    )


_CAL_BINS_SQL = r"""
        feats AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS BIGINT) AS ntok
            FROM documents
        ),
        binned AS (
            SELECT LEAST(19, ntok // 20) AS b,
                   CASE WHEN (doc_id * 37) % 100
                             < 20 + LEAST(60, ntok * 3 // 10)
                        THEN 1 ELSE 0 END AS y
            FROM feats
        ),
        bins AS (
            SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
            FROM binned GROUP BY b
        )
"""


def isotonic_calibration(bins: DataFrame) -> DataFrame:
    """(b, cnt, pos, raw_rate, iso_rate): the isotonic (monotone
    non-decreasing) calibration map fit to per-bin positive rates — the
    classical PAV fit, computed via the minimax identity
    iso(t) = max_{i≤t} min_{j≥t} avg(pos[i..j]) / avg(cnt[i..j]), which
    is exactly the pool-adjacent-violators solution for weighted squared
    loss and — unlike the sequential PAV sweep — is order-free relational
    algebra both engines can evaluate identically.

    Everything is bounded by the BIN count B (≤ 20 here): interval sums
    come from cumulative bin sums, the (i, t, j) enumeration is ≤ B³/6
    rows, and every comparison is between exact integer-ratio doubles —
    identical picks in both engines, one 6dp round at the end. The
    corpus itself is touched once, map-side, to build the bins.
    """
    # BOUNDED windows: over the ≤20-row bin table
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cums = bins.select(
        "b",
        "cnt",
        "pos",
        F.sum("cnt").over(w).alias("cc"),
        F.sum("pos").over(w).alias("cp"),
    )
    with pin_scope() as scope:
        cums = cache(cums)
        lo = cums.select(
            F.col("b").alias("i"),
            (F.col("cc") - F.col("cnt")).alias("cc_lo"),
            (F.col("cp") - F.col("pos")).alias("cp_lo"),
        )
        hi = cums.select(F.col("b").alias("j"), F.col("cc").alias("cc_hi"), F.col("cp").alias("cp_hi"))
        intervals = lo.join(hi, F.col("i") <= F.col("j")).select(
            "i",
            "j",
            ((F.col("cp_hi") - F.col("cp_lo")) / (F.col("cc_hi") - F.col("cc_lo"))).alias("avg"),
        )
        ts = bins.select(F.col("b").alias("t"))
        trip = intervals.join(
            F.broadcast(ts), (F.col("i") <= F.col("t")) & (F.col("t") <= F.col("j"))
        )
        m_it = trip.groupBy("i", "t").agg(F.min("avg").alias("m"))
        iso = m_it.groupBy("t").agg(F.max("m").alias("iso"))
        return scope.store(
            cums.join(iso, cums.b == iso.t).select(
                "b",
                "cnt",
                "pos",
                F.round(F.col("pos") * 1.0 / F.col("cnt"), 6).alias("raw_rate"),
                F.round(F.col("iso"), 6).alias("iso_rate"),
            )
        )


@register(
    "q274_isotonic_calibration",
    oracle=f"""
        WITH {_CAL_BINS_SQL},
        cums AS (
            SELECT b, cnt, pos,
                   SUM(cnt) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
                   SUM(pos) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
            FROM bins
        ),
        intervals AS (
            SELECT lo.b AS i, hi.b AS j,
                   CAST(hi.cp - (lo.cp - lo.pos) AS DOUBLE)
                   / (hi.cc - (lo.cc - lo.cnt)) AS avg
            FROM cums lo JOIN cums hi ON lo.b <= hi.b
        ),
        trip AS (
            SELECT iv.i, t.b AS t, iv.avg
            FROM intervals iv JOIN bins t ON iv.i <= t.b AND t.b <= iv.j
        ),
        m_it AS (SELECT i, t, MIN(avg) AS m FROM trip GROUP BY i, t),
        iso AS (SELECT t, MAX(m) AS iso FROM m_it GROUP BY t)
        SELECT c.b, c.cnt, c.pos,
               ROUND(c.pos * 1.0 / c.cnt, 6) AS raw_rate,
               ROUND(iso.iso, 6) AS iso_rate
        FROM cums c JOIN iso ON iso.t = c.b
        ORDER BY c.b
    """,
    doc=(
        "isotonic calibration (PAV) of binned classifier scores via the "
        "minimax identity max_i<=t min_j>=t interval-average — the "
        "order-free relational formulation of pool-adjacent-violators, "
        "hash-matched across engines on exact integer-ratio doubles. "
        "The calibration map applied to quality-classifier scores before "
        "thresholding."
    ),
    tags=("curation", "eval", "calibration"),
)
def q274_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return isotonic_calibration(_calibration_bins(docs)).orderBy("b")


def binned_average_precision(bins: DataFrame) -> DataFrame:
    """One row (n, n_pos, ap): binned average precision — the PR-curve
    area by rectangles over score bins scanned from the HIGHEST score
    down: AP = Σ_b P(≥b)·ΔR(b) with P the cumulative precision at the
    bin and ΔR the bin's share of all positives. Ties inside a bin are
    handled by construction (the whole bin is one step). Bounded-window
    math over the bin table; exact integers until two rounded divisions.
    """
    # BOUNDED window: over the ≤20-row bin table (descending score order)
    w = Window.orderBy(F.desc("b")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = bins.agg(
        F.sum("cnt").cast("long").alias("n"), F.sum("pos").cast("long").alias("n_pos")
    )
    cums = bins.select(
        "b",
        "pos",
        F.sum("cnt").over(w).alias("cc"),
        F.sum("pos").over(w).alias("cp"),
    )
    ap = (
        cums.crossJoin(F.broadcast(tot))
        # each term snapped to 6dp BEFORE the sum: a sum of 6dp decimals is
        # itself a 6dp decimal, so ROUND(SUM, 6) lands both engines on the
        # same grid point regardless of their summation order
        .select(
            F.round(
                (F.col("cp") / F.col("cc")) * (F.col("pos") / F.col("n_pos")), 6
            ).alias("term")
        )
        .agg(F.round(F.sum("term"), 6).alias("ap"))
    )
    return tot.crossJoin(ap).select("n", "n_pos", "ap")


@register(
    "q275_binned_average_precision",
    oracle=f"""
        WITH {_CAL_BINS_SQL},
        tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos
            FROM bins
        ),
        cums AS (
            SELECT b, pos,
                   SUM(cnt) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
                   SUM(pos) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
            FROM bins
        )
        SELECT tot.n, tot.n_pos,
               (SELECT ROUND(SUM(ROUND((CAST(cp AS DOUBLE) / cc)
                                        * (CAST(pos AS DOUBLE) / tot.n_pos), 6)), 6)
                FROM cums) AS ap
        FROM tot
    """,
    doc=(
        "binned average precision (PR-curve rectangle area, highest-score "
        "bin first): the ranking-eval complement of q235's rank AUC — "
        "AP weights precision by each bin's recall share, so top-bin "
        "contamination shows up immediately. Bounded bin-table windows, "
        "exact integers until the rounded sum."
    ),
    tags=("curation", "eval", "ranking"),
)
def q275_binned_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return binned_average_precision(_calibration_bins(docs))


# ---------------------------------------------------------------------------
# In-engine Naive Bayes training over the hashed bag (closed-form, one pass)
# ---------------------------------------------------------------------------
def naive_bayes_train_hashed(
    docs: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    method: str = "md5",
) -> DataFrame:
    """(b, cpos, cneg, llr): multinomial Naive Bayes weights over the q208
    hashed unigram bag — the CLOSED-FORM classifier trainer next to the
    iterative perceptron (q243): one pass, no epochs, llr_b =
    ln((cpos_b+1)/(tot_pos+B)) − ln((cneg_b+1)/(tot_neg+B)) with add-1
    smoothing. All inputs are exact integer counts; the two ln terms run
    in one fixed-order expression and the 6dp round snaps both engines.

    Scale shape: one explode + map-combinable (doc, bucket) counts, one
    label join, a ≤B-row per-class aggregate, totals as a broadcast
    1-row aggregate. At 100 TB this is a single shuffle on the bucket
    key — the cheapest trainable text classifier there is.
    """
    feats = _hashed_feature_counts(
        docs, id_col, text_col, n_buckets, method, include_bigrams=False
    ).filter(F.col("b") >= 0)
    labels = docs.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).cast("long").alias("y")
    )
    per = (
        feats.join(labels, "doc_id")
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("y") == 1, F.col("c")).otherwise(0)).cast("long").alias("cpos"),
            F.sum(F.when(F.col("y") == -1, F.col("c")).otherwise(0)).cast("long").alias("cneg"),
        )
    )
    axis = docs.sparkSession.range(n_buckets).select(F.col("id").alias("b"))
    dense = axis.join(per, "b", "left").select(
        "b",
        F.coalesce("cpos", F.lit(0)).alias("cpos"),
        F.coalesce("cneg", F.lit(0)).alias("cneg"),
    )
    tot = dense.agg(F.sum("cpos").alias("tp"), F.sum("cneg").alias("tn"))
    llr = F.round(
        F.log((F.col("cpos") + 1) / (F.col("tp") + F.lit(n_buckets)))
        - F.log((F.col("cneg") + 1) / (F.col("tn") + F.lit(n_buckets))),
        6,
    )
    return dense.crossJoin(F.broadcast(tot)).select("b", "cpos", "cneg", llr.alias("llr"))


def _nb_oracle(n_buckets: int, tail: str) -> str:
    return rf"""
        WITH base AS MATERIALIZED (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts,
                   {_PERC_LABEL_SQL} AS y
            FROM documents
        ),
        feats AS MATERIALIZED (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(f.f), 1, 8)) AS BIGINT) % {n_buckets} AS b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM base, unnest(ts) AS f(f)
            GROUP BY 1, 2
        ),
        labels AS MATERIALIZED (SELECT doc_id, y FROM base),
        per AS (
            SELECT f.b,
                   CAST(SUM(CASE WHEN l.y = 1 THEN f.c ELSE 0 END) AS BIGINT) AS cpos,
                   CAST(SUM(CASE WHEN l.y = -1 THEN f.c ELSE 0 END) AS BIGINT) AS cneg
            FROM feats f JOIN labels l USING (doc_id)
            GROUP BY f.b
        ),
        dense AS (
            SELECT r.range AS b,
                   COALESCE(per.cpos, 0) AS cpos, COALESCE(per.cneg, 0) AS cneg
            FROM range({n_buckets}) r LEFT JOIN per ON per.b = r.range
        ),
        tot AS (SELECT SUM(cpos) AS tp, SUM(cneg) AS tn FROM dense),
        wt AS MATERIALIZED (
            SELECT b, cpos, cneg,
                   ROUND(ln(CAST(cpos + 1 AS DOUBLE) / (tp + {n_buckets}))
                         - ln(CAST(cneg + 1 AS DOUBLE) / (tn + {n_buckets})), 6) AS llr
            FROM dense CROSS JOIN tot
        )
    {tail}
    """


@register(
    "q277_naive_bayes_train",
    oracle=_nb_oracle(
        _PERC_BUCKETS, "SELECT b, cpos, cneg, llr FROM wt ORDER BY b"
    ),
    doc=(
        "closed-form multinomial Naive Bayes training over the hashed "
        "unigram bag (add-1 smoothing, per-bucket log-likelihood ratios): "
        "the one-pass trainer next to the iterative perceptron q243 — "
        "exact integer class counts, two ln terms in one fixed-order "
        "expression, 6dp-snapped weights."
    ),
    tags=("curation", "classifier", "training"),
)
def q277_naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = _perc_labeled_docs(spark, sf_dir)
    return naive_bayes_train_hashed(
        labeled, "y", n_buckets=_PERC_BUCKETS, method="md5"
    ).orderBy("b")


def naive_bayes_eval(
    docs: DataFrame,
    label_col: str,
    wt: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    method: str = "md5",
) -> DataFrame:
    """One row (tp, fp, fn, tn, accuracy): the q277 weights scored back
    over the corpus as SCALED-INTEGER votes — the 6dp llr becomes
    round(llr·10⁶) as a long, the class prior ln(n_pos/n_neg) likewise,
    and each doc's score is an exact integer dot product (the q247
    scaled-vote convention: no float summation order anywhere in the
    decision). Docs with no hashed features score prior-only through the
    left join."""
    feats = _hashed_feature_counts(
        docs, id_col, text_col, n_buckets, method, include_bigrams=False
    ).filter(F.col("b") >= 0)
    labels = docs.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).cast("long").alias("y")
    )
    sw = wt.select("b", F.round(F.col("llr") * 1_000_000, 0).cast("long").alias("w6"))
    prior = labels.agg(
        F.round(
            F.log(
                F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
                / F.sum(F.when(F.col("y") == -1, 1).otherwise(0))
            )
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("p6")
    )
    scores = (
        feats.join(F.broadcast(sw), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("w6")).alias("s"))
    )
    scored = (
        labels.join(scores, "doc_id", "left")
        .crossJoin(F.broadcast(prior))
        .select(
            "y",
            (F.coalesce(F.col("s"), F.lit(0)) + F.col("p6") > 0).alias("pred_pos"),
        )
    )
    return scored.agg(
        F.sum(F.when((F.col("y") == 1) & F.col("pred_pos"), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((F.col("y") == -1) & F.col("pred_pos"), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((F.col("y") == 1) & ~F.col("pred_pos"), 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when((F.col("y") == -1) & ~F.col("pred_pos"), 1).otherwise(0)).cast("long").alias("tn"),
        F.round(
            F.sum(
                F.when(((F.col("y") == 1) == F.col("pred_pos")), 1).otherwise(0)
            )
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


@register(
    "q278_naive_bayes_eval",
    oracle=_nb_oracle(
        _PERC_BUCKETS,
        f"""
        , sw AS (SELECT b, CAST(ROUND(llr * 1000000, 0) AS BIGINT) AS w6 FROM wt),
        prior AS (
            SELECT CAST(ROUND(ln(
                       CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                       / SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END)) * 1000000, 0) AS BIGINT) AS p6
            FROM labels
        ),
        scores AS (
            SELECT f.doc_id, SUM(f.c * sw.w6) AS s
            FROM feats f JOIN sw USING (b) GROUP BY f.doc_id
        ),
        scored AS (
            SELECT l.y, (COALESCE(s.s, 0) + p.p6 > 0) AS pred_pos
            FROM labels l LEFT JOIN scores s USING (doc_id) CROSS JOIN prior p
        )
        SELECT CAST(SUM(CASE WHEN y = 1 AND pred_pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN y = -1 AND pred_pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN y = 1 AND NOT pred_pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN y = -1 AND NOT pred_pos THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               ROUND(SUM(CASE WHEN (y = 1) = pred_pos THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS accuracy
        FROM scored
    """,
    ),
    doc=(
        "confusion matrix + accuracy of the q277 Naive Bayes weights "
        "scored back over the corpus with scaled-integer votes "
        "(round(llr*1e6) longs + integer prior — zero float summation in "
        "the decision path); the oracle re-derives the weights via the "
        "shared CTE builder so eval can never drift from the trainer."
    ),
    tags=("curation", "classifier", "eval"),
)
def q278_naive_bayes_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = _perc_labeled_docs(spark, sf_dir)
    wt = naive_bayes_train_hashed(labeled, "y", n_buckets=_PERC_BUCKETS, method="md5")
    return naive_bayes_eval(labeled, "y", wt, n_buckets=_PERC_BUCKETS, method="md5")


# ---------------------------------------------------------------------------
# Brier score decomposition (Murphy 1973) over the binned classifier fixture
# ---------------------------------------------------------------------------
def brier_decomposition(bins: DataFrame, n_bins: int = 20) -> DataFrame:
    """One row ``(n, base_rate, reliability, resolution, uncertainty,
    brier)``: the Murphy decomposition of the Brier score for a binned
    probabilistic classifier — REL (how far each bin's forecast sits
    from its observed rate; lower is better-calibrated), RES (how much
    the bins separate outcomes; higher is more informative), UNC (the
    outcome's inherent variance), Brier = REL − RES + UNC. The
    one-glance answer to "is this quality classifier worth its
    threshold" that q274's isotonic map and q275's AP each show half of.

    The forecast for score-bin b is its center (b + 0.5)/n_bins; per-bin
    terms are exact-integer-ratio doubles in ONE fixed order, snapped to
    6dp before the (≤ n_bins-row) sums, so both engines land on the
    same grid. The corpus is touched once, map-side, to build the bins.
    """
    tot = bins.agg(
        F.sum("cnt").cast("long").alias("n"), F.sum("pos").cast("long").alias("npos")
    )
    per = bins.crossJoin(F.broadcast(tot)).select(
        "cnt",
        "pos",
        "n",
        "npos",
        ((F.col("b") + 0.5) / n_bins).alias("f"),
        (F.col("pos") / F.col("cnt")).alias("o"),
        (F.col("npos") / F.col("n")).alias("obar"),
    )
    terms = per.select(
        "n",
        "npos",
        F.round(F.col("cnt") * (F.col("f") - F.col("o")) * (F.col("f") - F.col("o")), 6).alias(
            "rel_t"
        ),
        F.round(
            F.col("cnt") * (F.col("o") - F.col("obar")) * (F.col("o") - F.col("obar")), 6
        ).alias("res_t"),
    )
    agg = terms.groupBy("n", "npos").agg(
        F.round(F.sum("rel_t"), 6).alias("rel_s"), F.round(F.sum("res_t"), 6).alias("res_s")
    )
    rel = F.round(F.col("rel_s") / F.col("n"), 6)
    res = F.round(F.col("res_s") / F.col("n"), 6)
    unc = F.round(
        (F.col("npos") / F.col("n")) * (1 - F.col("npos") / F.col("n")), 6
    )
    return agg.select(
        "n",
        F.round(F.col("npos") / F.col("n"), 6).alias("base_rate"),
        rel.alias("reliability"),
        res.alias("resolution"),
        unc.alias("uncertainty"),
        F.round(rel - res + unc, 6).alias("brier"),
    )


@register(
    "q288_brier_decomposition",
    oracle=f"""
        WITH {_CAL_BINS_SQL},
        tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS npos
            FROM bins
        ),
        per AS (
            SELECT cnt, pos, n, npos,
                   (b + 0.5) / 20 AS f,
                   CAST(pos AS DOUBLE) / cnt AS o,
                   CAST(npos AS DOUBLE) / n AS obar
            FROM bins, tot
        ),
        terms AS (
            SELECT n, npos,
                   ROUND(cnt * (f - o) * (f - o), 6) AS rel_t,
                   ROUND(cnt * (o - obar) * (o - obar), 6) AS res_t
            FROM per
        ),
        agg AS (
            SELECT n, npos,
                   ROUND(SUM(rel_t), 6) AS rel_s, ROUND(SUM(res_t), 6) AS res_s
            FROM terms GROUP BY n, npos
        )
        SELECT n,
               ROUND(CAST(npos AS DOUBLE) / n, 6) AS base_rate,
               ROUND(rel_s / n, 6) AS reliability,
               ROUND(res_s / n, 6) AS resolution,
               ROUND((CAST(npos AS DOUBLE) / n) * (1 - CAST(npos AS DOUBLE) / n), 6)
                   AS uncertainty,
               ROUND(ROUND(rel_s / n, 6) - ROUND(res_s / n, 6)
                     + ROUND((CAST(npos AS DOUBLE) / n) * (1 - CAST(npos AS DOUBLE) / n), 6),
                     6) AS brier
        FROM agg
    """,
    doc=(
        "Murphy decomposition of the Brier score over the shared 20-bin "
        "classifier fixture (bin-center forecasts): reliability - "
        "resolution + uncertainty — calibration error, discrimination "
        "power, and outcome variance in one row. Per-bin terms snapped "
        "to 6dp before bounded sums; exact integer ratios throughout."
    ),
    tags=("curation", "eval", "calibration"),
)
def q288_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return brier_decomposition(_calibration_bins(docs), n_bins=20)


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifier columns
# ---------------------------------------------------------------------------
_KA_THRESHOLD = 10


def k_anonymity_audit(
    rows: DataFrame, qi_cols: list[str], k: int = _KA_THRESHOLD
) -> DataFrame:
    """One row ``(n_rows, n_classes, k_anonymity, rows_below_k,
    share_below_k)``: the k-anonymity of the dataset under the given
    quasi-identifier columns — the minimum equivalence-class size, plus
    how much of the corpus sits in classes smaller than ``k`` (the rows
    a release would need to suppress or generalize). The privacy audit
    run before publishing per-source statistics of a training corpus.

    ONE map-combinable aggregate to class sizes (bounded by the QI
    domain), then a bounded aggregate over classes. Pure integer counts
    except the final 6dp share.
    """
    classes = rows.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("sz"))
    return classes.agg(
        F.sum("sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("sz").cast("long").alias("k_anonymity"),
        F.sum(F.when(F.col("sz") < k, F.col("sz")).otherwise(0)).cast("long").alias(
            "rows_below_k"
        ),
    ).select(
        "n_rows",
        "n_classes",
        "k_anonymity",
        "rows_below_k",
        F.round(F.col("rows_below_k").cast("double") / F.col("n_rows"), 6).alias(
            "share_below_k"
        ),
    )


@register(
    "q293_k_anonymity_audit",
    oracle=rf"""
        WITH feats AS (
            SELECT lang, source,
                   CASE WHEN n_chars <= 128 THEN 128
                        WHEN n_chars <= 256 THEN 256
                        WHEN n_chars <= 512 THEN 512
                        WHEN n_chars <= 1024 THEN 1024
                        ELSE -1 END AS len_bucket
            FROM documents
        ),
        classes AS (
            SELECT lang, source, len_bucket, COUNT(*) AS sz
            FROM feats GROUP BY lang, source, len_bucket
        )
        SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(MIN(sz) AS BIGINT) AS k_anonymity,
               CAST(SUM(CASE WHEN sz < {_KA_THRESHOLD} THEN sz ELSE 0 END) AS BIGINT)
                   AS rows_below_k,
               ROUND(CAST(SUM(CASE WHEN sz < {_KA_THRESHOLD} THEN sz ELSE 0 END) AS DOUBLE)
                     / SUM(sz), 6) AS share_below_k
        FROM classes
    """,
    doc=(
        "k-anonymity audit under the (lang, source, length-bucket) "
        "quasi-identifiers: minimum equivalence-class size plus the row "
        "mass in classes below k=10 — what a privacy-conscious release "
        "must suppress or generalize. One map-combinable aggregate to "
        "class sizes, one bounded rollup; exact integers to one share."
    ),
    tags=("curation", "privacy", "stats"),
)
def q293_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    bucket = (
        F.when(F.col("n_chars") <= 128, 128)
        .when(F.col("n_chars") <= 256, 256)
        .when(F.col("n_chars") <= 512, 512)
        .when(F.col("n_chars") <= 1024, 1024)
        .otherwise(-1)
        .alias("len_bucket")
    )
    rows = docs.select("lang", "source", bucket)
    return k_anonymity_audit(rows, ["lang", "source", "len_bucket"], k=_KA_THRESHOLD)


# ---------------------------------------------------------------------------
# Population stability index: per-source length-distribution drift
# ---------------------------------------------------------------------------
def population_stability(
    rows: DataFrame, group_col: str, bucket_col: str
) -> DataFrame:
    """(group, psi): the Population Stability Index of each group's
    bucket distribution against the REST of the corpus — PSI =
    Σ_b (p_b − q_b)·ln(p_b/q_b) with add-1 smoothing, the standard
    "did this slice drift from the portfolio" score (rule of thumb:
    <0.1 stable, >0.25 action). Run per source before mixing a new
    crawl snapshot into the training pool.

    Shape: ONE (group, bucket) count aggregate; bucket totals broadcast
    back; per-bucket terms are smoothed integer-ratio doubles in one
    fixed-order expression, 6dp-snapped before the (bucket-bounded)
    per-group sum.
    """
    cells = rows.groupBy(group_col, bucket_col).agg(F.count(F.lit(1)).alias("c"))
    buckets = rows.select(bucket_col).distinct()
    groups = rows.select(group_col).distinct()
    full = groups.crossJoin(buckets).join(cells, [group_col, bucket_col], "left").select(
        group_col, bucket_col, F.coalesce("c", F.lit(0)).alias("c")
    )
    tot_b = full.groupBy(bucket_col).agg(F.sum("c").alias("tb"))
    tot_g = full.groupBy(group_col).agg(F.sum("c").alias("tg"))
    n_buckets = buckets.agg(F.count(F.lit(1)).alias("nb"))
    tot = full.agg(F.sum("c").alias("n"))
    j = (
        full.join(F.broadcast(tot_b), bucket_col)
        .join(F.broadcast(tot_g), group_col)
        .crossJoin(F.broadcast(n_buckets))
        .crossJoin(F.broadcast(tot))
    )
    p = (F.col("c") + 1).cast("double") / (F.col("tg") + F.col("nb"))
    q = (F.col("tb") - F.col("c") + 1).cast("double") / (
        F.col("n") - F.col("tg") + F.col("nb")
    )
    term = F.round((p - q) * F.log(p / q), 6)
    return (
        j.select(F.col(group_col), term.alias("t"))
        .groupBy(group_col)
        .agg(F.round(F.sum("t"), 6).alias("psi"))
    )


@register(
    "q294_psi_source_drift",
    oracle=r"""
        WITH feats AS (
            SELECT source,
                   CASE WHEN n_chars <= 128 THEN 128
                        WHEN n_chars <= 256 THEN 256
                        WHEN n_chars <= 512 THEN 512
                        WHEN n_chars <= 1024 THEN 1024
                        ELSE -1 END AS b
            FROM documents
        ),
        cells0 AS (SELECT source, b, COUNT(*) AS c FROM feats GROUP BY source, b),
        grid AS (
            SELECT g.source, bk.b, COALESCE(c0.c, 0) AS c
            FROM (SELECT DISTINCT source FROM feats) g
            CROSS JOIN (SELECT DISTINCT b FROM feats) bk
            LEFT JOIN cells0 c0 ON c0.source = g.source AND c0.b = bk.b
        ),
        tb AS (SELECT b, SUM(c) AS tb FROM grid GROUP BY b),
        tg AS (SELECT source, SUM(c) AS tg FROM grid GROUP BY source),
        nb AS (SELECT COUNT(*) AS nb FROM (SELECT DISTINCT b FROM feats)),
        tot AS (SELECT SUM(c) AS n FROM grid),
        terms AS (
            SELECT f.source,
                   ROUND((CAST(f.c + 1 AS DOUBLE) / (tg.tg + nb.nb)
                          - CAST(tb.tb - f.c + 1 AS DOUBLE) / (tot.n - tg.tg + nb.nb))
                         * LN((CAST(f.c + 1 AS DOUBLE) / (tg.tg + nb.nb))
                              / (CAST(tb.tb - f.c + 1 AS DOUBLE) / (tot.n - tg.tg + nb.nb))),
                         6) AS t
            FROM grid f
            JOIN tb USING (b) JOIN tg USING (source), nb, tot
        )
        SELECT source, ROUND(SUM(t), 6) AS psi
        FROM terms GROUP BY source
        ORDER BY source
    """,
    doc=(
        "Population Stability Index of each source's length distribution "
        "vs the rest of the corpus (add-1 smoothed, power-of-two "
        "buckets): the standard slice-drift score read before admitting "
        "a crawl snapshot to the mix (<0.1 stable, >0.25 action). One "
        "count aggregate + broadcast totals; 6dp-snapped terms, "
        "bucket-bounded sums."
    ),
    tags=("curation", "stats", "anomaly"),
)
def q294_psi_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    bucket = (
        F.when(F.col("n_chars") <= 128, 128)
        .when(F.col("n_chars") <= 256, 256)
        .when(F.col("n_chars") <= 512, 512)
        .when(F.col("n_chars") <= 1024, 1024)
        .otherwise(-1)
        .alias("b")
    )
    rows = docs.select("source", bucket)
    return population_stability(rows, "source", "b").orderBy("source")


# ---------------------------------------------------------------------------
# q300: corpus release gate — one row, ship/no-ship
# ---------------------------------------------------------------------------
_RG_PSI_MAX = 0.25
_RG_K_MIN = 2
_RG_DUP_MAX = 0.2


def _release_gate_oracle() -> str:
    from ai_batch_processing_spark.registry import registered_oracle

    q293 = registered_oracle("q293_k_anonymity_audit")
    q294 = registered_oracle("q294_psi_source_drift")
    q295 = registered_oracle("q295_good_turing_unseen")
    q287 = registered_oracle("q287_hill_tail_index")
    return f"""
        WITH base AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_uniq
            FROM documents
        ),
        lc AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
        ln_ AS (SELECT SUM(c) AS n FROM lc),
        ent AS (
            SELECT ROUND(SUM(ROUND(-(CAST(c AS DOUBLE) / n)
                                   * LN(CAST(c AS DOUBLE) / n), 6)), 6) AS lang_entropy
            FROM lc, ln_
        ),
        ka AS ({q293}),
        psi AS (SELECT MAX(psi) AS psi_max FROM ({q294})),
        gt AS ({q295}),
        hill AS ({q287})
        SELECT base.n_docs,
               ROUND(1.0 - CAST(base.n_uniq AS DOUBLE) / base.n_docs, 6) AS dup_share,
               ent.lang_entropy,
               ka.k_anonymity,
               ka.share_below_k,
               psi.psi_max,
               gt.p_unseen,
               hill.alpha_hill,
               (psi.psi_max <= {_RG_PSI_MAX}
                AND ka.k_anonymity >= {_RG_K_MIN}
                AND ROUND(1.0 - CAST(base.n_uniq AS DOUBLE) / base.n_docs, 6)
                    <= {_RG_DUP_MAX}) AS release_ok
        FROM base, ent, ka, psi, gt, hill
    """


@register(
    "q300_corpus_release_gate",
    oracle=_release_gate_oracle(),
    doc=(
        "the corpus RELEASE GATE: one ship/no-ship row composing the "
        "round-8 audit family — exact-duplicate share, language-mix "
        "entropy, k-anonymity + suppressed mass (q293), max per-source "
        "PSI drift (q294), Good-Turing unseen mass (q295), Hill tail "
        "index (q287) — with the boolean verdict evaluated on the SAME "
        "6dp-snapped values in both engines. Every sub-oracle rides in "
        "via registered_oracle, so the gate can never drift from the "
        "operators it audits; every component is one map-combinable "
        "aggregate or a bounded rollup."
    ),
    tags=("curation", "capstone", "quality", "verify"),
)
def q300_corpus_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.corpus import (
        good_turing_unseen,
        hill_tail_index,
    )
    from ai_batch_processing_spark.operators.text import tokens_expr

    with pin_scope() as scope:
        docs = cache(load_tables(spark, sf_dir, ["documents"])["documents"])
        base = docs.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct(F.md5("text")).cast("long").alias("n_uniq"),
        )
        lc = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
        ent = (
            lc.crossJoin(F.broadcast(lc.agg(F.sum("c").alias("n"))))
            .select(
                F.round(
                    -(F.col("c").cast("double") / F.col("n"))
                    * F.log(F.col("c").cast("double") / F.col("n")),
                    6,
                ).alias("t")
            )
            .agg(F.round(F.sum("t"), 6).alias("lang_entropy"))
        )
        bucket = (
            F.when(F.col("n_chars") <= 128, 128)
            .when(F.col("n_chars") <= 256, 256)
            .when(F.col("n_chars") <= 512, 512)
            .when(F.col("n_chars") <= 1024, 1024)
            .otherwise(-1)
        )
        ka = k_anonymity_audit(
            docs.select("lang", "source", bucket.alias("len_bucket")),
            ["lang", "source", "len_bucket"],
            k=_KA_THRESHOLD,
        ).select("k_anonymity", "share_below_k")
        psi = (
            population_stability(
                docs.select("source", bucket.alias("b")), "source", "b"
            )
            .agg(F.max("psi").alias("psi_max"))
        )
        gt = good_turing_unseen(docs).select("p_unseen")
        hill = hill_tail_index(
            docs.select("doc_id", F.size(tokens_expr("text")).cast("long").alias("v"))
        ).select("alpha_hill")
        dup_share = F.round(
            1.0 - F.col("n_uniq").cast("double") / F.col("n_docs"), 6
        ).alias("dup_share")
        out = scope.store(
            base.crossJoin(ent)
            .crossJoin(ka)
            .crossJoin(psi)
            .crossJoin(gt)
            .crossJoin(hill)
            .select(
                "n_docs",
                dup_share,
                "lang_entropy",
                "k_anonymity",
                "share_below_k",
                "psi_max",
                "p_unseen",
                "alpha_hill",
                (
                    (F.col("psi_max") <= _RG_PSI_MAX)
                    & (F.col("k_anonymity") >= _RG_K_MIN)
                    & (
                        F.round(
                            1.0 - F.col("n_uniq").cast("double") / F.col("n_docs"), 6
                        )
                        <= _RG_DUP_MAX
                    )
                ).alias("release_ok"),
            )
        )
    return out


# ---------------------------------------------------------------------------
# Blocklist phrase census: multi-pattern content filtering report
# ---------------------------------------------------------------------------
_CENSUS_BLOCKLIST = (
    "hash join",
    "slow query",
    "table scan",
    "window frame",
)


def blocklist_census(
    docs: DataFrame,
    phrases: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(phrase, n_docs, n_hits) per blocklist phrase, plus one
    ``__any__`` row (documents matching at least one phrase, total
    hits): the safety/policy filtering REPORT run before q102's
    redaction actually rewrites anything — which rules fire, how often,
    and what a hard drop would cost.

    Scale shape: the phrase list rides as a broadcast literal frame, so
    a 100 TB corpus pays ONE scan for the whole list (docs × K rows,
    map-side) — never a scan per phrase. Per-doc hit counts use the
    substring-count identity (len(t) − len(replace(t, p, ''))) / len(p)
    — exact integers, and literal phrases need no regex escaping.
    """
    spark = docs.sparkSession
    pdf = spark.createDataFrame([(p,) for p in phrases], "phrase string")
    hd = (
        docs.select(F.col(id_col).alias("did"), F.lower(F.col(text_col)).alias("t"))
        .crossJoin(F.broadcast(pdf))
        .select(
            "did",
            "phrase",
            (
                (F.length("t") - F.length(F.replace(F.col("t"), F.col("phrase"))))
                / F.length("phrase")
            )
            .cast("long")
            .alias("hits"),
        )
    )
    with pin_scope() as scope:
        hd = cache(hd)
        per = (
            hd.where(F.col("hits") > 0)
            .groupBy("phrase")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("hits").cast("long").alias("n_hits"),
            )
        )
        anyagg = (
            hd.groupBy("did")
            .agg(F.sum("hits").alias("h"))
            .agg(
                F.lit("__any__").alias("phrase"),
                F.sum(F.when(F.col("h") > 0, 1).otherwise(0)).cast("long").alias("n_docs"),
                F.sum("h").cast("long").alias("n_hits"),
            )
        )
        return scope.store(per.unionByName(anyagg).orderBy("phrase"))


@register(
    "q304_blocklist_census",
    oracle=f"""
        WITH phrases(phrase) AS (
            VALUES {", ".join("('" + p.replace("'", "''") + "')" for p in _CENSUS_BLOCKLIST)}
        ),
        hd AS (
            SELECT d.doc_id AS did, p.phrase,
                   CAST((length(lower(d.text))
                         - length(replace(lower(d.text), p.phrase, '')))
                        / length(p.phrase) AS BIGINT) AS hits
            FROM documents d CROSS JOIN phrases p
        ),
        per AS (
            SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(hits) AS BIGINT) AS n_hits
            FROM hd WHERE hits > 0 GROUP BY phrase
        ),
        anyrow AS (
            SELECT '__any__' AS phrase,
                   CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
                   CAST(SUM(h) AS BIGINT) AS n_hits
            FROM (SELECT did, SUM(hits) AS h FROM hd GROUP BY did)
        )
        SELECT * FROM per
        UNION ALL SELECT * FROM anyrow
        ORDER BY phrase
    """,
    doc=(
        "blocklist phrase census: per-phrase document and occurrence "
        "counts plus the __any__ roll-up — the policy-filter REPORT run "
        "before q102's redaction rewrites anything. One corpus scan for "
        "the WHOLE broadcast phrase list; hit counts from the exact "
        "substring-count length identity (no per-phrase scans, no regex "
        "escaping)."
    ),
    tags=("curation", "quality", "text"),
)
def q304_blocklist_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return blocklist_census(docs, _CENSUS_BLOCKLIST)


# ---------------------------------------------------------------------------
# Neyman allocation: variance-proportional stratified sampling plan
# ---------------------------------------------------------------------------
_NEYMAN_BUDGET = 200


def neyman_allocation(
    feats: DataFrame,
    stratum_col: str = "source",
    value_col: str = "v",
    budget: int = _NEYMAN_BUDGET,
) -> DataFrame:
    """(stratum, n_rows, sd_value, alloc): the Neyman-optimal sample
    allocation n_h ∝ N_h·S_h for a fixed ``budget`` — the survey-
    sampling answer to "which sources deserve sample mass" (high-
    variance strata get more; proportional allocation over-samples big
    homogeneous sources). The PLAN the deterministic samplers
    (q120/q178) then execute per stratum.

    Per-stratum stddev comes from exact integer moments in one
    map-combinable pass, is snapped to 6dp, and the weights N_h·S_h
    become exact micro-longs — so the integer allocations match across
    engines bit-for-bit (rounding residue means Σ alloc ≈ budget, the
    standard Neyman convention; exact-sum variants renormalize after).
    """
    mom = feats.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(value_col).cast("long").alias("s"),
        F.sum(F.col(value_col) * F.col(value_col)).cast("long").alias("ss"),
    )
    nd, sd_ = F.col("n").cast("double"), F.col("s").cast("double")
    sdev = F.when(
        F.col("n") >= 2,
        F.round(
            F.sqrt((nd * F.col("ss") - sd_ * F.col("s")) / (nd * (F.col("n") - 1))), 6
        ),
    ).otherwise(F.lit(0.0))
    w = mom.select(
        "stratum",
        "n",
        sdev.alias("sd"),
    ).select(
        "stratum",
        "n",
        "sd",
        F.round(F.col("n") * F.col("sd") * 1e6).cast("long").alias("wm"),
    )
    tot = w.agg(F.sum("wm").cast("long").alias("wsum"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            F.col("n").alias("n_rows"),
            F.col("sd").alias("sd_value"),
            F.when(
                F.col("wsum") > 0,
                F.round(F.lit(float(budget)) * F.col("wm") / F.col("wsum")).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("alloc"),
        )
        .orderBy("stratum")
    )


@register(
    "q305_neyman_allocation",
    oracle=rf"""
        WITH feats AS (
            SELECT source AS stratum,
                   CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS BIGINT) AS v
            FROM documents
        ),
        mom AS (
            SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss
            FROM feats GROUP BY stratum
        ),
        w AS (
            SELECT stratum, n,
                   CASE WHEN n >= 2
                        THEN ROUND(sqrt((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                                        / (CAST(n AS DOUBLE) * (n - 1))), 6)
                        ELSE 0.0 END AS sd
            FROM mom
        ),
        wm AS (
            SELECT stratum, n, sd,
                   CAST(ROUND(n * sd * 1e6) AS BIGINT) AS wm
            FROM w
        ),
        tot AS (SELECT CAST(SUM(wm) AS BIGINT) AS wsum FROM wm)
        SELECT stratum, n AS n_rows, sd AS sd_value,
               CASE WHEN wsum > 0
                    THEN CAST(ROUND({float(_NEYMAN_BUDGET)} * wm / wsum) AS BIGINT)
                    ELSE 0 END AS alloc
        FROM wm, tot
        ORDER BY stratum
    """,
    doc=(
        "Neyman-optimal stratified sampling plan over sources (budget "
        "200): n_h proportional to N_h*S_h from exact integer token-"
        "count moments, stddev 6dp-snapped, weights as micro-longs so "
        "the integer allocations hash-match — the survey-sampling PLAN "
        "the deterministic samplers (q120/q178) then execute."
    ),
    tags=("curation", "sampling", "stats"),
)
def q305_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import tokens_expr

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    feats = docs.select(
        "source", F.size(tokens_expr("text")).cast("long").alias("v")
    )
    return neyman_allocation(feats, stratum_col="source", value_col="v")


# ---------------------------------------------------------------------------
# Decision stump: one-pass optimal threshold classifier (third trainer)
# ---------------------------------------------------------------------------
def decision_stump(labeled: DataFrame) -> DataFrame:
    """One row ``(threshold, n, n_pos, err, acc, majority_acc)``: the
    optimal 1-rule classifier "predict 1 iff v > t" fit over ALL
    possible thresholds in one pass — the closed-form baseline every
    quality-classifier report should show next to the perceptron
    (q243) and Naive Bayes (q277); if the stump matches them, the
    features are one-dimensional and the models are theater.

    ``labeled`` has integer ``v`` and binary ``y``. Errors for every
    candidate threshold come from the VALUE HISTOGRAM's cumulative
    counts (err(t) = pos≤t + neg>t — the q267 bounded-histogram trick,
    never a per-row scan per threshold); t = min(v)−1 (predict all 1)
    rides as an extra candidate. Argmin on exact integers with the
    threshold as tiebreak.
    """
    h = labeled.groupBy(F.col("v").alias("t")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    tot = h.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("npos"),
        (F.min("t") - 1).alias("tmin"),
    )
    # BOUNDED window: over the distinct-value histogram
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = h.select("t", F.sum("cnt").over(w).alias("cc"), F.sum("pos").over(w).alias("cp"))
    base = tot.select(F.col("tmin").alias("t"), F.lit(0).alias("cc"), F.lit(0).alias("cp"))
    cand = cum.unionByName(base).crossJoin(F.broadcast(tot.select("n", "npos")))
    scored = cand.select(
        "t",
        "n",
        "npos",
        # err = positives at/below t (predicted 0) + negatives above t
        (F.col("cp") + (F.col("n") - F.col("npos")) - (F.col("cc") - F.col("cp")))
        .cast("long")
        .alias("err"),
    )
    return (
        scored.orderBy("err", "t")
        .limit(1)
        .select(
            F.col("t").alias("threshold"),
            "n",
            F.col("npos").alias("n_pos"),
            "err",
            F.round((F.col("n") - F.col("err")).cast("double") / F.col("n"), 6).alias(
                "acc"
            ),
            F.round(
                F.greatest(F.col("npos"), F.col("n") - F.col("npos")).cast("double")
                / F.col("n"),
                6,
            ).alias("majority_acc"),
        )
    )


@register(
    "q308_decision_stump",
    oracle=r"""
        WITH feats AS (
            SELECT CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                        x -> x <> '')) AS BIGINT) AS v,
                   CASE WHEN (doc_id * 37) % 100
                             < 20 + LEAST(60, CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                                                   x -> x <> '')) AS BIGINT) * 3 // 10)
                        THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        h AS (SELECT v AS t, COUNT(*) AS cnt, SUM(y) AS pos FROM feats GROUP BY v),
        tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS npos,
                   MIN(t) - 1 AS tmin
            FROM h
        ),
        cum AS (
            SELECT t,
                   SUM(cnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
                   SUM(pos) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
            FROM h
        ),
        cand AS (
            SELECT t, cc, cp FROM cum
            UNION ALL SELECT tmin AS t, 0 AS cc, 0 AS cp FROM tot
        ),
        scored AS (
            SELECT t, n, npos,
                   CAST(cp + (n - npos) - (cc - cp) AS BIGINT) AS err
            FROM cand, tot
        )
        SELECT t AS threshold, n, npos AS n_pos, err,
               ROUND(CAST(n - err AS DOUBLE) / n, 6) AS acc,
               ROUND(CAST(GREATEST(npos, n - npos) AS DOUBLE) / n, 6) AS majority_acc
        FROM scored
        ORDER BY err, t
        LIMIT 1
    """,
    doc=(
        "optimal decision stump (predict 1 iff tokens > t) over the "
        "shared synthetic label, fit against EVERY candidate threshold "
        "in one pass via the bounded value-histogram cumulative counts "
        "— the closed-form 1-rule baseline next to the perceptron "
        "(q243) and NB (q277) trainers; exact-integer argmin."
    ),
    tags=("curation", "training", "eval"),
)
def q308_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import tokens_expr

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    ntok = F.size(tokens_expr("text")).cast("long")
    thr = F.lit(20) + F.least(F.lit(60).cast("long"), F.floor(ntok * 3 / 10).cast("long"))
    labeled = docs.select(
        ntok.alias("v"),
        F.when((F.col("doc_id") * 37) % 100 < thr, 1).otherwise(0).alias("y"),
    )
    return decision_stump(labeled)


# ---------------------------------------------------------------------------
# Bayesian-average shrinkage of per-source rates (the small-slice fix)
# ---------------------------------------------------------------------------
_BA_PSEUDO = 50


def bayesian_average_rates(
    labeled: DataFrame, group_col: str, y_col: str = "y", pseudo: int = _BA_PSEUDO
) -> DataFrame:
    """(group, n, pos, raw_rate, shrunk_rate): each group's positive
    rate shrunk toward the corpus rate with ``pseudo`` pseudo-counts —
    shrunk = (pos + m·p̄)/(n + m), the Bayesian average every ranking
    of heterogeneous-size slices needs (a 3/3 source must not outrank
    a 900/1000 one). The q294 PSI flags WHICH slices drifted; this
    makes their quality rates COMPARABLE.

    One group aggregate + a broadcast global rate; exact integers into
    two fixed-order rounded ratios per group.
    """
    g = labeled.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y_col).cast("long").alias("pos"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("pos").cast("long").alias("pp")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.col("grp").alias(group_col),
            "n",
            "pos",
            F.round(F.col("pos").cast("double") / F.col("n"), 6).alias("raw_rate"),
            F.round(
                (F.col("pos") + F.lit(float(pseudo)) * F.col("pp") / F.col("nn"))
                / (F.col("n") + pseudo),
                6,
            ).alias("shrunk_rate"),
        )
        .orderBy(group_col)
    )


@register(
    "q314_bayesian_average_rates",
    oracle=rf"""
        WITH labeled AS (
            SELECT source,
                   CASE WHEN (doc_id * 37) % 100
                             < 20 + LEAST(60, CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                                                   x -> x <> '')) AS BIGINT) * 3 // 10)
                        THEN 1 ELSE 0 END AS y
            FROM documents
        ),
        g AS (
            SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS pos
            FROM labeled GROUP BY source
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(pos) AS BIGINT) AS pp FROM g)
        SELECT grp AS source, n, pos,
               ROUND(CAST(pos AS DOUBLE) / n, 6) AS raw_rate,
               ROUND((pos + {float(_BA_PSEUDO)} * pp / nn) / (n + {_BA_PSEUDO}), 6)
                   AS shrunk_rate
        FROM g, tot
        ORDER BY source
    """,
    doc=(
        "Bayesian-average shrinkage of per-source positive rates "
        "(pseudo-count 50 toward the corpus rate): makes quality rates "
        "of heterogeneous-size slices comparable before any ranking — "
        "the standard small-slice fix next to q294's drift flags. One "
        "group aggregate + broadcast global rate, fixed-order ratios."
    ),
    tags=("curation", "stats", "quality"),
)
def q314_bayesian_average_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import tokens_expr

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    ntok = F.size(tokens_expr("text")).cast("long")
    thr = F.lit(20) + F.least(F.lit(60).cast("long"), F.floor(ntok * 3 / 10).cast("long"))
    labeled = docs.select(
        "source", F.when((F.col("doc_id") * 37) % 100 < thr, 1).otherwise(0).alias("y")
    )
    return bayesian_average_rates(labeled, "source")


# ---------------------------------------------------------------------------
# Luhn-validated PII audit (card-number candidates that pass the checksum)
# ---------------------------------------------------------------------------
def luhn_pii_audit(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_candidates, n_luhn_valid) for documents containing
    card-shaped digit runs: every maximal 13-19-digit run is a candidate,
    and a candidate is REAL-risk only if it passes the Luhn checksum
    (ISO/IEC 7812) — the validation step production PII scanners run so
    order ids and timestamps don't flood the redaction queue q102 feeds.

    Cross-engine care: candidates are MAXIMAL digit runs (extract [0-9]+
    then filter length — RE2 has no lookbehind, so a bounded {13,19}
    pattern would mis-split longer runs); the checksum is exact integer
    arithmetic over the reversed digit string via an indexed transform.
    One projection + explode bounded by candidates-per-doc; no shuffle
    before the per-doc re-aggregate.
    """
    runs = F.filter(
        F.regexp_extract_all(F.col(text_col), F.lit("[0-9]+"), 0),
        lambda r: (F.length(r) >= 13) & (F.length(r) <= 19),
    )
    cand = docs.select(F.col(id_col), F.explode(runs).alias("run"))
    digits = F.split(F.reverse(F.col("run")), "")
    # doubled-digit digit sum via the classic 2d-9 identity (2d ≤ 18, so
    # sum-of-digits(2d) = 2d when 2d ≤ 9 else 2d − 9) — pure integers
    term = lambda c, i: F.when(  # noqa: E731
        i % 2 == 1,
        F.when(c.cast("int") * 2 > 9, c.cast("int") * 2 - 9).otherwise(c.cast("int") * 2),
    ).otherwise(c.cast("int"))
    luhn_sum = F.aggregate(
        F.transform(digits, lambda c, i: term(c, i).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    flagged = cand.select(
        id_col, F.when(luhn_sum % 10 == 0, 1).otherwise(0).alias("ok")
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum("ok").cast("long").alias("n_luhn_valid"),
        )
        .orderBy(id_col)
    )


@register(
    "q323_luhn_pii_audit",
    oracle="""
        WITH corpus AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' ref ' || lpad(CAST(doc_id * 104729 + 12345 AS VARCHAR), 16, '0')
                        ELSE text END AS text
            FROM documents
        ),
        cand AS (
            SELECT doc_id, r.run
            FROM corpus,
                 UNNEST(list_filter(regexp_extract_all(text, '[0-9]+'),
                                    x -> length(x) BETWEEN 13 AND 19)) AS r(run)
        ),
        checked AS (
            SELECT doc_id,
                   CASE WHEN list_sum(list_transform(generate_series(1, length(run)),
                        i -> CASE WHEN i % 2 = 0
                                  THEN CASE WHEN CAST(substr(reverse(run), CAST(i AS INT), 1) AS INT) * 2 > 9
                                            THEN CAST(substr(reverse(run), CAST(i AS INT), 1) AS INT) * 2 - 9
                                            ELSE CAST(substr(reverse(run), CAST(i AS INT), 1) AS INT) * 2 END
                                  ELSE CAST(substr(reverse(run), CAST(i AS INT), 1) AS INT) END
                        )) % 10 = 0 THEN 1 ELSE 0 END AS ok
            FROM cand
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(ok) AS BIGINT) AS n_luhn_valid
        FROM checked
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc=(
        "Luhn-validated PII audit on a corpus with planted card-shaped "
        "refs (every 7th doc gets a deterministic 16-digit run): maximal "
        "digit runs 13-19 long, ISO/IEC 7812 checksum via indexed "
        "transform over the reversed digits — the validation that keeps "
        "order ids out of q102's redaction queue."
    ),
    tags=("curation", "pii", "quality"),
)
def q323_luhn_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" ref "),
                F.lpad((F.col("doc_id") * 104729 + 12345).cast("string"), 16, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return luhn_pii_audit(planted)


# ---------------------------------------------------------------------------
# Cohen's kappa between two in-engine quality raters
# ---------------------------------------------------------------------------
def _kappa_oracle() -> str:
    from ai_batch_processing_spark.registry import registered_oracle

    q49 = registered_oracle("q49_quality_score")
    q319 = registered_oracle("q319_flesch_readability")
    return f"""
        WITH ra AS (
            SELECT doc_id, CASE WHEN quality_score >= 0.6 THEN 1 ELSE 0 END AS pa
            FROM ({q49})
        ),
        rb AS (
            SELECT doc_id, CASE WHEN flesch_ease >= 50.0 THEN 1 ELSE 0 END AS pb
            FROM ({q319})
        ),
        j AS (SELECT pa, pb FROM ra JOIN rb USING (doc_id)),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(pa * pb) AS BIGINT) AS n11,
                   CAST(SUM(pa * (1 - pb)) AS BIGINT) AS n10,
                   CAST(SUM((1 - pa) * pb) AS BIGINT) AS n01,
                   CAST(SUM((1 - pa) * (1 - pb)) AS BIGINT) AS n00
            FROM j
        )
        SELECT n, n11, n10, n01, n00,
               ROUND(CAST(n11 + n00 AS DOUBLE) / n, 6) AS p_observed,
               ROUND((CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                      + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                     / (CAST(n AS DOUBLE) * n), 6) AS p_expected,
               CASE WHEN CAST(n AS DOUBLE) * n
                         - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                            + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) <> 0
                    THEN ROUND((CAST(n11 + n00 AS DOUBLE) * n
                                - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                                   + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)))
                               / (CAST(n AS DOUBLE) * n
                                  - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                                     + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))), 6)
               END AS kappa
        FROM m
    """


@register(
    "q324_quality_rater_agreement",
    oracle=_kappa_oracle(),
    doc=(
        "Cohen's kappa between two independent in-engine quality raters "
        "(q49's feature score >= 0.6 vs q319's Flesch ease >= 50): the "
        "chance-corrected agreement readout that says whether two "
        "curation signals measure the SAME thing (composable rules) or "
        "different things (keep both). Confusion counts are exact "
        "integers; kappa is one fixed-order IEEE assembly, kappa = "
        "(po*n^2 - pe_num) / (n^2 - pe_num) computed on integer moments. "
        "Composed from the registered q49/q319 oracles so the raters "
        "cannot drift from their gated definitions (the q300 pattern)."
    ),
    tags=("curation", "quality", "eval"),
)
def q324_quality_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import flesch_scores, quality_features

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    ra = quality_features(docs).select(
        "doc_id", F.when(F.col("quality_score") >= 0.6, 1).otherwise(0).alias("pa")
    )
    rb = flesch_scores(docs).select(
        "doc_id", F.when(F.col("flesch_ease") >= 50.0, 1).otherwise(0).alias("pb")
    )
    j = ra.join(rb, "doc_id")
    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("pa") * F.col("pb")).cast("long").alias("n11"),
        F.sum(F.col("pa") * (1 - F.col("pb"))).cast("long").alias("n10"),
        F.sum((1 - F.col("pa")) * F.col("pb")).cast("long").alias("n01"),
        F.sum((1 - F.col("pa")) * (1 - F.col("pb"))).cast("long").alias("n00"),
    )
    nd = F.col("n").cast("double")
    pe_num = (F.col("n11") + F.col("n10")).cast("double") * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ).cast("double") * (F.col("n10") + F.col("n00"))
    return m.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round((F.col("n11") + F.col("n00")).cast("double") / F.col("n"), 6).alias("p_observed"),
        F.round(pe_num / (nd * F.col("n")), 6).alias("p_expected"),
        F.when(
            nd * F.col("n") - pe_num != 0,
            F.round(
                ((F.col("n11") + F.col("n00")).cast("double") * F.col("n") - pe_num)
                / (nd * F.col("n") - pe_num),
                6,
            ),
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Deterministic hash-sample with uniformity audit
# ---------------------------------------------------------------------------
_SAMPLE_BUCKETS = 20


def hash_sample_audit(
    docs: DataFrame,
    n_buckets: int = _SAMPLE_BUCKETS,
    id_col: str = "doc_id",
    method: str = "md5",
) -> DataFrame:
    """(bucket, n_docs, n_tokens_approx..., chisq contribution) — the
    audit behind reproducible hash sampling: bucket docs by a
    deterministic hash of their id (bucket < k ⟺ "in the k/n sample"),
    then report how UNIFORM the buckets actually are, with each bucket's
    χ² contribution (obs − exp)²/exp against the uniform expectation.
    A skewed bucket histogram means hash sampling is silently biased
    (correlated ids, bad hash) — the check run BEFORE trusting any
    "deterministic 5% sample" downstream.

    One map-side bucket projection + a k-row aggregate; the χ² pieces
    are assembled per bucket from exact counts (exp is rational: n/k
    carried as integers, contribution = (k·obs − n)² / (k·n) in one
    fixed-order IEEE step, rounded 6dp).
    """
    b = _feature_bucket(F.col(id_col).cast("string"), n_buckets, method=method)
    counts = (
        docs.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    tot = counts.agg(F.sum("n_docs").cast("long").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_docs",
            F.round(
                (F.lit(n_buckets) * F.col("n_docs") - F.col("n_total"))
                * (F.lit(n_buckets) * F.col("n_docs") - F.col("n_total"))
                / (F.lit(float(n_buckets)) * F.col("n_total")),
                6,
            ).alias("chisq_part"),
        )
        .orderBy("bucket")
    )


@register(
    "q325_hash_sample_audit",
    oracle=f"""
        WITH b AS (
            SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % {_SAMPLE_BUCKETS} AS bucket
            FROM documents
        ),
        counts AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs FROM b GROUP BY bucket),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts)
        SELECT bucket, n_docs,
               ROUND(CAST(({_SAMPLE_BUCKETS} * n_docs - n_total)
                          * ({_SAMPLE_BUCKETS} * n_docs - n_total) AS DOUBLE)
                     / ({_SAMPLE_BUCKETS}.0 * n_total), 6) AS chisq_part
        FROM counts CROSS JOIN tot
        ORDER BY bucket
    """,
    doc=(
        "reproducible-sampling uniformity audit: md5 id-buckets (the "
        "portable _feature_bucket), per-bucket doc counts and chi-square "
        "contributions vs uniform — run before trusting a deterministic "
        "hash sample. Map-side bucketing, k-row aggregate, integer-exact "
        "chi-square numerators."
    ),
    tags=("curation", "sampling", "quality"),
)
def q325_hash_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return hash_sample_audit(docs)


# ---------------------------------------------------------------------------
# Curation attrition funnel (why did the corpus shrink?)
# ---------------------------------------------------------------------------
def curation_attrition(docs: DataFrame) -> DataFrame:
    """(stage, n_reaching, n_dropped, drop_pct) for the ordered filter
    chain min-tokens → alpha-ratio → readability → quality-score, plus a
    ``z_survived`` row — the attrition report that answers "why did my
    corpus shrink 40%" BEFORE anyone re-runs the pipeline with logging
    bolted on. Each document is charged to the FIRST stage it fails
    (stages are cheap projections, so one pass computes every verdict).

    Scale shape: one Catalyst projection per doc → a ≤5-row first-fail
    histogram; the funnel's cumulative "reaching" counts are a window
    over that histogram. BOUNDED window: 5 stage rows, never corpus-
    sized. Thresholds mirror q49/q319's gated definitions.
    """
    from ai_batch_processing_spark.operators.text import flesch_scores, quality_features

    qf = quality_features(docs).select("doc_id", "n_tokens", "alpha_ratio", "quality_score")
    fl = flesch_scores(docs).select("doc_id", "flesch_ease")
    j = qf.join(fl, "doc_id")
    first_fail = (
        F.when(F.col("n_tokens") < 40, "a_min_tokens")
        .when(F.col("alpha_ratio") < 0.6, "b_alpha_ratio")
        .when(F.col("flesch_ease") < 30.0, "c_readability")
        .when(F.col("quality_score") < 0.6, "d_quality_score")
        .otherwise("z_survived")
    )
    h = j.select(first_fail.alias("stage")).groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_dropped")
    )
    tot = h.agg(F.sum("n_dropped").cast("long").alias("n_total"))
    # BOUNDED window: over the <=5-row stage histogram
    w = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, -1)
    funnel = (
        h.crossJoin(F.broadcast(tot))
        .select(
            "stage",
            (F.col("n_total") - F.coalesce(F.sum("n_dropped").over(w), F.lit(0)))
            .cast("long")
            .alias("n_reaching"),
            F.when(F.col("stage") == "z_survived", F.lit(0).cast("long"))
            .otherwise(F.col("n_dropped"))
            .alias("n_dropped"),
        )
        .select(
            "stage",
            "n_reaching",
            "n_dropped",
            F.round(F.col("n_dropped") / F.col("n_reaching").cast("double"), 6).alias("drop_pct"),
        )
    )
    return funnel.orderBy("stage")


def _attrition_oracle() -> str:
    from ai_batch_processing_spark.registry import registered_oracle

    q49 = registered_oracle("q49_quality_score")
    q319 = registered_oracle("q319_flesch_readability")
    return f"""
        WITH qf AS (SELECT doc_id, n_tokens, alpha_ratio, quality_score FROM ({q49})),
        fl AS (SELECT doc_id, flesch_ease FROM ({q319})),
        j AS (SELECT qf.*, fl.flesch_ease FROM qf JOIN fl USING (doc_id)),
        ff AS (
            SELECT CASE WHEN n_tokens < 40 THEN 'a_min_tokens'
                        WHEN alpha_ratio < 0.6 THEN 'b_alpha_ratio'
                        WHEN flesch_ease < 30.0 THEN 'c_readability'
                        WHEN quality_score < 0.6 THEN 'd_quality_score'
                        ELSE 'z_survived' END AS stage
            FROM j
        ),
        h AS (SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_dropped FROM ff GROUP BY stage),
        tot AS (SELECT CAST(SUM(n_dropped) AS BIGINT) AS n_total FROM h),
        funnel AS (
            SELECT stage,
                   CAST(n_total - COALESCE(SUM(n_dropped) OVER (ORDER BY stage
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_reaching,
                   CAST(CASE WHEN stage = 'z_survived' THEN 0 ELSE n_dropped END AS BIGINT) AS n_dropped
            FROM h CROSS JOIN tot
        )
        SELECT stage, n_reaching, n_dropped,
               ROUND(n_dropped / CAST(n_reaching AS DOUBLE), 6) AS drop_pct
        FROM funnel
        ORDER BY stage
    """


@register(
    "q327_curation_attrition",
    oracle=_attrition_oracle(),
    doc=(
        "curation attrition funnel: each doc charged to the FIRST filter "
        "it fails (min-tokens -> alpha -> readability -> quality), "
        "per-stage reaching/dropped/drop-rate plus the survivor row — "
        "one projection pass, a <=5-row histogram, a bounded funnel "
        "window. Thresholds composed from the gated q49/q319 oracles."
    ),
    tags=("curation", "quality", "report"),
)
def q327_curation_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return curation_attrition(docs)


# ---------------------------------------------------------------------------
# Simpson's-paradox audit: pooled vs stratified pass-rate comparisons
# ---------------------------------------------------------------------------
def simpsons_audit(docs: DataFrame, n_bands: int = 5, band_width: int = 200) -> DataFrame:
    """(source, n_docs, pass_ppm, rest_pass_ppm, pooled_better, bands_better,
    bands_worse, simpson_flag): for every source, compare its quality
    pass rate against the rest of the corpus BOTH pooled and within
    document-length bands — and flag the sources whose pooled comparison
    points the opposite way from every length band it appears in
    (Simpson 1951). The audit that runs before anyone reads a per-slice
    quality league table: a source of mostly-short documents can "beat"
    the corpus pooled while losing inside every band.

    "Pass" is the exact integer test 10·alpha_chars >= 8·n_chars (the
    80% alpha-ratio rule, no float division); bands are
    ``min(n_chars div band_width, n_bands-1)``. Everything downstream of
    the one corpus scan is arithmetic over the bounded (source x band)
    grid, and every rate comparison is cross-multiplied integers — no
    division until the final ppm display columns, so both engines pick
    identical signs at any corpus size. A single-source corpus has no
    "rest" to compare against: ``rest_pass_ppm`` is an explicit NULL
    (guarded, not a silent division-by-zero) and ``pooled_better`` is 0.
    """
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    cell = (
        docs.select(
            "source",
            F.least(F.floor(F.length("text") / band_width), F.lit(n_bands - 1))
            .cast("long")
            .alias("band"),
            (10 * alpha >= 8 * F.length("text")).cast("long").alias("p"),
        )
        .groupBy("source", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("p").alias("k"))
    )
    band_tot = cell.groupBy("band").agg(
        F.sum("n").alias("bn"), F.sum("k").alias("bk")
    )
    src_tot = cell.groupBy("source").agg(F.sum("n").alias("sn"), F.sum("k").alias("sk"))
    all_tot = cell.agg(F.sum("n").alias("tn"), F.sum("k").alias("tk"))
    # per-(source, band) sign of src-vs-rest via cross-multiplication
    banded = (
        cell.join(F.broadcast(band_tot), "band")
        .select(
            "source",
            (F.col("k") * (F.col("bn") - F.col("n")) > (F.col("bk") - F.col("k")) * F.col("n"))
            .cast("long")
            .alias("better"),
            (F.col("k") * (F.col("bn") - F.col("n")) < (F.col("bk") - F.col("k")) * F.col("n"))
            .cast("long")
            .alias("worse"),
            ((F.col("bn") - F.col("n")) > 0).cast("long").alias("valid"),
        )
        .groupBy("source")
        .agg(
            F.sum(F.col("better") * F.col("valid")).alias("bands_better"),
            F.sum(F.col("worse") * F.col("valid")).alias("bands_worse"),
        )
    )
    pooled = src_tot.crossJoin(F.broadcast(all_tot)).select(
        "source",
        F.col("sn").alias("n_docs"),
        F.expr("CAST(sk * 1000000 DIV sn AS BIGINT)").alias("pass_ppm"),
        # single-source corpus ⇒ "rest" is empty (tn == sn): surface an
        # explicit NULL instead of a silent integer-division-by-zero null
        F.expr(
            "CASE WHEN tn > sn THEN CAST((tk - sk) * 1000000 DIV (tn - sn) AS BIGINT) END"
        ).alias("rest_pass_ppm"),
        F.when(F.col("sk") * (F.col("tn") - F.col("sn")) > (F.col("tk") - F.col("sk")) * F.col("sn"), 1)
        .when(F.col("sk") * (F.col("tn") - F.col("sn")) < (F.col("tk") - F.col("sk")) * F.col("sn"), -1)
        .otherwise(0)
        .cast("long")
        .alias("pooled_better"),
    )
    out = pooled.join(banded, "source").withColumn(
        "simpson_flag",
        (
            ((F.col("pooled_better") == 1) & (F.col("bands_better") == 0) & (F.col("bands_worse") > 0))
            | ((F.col("pooled_better") == -1) & (F.col("bands_worse") == 0) & (F.col("bands_better") > 0))
        ).cast("long"),
    )
    return out.select(
        "source", "n_docs", "pass_ppm", "rest_pass_ppm",
        "pooled_better", "bands_better", "bands_worse", "simpson_flag",
    )


@register(
    "q333_simpsons_audit",
    oracle="""
        WITH cell AS (
            SELECT source,
                   LEAST(CAST(FLOOR(length(text) / 200) AS BIGINT), 4) AS band,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN 10 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                      >= 8 * length(text) THEN 1 ELSE 0 END) AS BIGINT) AS k
            FROM documents GROUP BY 1, 2
        ),
        band_tot AS (SELECT band, SUM(n) AS bn, SUM(k) AS bk FROM cell GROUP BY band),
        src_tot AS (SELECT source, SUM(n) AS sn, SUM(k) AS sk FROM cell GROUP BY source),
        all_tot AS (SELECT SUM(n) AS tn, SUM(k) AS tk FROM cell),
        banded AS (
            SELECT c.source,
                   CAST(SUM(CASE WHEN (b.bn - c.n) > 0 AND c.k * (b.bn - c.n) > (b.bk - c.k) * c.n
                                 THEN 1 ELSE 0 END) AS BIGINT) AS bands_better,
                   CAST(SUM(CASE WHEN (b.bn - c.n) > 0 AND c.k * (b.bn - c.n) < (b.bk - c.k) * c.n
                                 THEN 1 ELSE 0 END) AS BIGINT) AS bands_worse
            FROM cell c JOIN band_tot b USING (band)
            GROUP BY c.source
        ),
        pooled AS (
            SELECT s.source,
                   CAST(s.sn AS BIGINT) AS n_docs,
                   CAST(s.sk * 1000000 // s.sn AS BIGINT) AS pass_ppm,
                   CASE WHEN a.tn > s.sn
                        THEN CAST((a.tk - s.sk) * 1000000 // (a.tn - s.sn) AS BIGINT)
                   END AS rest_pass_ppm,
                   CAST(CASE WHEN s.sk * (a.tn - s.sn) > (a.tk - s.sk) * s.sn THEN 1
                             WHEN s.sk * (a.tn - s.sn) < (a.tk - s.sk) * s.sn THEN -1
                             ELSE 0 END AS BIGINT) AS pooled_better
            FROM src_tot s CROSS JOIN all_tot a
        )
        SELECT p.source, p.n_docs, p.pass_ppm, p.rest_pass_ppm, p.pooled_better,
               b.bands_better, b.bands_worse,
               CAST(CASE WHEN (p.pooled_better = 1 AND b.bands_better = 0 AND b.bands_worse > 0)
                           OR (p.pooled_better = -1 AND b.bands_worse = 0 AND b.bands_better > 0)
                         THEN 1 ELSE 0 END AS BIGINT) AS simpson_flag
        FROM pooled p JOIN banded b USING (source)
        ORDER BY p.source
    """,
    doc=(
        "Simpson's-paradox audit of per-source quality pass rates: pooled "
        "src-vs-rest comparison AND the same comparison inside every "
        "document-length band, flagging sources whose pooled sign "
        "contradicts all their band signs. Cross-multiplied integer rate "
        "comparisons (no division before the display columns); one scan "
        "into a bounded source x band grid."
    ),
    tags=("curation", "quality", "stats", "audit"),
)
def q333_simpsons_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return simpsons_audit(docs).orderBy("source")


# ---------------------------------------------------------------------------
# Split-leakage audit: duplicate clusters straddling train/test folds
# ---------------------------------------------------------------------------
def split_leakage_audit(
    corpus: DataFrame, n_folds: int = 5, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """One summary row (n_docs, n_clusters, n_multi_clusters,
    n_leaked_clusters, n_leaked_docs, leaked_doc_ppm): how much exact-dup
    content straddles fold boundaries when folds are assigned by id hash —
    the eval-integrity check that catches "the test set is in the train
    set" BEFORE a model card reports inflated held-out numbers (Lee et al.
    2022 measure the same leak class for C4/Wiki40B).

    Folds use the portable md5 id-bucket (q109/q325 convention) so both
    engines assign identically; clusters are the normalized-content md5
    (:func:`fingerprint_expr`). A cluster leaks iff it spans ≥ 2 distinct
    folds, detected with the order-free min≠max idiom — no distinct-count
    and nothing wider than (fp, fold extremes, count) ever shuffles; the
    whole audit is one fingerprint scan plus a cluster-sized aggregate.
    """
    from ai_batch_processing_spark.operators.text import fingerprint_expr

    fold = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % F.lit(n_folds)
    rows = corpus.select(
        fingerprint_expr(text_col).alias("fp"), fold.alias("fold")
    )
    clusters = rows.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.min("fold").alias("f_lo"),
        F.max("fold").alias("f_hi"),
    )
    leaked = (F.col("f_lo") != F.col("f_hi")).cast("long")
    multi = (F.col("c") > 1).cast("long")
    return clusters.agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(multi).alias("n_multi_clusters"),
        F.sum(leaked).alias("n_leaked_clusters"),
        F.sum(F.col("c") * leaked).alias("n_leaked_docs"),
    ).select(
        "n_docs",
        "n_clusters",
        "n_multi_clusters",
        "n_leaked_clusters",
        "n_leaked_docs",
        F.expr("CAST(n_leaked_docs * 1000000 DIV n_docs AS BIGINT)").alias("leaked_doc_ppm"),
    )


@register(
    "q335_split_leakage_audit",
    oracle="""
        WITH corpus AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id % 3 = 0
        ),
        rows_ AS (
            SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
                   CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold
            FROM corpus
        ),
        clusters AS (
            SELECT fp, CAST(COUNT(*) AS BIGINT) AS c,
                   MIN(fold) AS f_lo, MAX(fold) AS f_hi
            FROM rows_ GROUP BY fp
        ),
        agg AS (
            SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_clusters,
                   CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_clusters,
                   CAST(SUM(CASE WHEN f_lo <> f_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_clusters,
                   CAST(SUM(CASE WHEN f_lo <> f_hi THEN c ELSE 0 END) AS BIGINT) AS n_leaked_docs
            FROM clusters
        )
        SELECT n_docs, n_clusters, n_multi_clusters, n_leaked_clusters, n_leaked_docs,
               CAST(n_leaked_docs * 1000000 // n_docs AS BIGINT) AS leaked_doc_ppm
        FROM agg
    """,
    doc=(
        "split-leakage audit over the planted-dup corpus (q40's scenario): "
        "md5 id-hash fold assignment x normalized-content dup clusters; "
        "clusters spanning >= 2 folds detected via the order-free min!=max "
        "idiom — the 'test set is in the train set' tripwire, one "
        "fingerprint scan + a cluster-sized aggregate."
    ),
    tags=("curation", "splits", "dedup", "audit"),
)
def q335_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.dedup import _dup_corpus_one_scan

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return split_leakage_audit(_dup_corpus_one_scan(docs))


# ---------------------------------------------------------------------------
# Rank-blend score ensemble: average-of-ranks without a global row sort
# ---------------------------------------------------------------------------
def rank_blend_top_docs(
    scored: DataFrame, score_cols: list[str], top_k: int = 20, id_col: str = "doc_id"
) -> DataFrame:
    """(rnk, doc_id, r_<score>..., rank_sum): the ensemble selection that
    blends incommensurable quality signals on the RANK scale (Borda
    count): each document gets its min-rank (1 = best = highest value)
    under every score, ranks are summed, lowest sum wins. Rank blending
    is the standard fix when score scales disagree (an 0-1 ratio vs a
    0-100 readability index) — z-scoring needs moments that outliers
    poison, ranks don't.

    Sort-free ranks at any scale: scores are decimal-snapped upstream
    (4-6dp at the gated call sites), so the rank of value v is
    ``n_better(v) + 1`` read off the bounded (value, count) histogram's
    descending cumulative — the corpus joins the vocab-sized histogram
    (AQE-broadcast) instead of flowing through one global rank window.
    Integer rank sums hash-match across engines; the final top-k is
    orderBy+limit (TakeOrderedAndProject). ``scored`` is persisted for
    the loop (each score column reads it once for its histogram and once
    for the join-back; without the cache the expensive upstream lineage —
    q336's flesch scan — recomputes per score) and released once the
    result is stored (``scope.store``), so nothing stays in session
    storage.
    """
    with pin_scope() as scope:
        scored = cache(scored)
        out = scored
        for s in score_cols:
            h = scored.groupBy(s).agg(F.count(F.lit(1)).cast("long").alias("_c"))
            w = (
                Window.partitionBy(F.lit(0))
                .orderBy(F.col(s).desc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            # bounded window: runs over the distinct-value histogram, not rows
            ranks = h.withColumn("_cum", F.sum("_c").over(w)).select(
                s, (F.col("_cum") - F.col("_c") + 1).alias(f"r_{s}")
            )
            out = out.join(ranks, s)
        import functools

        rank_sum = functools.reduce(lambda a, b: a + b, [F.col(f"r_{s}") for s in score_cols])
        ranked = out.select(id_col, *[f"r_{s}" for s in score_cols], rank_sum.alias("rank_sum"))
        w_rnk = Window.partitionBy(F.lit(0)).orderBy("rank_sum", id_col)
        return scope.store(
            ranked.orderBy("rank_sum", id_col)
            .limit(top_k)
            .withColumn("rnk", F.row_number().over(w_rnk).cast("long"))
            .select("rnk", id_col, *[f"r_{s}" for s in score_cols], "rank_sum")
        )


def _rank_blend_oracle() -> str:
    from ai_batch_processing_spark.registry import registered_oracle

    q319 = registered_oracle("q319_flesch_readability")
    return f"""
        WITH fl AS ({q319}),
        scored AS (
            SELECT d.doc_id,
                   ROUND(CASE WHEN length(d.text) > 0
                         THEN length(regexp_replace(d.text, '[^A-Za-z]', '', 'g'))
                              * 1.0 / length(d.text)
                         ELSE 0.0 END, 6) AS s_alpha,
                   fl.flesch_ease AS s_flesch
            FROM documents d JOIN fl ON d.doc_id = fl.doc_id
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM scored),
        h1 AS (
            SELECT s_alpha, CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY s_alpha
        ),
        r1 AS (
            SELECT s_alpha,
                   CAST(SUM(c) OVER (ORDER BY s_alpha DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS BIGINT) AS r_s_alpha
            FROM h1
        ),
        h2 AS (
            SELECT s_flesch, CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY s_flesch
        ),
        r2 AS (
            SELECT s_flesch,
                   CAST(SUM(c) OVER (ORDER BY s_flesch DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS BIGINT) AS r_s_flesch
            FROM h2
        ),
        blended AS (
            SELECT s.doc_id, r1.r_s_alpha, r2.r_s_flesch,
                   r1.r_s_alpha + r2.r_s_flesch AS rank_sum
            FROM scored s JOIN r1 USING (s_alpha) JOIN r2 USING (s_flesch)
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY rank_sum, doc_id) AS BIGINT) AS rnk,
               doc_id, r_s_alpha, r_s_flesch, rank_sum
        FROM blended
        ORDER BY rank_sum, doc_id
        LIMIT 20
    """


@register(
    "q336_rank_blend_top_docs",
    oracle=_rank_blend_oracle(),
    doc=(
        "Borda rank-blend ensemble of two quality signals (alpha ratio + "
        "q319 Flesch ease, composed from its registered oracle): per-doc "
        "min-ranks read off bounded 6dp-value histograms (descending "
        "cumulative counts, no global rank window), integer rank sums, "
        "top-20 via TakeOrderedAndProject. The scale-free way to combine "
        "incommensurable curation scores."
    ),
    tags=("curation", "quality", "ranking"),
)
def q336_rank_blend_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import flesch_scores

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    s1 = F.round(
        F.when(F.length("text") > 0, alpha * 1.0 / F.length("text")).otherwise(0.0), 6
    )
    scored = docs.select("doc_id", s1.alias("s_alpha")).join(
        flesch_scores(docs).select("doc_id", F.col("flesch_ease").alias("s_flesch")),
        "doc_id",
    )
    return rank_blend_top_docs(scored, ["s_alpha", "s_flesch"], top_k=20)


# ---------------------------------------------------------------------------
# Krippendorff's alpha (binary, missing-tolerant rater agreement)
# ---------------------------------------------------------------------------
def krippendorff_alpha_binary(
    ratings: DataFrame, unit_col: str = "unit", value_col: str = "value"
) -> DataFrame:
    """One row ``(n_units, n_ratings, n_ones, n_zeros, alpha)``:
    Krippendorff's alpha for binary ratings with MISSING data — the
    agreement statistic that kappa cannot provide (Cohen q324 needs
    exactly two raters, Fleiss q238 a constant rater count per unit;
    alpha admits any number of raters per unit and drops nothing).

    Krippendorff (2004) coincidence-matrix form, binary collapse: a unit
    with m ratings, x of them 1, contributes 2·x·(m−x)/(m−1) disagreeing
    ordered pairs to the coincidence matrix; with margins n₁ = Σx,
    n₀ = n − n₁ over PAIRABLE units (m ≥ 2; singleton units carry no
    agreement information and are excluded, per the definition):
    alpha = 1 − D_o·(n−1)/(2·n₁·n₀). Unit terms are 1e-6-snapped longs
    exactly summed (the q330 convention — exactly integer when
    m ∈ {2,3}, snapped beyond); the margin product runs in DECIMAL
    (~1e24 at 100 TB) then one IEEE division. Unanimous corpora
    (n₁ = 0 or n₀ = 0) have zero expected disagreement — explicit NULL.
    Cost shape: one unit-keyed aggregate; everything after is one row.
    """
    dec = "decimal(38,0)"
    per_u = ratings.groupBy(F.col(unit_col).alias("u")).agg(
        F.count(F.lit(1)).alias("m"), F.sum(F.col(value_col).cast("long")).alias("x")
    ).filter(F.col("m") >= 2)
    do_term = (
        2.0 * F.col("x").cast("double") * (F.col("m") - F.col("x")).cast("double")
    ) / (F.col("m") - 1).cast("double")
    agg = per_u.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("m").cast("long").alias("n_ratings"),
        F.sum("x").cast("long").alias("n_ones"),
        F.sum(F.round(do_term * 1e6).cast("long")).alias("_do_micro"),
    )
    n = F.col("n_ratings")
    n1 = F.col("n_ones")
    n0 = (n - n1).cast("long")
    de2 = (n1.cast(dec) * n0.cast(dec)).cast(dec).cast("double") * 2.0
    return agg.select(
        "n_units",
        "n_ratings",
        "n_ones",
        n0.alias("n_zeros"),
        F.when(
            (n1 > 0) & (n0 > 0),
            F.round(
                1.0 - (F.col("_do_micro") / 1e6) * (n - 1).cast("double") / de2, 6
            ),
        ).otherwise(None).alias("alpha"),
    )


@register(
    "q343_krippendorff_alpha",
    oracle="""
        WITH feats AS (
            SELECT doc_id, length(text) AS nc,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS na,
                   len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS nt,
                   length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g')) AS wc
            FROM documents
        ),
        ratings AS (
            SELECT doc_id AS u,
                   CASE WHEN nc > 0 AND na * 1.0 / nc >= 0.75 THEN 1 ELSE 0 END AS v
            FROM feats
            UNION ALL
            SELECT doc_id, CASE WHEN nt BETWEEN 20 AND 5000 THEN 1 ELSE 0 END
            FROM feats
            UNION ALL
            SELECT doc_id,
                   CASE WHEN wc * 1.0 / nt BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END
            FROM feats WHERE nt >= 30
        ),
        per_u AS (
            SELECT u, COUNT(*) AS m, SUM(v) AS x
            FROM ratings GROUP BY u HAVING COUNT(*) >= 2
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
                   CAST(SUM(m) AS BIGINT) AS n_ratings,
                   CAST(SUM(x) AS BIGINT) AS n_ones,
                   SUM(CAST(ROUND(2.0 * x * (m - x) / (m - 1) * 1e6) AS BIGINT)) AS do_micro
            FROM per_u
        )
        SELECT n_units, n_ratings, n_ones,
               n_ratings - n_ones AS n_zeros,
               CASE WHEN n_ones > 0 AND n_ratings - n_ones > 0
                    THEN ROUND(1.0 - (do_micro / 1e6) * (n_ratings - 1)
                               / (2.0 * CAST(CAST(n_ones AS DECIMAL(38,0))
                                             * (n_ratings - n_ones) AS DOUBLE)), 6)
                    ELSE NULL END AS alpha
        FROM agg
    """,
    doc=(
        "Krippendorff's alpha over three in-engine binary quality raters "
        "(alpha-ratio, length-window, mean-word-length — the third "
        "ABSTAINS on sub-30-token docs, the missing-data case kappa and "
        "Fleiss cannot handle): coincidence-matrix binary collapse, "
        "snapped exact unit terms, decimal margins."
    ),
    tags=("curation", "quality", "eval"),
)
def q343_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.text import token_count_ws

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    text = F.col("text")
    nc = F.length(text)
    na = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    nt = token_count_ws(text).cast("long")
    # word chars via the translate equivalence established in gopher_rules
    wc = F.length(F.translate(text, " \t\n\x0b\f\r", ""))
    feats = docs.select(
        "doc_id", nc.alias("nc"), na.alias("na"), nt.alias("nt"), wc.alias("wc")
    )
    r1 = feats.select(
        F.col("doc_id").alias("unit"),
        F.when((F.col("nc") > 0) & (F.col("na") * 1.0 / F.col("nc") >= 0.75), 1)
        .otherwise(0)
        .alias("value"),
    )
    r2 = feats.select(
        F.col("doc_id").alias("unit"),
        F.when(F.col("nt").between(20, 5000), 1).otherwise(0).alias("value"),
    )
    r3 = feats.filter(F.col("nt") >= 30).select(
        F.col("doc_id").alias("unit"),
        F.when((F.col("wc") * 1.0 / F.col("nt")).between(3.0, 10.0), 1)
        .otherwise(0)
        .alias("value"),
    )
    return krippendorff_alpha_binary(r1.unionAll(r2).unionAll(r3))
