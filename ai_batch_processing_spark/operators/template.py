"""Prompt-template projection + row-index bookkeeping.

Reference semantics (Mazhar31/AI-Batch-Processing, main.py:372-377
``build_prompt``): every ``{col}`` placeholder is substituted with the row's
stringified value; placeholders that name no column stay verbatim.

The reference does a *sequential* ``str.replace`` per column, which can
re-substitute placeholder-looking text injected by an earlier value. This
engine implements the declarative single-pass semantics instead (each
placeholder resolved against the original row exactly once) — same result
for every sane template, no injection surprise, and expressible as a pure
Catalyst ``concat`` that stays inside whole-stage codegen (no UDF).

Row-index bookkeeping mirrors main.py:366-369 ``_row_index`` (order
restoration at export, main.py:697).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ai_batch_processing_spark.jobs import pin
from ai_batch_processing_spark.registry import register

ROW_INDEX_COL = "_row_index"

# Reference header charset is [A-Za-z0-9_] (main.py:265-267).
_PLACEHOLDER = re.compile(r"\{([A-Za-z0-9_]+)\}")


def template_expr(template: str, columns: list[str]) -> Column:
    """Compile ``template`` into a single Catalyst concat expression.

    Known columns are stringified (null → ``''``); unknown placeholders are
    left verbatim (main.py:372-377 parity). Pure JVM expression — this is
    the fast path that replaces the reference's per-row Python loop.
    """
    colset = set(columns)
    parts: list[Column] = []
    pos = 0
    for m in _PLACEHOLDER.finditer(template):
        if m.group(1) not in colset:
            continue  # unknown placeholder: stays literal text
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        parts.append(F.coalesce(F.col(m.group(1)).cast("string"), F.lit("")))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*parts)


def render_template(df: DataFrame, template: str, out_col: str = "prompt") -> DataFrame:
    """Add ``out_col`` = the rendered prompt for each row."""
    return df.withColumn(out_col, template_expr(template, df.columns))


def partition_offsets(numbered: DataFrame, value: Column, group_cols: list[str] | None = None) -> DataFrame:
    """Add ``_off`` to every row of ``numbered``: the sum of ``value`` over
    the rows of all earlier physical partitions (of the row's
    ``group_cols`` group, if any). ``numbered`` carries each row's
    partition id in ``_pid``.

    This is the offsets step shared by :func:`with_row_index` and
    ``curation.grouped_prefix_sum``: totals per ``_pid`` (and group), an
    exclusive running sum over ``_pid``, then a broadcast join back onto
    the data. Only the ≤ n_partitions × n_groups totals ever pass through
    one reducer, never the data.

    ``numbered`` is pinned once (``jobs.pin``) and the totals come from
    that frame's own ``_pid`` column. Two readers of the same range
    exchange are not safe: column pruning makes them differ, so Catalyst
    plans two range exchanges, and ``RangePartitioner`` seeds its sample
    with the RDD id — once the input outgrows the sample the two exchanges
    cut at different bounds and partitions receive another partition's
    offset. Inside a ``JobRegistry`` job or an LLM stream micro-batch the
    pin is released when the job or batch ends; elsewhere ContextCleaner
    reclaims it once the frame is unreachable.
    """
    keys = ["_pid", *(group_cols or [])]
    pinned = pin(numbered)
    totals = pinned.groupBy(*keys).agg(F.sum(value).alias("_tot"))
    # ungrouped: a constant partition key gives the same single-partition
    # execution over the ≤n_partitions rows without WindowExec's all-data
    # warning (the data never takes this path)
    w_off = (
        Window.partitionBy(*(group_cols or [F.lit(0)]))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(*keys, F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off"))
    return pinned.join(F.broadcast(offsets), keys)


def _range_numbered(df: DataFrame, order_by: list[str]) -> DataFrame:
    """Range-partition ``df`` on ``order_by`` and number the rows of each
    partition in key order: ``_pid`` (partition) and ``_rn`` (0-based)."""
    from ai_batch_processing_spark.session import shuffle_partitions

    keys = [F.col(c) for c in order_by]
    n = shuffle_partitions(df.sparkSession)
    # In-partition position WITHOUT a window: a Window.partitionBy(_pid)
    # cannot see that _pid is partition-constant, so it inserted a SECOND
    # full Exchange (hashpartitioning(_pid), ENSURE_REQUIREMENTS) — the
    # whole payload (for q30/q34, every document's text) crossed the
    # network twice (guide §2.4: remove shuffles outright). Instead: local
    # sort (no exchange), then monotonically_increasing_id, whose documented
    # layout is (partition index << 33) | record-number-within-partition —
    # rows are numbered in sorted partition order because the id is
    # non-deterministic and Catalyst never reorders it past the Sort.
    ranged = (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    return (
        ranged.withColumn("_pid", F.shiftright("_mid", 33).cast("int"))
        .withColumn("_rn", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
        .drop("_mid")
    )


def with_row_index(df: DataFrame, order_by: list[str] | None = None, col: str = ROW_INDEX_COL) -> DataFrame:
    """Attach a 0-based row index (main.py:366-369 parity).

    With ``order_by``: contiguous global index over that ordering WITHOUT a
    single-reducer sort. Range-partition on the keys (distributed sort),
    number rows within each partition, then add each partition's
    cumulative offset (:func:`partition_offsets`).

    Without ``order_by``: ``monotonically_increasing_id()`` — distributed,
    no shuffle; ids are non-contiguous but strictly increasing in dataset
    order (partition index in the high bits), which is exactly what
    order-restoring export needs.
    """
    if not order_by:
        return df.withColumn(col, F.monotonically_increasing_id())
    return (
        partition_offsets(_range_numbered(df, order_by), F.lit(1))
        .withColumn(col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


@register(
    "q30_template_render",
    oracle="""
        WITH indexed AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_index
            FROM documents
        )
        SELECT
            row_index,
            doc_id,
            '[' || COALESCE(CAST(lang AS VARCHAR), '') || '] doc '
                || COALESCE(CAST(doc_id AS VARCHAR), '')
                || ' ({missing_col}): '
                || COALESCE(CAST(text AS VARCHAR), '') AS prompt
        FROM indexed
        ORDER BY row_index
    """,
    doc="build_prompt parity (main.py:372-377): substitution + verbatim unknown placeholder, plus _row_index bookkeeping (main.py:366-369).",
    tags=("reference", "template"),
)
def q30_template_render(spark, sf_dir):
    from ai_batch_processing_spark.session import load_tables

    t = load_tables(spark, sf_dir, ["documents"])
    df = with_row_index(t["documents"], order_by=["doc_id"])
    df = render_template(df, "[{lang}] doc {doc_id} ({missing_col}): {text}")
    return df.select(F.col(ROW_INDEX_COL).alias("row_index"), "doc_id", "prompt").orderBy("row_index")
