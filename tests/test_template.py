"""Template projection semantics (main.py:372-377 parity, SURVEY.md P1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_batch_processing_spark.operators.template import (
    _range_numbered,
    render_template,
    template_expr,
    with_row_index,
)


def _df(spark):
    return spark.createDataFrame(
        [("AI", "Students", None), ("Spark", "Engineers", "x")],
        "topic string, audience string, note string",
    )


def test_basic_substitution(spark):
    out = render_template(_df(spark), "Write about {topic} for {audience}.").collect()
    assert out[0].prompt == "Write about AI for Students."
    assert out[1].prompt == "Write about Spark for Engineers."


def test_unknown_placeholder_stays_verbatim(spark):
    out = render_template(_df(spark), "{topic} and {missing} end").collect()
    assert out[0].prompt == "AI and {missing} end"


def test_null_value_renders_empty(spark):
    out = render_template(_df(spark), "note=[{note}]").collect()
    assert out[0].prompt == "note=[]"
    assert out[1].prompt == "note=[x]"


def test_adjacent_placeholders_and_repeats(spark):
    out = render_template(_df(spark), "{topic}{topic}|{audience}").collect()
    assert out[0].prompt == "AIAI|Students"


def test_no_placeholders(spark):
    out = render_template(_df(spark), "constant").collect()
    assert all(r.prompt == "constant" for r in out)


def test_empty_template(spark):
    out = render_template(_df(spark), "").collect()
    assert all(r.prompt == "" for r in out)


def test_numeric_values_stringified(spark):
    df = spark.createDataFrame([(1, 2.5)], "a int, b double")
    out = render_template(df, "{a}-{b}").collect()
    assert out[0].prompt == "1-2.5"


def test_template_expr_is_pure_catalyst(spark):
    # No Python eval in the plan: explain must not mention BatchEvalPython.
    df = _df(spark).withColumn("p", template_expr("x{topic}y", ["topic", "audience", "note"]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_with_row_index_ordered(spark):
    df = spark.createDataFrame([(3,), (1,), (2,)], "k int")
    out = {r.k: r._row_index for r in with_row_index(df, order_by=["k"]).collect()}
    assert out == {1: 0, 2: 1, 3: 2}


def test_with_row_index_monotonic_preserves_order(spark):
    df = spark.range(100).repartition(4)
    rows = with_row_index(df).collect()
    # ids strictly increase within each partition's slice of the output.
    assert len({r._row_index for r in rows}) == 100


def test_with_row_index_ordered_many_partitions(spark, spark_conf):
    # Contiguous 0-based index across many range partitions, non-trivial
    # data order (the r10 monotonically_increasing_id rewrite). The 20k-row
    # input outgrows a 5-row-per-partition range sample, so two range
    # exchanges over the same data would cut at different bounds; with
    # exchange reuse off, each reader of the range exchange plans its own.
    import random

    for n, conf in (
        (500, {}),
        (
            20_000,
            {
                "spark.sql.execution.rangeExchange.sampleSizePerPartition": "5",
                "spark.sql.exchange.reuse": "false",
            },
        ),
    ):
        vals = list(range(n))
        random.Random(7).shuffle(vals)
        with spark_conf(conf):
            df = spark.createDataFrame([(v,) for v in vals], "k int").repartition(11)
            out = {r.k: r._row_index for r in with_row_index(df, order_by=["k"]).collect()}
        assert out == {v: v for v in range(n)}, n


def test_with_row_index_no_window_exchange(spark):
    # r10 plan pin: the in-partition position comes from
    # monotonically_increasing_id above the local sort — no
    # Window.partitionBy(_pid) and no second data-side
    # hashpartitioning(_pid) exchange (the only hashpartitioning(_pid)
    # left is the tiny per-partition counts aggregate).
    # (the offsets branch's constant-key window prints
    # ``windowspecdefinition(_pid ASC ...`` after literal folding — it
    # runs over ≤n_partitions rows; the old data-side window was the
    # ``row_number`` over a hashpartitioning(_pid) exchange)
    # The numbering frame is pinned by a local checkpoint inside
    # with_row_index, so the numbering pins read that frame's own plan.
    df = spark.range(100).withColumnRenamed("id", "k")
    plan = _range_numbered(df, ["k"])._jdf.queryExecution().toString()
    assert "monotonically_increasing_id" in plan
    assert "row_number" not in plan
    assert plan.count("hashpartitioning(_pid") <= 1
    plan = with_row_index(df, order_by=["k"])._jdf.queryExecution().toString()
    assert "row_number" not in plan
    assert plan.count("hashpartitioning(_pid") <= 1
