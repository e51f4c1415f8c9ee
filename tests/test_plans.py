"""Physical-plan quality gates — the 100 TB properties, pinned in CI.

Correctness says the answer is right; these tests say the PLAN is right:
filters reach the parquet scan, projections prune the read schema, small
dimensions broadcast, aggregation is partial map-side, and nothing in the
relational suite degenerates into a cartesian product. A regression here
is invisible at sf0.001 and fatal at sf100.
"""

from __future__ import annotations

import pytest

from ai_batch_processing_spark.registry import load_all

SPECS = load_all()


def _explain(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession.sparkContext._jvm
    m = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(m)


def test_q01_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _explain(SPECS["q01_pricing_summary"].fn(spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    # 7 of 11 lineitem columns read — l_orderkey/partkey/suppkey/linenumber pruned
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_q02_broadcasts_dimensions(spark, sf_dir):
    plan = _explain(SPECS["q02_shipping_priority"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # lineitem must never shuffle on the join
    assert "TakeOrderedAndProject" in plan  # top-k without a full sort


def test_q03_star_join_all_broadcast(spark, sf_dir):
    plan = _explain(SPECS["q03_region_revenue"].fn(spark, sf_dir))
    # star schema: every dim side broadcast, fact table scanned once
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_q99_pair_filtered_dims_broadcast(spark, sf_dir):
    plan = _explain(SPECS["q99_nation_trade_volume"].fn(spark, sf_dir))
    # supplier/customer shrink behind the nation-pair filter, then
    # broadcast; the only fact-fact shuffle is lineitem⋈orders
    assert plan.count("BroadcastHashJoin") >= 2
    assert "In(n_name" in plan  # pair predicate pushed into the dim scans


def test_q100_filtered_part_broadcast_and_pruned(spark, sf_dir):
    plan = _explain(SPECS["q100_product_profit"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "StringContains(p_name,widget)" in plan  # LIKE pushed to the part scan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "p_name" not in read_schema or "p_retailprice" in read_schema


def test_q35_exists_decorrelates_to_semi_join(spark, sf_dir):
    plan = _explain(SPECS["q35_exists_subquery"].fn(spark, sf_dir))
    assert "LeftSemi" in plan  # EXISTS decorrelated, not re-executed per row


def test_q56_sample_predicate_pushed(spark, sf_dir):
    plan = _explain(SPECS["q56_systematic_sample"].fn(spark, sf_dir))
    # mod-predicate isn't a parquet-pushable filter, but it must sit
    # directly on the scan (no shuffle before it) and prune columns
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "o_orderdate" not in read_schema and "o_custkey" not in read_schema


@pytest.mark.parametrize(
    "name",
    sorted(n for n, s in SPECS.items() if "relational" in s.tags),
)
def test_no_cartesian_products_in_relational_suite(name, spark, sf_dir):
    plan = _explain(SPECS[name].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_whole_stage_codegen_everywhere_hot(spark, sf_dir):
    """The flagship's hot path (scan→filter→partial agg) must be one
    codegen span — Python never touches these rows."""
    df = SPECS["q01_pricing_summary"].fn(spark, sf_dir)
    df.collect()  # AQE finalizes THIS plan (count() would execute a different one)
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    # codegen'd operators print with a "*(n)" stage prefix in the final plan
    assert "*(" in final, f"no codegen span in final plan:\n{final[:500]}"
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_partition_pruning_on_partitioned_layout(spark, sf_dir, tmp_path):
    """Hive-partitioned output + a partition-key filter → PartitionFilters
    in the scan and only the matching directory read."""
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.io.writers import write_partitioned_parquet
    from ai_batch_processing_spark.session import load_tables

    events = load_tables(spark, sf_dir, ["events"])["events"]
    out = str(tmp_path / "events_by_type")
    write_partitioned_parquet(events, out, partition_by=["event_type"])

    df = spark.read.parquet(out).filter(F.col("event_type") == "purchase").select("event_id")
    plan = _explain(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "event_type" in pf[0]  # the filter prunes directories...
    n_purchase = events.filter("event_type = 'purchase'").count()
    assert df.count() == n_purchase  # ...and the answer is still right


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir, tmp_path):
    """A filter on the DIM side prunes the partitioned FACT's directories at
    runtime (dynamicpruningexpression in PartitionFilters) — the star-join
    optimization that makes partitioned 100 TB facts queryable."""
    from pyspark.sql import functions as F

    from ai_batch_processing_spark.io.writers import write_partitioned_parquet
    from ai_batch_processing_spark.session import load_tables

    events = load_tables(spark, sf_dir, ["events"])["events"]
    out = str(tmp_path / "events_dpp")
    write_partitioned_parquet(events, out, partition_by=["event_type"])
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("purchase", 1), ("click", 2)], "event_type string, w int"
    ).filter(F.col("w") == 1)
    joined = fact.join(dim, "event_type").select("event_id", "w")
    plan = _explain(joined)
    assert "dynamicpruningexpression" in plan.lower()
    assert joined.count() == events.filter("event_type = 'purchase'").count()


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE detects the hot key at runtime and splits its partition:
    SortMergeJoin(skew=true) + a skewed AQEShuffleRead in the final plan.
    Thresholds are lowered so test-scale data triggers the same code path
    production skew does."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(200_000).select(
            F.when(F.col("id") < 190_000, 1).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        j = left.join(right, "k")
        rows = j.collect()  # collect() finalizes THIS plan (count() executes another)
        assert len(rows) == 190_000  # only the hot key matches the right side
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q105_double_correlation_decorrelates(spark, sf_dir):
    # Both correlated subqueries must become joins (semi + anti) on
    # l_orderkey — per-row re-execution would be quadratic in the fact.
    plan = _explain(SPECS["q105_supplier_return_isolation"].fn(spark, sf_dir), "simple")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q107_correlated_agg_decorrelates(spark, sf_dir):
    # The correlated AVG over the CTE becomes an aggregate joined back on
    # l_partkey; the IN becomes a semi join. Nothing re-executes per row.
    plan = _explain(SPECS["q107_dominant_part_suppliers"].fn(spark, sf_dir), "simple")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q112_tfidf_caches_tf_and_skips_totals_aggregate(spark, sf_dir):
    """The kernel's (doc, term, ct, n) output must be computed once
    (InMemoryRelation) with the tokenize living in ONE MapInArrow node —
    and the r10 totals branch (a second scan-level size(filter(split)))
    must be GONE: the per-doc total rides on the kernel rows (r11).
    Pinned on the lazy LIBRARY form: the q112 wrapper eagerly
    checkpoints, so its returned plan is an opaque RDD scan and the
    internal shape is only visible here."""
    from ai_batch_processing_spark.operators.corpus import tfidf_top_terms
    from ai_batch_processing_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    plan = _explain(tfidf_top_terms(docs).orderBy("doc_id", "rnk"), "simple")
    assert "InMemoryRelation" in plan  # tf persisted, consumers share it
    assert "MapInArrow" in plan  # the tokenizer kernel IS the corpus pass
    # the separate corpus-length scan + join are gone
    assert "size(filter(split(" not in plan
    spark.catalog.clearCache()


def test_q115_incremental_dedup_prunes_corpus_to_fingerprint(spark, sf_dir):
    """The anti-join's corpus side must read only the text column (pruned
    schema) and ship only the md5 fingerprint into the join."""
    plan = _explain(SPECS["q115_incremental_dedup"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    # corpus side scan reads text (for the fp expression), never lang/source/n_chars
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all("n_chars" not in ln for ln in read_schemas)


def test_q116_outliers_broadcast_centroids_no_cartesian(spark, sf_dir):
    plan = _explain(SPECS["q116_embedding_outliers"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # label→centroid join rides broadcast
    assert "CartesianProduct" not in plan


def test_q136_bloom_probe_broadcasts_bitmap(spark, sf_dir):
    """The Bloom path's whole point: the bitmap word table broadcasts into
    the probe (never a shuffled join against the corpus for the probe
    stage), and the plan still carries exactly one exact anti/semi check
    for the maybe rows."""
    plan = _explain(SPECS["q136_incremental_dedup_bloom"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the maybe-rows exact check compiles to a LeftAnti join somewhere
    assert "LeftAnti" in plan


def test_q137_outer_join_pushes_on_clause_to_scan(spark, sf_dir):
    """Q13 shape: the priority predicate lives in the JOIN's ON clause (a
    post-join WHERE would drop zero-order customers). Catalyst may then
    legally push it below the join onto the RIGHT side's scan — the ideal
    plan — but it must never become a filter above the LeftOuter join."""
    plan = _explain(SPECS["q137_order_count_distribution"].fn(spark, sf_dir))
    assert "LeftOuter" in plan
    # the predicate reached the orders parquet scan as a pushed filter
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan


def test_q140_semi_and_anti_self_joins(spark, sf_dir):
    """Q21 shape compiles to one LeftSemi (other supplier exists) and one
    LeftAnti (no other returned line) over the distinct projection — not
    to any cartesian or inner-join explosion."""
    plan = _explain(SPECS["q140_sole_blamed_supplier"].fn(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q139_semi_chain_prunes_before_wide_joins(spark, sf_dir):
    """Q20 shape: the part-class filter reaches the part scan, and the
    supplier dim is reached only through a semi join."""
    plan = _explain(SPECS["q139_heavy_part_suppliers"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q153_pure_scan_all_predicates_pushed(spark, sf_dir):
    """TPC-H Q6: every predicate must reach the parquet scan and the read
    schema must be the 4 referenced columns — the query IS the scan."""
    plan = _explain(SPECS["q153_forecast_revenue"].fn(spark, sf_dir))
    scan = plan.split("PushedFilters")[1].splitlines()[0]
    assert "l_shipdate" in scan and "l_discount" in scan and "l_quantity" in scan
    read = plan.split("ReadSchema")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read
    assert "l_orderkey" not in read  # pruned
    assert "partial_sum" in plan


def test_q152_exists_with_residual_inequality_is_semi_join(spark, sf_dir):
    """TPC-H Q4: the correlated-comparison EXISTS must plan as a LeftSemi
    hash join on the equi-key with the date inequality as a residual —
    never a cartesian or per-row subquery."""
    plan = _explain(SPECS["q152_order_priority_check"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q154_decorrelated_min_broadcasts_dims_topk(spark, sf_dir):
    plan = _explain(SPECS["q154_min_cost_supplier"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q155_global_total_rides_as_broadcast(spark, sf_dir):
    """TPC-H Q11: the global-total scalar must be a broadcast nested-loop
    over ONE row (the documented q141 pattern), not a driver collect —
    and the nation-filtered supplier dim must broadcast."""
    plan = _explain(SPECS["q155_important_part_values"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the formatted plan prints each node twice (tree + detail); exactly one
    # BNLJ node may exist — the 1-row global-total scalar
    import re

    bnlj_nodes = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(bnlj_nodes) == 1


def test_q156_filters_pushed_and_partial_agg(spark, sf_dir):
    plan = _explain(SPECS["q156_shipping_priority_classes"].fn(spark, sf_dir))
    # two scans (orders, lineitem) → find the lineitem one among all
    # PushedFilters sections; its in-list and date filters must be pushed
    scans = [p.splitlines()[0] for p in plan.split("PushedFilters")[1:]]
    li_scan = [s for s in scans if "l_returnflag" in s]
    assert li_scan and "l_shipdate" in li_scan[0]
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_q158_verify_joins_never_broadcast_the_set_sides(spark, sf_dir):
    """The fuzzy-decontamination verify joins carry collect_set shingle
    arrays whose size Catalyst cannot estimate (measured driver OOM when
    it guessed broadcast at a 51.5k-doc benchmark) — they must compile to
    ShuffledHashJoin, never a BroadcastHashJoin over an array side."""
    plan = _explain(SPECS["q158_decontaminate_fuzzy"].fn(spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    # the array-carrying joins key on doc_id / bench_id; no broadcast may
    # appear on those keys (the banded (band, bh) join may broadcast)
    for ln in plan.splitlines():
        if "BroadcastHashJoin" in ln and ("doc_id" in ln or "bench_id" in ln):
            raise AssertionError(f"broadcast over a set side: {ln.strip()[:120]}")


@pytest.mark.parametrize(
    "name",
    [
        "q149_knn_edges_approx_verified",
        "q162_pagerank_replicated_verified",
        "q150_pagerank_approx_knn_graph",
    ],
)
def test_ann_edge_path_no_cartesian(name, spark, sf_dir):
    """The ANN edge-build path (IVF cells → cell-cogrouped probe) must
    never degenerate into a cartesian: assign_cells uses explode_outer so
    InferFiltersFromGenerate can't push a Python-UDF predicate into a join
    condition (the ExtractPythonUDFFromJoinCondition 'turned to cross
    join' rewrite). The only nested-loop join ever allowed here is the
    intended ~replicas-row broadcast replica frame."""
    plan = _explain(SPECS[name].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name == "q149_knn_edges_approx_verified":
        # no replica frame in q149 — no nested-loop join of any kind
        assert "BroadcastNestedLoopJoin" not in plan


def test_q45_bruteforce_plan_pinned(spark, sf_dir):
    """q45's r11 shape (cosine_topk_arrow): NO join at all — the query
    matrix rides in the kernel closure, the corpus is scanned once into
    a single Python kernel node, and the only window runs over the
    per-batch candidate stream. Pins the one-scan path so a future
    regression back to the pair-stream join is diagnosable."""
    plan = _explain(SPECS["q45_ann_bruteforce_topk"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # the pair stream is gone
    assert "Join" not in plan  # no join of any kind
    fmt = _explain(SPECS["q45_ann_bruteforce_topk"].fn(spark, sf_dir))
    # exactly one Python kernel node over the corpus scan
    assert fmt.count("MapInPandas") + fmt.count("ArrowEvalPython") >= 1
    assert "Window" in fmt  # rounded-rank top-k stays in Catalyst


def test_broadcast_if_small_dispatch_ladder(spark, sf_dir):
    """Round-10 stats-based dispatch (r9 verdict item 1): the vouched
    size_of estimate path must hint the broadcast with ZERO Spark
    actions, the probe fallback must memoize its count per (canonical
    plan, input files), the >cap decision must stay unhinted, and the
    64 GB ceiling must skip the probe entirely."""
    from pyspark.sql import DataFrame

    from ai_batch_processing_spark.plans import relational as R
    from ai_batch_processing_spark.session import load_tables

    t = load_tables(spark, sf_dir, ["orders", "customer"])

    def hinted(df):
        return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()

    # 1. vouched-small size_of -> broadcast hint, no job (count would raise)
    joined = t["orders"].join(
        t["customer"], t["orders"].o_custkey == t["customer"].c_custkey
    ).select("o_orderkey", "c_name")
    real_count = DataFrame.count

    def boom(self):  # any probe action fails the test
        raise AssertionError("count() ran on the estimate path")

    try:
        DataFrame.count = boom
        out = R.broadcast_if_small(joined, size_of=t["orders"].select("o_orderkey"))
        assert hinted(out)
        # 4. vouched estimate above the ceiling -> unhinted, probe skipped
        old_cap, old_ceiling = R._BCAST_BYTE_CAP, R._PROBE_EST_CEILING
        R._BCAST_BYTE_CAP, R._PROBE_EST_CEILING = 0, 1
        try:
            out = R.broadcast_if_small(joined, size_of=t["orders"].select("o_orderkey"))
            assert not hinted(out)
        finally:
            R._BCAST_BYTE_CAP, R._PROBE_EST_CEILING = old_cap, old_ceiling
    finally:
        DataFrame.count = real_count

    # 2. no size_of -> counted probe, memoized: second dispatch of the same
    # canonical plan runs no action at all
    R._probe_counts.clear()
    out = R.broadcast_if_small(joined)
    assert hinted(out) and len(R._probe_counts) == 1
    try:
        DataFrame.count = boom
        rebuilt = t["orders"].join(
            t["customer"], t["orders"].o_custkey == t["customer"].c_custkey
        ).select("o_orderkey", "c_name")
        assert hinted(R.broadcast_if_small(rebuilt))
    finally:
        DataFrame.count = real_count

    # 3. probe count above the row cap -> unhinted (shuffle is the scale shape)
    assert not hinted(R.broadcast_if_small(joined, cap=0))


def test_ivf_cogroup_kernel_partitioning_pinned(spark, sf_dir):
    """Round-10 pf_false guard: AQE's byte-based partition coalescing
    (coalescePartitions.parallelismFirst=false, a platform setting; the
    session keeps Spark's default, true) cannot see the CPU cost of the
    cell-cogrouped numpy kernels, so both cogroup
    inputs pin their exchange with an explicit REPARTITION_BY_NUM on
    ``cell`` (measured: letting AQE coalesce the few-MB cell exchange to
    one task serialized the q150 block kernel, +1.9 s at sf0.1). Both
    sides repartition to the SAME number, so the cogroup reuses the
    exchanges — exactly two of them, no ENSURE_REQUIREMENTS reshuffle
    above."""
    from ai_batch_processing_spark.operators.graph import knn_edges_approx
    from ai_batch_processing_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    plan = _explain(knn_edges_approx(emb, k=3, nlist=8, nprobe=2))
    assert "FlatMapCoGroupsInPandas" in plan
    assert plan.count("REPARTITION_BY_NUM") == 2
    # the pinned exchanges are the ONLY ones partitioning by cell: no
    # ENSURE_REQUIREMENTS hashpartitioning(cell) was added on top
    cell_exchanges = [
        ln for ln in plan.splitlines()
        if "hashpartitioning(cell" in ln and "Arguments:" in ln
    ]
    assert len(cell_exchanges) == 2
    assert all("REPARTITION_BY_NUM" in ln for ln in cell_exchanges)
