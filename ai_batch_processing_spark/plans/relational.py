"""Core relational operators: scan, filter, project, join (broadcast /
shuffle / semi / anti / range / as-of), aggregate, sort, limit.

The reference has at most one live table and therefore no joins or SQL-style
aggregation (SURVEY.md §2.3-§2.4); these queries are the engine's extended
relational surface over the TESTDATA star schema. Each is expressed
declaratively so Catalyst applies pushdown / pruning / join selection, and
each carries a DuckDB oracle.

Scale notes per query are inline — broadcast the dims, shuffle only on the
aggregation keys, keep sorts top-k where possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_batch_processing_spark.jobs import cache, pin_scope
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables

# ~64 MB of (bigint key, short string) pairs — the session's
# autoBroadcastJoinThreshold expressed in rows.
_BCAST_ROW_CAP = 2_000_000

# Byte thresholds for the estimate path: broadcast outright under the
# session's 64 MB autoBroadcastJoinThreshold; past 1024x that, even the
# counted probe is skipped (counting a frame whose size LOWER machinery
# bounds at 64 GB is itself a full scan — at that scale the shuffle join
# is the only shape that survives, so measuring buys nothing).
_BCAST_BYTE_CAP = 64 * 1024 * 1024
_PROBE_EST_CEILING = 1024 * _BCAST_BYTE_CAP

# Session-lifetime statistics cache for the counted-probe fallback,
# keyed by (canonicalized logical plan, sorted input files). The same
# dispatch decision for the same plan over the same files never pays a
# second count() action — the per-query fixed cost that the round-9
# persist+count dispatch added to q02/q03/q99 at every scale. The same
# staleness caveat as Spark's own FileIndex caching applies: rewriting
# the files in place mid-session is not observed.
_probe_counts: dict[tuple[str, tuple[str, ...]], int] = {}


def _plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's post-optimization size estimate in bytes, or None.

    Usable for scan/filter/project legs (file size x pruned-column ratio —
    an upper bound, since default stats propagation applies no filter
    selectivity). Useless for join results, whose default estimate is the
    PRODUCT of the children (measured: 104 TB for a 12,488-row frame)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # non-JVM sessions (connect) or analysis oddities
        return None


def _plan_key(df: DataFrame) -> tuple[str, tuple[str, ...]] | None:
    """Stats-cache key: canonicalized plan (exprIds normalized — stable
    across rebuilds of the same query) + input files (the canonical form
    drops paths, so files disambiguate scale dirs)."""
    try:
        canon = df._jdf.queryExecution().analyzed().canonicalized().toString()
        return (canon, tuple(sorted(df.inputFiles())))
    except Exception:
        return None


def broadcast_if_small(
    df: DataFrame, cap: int = _BCAST_ROW_CAP, size_of: DataFrame | None = None
) -> DataFrame:
    """Adaptive regime pick for a FILTERED fact-side join input (the
    pagerank-dispatch pattern: one cheap statistic decides the physical
    shape, the distributed plan stays the scale path).

    Static planning can't see post-filter sizes, and AQE's runtime
    conversion only fires AFTER the probe side's shuffle files are
    written — the cost the broadcast exists to avoid. Decision ladder:

    1. **Catalyst estimate, zero actions.** ``size_of`` is a frame the
       CALLER vouches upper-bounds the actual materialized size of
       ``df`` — for the key-preserving FK joins at the call sites, the
       fact leg's scan+project estimate (selectivity is never applied,
       so it only over-estimates). Under the 64 MB broadcast threshold
       -> hint the broadcast, no job runs. ``df``'s own estimate is
       never trusted for this step: join results carry product garbage
       and aggregate estimates can UNDER-estimate (measured 145 KB for
       a gram-dup agg), which would broadcast an unbounded frame.
    2. **Counted probe, memoized.** Otherwise count ``df`` once and
       cache the row count per (canonical plan, input files) for the
       session — repeated plan builds (bench min-of-2, warm passes) pay
       zero further actions. No persist: the probe is one map-side scan
       and the broadcast exchange re-reads the (caller-cached, at the
       heavy-lineage sites) leg, so nothing is left pinned in executor
       storage (round-9 ADVICE leak).
    3. **Ceiling.** Past a 64 GB vouched upper bound the probe itself
       is a full scan of a frame that cannot plausibly broadcast;
       return unhinted and let the planner shuffle — the only 100 TB
       shape.
    """
    if size_of is not None:
        est = _plan_size_estimate(size_of)
        if est is not None and est <= _BCAST_BYTE_CAP:
            return F.broadcast(df)
        if est is not None and est > _PROBE_EST_CEILING:
            return df
    key = _plan_key(df)
    if key is not None and key in _probe_counts:
        n = _probe_counts[key]
    else:
        n = df.count()
        if key is not None:
            _probe_counts[key] = n
    return F.broadcast(df) if n <= cap else df


# --- q01: TPC-H-Q1-shaped pricing summary -----------------------------------
# Scan + pushed filter + hash agg (partial/final via Catalyst) + small sort.
# At 100 TB: the filter prunes at the parquet row-group level; the groupBy has
# ~6 distinct keys so map-side partial aggregation reduces the shuffle to
# bytes. No skew hazard.
@register(
    "q01_pricing_summary",
    oracle="""
        SELECT
            l_returnflag,
            l_linestatus,
            ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
            ROUND(SUM(l_extendedprice), 2)                              AS sum_base_price,
            ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
            ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
            ROUND(AVG(l_quantity) + 1e-9, 4)                            AS avg_qty,
            ROUND(AVG(l_extendedprice) + 1e-9, 4)                       AS avg_price,
            ROUND(AVG(l_discount) + 1e-9, 4)                            AS avg_disc,
            COUNT(*)                                                    AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: filter → groupBy agg → sort (SURVEY.md §7.2 flagship).",
    bench=True,
    tags=("relational", "agg"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity") + 1e-9, 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice") + 1e-9, 4).alias("avg_price"),
            F.round(F.avg("l_discount") + 1e-9, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- q02: TPC-H-Q3-shaped shipping priority ---------------------------------
# Two selective filters + join small→large + top-k. customer(BUILDING) is
# ~1/5 of customers → broadcast side; lineitem is the probe side and never
# shuffles on the join at scale if AQE picks broadcast-hash. Top-k via
# orderBy+limit runs as TakeOrderedAndProject (no full sort).
@register(
    "q02_shipping_priority",
    oracle="""
        SELECT
            l_orderkey,
            ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
            o_orderdate,
            o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective joins + agg + top-k (TakeOrderedAndProject).",
    bench=True,
    tags=("relational", "join", "topk"),
)
def q02_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    ords = t["orders"].filter(F.col("o_orderdate") < cutoff)
    # BUILDING-customer orders are ~1/5 of orders: a fine broadcast at
    # bench scale, a multi-million-row hash relation at 100× — gate it on
    # the measured count (broadcast_if_small) instead of forcing it, and
    # pre-fold the revenue addend so the shuffle path moves 2 narrow
    # columns per lineitem (measured 8.6 s forced-broadcast → 2.9 s gated
    # at 100× sf0.1; the broadcast still fires at sf0.1 and below).
    li = (
        t["lineitem"]
        .filter(F.col("l_shipdate") > cutoff)
        .select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
        )
    )
    right = broadcast_if_small(
        ords.join(F.broadcast(cust), ords.o_custkey == cust.c_custkey).select(
            "o_orderkey", "o_orderdate", "o_orderpriority"
        ),
        # FK join with customer only drops orders rows, so the filtered
        # orders leg's scan estimate upper-bounds the broadcast side —
        # the zero-action dispatch path.
        size_of=ords.select("o_orderkey", "o_orderdate", "o_orderpriority"),
    )
    return (
        li.join(right, li.l_orderkey == right.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum("_rev"), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --- q03: TPC-H-Q5-shaped star join ------------------------------------------
# Dim tables region/nation are tiny → broadcast all the way down; the only
# shuffle is the final groupBy on n_name (25 keys). This is the canonical
# star-schema plan the engine must produce at 100 TB.
@register(
    "q03_region_revenue",
    oracle="""
        SELECT
            n_name,
            ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM region
        JOIN nation   ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 shape: 5-way star join, dims broadcast, one shuffle on n_name.",
    bench=True,
    tags=("relational", "join", "star"),
)
def q03_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["region", "nation", "customer", "orders", "lineitem"])
    dims = (
        t["region"].filter(F.col("r_name") == "ASIA")
        .join(t["nation"], F.col("n_regionkey") == F.col("r_regionkey"))
        .join(t["customer"], F.col("c_nationkey") == F.col("n_nationkey"))
    )
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    # join the SELECTIVE side first: date (~30%) × ASIA customers (~20%)
    # leaves ~6% of orders carrying just (o_orderkey, n_name), and
    # broadcast_if_small turns the lineitem join into a map-side probe
    # when that fits (measured x100: 3.1 s → 1.7 s warm); above the cap
    # the same plan shuffles — the 100 TB path, with 94% less volume on
    # the orders side than joining lineitem⋈orders first.
    ords_asia = ords.join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "n_name"
    )
    return (
        t["lineitem"]
        .join(
            # size_of: the date-filtered orders scan leg bounds the
            # customer-join result (FK join only drops rows)
            broadcast_if_small(ords_asia, size_of=ords.select("o_orderkey", "o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --- q04: left-semi join ------------------------------------------------------
# EXISTS-style: customers holding ≥1 urgent order. Semi join never duplicates
# the left side, so it shuffles only keys — at scale prefer it over
# join+distinct which shuffles whole rows.
@register(
    "q04_semi_join_urgent_customers",
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    doc="left_semi join (EXISTS) — dedup-free existence check.",
    tags=("relational", "join", "semi"),
)
def q04_semi_join_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, t["customer"].c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# --- q05: left-anti join ------------------------------------------------------
@register(
    "q05_anti_join_idle_customers",
    oracle="""
        SELECT n_name, COUNT(*) AS n_idle
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        )
        GROUP BY n_name
        ORDER BY n_idle DESC, n_name
    """,
    doc="left_anti join (NOT EXISTS): customers with no orders, per nation.",
    tags=("relational", "join", "anti"),
)
def q05_anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "nation"])
    recent = t["orders"].filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
    idle = t["customer"].join(recent, t["customer"].c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(t["nation"]), idle.c_nationkey == t["nation"].n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_idle"))
        .orderBy(F.desc("n_idle"), "n_name")
    )


# --- q06: top-k ----------------------------------------------------------------
@register(
    "q06_top_orders",
    oracle="""
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price, o_orderstatus
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25
    """,
    doc="global top-k: planned as TakeOrderedAndProject, never a full sort.",
    tags=("relational", "topk"),
)
def q06_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"), "o_orderstatus")
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(25)
    )


# --- q07: distinct aggregation --------------------------------------------------
@register(
    "q07_distinct_agg",
    oracle="""
        SELECT
            o_orderstatus,
            COUNT(DISTINCT o_custkey) AS n_customers,
            COUNT(DISTINCT o_orderpriority) AS n_priorities,
            COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    doc="distinct aggregation (expand + two-phase agg under Catalyst).",
    tags=("relational", "agg", "distinct"),
)
def q07_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


# --- q08: conditional (pivot-style) aggregation ----------------------------------
@register(
    "q08_conditional_agg",
    oracle="""
        SELECT
            l_returnflag,
            ROUND(SUM(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END), 2) AS hi_disc_revenue,
            ROUND(SUM(CASE WHEN l_discount <= 0.05 THEN l_extendedprice ELSE 0 END), 2) AS lo_disc_revenue,
            COUNT(CASE WHEN l_quantity >= 25 THEN 1 END) AS n_bulk
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    doc="conditional aggregation (manual pivot): CASE WHEN inside SUM/COUNT.",
    tags=("relational", "agg"),
)
def q08_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    hi = F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(F.lit(0.0))
    lo = F.when(F.col("l_discount") <= 0.05, F.col("l_extendedprice")).otherwise(F.lit(0.0))
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum(hi), 2).alias("hi_disc_revenue"),
            F.round(F.sum(lo), 2).alias("lo_disc_revenue"),
            F.count(F.when(F.col("l_quantity") >= 25, F.lit(1))).alias("n_bulk"),
        )
        .orderBy("l_returnflag")
    )


# --- q09/q10/q11: rollup / cube / grouping sets -----------------------------------
@register(
    "q09_rollup",
    oracle="""
        SELECT
            l_returnflag,
            l_linestatus,
            ROUND(SUM(l_quantity), 2) AS sum_qty,
            COUNT(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="ROLLUP hierarchy totals (flag, flag+status, grand total).",
    tags=("relational", "agg", "rollup"),
)
def q09_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t["lineitem"]
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@register(
    "q10_cube",
    oracle="""
        SELECT
            o_orderstatus,
            o_orderpriority,
            ROUND(SUM(o_totalprice), 2) AS total,
            COUNT(*) AS n
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    doc="CUBE: all grouping combinations.",
    tags=("relational", "agg", "cube"),
)
def q10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first())
    )


@register(
    "q11_grouping_sets",
    oracle="""
        SELECT
            c_mktsegment,
            c_nationkey,
            COUNT(*) AS n,
            ROUND(SUM(c_acctbal), 2) AS bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
    """,
    doc="GROUPING SETS: disjoint grouping combinations in one pass.",
    tags=("relational", "agg"),
)
def q11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["customer"])
    return spark.sql(
        """
        SELECT
            c_mktsegment,
            c_nationkey,
            COUNT(*) AS n,
            ROUND(SUM(c_acctbal), 2) AS bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST
        """
    )


# --- q12: range (theta) join -------------------------------------------------------
# Inline tier table joined on an interval predicate. Spark plans
# BroadcastNestedLoopJoin — correct here because one side is 4 rows; a
# large-large range join would instead bucket both sides (see dedup/LSH ops).
@register(
    "q12_range_join_price_tiers",
    oracle="""
        WITH tiers(tier, lo, hi) AS (
            VALUES ('t1', 0.0, 925.0), ('t2', 925.0, 950.0),
                   ('t3', 950.0, 975.0), ('t4', 975.0, 1e18)
        )
        SELECT tier, COUNT(*) AS n_parts, ROUND(AVG(p_retailprice) + 1e-9, 4) AS avg_price
        FROM part JOIN tiers ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY tier
        ORDER BY tier
    """,
    doc="range/theta join against a broadcast interval table.",
    tags=("relational", "join", "range"),
)
def q12_range_join_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part"])
    tiers = spark.createDataFrame(
        [("t1", 0.0, 925.0), ("t2", 925.0, 950.0), ("t3", 950.0, 975.0), ("t4", 975.0, 1e18)],
        "tier string, lo double, hi double",
    )
    p = t["part"]
    return (
        p.join(F.broadcast(tiers), (p.p_retailprice >= tiers.lo) & (p.p_retailprice < tiers.hi))
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.round(F.avg("p_retailprice") + 1e-9, 4).alias("avg_price"))
        .orderBy("tier")
    )


# --- q13: as-of join ---------------------------------------------------------------
# "For each purchase, the user's most recent signup at-or-before it."
# Spark has no ASOF JOIN; the scalable pattern is union + window (one shuffle
# on user_id, no join explosion) rather than an inequality join, which would
# be O(n·m) per user. Oracle uses DuckDB's native ASOF JOIN.
@register(
    "q13_asof_join_purchase_signup",
    oracle="""
        SELECT
            p.event_id AS purchase_id,
            p.user_id  AS user_id,
            s.event_id AS signup_id,
            CAST(date_diff('second', s.ts, p.ts) AS BIGINT) AS gap_seconds
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
            ON p.user_id = s.user_id AND p.ts >= s.ts
        ORDER BY purchase_id
    """,
    doc="as-of join via union+window (reference lacks it; SURVEY.md §2.3).",
    tags=("relational", "join", "asof"),
)
def q13_asof_join_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_batch_processing_spark.operators.asof import asof_join

    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase")
    signups = ev.filter(F.col("event_type") == "signup")
    joined = asof_join(
        purchases, signups, on="user_id", left_ts="ts", right_ts="ts",
        right_cols={"event_id": "signup_id", "ts": "signup_ts"},
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("signup_id"),
        (F.unix_timestamp("ts") - F.unix_timestamp("signup_ts")).cast("long").alias("gap_seconds"),
    ).orderBy("purchase_id")


# --- q99: TPC-H-Q7-shaped bilateral trade volume ------------------------------
# Two big facts (lineitem, orders) and three dims; the nation pair
# predicate shrinks supplier and customer to ~2/25 BEFORE they are
# broadcast, so the only shuffle is lineitem⋈orders on orderkey + the
# final 4-key aggregate. The cross-pair condition stays a cheap residual
# filter on two broadcast columns — no blow-up.
@register(
    "q99_nation_trade_volume",
    oracle="""
        SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
        FROM (
            SELECT
                n1.n_name AS supp_nation,
                n2.n_name AS cust_nation,
                CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
                l_extendedprice * (1 - l_discount) AS volume
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
               OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        )
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: 6-way join, pair-filtered dims broadcast, one fact shuffle.",
    bench=True,
    tags=("relational", "join", "star"),
)
def q99_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["supplier", "lineitem", "orders", "customer", "nation"])
    pair = ["NATION_3", "NATION_7"]
    supp = (
        t["supplier"]
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(pair))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(pair))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    pair_ok = (
        ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
        | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
    )
    # orders meets its customer filter FIRST (2 nations ≈ 8% of orders,
    # carrying only (o_orderkey, cust_nation)); broadcast_if_small then
    # makes the lineitem join map-side when that fits, instead of
    # shuffling the full orders table against supplier-filtered lineitem
    ords_cust = t["orders"].join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "cust_nation")
    return (
        t["lineitem"]
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            # size_of: the 2-column orders scan leg bounds the customer-
            # join result (FK join only drops rows)
            broadcast_if_small(
                ords_cust, size_of=t["orders"].select("o_orderkey", "o_custkey")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(pair_ok)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- q100: TPC-H-Q9-shaped product profit -------------------------------------
# Q9 adapted to this schema (no partsupp table): profit = revenue minus a
# retail-price-based cost proxy. Exercises the deepest join tree in the
# registry (lineitem⋈orders shuffle; part+supplier+nation broadcast after
# the name filter) + a 2-key aggregate.
@register(
    "q100_product_profit",
    oracle="""
        SELECT nation, o_year, ROUND(SUM(amount), 2) AS sum_profit
        FROM (
            SELECT
                n_name AS nation,
                CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity AS amount
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%widget%'
        )
        GROUP BY nation, o_year
        ORDER BY nation, o_year
    """,
    doc="TPC-H Q9 shape: deepest join tree, filtered part broadcast, profit rollup.",
    bench=True,
    tags=("relational", "join", "star"),
)
def q100_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part", "lineitem", "supplier", "orders", "nation"])
    parts = t["part"].filter(F.col("p_name").like("%widget%")).select("p_partkey", "p_retailprice")
    supp = (
        t["supplier"]
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    # Pre-project BOTH shuffle sides down to join key + the columns the
    # aggregate actually consumes: the lineitem side folds the 4-column
    # profit expression into one double BEFORE its exchange, and the
    # orders side ships (key, year) instead of (key, timestamp). Halves
    # the shuffled bytes of the biggest exchange in the registry —
    # measured 7.4 s → 3.4 s warm at 100× sf0.1; the join itself stays
    # the planner's choice (broadcast at small SF, shuffled-hash at scale).
    left = (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "nation", amount.alias("_amt"))
    )
    orders = t["orders"].select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    return (
        left.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("_amt"), 2).alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


# --- q123: TPC-H Q8 shape — national market share ---------------------------
@register(
    "q123_market_share",
    oracle="""
        WITH all_orders AS (
            SELECT
                CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                l_extendedprice * (1 - l_discount) AS volume,
                n2.n_name AS supp_nation
            FROM part
            JOIN lineitem ON l_partkey = p_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON n1.n_nationkey = c_nationkey
            JOIN region   ON r_regionkey = n1.n_regionkey
            JOIN nation n2 ON n2.n_nationkey = s_nationkey
            WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
        )
        SELECT
            o_year,
            ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                  / SUM(volume), 6) AS mkt_share
        FROM all_orders
        GROUP BY o_year
        ORDER BY o_year
    """,
    doc="TPC-H Q8 shape: market share of one supplier nation inside a "
    "region-scoped product market — 7-way join (filtered dims broadcast), "
    "conditional-share aggregate, one shuffle on the year.",
    tags=("relational", "join", "star", "share"),
)
def q123_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(
        spark, sf_dir, ["part", "supplier", "lineitem", "orders", "customer", "nation", "region"]
    )
    cust_dims = (
        t["region"].filter(F.col("r_name") == "AMERICA")
        .join(t["nation"].alias("n1"), F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .join(t["customer"], F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .select("c_custkey")
    )
    supp_nation = (
        t["supplier"]
        .join(
            t["nation"].alias("n2").select(
                F.col("n2.n_nationkey").alias("_sn_key"), F.col("n2.n_name").alias("supp_nation")
            ),
            F.col("s_nationkey") == F.col("_sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    parts = t["part"].filter(F.col("p_type") == "STANDARD").select("p_partkey")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_dims), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --- q124: TPC-H Q10 shape — returned-item customer ranking -----------------
@register(
    "q124_returned_item_customers",
    oracle="""
        SELECT
            c_custkey,
            c_name,
            ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
            n_name
        FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON n_nationkey = c_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    doc="TPC-H Q10 shape: who returned the most revenue — returnflag filter "
    "pushed to the lineitem scan, date filter to orders, nation broadcast, "
    "top-20 via TakeOrderedAndProject.",
    tags=("relational", "join", "topk"),
)
def q124_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    rets = t["lineitem"].filter(F.col("l_returnflag") == "R")
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    cust = t["customer"].join(
        F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey")
    )
    return (
        rets.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --- q125: TPC-H Q14 shape — promo revenue share ----------------------------
@register(
    "q125_promo_revenue_share",
    oracle="""
        SELECT
            ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                  / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: promo revenue percentage in one month — ship-date "
    "filter on the fact scan, part broadcast, single global conditional agg.",
    tags=("relational", "join", "share"),
)
def q125_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    month = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        month.join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


# --- q126: TPC-H Q19 shape — disjunctive bracket predicates -----------------
@register(
    "q126_bracket_predicates",
    oracle="""
        SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity >= 10 AND l_quantity <= 35)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity >= 20 AND l_quantity <= 50)
    """,
    doc="TPC-H Q19 shape: OR-of-AND bracket predicates spanning both join "
    "sides — evaluated post-join in one pass, no union-of-three-joins.",
    tags=("relational", "join", "predicates"),
)
def q126_bracket_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    bracket = (
        ((br == "Brand#1") & sz.between(1, 15) & (q >= 1) & (q <= 20))
        | ((br == "Brand#2") & sz.between(10, 30) & (q >= 10) & (q <= 35))
        | ((br == "Brand#3") & sz.between(20, 50) & (q >= 20) & (q <= 50))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .filter(bracket)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# --- q127: TPC-H Q15 shape — top supplier(s) by revenue ---------------------
@register(
    "q127_top_supplier",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 shape: revenue view + scalar-MAX subquery — the max rides "
    "back as a broadcast 1-row join, the per-supplier aggregate is computed "
    "once (no correlated re-evaluation).",
    tags=("relational", "subquery", "agg"),
)
def q127_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "supplier"])
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    with pin_scope() as scope:
        revenue = cache(revenue)  # consumed by the MAX aggregate AND the equality filter
        mx = revenue.agg(F.max("total_revenue").alias("_mx"))
        out = scope.store(
            revenue.crossJoin(F.broadcast(mx))
            .filter(F.col("total_revenue") == F.col("_mx"))
            .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("supplier_no"))
            .select("s_suppkey", "s_name", "total_revenue")
        )
    return out.orderBy("s_suppkey")


# --- q128: TPC-H Q17 shape — small-quantity-order revenue -------------------
@register(
    "q128_small_quantity_revenue",
    oracle="""
        WITH avgq AS (
            SELECT l_partkey AS pk, 0.5 * AVG(l_quantity) AS half_avg
            FROM lineitem GROUP BY l_partkey
        )
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN avgq ON pk = l_partkey
        WHERE p_brand = 'Brand#1' AND l_quantity < half_avg
    """,
    doc="TPC-H Q17 shape: correlated per-part AVG subquery decorrelated to "
    "one grouped aggregate + a keyed join — the fact table is scanned "
    "twice (avg pass + probe pass), never once per part.",
    tags=("relational", "subquery", "decorrelation"),
)
def q128_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    avgq = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg((F.lit(0.5) * F.avg("l_quantity")).alias("half_avg"))
    )
    brand = t["part"].filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        t["lineitem"]
        .join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .join(avgq, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --- q129: TPC-H Q18 shape — large-volume customers -------------------------
@register(
    "q129_large_volume_customers",
    oracle="""
        WITH big AS (
            SELECT l_orderkey
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 250
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(SUM(l_quantity) AS BIGINT) AS total_qty
        FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    doc="TPC-H Q18 shape: HAVING-aggregate semi join — the big-order id set "
    "comes from one grouped aggregate and semi-joins the fact scan before "
    "the wide customer join.",
    tags=("relational", "subquery", "semi", "topk"),
)
def q129_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 250)
        .select("l_orderkey")
    )
    li = t["lineitem"].join(big.withColumnRenamed("l_orderkey", "_bk"), F.col("l_orderkey") == F.col("_bk"), "left_semi")
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --- q137: TPC-H Q13 shape — customer order-count distribution --------------
@register(
    "q137_order_count_distribution",
    oracle="""
        WITH per_cust AS (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT OUTER JOIN orders
              ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        SELECT c_count, COUNT(*) AS custdist
        FROM per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape (adapted: priority filter stands in for the "
    "comment NOT LIKE): LEFT OUTER join with the filter INSIDE the join "
    "condition — customers with zero qualifying orders must appear with "
    "c_count 0, which an ON-clause filter preserves and a WHERE would "
    "destroy — then a two-level aggregate (per-customer count → "
    "distribution of counts).",
    tags=("relational", "outer-join", "aggregate"),
)
def q137_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    c, o = t["customer"], t["orders"]
    joined = c.join(
        o,
        (F.col("o_custkey") == F.col("c_custkey")) & (F.col("o_orderpriority") != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --- q138: TPC-H Q16 shape — supplier diversity per part class --------------
@register(
    "q138_supplier_diversity",
    oracle="""
        WITH bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0),
        supplied AS (
            SELECT DISTINCT l_partkey, l_suppkey
            FROM lineitem
            WHERE l_suppkey NOT IN (SELECT s_suppkey FROM bad)
        )
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM supplied
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1' AND p_size IN (1, 2, 3, 4, 5)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (lineitem stands in for partsupp): COUNT(DISTINCT "
    "supplier) per (brand, type, size) with a NOT IN exclusion subquery — "
    "the exclusion compiles to an anti join on the tiny bad-supplier set, "
    "the distinct-agg expands map-side.",
    tags=("relational", "distinct-agg", "anti"),
)
def q138_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    bad = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    supplied = (
        t["lineitem"]
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = t["part"].filter((F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 2, 3, 4, 5))
    return (
        supplied.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# --- q139: TPC-H Q20 shape — heavy suppliers of a part class ----------------
@register(
    "q139_heavy_part_suppliers",
    oracle="""
        WITH green AS (SELECT p_partkey FROM part WHERE p_type LIKE '%A%'),
        vol AS (
            SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM green)
            GROUP BY l_suppkey, l_partkey
            HAVING SUM(l_quantity) > 60
        )
        SELECT DISTINCT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (SELECT l_suppkey FROM vol)
        ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape: nested semi-join chain — part-class filter semi-"
    "joins the fact scan, a per-(supplier, part) HAVING aggregate derives "
    "the qualifying supplier set, which semi-joins the supplier dim. Each "
    "level prunes before the next touches anything wide.",
    tags=("relational", "semi", "subquery"),
)
def q139_heavy_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    green = t["part"].filter(F.col("p_type").like("%A%")).select("p_partkey")
    vol = (
        t["lineitem"]
        .join(F.broadcast(green), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 60)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(vol, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


# --- q140: TPC-H Q21 shape — sole blamed supplier per order -----------------
@register(
    "q140_sole_blamed_supplier",
    oracle="""
        WITH l AS (SELECT DISTINCT l_orderkey, l_suppkey, l_returnflag FROM lineitem)
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN l l1 ON l1.l_suppkey = s_suppkey
        WHERE l1.l_returnflag = 'R'
          AND EXISTS (
              SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM l l3
              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_returnflag = 'R'
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
    """,
    doc="TPC-H Q21 shape (returnflag stands in for the receipt-late "
    "predicate): for each order, the supplier whose lines were returned "
    "while every OTHER supplier's lines were not — a correlated EXISTS "
    "(other suppliers participated) plus NOT EXISTS (none of them "
    "returned), compiled as one semi and one anti self-join of the "
    "distinct (order, supplier) projection.",
    tags=("relational", "exists", "anti", "self-join"),
)
def q140_sole_blamed_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "supplier"])
    l = t["lineitem"].select("l_orderkey", "l_suppkey", "l_returnflag").distinct()
    l1 = l.filter(F.col("l_returnflag") == "R")
    others = l.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"), F.col("l_returnflag").alias("r2")
    )
    # EXISTS: some other supplier in the same order
    with_other = l1.join(
        others, (F.col("o2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")), "left_semi"
    )
    # NOT EXISTS: no other supplier with a returned line in the same order
    sole = with_other.join(
        others.filter(F.col("r2") == "R"),
        (F.col("o2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")),
        "left_anti",
    )
    return (
        sole.join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


# --- q141: TPC-H Q22 shape — idle wealthy customers by nation ---------------
@register(
    "q141_idle_wealthy_by_nation",
    oracle="""
        WITH cutoff AS (
            SELECT AVG(c_acctbal) AS m FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey, COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer CROSS JOIN cutoff
        WHERE c_acctbal > m
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    doc="TPC-H Q22 shape (nation key stands in for the phone prefix): "
    "above-average-balance customers with no URGENT orders — a broadcast 1-row "
    "scalar aggregate for the cutoff, an anti join against orders, one "
    "grouped rollup. The scalar rides the plan as a broadcast cross join, "
    "never a driver collect.",
    tags=("relational", "scalar-subquery", "anti"),
)
def q141_idle_wealthy_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    c, o = t["customer"], t["orders"]
    cutoff = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("m"))
    return (
        c.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("m"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --- q152: TPC-H Q4 shape — order priority with a late-shipment EXISTS ------
@register(
    "q152_order_priority_check",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (late shipment stands in for commit<receipt): "
    "quarter-filtered orders with a CORRELATED-comparison EXISTS — the semi "
    "join carries an inequality on columns from BOTH sides (l_shipdate > "
    "o_orderdate + 90 days), which Catalyst plans as a semi hash join on "
    "the equi-key with the inequality as a residual, never a cartesian. "
    "One 5-key grouped count after.",
    tags=("relational", "semi", "tpch"),
)
def q152_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = t["lineitem"]
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --- q153: TPC-H Q6 shape — forecast revenue (pure scan-aggregate) ----------
@register(
    "q153_forecast_revenue",
    oracle="""
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: the purest scan query — every predicate (date "
    "range, discount band, quantity cap) reaches the parquet scan as a "
    "pushed filter, ReadSchema is 4 columns, and the single global SUM is "
    "map-side partial + a 1-row final. The query that measures scan + "
    "pushdown and nothing else.",
    tags=("relational", "scan", "tpch"),
)
def q153_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


# --- q154: TPC-H Q2 shape — minimum-cost supplier per part ------------------
@register(
    "q154_min_cost_supplier",
    oracle="""
        WITH cost AS (
            SELECT l_partkey, l_suppkey,
                   ROUND(AVG(l_extendedprice / l_quantity), 4) AS ucost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        eligible AS (
            SELECT c.l_partkey, c.l_suppkey, c.ucost, s.s_name, s.s_acctbal, n.n_name
            FROM cost c
            JOIN supplier s ON s.s_suppkey = c.l_suppkey
            JOIN nation n   ON n.n_nationkey = s.s_nationkey
            JOIN region r   ON r.r_regionkey = n.n_regionkey
            WHERE r.r_name = 'ASIA'
        ),
        best AS (SELECT l_partkey, MIN(ucost) AS min_cost FROM eligible GROUP BY l_partkey)
        SELECT e.s_acctbal, e.s_name, e.n_name, e.l_partkey AS p_partkey, e.ucost
        FROM eligible e
        JOIN best b ON b.l_partkey = e.l_partkey AND e.ucost = b.min_cost
        JOIN part p ON p.p_partkey = e.l_partkey
        WHERE p.p_type = 'LARGE' AND p.p_size BETWEEN 10 AND 20
        ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p_partkey
        LIMIT 100
    """,
    doc="TPC-H Q2 shape (lineitem avg unit price stands in for the missing "
    "partsupp.supplycost): region-filtered supplier costs, the correlated "
    "per-part MIN subquery DECORRELATED into a grouped-min + equi-join "
    "back (the q128/Q17 pattern on a join tree), part filter broadcast, "
    "top-100 via TakeOrderedAndProject.",
    tags=("relational", "join", "decorrelated", "tpch"),
)
def q154_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation", "region", "part"])
    cost = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias("ucost"))
    )
    dims = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eligible = cost.join(F.broadcast(dims), cost.l_suppkey == dims.s_suppkey)
    best = eligible.groupBy(F.col("l_partkey").alias("_pk")).agg(F.min("ucost").alias("min_cost"))
    parts = t["part"].filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") >= 10) & (F.col("p_size") <= 20)
    )
    return (
        eligible.join(best, (F.col("l_partkey") == F.col("_pk")) & (F.col("ucost") == F.col("min_cost")))
        .join(F.broadcast(parts), F.col("p_partkey") == F.col("l_partkey"))
        .select("s_acctbal", "s_name", "n_name", F.col("l_partkey").alias("p_partkey"), "ucost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --- q155: TPC-H Q11 shape — important part values vs a global fraction -----
@register(
    "q155_important_part_values",
    oracle="""
        WITH val AS (
            SELECT l.l_partkey, ROUND(SUM(l.l_extendedprice), 2) AS value
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n   ON n.n_nationkey = s.s_nationkey
            WHERE n.n_name = 'NATION_7'
            GROUP BY l.l_partkey
        ),
        tot AS (SELECT SUM(value) AS t FROM val)
        SELECT l_partkey, value
        FROM val CROSS JOIN tot
        WHERE value > 0.002 * t
        ORDER BY value DESC, l_partkey
    """,
    doc="TPC-H Q11 shape: nation-filtered per-part value rollup HAVING a "
    "share of the GLOBAL total — the scalar total rides the plan as a "
    "broadcast 1-row cross join (the q141/Q22 pattern), never a driver "
    "collect; nation/supplier dims broadcast; one fact shuffle on "
    "l_partkey.",
    tags=("relational", "scalar-subquery", "tpch"),
)
def q155_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    dims = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_7")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        t["lineitem"]
        .join(F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("value"))
    )
    tot = val.agg(F.sum("value").alias("t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value") > 0.002 * F.col("t"))
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), "l_partkey")
    )


# --- q156: TPC-H Q12 shape — shipping classes × order priority counts -------
@register(
    "q156_shipping_priority_classes",
    oracle="""
        SELECT l_returnflag,
               COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS high_line_count,
               COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_returnflag IN ('A', 'R')
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    doc="TPC-H Q12 shape (returnflag stands in for the missing shipmode): "
    "filtered fact join + CASE-bucketed conditional counts per class — the "
    "in-list and date filters reach the lineitem scan, orders joins on the "
    "equi-key, and the 2-key grouped CASE sums partial-aggregate map-side.",
    tags=("relational", "join", "conditional-agg", "tpch"),
)
def q156_shipping_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    li = t["lineitem"].filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["orders"]
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )
