"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the config is chosen so the same code
scales to a multi-executor cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow on (vectorized Python boundary),
sane shuffle-partition defaults sized by ``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ai_batch_processing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults matter at scale:
    - AQE re-plans shuffles at runtime (partition coalescing, skew-join
      handling) — essential at 100 TB where static partition counts are
      always wrong somewhere.
    - Arrow makes every pandas-UDF boundary a columnar batch transfer
      instead of pickled rows.
    - ``parquet.filterPushdown`` / vectorized reader stay on so filters and
      projections land in the scan.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer ShuffledHashJoin over SortMergeJoin when a build side fits
        # per-partition memory: skips sorting BOTH fact sides (measured
        # 1.75× on the TPC-H-Q5-shaped q03 at 100× sf0.1 — 5.6s SMJ →
        # 3.2s SHJ). AQE's advisory partition sizing keeps build
        # partitions bounded, and skew-join splitting still applies; at
        # extreme per-key skew Spark falls back per AQE plan.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 256 MB scan partitions (2× default): fewer, fuller scan tasks.
        # Clean A/B at 100× sf0.1 (fresh session per variant, min-of-3):
        # q148 3.53→2.96 s, q103 4.69→3.90, q136 2.32→2.23, q03 3.97→3.82,
        # q40 1.17→1.24 (noise) — the scan/agg family's task-overhead shave
        # (round-4 verdict item 4). The rejected alternative, shuffle
        # partitions 8, won q40 but regressed the star join 1.6×.
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Up to a 24g heap (r10): in local[N] the driver JVM IS the
        # executor — 8g across 32 task threads was ~250 MB/thread and the
        # long bench session showed classic old-gen GC inflation mid-run
        # (8g vs 24g A/B, both orders: 43.4→23.0 s and 29.0 vs 26.1 s
        # totals; the 8g run's q151/q32/q34 walls tripled, recovering at
        # 24g in the same window). Capped at half the host's memory: a
        # heap larger than the host gets the JVM OOM-killed by the kernel
        # (a 15 GB host, 24g heap, died mid-way through the oracle suite).
        # On a real cluster this maps to executor memory, where per-core
        # memory is provisioned explicitly.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def default_driver_mem() -> str:
    """Half of the host's physical memory, at most 24 GiB, in MiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, total // (2 * 1024 * 1024))}m"


def shuffle_partitions(spark: SparkSession, default: int = 200) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating non-numeric
    values some platforms set (e.g. "auto" with AQE) by falling back to the
    cluster's default parallelism."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except ValueError:
        return spark.sparkContext.defaultParallelism


_SHIPPED_CONTEXTS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of driver cwd.

    An external driver may launch its SparkSession from any directory; the
    Python workers it forks then can't import ``ai_batch_processing_spark``
    when a pandas-UDF closure references it. Shipping the package as a
    zip via ``sc.addPyFile`` fixes that for every subsequent task. One-time
    per SparkContext; a no-op cost for pure-Catalyst queries.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_CONTEXTS:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="abps_pyfiles_")
    zip_path = shutil.make_archive(
        os.path.join(staging, "ai_batch_processing_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    _SHIPPED_CONTEXTS.add(app_id)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Read the star-schema parquet tables under ``sf_dir`` and register temp views.

    Returns ``{name: DataFrame}``. Reading is lazy; registration makes the
    tables available to ``spark.sql`` so SQL-form queries match the DuckDB
    oracle text as closely as possible.
    """
    all_names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names or all_names:
        df = _read_parquet_compat(spark, os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _read_parquet_compat(spark: SparkSession, path: str):
    """Read parquet, tolerating TIMESTAMP(NANOS) columns Spark 4 rejects.

    The events table stores ``ts`` as nanosecond timestamps; Spark has no
    nanos timestamp type, so we read nanos as INT64 (legacy conf) and
    truncate to microseconds — the same truncation DuckDB applies, keeping
    the oracle comparable. Column-level conversion, still a plain
    distributed parquet scan (pushdown on other columns unaffected).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    try:
        import pyarrow.parquet as pq

        nanos_cols = [f.name for f in pq.read_schema(path) if getattr(f.type, "unit", None) == "ns"]
    except Exception:
        nanos_cols = []
    if not nanos_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        if isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"))
    return df
