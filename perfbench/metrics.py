"""The benchmark's metrics: end-to-end ones from untraced runs, per-layer
ones from traced runs, each layer metric with the end-to-end metric and
workload it should move. ``BENCHMARK.json`` lists the same names."""

from __future__ import annotations

# name, unit, better. These carry a bound in BENCHMARK.json. The report
# line also prints op_tail_s and failed_ratio, which carry none: a run holds
# too few operations for a tail percentile with ten samples beyond it, and
# failed_ratio is 0 on llm_job.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
]

ALL = ("suite_sf0.1", "llm_job")
SUITE, LLM = ("suite_sf0.1",), ("llm_job",)

# name, unit, better, end-to-end metric it should move, workloads
PER_LAYER = [
    ("session.get_spark_s", "s", "lower", "setup_s", ALL),
    ("registry.load_all_s", "s", "lower", "setup_s", ALL),
    ("bench.warmup_s", "s", "lower", "setup_s", ALL),
    ("plan.build_s", "s", "lower", "op_p50_s", SUITE),
    ("plan.build_jobs", "count", "lower", "op_p50_s", SUITE),
    ("spark.analysis_ms", "ms", "lower", "op_p50_s", SUITE),
    ("spark.optimization_ms", "ms", "lower", "op_p50_s", SUITE),
    ("spark.planning_ms", "ms", "lower", "op_p50_s", SUITE),
    ("spark.jobs", "count", "lower", "wall_s", SUITE),
    ("spark.stages", "count", "lower", "wall_s", SUITE),
    ("spark.tasks", "count", "lower", "wall_s", SUITE),
    ("spark.no_stage_s", "s", "lower", "op_p50_s", SUITE),
    ("spark.executor_run_s", "s", "lower", "wall_s", SUITE),
    ("spark.executor_cpu_s", "s", "lower", "wall_s", SUITE),
    ("spark.jvm_gc_s", "s", "lower", "op_tail_s", SUITE),
    ("spark.offcpu_s", "s", "lower", "rows_per_s", ALL),
    ("spark.slot_util", "ratio", "higher", "wall_s", SUITE),
    ("spark.input_mb", "MB", "lower", "wall_s", SUITE),
    ("spark.shuffle_write_mb", "MB", "lower", "wall_s", SUITE),
    ("spark.shuffle_read_mb", "MB", "lower", "wall_s", SUITE),
    ("spark.spill_mb", "MB", "lower", "wall_s", SUITE),
    ("spark.task_skew", "ratio", "lower", "op_tail_s", LLM),
    ("llm_map.udf_stage_s", "s", "lower", "rows_per_s", LLM),
    ("llm_map.udf_runs", "count", "lower", "rows_per_s", LLM),
    ("io.readers.read_s", "s", "lower", "rows_per_s", LLM),
    ("io.writers.consolidated_json_s", "s", "lower", "rows_per_s", LLM),
    ("io.writers.individual_files_s", "s", "lower", "rows_per_s", LLM),
    ("io.writers.consolidated_csv_s", "s", "lower", "rows_per_s", LLM),
    ("io.writers.export_zip_s", "s", "lower", "rows_per_s", LLM),
    ("io.writers.bytes_mb", "MB", "lower", "rows_per_s", LLM),
    ("io.writers.files", "count", "lower", "rows_per_s", LLM),
    ("jobs.submit_to_running_s", "s", "lower", "op_p50_s", LLM),
    ("jobs.finish_to_wait_s", "s", "lower", "op_p50_s", LLM),
    ("jobs.progress_events", "count", "higher", "op_p50_s", LLM),
    # no end-to-end target: the long-session cost of blocks left behind
    ("storage.leaked_rdds", "count", "lower", None, ALL),
    # no end-to-end target: the memory cost of caching changes; it does
    # not repeat within a tenth between runs, so it carries no bound
    ("session.jvm_peak_rss_mb", "MB", "lower", None, ALL),
    ("bench.trace_overhead_s", "s", "lower", None, ALL),
    ("bench.gen_s", "s", "lower", None, ALL),
    ("bench.calib_s", "s", "lower", None, ALL),
]
