"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``

Each query is timed end-to-end (plan + execute + collect-to-count). A
warm-up pass of the flagship runs first so JVM/codegen startup isn't
attributed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ai_batch_processing_spark.jobs import pin_scope
    from ai_batch_processing_spark.registry import load_all
    from ai_batch_processing_spark.session import get_spark

    specs = load_all()
    bench_specs = {n: s for n, s in sorted(specs.items()) if s.bench}

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JVM JIT + whole-stage-codegen compilation + parquet footer
    # caches, primed per-plan-shape by running every bench query once at
    # the smallest scale factor. Timed runs below then measure data-path
    # cost, not first-compile cost.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for spec in bench_specs.values():
        spec.fn(spark, warm_dir).count()

    # Warm-up persists are not part of any timed query's cost.
    spark.catalog.clearCache()

    # Min of 2 timed runs per query (the same protocol as CROSSOVER.md):
    # single-run walls on a busy box swing ±50% from GC/scheduling jitter
    # (q42 measured 2.8–7.5 s for identical work); the min is the
    # reproducible data-path cost.
    timings: dict[str, float] = {}
    for name, spec in bench_specs.items():
        best, n = float("inf"), 0
        for _ in range(2):
            # one scope per run: the pins and caches the query makes are
            # released when it ends (inside the timed span)
            t0 = time.time()
            with pin_scope():
                n = spec.fn(spark, sf_dir).count()
            best = min(best, time.time() - t0)
            # isolate runs: no cross-run cache reuse in the timings — the
            # session cache AND the library's session-lifetime memo of
            # broadcast-dispatch probe counts (if a future query ever hits
            # the counted-probe fallback, run 2 must pay the count the
            # cold engine pays; today the bench's star joins take the
            # zero-action estimate path so this is pure insurance)
            spark.catalog.clearCache()
            from ai_batch_processing_spark.plans import relational as _rel

            _rel._probe_counts.clear()
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # the 2×-vs-BASELINE tracking compares oracle-backed queries only
    # (rows-only approximates have no DuckDB wall to compare against) —
    # report that subtotal so the per-round number needs no hand-arithmetic
    oracle_backed = round(
        sum(t for n, t in timings.items() if bench_specs[n].oracle is not None), 3
    )
    print(
        json.dumps(
            {
                "metric": "bench_headline_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "value_oracle_backed": oracle_backed,
                "queries": timings,
                "sf": float(sf) if sf else None,
                "protocol": "min_of_2_warm_runs",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
