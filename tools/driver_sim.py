"""Exact driver simulation: vanilla SparkSession + the __spark_entry__ API.

Run from ANY directory: ``python /root/repo/tools/driver_sim.py [sf_dir]``.
Unlike tools/check_correctness.py (which uses the tuned get_spark), this
builds the same kind of session the external driver does — default confs,
arbitrary cwd, no ``pin_scope`` around a query — so session-conf and
executor-import assumptions surface here before the real verify. Each
query that leaves a cached relation in the session is printed and counted.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from ai_batch_processing_spark.testing import compare_frames, duck_con

    edf = entrymod.entry(spark)
    n = edf.count()
    print(f"entry: {n} rows, schema {[f.name for f in edf.schema.fields]}")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duck_con(sf)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    failed: list[str] = []
    leaked: list[str] = []
    t0 = time.time()
    for name in sorted(qs):
        try:
            sdf = qs[name](spark, sf).toPandas()
        except Exception as ex:  # noqa: BLE001 — report and continue
            print(f"FAIL {name}: spark raised {type(ex).__name__}: {str(ex)[:150]}")
            failed.append(name)
            continue
        finally:
            if not cache_manager.isEmpty():
                print(f"LEAK {name}: left a cached relation in the session")
                leaked.append(name)
                spark.catalog.clearCache()
        if name not in oracles:
            if len(sdf) == 0:
                print(f"WARN {name}: rows-only check returned 0 rows")
            continue
        problems = compare_frames(sdf, con.execute(oracles[name]).fetchdf())
        if problems:
            print(f"FAIL {name}: {problems}")
            failed.append(name)
    print(
        f"done: {len(qs)} queries, {len(failed)} failures, "
        f"{len(leaked)} leaving cached relations in {round(time.time() - t0)}s"
    )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
