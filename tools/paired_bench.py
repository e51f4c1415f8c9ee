"""Paired DuckDB-vs-Spark window for the bench set (BASELINE.md protocol).

Per query: duck oracle `.fetchdf()` then Spark `.toPandas()` (symmetric
pandas materialization), min-of-2 each, INTERLEAVED in the same process
window; every plan shape warmed at sf0.001 first, plus one full warm pass
on both engines before timing. Rows-only queries (no oracle) time Spark
alone and print `n/a` for DuckDB.

Usage: python tools/paired_bench.py [sf_dir] [repeat]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repeat = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from ai_batch_processing_spark.jobs import pin_scope
    from ai_batch_processing_spark.registry import load_all
    from ai_batch_processing_spark.session import get_spark
    from ai_batch_processing_spark.testing import duck_con

    specs = load_all()
    bench = {n: s for n, s in sorted(specs.items()) if s.bench}

    spark = get_spark("paired_bench")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    # warm both engines: plan shapes at sf0.001, then one full pass at sf_dir
    for s in bench.values():
        with pin_scope():
            s.fn(spark, warm_dir).count()
    spark.catalog.clearCache()
    for s in bench.values():
        if s.oracle is not None:
            con.execute(s.oracle).fetchdf()
        with pin_scope():
            s.fn(spark, sf_dir).toPandas()
    spark.catalog.clearCache()

    duck_tot = spark_tot = 0.0
    print(f"{'query':42s} {'duck_min':>9s} {'spark_min':>9s} {'ratio':>7s}")
    for name, s in bench.items():
        duck_w = []
        spark_w = []
        for _ in range(repeat):
            if s.oracle is not None:
                t0 = time.time()
                con.execute(s.oracle).fetchdf()
                duck_w.append(time.time() - t0)
            # the query's pins and stored result are released inside the
            # timed span, as in bench.py
            t0 = time.time()
            with pin_scope():
                s.fn(spark, sf_dir).toPandas()
            spark_w.append(time.time() - t0)
            spark.catalog.clearCache()
        sw = min(spark_w)
        if duck_w:
            dw = min(duck_w)
            duck_tot += dw
            spark_tot += sw
            print(f"{name:42s} {dw:9.3f} {sw:9.3f} {sw / dw:6.2f}x")
        else:
            print(f"{name:42s} {'n/a':>9s} {sw:9.3f} {'':>7s}")
    print(
        f"{'TOTAL (oracle-backed)':42s} {duck_tot:9.3f} {spark_tot:9.3f} "
        f"{spark_tot / max(duck_tot, 1e-9):6.2f}x"
    )
    spark.stop()


if __name__ == "__main__":
    main()
