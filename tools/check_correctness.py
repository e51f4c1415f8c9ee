"""Local mirror of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the given
sf dir, compares row count, column names, and order-insensitive values.
Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_batch_processing_spark.testing import compare_frames, duck_con  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from ai_batch_processing_spark.jobs import pin_scope
    from ai_batch_processing_spark.registry import load_all
    from ai_batch_processing_spark.session import get_spark

    specs = load_all()
    spark = get_spark("check_correctness")
    con = duck_con(sf_dir)
    failed = []
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # one scope per query: its pins and caches are released when
            # it ends, not left for ContextCleaner
            with pin_scope():
                sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            failed.append(name)
            continue
        if spec.oracle is None:
            print(f"ok?  {name}: rows-only check, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                print(f"WARN {name}: 0 rows")
            continue
        try:
            ddf = con.execute(spec.oracle).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle SQL raised")
            traceback.print_exc()
            failed.append(name)
            continue
        problems = compare_frames(sdf, ddf)
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"     {p}")
            failed.append(name)
        else:
            print(f"PASS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
