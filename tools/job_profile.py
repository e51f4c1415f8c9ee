"""Per-bench-query job/stage/task counts + wall at a given sf dir.

Usage: python tools/job_profile.py [sf_dir] [query ...]

Runs each query twice (warm protocol), reports the min wall and the
job/stage/task counts of the SECOND (warm) run via the status tracker.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    from ai_batch_processing_spark.jobs import pin_scope
    from ai_batch_processing_spark.registry import load_all
    from ai_batch_processing_spark.session import get_spark

    specs = load_all()
    bench = {n: s for n, s in sorted(specs.items()) if (s.bench if not only else n in only)}

    spark = get_spark("job_profile")
    spark.sparkContext.setLogLevel("ERROR")
    st = spark.sparkContext.statusTracker()

    # warm all plan shapes once at the smallest scale
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for spec in bench.values():
        with pin_scope():
            spec.fn(spark, warm_dir).count()
    spark.catalog.clearCache()

    print(f"{'query':40s} {'wall_min':>8s} {'jobs':>5s} {'stages':>7s} {'tasks':>6s}")
    for name, spec in bench.items():
        walls = []
        jobs = stages = tasks = 0
        for run in range(2):
            all_before = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
            before_ids = set(all_before)
            t0 = time.time()
            with pin_scope():
                spec.fn(spark, sf_dir).count()
            walls.append(time.time() - t0)
            after_ids = set(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))
            new_jobs = sorted(after_ids - before_ids)
            jobs = len(new_jobs)
            stages = 0
            tasks = 0
            for j in new_jobs:
                ji = st.getJobInfo(j)
                if ji is None:
                    continue
                stages += len(ji.stageIds)
                for sid in ji.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        tasks += si.numTasks
            spark.catalog.clearCache()
        print(f"{name:40s} {min(walls):8.3f} {jobs:5d} {stages:7d} {tasks:6d}")
    spark.stop()


if __name__ == "__main__":
    main()
