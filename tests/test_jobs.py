"""Job control: stop-with-cancellation, status metrics, progress events,
and the one release path for pinned and cached frames."""

from __future__ import annotations

import ast
import pathlib
import time

import pytest
from pyspark import StorageLevel

import ai_batch_processing_spark
from ai_batch_processing_spark.jobs import JobRegistry, cache, pin_scope


def _slow_df(spark, n_tasks: int = 16, sleep_s: float = 1.0):
    df = spark.range(n_tasks * 10, numPartitions=n_tasks)

    def slow(it):
        import time as _t

        for pdf in it:
            _t.sleep(sleep_s)
            yield pdf

    return df.mapInPandas(slow, df.schema)


def test_job_completes_with_progress(spark):
    reg = JobRegistry(spark, poll_interval=0.05)
    events = []
    job_id = reg.submit(lambda s: _slow_df(s, n_tasks=4, sleep_s=0.3).count(), on_progress=events.append)
    st = reg.wait(job_id, timeout=60)
    assert st.status == "completed"
    assert st.result == 40
    assert events and events[-1]["event"] == "job_finished"
    snap = reg.status(job_id)
    assert snap["status"] == "completed"
    # completed a 4-task job → live rate/ETA metrics present (main.py:653-657)
    assert "rate_per_min" in snap and snap["eta_seconds"] == 0


def test_job_stop_cancels_running_tasks(spark):
    reg = JobRegistry(spark, poll_interval=0.05)
    t0 = time.time()
    job_id = reg.submit(lambda s: _slow_df(s, n_tasks=64, sleep_s=1.0).count())
    time.sleep(1.0)  # let tasks start
    assert reg.stop(job_id)
    st = reg.wait(job_id, timeout=30)
    assert st.status == "stopped"
    # 64 tasks x 1 s on 8 threads would take ~8 s serially; cancellation
    # must land well before that.
    assert time.time() - t0 < 7
    assert not reg.stop(job_id)  # already stopped → False


def test_reset_clears_jobs(spark):
    reg = JobRegistry(spark, poll_interval=0.05)
    job_id = reg.submit(lambda s: s.range(10).count())
    reg.wait(job_id, timeout=30)
    reg.reset()
    assert reg._jobs == {}


def _rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _llm_input(spark):
    return spark.createDataFrame(
        [(i, f"g{i % 3}", f"t{i}") for i in range(20)], "id long, grp string, body string"
    )


def test_job_releases_its_pins(spark, tmp_path):
    """A job's pins (llm_map's result and partition_offsets' numbering)
    are released when it ends, completed or failed: no persistent RDD id
    created during the job survives it. Ids, not counts: ContextCleaner
    may drop other RDDs meanwhile."""
    from ai_batch_processing_spark.io import writers
    from ai_batch_processing_spark.operators.llm_map import LLMConfig, llm_map

    df = _llm_input(spark)
    cfg = LLMConfig(prompt_template="{body}", order_by=["id"])
    reg = JobRegistry(spark, poll_interval=0.05)

    def export(s):
        out = llm_map(df, cfg)
        writers.write_consolidated_csv(out, str(tmp_path / "csv"))
        writers.write_individual_files(out, str(tmp_path / "individual"))
        return len(_rdd_ids(s) - before)

    def fail(s):
        llm_map(df, cfg).count()
        raise RuntimeError("boom after llm_map")

    before = _rdd_ids(spark)
    st = reg.wait(reg.submit(export), timeout=120)
    assert st.status == "completed"
    assert st.result >= 2  # both pins were live while the job ran
    assert _rdd_ids(spark) - before == set()

    before = _rdd_ids(spark)
    st = reg.wait(reg.submit(fail), timeout=120)
    assert st.status == "failed" and "boom" in st.error
    assert _rdd_ids(spark) - before == set()


def test_scope_unpersists_cached_frames_when_its_body_raises(spark):
    """A frame kept with ``cache`` inside a scope is unpersisted when the
    scope exits by an exception; outside a scope it stays cached."""
    counts = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    with pytest.raises(RuntimeError, match="boom"):
        with pin_scope():
            cached = cache(counts)
            assert cached.count() == 7
            assert cached.storageLevel != StorageLevel.NONE
            raise RuntimeError("boom after cache")
    assert cached.storageLevel == StorageLevel.NONE

    kept = cache(spark.range(10).selectExpr("id * 3 AS x"))
    try:
        assert kept.storageLevel != StorageLevel.NONE
    finally:
        kept.unpersist()


def test_store_outlives_its_scope_until_the_enclosing_one_closes(spark):
    """``scope.store`` stores a result while the scope's caches are alive
    and hands it to the enclosing scope: it can be read after its own scope
    closes and is released when the enclosing one does. With no enclosing
    scope it stays stored."""
    counts = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    before = _rdd_ids(spark)
    with pin_scope():
        with pin_scope() as scope:
            src = cache(counts)
            stored = scope.store(src.selectExpr("k", "count * 2 AS c2"))
        assert src.storageLevel == StorageLevel.NONE
        assert stored.count() == 7
        assert len(_rdd_ids(spark) - before) == 1
    assert _rdd_ids(spark) - before == set()

    with pin_scope() as scope:
        kept = scope.store(counts)
    assert kept.count() == 7
    assert len(_rdd_ids(spark) - before) == 1


def test_frame_pinned_outside_a_job_outlives_it(spark):
    """A frame built outside any job (the reference-journey shape) is not
    released by the job that reads it: it stays readable afterwards."""
    from ai_batch_processing_spark.operators.llm_map import LLMConfig, llm_map

    out = llm_map(_llm_input(spark), LLMConfig(prompt_template="{body}", group_by="grp", order_by=["id"]))
    reg = JobRegistry(spark, poll_interval=0.05)
    st = reg.wait(reg.submit(lambda s: out.count()), timeout=120)
    assert st.status == "completed" and st.result == 20
    rows = out.collect()
    assert len(rows) == 20 and all(r.error is None for r in rows)


def test_package_caches_only_through_jobs():
    """One owner of stored frames: ``.persist(``/``.unpersist(`` and
    ``localCheckpoint(`` appear only in ``jobs.py`` (everything else stores
    with ``jobs.cache``, ``jobs.pin`` or ``scope.store`` and releases
    through a ``pin_scope``), except the doc-stats session memo
    (``text.doc_stats_cached``), and no function takes a ``materialize``
    switch between a lazy and a stored result."""
    root = pathlib.Path(ai_batch_processing_spark.__file__).parent
    raw, knobs = [], []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(root).as_posix()
        memo = set()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "materialize" in names:
                    knobs.append(f"{rel}:{node.lineno} {node.name}")
                if (rel, node.name) == ("operators/text.py", "doc_stats_cached"):
                    memo = set(range(node.lineno, node.end_lineno + 1))
        if rel != "jobs.py":
            raw += [
                f"{rel}:{i}"
                for i, line in enumerate(src.splitlines(), 1)
                if ".persist(" in line
                or ".unpersist(" in line
                or ("localCheckpoint(" in line and i not in memo)
            ]
    assert raw == [], raw
    assert knobs == [], knobs
