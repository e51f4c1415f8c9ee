"""Per-operation readout of Spark's layers, for the traced run.

Everything is read after the operation from outside the program: job and
stage ids from the status tracker by job group, stage metrics from the
AppStatusStore (``lastStageAttempt`` works with the UI disabled), plan
phases from the query execution's tracker.
"""

from __future__ import annotations

import re
import statistics

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0
# Plan-node scopes of the stage's RDD operation graph that run Python
# workers: MapInPandas, FlatMapGroupsInPandas, ArrowEvalPython and the like.
PYTHON_SCOPE = re.compile(r"Pandas|Python|InArrow")


def _epoch_s(opt) -> float | None:
    """An ``Option[Date]`` as seconds since the epoch."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _scope_names(cluster) -> list[str]:
    names = [cluster.name()]
    for child in _seq(cluster.childClusters()):
        names.extend(_scope_names(child))
    return names


def plan_phases_ms(df) -> dict[str, float]:
    """Analysis, optimisation and planning time of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def stages_for_group(sc, group: str) -> tuple[int, list]:
    """(job count, stage records) of every job run under job group ``group``."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stages = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages.append(stage_record(store, sid))
    return len(job_ids), [s for s in stages if s is not None]


def stage_record(store, sid: int) -> dict | None:
    try:
        sd = store.lastStageAttempt(sid)
    except Py4JJavaError:  # a stage the store has already evicted
        return None
    start, end = _epoch_s(sd.submissionTime()), _epoch_s(sd.completionTime())
    if start is None or end is None:
        return None  # skipped: its output was reused from an earlier job
    python_udf = any(PYTHON_SCOPE.search(n) for n in _scope_names(store.operationGraphForStage(sid).rootCluster()))
    task_times: list[float] = []
    if python_udf:
        for t in _seq(store.taskList(sid, sd.attemptId(), 100000)):
            d = t.duration()
            if d.isDefined():
                task_times.append(d.get() / 1000.0)
    return {
        "sid": sid,
        "start": start,
        "end": end,
        "tasks": sd.numTasks(),
        "run_s": sd.executorRunTime() / 1000.0,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1000.0,
        "input_mb": sd.inputBytes() / MB,
        "shuffle_read_mb": sd.shuffleReadBytes() / MB,
        "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
        "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB,
        "python_udf": python_udf,
        "task_times": task_times,
    }


def summarize(stages: list[dict]) -> dict[str, float]:
    """Sum one operation's stage records into the per-layer metrics."""
    run = sum(s["run_s"] for s in stages)
    cpu = sum(s["cpu_s"] for s in stages)
    udf = [s for s in stages if s["python_udf"]]
    skews = [
        max(s["task_times"]) / statistics.median(s["task_times"])
        for s in udf
        if s["task_times"] and statistics.median(s["task_times"]) > 0
    ]
    return {
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s["tasks"] for s in stages)),
        "spark.executor_run_s": run,
        "spark.executor_cpu_s": cpu,
        "spark.jvm_gc_s": sum(s["gc_s"] for s in stages),
        "spark.offcpu_s": max(run - cpu, 0.0),
        "spark.input_mb": sum(s["input_mb"] for s in stages),
        "spark.shuffle_read_mb": sum(s["shuffle_read_mb"] for s in stages),
        "spark.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        "spark.spill_mb": sum(s["spill_mb"] for s in stages),
        "spark.task_skew": max(skews) if skews else 1.0,
        "llm_map.udf_stage_s": sum(sum(s["task_times"]) for s in udf),
        "llm_map.udf_runs": float(len(udf)),
    }


def persistent_rdds(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


def jvm_peak_rss_mb(sc) -> float:
    """VmHWM of the driver JVM (in local mode it is also the executor)."""
    pid = sc._gateway.proc.pid
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
