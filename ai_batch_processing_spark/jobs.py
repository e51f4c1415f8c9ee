"""Job control and progress reporting — the reference's run-control surface
re-expressed on Spark's scheduler primitives.

Reference surface (SURVEY.md §2.11): ``POST /start_processing`` creates a
job dict, ``POST /stop_processing`` flips a cooperative flag
(main.py:640-647), ``GET /get_status`` reports current/total/completed/
errors/rate/eta (main.py:649-669), and socket.io streams progress events
(main.py:475-485). Pause/resume (main.py:631-638) has no Spark BATCH
analog; the streaming pipeline provides it (``register_stream`` /
``pause_stream`` / ``resume_stream`` over ``LLMStreamJob``: stop the
micro-batch trigger, keep the checkpoint, restart exactly where it left
off). For batch jobs, stop-with-partial-results is provided.

Spark mapping:
- a job = one action executed under a Spark **job group**
  (``sc.setJobGroup``) on a dedicated thread — the group id is the cancel
  handle, so stop is ``sc.cancelJobGroup`` (not a cooperative per-row
  poll): running tasks are killed, scheduled ones never start.
- progress = polling ``sc.statusTracker()`` for the group's active
  stages — the scheduler's own task counters, no listener callback server
  needed from Python. Events fire through a user callback, the analog of
  the socket.io emit.
- rate/ETA (main.py:653-657) derive from completed-task counts and
  wall-clock, same arithmetic as the reference.
- materialised intermediates, two kinds, one release path:
  :func:`pin` stores rows that must be computed exactly once (an LLM
  call's responses, a row numbering); :func:`cache` keeps a scratch frame
  that several branches read in Spark's columnar cache, which may be
  recomputed if evicted. Both are released when the enclosing
  :func:`pin_scope` closes (a job, a stream batch, a query, or an operator
  that stores its result before it returns), so a long-lived registry
  session accumulates no blocks.
"""

from __future__ import annotations

import contextlib
import threading
import time
import traceback
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

ProgressCallback = Callable[[dict[str, Any]], None]

_SCOPE = threading.local()


def pin(df: DataFrame) -> DataFrame:
    """Materialise ``df`` once for every later reader:
    ``localCheckpoint(eager=False)``.

    The call is not fully lazy. Building the checkpoint RDD runs the
    plan's broadcast stages, and under AQE also its shuffle-map stages,
    because AQE plans the final stage only once its inputs exist (a
    groupBy+join frame runs 2 jobs at call time with AQE on, 1 with it
    off). Only the result stage waits: the first action computes and
    stores the rows, and every later action reads the stored rows.

    Inside a :func:`pin_scope` on this thread the pinned frame is recorded
    and released when the scope closes; outside one, its blocks wait for
    ContextCleaner to reclaim them once the frame is unreachable.
    """
    pinned = df.localCheckpoint(eager=False)
    frames = getattr(_SCOPE, "frames", None)
    if frames is not None:
        frames.append(pinned)
    return pinned


def cache(df: DataFrame) -> DataFrame:
    """Keep ``df`` in Spark's columnar cache (``persist()``, memory and
    disk) for the several branches that read it.

    This is for scratch frames that are cheap to recompute: a read of
    cached columns prunes to the columns it needs, and evicted blocks are
    rebuilt from the plan. Rows that must never be recomputed go through
    :func:`pin` instead.

    Inside a :func:`pin_scope` on this thread the frame is recorded and
    unpersisted when the scope closes; outside one, it stays cached until
    the session's cache is cleared.
    """
    df.persist()
    cached = getattr(_SCOPE, "cached", None)
    if cached is not None:
        cached.append(df)
    return df


@contextlib.contextmanager
def pin_scope():
    """Release every frame :func:`pin` and :func:`cache` record on this
    thread inside the block when the block exits, normally or by an
    exception.

    One rule covers every caller: a function that stores its result before
    it returns (an eager ``localCheckpoint``, or rows collected to the
    driver) runs its body in a scope of its own; a function that returns a lazy frame over
    its scratch frames opens none, and its caller's scope releases them.

    Keyed by thread, not by Spark job group: callers set job groups of
    their own, and a pin kept under a group nothing releases would hold a
    strong reference forever and block ContextCleaner. Read a frame made
    inside the scope only while it is open: afterwards a pinned one fails
    with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` and a cached one is
    recomputed from its plan.
    """
    outer = getattr(_SCOPE, "frames", None), getattr(_SCOPE, "cached", None)
    _SCOPE.frames, _SCOPE.cached = frames, cached = [], []
    try:
        yield
    finally:
        _SCOPE.frames, _SCOPE.cached = outer
        for pinned in frames:
            pinned._jdf.queryExecution().logical().rdd().unpersist(False)
        for df in cached:
            df.unpersist()


@dataclass
class JobStatus:
    """Mutable status record — field names follow main.py:293-303."""

    job_id: str
    status: str = "pending"  # pending | running | completed | stopped | failed
    total_tasks: int = 0
    completed_tasks: int = 0
    active_tasks: int = 0
    failed_tasks: int = 0
    started_at: float | None = None
    finished_at: float | None = None
    error: str | None = None
    result: Any = None

    def snapshot(self) -> dict[str, Any]:
        d = {
            "job_id": self.job_id,
            "status": self.status,
            "total_tasks": self.total_tasks,
            "completed_tasks": self.completed_tasks,
            "active_tasks": self.active_tasks,
            "failed_tasks": self.failed_tasks,
            "error": self.error,
        }
        # items/minute + ETA seconds, the reference's live metrics
        # (main.py:653-657) computed over scheduler tasks.
        if self.started_at and self.completed_tasks:
            elapsed = (self.finished_at or time.time()) - self.started_at
            rate = self.completed_tasks / max(elapsed / 60.0, 1e-9)
            remaining = max(self.total_tasks - self.completed_tasks, 0)
            d["rate_per_min"] = round(rate, 2)
            d["eta_seconds"] = round(remaining / max(rate / 60.0, 1e-9), 1)
        return d


class JobRegistry:
    """Tracks jobs for one SparkSession; start/stop/status like main.py's
    module-level ``processing_jobs`` dict, minus the one-job-at-a-time cap."""

    def __init__(self, spark: SparkSession, poll_interval: float = 0.25):
        self._spark = spark
        self._poll = poll_interval
        self._jobs: dict[str, JobStatus] = {}
        self._threads: dict[str, threading.Thread] = {}
        self._streams: dict[str, Any] = {}  # job_id → LLMStreamJob
        self._lock = threading.Lock()

    # -- lifecycle ----------------------------------------------------------
    def submit(
        self,
        action: Callable[[SparkSession], Any],
        on_progress: ProgressCallback | None = None,
        job_id: str | None = None,
    ) -> str:
        """Run ``action(spark)`` (any DataFrame action) as a stoppable job.

        The action executes on a worker thread inside a job group named by
        ``job_id``; progress events stream to ``on_progress`` while it runs.

        The action runs inside a :func:`pin_scope`: every frame it pins
        (``llm_map``'s result, ``partition_offsets``' numbering) is released
        before the job reports finished, whether it completed, failed or was
        stopped. So a frame built inside the action must not be read after
        the job returns; actions return values, not frames.
        """
        job_id = job_id or f"job_{uuid.uuid4().hex[:12]}"
        st = JobStatus(job_id=job_id)
        with self._lock:
            self._jobs[job_id] = st

        def run() -> None:
            sc = self._spark.sparkContext
            st.status = "running"
            st.started_at = time.time()
            # Job-group tag lives on this thread; every action the callable
            # triggers belongs to the group and is cancellable as a unit.
            sc.setJobGroup(job_id, f"ai_batch_processing_spark {job_id}", interruptOnCancel=True)
            stop_poll = threading.Event()
            poller = threading.Thread(
                target=self._poll_progress, args=(job_id, st, stop_poll, on_progress), daemon=True
            )
            poller.start()
            try:
                with pin_scope():
                    st.result = action(self._spark)
                st.status = "completed"
            except Exception as exc:  # cancellation surfaces as a Py4J error
                if st.status != "stopped":
                    st.status = "failed"
                    st.error = f"{type(exc).__name__}: {exc}"
                    st.error_trace = traceback.format_exc()  # type: ignore[attr-defined]
            finally:
                st.finished_at = time.time()
                # PySpark exposes no clearJobGroup; drop the thread-local tag.
                sc.setLocalProperty("spark.jobGroup.id", None)
                stop_poll.set()
                poller.join(timeout=2.0)
                if st.status == "completed":
                    # the last poll can catch a trailing stage mid-flight;
                    # a completed action means every scheduled task ran.
                    st.completed_tasks = st.total_tasks
                    st.active_tasks = 0
                if on_progress:
                    on_progress({"event": "job_finished", **st.snapshot()})

        t = threading.Thread(target=run, daemon=True, name=job_id)
        with self._lock:
            self._threads[job_id] = t
        t.start()
        return job_id

    def stop(self, job_id: str) -> bool:
        """main.py:640-647 analog: running tasks are cancelled, the job
        flips to 'stopped'. Returns False for unknown/finished jobs."""
        st = self._jobs.get(job_id)
        if st is None or st.status not in ("pending", "running"):
            return False
        st.status = "stopped"
        self._spark.sparkContext.cancelJobGroup(job_id)
        return True

    # -- streaming jobs (pause/resume, main.py:631-638 analog) --------------
    def register_stream(self, stream_job, job_id: str | None = None) -> str:
        """Track an :class:`~ai_batch_processing_spark.streaming.llm_stream.
        LLMStreamJob` so pause/resume joins the job-control surface."""
        job_id = job_id or f"stream_{uuid.uuid4().hex[:12]}"
        with self._lock:
            self._streams[job_id] = stream_job
        return job_id

    def pause_stream(self, job_id: str) -> bool:
        """POST /pause_processing analog: stop the trigger, keep the
        checkpoint. Returns False for unknown/not-running streams."""
        sj = self._streams.get(job_id)
        return sj is not None and sj.pause()

    def resume_stream(self, job_id: str) -> bool:
        """POST /resume_processing analog: restart from the checkpoint —
        committed micro-batches are never reprocessed."""
        sj = self._streams.get(job_id)
        if sj is None:
            return False
        sj.resume()
        return True

    def wait(self, job_id: str, timeout: float | None = None) -> JobStatus:
        t = self._threads.get(job_id)
        if t is not None:
            t.join(timeout)
        return self._jobs[job_id]

    def status(self, job_id: str) -> dict[str, Any]:
        """GET /get_status analog (main.py:649-669)."""
        return self._jobs[job_id].snapshot()

    def reset(self) -> None:
        """/reset_system analog (main.py:671-677): stop everything, clear."""
        for job_id in list(self._jobs):
            self.stop(job_id)
        with self._lock:
            self._jobs.clear()
            self._threads.clear()

    # -- progress -----------------------------------------------------------
    def _poll_progress(
        self,
        job_id: str,
        st: JobStatus,
        stop: threading.Event,
        on_progress: ProgressCallback | None,
    ) -> None:
        """Poll the scheduler's StatusTracker for the job group's stages.

        Task counters come from the DAGScheduler itself — accurate across
        executors with zero instrumentation inside operators (the analog of
        main.py:475-485's per-item socket.io emits, at stage/task
        granularity)."""
        tracker = self._spark.sparkContext.statusTracker()
        last = (-1, -1, -1, -1)
        while not stop.wait(self._poll):
            total = done = active = failed = 0
            try:
                for jid in tracker.getJobIdsForGroup(job_id):
                    jinfo = tracker.getJobInfo(jid)
                    if jinfo is None:
                        continue
                    for sid in jinfo.stageIds:
                        sinfo = tracker.getStageInfo(sid)
                        if sinfo is None:
                            continue
                        total += sinfo.numTasks
                        done += sinfo.numCompletedTasks
                        active += sinfo.numActiveTasks
                        failed += sinfo.numFailedTasks
            except Exception:
                continue  # tracker races with job teardown; next tick retries
            st.total_tasks, st.completed_tasks = total, done
            st.active_tasks, st.failed_tasks = active, failed
            cur = (total, done, active, failed)
            if on_progress and cur != last:
                last = cur
                on_progress({"event": "progress_update", **st.snapshot()})
