"""Streaming LLM map — chunked micro-batch processing with pause/resume.

The reference's pause/resume (main.py:391-392, 631-638) has no Spark
batch analog (SURVEY.md §7.4-3); the honest Spark shape is micro-batch
streaming: documents arrive as files, each trigger processes a bounded
chunk through ``llm_map``, results append to a sink, and the checkpoint
makes stop/restart exact — "pause" is stopping the trigger, "resume" is
restarting the query from the checkpoint (:class:`LLMStreamJob`).

``foreachBatch`` is the right boundary: inside the hook each micro-batch
is an ordinary DataFrame, so the full batch operator (template, grouping,
retry, error isolation) is reused verbatim — one code path for batch and
streaming, which is the point of Structured Streaming.

Delivery semantics: ``foreachBatch`` alone is at-least-once — a failure
between the sink write and the checkpoint commit replays the micro-batch.
The sink here is therefore keyed by ``batch_id``: a replayed batch
overwrites its own directory (idempotent) and a batch whose ``_SUCCESS``
marker already exists is skipped entirely, which also avoids paying for
the same API calls twice. Net effect: exactly-once output.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from ai_batch_processing_spark.jobs import pin_scope
from ai_batch_processing_spark.operators.llm_map import LLMConfig, Message, llm_map

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stream_llm_map(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: LLMConfig,
    schema: str = DOC_SCHEMA,
    max_files_per_trigger: int = 1,
    client_factory=None,
):
    """Process document files through the LLM map as they land.

    Returns the started StreamingQuery (trigger=availableNow: drain what
    exists, then stop — call again after new files arrive to resume from
    the checkpoint). ``max_files_per_trigger`` bounds chunk size, the
    micro-batch analog of the reference's batch-size cap.
    """

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        target = f"{out_dir}/batch_id={batch_id}"
        # Idempotence gate: replay of a committed batch (at-least-once
        # foreachBatch) is a no-op; an uncommitted partial write is
        # overwritten atomically under the same batch_id key.
        marker = sess._jvm.org.apache.hadoop.fs.Path(target + "/_SUCCESS")
        fs = marker.getFileSystem(sess._jsc.hadoopConfiguration())
        if fs.exists(marker):
            return
        # the batch's pinned LLM result is released once it is written, so
        # a long stream keeps no pin per micro-batch
        with pin_scope():
            out = llm_map(batch_df, cfg, client_factory=client_factory)
            out.write.mode("overwrite").parquet(target)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _fs_exists(sess: SparkSession, path: str) -> bool:
    jp = sess._jvm.org.apache.hadoop.fs.Path(path)
    return jp.getFileSystem(sess._jsc.hadoopConfiguration()).exists(jp)


def _load_latest_state(
    sess: SparkSession, state_dir: str, before_batch: int
) -> dict[str, list[Message]]:
    """The newest COMMITTED conversation-state snapshot with batch id <
    ``before_batch`` (empty dict if none). States are versioned per batch
    — a replayed batch therefore reads exactly the snapshot its original
    run read, never its own output (exactly-once state evolution on top
    of at-least-once foreachBatch delivery)."""
    jvm = sess._jvm
    root = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = root.getFileSystem(sess._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return {}
    best = -1
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        try:
            k = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if best < k < before_batch and _fs_exists(sess, f"{state_dir}/{name}/_SUCCESS"):
            best = k
    if best < 0:
        return {}
    rows = sess.read.parquet(f"{state_dir}/batch_id={best}").collect()
    return {r.group: json.loads(r.history) for r in rows}


def _apply_turns(
    prev: dict[str, list[Message]], out_rows, system_prompt: str | None
) -> dict[str, list[Message]]:
    """Fold a batch's output rows into the carried conversation logs:
    each SUCCESSFUL row appends its (user prompt, assistant response)
    turn in row order; failed rows leave no trace — exactly the in-task
    history evolution of ``llm_map``'s ``_complete_row``, re-derived
    deterministically from the committed output so the state write needs
    no side channel out of the executors."""
    hist = {k: [dict(m) for m in v] for k, v in prev.items()}
    for r in sorted(out_rows, key=lambda r: (str(r.group), r.row_index)):
        key = str(r.group)
        h = hist.get(key)
        if h is None:
            h = [{"role": "system", "content": system_prompt}] if system_prompt else []
            hist[key] = h
        if r.error is None and r.response is not None:
            h.append({"role": "user", "content": r.prompt})
            h.append({"role": "assistant", "content": r.response})
    return hist


def stream_llm_map_grouped(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    cfg: LLMConfig,
    schema: str = DOC_SCHEMA,
    max_files_per_trigger: int = 1,
    client_factory=None,
):
    """Grouped-conversation streaming LLM map with cross-batch history.

    The batch grouped mode (``llm_map`` with ``group_by``) keeps each
    conversation inside one ``applyInPandas`` call — so a killed job
    re-runs whole groups and "pause" cannot exist mid-conversation. This
    form closes that gap (round-4 verdict item 5): documents stream in as
    files, every micro-batch runs the SAME grouped operator, and each
    group's conversation log is carried across batches through a
    versioned state table:

    - batch N seeds ``llm_map`` with the newest committed state < N
      (``initial_histories``), so a group spanning batches — or a
      pause/restart boundary — continues its conversation exactly where
      it stopped;
    - the batch output is written idempotently under ``batch_id=N`` (the
      ``stream_llm_map`` _SUCCESS-gate pattern);
    - the new state (previous state + this batch's successful turns, in
      row order) is derived from the COMMITTED output parquet and written
      under its own ``batch_id=N`` state version. A crash anywhere
      replays batch N against the same < N state and rewrites the same
      two directories: at-least-once delivery + keyed idempotent writes =
      exactly-once conversations.

    State size rides the driver briefly per batch (groups × history) —
    chat-sized by the same ``max_group_rows`` argument as batch mode, and
    the reference holds the identical dict in memory (main.py:402-431).
    Returns the started StreamingQuery (availableNow drain semantics).
    """
    if cfg.group_by is None:
        raise ValueError("stream_llm_map_grouped requires cfg.group_by (grouped mode)")

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        target = f"{out_dir}/batch_id={batch_id}"
        state_target = f"{state_dir}/batch_id={batch_id}"
        prev = _load_latest_state(sess, state_dir, batch_id)
        if not _fs_exists(sess, target + "/_SUCCESS"):
            with pin_scope():
                out = llm_map(
                    batch_df, cfg, client_factory=client_factory, initial_histories=prev
                )
                out.write.mode("overwrite").parquet(target)
        if not _fs_exists(sess, state_target + "/_SUCCESS"):
            out_rows = (
                sess.read.parquet(target)
                .select("group", "row_index", "prompt", "response", "error")
                .collect()
            )
            new_state = _apply_turns(prev, out_rows, cfg.system_prompt)
            sess.createDataFrame(
                [(k, json.dumps(v)) for k, v in sorted(new_state.items())],
                "group string, history string",
            ).coalesce(1).write.mode("overwrite").parquet(state_target)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class LLMStreamJob:
    """Pause/resume surface over the micro-batch LLM stream.

    The reference pauses by flipping a flag the sequential loop polls
    (main.py:631-638); the Spark analog is trigger control: ``pause()``
    stops the StreamingQuery (checkpoint intact — the in-flight batch
    either commits or is replayed idempotently on resume), ``resume()``
    restarts from the checkpoint so already-committed batches are never
    reprocessed. Register instances with ``JobRegistry.register_stream``
    for the job-control surface.
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        out_dir: str,
        checkpoint_dir: str,
        cfg: LLMConfig,
        schema: str = DOC_SCHEMA,
        max_files_per_trigger: int = 1,
        client_factory=None,
        state_dir: str | None = None,
    ):
        self._spark = spark
        self._source_dir = source_dir
        self._out_dir = out_dir
        self._checkpoint_dir = checkpoint_dir
        self._cfg = cfg
        self._schema = schema
        self._max_files = max_files_per_trigger
        self._client_factory = client_factory
        # grouped configs carry conversations across batches through a
        # versioned state table (stream_llm_map_grouped); it lives next to
        # the checkpoint unless placed explicitly
        self._state_dir = state_dir or f"{checkpoint_dir}_state"
        self._query = None
        self.paused = False

    def start(self) -> "LLMStreamJob":
        if self._cfg.group_by is not None:
            self._query = stream_llm_map_grouped(
                self._spark,
                self._source_dir,
                self._out_dir,
                self._state_dir,
                self._checkpoint_dir,
                self._cfg,
                schema=self._schema,
                max_files_per_trigger=self._max_files,
                client_factory=self._client_factory,
            )
        else:
            self._query = stream_llm_map(
                self._spark,
                self._source_dir,
                self._out_dir,
                self._checkpoint_dir,
                self._cfg,
                schema=self._schema,
                max_files_per_trigger=self._max_files,
                client_factory=self._client_factory,
            )
        self.paused = False
        return self

    def pause(self) -> bool:
        """Stop the trigger, keep the checkpoint. False if not running."""
        q = self._query
        if q is None or not q.isActive:
            return False
        q.stop()
        q.awaitTermination(60)
        self.paused = True
        return True

    def resume(self) -> "LLMStreamJob":
        """Restart from the checkpoint (also picks up files that arrived
        while paused)."""
        return self.start()

    def wait(self, timeout: float | None = None) -> bool:
        """Block until the current drain finishes (availableNow stops on
        its own once everything pending is processed)."""
        if self._query is None:
            return True
        return self._query.awaitTermination(timeout)

    @property
    def active(self) -> bool:
        return self._query is not None and self._query.isActive
