"""Structured Streaming: windowed aggs with watermark + custom stateful op.

Batch/stream parity matters: the registered queries (q52-q54) check window
SEMANTICS against DuckDB in batch mode; these tests check the same
expressions actually run as STREAMS (file source, availableNow trigger,
memory sink) and that the stateful operator accumulates across batches.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ai_batch_processing_spark.streaming.events import (
    stream_running_totals,
    stream_session_counts,
    stream_tumbling_counts,
    tumbling_counts,
)

EVENTS = [
    {"event_id": 1, "ts": "2024-01-01T00:05:00", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},
    {"event_id": 2, "ts": "2024-01-01T00:20:00", "user_id": 1, "event_type": "click", "value": 2.0, "props": "{}"},
    {"event_id": 3, "ts": "2024-01-01T01:10:00", "user_id": 2, "event_type": "view", "value": 3.0, "props": "{}"},
    {"event_id": 4, "ts": "2024-01-01T01:40:00", "user_id": 2, "event_type": "view", "value": 4.0, "props": "{}"},
]


@pytest.fixture()
def source_dir(tmp_path):
    d = tmp_path / "events_in"
    d.mkdir()
    (d / "batch0.json").write_text("\n".join(json.dumps(e) for e in EVENTS))
    return str(d)


def _run(spark, sdf, name, mode="complete"):
    q = sdf.writeStream.format("memory").queryName(name).outputMode(mode).trigger(availableNow=True).start()
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_tumbling_counts(spark, source_dir):
    out = _run(spark, stream_tumbling_counts(spark, source_dir), "t_tumble").collect()
    rows = {(str(r.win_start), r.event_type): (r.n, r.total_value) for r in out}
    assert rows[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert rows[("2024-01-01 01:00:00", "view")] == (2, 7.0)


def test_stream_session_counts(spark, source_dir):
    out = _run(spark, stream_session_counts(spark, source_dir, gap="20 minutes"), "t_sess").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r.n_events)
    # user 1: events 15 min apart → one session of 2 (gap 20m)
    assert sorted(by_user[1]) == [2]
    # user 2: events 30 min apart → two sessions of 1
    assert sorted(by_user[2]) == [1, 1]


def test_stream_running_totals_accumulates_across_batches(spark, tmp_path):
    # one event per user per file → state must carry across micro-batches
    d = tmp_path / "ev2"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(e) for e in [EVENTS[0], EVENTS[2]]))
    (d / "b1.json").write_text("\n".join(json.dumps(e) for e in [EVENTS[1], EVENTS[3]]))
    sdf = stream_running_totals(spark, str(d), max_files_per_trigger=1)
    q = (
        sdf.writeStream.format("memory").queryName("t_state").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_state").collect()
    assert len(rows) == 4  # 2 users × 2 micro-batches (update mode re-emits)
    final = {}
    for r in rows:
        cur = final.get(r.user_id, (0, 0.0))
        final[r.user_id] = max(cur, (r.n_events, r.total_value))
    assert final[1] == (2, 3.0)
    assert final[2] == (2, 7.0)


def test_batch_stream_parity_tumbling(spark, source_dir):
    stream_out = _run(spark, stream_tumbling_counts(spark, source_dir), "t_parity")
    batch_df = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).json(source_dir)
    batch_out = tumbling_counts(batch_df)
    s = {tuple(r) for r in stream_out.collect()}
    b = {tuple(r) for r in batch_out.collect()}
    assert s == b


def test_stream_llm_map_chunked_resume(spark, tmp_path):
    """Micro-batch LLM pipeline: availableNow drains pending files; a second
    run resumes from the checkpoint and processes ONLY new files (the
    reference's pause/resume, SURVEY.md §7.4-3)."""
    import json as _json

    from ai_batch_processing_spark.operators.llm_map import LLMConfig
    from ai_batch_processing_spark.streaming.llm_stream import stream_llm_map

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_file(i, n):
        rows = [
            {"doc_id": i * 100 + j, "text": f"doc {i}-{j}", "lang": "en", "source": "s", "n_chars": 7}
            for j in range(n)
        ]
        (src / f"f{i}.json").write_text("\n".join(_json.dumps(r) for r in rows))

    for i in range(3):
        write_file(i, 4)
    cfg = LLMConfig(prompt_template="say: {text}")
    rdds_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    q = stream_llm_map(spark, str(src), out, ckpt, cfg, max_files_per_trigger=1)
    q.awaitTermination(120)
    # each micro-batch released its pinned LLM result once written
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - rdds_before == set()
    first = spark.read.parquet(out)
    assert first.count() == 12
    row = first.filter("doc_id = 101").first()
    assert row.prompt == "say: doc 1-1" and row.response.startswith("mock:")
    assert row.error is None

    # "resume": two new files, same checkpoint → only the 6 new docs added
    write_file(3, 3)
    write_file(4, 3)
    q2 = stream_llm_map(spark, str(src), out, ckpt, cfg, max_files_per_trigger=1)
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 18
    assert final.select("doc_id").distinct().count() == 18  # nothing reprocessed


def test_stream_llm_map_pause_resume_exactly_once(spark, tmp_path):
    """Pause mid-drain, resume from the checkpoint: final output is
    identical to an uninterrupted run — no lost and no duplicated docs
    (main.py:631-638 pause/resume via trigger control + idempotent
    batch_id-keyed sink)."""
    import json as _json

    from ai_batch_processing_spark.jobs import JobRegistry
    from ai_batch_processing_spark.operators.llm_map import LLMConfig
    from ai_batch_processing_spark.streaming.llm_stream import LLMStreamJob

    src = tmp_path / "psrc"
    src.mkdir()
    out = str(tmp_path / "pout")
    ckpt = str(tmp_path / "pckpt")
    for i in range(6):
        rows = [
            {"doc_id": i * 10 + j, "text": f"d{i}-{j}", "lang": "en", "source": "s", "n_chars": 4}
            for j in range(3)
        ]
        (src / f"f{i}.json").write_text("\n".join(_json.dumps(r) for r in rows))

    cfg = LLMConfig(prompt_template="p: {text}")
    reg = JobRegistry(spark)
    job = LLMStreamJob(spark, str(src), out, ckpt, cfg, max_files_per_trigger=1)
    jid = reg.register_stream(job.start())
    import time as _time

    _time.sleep(2.0)  # let some (not necessarily all) micro-batches commit
    paused = reg.pause_stream(jid)
    assert job.active is False
    # resume drains the remainder from the checkpoint (loop: availableNow
    # self-terminates; re-resume until nothing is pending)
    assert reg.resume_stream(jid)
    job.wait(120)
    final = spark.read.parquet(out)
    assert final.count() == 18
    assert final.select("doc_id").distinct().count() == 18  # exactly once
    assert paused in (True, False)  # pause may race a finished drain; both fine


def test_stream_llm_map_replayed_batch_is_skipped(spark, tmp_path):
    """The sink is idempotent per batch_id: re-running a committed batch
    (at-least-once foreachBatch replay) must not duplicate rows or call
    the API again."""
    import json as _json

    from ai_batch_processing_spark.operators.llm_map import LLMConfig
    from ai_batch_processing_spark.streaming.llm_stream import stream_llm_map

    src = tmp_path / "rsrc"
    src.mkdir()
    out = str(tmp_path / "rout")
    (src / "f0.json").write_text(
        "\n".join(
            _json.dumps({"doc_id": j, "text": f"t{j}", "lang": "en", "source": "s", "n_chars": 2})
            for j in range(4)
        )
    )
    cfg = LLMConfig(prompt_template="p: {text}")
    q = stream_llm_map(spark, str(src), out, str(tmp_path / "rckpt1"), cfg)
    q.awaitTermination(120)
    # simulate a replay of the SAME batch: fresh checkpoint → batch_id 0
    # again, same sink dir; the _SUCCESS marker short-circuits the write
    q2 = stream_llm_map(spark, str(src), out, str(tmp_path / "rckpt2"), cfg)
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 4
    assert final.select("doc_id").distinct().count() == 4


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream funnel join: click→purchase within 30 min,
    across micro-batches, matching the batch join on the same data."""
    from ai_batch_processing_spark.streaming.events import stream_funnel_join

    d = tmp_path / "funnel_in"
    d.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "purchase", "value": 9.5, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T00:50:00", "user_id": 1, "event_type": "purchase", "value": 1.0, "props": "{}"},  # outside 30m
        {"event_id": 4, "ts": "2024-01-01T00:00:00", "user_id": 2, "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-01T00:05:00", "user_id": 3, "event_type": "purchase", "value": 7.0, "props": "{}"},  # no click
    ]
    # split across two files → two micro-batches exercise the join state store
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:2]))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows[2:]))
    out = _run(spark, stream_funnel_join(spark, str(d)), "funnel_join", mode="append")
    got = [(r.user_id, r.value) for r in out.collect()]
    assert got == [(1, 9.5)]


def test_stream_stream_left_outer_join_emits_on_watermark_expiry(spark, tmp_path):
    """Left-outer stream-stream join: a click with no purchase inside the
    interval must surface as a null-extended row — and only AFTER the
    watermark passes cts + within (state expiry), i.e. in a later
    micro-batch than the click's own. Result must equal the batch
    left-outer join over the same data."""
    from ai_batch_processing_spark.streaming.events import stream_funnel_join

    d = tmp_path / "funnel_outer_in"
    d.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "click", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "purchase", "value": 9.5, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T00:00:00", "user_id": 2, "event_type": "click", "value": 0.0, "props": "{}"},  # never converts
        {"event_id": 4, "ts": "2024-01-01T00:50:00", "user_id": 2, "event_type": "purchase", "value": 1.0, "props": "{}"},  # outside 30m
    ]
    # Far-future sentinels advance the watermark (2h delay) well past every
    # click's cts + within. Two subtleties this test pins: (a) the global
    # watermark is the MIN of the click-side and purchase-side watermarks,
    # so the sentinels must include a late CLICK and a late PURCHASE — a
    # late event of a filtered-out type advances nothing; (b) watermarks
    # move after a batch commits, so expiry takes extra micro-batches:
    # file b raises the watermark, file c's batch (plus the final no-data
    # cleanup batch) evicts and emits user 2's unmatched click.
    def sentinel(eid, ts, uid, etype):
        return {"event_id": eid, "ts": ts, "user_id": uid, "event_type": etype, "value": 0.0, "props": "{}"}

    s1 = [sentinel(98, "2024-01-01T12:00:00", 8, "click"), sentinel(97, "2024-01-01T12:00:00", 9, "purchase")]
    s2 = [sentinel(96, "2024-01-01T13:00:00", 8, "click"), sentinel(95, "2024-01-01T13:00:00", 9, "purchase")]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in s1))
    (d / "c.json").write_text("\n".join(json.dumps(r) for r in s2))
    sdf = stream_funnel_join(spark, str(d), how="left_outer", max_files_per_trigger=1)
    q = (
        sdf.writeStream.format("memory").queryName("funnel_outer").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Sentinel clicks (user 8) are younger than the final watermark, so
    # their state never expires and the stream rightly emits nothing for
    # them before stopping — parity is over the real users only.
    got = {
        (r.user_id, r.value, r.pts is None)
        for r in spark.sql("SELECT * FROM funnel_outer WHERE user_id < 8").collect()
    }
    # batch twin: same condition, left outer, over all events
    batch = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).json(str(d))
    clicks = batch.filter((F.col("event_type") == "click") & (F.col("user_id") < 8)).select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    buys = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"), "value"
    )
    expected = {
        (r.user_id, r.value, r.pts is None)
        for r in clicks.join(
            buys,
            (F.col("pu") == F.col("cu"))
            & (F.col("pts") > F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 minutes")),
            "left_outer",
        ).select(F.col("cu").alias("user_id"), "cts", "pts", "value").collect()
    }
    assert got == expected
    assert (2, None, True) in got  # the abandonment row, emitted on expiry


def test_stream_dedup_across_batches(spark, tmp_path):
    """Duplicate event_ids delivered in different micro-batches are dropped
    by the watermarked state store."""
    from ai_batch_processing_spark.streaming.events import stream_dedup_events

    d = tmp_path / "dedup_in"
    d.mkdir()
    e1 = {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"}
    e2 = {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 1, "event_type": "view", "value": 2.0, "props": "{}"}
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in [e1, e2, e1]))  # dup within batch
    (d / "b.json").write_text(json.dumps(e1))  # re-delivery in a later batch
    out = _run(spark, stream_dedup_events(spark, str(d)), "dedup_stream", mode="append")
    assert sorted(r.event_id for r in out.collect()) == [1, 2]


def test_duration_parser_units():
    import pytest as _pytest

    from ai_batch_processing_spark.streaming.events import _duration_ms

    assert _duration_ms("30 minutes") == 30 * 60 * 1000
    assert _duration_ms("2 hours") == 2 * 3600 * 1000
    assert _duration_ms("90 seconds") == 90 * 1000
    assert _duration_ms("500 ms") == 500
    assert _duration_ms("1 day") == 86_400_000
    assert _duration_ms(45) == 45_000
    assert _duration_ms("45") == 45_000
    with _pytest.raises(ValueError):
        _duration_ms("fortnight")
    with _pytest.raises(ValueError):
        _duration_ms("3 fortnights")


def test_stateful_session_timeout_emits_closed_sessions(spark, tmp_path):
    """EventTimeTimeout evicts idle per-user state and emits the finalized
    session exactly once; open sessions emit nothing."""
    from ai_batch_processing_spark.streaming.events import stream_user_sessions_with_timeout

    d = tmp_path / "sess_in"
    d.mkdir()
    batch1 = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:10:00", "user_id": 1, "event_type": "click", "value": 2.0, "props": "{}"},
    ]
    # user 2's event advances the watermark far past user 1's gap
    batch2 = [
        {"event_id": 3, "ts": "2024-01-01T03:00:00", "user_id": 2, "event_type": "view", "value": 5.0, "props": "{}"},
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in batch1))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in batch2))
    out = _run(spark, stream_user_sessions_with_timeout(spark, str(d)), "sess_timeout", mode="append")
    rows = out.collect()
    closed = {r.user_id: r for r in rows}
    assert 1 in closed  # user 1's session closed by the advanced watermark
    assert closed[1].n_events == 2 and closed[1].total_value == 3.0
    assert str(closed[1].session_start).startswith("2024-01-01 00:00")
    assert str(closed[1].session_end).startswith("2024-01-01 00:10")
    assert 2 not in closed  # user 2's session still open → not emitted


def test_stream_static_enrichment_joins_each_batch(spark, tmp_path):
    """Stream-static broadcast join: events enriched with a batch dim,
    across micro-batches, matching the equivalent batch join."""
    from ai_batch_processing_spark.streaming.events import stream_enrich_events

    d = tmp_path / "enrich_in"
    d.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:10:00", "user_id": 2, "event_type": "view", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T00:20:00", "user_id": 9, "event_type": "click", "value": 3.0, "props": "{}"},  # no dim row
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows[:2]))
    (d / "b.json").write_text(json.dumps(rows[2]))
    dim = spark.createDataFrame([(1, "gold"), (2, "trial")], "user_id long, tier string")
    out = _run(spark, stream_enrich_events(spark, str(d), dim), "enriched", mode="append")
    got = {r.event_id: r.tier for r in out.collect()}
    assert got == {1: "gold", 2: "trial", 3: None}


def test_stream_curate_documents_filters_and_dedups(spark, tmp_path):
    """Streaming curation: quality/lang filters drop junk, fingerprint
    dedup suppresses a re-ingest arriving in a later file (within the
    watermark window), and the curated schema is stable."""
    from ai_batch_processing_spark.streaming.docs_stream import stream_curate_documents

    d = tmp_path / "docs_in"
    d.mkdir()
    good = "the quick brown fox jumps over the lazy dog and runs away with the ball"
    docs1 = [
        {"doc_id": 1, "text": good, "lang": "en", "source": "crawl", "ingest_ts": "2024-01-01T00:00:00"},
        {"doc_id": 2, "text": "!!! ??? !!!", "lang": "en", "source": "crawl", "ingest_ts": "2024-01-01T00:01:00"},  # punct soup → low quality
        {"doc_id": 3, "text": good + " again", "lang": "zh", "source": "crawl", "ingest_ts": "2024-01-01T00:02:00"},  # lang filtered
    ]
    docs2 = [
        {"doc_id": 4, "text": good.upper() + "!", "lang": "en", "source": "recrawl", "ingest_ts": "2024-01-01T00:10:00"},  # same fp as 1 → deduped
        {"doc_id": 5, "text": "a genuinely different document about spark structured streaming state stores", "lang": "en", "source": "crawl", "ingest_ts": "2024-01-01T00:11:00"},
    ]
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in docs1))
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in docs2))
    out = _run(spark, stream_curate_documents(spark, str(d)), "curated_docs", mode="append")
    rows = out.collect()
    ids = sorted(r.doc_id for r in rows)
    assert ids == [1, 5]
    assert set(out.columns) == {"doc_id", "lang", "source", "ingest_ts", "quality_score", "fp"}


def test_transform_with_state_matches_applyinpandas_twin(spark, tmp_path):
    """Spark 4's transformWithStateInPandas (typed ValueState on RocksDB)
    must produce the same per-user running totals across micro-batches as
    the applyInPandasWithState implementation.

    Capability-gated like the multimodal Pillow decode: the API's state
    server speaks protobuf, which this container lacks — the operator
    stays, the test skips where protobuf is broken and runs where it
    isn't."""
    pytest.importorskip("google.protobuf.descriptor", reason="transformWithState needs protobuf")
    from ai_batch_processing_spark.streaming.events import stream_running_totals_tws

    d = tmp_path / "ev_tws"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(e) for e in [EVENTS[0], EVENTS[2]]))
    (d / "b1.json").write_text("\n".join(json.dumps(e) for e in [EVENTS[1], EVENTS[3]]))
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        sdf = stream_running_totals_tws(spark, str(d), max_files_per_trigger=1)
        q = (
            sdf.writeStream.format("memory").queryName("t_tws").outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    rows = spark.sql("SELECT * FROM t_tws").collect()
    assert len(rows) == 4  # 2 users × 2 micro-batches (update mode re-emits)
    final = {}
    for r in rows:
        cur = final.get(r.user_id, (0, 0.0))
        final[r.user_id] = max(cur, (r.n_events, r.total_value))
    assert final[1] == (2, 3.0)
    assert final[2] == (2, 7.0)


def test_stream_dedup_within_watermark_catches_restamped_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark must suppress a re-delivery whose
    event time was RE-STAMPED (different ts, same business key) — the case
    plain dropDuplicates with ts in the key misses."""
    from ai_batch_processing_spark.streaming.events import (
        stream_dedup_events,
        stream_dedup_events_within_watermark,
    )

    d = tmp_path / "dedup_wm_in"
    d.mkdir()
    e1 = {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"}
    e1r = dict(e1, ts="2024-01-01T00:03:00")  # re-stamped re-delivery
    e2 = {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": 1, "event_type": "view", "value": 2.0, "props": "{}"}
    (d / "a.json").write_text("\n".join(json.dumps(r) for r in [e1, e2]))
    (d / "b.json").write_text(json.dumps(e1r))
    out = _run(
        spark,
        stream_dedup_events_within_watermark(spark, str(d)),
        "dedup_wm_stream",
        mode="append",
    )
    assert sorted(r.event_id for r in out.collect()) == [1, 2]
    # contrast: (event_id, ts)-keyed dedup treats the re-stamp as new
    out2 = _run(spark, stream_dedup_events(spark, str(d)), "dedup_plain_stream", mode="append")
    assert sorted(r.event_id for r in out2.collect()) == [1, 1, 2]


def test_stream_llm_map_grouped_resume_continues_conversations(spark, tmp_path):
    """Grouped streaming LLM map (round-4 verdict item 5): conversations
    span micro-batches AND a pause/resume boundary via the versioned
    state table, and the final transcript is IDENTICAL to one
    uninterrupted batch-mode grouped run over the same rows — the mock
    response encodes the history length, so any lost or doubled turn
    would change the hash."""
    import json as _json

    from ai_batch_processing_spark.operators.llm_map import LLMConfig, llm_map
    from ai_batch_processing_spark.streaming.llm_stream import stream_llm_map_grouped

    src = tmp_path / "gsrc"
    src.mkdir()
    out = str(tmp_path / "gout")
    state = str(tmp_path / "gstate")
    ckpt = str(tmp_path / "gckpt")

    def write_file(i):
        rows = [
            {"doc_id": i * 10 + j, "text": f"doc {i}-{j}", "lang": lang, "source": "s", "n_chars": 7}
            for j, lang in enumerate(["en", "fr", "en"])
        ]
        (src / f"f{i}.json").write_text("\n".join(_json.dumps(r) for r in rows))

    cfg = LLMConfig(
        prompt_template="say: {text}",
        group_by="lang",
        order_by=["doc_id"],
        system_prompt="You are terse.",
    )

    # phase 1: two files drained one per micro-batch, then the trigger stops
    for i in range(2):
        write_file(i)
    q = stream_llm_map_grouped(spark, str(src), out, state, ckpt, cfg, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 6

    # "pause" happened (availableNow stopped); two more files arrive, resume
    for i in range(2, 4):
        write_file(i)
    q2 = stream_llm_map_grouped(spark, str(src), out, state, ckpt, cfg, max_files_per_trigger=1)
    q2.awaitTermination(120)
    streamed = {
        r.doc_id: (r.prompt, r.response, r.error)
        for r in spark.read.parquet(out).collect()
    }
    assert len(streamed) == 12

    # oracle: ONE batch grouped run over the union (doc_id order == file
    # order here, so the conversations evolve identically)
    all_rows = [
        (i * 10 + j, f"doc {i}-{j}", lang, "s", 7)
        for i in range(4)
        for j, lang in enumerate(["en", "fr", "en"])
    ]
    batch_df = spark.createDataFrame(
        all_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    oneshot = {
        r.doc_id: (r.prompt, r.response, r.error)
        for r in llm_map(batch_df, cfg).collect()
    }
    assert streamed == oneshot

    # the carried state holds one full transcript per group: system msg +
    # 2 turns per successful row
    latest = sorted(
        p for p in __import__("os").listdir(state) if p.startswith("batch_id=")
    )[-1]
    hist = {
        r.group: _json.loads(r.history)
        for r in spark.read.parquet(f"{state}/{latest}").collect()
    }
    assert set(hist) == {"en", "fr"}
    assert len(hist["en"]) == 1 + 2 * 8  # 8 en rows across 4 files
    assert len(hist["fr"]) == 1 + 2 * 4
    assert hist["en"][0] == {"role": "system", "content": "You are terse."}


def test_stream_cusum_matches_batch_identity_across_batches(spark, tmp_path):
    """stream_cusum_drift carried across micro-batches must emit exactly
    the sequential-recurrence trajectory q239 computes in batch (the
    prefix-sum identity with O(1) state per key)."""
    from ai_batch_processing_spark.streaming.events import stream_cusum_drift

    zs = [0.2, -0.1, 1.3, 1.1, 1.2, -2.0, 0.4, 0.9]
    rows = [
        {"event_type": "click", "hour": f"2024-01-01T{i:02d}:00:00", "z": z}
        for i, z in enumerate(zs)
    ]
    d = tmp_path / "cusum"
    d.mkdir()
    # split across two micro-batches: state must carry pf/minpf over
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows[:4]))
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[4:]))
    # the file source orders batches by modification time; same-instant
    # writes tie and can flip the batch order — pin b0 strictly older
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(d / "b0.json", (now - 60, now - 60))
    _os.utime(d / "b1.json", (now, now))
    sdf = stream_cusum_drift(spark, str(d), max_files_per_trigger=1)
    q = (
        sdf.writeStream.format("memory").queryName("t_cusum").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_cusum"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r.hour): (r.cusum, r.drifting)
        for r in spark.sql("SELECT * FROM t_cusum").collect()
    }
    # sequential reference (the recurrence form)
    S, k, h = 0.0, 0.5, 4.0
    for i, z in enumerate(zs):
        S = max(0.0, S + z - k)
        assert got[f"2024-01-01 {i:02d}:00:00"] == (round(S, 4), round(S, 4) > h)


def test_stream_ewma_matches_dyadic_reference_across_batches(spark, tmp_path):
    """stream_ewma_drift carried across micro-batches must emit exactly
    the trailing-16-hour dyadic weighted level the batch q248 self-join
    computes (independent Python reference here), including across a
    batch split and a gap in the hourly grid."""
    from ai_batch_processing_spark.streaming.events import stream_ewma_drift

    zs = [0.2, -0.1, 1.3, 1.1, 1.2, -2.0, 0.4, 0.9]
    hours = [0, 1, 2, 3, 4, 5, 7, 8]  # note the gap at hour 6
    rows = [
        {"event_type": "click", "hour": f"2024-01-01T{h:02d}:00:00", "z": z}
        for h, z in zip(hours, zs)
    ]
    d = tmp_path / "ewma"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows[:4]))
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[4:]))
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(d / "b0.json", (now - 60, now - 60))
    _os.utime(d / "b1.json", (now, now))
    sdf = stream_ewma_drift(spark, str(d), max_files_per_trigger=1)
    q = (
        sdf.writeStream.format("memory").queryName("t_ewma").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_ewma"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r.hour): r.ewma_z for r in spark.sql("SELECT * FROM t_ewma").collect()
    }
    # independent dyadic reference (the batch q248 formula)
    W = 16
    for i, (h, _z) in enumerate(zip(hours, zs)):
        num = den = 0
        for j in range(i + 1):
            dist = h - hours[j]
            if dist < W:
                w = 1 << (W - 1 - dist)
                num += round(zs[j] * 10000) * w
                den += w
        exp = round(num / (den * 10000.0), 6)
        assert got[f"2024-01-01 {h:02d}:00:00"] == exp, (h, got, exp)


def test_stream_heavy_hitters_matches_single_sweep_across_batches(spark, tmp_path):
    """The SpaceSaving summary carried across micro-batches must equal a
    single sequential sweep over the same rows in the same (ts, event_id)
    order — the bounded-state heavy-hitter twin's exactly-once contract,
    including evictions (m is set below the distinct-user count so the
    eviction path actually runs)."""
    from ai_batch_processing_spark.streaming.events import (
        spacesaving_fold,
        stream_heavy_hitters,
    )

    # 20 events over 7 users, skewed toward users 1 and 2; m=4 forces evictions
    users = [1, 2, 1, 3, 1, 2, 4, 1, 2, 5, 1, 6, 2, 1, 7, 2, 1, 3, 2, 1]
    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01T00:{i:02d}:00",
            "user_id": u,
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
        }
        for i, u in enumerate(users)
    ]
    d = tmp_path / "hh"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows[:7]))
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[7:14]))
    (d / "b2.json").write_text("\n".join(json.dumps(r) for r in rows[14:]))
    import os as _os
    import time as _time

    now = _time.time()
    for i, f in enumerate(["b0.json", "b1.json", "b2.json"]):
        _os.utime(d / f, (now - 60 * (3 - i), now - 60 * (3 - i)))
    sdf = stream_heavy_hitters(spark, str(d), m=4, max_files_per_trigger=1)
    q = (
        sdf.writeStream.format("memory").queryName("t_hh").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_hh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode re-emits the summary per batch; the final state is the
    # per-user max cnt (counts only grow)
    final = {}
    for r in spark.sql("SELECT * FROM t_hh").collect():
        final[r.user_id] = max(final.get(r.user_id, 0), r.cnt)
    # but evicted users' stale rows linger in the memory sink — reconstruct
    # the final summary from the LAST batch only via the reference fold
    import pandas as pd

    ref = spacesaving_fold(pd.Series(users), {}, 4)
    # guarantee: the final summary holds every user with true count > N/m
    # (user 1: 8 > 5, user 2: 6 > 5) with counts >= their true counts
    assert set(ref) <= set(final)
    for u, c in ref.items():
        assert final[u] == c
    true1, true2 = users.count(1), users.count(2)
    assert 1 in ref and 2 in ref
    assert ref[1] >= true1 and ref[2] >= true2


def test_stream_hll_matches_batch_registers_across_batches(spark, tmp_path):
    """HLL registers carried across micro-batches must equal the batch
    hll_registers/hll_estimate of the SAME key set — register max is
    order-insensitive, so the cross-batch fold has no ordering caveat;
    duplicate users across batches must not move the estimate."""
    from ai_batch_processing_spark.operators.sketches import hll_estimate, hll_registers
    from ai_batch_processing_spark.streaming.events import stream_hll_distinct

    users = list(range(40)) + list(range(10))  # 40 distinct, 10 replayed
    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01T00:{i % 60:02d}:00",
            "user_id": u,
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
        }
        for i, u in enumerate(users)
    ]
    d = tmp_path / "hll"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows[:25]))
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[25:]))
    import os as _os
    import time as _time

    now = _time.time()
    for i, f in enumerate(["b0.json", "b1.json"]):
        _os.utime(d / f, (now - 60 * (2 - i), now - 60 * (2 - i)))
    sdf = stream_hll_distinct(spark, str(d), max_files_per_trigger=1)
    q = (
        sdf.writeStream.format("memory").queryName("t_hll").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batches = spark.sql("SELECT * FROM t_hll").collect()
    assert len(batches) == 2  # one summary row per micro-batch
    final = min(batches, key=lambda r: -r.n_occupied)  # registers only grow
    keys = spark.createDataFrame(
        [(str(u),) for u in sorted(set(users))], "k string"
    )
    ref = hll_estimate(hll_registers(keys, "k")).collect()[0]
    assert final.n_occupied == 256 - ref.n_zero_registers
    assert abs(final.estimate - ref.hll_estimate) < 1e-9


def test_stream_hll_skips_null_user_ids(spark, tmp_path):
    """A null user_id in a micro-batch must be SKIPPED (matching the
    batch twin, where md5 of a null key is null and the row drops) —
    not raise and kill the streaming query (ADVICE r8)."""
    from ai_batch_processing_spark.operators.sketches import hll_estimate, hll_registers
    from ai_batch_processing_spark.streaming.events import stream_hll_distinct

    rows = []
    for i in range(20):
        rows.append(
            {
                "event_id": i,
                "ts": f"2024-01-01T00:{i % 60:02d}:00",
                "user_id": i if i % 4 else None,  # 5 nulls interleaved
                "event_type": "click",
                "value": 1.0,
                "props": "{}",
            }
        )
    d = tmp_path / "hll_null"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
    sdf = stream_hll_distinct(spark, str(d))
    q = (
        sdf.writeStream.format("memory").queryName("t_hll_null").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_hll_null"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None  # the null row must not kill the query
    final = spark.sql("SELECT * FROM t_hll_null").collect()[0]
    keys = spark.createDataFrame(
        [(str(i),) for i in range(20) if i % 4], "k string"
    )
    ref = hll_estimate(hll_registers(keys, "k")).collect()[0]
    assert final.n_occupied == 256 - ref.n_zero_registers
    assert abs(final.estimate - ref.hll_estimate) < 1e-9


def test_stream_log_bucket_quantiles_matches_batch(spark, tmp_path):
    """The per-key power-of-2 histogram carried across micro-batches must
    yield the SAME (n, buckets, bounds) row as q326's batch twin on the
    same rows — bucket counts are commutative sums, so batch boundaries
    cannot move the result."""
    from ai_batch_processing_spark.plans.analytics import log_bucket_quantiles
    from ai_batch_processing_spark.streaming.events import stream_log_bucket_quantiles

    vals = [0.01, 0.05, 0.2, 0.5, 1.0, 1.27, 1.28, 3.0, 7.5, 100.0, 250.0, 0.0]
    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01T00:{i % 60:02d}:00",
            "user_id": i,
            "event_type": "lat",
            "value": v,
            "props": "{}",
        }
        for i, v in enumerate(vals)
    ]
    d = tmp_path / "lbq"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows[:6]))
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[6:]))
    import os as _os
    import time as _time

    now = _time.time()
    for i, f in enumerate(["b0.json", "b1.json"]):
        _os.utime(d / f, (now - 60 * (2 - i), now - 60 * (2 - i)))
    sdf = stream_log_bucket_quantiles(spark, str(d), max_files_per_trigger=1)
    q = (
        sdf.writeStream.format("memory").queryName("t_lbq").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_lbq"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    batches = spark.sql("SELECT * FROM t_lbq").collect()
    final = max(batches, key=lambda r: r.n)  # last batch has the full n
    ev = spark.createDataFrame(
        [(i, r["ts"], r["user_id"], r["event_type"], r["value"], "{}") for i, r in enumerate(rows)],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ref = log_bucket_quantiles(ev).collect()[0]
    assert (final.n, final.p50_bucket, final.p99_bucket) == (ref.n, ref.p50_bucket, ref.p99_bucket)
    assert (final.p50_lo, final.p50_hi, final.p99_lo, final.p99_hi) == (
        ref.p50_lo, ref.p50_hi, ref.p99_lo, ref.p99_hi,
    )


def test_stream_markov_transitions_matches_batch(spark, tmp_path):
    """Per-user transition counts carried across micro-batches must equal
    q334's batch transition matrix on the same rows — INCLUDING the
    transition whose two events straddle the batch boundary (the case
    stateless windowing drops). Final cumulative rows per user, summed
    across users, are compared against the batch grid."""
    from ai_batch_processing_spark.plans.analytics import markov_transitions
    from ai_batch_processing_spark.streaming.events import stream_markov_transitions

    seq = [
        (0, "2024-01-01T00:00:00", 1, "view"),
        (1, "2024-01-01T00:01:00", 1, "click"),
        (2, "2024-01-01T00:02:00", 2, "view"),
        (3, "2024-01-01T00:03:00", 1, "purchase"),   # boundary: next batch continues user 1
        (4, "2024-01-01T00:04:00", 2, "click"),
        (5, "2024-01-01T00:05:00", 1, "view"),
        (6, "2024-01-01T00:06:00", 2, "view"),
        (7, "2024-01-01T00:07:00", 1, "click"),
    ]
    rows = [
        {"event_id": i, "ts": ts, "user_id": u, "event_type": et, "value": 1.0, "props": "{}"}
        for (i, ts, u, et) in seq
    ]
    d = tmp_path / "mkv"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows[:4]))
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[4:]))
    import os as _os
    import time as _time

    now = _time.time()
    for i, f in enumerate(["b0.json", "b1.json"]):
        _os.utime(d / f, (now - 60 * (2 - i), now - 60 * (2 - i)))
    sdf = stream_markov_transitions(spark, str(d), max_files_per_trigger=1)
    q = (
        sdf.writeStream.format("memory").queryName("t_mkv").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_mkv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = spark.sql(
        """
        SELECT prev_etype, next_etype, CAST(SUM(n_trans) AS BIGINT) AS n_trans
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id, prev_etype, next_etype
                ORDER BY n_trans DESC) AS rn
            FROM t_mkv
        ) WHERE rn = 1
        GROUP BY prev_etype, next_etype
        """
    ).collect()
    ev = spark.createDataFrame(
        [(i, ts, u, et, 1.0, "{}") for (i, ts, u, et) in seq],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ref = {(r.prev_etype, r.next_etype): r.n_trans for r in markov_transitions(ev).collect()}
    assert {(r.prev_etype, r.next_etype): r.n_trans for r in got} == ref
    # the straddling transition (user 1: purchase@b0 -> view@b1) must exist
    assert ("purchase", "view") in ref and ref[("purchase", "view")] == 1


def test_stream_w1_value_drift_matches_hand_computed(spark, tmp_path):
    """Two batches; the second batch's emission must equal the W1
    between the cumulative histograms before/after that batch, computed
    independently here; the first batch has no before-distribution and
    must emit NULL with n_before=0.

    Batch 1: values 0.02, 0.03 (centi 2,3 -> bucket 2) x2.
    Batch 2: values 1.28 x2 (centi 128 -> bucket 8).
    Before: CDF hits 1.0 at bucket 2; after: 0.5 from bucket 2..7, 1.0
    at 8 => W1 = sum over buckets 2..7 of |1.0 - 0.5| = 3.0."""
    from ai_batch_processing_spark.streaming.events import stream_w1_value_drift

    rows = [
        {"event_id": i, "ts": f"2024-01-01T00:0{i}:00", "user_id": i,
         "event_type": "m", "value": v, "props": "{}"}
        for i, v in enumerate([0.02, 0.03, 1.28, 1.28])
    ]
    d = tmp_path / "w1d"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows[:2]))
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[2:]))
    import os as _os
    import time as _time

    now = _time.time()
    for i, f in enumerate(["b0.json", "b1.json"]):
        _os.utime(d / f, (now - 60 * (2 - i), now - 60 * (2 - i)))
    sdf = stream_w1_value_drift(spark, str(d), max_files_per_trigger=1)
    q = (
        sdf.writeStream.format("memory").queryName("t_w1d").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_w1d"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    batches = sorted(spark.sql("SELECT * FROM t_w1d").collect(), key=lambda r: r.n_after)
    first, last = batches[0], batches[-1]
    assert (first.n_before, first.n_after, first.w1_buckets) == (0, 2, None)
    assert (last.n_before, last.n_after) == (2, 4)
    assert last.w1_buckets == 3.0
