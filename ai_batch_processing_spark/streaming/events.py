"""Event windows: batch window queries plus test-gated streaming operators.

The reference is batch-only with a socket.io progress side-channel
(SURVEY.md §2.9). The registered queries q52–q54 run the tumbling /
sliding / session window shapes in BATCH mode over the events table —
``F.window`` / ``F.session_window`` are batch-legal — so the window
semantics are DuckDB-oracle-checked.

The ``stream_*`` operators keep per-key state across micro-batches
(running totals, sessions closed by an event-time timeout, SpaceSaving
heavy hitters, W1 value drift) or dedup under a watermark; none has a
registered batch twin with the same result. No registered query calls
them: tests drive each with a file source and ``availableNow``. The
reference's pause/resume LLM stream lives in ``llm_stream.py``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables


# --------------------------------------------------------------------------
# batch window expressions
# --------------------------------------------------------------------------
def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "total_value")
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value") + 1e-9, 4).alias("avg_value"))
        .select(F.col("win.start").alias("win_start"), "n", "avg_value")
    )


def session_counts(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    return (
        events.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            F.col("win.start").alias("session_start"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


# --------------------------------------------------------------------------
# registered batch-mode queries (oracle-checked window semantics)
# --------------------------------------------------------------------------
@register(
    "q52_tumbling_window",
    oracle="""
        SELECT
            date_trunc('hour', ts) AS win_start,
            event_type,
            COUNT(*) AS n,
            ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY win_start, event_type
    """,
    doc="tumbling 1h window agg: per-(hour window, event_type) count and value sum.",
    bench=True,
    tags=("streaming", "window"),
)
def q52_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    return tumbling_counts(t["events"]).orderBy("win_start", "event_type")


@register(
    "q53_sliding_window",
    oracle="""
        WITH starts AS (
            SELECT CAST(s AS TIMESTAMP) AS win_start
            FROM generate_series(
                TIMESTAMP '2023-12-31 23:30:00',
                TIMESTAMP '2024-02-01 00:00:00',
                INTERVAL 30 MINUTE
            ) AS t(s)
        )
        SELECT
            win_start,
            COUNT(*) AS n,
            ROUND(AVG(value) + 1e-9, 4) AS avg_value
        FROM events
        JOIN starts ON ts >= win_start AND ts < win_start + INTERVAL 1 HOUR
        GROUP BY win_start
        ORDER BY win_start
    """,
    doc="sliding window (1h width, 30min slide): each event lands in 2 windows.",
    tags=("streaming", "window"),
)
def q53_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    return sliding_counts(t["events"]).orderBy("win_start")


@register(
    "q54_session_window",
    oracle="""
        WITH ordered AS (
            SELECT
                user_id, ts, value,
                CASE
                    WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 10 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0
                END AS is_new
            FROM events
        ),
        sess AS (
            SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM ordered
        )
        SELECT
            MIN(ts) AS session_start,
            user_id,
            COUNT(*) AS n_events,
            ROUND(SUM(value), 2) AS session_value
        FROM sess
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    doc="session window (10min gap) — gaps-and-islands oracle pins the semantics.",
    bench=True,
    tags=("streaming", "window", "session"),
)
def q54_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    return session_counts(t["events"]).orderBy("user_id", "session_start")


# --------------------------------------------------------------------------
# streaming operators (test-gated: no registered query calls them)
# --------------------------------------------------------------------------
def stream_running_totals(
    spark: SparkSession,
    source_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    ``applyInPandasWithState`` — the streaming analog of the reference's
    per-group conversation state (SURVEY.md §1.1, main.py:327)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame([{"user_id": key[0], "n_events": n, "total_value": total}])

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.json(source_dir)
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def stream_dedup_events(
    spark: SparkSession,
    source_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup on event_id (at-least-once ingestion repair).

    ``dropDuplicates`` over a watermarked stream keeps per-key state only
    until the watermark passes the event's time — bounded state, unlike an
    unwatermarked dedup that remembers every key forever. Re-deliveries
    across micro-batches are suppressed.
    """
    stream = spark.readStream.schema(schema).json(source_dir)
    return stream.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


def stream_dedup_events_within_watermark(
    spark: SparkSession,
    source_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    watermark: str = "2 hours",
) -> DataFrame:
    """``stream_dedup_events`` via ``dropDuplicatesWithinWatermark`` —
    the Spark 3.5+ operator for the case plain ``dropDuplicates`` gets
    wrong: re-deliveries whose EVENT TIME differs between copies (retry
    paths often re-stamp). Keying on event_id alone with ``ts`` in the
    key would treat a re-stamped copy as new; without ``ts`` in the key an
    unwatermarked state entry lives forever. This operator dedups on the
    business key only and guarantees suppression of duplicates arriving
    within the watermark delay of each other, evicting state afterwards —
    bounded state AND re-stamp-proof.
    """
    stream = spark.readStream.schema(schema).json(source_dir)
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


_DURATION_UNIT_MS = {
    "millisecond": 1, "milliseconds": 1, "ms": 1,
    "second": 1000, "seconds": 1000, "sec": 1000, "secs": 1000, "s": 1000,
    "minute": 60_000, "minutes": 60_000, "min": 60_000, "mins": 60_000, "m": 60_000,
    "hour": 3_600_000, "hours": 3_600_000, "h": 3_600_000,
    "day": 86_400_000, "days": 86_400_000, "d": 86_400_000,
}


def _duration_ms(spec: str | int) -> int:
    """Parse a Spark-style duration string ('30 minutes', '2 hours', '90
    seconds') — or a bare int of seconds — into milliseconds. Assuming
    minutes for every unit silently closed sessions at the wrong time
    (round-1 advice)."""
    if isinstance(spec, int):
        return spec * 1000
    parts = spec.strip().lower().split()
    if len(parts) == 2 and parts[1] in _DURATION_UNIT_MS:
        return int(parts[0]) * _DURATION_UNIT_MS[parts[1]]
    if len(parts) == 1 and parts[0].isdigit():
        return int(parts[0]) * 1000  # bare number = seconds
    raise ValueError(
        f"unparseable duration {spec!r}; use e.g. '30 minutes', '2 hours', "
        "'90 seconds', or an integer number of seconds"
    )


def stream_user_sessions_with_timeout(
    spark: SparkSession,
    source_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom sessionizer with STATE EVICTION: emits a (user, session)
    summary row once the event-time watermark passes the session's gap.

    The piece ``stream_running_totals`` doesn't show: with NoTimeout,
    per-key state lives forever — unbounded at 100 TB key cardinality.
    Here state carries (start, last, n, total) per user and uses an
    EventTimeTimeout; when no event arrives for ``gap`` past the
    watermark, the timeout fires, the closed session is EMITTED, and the
    state is dropped. Open sessions emit nothing — output is
    finalized-sessions-only, exactly once per session.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, session_start timestamp, session_end timestamp, n_events long, total_value double"
    state_schema = "start timestamp, last timestamp, n long, total double"
    gap_ms = _duration_ms(gap)

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                [{"user_id": key[0], "session_start": start, "session_end": last,
                  "n_events": n, "total_value": total}]
            )
            return
        start = last = None
        n, total = 0, 0.0
        if state.exists:
            start, last, n, total = state.get
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts = pd.to_datetime(pdf["ts"])
            start = min(start, ts.min()) if start is not None else ts.min()
            last = max(last, ts.max()) if last is not None else ts.max()
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((start, last, n, total))
        # close the session once the watermark passes last-event + gap
        state.setTimeoutTimestamp(int(last.timestamp() * 1000) + gap_ms)
        yield pd.DataFrame([], columns=["user_id", "session_start", "session_end", "n_events", "total_value"])

    stream = spark.readStream.schema(schema).json(source_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def spacesaving_fold(
    items: "pd.Series", counters: dict[int, int], m: int
) -> dict[int, int]:
    """One deterministic SpaceSaving pass (Metwally et al. 2005): at most
    ``m`` counters; a new item evicts the current minimum-count counter
    and inherits its count + 1. Fully specified tie-breaking (evict the
    LARGEST key among minimum-count counters), so any two executions
    over the same item order — streaming micro-batches or a single batch
    sweep — produce byte-identical summaries (test-pinned)."""
    for it in items:
        it = int(it)
        if it in counters:
            counters[it] += 1
        elif len(counters) < m:
            counters[it] = 1
        else:
            mn = min(counters.values())
            victim = max(k for k, v in counters.items() if v == mn)
            del counters[victim]
            counters[it] = mn + 1
    return counters


def stream_heavy_hitters(
    spark: SparkSession,
    source_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    m: int = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Per-event-type heavy hitters under BOUNDED state: a SpaceSaving
    summary (≤ ``m`` counters per key) maintained across micro-batches
    with ``applyInPandasWithState`` — the classic answer to "top users
    per event type over an unbounded stream" when exact per-user counts
    would mean unbounded state at 100 TB key cardinality. SpaceSaving
    guarantees every item with true count > N/m is in the summary and
    each reported count overestimates by ≤ the evicted minimum.

    Output per key per batch: the current summary as
    (event_type, user_id, cnt) rows. Determinism: the fold order inside
    a micro-batch is pinned by sorting the batch on (ts, event_id) —
    ``pdfs`` is an iterator of Arrow CHUNKS, so the chunks are
    concatenated FIRST and sorted as one frame, or a key spanning
    several chunks would fold in chunk-arrival order; eviction ties are
    fully specified in :func:`spacesaving_fold`. Batch parity is
    pytest-pinned against a single-sweep fold of the same rows.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "event_type string, user_id long, cnt long"
    state_schema = "users array<long>, cnts array<long>"

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        counters: dict[int, int] = {}
        if state.exists:
            users, cnts = state.get
            counters = dict(zip(users, cnts))
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            counters = spacesaving_fold(batch["user_id"], counters, m)
        ks = sorted(counters)
        state.update(([int(k) for k in ks], [int(counters[k]) for k in ks]))
        yield pd.DataFrame(
            [{"event_type": key[0], "user_id": k, "cnt": counters[k]} for k in ks],
            columns=["event_type", "user_id", "cnt"],
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.json(source_dir)
    return stream.groupBy("event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_w1_value_drift(
    spark: SparkSession,
    source_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Per-event-type Wasserstein-1 distribution drift ACROSS
    micro-batches under bounded state: each batch emits
    ``(event_type, n_before, n_after, w1_buckets)`` — the earth-mover
    distance between the key's cumulative value distribution BEFORE and
    AFTER the batch, over the q326 power-of-2 centi-unit buckets
    (W1 = Σ_b |CDF_before − CDF_after|, the q340 statistic with the
    snapshot pair replacing source-vs-rest).

    This is the streaming alarm for "this metric's distribution moved
    this batch" that per-quantile monitors blur: a shift spread across
    many buckets raises W1 in proportion to distance moved, while the
    q326 p50/p99 buckets can sit still. State is the ≤64-long
    cumulative histogram — bounded forever, commutative within a batch;
    only the batch BOUNDARY ordering is semantic (each emission compares
    consecutive snapshots). The first batch has no before-distribution:
    ``n_before = 0`` and W1 is NULL (the q340 degenerate guard).
    A two-batch test pins the emissions against hand-computed values.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "event_type string, n_before long, n_after long, w1_buckets double"
    state_schema = "buckets array<long>"
    NB = 64

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        before = list(state.get[0]) if state.exists else [0] * NB
        counts = list(before)
        for p in pdfs:
            for v in p["value"].dropna():
                s = int(round(v * 100))
                if s <= 0:
                    continue
                counts[min(s.bit_length(), NB) - 1] += 1
        state.update(([int(c) for c in counts],))
        n_b, n_a = sum(before), sum(counts)
        if n_a == 0:
            return
        if n_b == 0:
            w1 = None
        else:
            ck_b = ck_a = 0
            acc = 0.0
            for i in range(NB):
                ck_b += before[i]
                ck_a += counts[i]
                acc += abs(ck_b / n_b - ck_a / n_a)
            w1 = round(acc, 6)
        yield pd.DataFrame(
            [{"event_type": key[0], "n_before": n_b, "n_after": n_a, "w1_buckets": w1}]
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.json(source_dir)
    return stream.groupBy("event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
