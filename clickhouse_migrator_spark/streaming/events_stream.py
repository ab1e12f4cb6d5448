"""Structured Streaming over the events table (SURVEY.md §2.D / §7 M5).

The reference has no streaming at all (its exhaustiveness statement —
"no streaming (watermarks/windows/state)"); this is driver-mandated new
surface.  Batch and streaming share the same event-time operators
(`F.window` / `F.session_window`), so the batch oracles certify the
streaming plans too: ``streaming_tumbling_hourly`` below runs a real
``readStream → groupBy(window) → writeStream(memory)`` pipeline with an
availableNow trigger and is checked against the same DuckDB oracle as
the batch version.

Scale notes: in production the source is a directory/Kafka stream; the
aggregation state is partitioned by (window, key); watermarks bound
state (`withWatermark`) so 100 TB/day of events doesn't accumulate
unbounded sessions.  `applyInPandasWithState` (see
:func:`sessionize_with_state`) is the custom-stateful-operator
escape hatch.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import memo
from ..registry import register
from ..session import ensure_runtime_confs
from ..tables import table


def events_schema(spark: SparkSession, sf_dir: str):
    """The events parquet schema, a session memo (:mod:`..memo`).
    Every streaming query needs the batch-read schema to declare its
    file source; the footer read costs ~80 ms driver-side and was paid
    up to 3× per query — now once per session per corpus, re-read when
    events.parquet is rewritten in place."""
    ensure_runtime_confs(spark)
    return memo.get(
        spark,
        sf_dir,
        "events_schema",
        lambda: (spark.read.parquet(f"{sf_dir}/events.parquet").schema, ()),
        reads=("events",),
        fill=False,
    )


def _ts_is_bigint(schema) -> bool:
    return any(
        f.name == "ts" and f.dataType.simpleString() == "bigint"
        for f in schema.fields
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the same ns→µs timestamp
    normalization as the batch loader."""
    raw_schema = events_schema(spark, sf_dir)
    # glob (not the bare file path): the file stream source requires a
    # directory base path; the wildcard keeps the base at sf_dir.
    s = spark.readStream.schema(raw_schema).parquet(f"{sf_dir}/events.*")
    if _ts_is_bigint(raw_schema):
        s = s.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return s


def raise_on_late_drops(query) -> None:
    """Fail loudly if the drain silently discarded late rows (VERDICT
    r11 #6).  Two signals, both read from the query's progress log
    (which survives ``stop()``):

    - ``numRowsDroppedByWatermark`` summed over state operators — the
      counted path for windowed aggregations / dedup / joins;
    - any micro-batch that still reports input rows AFTER the watermark
      reached the flush sentinel's far-future level.  This is the
      ``applyInPandasWithState`` case: Spark filters its late input
      WITHOUT counting it, so the metric above stays 0 — but a
      post-sentinel batch with input rows can only contain rows that
      are late by construction (every real event predates the sentinel)
      and is proof the backlog was split across triggers (e.g.
      ``maxFilesPerTrigger``) instead of draining in one batch.
    """
    dropped = 0
    post_sentinel_rows = 0
    batches = 0
    for p in query.recentProgress:
        batches += 1
        for op in (p.get("stateOperators") or []):
            dropped += int(op.get("numRowsDroppedByWatermark") or 0)
        wm = (p.get("eventTime") or {}).get("watermark") or ""
        if wm >= _SENTINEL_WATERMARK_FLOOR:
            post_sentinel_rows += int(p.get("numInputRows") or 0)
    if dropped or post_sentinel_rows:
        raise RuntimeError(
            f"streaming drain discarded late rows: "
            f"numRowsDroppedByWatermark={dropped}, rows arriving after "
            f"the flush sentinel advanced the watermark="
            f"{post_sentinel_rows}, across {batches} micro-batch(es). "
            "With flush_trailing=True this means the backlog was split "
            "across triggers AFTER the sentinel advanced the watermark "
            "— remove per-source rate limits (e.g. maxFilesPerTrigger) "
            "so the drain ingests the whole backlog in one batch."
        )


def run_to_memory(
    agg: DataFrame,
    mode: str = "complete",
    timeout_s: int = 120,
    partitions: int = 8,
    require_no_late_drops: bool = False,
) -> str:
    """Run a streaming aggregation to completion into a memory sink with
    an availableNow trigger; returns the sink table name.

    The stream runs with a REDUCED shuffle-partition count (default 8):
    every stateful partition carries a state-store instance plus (for
    Pandas operators) a Python worker round trip PER MICRO-BATCH, so
    idle partitions are pure overhead at test scale (widening the
    Python-stateful queries to 32 was measured NEUTRAL — the per-key
    cost sits in the JVM-side state/Arrow framing on the task thread,
    not in Python parallelism).  A real deployment sizes this to
    key-cardinality/throughput instead — the number is pinned into the
    query's checkpoint, not a semantic choice."""
    spark = agg.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    name = "stream_out_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
        q.stop()
        if require_no_late_drops:
            raise_on_late_drops(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return name


@register(
    "streaming_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket_start, event_type,
           count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch `events_tumbling_hourly` computed by an actual
    Structured Streaming pipeline (file stream source → windowed
    aggregation → memory sink, availableNow)."""
    agg = (
        stream_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return spark.table(run_to_memory(agg))


@register(
    "streaming_sliding_2h_1h",
    oracle="""
    SELECT date_trunc('hour', ts) - k * INTERVAL '1 hour' AS window_start,
           count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) offsets
    GROUP BY 1
    """,
)
def streaming_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch `events_sliding_2h_1h` (2h windows, 1h slide — every
    event in two windows) computed by a real streaming pipeline.
    Overlapping-window state is keyed by window-start, so state size is
    #open-windows × #keys, bounded by a watermark in production."""
    agg = (
        stream_events(spark, sf_dir)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    return spark.table(run_to_memory(agg))


@register(
    "streaming_enrich_mktsegment",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def streaming_enrich_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the static
    customer dimension (broadcast — re-read per micro-batch, never
    shuffled), then aggregated by segment.  The canonical "enrich a
    firehose with a dimension table" pipeline shape."""
    ev = stream_events(spark, sf_dir)
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total_value"),
        )
    )
    return spark.table(run_to_memory(agg)).orderBy("c_mktsegment")


def tumbling_with_watermark(spark: SparkSession, sf_dir: str, late: str = "2 hours") -> DataFrame:
    """Watermarked append-mode tumbling aggregation — the late-data
    policy variant (events later than ``late`` are dropped; only
    finalized windows emit).  Returned as the streaming DataFrame for
    callers/tests to run."""
    return (
        stream_events(spark, sf_dir)
        # watermarks require TIMESTAMP (LTZ); identical wall-time under
        # the engine's UTC session timezone
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", late)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n_events")
    )


@register(
    "streaming_stateful_sessions",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState sessionizer run as a REAL two-batch
    stream: batch 1 is the events file, batch 2 a far-future sentinel
    that advances the watermark so every open session's event-time
    timeout fires and flushes.  Output (sentinel excluded) equals the
    batch gaps-and-islands sessionization — certified by the same
    oracle."""
    import datetime as _dt
    import glob as _glob
    import os
    import shutil
    import tempfile
    import time as _time

    src = tempfile.mkdtemp(prefix="stateful_stream_")
    try:
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/a_events.parquet")
        raw_schema = events_schema(spark, sf_dir)
        # Write the sentinel with Spark against the fixture's own schema so
        # the parquet timestamp annotation (unit + ntz/ltz) matches batch 1
        # exactly — a pandas-written file can carry nanosecond timestamps the
        # vectorized reader refuses to convert.
        ts_far = _dt.datetime(2030, 1, 1)
        if _ts_is_bigint(raw_schema):
            sent_ts_col = F.lit(int(ts_far.timestamp() * 1_000_000_000))
        else:
            sent_ts_col = F.lit("2030-01-01 00:00:00")
        sent_vals = {
            "event_id": F.lit(10**9),
            "ts": sent_ts_col,
            "user_id": F.lit(999_999_999),
            "event_type": F.lit("view"),
            "value": F.lit(0.0),
            "props": F.lit("{}"),
        }
        sent_dir = tempfile.mkdtemp(prefix="stateful_sentinel_")
        # select-built literal row, NOT createDataFrame(rows, schema):
        # the local-rows path costs ~6 s of driver-side conversion per
        # write (measured r5); the select plan writes in ~0.2 s warm
        spark.range(1).select(
            *[
                sent_vals[f.name].cast(f.dataType).alias(f.name)
                for f in raw_schema.fields
            ]
        ).coalesce(1).write.mode("overwrite").parquet(sent_dir)
        shutil.move(
            _glob.glob(f"{sent_dir}/part-*.parquet")[0], f"{src}/b_sentinel.parquet"
        )
        shutil.rmtree(sent_dir, ignore_errors=True)
        now = _time.time()
        os.utime(f"{src}/a_events.parquet", (now - 100, now - 100))
        os.utime(f"{src}/b_sentinel.parquet", (now, now))
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        if _ts_is_bigint(raw_schema):
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
            )
        name = run_to_memory(sessionize_with_state(stream), mode="append", timeout_s=180)
        return (
            spark.table(name)
            .filter(F.col("user_id") != 999_999_999)
            .select(
                "user_id",
                F.col("session_start").cast("timestamp_ntz").alias("session_start"),
                F.col("session_end").cast("timestamp_ntz").alias("session_end"),
                "n_events",
                F.round("total_value", 2).alias("total_value"),
            )
        )
    finally:
        # the memory sink has materialized everything by the time
        # run_to_memory returns; the temp dir only backs the (stopped)
        # stream, but the returned DataFrame is from the sink table —
        # safe to leave cleanup to the OS tempdir policy if this fails
        pass


SESSION_STATE_SCHEMA = "start TIMESTAMP, last TIMESTAMP, n BIGINT, total DOUBLE"
SESSION_OUT_SCHEMA = (
    "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, "
    "n_events BIGINT, total_value DOUBLE"
)


# mkdtemp directories created for sentinel batches: the stream reads the
# file for the drain's whole lifetime, so they can only be removed at
# process exit (ADVICE r11: the per-call directory used to leak with no
# cleanup registration at all)
_SENTINEL_DIRS: list[str] = []

# Sentinel event time for flush_trailing, and the (ISO-comparable)
# watermark level at which a micro-batch with input rows can only be
# processing rows that are late by construction — any watermark ≥ this
# floor implies the sentinel already passed (real generators produce
# nothing within decades of it).
_SENTINEL_TS = "2100-01-01 00:00:00"
_SENTINEL_WATERMARK_FLOOR = "2099-01-01"


def _cleanup_sentinel_dirs() -> None:  # pragma: no cover - exit hook
    import shutil

    for d in _SENTINEL_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _watermark_sentinel_union(
    events: DataFrame, sentinel_user_id: int
) -> DataFrame:
    """Union ``events`` with a one-row far-future streaming batch (a
    single parquet file behind a file-source stream) that advances the
    event-time watermark past every open session's ``last + pad`` — the
    same trick the registered mirror builds by hand.  The sentinel row
    carries ``sentinel_user_id`` so the caller can drop its own
    "session" from the output."""
    import atexit
    import tempfile

    from pyspark.sql.types import TimestampNTZType, TimestampType

    spark = events.sparkSession
    schema = events.schema
    ts_type = schema["ts"].dataType
    if not isinstance(ts_type, (TimestampType, TimestampNTZType)):
        raise ValueError(
            "flush_trailing requires a timestamp-typed ts column "
            f"(got {ts_type.simpleString()}); convert raw epoch columns "
            "before sessionizing"
        )
    vals = []
    for f in schema.fields:
        if f.name == "user_id":
            col = F.lit(sentinel_user_id).cast(f.dataType)
        elif f.name == "ts":
            col = F.lit(_SENTINEL_TS).cast(f.dataType)
        elif f.name == "value":
            col = F.lit(0.0).cast(f.dataType)
        else:
            col = F.lit(None).cast(f.dataType)
        vals.append(col.alias(f.name))
    d = tempfile.mkdtemp(prefix="session_flush_sentinel_")
    if not _SENTINEL_DIRS:
        atexit.register(_cleanup_sentinel_dirs)
    _SENTINEL_DIRS.append(d)
    spark.range(1).select(*vals).coalesce(1).write.mode("overwrite").parquet(d)
    return events.unionByName(spark.readStream.schema(schema).parquet(d))


# Default sentinel user id for flush_trailing: NEGATIVE, because every
# realistic id domain (and this repo's generators) uses non-negative
# ids — a positive default like the old 999_999_999 could collide with
# a real user, whose sessions the output filter would then silently
# drop (ADVICE r11).  Collision against a STREAM is not verifiable
# up-front; if your domain does contain negative ids, pass an id you
# know is unused.  The value fits in int32 so the cast stays legal for
# narrower user_id column types under ANSI semantics.
FLUSH_SENTINEL_USER_ID = -1_999_999_999


def sessionize_with_state(
    events: DataFrame,
    gap_minutes: int = 30,
    timeout_pad_ms: int = 60_000,
    flush_trailing: bool = False,
    sentinel_user_id: int = FLUSH_SENTINEL_USER_ID,
) -> DataFrame:
    """Custom stateful sessionizer via ``applyInPandasWithState`` — the
    pattern for session logic `session_window` can't express (e.g.
    value-dependent gaps).  Emits a session whenever a new event
    arrives past the gap; flushes the open session on state timeout.

    ``timeout_pad_ms`` is the event-time timeout distance past each
    session's LAST EVENT (the timeout timestamp is re-anchored to
    ``last + pad`` on every batch).  Because the watermark itself trails
    the stream maximum by the configured delay, a PLAIN availableNow
    drain does NOT flush every open session: sessions whose last event
    falls within (watermark delay + pad) of the stream's max timestamp
    never time out and stay in state.

    ``flush_trailing=True`` (VERDICT r10 #5) closes that gap for DRAIN
    runs without the caller knowing the trick: the input is unioned
    with a one-row far-future sentinel batch that advances the
    watermark past every ``last + pad``, and the sentinel's own row
    (``sentinel_user_id``) is filtered from the output.  Constraints,
    both inherent to watermark semantics: (1) drain-only — in a
    continuous run the sentinel advances the watermark permanently and
    real events arriving after it are dropped as late; (2) the sentinel
    is visible from the FIRST micro-batch, so the drain must ingest the
    whole backlog in that batch — do not combine with per-source rate
    limits like ``maxFilesPerTrigger`` (the watermark jump would mark
    later backlog batches late).  A violation of (2) is DETECTABLE
    after the drain: the dropped rows are counted in the query's
    ``numRowsDroppedByWatermark`` state metric — run the query through
    :func:`run_to_memory` with ``require_no_late_drops=True`` (or call
    :func:`raise_on_late_drops` on your own query) to turn the silent
    drop into a loud error.  Leave it False to preserve open
    sessions in state across a graceful stop/restart (the
    checkpoint-restart tests pass a LARGE pad for exactly that,
    tests/test_streaming_restart_all.py)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if flush_trailing:
        events = _watermark_sentinel_union(events, sentinel_user_id)

    gap = pd.Timedelta(minutes=gap_minutes)

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # this function runs once PER KEY per micro-batch (~15k Python
        # calls/batch at sf0.1), so per-call pandas overhead dominates
        # the whole query: avoid pd.concat for the common single-chunk
        # case, iterate numpy arrays positionally (Series iteration
        # boxes every datetime), and never yield an empty DataFrame.
        # Accumulation stays a sequential `total + float(v)` loop —
        # the oracle hash pins that exact float order.
        (user_id,) = key
        out = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n, total = state.get
                out.append((user_id, start, last, n, total))
                state.remove()
        else:
            chunks = list(pdfs)
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            rows = rows.sort_values("ts")
            ts_arr = rows["ts"].to_numpy()
            val_arr = rows["value"].to_numpy()
            gap64 = gap.to_timedelta64()
            if state.exists:
                start, last, n, total = state.get
                last64 = pd.Timestamp(last).to_datetime64()
            else:
                start, last, n, total = None, None, 0, 0.0
                last64 = None
            for i in range(len(ts_arr)):
                t64 = ts_arr[i]
                if last64 is not None and t64 - last64 > gap64:
                    out.append((user_id, start, last, n, total))
                    t = pd.Timestamp(t64)
                    start, last, n, total = t, t, 1, float(val_arr[i])
                else:
                    t = pd.Timestamp(t64)
                    if start is None:
                        start = t
                    last, n, total = t, n + 1, total + float(val_arr[i])
                last64 = t64
            state.update((start, last, n, total))
            # timeout anchored to the session's LAST EVENT (not the
            # current watermark): "flush once the watermark passes the
            # last event by pad".  A watermark-anchored stamp is 0-based
            # on the first batch, so ANY later watermark advance fired
            # it — flushing every open session at end-of-run and making
            # checkpoint-restart of open sessions untestable (r9).  The
            # max() keeps the stamp legal (must exceed the watermark)
            # for a restored `last` that trails it.
            last_ms = int(pd.Timestamp(last).value // 1_000_000)
            state.setTimeoutTimestamp(
                max(state.getCurrentWatermarkMs(), last_ms) + timeout_pad_ms
            )
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
            )

    out_df = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 minute")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    if flush_trailing:
        out_df = out_df.filter(F.col("user_id") != sentinel_user_id)
    return out_df


@register(
    "streaming_first_occurrence",
    oracle="""
    SELECT event_id, user_id, event_type, ts FROM (
      SELECT event_id, user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def streaming_first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: first event per (user, event_type), computed by
    a real streaming aggregation (`min(struct(ts, event_id))` — order-
    insensitive, so arrival order across micro-batches can't change the
    answer, unlike `dropDuplicates`' keep-first-arrival).  State is one
    struct per key; in production `dropDuplicatesWithinWatermark`
    bounds it by the watermark horizon instead."""
    agg = (
        stream_events(spark, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(F.min(F.struct("ts", "event_id")).alias("first"))
        .select(
            F.col("first.event_id").alias("event_id"),
            "user_id",
            "event_type",
            F.col("first.ts").alias("ts"),
        )
    )
    return spark.table(run_to_memory(agg))


@register(
    "streaming_interval_join_error_purchase",
    oracle="""
    SELECT e.event_id AS error_id, p.event_id AS purchase_id
    FROM events e JOIN events p
      ON e.user_id = p.user_id
     AND e.event_type = 'error' AND p.event_type = 'purchase'
     AND p.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join — every (error, purchase-in-the-
    preceding-hour) pair for the same user, computed by two real file
    streams joined with watermarks + a time-range condition (the
    "correlate two firehoses" pipeline shape; the batch self-join
    oracle certifies it).

    The watermarks are what make this run at 100 TB: each side buffers
    only rows younger than watermark + the 1 h range bound, so join
    state is O(rate × window), not O(history).  Append output mode —
    pairs emit exactly once, when both sides' watermarks pass them."""
    err = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").cast("timestamp").alias("e_ts"),
        )
        .withWatermark("e_ts", "2 hours")
    )
    pur = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").cast("timestamp").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    j = err.join(
        pur,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("e_ts")),
        "inner",
    ).select("error_id", "purchase_id")
    return spark.table(run_to_memory(j, mode="append"))


@register(
    "streaming_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute_bucket
    FROM events
    """,
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication via ``dropDuplicatesWithinWatermark`` —
    at most one emitted row per (user, event_type, minute), with dedup
    state evicted once the watermark passes a key's horizon.  This is
    THE bounded-state dedup for infinite streams: unlike plain
    ``dropDuplicates`` (state grows forever) the buffer is
    O(rate × watermark), the 100 TB/day shape.  Only the key columns
    are projected, so the output is deterministic (which physical row
    survives is arrival-order-dependent; the key set is not) and the
    batch DISTINCT oracle certifies it."""
    s = stream_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.date_trunc("minute", F.col("ts").cast("timestamp"))
        .cast("timestamp_ntz")
        .alias("minute_bucket"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    dedup = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_bucket"])
        .select("user_id", "event_type", "minute_bucket")
    )
    return spark.table(run_to_memory(dedup, mode="append"))


@register(
    "streaming_hourly_uniques_hll",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket_start,
           count(DISTINCT user_id) AS exact_uniques,
           true AS within_5pct
    FROM events
    GROUP BY 1
    """,
)
def streaming_hourly_uniques_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality via mergeable sketches: per-hour distinct
    users computed by a REAL streaming aggregation with
    ``approx_count_distinct`` (exact count-distinct is not expressible
    in streaming — distinct state is unbounded; the HLL sketch is the
    production answer, with per-window state constant-size and
    mergeable across micro-batches).

    Certified like `agg_hll_sketch_merge`: the batch oracle pins the
    exact per-hour uniques and a 5%-tolerance flag (5× the sketch's
    rsd=0.01) on the streamed estimate.  The flag is deterministic —
    the sketch hash is fixed, so per-bucket error is a property of the
    data, measured max 2.5% / mean 0.5% at sf0.1 (r2's 2% flag sat at
    2σ and genuinely breached on 3 of 720 buckets there); the full
    error distribution is asserted with that evidence in
    tests/test_streaming_extra.py, the oracle only pins the 5σ bound a
    breach of which means broken plumbing, not sketch noise."""
    est = (
        stream_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("est_uniques"))
        .select(F.col("w.start").alias("bucket_start"), "est_uniques")
    )
    streamed = spark.table(run_to_memory(est))
    exact = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("bucket_start"))
        .agg(F.countDistinct("user_id").alias("exact_uniques"))
    )
    return (
        exact.join(
            streamed,
            exact.bucket_start.cast("timestamp_ntz")
            == streamed.bucket_start.cast("timestamp_ntz"),
        )
        .select(
            exact.bucket_start.alias("bucket_start"),
            "exact_uniques",
            (
                F.abs(F.col("est_uniques") - F.col("exact_uniques"))
                <= 0.05 * F.col("exact_uniques")
            ).alias("within_5pct"),
        )
        .orderBy("bucket_start")
    )


SPEND_ALARM_THRESHOLD = 300.0
ALARM_STATE_SCHEMA = "cum DOUBLE, fired BOOLEAN"
ALARM_OUT_SCHEMA = "user_id BIGINT, alarm_ts TIMESTAMP, cum_value DOUBLE"


def spend_alarm_with_state(
    events: DataFrame, threshold: float = SPEND_ALARM_THRESHOLD
) -> DataFrame:
    """Second custom stateful operator next to the sessionizer: per user,
    emit ONE alarm at the first purchase that lifts cumulative spend
    over ``threshold``.  The running total must survive micro-batch
    boundaries — exactly what ``applyInPandasWithState`` per-key state
    provides; no timeout needed (the alarm fires on data, not on
    time)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # per-key Python call — same overhead discipline as the
        # sessionizer above: no concat for one chunk, positional numpy
        # iteration instead of iterrows (~100 µs/row), sequential
        # float accumulation preserved for the oracle hash.
        (user_id,) = key
        cum, fired = state.get if state.exists else (0.0, False)
        out = []
        if not fired:
            chunks = list(pdfs)
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            rows = rows.sort_values("event_id")
            val_arr = rows["value"].to_numpy()
            for i in range(len(val_arr)):
                cum += float(val_arr[i])
                if cum >= threshold:
                    out.append((user_id, rows["ts"].iloc[i], round(cum, 2)))
                    fired = True
                    break
        state.update((cum, fired))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "alarm_ts", "cum_value"]
            )

    return (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=ALARM_OUT_SCHEMA,
            stateStructType=ALARM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register(
    "streaming_spend_alarm",
    oracle=f"""
    WITH cum AS (
      SELECT user_id, ts, event_id,
             sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS UNBOUNDED PRECEDING) AS c
      FROM events WHERE event_type = 'purchase'),
    first_cross AS (
      SELECT user_id, ts AS alarm_ts, round(c, 2) AS cum_value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY event_id) AS rk
      FROM cum WHERE c >= {SPEND_ALARM_THRESHOLD})
    SELECT user_id, alarm_ts, cum_value
    FROM first_cross WHERE rk = 1
    """,
)
def streaming_spend_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spend-alarm stateful operator run as a REAL two-micro-batch
    stream: purchases are split at the median event_id into two files
    (maxFilesPerTrigger=1), so users whose crossing purchase falls in
    batch 2 prove the running total SURVIVES the batch boundary in the
    state store.  Accumulation order is arrival order (event_id —
    unique, so the split is provably batch-monotone per user; ordering
    by ts would make batch assignment ambiguous under ties), in both
    the state function and the oracle."""
    import glob as _glob
    import os
    import shutil
    import tempfile
    import time as _time

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    median_id = raw.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tempfile.mkdtemp(prefix="alarm_stream_")
    # one partitionBy write emits both halves in a single job (the
    # previous two filter+coalesce writes re-scanned the fixture twice)
    tdir = tempfile.mkdtemp(prefix="alarm_split_")
    (
        raw.withColumn(
            "_half",
            F.when(F.col("event_id") <= median_id, "a_early").otherwise("b_late"),
        )
        .repartition(2, "_half")
        .write.partitionBy("_half")
        .mode("overwrite")
        .parquet(tdir)
    )
    for tag in ("a_early", "b_late"):
        shutil.move(
            _glob.glob(f"{tdir}/_half={tag}/part-*.parquet")[0],
            f"{src}/{tag}.parquet",
        )
    shutil.rmtree(tdir, ignore_errors=True)
    now = _time.time()
    os.utime(f"{src}/a_early.parquet", (now - 100, now - 100))
    os.utime(f"{src}/b_late.parquet", (now, now))
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    name = run_to_memory(spend_alarm_with_state(stream), mode="append", timeout_s=180)
    return spark.table(name).select(
        "user_id",
        F.col("alarm_ts").cast("timestamp_ntz").alias("alarm_ts"),
        "cum_value",
    )


@register(
    "streaming_session_window_30m",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             -- >= : session_window ends are EXCLUSIVE (a window spans
             -- [start, last_event + gap)), so an event landing exactly
             -- 30m after its predecessor starts a NEW session; the
             -- break predicate must match that boundary.  (The custom
             -- applyInPandasWithState sessionizer uses strict > and
             -- keeps the strict-> oracle above.)
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def streaming_session_window_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch `events_session_30m` computed by a REAL Structured
    Streaming pipeline with Spark's NATIVE `session_window` operator —
    the built-in complement to the custom `applyInPandasWithState`
    sessionizer (`streaming_stateful_sessions`): gap-merged session
    state maintained by the engine's state store, no Python worker in
    the loop.  Complete output mode keeps every session's state until
    the availableNow run drains, so no sentinel/watermark flush is
    needed; a production deployment would run append mode + watermark
    to age state out instead (documented trade).

    Boundary convention: `session_window` window ends are exclusive —
    an event exactly `gap` after its predecessor does NOT merge.  The
    oracle gap predicate is therefore `>=` (break at exactly 30m),
    keeping both engines aligned on boundary-landing events."""
    agg = (
        stream_events(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return spark.table(run_to_memory(agg))
