"""Structured Streaming mirrors: tumbling agg vs batch, watermark
append mode, and the applyInPandasWithState custom sessionizer."""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from clickhouse_migrator_spark.operators.events import (
    events_session_30m,
    events_tumbling_hourly,
)
from clickhouse_migrator_spark.streaming.events_stream import (
    run_to_memory,
    sessionize_with_state,
    stream_events,
    streaming_tumbling_hourly,
    tumbling_with_watermark,
)


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    batch = events_tumbling_hourly(spark, sf_dir)
    stream = streaming_tumbling_hourly(spark, sf_dir)
    assert _rowset(stream) == _rowset(batch)


def test_watermark_append_emits_closed_windows(spark, sf_dir):
    agg = tumbling_with_watermark(spark, sf_dir, late="2 hours")
    name = run_to_memory(agg, mode="append")
    out = spark.table(name)
    # append mode: after the availableNow batch the watermark advances
    # to max(ts) - 2h and Spark's no-data batch finalizes exactly the
    # windows whose END is at or before it — late-data policy observed.
    from clickhouse_migrator_spark.tables import table as load

    e = load(spark, sf_dir, "events")
    max_ts = e.agg(F.max("ts")).collect()[0][0]
    expected = (
        events_tumbling_hourly(spark, sf_dir)
        .filter(
            F.col("bucket_start") + F.expr("INTERVAL 1 HOUR")
            <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
        )
        .select("bucket_start", "event_type", "n_events")
    )
    assert _rowset(out) == _rowset(expected)


def test_stateful_sessionizer_matches_batch(spark, sf_dir, tmp_path):
    """Two micro-batches (data file + far-future sentinel) so the event
    -time timeout flushes every open session; output must equal the
    batch gaps-and-islands sessionization."""
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/a_events.parquet")
    # written with Spark against the fixture's own schema — a pandas
    # write would carry nanosecond timestamps the vectorized reader
    # refuses against the declared stream schema
    import datetime as dt
    import glob

    sent_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    sent_dir = str(tmp_path / "sentinel_tmp")
    spark.createDataFrame(
        [(10**9, dt.datetime(2024, 6, 1), 999_999, "view", 0.0, "{}")],
        schema=sent_schema,
    ).coalesce(1).write.mode("overwrite").parquet(sent_dir)
    shutil.move(glob.glob(f"{sent_dir}/part-*.parquet")[0], f"{src}/b_sentinel.parquet")
    now = time.time()
    os.utime(f"{src}/a_events.parquet", (now - 100, now - 100))
    os.utime(f"{src}/b_sentinel.parquet", (now, now))

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    sessions = sessionize_with_state(stream, gap_minutes=30)
    name = run_to_memory(sessions, mode="append", timeout_s=180)
    got = (
        spark.table(name)
        .filter(F.col("user_id") != 999_999)
        .select("user_id", "session_start", "session_end", "n_events",
                F.round("total_value", 2).alias("total_value"))
    )
    expected = events_session_30m(spark, sf_dir)
    assert _rowset(got) == _rowset(expected)


# ── sessionizer docstring documents the trailing window ──────────────────────


def test_sessionizer_docstring_documents_trailing_window():
    from clickhouse_migrator_spark.streaming.events_stream import (
        sessionize_with_state,
    )

    doc = sessionize_with_state.__doc__ or ""
    assert "does NOT flush every open session" in doc
    assert "sentinel" in doc
    # the old false claim must be gone
    assert "flushes every open\n    session" not in doc
