"""Bucket sizing for the bucketed merge_asof substrate (round-5 fix:
the constant ASOF_BUCKETS=64 capped parallelism at 64 tasks and put
corpus/64 bytes in one pandas frame — VERDICT r3/r4 perf item)."""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from clickhouse_migrator_spark.operators.asof import (
    ASOF_MIN_BUCKETS,
    ASOF_TARGET_BUCKET_BYTES,
    _asof_bucket_count,
    asof_join,
)


def test_small_input_hits_floor(spark):
    small = spark.range(1000).select(
        F.col("id").alias("u"), F.col("id").cast("double").alias("ts")
    )
    assert _asof_bucket_count(small, small) == ASOF_MIN_BUCKETS


def test_bucket_count_scales_with_estimated_bytes(spark):
    base = spark.range(1_000_000).select(
        F.col("id").alias("u"), F.col("id").cast("double").alias("ts")
    )
    big = base
    for _ in range(8):  # 256x the base estimate
        big = big.unionByName(big)
    est = int(big._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n = _asof_bucket_count(big, big)
    assert n > ASOF_MIN_BUCKETS
    # ceil(2*est / target), never below the floor
    assert n == max(ASOF_MIN_BUCKETS, -(-2 * est // ASOF_TARGET_BUCKET_BYTES))


def test_asof_join_correct_at_any_bucket_count(spark):
    """The bucket count is a pure parallelism knob: results must be
    identical whatever it is (hash-bucketing can never split a key)."""
    left = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 15.0)], "u long, ts double"
    )
    right = spark.createDataFrame(
        [(1, 9.0), (1, 19.5), (2, 100.0)], "u long, ts double"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        joined = asof_join(left, right, on="ts", by="u")
    # the applyInPandas callback is fully type-hinted, so PySpark can
    # infer its eval type without warning
    assert not [w for w in caught if "TYPE_HINT" in str(w.message)], caught
    out = {(r.u, r.ts, r.ts_right) for r in joined.collect()}
    assert out == {(1, 10.0, 9.0), (1, 20.0, 19.5), (2, 15.0, None)}
