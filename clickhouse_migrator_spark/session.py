"""SparkSession bootstrap with scale-minded defaults.

The reference (`/root/reference/clickhouse_migrate/migrate.py:18-19`,
``get_connection``) builds a clickhouse-driver Client bound to a database;
here the equivalent is a SparkSession bound to a warehouse + current
database.  All defaults below are chosen for the 100 TB design point but
work unchanged on local[N]:

- AQE on (runtime coalesce + skew-join splitting) so shuffle partition
  counts self-tune as data scales.
- Explicit shuffle partitions as a *starting* point only (AQE coalesces).
- UTC session timezone for deterministic timestamp semantics.
- ``nanosAsLong`` so pandas-written nanosecond parquet timestamps are
  readable (Spark has no nanos timestamp type); conversion to
  timestamp_ntz happens in :mod:`clickhouse_migrator_spark.tables`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime (non-static) confs — safe to apply to an externally created
#: session (e.g. the verify driver's) as well as our own.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / applyInPandas path (the only sanctioned
    # Python touchpoints; everything else stays JVM-side).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs to *any* session (ours or the
    driver's). Every operator entry point calls this."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # pragma: no cover - read-only conf on some builds
            pass
    return spark


def get_spark(
    app_name: str = "clickhouse-migrator-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """Create (or get) a local SparkSession with the engine's defaults."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count())
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            # local mode: driver heap IS the executor heap.  8g showed
            # GC-locker retry warnings on the 1M-doc dedup smoke (big
            # Arrow/shuffle allocations); 16g clears them with plenty of
            # headroom on the 128 GiB container.  Override via env.
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
