"""Loaders for the driver-provided analytics fixtures (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under ``{sf_dir}/``.

Scale notes: these are plain ``spark.read.parquet`` scans, so column
pruning + predicate pushdown reach the file source; no caching or
collect here.  ``events.ts`` is written with nanosecond precision (a
parquet type Spark cannot natively map); we read it as long via
``spark.sql.legacy.parquet.nanosAsLong`` and floor-convert to
microseconds, exactly matching DuckDB's ns→µs truncation so oracle
comparisons agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import memo
from .session import ensure_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-canonical column types.

    The plan is a session memo (:mod:`.memo`): a DataFrame is an
    immutable logical plan, so handing the same one to every caller is
    safe, and the schema and file listing are resolved once per session
    instead of per query (each ``spark.read.parquet`` costs ~80 ms of
    driver-side listing + footer read).  A table rewritten in place is
    re-resolved, and the memo refreshes Spark's cached blocks for it."""
    return memo.get(
        spark,
        sf_dir,
        "table",
        lambda: (_load(spark, sf_dir, name), ()),
        reads=(name,),
        params=(name,),
        fill=False,
    )


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns epoch → µs timestamp_ntz.  Integer division (`DIV`), NOT
        # `/1000`+floor: ns epochs ≈ 1.7e18 exceed double's 2^53 exact
        # range, so float division drifts by ±1 µs.  DIV matches
        # DuckDB's ns→µs truncation exactly.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the fixture tables as temp views (for spark.sql paths)."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
