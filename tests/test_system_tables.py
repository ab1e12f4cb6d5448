"""ClickHouse system-table emulation over the Spark catalog:
system.tables / system.columns / system.mutations (the reference's
mutation-poll target, `/root/reference/clickhouse_migrate/migrate.py:64`)."""

from __future__ import annotations

from clickhouse_migrator_spark import migrate as M


def test_system_tables_lists_engine(spark, db):
    M.execute_statement(
        spark,
        "CREATE TABLE kv (k UInt64, v String) ENGINE = ReplacingMergeTree ORDER BY (k)",
    )
    rows = M.execute_and_inflate(
        spark, f"SELECT name, engine FROM system.tables WHERE database = '{db}'"
    ).collect()
    assert [(r.name, r.engine) for r in rows] == [("kv", "ReplacingMergeTree")]


def test_system_columns_types(spark, db):
    M.execute_statement(
        spark, "CREATE TABLE t (id UInt64, name String) ENGINE = MergeTree ORDER BY (id)"
    )
    rows = M.execute_and_inflate(
        spark,
        "SELECT name, type FROM system.columns "
        f"WHERE database = '{db}' AND table = 't' ORDER BY name",
    ).collect()
    assert [(r.name, r.type) for r in rows] == [("id", "bigint"), ("name", "string")]


def test_reference_mutation_poll_query_runs_empty(spark, db):
    # the reference's literal B5 poll query must parse and return empty
    # (every Spark statement completes synchronously)
    out = M.execute_and_inflate(
        spark,
        "SELECT database, table, mutation_id, lower(command) as command "
        f"FROM system.mutations WHERE database='{db}' "
        "and create_time >= '2020-01-01 00:00:00' and is_done=0",
    )
    assert out.count() == 0
    assert out.columns == ["database", "table", "mutation_id", "command"]


def test_pipelined_runs_barrier(spark, db):
    M.execute_statement(
        spark, "CREATE TABLE p (id UInt64, v UInt32) ENGINE = MergeTree ORDER BY (id)"
    )
    spark.sql("INSERT INTO p VALUES (1, 1), (2, 2)")
    M.pipelined(spark, "ALTER TABLE p UPDATE v = v + 10 WHERE id = 1", db)
    assert {r.id: r.v for r in spark.table("p").collect()} == {1: 11, 2: 2}
