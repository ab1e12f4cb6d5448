"""Partition & table lifecycle DDL: DROP/DETACH/ATTACH PARTITION against
the recorded PARTITION BY expression, CLEAR COLUMN IN PARTITION,
TRUNCATE, DETACH/ATTACH TABLE, FREEZE no-op.

Reference context: the reference passes these statements verbatim to
ClickHouse (`/root/reference/clickhouse_migrate/migrate.py:52`); here
they are first-class engine operations (SURVEY.md §2.C)."""

from __future__ import annotations

import pytest

from clickhouse_migrator_spark import migrate as M
from clickhouse_migrator_spark.ddl import translate


def test_classification():
    assert translate("TRUNCATE TABLE t").kind == "truncate"
    st = translate("TRUNCATE TABLE IF EXISTS nope")
    assert st.kind == "truncate" and st.if_exists
    st = translate("ALTER TABLE t DROP PARTITION 202001")
    assert st.kind == "drop_partition" and st.predicate == "202001"
    st = translate("ALTER TABLE t DETACH PARTITION '2020-01-01'")
    assert st.kind == "detach_partition"
    st = translate("ALTER TABLE t ATTACH PARTITION (2020, 1)")
    assert st.kind == "attach_partition" and st.predicate == "(2020, 1)"
    st = translate("ALTER TABLE t CLEAR COLUMN v IN PARTITION 202001")
    assert st.kind == "clear_column_in_partition" and st.column == "v"
    assert translate("DETACH TABLE t PERMANENTLY").kind == "detach_table"
    assert translate("ATTACH TABLE t").kind == "attach_table"
    st = translate("ALTER TABLE t FREEZE")
    assert st.kind == "passthrough" and st.sql == "SELECT 1"
    # FETCH PARTITION is the same replication/backup class — a raw
    # passthrough errored in Spark's parser at apply time (r6 audit)
    st = translate("ALTER TABLE t FETCH PARTITION '2024' FROM '/ch/t'")
    assert st.kind == "passthrough" and st.sql == "SELECT 1"
    # DROP PARTITION must not shadow DROP COLUMN and vice versa
    assert translate("ALTER TABLE t DROP COLUMN c").kind == "drop_column"


def test_partition_cond_tuple_mismatch():
    with pytest.raises(ValueError):
        M._partition_cond("(a, b)", "7")


def _mk_events(spark):
    M.execute_statement(
        spark,
        "CREATE TABLE ev (id UInt64, ts DateTime, v UInt32) "
        "ENGINE = MergeTree PARTITION BY toYYYYMM(ts) ORDER BY (id)",
    )
    spark.sql(
        "INSERT INTO ev VALUES "
        "(1, TIMESTAMP '2020-01-05 00:00:00', 10), "
        "(2, TIMESTAMP '2020-01-20 00:00:00', 20), "
        "(3, TIMESTAMP '2020-02-01 00:00:00', 30)"
    )


def test_drop_partition(spark, db):
    _mk_events(spark)
    M.execute_statement(spark, "ALTER TABLE ev DROP PARTITION 202001")
    assert [r.id for r in spark.table("ev").orderBy("id").collect()] == [3]


def test_detach_attach_partition_roundtrip(spark, db):
    _mk_events(spark)
    M.execute_statement(spark, "ALTER TABLE ev DETACH PARTITION 202001")
    assert spark.table("ev").count() == 1
    # detached rows are parked, not deleted
    assert spark.table("__detparts_ev").count() == 2
    M.execute_statement(spark, "ALTER TABLE ev ATTACH PARTITION 202001")
    assert spark.table("ev").count() == 3
    assert spark.table("__detparts_ev").count() == 0
    # internal side table never leaks into SHOW TABLES
    assert M.show_tables(spark, db) == ["ev"]


def test_clear_column_in_partition(spark, db):
    _mk_events(spark)
    M.execute_statement(spark, "ALTER TABLE ev CLEAR COLUMN v IN PARTITION 202001")
    rows = {r.id: r.v for r in spark.table("ev").collect()}
    assert rows == {1: None, 2: None, 3: 30}


def test_truncate(spark, db):
    _mk_events(spark)
    M.execute_statement(spark, "TRUNCATE TABLE ev")
    assert spark.table("ev").count() == 0
    assert spark.table("ev").columns == ["id", "ts", "v"]
    # IF EXISTS on a missing table is a no-op, not an error
    M.execute_statement(spark, "TRUNCATE TABLE IF EXISTS missing_tbl")


def test_detach_attach_table(spark, db):
    _mk_events(spark)
    M.execute_statement(spark, "DETACH TABLE ev")
    assert M.show_tables(spark, db) == []
    M.execute_statement(spark, "ATTACH TABLE ev")
    assert M.show_tables(spark, db) == ["ev"]
    assert spark.table("ev").count() == 3


def test_freeze_noop(spark, db):
    _mk_events(spark)
    M.execute_statement(spark, "ALTER TABLE ev FREEZE")
    assert spark.table("ev").count() == 3


def test_replace_partition(spark, db):
    _mk_events(spark)
    M.execute_statement(
        spark,
        "CREATE TABLE ev2 (id UInt64, ts DateTime, v UInt32) "
        "ENGINE = MergeTree PARTITION BY toYYYYMM(ts) ORDER BY (id)",
    )
    spark.sql(
        "INSERT INTO ev2 VALUES (9, TIMESTAMP '2020-01-09 00:00:00', 99), "
        "(8, TIMESTAMP '2020-03-01 00:00:00', 88)"
    )
    st = translate("ALTER TABLE ev REPLACE PARTITION 202001 FROM ev2")
    assert st.kind == "replace_partition"
    M.execute_statement(spark, "ALTER TABLE ev REPLACE PARTITION 202001 FROM ev2")
    # ev's Jan rows replaced by ev2's Jan rows; Feb row kept; src intact
    assert {r.id for r in spark.table("ev").collect()} == {9, 3}
    assert spark.table("ev2").count() == 2


# ── partition-expression comma split is quote-aware ──────────────────────────


def test_migrate_split_top_commas_quote_aware(spark):
    from clickhouse_migrator_spark.functions.select_funcs import _split_top

    assert [p.strip() for p in _split_top("if(k = 'a,b', 0, 1), c")] == [
        "if(k = 'a,b', 0, 1)",
        "c",
    ]
    assert [p.strip() for p in _split_top("'x,y'")] == ["'x,y'"]
    assert [p.strip() for p in _split_top("`a,b`, d")] == ["`a,b`", "d"]
    # a backticked key with a comma is one partition key, not two
    cond = M._partition_cond("tuple(`a,b`, d)", "(1, 2)")
    df = spark.createDataFrame([(1, 2), (1, 3)], "`a,b` int, d int")
    assert [tuple(r) for r in df.filter(cond).collect()] == [(1, 2)]


def test_partition_cond_with_literal_comma(spark):
    view = "advice8_part"
    spark.createDataFrame(
        [("a,b", 1), ("z", 2)], "k string, v int"
    ).createOrReplaceTempView(view)
    try:
        cond = M._partition_cond("(if(k = 'a,b', 0, 1))", "0")
        kept = spark.table(view).filter(cond).collect()
        assert [r.k for r in kept] == ["a,b"]
    finally:
        spark.catalog.dropTempView(view)
