"""CREATE DICTIONARY → keyed lookup view; dictGet() → correlated scalar
subquery (decorrelated by Catalyst into a broadcastable join).
MOVE PARTITION TO TABLE → append + copy-on-write delete."""

from __future__ import annotations

import pytest

from clickhouse_migrator_spark import migrate as M
from clickhouse_migrator_spark.ddl import translate


def test_create_dictionary_classified():
    st = translate(
        "CREATE DICTIONARY geo (id UInt64, name String) PRIMARY KEY id "
        "SOURCE(CLICKHOUSE(TABLE 'regions')) LAYOUT(HASHED()) LIFETIME(300)"
    )
    assert st.kind == "create_dictionary"
    assert st.table == "geo"
    assert st.column == "id"
    assert st.sql == "SELECT id, name FROM regions"


def test_move_partition_classified():
    st = translate("ALTER TABLE a MOVE PARTITION 202001 TO TABLE b")
    assert st.kind == "move_partition"
    assert (st.table, st.rename_to, st.predicate) == ("a", "b", "202001")


def test_dictget_end_to_end(spark, db):
    M.execute_statement(
        spark,
        "CREATE TABLE regions (id UInt64, name String, pop UInt32) "
        "ENGINE = MergeTree ORDER BY (id)",
    )
    spark.sql("INSERT INTO regions VALUES (1, 'emea', 10), (2, 'apac', 20)")
    M.execute_statement(
        spark,
        "CREATE DICTIONARY geo (id UInt64, name String) PRIMARY KEY id "
        "SOURCE(CLICKHOUSE(TABLE 'regions')) LAYOUT(HASHED()) LIFETIME(MIN 0 MAX 300)",
    )
    M.execute_statement(
        spark,
        "CREATE TABLE facts (fid UInt64, region_id UInt64) "
        "ENGINE = MergeTree ORDER BY (fid)",
    )
    spark.sql("INSERT INTO facts VALUES (100, 1), (101, 2), (102, 3)")
    rows = {
        r.fid: r.region_name
        for r in M.execute_and_inflate(
            spark,
            "SELECT fid, dictGet('geo', 'name', region_id) AS region_name FROM facts",
        ).collect()
    }
    # missing key → NULL (ClickHouse returns the type default; NULL is
    # the Spark-idiomatic equivalent, documented divergence)
    assert rows == {100: "emea", 101: "apac", 102: None}
    # typed variant shares the rewrite
    got = M.execute_and_inflate(
        spark, "SELECT dictGetString('geo', 'name', CAST(1 AS BIGINT)) AS n"
    ).collect()[0].n
    assert got == "emea"


def test_move_partition_end_to_end(spark, db):
    M.execute_statement(
        spark,
        "CREATE TABLE hot (id UInt64, ts DateTime) ENGINE = MergeTree "
        "PARTITION BY toYYYYMM(ts) ORDER BY (id)",
    )
    M.execute_statement(
        spark,
        "CREATE TABLE cold (id UInt64, ts DateTime) ENGINE = MergeTree "
        "PARTITION BY toYYYYMM(ts) ORDER BY (id)",
    )
    spark.sql(
        "INSERT INTO hot VALUES (1, TIMESTAMP '2020-01-05 00:00:00'), "
        "(2, TIMESTAMP '2020-02-05 00:00:00')"
    )
    M.execute_statement(spark, "ALTER TABLE hot MOVE PARTITION 202001 TO TABLE cold")
    assert [r.id for r in spark.table("hot").collect()] == [2]
    assert [r.id for r in spark.table("cold").collect()] == [1]


def test_dictget_unclosed_raises(spark):
    with pytest.raises(ValueError, match="unclosed dictGet"):
        M._rewrite_dictget(spark, "SELECT dictGet('d', 'a', x FROM t")


# ── dictGet argument scan skips literal parens ───────────────────────────────


def test_dictget_literal_paren_arg(spark, db):
    M.execute_statement(
        spark,
        "CREATE TABLE kv (k String, val String) ENGINE = MergeTree ORDER BY (k)",
    )
    spark.sql("INSERT INTO kv VALUES ('a)', 'closed'), ('b', 'plain')")
    M.execute_statement(
        spark,
        "CREATE DICTIONARY d8 (k String, val String) PRIMARY KEY k "
        "SOURCE(CLICKHOUSE(TABLE 'kv')) LAYOUT(HASHED()) LIFETIME(300)",
    )
    # the key expression contains a ')' INSIDE a literal — the old
    # depth scan closed the call there and mis-split the args
    rows = M.execute_and_inflate(
        spark,
        "SELECT dictGet('d8', 'val', concat('a', ')')) AS v",
    ).collect()
    assert [r.v for r in rows] == ["closed"]
