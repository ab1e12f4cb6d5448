"""CREATE TABLE records the ClickHouse physical-layout intent
(ORDER BY / PARTITION BY) as table properties."""

from __future__ import annotations

import uuid

import pytest

from clickhouse_migrator_spark import migrate as M


def test_order_by_recorded_as_tblproperty(spark):
    db = "propdb_" + uuid.uuid4().hex[:8]
    M.create_db(spark, db)
    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(
            spark,
            "CREATE TABLE evts (id UInt64, day Date, val Float64) "
            "ENGINE = MergeTree PARTITION BY day ORDER BY (id)",
        )
        props = {
            r.key: r.value
            for r in spark.sql(f"SHOW TBLPROPERTIES `{db}`.evts").collect()
        }
        assert props.get("clickhouse.order_by") == "(id)"
        assert props.get("clickhouse.partition_by") == "day"
        # tuple() layouts are noise, not intent — not recorded
        M.execute_statement(
            spark,
            "CREATE TABLE plain (id UInt64) ENGINE = MergeTree "
            "PARTITION BY tuple() ORDER BY tuple()",
        )
        props2 = {
            r.key: r.value
            for r in spark.sql(f"SHOW TBLPROPERTIES `{db}`.plain").collect()
        }
        assert "clickhouse.order_by" not in props2
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql(f"DROP DATABASE `{db}` CASCADE")


def test_alter_modify_forms_round6(spark):
    """Round-6 audit: ALTER forms that previously fell through to raw
    passthrough (Spark parser error at apply time) — MODIFY ORDER
    BY/SAMPLE BY update the recorded layout properties, MODIFY COMMENT
    and MODIFY COLUMN … REMOVE DEFAULT translate to the Spark
    spellings, PROJECTION and SETTING mutations are documented no-ops."""
    from clickhouse_migrator_spark.ddl import translate

    assert translate("ALTER TABLE t ADD PROJECTION p (SELECT a)").sql == "SELECT 1"
    assert translate("ALTER TABLE t DROP PROJECTION p").sql == "SELECT 1"
    assert translate("ALTER TABLE t MODIFY SETTING x = 1").sql == "SELECT 1"
    assert translate("ALTER TABLE t RESET SETTING x").sql == "SELECT 1"
    st = translate("ALTER TABLE t MODIFY COMMENT 'new docs'")
    assert st.sql == "COMMENT ON TABLE t IS 'new docs'"
    st = translate(r"ALTER TABLE t MODIFY COMMENT 'it\'s'")
    assert st.sql == r"COMMENT ON TABLE t IS 'it\'s'"
    st = translate("ALTER TABLE t MODIFY COLUMN c REMOVE DEFAULT")
    assert st.sql == "ALTER TABLE t ALTER COLUMN c DROP DEFAULT"
    st = translate("ALTER TABLE t MODIFY ORDER BY (a, b)")
    assert st.kind == "set_order_by" and st.order_by == "(a, b)"
    st = translate("ALTER TABLE t MODIFY SAMPLE BY cityHash64(id)")
    assert st.kind == "set_sample_by" and st.sample_by == "cityHash64(id)"
    # TTL must not be shadowed by the new MODIFY branches
    assert translate("ALTER TABLE t MODIFY TTL day + INTERVAL 30 DAY").kind == "set_ttl"

    db = "propdb_" + uuid.uuid4().hex[:8]
    M.create_db(spark, db)
    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(
            spark,
            "CREATE TABLE mo (id UInt64, day Date, val Float64) "
            "ENGINE = MergeTree ORDER BY (id)",
        )
        M.execute_statement(spark, "ALTER TABLE mo MODIFY ORDER BY (id, day)")
        M.execute_statement(spark, "ALTER TABLE mo MODIFY SAMPLE BY id")
        M.execute_statement(spark, "ALTER TABLE mo MODIFY COMMENT 'hello'")
        M.execute_statement(spark, "ALTER TABLE mo ADD PROJECTION p (SELECT id)")
        props = {
            r.key: r.value
            for r in spark.sql(f"SHOW TBLPROPERTIES `{db}`.mo").collect()
        }
        assert props.get("clickhouse.order_by") == "(id, day)"
        assert props.get("clickhouse.sample_by") == "id"
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_layout_property_values_with_single_quotes(spark):
    """ADVICE r6 #5: ORDER BY / SAMPLE BY / TTL expressions containing
    string literals must survive the TBLPROPERTIES interpolation (the
    quote is escaped for the generated ALTER and round-trips intact)."""
    db = "propdb_" + uuid.uuid4().hex[:8]
    M.create_db(spark, db)
    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(
            spark,
            "CREATE TABLE qt (id UInt64, k String, day Date) "
            "ENGINE = MergeTree ORDER BY (id)",
        )
        M.execute_statement(
            spark, "ALTER TABLE qt MODIFY ORDER BY (if(k = 'x', 0, 1), id)"
        )
        M.execute_statement(
            spark, "ALTER TABLE qt MODIFY SAMPLE BY cityHash64(concat(k, 'y'))"
        )
        M.execute_statement(
            spark, "ALTER TABLE qt MODIFY TTL day + INTERVAL 30 DAY WHERE k = 'old'"
        )
        props = {
            r.key: r.value
            for r in spark.sql(f"SHOW TBLPROPERTIES `{db}`.qt").collect()
        }
        assert props.get("clickhouse.order_by") == "(if(k = 'x', 0, 1), id)"
        assert props.get("clickhouse.sample_by") == "cityHash64(concat(k, 'y'))"
        assert "'old'" in props.get("clickhouse.ttl", "")
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql(f"DROP DATABASE {db} CASCADE")
