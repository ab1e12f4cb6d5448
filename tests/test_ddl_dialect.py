"""Unit tests for the ClickHouse-dialect translator's wider surface:
wrapper types, enums, decimals, arrays, RENAME/OPTIMIZE/TRUNCATE."""

from __future__ import annotations

import pytest

from clickhouse_migrator_spark import ddl
from clickhouse_migrator_spark.ddl import map_types, translate


def test_wrapper_types_unwrapped():
    assert map_types("a Nullable(UInt32)") == "a BIGINT"
    assert map_types("a LowCardinality(String)") == "a STRING"
    assert map_types("a LowCardinality(Nullable(String))") == "a STRING"


def test_enum_and_decimal_and_array():
    assert map_types("s Enum8('a' = 1, 'b' = 2)") == "s STRING"
    assert map_types("d Decimal(10, 2)") == "d DECIMAL(10, 2)"
    assert map_types("d Decimal64(4)") == "d DECIMAL(4)"
    assert map_types("v Array(Int32)") == "v ARRAY<INT>"
    assert map_types("v Array(Nullable(String))") == "v ARRAY<STRING>"


def test_parenthesized_inner_types_in_containers():
    """Round-6 coverage-audit regression: a parenthesized inner type
    (DateTime64(3), Decimal(10,2), FixedString(16)) inside a wrapper or
    container left the wrapper un-unwrapped and emitted invalid Spark
    DDL like `Nullable(TIMESTAMP)` / `Array(DECIMAL(10,2))`."""
    assert map_types("a Nullable(DateTime64(3))") == "a TIMESTAMP"
    assert map_types("b Array(Decimal(10, 2))") == "b ARRAY<DECIMAL(10, 2)>"
    assert map_types("c Map(String, FixedString(16))") == "c MAP<STRING, STRING>"
    assert map_types("d LowCardinality(FixedString(8))") == "d STRING"
    assert map_types("e Array(Nullable(Decimal(10,2)))") == "e ARRAY<DECIMAL(10,2)>"
    assert (
        map_types("f Tuple(x Decimal(10,2), y String)")
        == "f STRUCT<x: DECIMAL(10,2), y: STRING>"
    )
    assert (
        map_types("i Map(String, Array(DateTime64(6)))")
        == "i MAP<STRING, ARRAY<TIMESTAMP>>"
    )
    assert (
        map_types("j Tuple(DateTime64(3), UInt8)")
        == "j STRUCT<_1: TIMESTAMP, _2: SMALLINT>"
    )
    # two containers on one line must not cross-match through the
    # nested-paren-tolerant inner pattern
    assert (
        map_types("v Array(DateTime64(3)), w Array(Int64)")
        == "v ARRAY<TIMESTAMP>, w ARRAY<BIGINT>"
    )


def test_create_with_wrappers():
    st = translate(
        "CREATE TABLE t (id UInt64, tag LowCardinality(String), "
        "score Nullable(Float64), labels Array(String)) "
        "ENGINE = MergeTree ORDER BY id"
    )
    assert st.kind == "create_table"
    assert "BIGINT" in st.sql and "ARRAY<STRING>" in st.sql
    assert "LowCardinality" not in st.sql and "Nullable" not in st.sql
    assert st.order_by == "id"
    # a leading comment, and inline ones in the column list, neither hide
    # the statement kind nor swallow the clauses after them
    st = translate(
        "-- events, v2\nCREATE TABLE t (id UInt64, -- key, first\n"
        "tag LowCardinality(String) /* was, String */) "
        "ENGINE = MergeTree ORDER BY id"
    )
    assert st.kind == "create_table" and st.order_by == "id"
    assert st.sql == "CREATE TABLE t (id BIGINT, tag STRING ) USING PARQUET"


def test_rename_table_translated():
    st = translate("RENAME TABLE db.a TO db.b")
    assert st.kind == "passthrough"
    assert st.sql == "ALTER TABLE db.a RENAME TO db.b"
    st = translate("/* blue/green */ RENAME TABLE db.a TO db.b -- swap")
    assert st.sql == "ALTER TABLE db.a RENAME TO db.b"


def test_optimize_classified():
    st = translate("OPTIMIZE TABLE t FINAL")
    assert st.kind == "optimize"
    assert st.table == "t"
    assert st.deduplicate is False
    st2 = translate("OPTIMIZE TABLE db.t FINAL DEDUPLICATE")
    assert st2.kind == "optimize"
    assert st2.deduplicate is True
    st3 = translate("-- nightly, compact\nOPTIMIZE TABLE t FINAL /* DEDUPLICATE */")
    assert (st3.kind, st3.table, st3.deduplicate) == ("optimize", "t", False)


def test_create_records_engine_name():
    st = translate(
        "CREATE TABLE t (id UInt64, v String) ENGINE = ReplacingMergeTree ORDER BY (id)"
    )
    assert st.engine == "ReplacingMergeTree"
    assert st.order_by == "(id)"


def test_truncate_classified():
    # first-class kind (not passthrough) so IF EXISTS — which Spark's
    # TRUNCATE lacks — can be honored by the runner
    st = translate("TRUNCATE TABLE t")
    assert st.kind == "truncate"
    assert st.table == "t"
    assert not st.if_exists


def test_add_column_wrapper_type():
    st = translate("ALTER TABLE t ADD COLUMN tag Nullable(String) DEFAULT 'x'")
    assert st.kind == "add_column"
    assert st.col_type == "STRING"
    assert st.default == "'x'"


def test_ctas_with_engine_clauses_preserves_select():
    st = translate(
        "CREATE TABLE t ENGINE = MergeTree ORDER BY (id) "
        "AS SELECT id, v FROM src ORDER BY v"
    )
    assert st.sql == "CREATE TABLE t USING PARQUET AS SELECT id, v FROM src ORDER BY v"
    assert st.order_by == "(id)"  # the table's key, not the SELECT's sort
    assert st.engine == "MergeTree"


def test_ctas_plain_places_using_before_select():
    st = translate("CREATE TABLE t2 AS SELECT 1 AS x")
    assert st.sql == "CREATE TABLE t2 USING PARQUET AS SELECT 1 AS x"


def test_on_cluster_stripped_everywhere():
    st = translate(
        "CREATE TABLE t ON CLUSTER main (id UInt64) ENGINE = MergeTree ORDER BY (id)"
    )
    assert "CLUSTER" not in st.sql
    st2 = translate("DROP TABLE t ON CLUSTER `prod-1`")
    assert st2.sql.strip() == "DROP TABLE t"


def test_alter_column_ops_classified():
    st = translate("ALTER TABLE t DROP COLUMN IF EXISTS v")
    assert (st.kind, st.table, st.column) == ("drop_column", "t", "v")
    st = translate("ALTER TABLE t MODIFY COLUMN v UInt64")
    assert (st.kind, st.column, st.col_type) == ("modify_column", "v", "BIGINT")
    st = translate("ALTER TABLE t RENAME COLUMN a TO b")
    assert (st.kind, st.column, st.rename_to) == ("rename_column", "a", "b")
    # MODIFY TTL must not be swallowed by MODIFY COLUMN
    assert translate("ALTER TABLE t MODIFY TTL ts + INTERVAL 7 DAY").kind == "set_ttl"
    st = translate("-- x\nALTER TABLE t DROP COLUMN /* old, unused */ v")
    assert (st.kind, st.table, st.column) == ("drop_column", "t", "v")


def test_comments_blanked_before_classifying():
    st = translate("-- x\nALTER TABLE u DELETE WHERE id = 1")
    assert (st.kind, st.table, st.predicate) == ("cow_delete", "u", "id = 1")
    st = translate(
        "ALTER TABLE u UPDATE -- set both, s and v\n s = 'a--b', "
        "/* c, d */ v = 2 WHERE id = 1 -- done"
    )
    assert st.kind == "cow_update"
    assert st.assignments == [("s", "'a--b'"), ("v", "2")]
    assert st.predicate == "id = 1"
    # a Spark optimizer hint is not a comment and stays
    st = translate("INSERT INTO t SELECT /*+ REPARTITION(2) */ * FROM s")
    assert st.sql == "INSERT INTO t SELECT /*+ REPARTITION(2) */ * FROM s"


def test_materialized_view_maps_to_ctas_table():
    st = translate(
        "CREATE MATERIALIZED VIEW mv ENGINE = SummingMergeTree ORDER BY (day) "
        "POPULATE AS SELECT day, sum(v) AS total FROM src GROUP BY day"
    )
    assert st.kind == "create_table"
    assert st.sql == (
        "CREATE TABLE mv USING PARQUET AS SELECT day, sum(v) AS total "
        "FROM src GROUP BY day"
    )
    assert st.engine == "SummingMergeTree"
    assert st.order_by == "(day)"


def test_drop_sync_modifier_stripped():
    st = translate("DROP TABLE IF EXISTS t SYNC")
    assert st.sql.strip() == "DROP TABLE IF EXISTS t"


def test_codec_and_inline_index_stripped():
    st = translate(
        "CREATE TABLE t (id UInt64, v UInt64 CODEC(ZSTD(3)), "
        "INDEX iv v TYPE set(100) GRANULARITY 4) ENGINE = MergeTree ORDER BY (id)"
    )
    assert st.sql == "CREATE TABLE t (id BIGINT, v BIGINT) USING PARQUET"


def test_create_column_list_and_engine_args_nest():
    """The column list is the group after the table name and the ENGINE
    clause runs to the next clause keyword, whatever parens they hold:
    an expression DEFAULT is dropped whole (``DEFAULT now()`` used to
    leave ``TIMESTAMP ))``), and so is a nested ENGINE argument."""
    for default in ("now()", "toDate(ts)", "map('a', 1)", "[1, 2]"):
        st = translate(
            f"CREATE TABLE t (id UInt32, created_at DateTime DEFAULT {default}) "
            "ENGINE = MergeTree ORDER BY id"
        )
        assert st.sql == "CREATE TABLE t (id BIGINT, created_at TIMESTAMP ) USING PARQUET"
        assert st.order_by == "id"
    st = translate(
        "CREATE TABLE t (id UInt32, ver UInt64) "
        "ENGINE = ReplacingMergeTree(toUInt64(ver)) ORDER BY id SETTINGS a = 1"
    )
    assert st.sql == "CREATE TABLE t (id BIGINT, ver BIGINT) USING PARQUET"
    assert (st.engine, st.order_by) == ("ReplacingMergeTree", "id")
    st = translate(
        "CREATE TABLE t (m Map(String, UInt8) DEFAULT map('a', 1), u UInt32 DEFAULT -1 "
        "COMMENT 'c', d Date TTL d + INTERVAL 1 DAY) ENGINE = MergeTree ORDER BY tuple()"
    )
    assert st.sql == (
        "CREATE TABLE t (m MAP<STRING, SMALLINT> , u BIGINT DEFAULT CAST(4294967295 AS BIGINT) "
        "COMMENT 'c', d DATE ) USING PARQUET"
    )
    with pytest.raises(ValueError, match="unclosed column list"):
        translate("CREATE TABLE t (id UInt32, d DateTime DEFAULT now() ENGINE = Log")


def test_create_keeps_its_own_provider_before_partitioned_by():
    """A top-level ``USING <fmt>`` anywhere after the column list names
    the provider; only a CREATE without one gets ``USING PARQUET``."""
    st = translate("CREATE TABLE t (k Int64, d String) USING PARQUET PARTITIONED BY (d)")
    assert st.sql == "CREATE TABLE t (k BIGINT, d STRING) USING PARQUET PARTITIONED BY (d)"
    st = translate(
        "CREATE TABLE t (k Int64) USING ORC TBLPROPERTIES ('note' = 'USING x')"
    )
    assert st.sql == "CREATE TABLE t (k BIGINT) USING ORC TBLPROPERTIES ('note' = 'USING x')"
    st = translate("CREATE TABLE t (k Int64, s String DEFAULT 'USING x') ENGINE = Log")
    assert st.sql.endswith(") USING PARQUET")


def test_alter_index_ops_are_noops():
    for stmt in (
        "ALTER TABLE t ADD INDEX iv v TYPE minmax GRANULARITY 2",
        "ALTER TABLE t DROP INDEX iv",
        "ALTER TABLE t MATERIALIZE INDEX iv",
    ):
        st = translate(stmt)
        assert st.kind == "passthrough" and st.sql == "SELECT 1"


def test_map_and_tuple_types():
    from clickhouse_migrator_spark.ddl import map_types

    assert map_types("Map(String, UInt64)") == "MAP<STRING, BIGINT>"
    assert map_types("Tuple(String, UInt32)") == "STRUCT<_1: STRING, _2: BIGINT>"
    assert map_types("Tuple(name String, age UInt8)") == "STRUCT<name: STRING, age: SMALLINT>"
    assert (
        map_types("Array(Tuple(String, Nullable(UInt64)))")
        == "ARRAY<STRUCT<_1: STRING, _2: BIGINT>>"
    )
    assert map_types("Map(String, Array(UInt32))") == "MAP<STRING, ARRAY<BIGINT>>"


def test_operational_statements_are_noops():
    """KILL MUTATION / SYSTEM maintenance ops have no referent here:
    mutations are synchronous and there are no background merges."""
    from clickhouse_migrator_spark.ddl import translate

    for sql in (
        "KILL MUTATION WHERE database = 'db' AND mutation_id = 'x'",
        "KILL QUERY WHERE query_id = 'abc'",
        "SYSTEM STOP MERGES db.t",
        "SYSTEM START MERGES db.t",
        "SYSTEM FLUSH LOGS",
        "SYSTEM RELOAD DICTIONARIES",
    ):
        st = translate(sql)
        assert st.kind == "passthrough" and st.sql == "SELECT 1", sql


def test_ddl_literals_are_opaque_to_all_scans():
    """Pinned (round-7 probe battery): string-literal contents are data
    to every DDL scan — type tokens are not rewritten inside them, and
    ENGINE/ORDER BY/PARTITION BY/SETTINGS/AS SELECT spellings (or commas
    and parens) inside a column DEFAULT/COMMENT literal neither corrupt
    the emitted Spark DDL nor leak into the recorded layout clauses."""
    from clickhouse_migrator_spark.ddl import map_types, translate

    assert map_types("INSERT INTO t VALUES ('a UInt32 b')") == (
        "INSERT INTO t VALUES ('a UInt32 b')"
    )
    assert map_types("SELECT 'String' AS s") == "SELECT 'String' AS s"
    assert (
        map_types("SELECT 'it''s a Tuple(x UInt8)' AS s")
        == "SELECT 'it''s a Tuple(x UInt8)' AS s"
    )

    st = translate(
        "CREATE TABLE t (s String DEFAULT 'ORDER BY x', id UInt64) "
        "ENGINE = MergeTree ORDER BY (id) PARTITION BY tuple()"
    )
    assert st.sql == (
        "CREATE TABLE t (s STRING DEFAULT CAST('ORDER BY x' AS STRING), id BIGINT) "
        "USING PARQUET"
    )
    assert st.order_by == "(id)" and st.partition_by == "tuple()"

    st = translate(
        "CREATE TABLE t (s String COMMENT 'ENGINE = Memory SETTINGS x=1') "
        "ENGINE = MergeTree ORDER BY tuple()"
    )
    assert st.engine == "MergeTree"
    assert "COMMENT 'ENGINE = Memory SETTINGS x=1'" in st.sql

    # a literal containing , and ) no longer truncates the DEFAULT
    st = translate(
        "CREATE TABLE t (s String DEFAULT 'a,b)c') ENGINE = MergeTree "
        "ORDER BY tuple()"
    )
    assert st.sql == "CREATE TABLE t (s STRING DEFAULT CAST('a,b)c' AS STRING)) USING PARQUET"

    # quoted expressions in recorded clauses survive unmasking intact
    st = translate(
        "CREATE TABLE t (id UInt64) ENGINE = MergeTree "
        "ORDER BY (if(k = 'x', 0, 1), id)"
    )
    assert st.order_by == "(if(k = 'x', 0, 1), id)"

    # AS SELECT inside a literal is not a CTAS
    st = translate(
        "CREATE TABLE t (s String DEFAULT 'x AS SELECT y') "
        "ENGINE = MergeTree ORDER BY tuple()"
    )
    assert st.sql == (
        "CREATE TABLE t (s STRING DEFAULT CAST('x AS SELECT y' AS STRING)) USING PARQUET"
    )

    # CODEC and ON CLUSTER spellings inside a literal are data: only the
    # statement's own decorations are dropped
    st = translate(
        "CREATE TABLE t (s String DEFAULT 'x CODEC(ZSTD(1)) y' CODEC(ZSTD(1))) "
        "ENGINE = MergeTree ORDER BY tuple()"
    )
    assert st.sql == (
        "CREATE TABLE t (s STRING DEFAULT CAST('x CODEC(ZSTD(1)) y' AS STRING)) USING PARQUET"
    )
    st = translate("ALTER TABLE t ON CLUSTER c UPDATE s = 'a CODEC(b)' WHERE k = 1")
    assert (st.table, st.assignments) == ("t", [("s", "'a CODEC(b)'")])
    assert translate("INSERT INTO t VALUES ('p ON CLUSTER c q')").sql == (
        "INSERT INTO t VALUES ('p ON CLUSTER c q')"
    )

    # the ALTER clause keywords inside a literal are data too: WHERE ends
    # an UPDATE's assignments, TO TABLE a MOVE's partition, FROM a
    # REPLACE's partition
    st = translate("ALTER TABLE t UPDATE s = 'a WHERE b' WHERE id = 1")
    assert st.kind == "cow_update"
    assert st.assignments == [("s", "'a WHERE b'")]
    assert st.predicate == "id = 1"
    st = translate("ALTER TABLE a MOVE PARTITION 'p TO TABLE b' TO TABLE c")
    assert (st.kind, st.table, st.rename_to, st.predicate) == (
        "move_partition",
        "a",
        "c",
        "'p TO TABLE b'",
    )
    st = translate("ALTER TABLE a REPLACE PARTITION 'x FROM y' FROM src")
    assert (st.kind, st.table, st.rename_to, st.predicate) == (
        "replace_partition",
        "a",
        "src",
        "'x FROM y'",
    )

    # type names inside backticked identifiers are names, not types
    st = translate(
        "CREATE TABLE t (`Date` Date, `x String` String) ENGINE = MergeTree ORDER BY `Date`"
    )
    assert st.sql == "CREATE TABLE t (`Date` DATE, `x String` STRING) USING PARQUET"
    assert st.order_by == "`Date`"


def test_split_top_is_quote_aware(spark):
    """Pinned (round-7): top-level comma splits treat literal commas as
    data — end-to-end through an ALTER UPDATE with a comma literal."""
    from clickhouse_migrator_spark.functions.select_funcs import _split_top
    from clickhouse_migrator_spark import migrate as M
    import uuid

    assert _split_top("'a,b', 'c', k") == ["'a,b'", " 'c'", " k"]
    assert _split_top("a = 'x,y', b = 2") == ["a = 'x,y'", " b = 2"]
    assert _split_top("f(x, y), 'it''s, ok'") == ["f(x, y)", " 'it''s, ok'"]
    assert _split_top("`a,b` = 1, c = 2") == ["`a,b` = 1", " c = 2"]
    assert _split_top("a = [1, 2], b = 3") == ["a = [1, 2]", " b = 3"]
    st = translate("ALTER TABLE t UPDATE `a,b` = 1 WHERE k = 1")
    assert st.assignments == [("a,b", "1")]

    db = "splitdb_" + uuid.uuid4().hex[:8]
    prev = spark.catalog.currentDatabase()
    M.create_db(spark, db)
    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(
            spark,
            "CREATE TABLE su (id UInt64, s String, v UInt64) "
            "ENGINE = MergeTree ORDER BY (id)",
        )
        spark.sql(f"INSERT INTO `{db}`.su VALUES (1, 'x', 0)")
        M.execute_statement(
            spark, "ALTER TABLE su UPDATE s = 'a,b', v = 2 WHERE id = 1"
        )
        row = spark.table(f"`{db}`.su").first()
        assert row.s == "a,b" and row.v == 2
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql(f"DROP DATABASE `{db}` CASCADE")


# ── backslash-escaped literals stay opaque to the DDL scanners ───────────────


def test_ddl_split_top_backslash_literal():
    from clickhouse_migrator_spark.functions.select_funcs import _split_top

    parts = _split_top(r"a = 'x\',y', b = 2")
    assert len(parts) == 2
    assert parts[0].strip() == r"a = 'x\',y'"
    assert parts[1].strip() == "b = 2"


def test_ddl_literal_mask_backslash_roundtrip():
    sql = r"CREATE TABLE t (s String DEFAULT 'it\'s a UInt32, ORDER BY x')"
    masked, lits = ddl._mask_literal_contents(sql)
    # the whole escaped literal collapsed into ONE slot — no stray
    # fragment of the literal remains visible to keyword scans
    assert "UInt32" not in masked and "ORDER BY x" not in masked
    assert ddl._unmask_literal_contents(masked, lits) == sql


def test_map_types_backslash_literal_content_untouched():
    sql = r"s String DEFAULT 'keep UInt32 \' Nullable(Int8)'"
    out = ddl.map_types(sql)
    assert r"'keep UInt32 \' Nullable(Int8)'" in out
    assert out.startswith("s STRING")


def test_alter_column_codec_is_dropped_through_its_close():
    """An ALTER column's CODEC is dropped through its own close, however
    deep its arguments nest, so the DEFAULT or type before it stands."""
    from clickhouse_migrator_spark.ddl import translate

    st = translate("ALTER TABLE t ADD COLUMN c UInt32 DEFAULT 5 CODEC(Delta(4), ZSTD(1))")
    assert (st.kind, st.col_type, st.default, st.metadata_only) == (
        "add_column", "BIGINT", "5", True
    )
    st = translate("ALTER TABLE t ON CLUSTER 'main' MODIFY COLUMN c UInt64 CODEC(ZSTD(1))")
    assert (st.kind, st.table, st.col_type) == ("modify_column", "t", "BIGINT")
