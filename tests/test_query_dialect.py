"""SELECT-side ClickHouse modifiers: FROM t FINAL (merge-on-read for
Replacing engines) and SAMPLE k (deterministic hash sampling over the
recorded SAMPLE BY key).  The reference sends these verbatim to the
server (`/root/reference/clickhouse_migrate/migrate.py:12-15`); here
they rewrite to native Spark plans."""

from __future__ import annotations

import pytest

from clickhouse_migrator_spark import migrate as M


def test_final_dedupes_replacing_table(spark, db):
    M.execute_statement(
        spark,
        "CREATE TABLE kv (k UInt64, v UInt32) ENGINE = ReplacingMergeTree ORDER BY (k)",
    )
    spark.sql("INSERT INTO kv VALUES (1, 10), (1, 20), (2, 5)")
    # raw read sees both versions; FINAL sees one survivor per key
    assert M.execute_and_inflate(spark, "SELECT * FROM kv").count() == 3
    rows = {
        r.k: r.v
        for r in M.execute_and_inflate(spark, "SELECT * FROM kv FINAL").collect()
    }
    assert rows == {1: 20, 2: 5}  # max-struct survivor (documented)
    # FINAL composes with ordinary SQL around it
    n = M.execute_and_inflate(
        spark, "SELECT count(*) AS n FROM kv FINAL WHERE v > 4"
    ).collect()[0].n
    assert n == 2


def test_final_noop_on_plain_mergetree(spark, db):
    M.execute_statement(
        spark, "CREATE TABLE plain (k UInt64, v UInt32) ENGINE = MergeTree ORDER BY (k)"
    )
    spark.sql("INSERT INTO plain VALUES (1, 10), (1, 20)")
    assert M.execute_and_inflate(spark, "SELECT * FROM plain FINAL").count() == 2


def test_sample_fraction_deterministic(spark, db):
    M.execute_statement(
        spark,
        "CREATE TABLE big (id UInt64, v UInt32) ENGINE = MergeTree "
        "ORDER BY (id) SAMPLE BY id",
    )
    spark.range(10_000).selectExpr("id", "id % 100 AS v").write.insertInto("big")
    a = M.execute_and_inflate(spark, "SELECT id FROM big SAMPLE 0.1").collect()
    b = M.execute_and_inflate(spark, "SELECT id FROM big SAMPLE 1/10").collect()
    assert {r.id for r in a} == {r.id for r in b}  # repeatable, 1/10 == 0.1
    assert 500 < len(a) < 1500  # ~10% of 10k
    sub = M.execute_and_inflate(spark, "SELECT id FROM big SAMPLE 0.05").collect()
    # smaller fraction is a subset of the larger one (same hash ladder)
    assert {r.id for r in sub} <= {r.id for r in a}


def test_sample_rejects_row_counts(spark, db):
    M.execute_statement(
        spark, "CREATE TABLE s2 (id UInt64) ENGINE = MergeTree ORDER BY (id)"
    )
    with pytest.raises(ValueError):
        M.execute_and_inflate(spark, "SELECT * FROM s2 SAMPLE 1000")


def test_final_and_sample_compose(spark, db):
    M.execute_statement(
        spark,
        "CREATE TABLE kv2 (k UInt64, v UInt32) ENGINE = ReplacingMergeTree "
        "ORDER BY (k) SAMPLE BY k",
    )
    spark.range(1_000).selectExpr("id AS k", "CAST(1 AS INT) AS v").write.insertInto(
        "kv2"
    )
    spark.range(1_000).selectExpr("id AS k", "CAST(2 AS INT) AS v").write.insertInto(
        "kv2"
    )
    rows = M.execute_and_inflate(
        spark, "SELECT k, v FROM kv2 FINAL SAMPLE 0.2"
    ).collect()
    assert all(r.v == 2 for r in rows)  # dedupe happened before sampling
    assert 100 < len(rows) < 350


def test_with_totals_rewrite(spark, db):
    M.execute_statement(
        spark, "CREATE TABLE sales (region String, amt UInt32) ENGINE = MergeTree ORDER BY tuple()"
    )
    spark.sql("INSERT INTO sales VALUES ('e', 10), ('e', 5), ('w', 7)")
    rows = sorted(
        [
            (r.region, r.total)
            for r in M.execute_and_inflate(
                spark,
                "SELECT region, sum(amt) AS total FROM sales GROUP BY region WITH TOTALS",
            ).collect()
        ],
        key=lambda x: (x[0] is None, x),
    )
    # per-group rows plus ONE all-groups totals row (keys NULL there)
    assert rows == [("e", 15), ("w", 7), (None, 22)]


def test_numbers_table_function_rewrite(spark):
    from clickhouse_migrator_spark.migrate import _rewrite_numbers, rewrite_query

    assert (
        _rewrite_numbers("SELECT number FROM numbers(10)")
        == "SELECT number FROM (SELECT id AS number FROM range(0, 10))"
    )
    # offset form: numbers(5, 10) = 5..14
    q = rewrite_query(spark, "SELECT max(number) AS m FROM numbers(5, 10)")
    assert spark.sql(q).collect()[0].m == 14
    # non-literal args and identifiers named `numbers` are untouched
    assert _rewrite_numbers("SELECT numbers FROM t") == "SELECT numbers FROM t"
    assert _rewrite_numbers("SELECT numbers(x) FROM t") == "SELECT numbers(x) FROM t"
