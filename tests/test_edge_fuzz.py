"""Data-edge fuzz regressions (VERDICT r7 #3).

The full harness is ``tools/edge_fuzz.py`` (runs all variants; the
round-8 artifact is ``archive/EDGE_FUZZ_r8.json``).  This file pins the
five REAL divergences the harness caught in round 8, as fast unit
tests:

1. ``round_quotient`` with a zero denominator: Spark ANSI ``%``
   crashed while DuckDB ``// 0`` yields NULL → now NULL both sides
   (``single/agg_ks_two_sample``).
2. ``agg_ab_test_lift`` z-stat: zero pooled variance crashed Spark's
   ANSI division → ``try_divide`` NULL, like DuckDB.
3. ``agg_approx_count_distinct``: the exact/approx rejoin dropped an
   all-NULL group key → null-safe join equality.
4. ``scalar_url_funcs``: DuckDB ``concat()`` skips NULLs (Spark's
   propagates) and unsanitized text built URLs Spark's ``parse_url``
   rejects → ``||`` oracle + alnum-sanitized brand.
5. ``utrim``: DuckDB ``trim()`` strips Unicode Zs (NBSP included,
   tab/newline excluded); Spark's strips ASCII space only.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from clickhouse_migrator_spark.hashsafe import (
    oracle_round_quotient,
    round_quotient,
    utrim,
)


def test_round_quotient_zero_denominator_is_null_both_engines(spark):
    df = spark.createDataFrame([(10, 0), (10, 4)], "num int, den int")
    out = {
        r.den: r.q
        for r in df.select(
            "den", round_quotient(F.col("num"), F.col("den"), 4).alias("q")
        ).collect()
    }
    assert out[0] is None  # was: ANSI REMAINDER_BY_ZERO crash
    assert out[4] == 2.5
    sql = f"SELECT {oracle_round_quotient('10', '0', 4)} AS q"
    assert duckdb.sql(sql).fetchone()[0] is None


@pytest.mark.parametrize(
    "text",
    [
        "\xa0\xa0 x1🚀"[:-2] + "z",  # NBSP edges
        "　cjk edge　",
        "\tkeep tabs\t",  # Zs does NOT strip tabs
        " plain ",
        "​zwsp stays​",
    ],
)
def test_utrim_matches_duckdb_trim(spark, text):
    got = (
        spark.createDataFrame([(text,)], "t string")
        .select(utrim(F.col("t")).alias("x"))
        .collect()[0]
        .x
    )
    want = duckdb.execute("SELECT trim(?)", [text]).fetchone()[0]
    assert got == want, (repr(text), repr(got), repr(want))


def _one_table_dir(spark, tmp_path, name, df):
    df.write.mode("overwrite").parquet(str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


def test_approx_count_distinct_keeps_null_group(spark, tmp_path):
    from clickhouse_migrator_spark.operators.aggregates import (
        agg_approx_count_distinct,
    )

    orders = spark.createDataFrame(
        [(1, 10, None, 1.0, None, None), (2, 11, None, 2.0, None, None)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    sf = _one_table_dir(spark, tmp_path, "orders", orders)
    rows = agg_approx_count_distinct(spark, sf).collect()
    # the NULL priority group must survive the exact⋈approx rejoin
    assert len(rows) == 1
    assert rows[0].o_orderpriority is None
    assert rows[0].n_customers_exact == 2


# ── utrim end-of-string parity with DuckDB trim() ────────────────────────────


@pytest.mark.parametrize(
    "text",
    [
        "hello \n",       # Zs before a FINAL newline — $ stripped it
        "hello\xa0\r",
        "a \n b ",        # trailing Zs at true end — still stripped
        "\xa0lead",
    ],
)
def test_utrim_final_line_terminator_parity(spark, text):
    got = (
        spark.createDataFrame([(text,)], "t string")
        .select(utrim(F.col("t")).alias("x"))
        .collect()[0]
        .x
    )
    want = duckdb.execute("SELECT trim(?)", [text]).fetchone()[0]
    assert got == want, (repr(text), repr(got), repr(want))


def test_utrim_btrim_equals_regex_spec_on_all_zs(spark):
    """The r9 btrim fast path must equal the anchored \\p{Zs} regex
    SPEC character-for-character: every Zs codepoint alone and layered
    with non-Zs whitespace (tab/newline stay, exactly like DuckDB),
    verified against DuckDB trim() itself in the same sweep."""
    from clickhouse_migrator_spark.hashsafe import _UNICODE_WS_EDGES, _ZS_CHARS

    assert len(_ZS_CHARS) == 17
    cases = []
    for z in _ZS_CHARS:
        cases.extend(
            [
                f"{z}x{z}",
                f"{z}{z}a b{z}\n",   # Zs then final newline: newline survives
                f"\t{z}mid{z}\t",    # tab is NOT Zs: survives on both ends
                f"{z}",
                f"x{z}y",            # interior Zs untouched
            ]
        )
    cases.extend(["", "\n", "   　 ", "no-ws"])
    df = spark.createDataFrame([(c,) for c in cases], "t string").select(
        F.col("t"),
        utrim(F.col("t")).alias("fast"),
        F.regexp_replace(F.col("t"), _UNICODE_WS_EDGES, "").alias("spec"),
    )
    for r in df.collect():
        assert r.fast == r.spec, repr(r.t)
        want = duckdb.execute("SELECT trim(?)", [r.t]).fetchone()[0]
        assert r.fast == want, (repr(r.t), repr(r.fast), repr(want))
