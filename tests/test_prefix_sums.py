"""Distributed two-level rank substrate (stats.with_global_row_number):
exact equality with the naive global window — row numbers and running
sums — at high cardinality, under ties and under duplicate bucket
boundaries.  A distinct-value grid ordered by its value alone is the
input AUC/KS/Mann-Whitney/weighted-median use; it keeps them free of
single-partition sorts when the score column is continuous."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from clickhouse_migrator_spark.operators.stats import with_global_row_number


def test_with_global_row_number_sums_match_naive_window_100k(spark):
    # 100k distinct pseudo-continuous values — the regime where the
    # distinct-value grid approaches row count
    grid = spark.range(100_000).select(
        (F.sin(F.col("id").cast("double")) * 1e6).alias("value"),
        (F.col("id") % 7 + 1).alias("c_a"),
        (F.col("id") % 3).alias("c_b"),
    )
    fast = with_global_row_number(grid, ["value"], rn_col="rn", sum_cols=["c_a", "c_b"])
    w = Window.orderBy("value")
    wf = w.rowsBetween(Window.unboundedPreceding, 0)
    naive = grid.select(
        "value",
        F.row_number().over(w).alias("rn"),
        F.sum("c_a").over(wf).alias("cum_c_a"),
        F.sum("c_b").over(wf).alias("cum_c_b"),
    )
    diff = (
        fast.select("value", "rn", "cum_c_a", "cum_c_b")
        .exceptAll(naive)
        .count()
    )
    assert diff == 0
    assert fast.count() == 100_000


def test_with_global_row_number_parallel_window(spark):
    """The big window must be partitioned (parallel); only the
    n_buckets-row offset window may be global."""
    grid = spark.range(1000).select(
        F.col("id").cast("double").alias("value"), F.lit(1).alias("c")
    )
    out = with_global_row_number(grid, ["value"], sum_cols=["c"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2  # within-bucket + offsets windows exist


def test_median_rank_select_matches_percentile_cont(spark):
    """median_rank_select == quantile_cont(0.5) on even/odd counts and
    heavy ties (the bucket rank-selection must hit the same two middle
    order statistics the buffered exact percentile sees)."""
    from clickhouse_migrator_spark.operators.stats import median_rank_select

    for n in (99_999, 100_000, 101):
        vals = spark.range(n).select(
            # ties: values repeat every 10 ids; shifted+scaled sin keeps
            # the distribution non-uniform so buckets are uneven
            (F.round(F.sin((F.col("id") % (n // 10 + 1)).cast("double")) * 1e4) / 7.0).alias(
                "v"
            )
        )
        n_total = vals.agg(F.count(F.lit(1)).alias("n"))
        got = median_rank_select(vals, "v", n_total, "n").collect()[0]["median"]
        want = vals.agg(F.expr("percentile(v, 0.5)").alias("m")).collect()[0]["m"]
        assert got == want, (n, got, want)


def test_with_global_row_number_duplicate_boundaries(spark):
    """90% of the mass on one value → percentile_approx returns the
    same boundary many times; the (lo, hi] range-join probe must still
    assign every row to exactly one bucket (duplicate boundaries yield
    lo == hi empty ranges, matching the strictly-less counting
    semantics)."""
    grid = spark.range(50_000).select(
        F.when(F.col("id") % 10 != 0, 500.0)
        .otherwise(F.col("id").cast("double"))
        .alias("value"),
        F.lit(1).alias("c"),
    ).groupBy("value").agg(F.sum("c").alias("c"))
    fast = with_global_row_number(grid, ["value"], rn_col="rn", sum_cols=["c"])
    w = Window.orderBy("value")
    naive = grid.select(
        "value",
        F.row_number().over(w).alias("rn"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_c"),
    )
    assert fast.select("value", "rn", "cum_c").exceptAll(naive).count() == 0
    assert fast.count() == grid.count()  # every row in exactly one bucket


def test_with_global_row_number_matches_naive(spark):
    """with_global_row_number == row_number() over the same total order,
    including the optional cum_<col> running sums, under first-column
    ties (the composite tiebreak must survive bucketing)."""
    df = spark.range(80_000).select(
        (F.col("id") % 997).cast("double").alias("score"),  # heavy ties
        F.col("id").alias("k"),
        (F.col("id") % 13).alias("c"),
    )
    fast = with_global_row_number(df, ["score", "k"], rn_col="rn", sum_cols=["c"])
    w = Window.orderBy("score", "k")
    naive = df.select(
        "score",
        "k",
        F.row_number().over(w).alias("rn"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_c"),
    )
    assert (
        fast.select("score", "k", "rn", "cum_c").exceptAll(naive).count() == 0
    )
    assert fast.count() == 80_000


def test_with_totals_equal_separate_aggregates(spark):
    """with_totals / tot_cols (r12): n_total and tot_<col> attached from
    the substrate's 64-row bucket frame must equal the separate
    df.agg() they replace — on every row, for a row-level order and for
    a distinct-value grid ordered by its value alone, including
    negative values (descending-order via negated keys)."""
    df = spark.range(60_000).select(
        (F.col("id") % 1009).cast("double").alias("score"),
        F.col("id").alias("k"),
        (F.col("id") % 13 - 6).alias("c"),  # negative values included
        (F.col("id") % 5).alias("d"),
    )
    want = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("tc"), F.sum("d").alias("td")
    ).collect()[0]
    r = with_global_row_number(
        df, ["score", "k"], rn_col="rn", sum_cols=["c"], tot_cols=["d"],
        with_totals=True,
    )
    got = r.select("n_total", "tot_c", "tot_d").distinct().collect()
    assert len(got) == 1  # constant on every row
    assert (got[0]["n_total"], got[0]["tot_c"], got[0]["tot_d"]) == (
        want["n"], want["tc"], want["td"],
    )
    # rank/cum outputs unchanged by with_totals
    base = with_global_row_number(df, ["score", "k"], rn_col="rn", sum_cols=["c"])
    assert (
        r.select("score", "k", "rn", "cum_c")
        .exceptAll(base.select("score", "k", "rn", "cum_c"))
        .count()
        == 0
    )

    g = df.groupBy("score").agg(F.sum("c").alias("c"), F.sum("d").alias("d"))
    wantg = g.agg(F.sum("c").alias("tc"), F.sum("d").alias("td")).collect()[0]
    rg = with_global_row_number(g, ["score"], sum_cols=["c", "d"], with_totals=True)
    gotg = rg.select("tot_c", "tot_d").distinct().collect()
    assert len(gotg) == 1
    assert (gotg[0]["tot_c"], gotg[0]["tot_d"]) == (wantg["tc"], wantg["td"])
