"""Aggregation operator pack (SURVEY.md §2.D).

The reference's aggregation surface is COUNT(*) pass-through
(SURVEY.md §2.C C6) plus pandas ``empty``/``len`` guards
(`migrate.py:28-31`); this pack provides the full driver-mandated
surface: grouped aggregates, distinct/approx-distinct, rollup/cube/
grouping-sets, having, conditional aggregation, pivot, and order
statistics.

Scale notes: everything here is hash aggregation with map-side partial
aggregation (automatic in Spark); `approx_count_distinct` is the
100 TB path for cardinality (HLL++, constant memory) with exact
`count_distinct` (expand + two-phase) next to it for small keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import memo
from ..hashsafe import oracle_round_quotient, round_quotient
from ..registry import register
from ..tables import table, register_views


@register(
    "agg_orders_by_status",
    oracle=f"""
    SELECT o_orderstatus,
           count(*)                    AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price,
           {oracle_round_quotient("sum(CAST(o_totalprice AS DECIMAL(18,2)))", "count(o_totalprice)", 4)} AS avg_price,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).alias("total_price"),
            round_quotient(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                F.count("o_totalprice"),
                4,
            ).alias("avg_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@register(
    "agg_count_distinct_customers",
    oracle="""
    SELECT o_orderpriority,
           count(*)                   AS n_orders,
           count(DISTINCT o_custkey)  AS n_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


@register(
    "agg_approx_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers_exact,
           true AS within_5pct
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality — THE distinct-count at 100 TB
    (constant memory, mergeable partials).  Raw estimates are
    engine-specific, so the oracle pins the exact count and a
    2%-tolerance flag on the rsd=0.01 estimate (the sketch-certification
    pattern shared with `agg_hll_sketch_merge` /
    `agg_count_min_frequencies` / `agg_tdigest_percentile_audit`) —
    a full value-hash check instead of the weaker rows-only gate."""
    o = table(spark, sf_dir, "orders")
    # two separate single-function aggregations joined on the tiny
    # result: mixing DISTINCT and sketch accumulators in one agg forces
    # Spark's Expand-based distinct rewrite to drag the HLL buffers
    # through an extra exchange lane (measured ~10x slower than the two
    # plain aggregates plus a 5-row broadcast join)
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers_exact")
    )
    approx = o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("est")
    )
    # null-safe equality: an all-NULL group key (data-edge fuzz,
    # round 8) must survive the rejoin — a plain equi-join drops the
    # NULL group that the oracle's single GROUP BY keeps
    both = exact.join(
        F.broadcast(approx),
        exact["o_orderpriority"].eqNullSafe(approx["o_orderpriority"]),
    ).drop(approx["o_orderpriority"])
    return both.select(
        "o_orderpriority",
        "n_customers_exact",
        (
            F.abs(F.col("est") - F.col("n_customers_exact"))
            <= 0.05 * F.col("n_customers_exact")
        ).alias("within_5pct"),
    ).orderBy("o_orderpriority")


@register(
    "agg_rollup_region_nation",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_customers, round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2).alias("total_acctbal"),
        )
    )


@register(
    "agg_cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).alias("total_price"),
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_having_big_customers",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 8 AND sum(o_totalprice) > 100000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("_total"),
        )
        .filter((F.col("n_orders") >= 8) & (F.col("_total") > 100000))
        .select("o_custkey", "n_orders", F.round("_total", 2).alias("total_price"))
    )


@register(
    "agg_conditional_returnflag_mix",
    oracle=f"""
    SELECT l_linestatus,
           count(*) AS n_items,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
           round(CAST(sum(CASE WHEN l_returnflag = 'R'
                               THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
                      AS DOUBLE), 2)                            AS returned_value,
           {oracle_round_quotient(
               "sum(CASE WHEN l_discount > 0.05 THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)",
               "count(CASE WHEN l_discount > 0.05 THEN 1 END)", 4)}
               AS avg_discounted_price
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation with EXACT money arithmetic: the price is
    decimal-cast before summing so the partial-aggregation order cannot
    move the rounded output (a float sum near a .005 boundary flips
    between runs — CORRECTNESS r01's observed flake).  The average is a
    2-decimal sum over a count, which lands on exact x.xxxx5 halfway
    points — ``round(double, 4)`` of that quotient is an engine-version
    lottery (CORRECTNESS r02's only red row), so the round happens in
    exact integer arithmetic via ``hashsafe.round_quotient``."""
    li = table(spark, sf_dir, "lineitem")
    is_r = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount") > 0.05
    return li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(is_r).alias("n_returned"),
        F.round(
            F.sum(F.when(F.col("l_returnflag") == "R", dec_price)).cast("double"), 2
        ).alias("returned_value"),
        round_quotient(
            F.sum(F.when(disc, dec_price)),
            F.count(F.when(disc, F.lit(1))),
            4,
        ).alias("avg_discounted_price"),
    )


@register(
    "agg_pivot_returnflag",
    oracle="""
    SELECT l_linestatus,
           round(coalesce(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 0), 2) AS qty_A,
           round(coalesce(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 0), 2) AS qty_N,
           round(coalesce(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 0), 2) AS qty_R
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: Spark's groupBy().pivot() with an explicit value list (the
    explicit list keeps the plan single-pass; without it Spark runs a
    distinct-scan first — avoid at scale)."""
    li = table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_quantity"))
    )
    return out.select(
        "l_linestatus",
        F.round(F.coalesce(F.col("A"), F.lit(0.0)), 2).alias("qty_A"),
        F.round(F.coalesce(F.col("N"), F.lit(0.0)), 2).alias("qty_N"),
        F.round(F.coalesce(F.col("R"), F.lit(0.0)), 2).alias("qty_R"),
    )


@register(
    "agg_decimal_exact_sums",
    oracle="""
    SELECT o_orderstatus,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2)))
                     AS DECIMAL(28, 2)) AS VARCHAR) AS total_exact,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decimal aggregation — no float drift by construction (the
    money-typed path; at 100 TB exact decimal sums are what makes
    partial aggregation safely associative).  Emitted as the decimal's
    fixed-point STRING: Spark's sum widens to decimal(28,2), DuckDB's
    to decimal(38,2), and the driver's hasher distinguishes the two
    ``Decimal`` reprs — the rendered text is identical."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .cast("string")
        .alias("total_exact"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_collect_sorted_values",
    oracle="""
    SELECT o_orderpriority,
           coalesce(array_to_string(list_sort(list_distinct(list(o_orderstatus))), ','), '')
               AS statuses,
           coalesce(array_to_string(list_sort(list_distinct(list(year(o_orderdate)))), ','), '')
               AS years
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted → string (array aggregation made
    deterministic; collect order is nondeterministic in both engines, so
    the sort is mandatory for stable output)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias("statuses"),
        F.concat_ws(
            ",", F.sort_array(F.collect_set(F.year("o_orderdate").cast("string")))
        ).alias("years"),
    )


@register(
    "agg_order_statistics",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev,
           round(var_samp(l_extendedprice), 4)    AS price_var,
           round(median(l_quantity), 4)           AS qty_median,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_order_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics (sort-based percentile). At 100 TB use
    `approx_percentile` (t-digest-style sketch) instead — exact
    percentiles require a full per-group sort."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("l_extendedprice"), 4).alias("price_var"),
        F.round(F.median("l_quantity"), 4).alias("qty_median"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("price_p90"),
    )


@register(
    "agg_unpivot_measures",
    oracle=f"""
    SELECT measure, {oracle_round_quotient("sum(CAST(val AS DECIMAL(18,2)))", "count(val)", 4)} AS avg_val, round(CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_val
    FROM (SELECT measure, val
          FROM lineitem
          UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax)))
    GROUP BY measure
    ORDER BY measure
    """,
)
def agg_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measure columns → long (measure, value) rows,
    then per-measure stats — the inverse of `agg_pivot_returnflag`.
    Spark's `unpivot` is a zero-shuffle stack expansion; only the
    following aggregate shuffles (4 groups)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.unpivot(
            ids=[],
            values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            variableColumnName="measure",
            valueColumnName="val",
        )
        # SQL UNPIVOT (and DuckDB's) EXCLUDES NULL cells; Spark's
        # unpivot keeps them — drop to match (round-8 edge fuzz)
        .filter(F.col("val").isNotNull())
        .groupBy("measure")
        .agg(
            round_quotient(
                F.sum(F.col("val").cast("decimal(18,2)")), F.count("val"), 4
            ).alias("avg_val"),
            F.round(F.sum(F.col("val").cast("decimal(18,2)")).cast("double"), 2).alias("sum_val"),
        )
        .orderBy("measure")
    )


@register(
    "agg_argmax_argmin",
    oracle="""
    WITH ranked AS (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
      FROM orders)
    SELECT o_orderstatus,
           max(CASE WHEN rmax = 1 THEN o_orderkey END) AS biggest_order,
           max(CASE WHEN rmin = 1 THEN o_orderkey END) AS smallest_order,
           round(max(o_totalprice), 2) AS max_price,
           round(min(o_totalprice), 2) AS min_price
    FROM ranked
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_argmax_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argMax/argMin (ClickHouse) → `max_by`/`min_by`: the key of the
    extreme row per group in ONE aggregation pass — no window, no
    self-join.  The ordering value is a (price, key) struct so ties
    resolve identically in both engines."""
    o = table(spark, sf_dir, "orders")
    ordc = F.struct("o_totalprice", "o_orderkey")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.max_by("o_orderkey", ordc).alias("biggest_order"),
            F.min_by("o_orderkey", ordc).alias("smallest_order"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_statistical_moments",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)      AS qty_price_corr,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(stddev_pop(l_discount), 6)                 AS discount_stddev,
           round(var_pop(l_tax), 6)                         AS tax_var,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS price_per_qty,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS price_intercept
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_statistical_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (ClickHouse corr/covarPop/stddevPop/
    varPop + linear-regression fit): all single-pass mergeable moments
    — partial aggregation computes per-partition (n, Σx, Σy, Σxy, Σx²)
    and the final reduce combines them, so the shuffle carries a
    handful of doubles per group regardless of data size."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_covar"
            ),
            F.round(F.stddev_pop("l_discount"), 6).alias("discount_stddev"),
            F.round(F.var_pop("l_tax"), 6).alias("tax_var"),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
                "price_per_qty"
            ),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
                "price_intercept"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_quantiles_array",
    oracle="""
    SELECT l_returnflag,
           coalesce(array_to_string(
             list_transform(quantile_cont(l_quantity, [0.25, 0.5, 0.75]),
                            x -> CAST(CAST(round(x, 6) AS DECIMAL(18,6))
                                      AS VARCHAR)), ','), '') AS qty_quartiles,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS price_median
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_quantiles_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``quantiles(0.25,0.5,0.75)(x)`` → one array per group.
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    same (n-1)·p linear-interpolation definition, so values match
    exactly (rounded for float safety).  Single aggregation pass —
    all three quantiles ride one shuffle.  The array is emitted as a
    fixed-point joined STRING (driver-hash-safe; raw array columns
    become unhashable ndarrays in the driver's comparator)."""
    from ..hashsafe import arr_str, dec_str

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        arr_str(
            F.transform(
                F.expr("percentile(l_quantity, array(0.25, 0.5, 0.75))"),
                lambda x: dec_str(F.round(x, 6), 6, 18),
            )
        ).alias("qty_quartiles"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("price_median"),
    )


@register(
    "agg_bit_group",
    oracle="""
    SELECT o_orderstatus,
           bit_and(o_custkey) AS keys_and,
           bit_or(o_custkey)  AS keys_or,
           bit_xor(o_custkey) AS keys_xor
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_bit_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse groupBitAnd/groupBitOr/groupBitXor — associative +
    commutative, so partial aggregation applies and the shuffle carries
    one word per (group, task)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bit_and("o_custkey").alias("keys_and"),
        F.bit_or("o_custkey").alias("keys_or"),
        F.bit_xor("o_custkey").alias("keys_xor"),
    )


@register(
    "agg_topk_frequent",
    oracle="""
    WITH counted AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), ranked AS (
      SELECT o_orderstatus, o_orderpriority, cnt,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY cnt DESC, o_orderpriority) AS rk
      FROM counted
    )
    SELECT o_orderstatus,
           coalesce(array_to_string(list(o_orderpriority ORDER BY rk), ','), '') AS top_priorities,
           array_to_string(list(cnt ORDER BY rk), ',')             AS top_counts
    FROM ranked WHERE rk <= 3 GROUP BY o_orderstatus
    """,
)
def agg_topk_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topK(3)(x)`` — most frequent values per group as an
    array.  ClickHouse's version is an approximate space-saving sketch;
    at this cardinality the exact two-level aggregate is both cheaper
    and deterministic (documented): count per (group, value) —
    map-side combined — then a tiny ranked window over #distinct
    values, ties broken by value for cross-engine stability."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    ranked = counted.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
    sorted_structs = F.array_sort(
        F.collect_list(F.struct("rk", "o_orderpriority", "cnt"))
    )
    return ranked.groupBy("o_orderstatus").agg(
        F.concat_ws(
            ",", F.transform(sorted_structs, lambda s: s.o_orderpriority)
        ).alias("top_priorities"),
        F.concat_ws(
            ",", F.transform(sorted_structs, lambda s: s.cnt.cast("string"))
        ).alias("top_counts"),
    )


@register(
    "agg_skew_kurt",
    oracle="""
    WITH mu AS (
      SELECT l_returnflag, avg(l_extendedprice) AS m
      FROM lineitem GROUP BY l_returnflag
    ), c AS (
      SELECT l.l_returnflag,
             avg(pow(l.l_extendedprice - mu.m, 2)) AS m2,
             avg(pow(l.l_extendedprice - mu.m, 3)) AS m3,
             avg(pow(l.l_extendedprice - mu.m, 4)) AS m4
      -- null-safe join: the NULL flag group must survive like
      -- Spark's groupBy does (round-8 edge fuzz)
      FROM lineitem l JOIN mu
        ON l.l_returnflag IS NOT DISTINCT FROM mu.l_returnflag
      GROUP BY l.l_returnflag
    )
    SELECT l_returnflag,
           round(m3 / pow(m2, 1.5), 4)   AS price_skewness,
           round(m4 / (m2 * m2) - 3, 4)  AS price_kurtosis
    FROM c ORDER BY l_returnflag
    """,
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness + EXCESS kurtosis per group via Spark's
    native single-pass ``skewness``/``kurtosis``.  (Note: ClickHouse's
    ``kurtPop`` is the NON-excess form — the dialect rewriter maps it
    to ``kurtosis(x) + 3``; this query deliberately reports the excess
    form and its oracle mirrors that.)  Single-pass mergeable central
    moments —
    partials carry (n, Σx, Σx², Σx³, Σx⁴)-equivalent state per group, so
    the shuffle is constant-width at any data size.  DuckDB's built-ins
    are *sample*-adjusted, so the oracle computes the population
    formulas explicitly via a two-pass centered-moment query."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.skewness("l_extendedprice"), 4).alias("price_skewness"),
            F.round(F.kurtosis("l_extendedprice"), 4).alias("price_kurtosis"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_entropy_event_types",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           -- +0 normalizes IEEE -0.0 (single-type users: H is exactly
           -- 0 but float noise rounds to -0.0 on one engine only)
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) + 0 AS type_entropy
    FROM counts GROUP BY user_id
    """,
)
def agg_entropy_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``entropy()`` — Shannon entropy (bits) of each user's
    event-type distribution.  H = log2(n) − Σ c·log2(c) / n over the
    per-(user, type) counts: two stacked aggregations on the same
    user_id shuffle key, so the second one is shuffle-free; both are
    partial-agg'd.  The log-sum form avoids materializing per-type
    probabilities (no second pass over the data)."""
    e = table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("user_id").agg(
        (
            F.round(
                F.log2(F.sum("c"))
                - F.sum(F.col("c") * F.log2("c")) / F.sum("c"),
                6,
            )
            + 0.0  # normalize -0.0 (single-type users; round-8 fuzz)
        ).alias("type_entropy")
    )


@register(
    "agg_group_array_ordered",
    oracle="""
    SELECT user_id,
           coalesce(array_to_string((list(event_type ORDER BY ts, event_id))[1:5], ','), '')
             AS first_types,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def agg_group_array_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArray(5)(event_type)`` with a deterministic
    time order: the first 5 event types per user by (ts, event_id).
    `collect_list(struct)` → `array_sort` → `transform` → `slice` keeps
    the whole thing a JVM aggregate (one user_id shuffle, no window
    sort, no Python); the event_id tie-break makes equal-timestamp
    orders identical across engines."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                1,
                5,
            ),
        ).alias("first_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "agg_topk_weighted",
    oracle="""
    WITH wsum AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(28,2)) AS VARCHAR) AS weight,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS w_exact
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY o_orderstatus
         ORDER BY w_exact DESC, o_orderpriority) AS rk
      FROM wsum
    )
    SELECT o_orderstatus,
           coalesce(array_to_string(list(o_orderpriority ORDER BY rk), ','), '') AS top_priorities,
           coalesce(array_to_string(list(weight ORDER BY rk), ','), '')          AS top_weights
    FROM ranked WHERE rk <= 3 GROUP BY o_orderstatus
    """,
)
def agg_topk_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topKWeighted(3)(o_orderpriority, o_totalprice)`` —
    the 3 heaviest values per group by summed weight (exact
    formulation; ClickHouse's is a space-saving approximation).  Same
    two-level shape as ``agg_topk_frequent``: partial-agg'd weight
    rollup, a top-3 window over the tiny (status, priority) grid, then
    an array re-aggregation — the heavy shuffle carries only the
    pre-aggregated grid.  Priority-name tie-break keeps equal weights
    deterministic across engines."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    # exact decimal sum: ranking and rendered weight cannot flake with
    # partial-aggregation order (a float sum near a tie/round boundary
    # would reorder the top-k between runs)
    wsum = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("w_exact")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("w_exact"), F.asc("o_orderpriority")
    )
    ranked = (
        wsum.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .withColumn(
            "weight", F.col("w_exact").cast("decimal(28,2)").cast("string")
        )
    )
    sorted_structs = F.array_sort(
        F.collect_list(F.struct("rk", "o_orderpriority", "weight"))
    )
    return ranked.groupBy("o_orderstatus").agg(
        F.concat_ws(
            ",", F.transform(sorted_structs, lambda s: s.o_orderpriority)
        ).alias("top_priorities"),
        F.concat_ws(",", F.transform(sorted_structs, lambda s: s.weight)).alias(
            "top_weights"
        ),
    )


@register(
    "agg_group_array_moving_sum",
    oracle="""
    WITH r AS (
      SELECT user_id,
             CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0
                  AS DECIMAL(18,2)) AS VARCHAR) AS mv,
             ts, event_id
      FROM events
    )
    SELECT user_id,
           coalesce(array_to_string((list(mv ORDER BY ts, event_id))[1:8], ','), '')
             AS moving_sums
    FROM r GROUP BY user_id
    """,
)
def agg_group_array_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArrayMovingSum(3)(value)`` — per user, the
    running 3-value moving sum materialized as an array in time order
    (first 8 shown).  A frame-bounded window + an ordered array
    aggregation on the same user_id key: the window sort and the
    collect ride one shuffle, and per-row state is the 3-element frame,
    not the whole series."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    # exact cents grid: both engines' windowed-sum internals (running
    # accumulator vs segment tree) agree to the last digit on integers
    cents = F.round(F.col("value") * 100).cast("long")
    r = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.sum(cents).over(w) / F.lit(100.0))
        .cast("decimal(18,2)")
        .cast("string")
        .alias("mv"),
    )
    return r.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            F.slice(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "mv"))),
                    lambda s: s.mv,
                ),
                1,
                8,
            ),
        ).alias("moving_sums")
    )


@register(
    "agg_cramers_v_flag_status",
    oracle="""
    WITH c AS (
      SELECT l_returnflag AS a, l_linestatus AS b,
             CAST(count(*) AS DOUBLE) AS n
      FROM lineitem GROUP BY 1, 2
    ), rt AS (SELECT a, sum(n) AS rn FROM c GROUP BY a),
       ct AS (SELECT b, sum(n) AS cn FROM c GROUP BY b),
       tot AS (SELECT sum(n) AS nn,
                      count(DISTINCT a) AS nr,
                      count(DISTINCT b) AS nc
               FROM c)
    -- null-safe joins keep NULL categories like Spark's window
    -- partitions; +0 normalizes -0.0 on degenerate contingency tables
    SELECT round(sqrt(sum(pow(c.n - rt.rn * ct.cn / tot.nn, 2)
                          / (rt.rn * ct.cn / tot.nn))
                      / (max(tot.nn)
                         * (least(max(tot.nr), max(tot.nc)) - 1))), 4) + 0
             AS cramers_v,
           CAST(max(tot.nn) AS BIGINT) AS n_rows
    FROM c JOIN rt ON c.a IS NOT DISTINCT FROM rt.a
           JOIN ct ON c.b IS NOT DISTINCT FROM ct.b
           CROSS JOIN tot
    """,
)
def agg_cramers_v_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``cramersV(a, b)`` — association strength between two
    categorical columns (chi-squared normalized to [0, 1]), here
    returnflag × linestatus.  The fact scan reduces to one partial-agg
    shuffle producing the tiny contingency table (#flags × #statuses
    cells); every later step — marginals, chi-squared, V — runs on that
    handful of rows with broadcast joins, so the statistic costs
    exactly one pass at any scale."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    # ONE fact scan: everything after the contingency reduction runs on
    # the #flags × #statuses cell frame (a handful of rows), so the
    # marginals are window sums over that tiny frame rather than
    # re-aggregations that would each rescan the fact table.  The
    # unpartitioned window / final 1-row aggregate exchanges move only
    # the cells.
    c = li.groupBy(
        F.col("l_returnflag").alias("a"), F.col("l_linestatus").alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    c3 = c.select(
        "a",
        "b",
        "n",
        F.sum("n").over(Window.partitionBy("a")).alias("rn"),
        F.sum("n").over(Window.partitionBy("b")).alias("cn"),
        F.sum("n").over(Window.partitionBy()).alias("nn"),
    )
    expected = F.col("rn") * F.col("cn") / F.col("nn")
    chi_term = F.pow(F.col("n") - expected, 2) / expected
    return c3.agg(
        # try_divide: one distinct class on either axis zeroes min-1
        # (round-8 edge fuzz) — NULL like DuckDB, not an ANSI crash
        F.round(
            F.sqrt(
                F.try_divide(
                    F.sum(chi_term),
                    F.max("nn")
                    * (F.least(F.countDistinct("a"), F.countDistinct("b")) - 1),
                )
            ),
            4,
        ).alias("cramers_v"),
        F.max("nn").cast("long").alias("n_rows"),
    )


@register(
    "agg_quantile_exact_weighted",
    oracle="""
    WITH per AS (
      SELECT l_returnflag AS flag, l_extendedprice AS price,
             sum(l_quantity) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT flag, price,
             sum(w) OVER (PARTITION BY flag ORDER BY price
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(w) OVER (PARTITION BY flag) AS tot
      FROM per
    )
    SELECT flag,
           min(CASE WHEN cum >= 0.5 * tot THEN price END) AS wmedian_price,
           min(CASE WHEN cum >= 0.9 * tot THEN price END) AS wp90_price
    FROM c GROUP BY flag
    """,
)
def agg_quantile_exact_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``quantileExactWeighted(p)(price, qty)`` — the exact
    weighted quantile: the smallest value whose accumulated weight
    reaches p of the total.  Exact algorithm, no interpolation, so the
    two engines agree bit-for-bit (weights are integer-valued).

    Plan: collapse duplicate values per group first (one partial-agg'd
    shuffle — the cumulative scan then touches #distinct-values rows,
    not #rows), then one window pass for the running weight and a final
    conditional-min.  All three steps ride the same flag-keyed shuffle."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.sum("l_quantity").alias("w"))
    wc = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = per.select(
        "flag",
        "price",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(Window.partitionBy("flag")).alias("tot"),
    )
    return c.groupBy("flag").agg(
        F.min(F.when(F.col("cum") >= 0.5 * F.col("tot"), F.col("price"))).alias(
            "wmedian_price"
        ),
        F.min(F.when(F.col("cum") >= 0.9 * F.col("tot"), F.col("price"))).alias(
            "wp90_price"
        ),
    )


@register(
    "agg_bounding_ratio",
    oracle=f"""
    WITH r AS (
      SELECT o_custkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rf,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rl,
             epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS x,
             o_totalprice AS y
      FROM orders
    )
    SELECT o_custkey,
           {oracle_round_quotient(
               "(max(CASE WHEN rl = 1 THEN CAST(y AS DECIMAL(18,2)) END)"
               " - max(CASE WHEN rf = 1 THEN CAST(y AS DECIMAL(18,2)) END))"
               " * 86400000000",
               "max(CASE WHEN rl = 1 THEN x END)"
               " - max(CASE WHEN rf = 1 THEN x END)", 6, den_scale=0)}
             AS price_slope_per_day
    FROM r GROUP BY o_custkey
    HAVING max(CASE WHEN rl = 1 THEN x END)
           > max(CASE WHEN rf = 1 THEN x END)
    """,
)
def agg_bounding_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``boundingRatio(x, y)`` — the slope between a group's
    first and last point, (yₗₐₛₜ−y_first)/(xₗₐₛₜ−x_first): here each
    customer's order-value drift per day between their first and last
    order.  ``min_by``/``max_by`` over the (date, orderkey) tie-broken
    key extract both endpoints in ONE partial-agg'd pass — no sort, no
    window, constant state per group; time deltas run on exact integer
    microseconds (shift-invariant, so the NTZ/UTC cast cancels)."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.struct("o_orderdate", "o_orderkey").alias("k"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    g = o.groupBy("o_custkey").agg(
        F.min_by("y", F.col("k")).alias("y0"),
        F.max_by("y", F.col("k")).alias("y1"),
        F.min("x").alias("x0"),
        F.max("x").alias("x1"),
    )
    return (
        g.filter(F.col("x1") > F.col("x0"))
        .select(
            "o_custkey",
            # slope = Δy·86400e6 / Δx_us — exact decimal over exact
            # integer micros, rounded in exact arithmetic
            round_quotient(
                (F.col("y1") - F.col("y0")) * F.lit(86400000000),
                F.col("x1") - F.col("x0"),
                6,
            ).alias("price_slope_per_day"),
        )
    )


@register(
    "agg_sparkbar_hourly",
    oracle="""
    WITH c AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hr, count(*) AS n
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, hr, n, max(n) OVER (PARTITION BY event_type) AS mx
      FROM c
    )
    SELECT event_type,
           string_agg(substr('▁▂▃▄▅▆▇█',
                             CAST((8 * n + mx - 1) // mx AS INTEGER), 1),
                      '' ORDER BY hr) AS bar,
           max(mx) AS n_peak
    FROM m GROUP BY event_type
    """,
)
def agg_sparkbar_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sparkbar(24)(hour, count)`` — an inline unicode
    bar chart of hourly activity per event_type.  Bucket counts reduce
    in one partial-agg pass; the per-type peak is a window max over the
    24-row bucket frame; glyph selection is exact integer math
    (⌈8·n/max⌉ via (8n+max−1) div max) so both engines pick identical
    block characters, and the bar is an ordered string fold over the
    tiny frame."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    c = e.groupBy(
        "event_type", F.hour(F.col("ts").cast("timestamp")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = c.withColumn("mx", F.max("n").over(Window.partitionBy("event_type")))
    glyph = F.substr(
        F.lit("▁▂▃▄▅▆▇█"),
        F.expr("CAST((8 * n + mx - 1) DIV mx AS INT)"),
        F.lit(1),
    )
    entries = F.array_sort(F.collect_list(F.struct(F.col("hr"), glyph.alias("ch"))))
    return m.groupBy("event_type").agg(
        F.array_join(F.transform(entries, lambda s: s.ch), "").alias("bar"),
        F.max("mx").alias("n_peak"),
    )


@register(
    "agg_avg_weighted",
    oracle=f"""
    SELECT l_returnflag,
           {oracle_round_quotient(
               "sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4)))",
               "sum(CAST(l_quantity AS DECIMAL(18,2)))", 4, den_scale=2)}
             AS price_per_unit,
           {oracle_round_quotient(
               "sum(CAST(l_extendedprice AS DECIMAL(18,2)))",
               "count(l_extendedprice)", 4)} AS unweighted_avg,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_weight
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_avg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``avgWeighted(x, w)`` — weighted mean as the ratio
    of two plain sums, next to the unweighted mean for contrast.
    Fully partial-aggregatable: one hash aggregate, map-side combine,
    no extra pass for the weight normalization."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round_quotient(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,4)")
            ),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")),
            4,
            den_scale=2,
        ).alias("price_per_unit"),
        round_quotient(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")),
            F.count("l_extendedprice"),
            4,
        ).alias("unweighted_avg"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias(
            "total_weight"
        ),
    )


@register(
    "agg_group_concat",
    oracle="""
    SELECT o_orderpriority,
           -- coalesce: all-NULL group renders '' like Spark concat_ws
           coalesce(string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus), '')
             AS statuses,
           count(DISTINCT o_orderstatus) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupConcat`` / ``arrayStringConcat(groupUniqArray(x))``
    — distinct values of a group folded into one ordered, delimited
    string.  Spark side: collect_set → array_sort → concat_ws, all
    JVM built-ins; the set is collected per group with map-side
    partial aggregation, and the deterministic sort inside the array
    (not a row sort) makes the output order-stable on any cluster."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias(
            "statuses"
        ),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "agg_uniq_upto",
    oracle="""
    SELECT o_orderpriority,
           least(count(DISTINCT o_custkey), 300) AS uniq_upto_300,
           CASE WHEN count(DISTINCT o_custkey) > 300 THEN true ELSE false END
             AS saturated
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_uniq_upto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``uniqUpTo(N)(x)`` — exact distinct count capped at
    N, with a saturation flag ("more than N" is all the caller needs).
    At 100 TB the cap is the point: ClickHouse keeps at most N+1 hash
    entries per group; Spark's exact count-distinct expands rows, so
    for hot keys the HLL path (approx_count_distinct) is the sibling —
    this query keeps exact semantics to stay oracle-checkable."""
    o = table(spark, sf_dir, "orders")
    nd = F.count_distinct("o_custkey")
    return o.groupBy("o_orderpriority").agg(
        F.least(nd, F.lit(300)).alias("uniq_upto_300"),
        (nd > 300).alias("saturated"),
    )


@register(
    "agg_group_array_insert_at",
    oracle="""
    WITH months AS (SELECT unnest(generate_series(1, 12)) AS m),
    counts AS (
      SELECT o_orderpriority, EXTRACT(month FROM o_orderdate) AS m,
             count(*) AS n
      FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
      GROUP BY 1, 2
    ), grid AS (
      SELECT p.o_orderpriority, months.m, coalesce(c.n, 0) AS n
      FROM (SELECT DISTINCT o_orderpriority FROM orders) p
      CROSS JOIN months
      LEFT JOIN counts c
        ON c.o_orderpriority = p.o_orderpriority AND c.m = months.m
    )
    SELECT o_orderpriority,
           string_agg(CAST(n AS VARCHAR), ',' ORDER BY m) AS monthly_counts,
           CAST(sum(n) AS BIGINT)                         AS total_1996
    FROM grid GROUP BY o_orderpriority
    """,
)
def agg_group_array_insert_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArrayInsertAt(default, 12)(n, month-1)`` —
    values placed at fixed slots of a dense array (order counts into
    month positions 1..12 of 1996, zero-filled where absent).

    Spark shape: aggregate to (priority, month) counts, fold them into
    a map per priority (map_from_entries over collect_list), then
    densify with transform(sequence(1,12)) — the zero-fill happens in
    a per-row JVM expression, never as a row-expanding join.  The only
    shuffle is the (priority, month) hash aggregate, which map-side
    combines down to ≤ 5×12 rows no matter the input size."""
    orders = table(spark, sf_dir, "orders")
    counts = (
        orders.filter(F.year("o_orderdate") == 1996)
        .groupBy("o_orderpriority", F.month("o_orderdate").alias("m"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # anchor on ALL distinct priorities, not just those with 1996
    # orders: groupArrayInsertAt's contract zero-fills a priority whose
    # slots are all empty (round-8 edge fuzz — a fixture where no order
    # lands in 1996 must still emit its zero row, as the oracle does)
    per_prio = orders.select("o_orderpriority").distinct().join(
        counts.groupBy("o_orderpriority").agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("m"), F.col("n")))
            ).alias("by_month")
        ),
        "o_orderpriority",
        "left",
    )
    slots = F.transform(
        F.sequence(F.lit(1), F.lit(12)),
        lambda m: F.coalesce(
            F.element_at(F.col("by_month"), m), F.lit(0)
        ).cast("string"),
    )
    dense = F.transform(
        F.sequence(F.lit(1), F.lit(12)),
        lambda m: F.coalesce(F.element_at(F.col("by_month"), m), F.lit(0)),
    )
    return per_prio.select(
        "o_orderpriority",
        F.array_join(slots, ",").alias("monthly_counts"),
        F.aggregate(dense, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "total_1996"
        ),
    )


@register(
    "agg_corr_matrix",
    oracle="""
    SELECT 'l_quantity'      AS x, 'l_extendedprice' AS y,
           round(corr(l_quantity, l_extendedprice), 6) AS r
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           round(corr(l_quantity, l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           round(corr(l_extendedprice, l_discount), 6)
    FROM lineitem
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``corrMatrix(x1, x2, x3)`` — the upper triangle of
    the pairwise Pearson matrix, emitted as (x, y, r) rows.  All three
    co-moments come out of ONE aggregation pass over the fact table
    (a single hash aggregate computing three corr accumulators), then
    unpivot to rows with stack() — not three scans."""
    li = table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("r_qe"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("r_qd"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("r_ed"),
    )
    return m.select(
        F.expr(
            "stack(3, "
            "'l_quantity', 'l_extendedprice', r_qe, "
            "'l_quantity', 'l_discount', r_qd, "
            "'l_extendedprice', 'l_discount', r_ed) AS (x, y, r)"
        )
    )


@register(
    "agg_bitmap_audience_overlap",
    oracle=f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    card AS (SELECT event_type, count(*) AS c FROM du GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS and_card
      FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, and_card,
           ca.c + cb.c - and_card       AS or_card,
           ca.c - and_card              AS andnot_card,
           ca.c + cb.c - 2 * and_card   AS xor_card,
           {oracle_round_quotient("and_card", "ca.c + cb.c - and_card", 6)} AS jaccard
    FROM inter
    JOIN card ca ON ca.event_type = type_a
    JOIN card cb ON cb.event_type = type_b
    ORDER BY type_a, type_b
    """,
)
def agg_bitmap_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse bitmap aggregate family (``groupBitmap``,
    ``bitmapAndCardinality`` / ``bitmapOrCardinality`` /
    ``bitmapAndnotCardinality`` / ``bitmapXorCardinality``,
    ``bitmapJaccardIndex``) — audience-overlap cardinalities between
    every pair of event types.

    Deliberately NOT materialized as bitmaps: a roaring bitmap per
    group is driver-poison at 100 TB (one array holding every user of
    a type).  Instead the AND cardinality comes from a per-user
    co-occurrence self-join of the distinct (type, user) set, and the
    OR/ANDNOT/XOR/Jaccard values follow by inclusion–exclusion from
    per-type cardinalities — three key-partitioned aggregations, no
    giant state anywhere, linear scale-out.  |A∪B| = |A|+|B|−|A∩B|,
    |A∖B| = |A|−|A∩B|, |A△B| = |A|+|B|−2|A∩B|."""
    # du feeds THREE subtrees (per-type cardinalities + both sides of
    # the co-occurrence self-join), each of which otherwise re-ran the
    # fact scan + global distinct; it is distinct (type, user) pairs,
    # so pinning it runs the fact pass + distinct shuffle once.
    du = memo.pin(
        table(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    )
    card = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    inter = (
        du.alias("a")
        .join(
            du.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("and_card"))
    )
    ca = F.broadcast(card).alias("ca")
    cb = F.broadcast(card).alias("cb")
    return (
        inter.join(ca, F.col("ca.event_type") == F.col("type_a"))
        .join(cb, F.col("cb.event_type") == F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "and_card",
            (F.col("ca.c") + F.col("cb.c") - F.col("and_card")).alias("or_card"),
            (F.col("ca.c") - F.col("and_card")).alias("andnot_card"),
            (F.col("ca.c") + F.col("cb.c") - 2 * F.col("and_card")).alias("xor_card"),
            round_quotient(
                F.col("and_card"),
                F.col("ca.c") + F.col("cb.c") - F.col("and_card"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "agg_hll_sketch_merge",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, event_type, user_id
      FROM events)
    SELECT event_type,
           count(DISTINCT user_id) AS exact_uniques,
           true AS within_5pct
    FROM daily GROUP BY event_type ORDER BY event_type
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``uniqState`` / ``uniqMerge`` — the MERGEABLE-sketch
    combinator pattern: per-day HyperLogLog sketches built once
    (``hll_sketch_agg``), then rolled up to per-type uniques by
    UNIONING the sketches (``hll_union_agg`` + ``hll_sketch_estimate``)
    without touching raw rows again.  THE incremental-rollup shape at
    100 TB: daily partials are kilobytes, re-aggregation cost is
    O(days), not O(events).

    The oracle pins the exact distinct count plus a 5%-tolerance flag
    on the sketch estimate (lgConfigK=14 keeps sub-percent error at
    these cardinalities — measured ≤0.7% at both gate SFs — but sketch
    internals make bit-exact equality an unsound contract, and a
    2%-style flag is only ~2σ of the configured accuracy: engine-
    version headroom demands 5σ), so the check still fails loudly if
    the sketch pipeline breaks."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
        .agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sketch"))
    )
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("merged_estimate")
    )
    exact = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_uniques"))
    )
    # null-safe equality: an all-NULL group key must survive the
    # exact⋈merged rejoin (round-8 edge fuzz, same class as
    # agg_approx_count_distinct)
    return (
        exact.join(
            merged,
            exact["event_type"].eqNullSafe(merged["event_type"]),
        )
        .drop(merged["event_type"])
        .select(
            "event_type",
            "exact_uniques",
            (
                F.abs(F.col("merged_estimate") - F.col("exact_uniques"))
                <= 0.05 * F.col("exact_uniques")
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_count_min_frequencies",
    oracle="""
    SELECT event_type,
           count(*) AS exact_count,
           true AS cms_at_least_exact,
           true AS cms_within_1pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_count_min_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation (ClickHouse reaches this
    through ``topK``'s space-saving internals; Spark exposes the sketch
    via ``count_min_sketch``): ONE distributed pass builds the sketch
    (partials merge across partitions — the mergeable-summary pattern,
    like `agg_hll_sketch_merge`), then per-key point estimates are read
    from the kilobyte-sized sketch on the driver — the part that is
    O(#probed keys), not O(rows).

    Certified by CMS's guarantees rather than bit-equality (unsound for
    sketches): estimates are NEVER below the true count (one-sided
    error, checked exactly) and at eps=0.001 the overestimate on this
    fixture is bounded well inside 1% (checked as a tolerance flag)."""
    import io

    ev = table(spark, sf_dir, "events")
    raw = ev.agg(
        F.expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").alias("cms")
    ).head()[0]
    cms = None
    if raw is not None:
        jvm = ev.sparkSession._jvm
        jin = jvm.java.io.ByteArrayInputStream(bytes(raw))
        cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(jin)
    exact_rows = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .collect()
    )
    rows = []
    for r in exact_rows:
        if r.event_type is None or cms is None:
            # NULL keys never enter the sketch (Spark aggregates skip
            # nulls; a Java estimateCount(null) call crashes — round-8
            # edge fuzz), so the certification is vacuous-true, which
            # matches the oracle's constant flags
            rows.append((r.event_type, r.exact_count, True, True))
            continue
        est = cms.estimateCount(r.event_type)
        rows.append(
            (
                r.event_type,
                r.exact_count,
                bool(est >= r.exact_count),
                bool(est - r.exact_count <= 0.01 * r.exact_count),
            )
        )
    return spark.createDataFrame(
        rows,
        "event_type STRING, exact_count BIGINT, "
        "cms_at_least_exact BOOLEAN, cms_within_1pct BOOLEAN",
    ).orderBy("event_type")


@register(
    "agg_tdigest_percentile_audit",
    oracle="""
    SELECT l_returnflag AS flag, count(*) AS n_rows,
           true AS p50_within_1pct,
           true AS p99_within_1pct
    FROM lineitem WHERE l_extendedprice IS NOT NULL
    GROUP BY l_returnflag ORDER BY flag
    """,
)
def agg_tdigest_percentile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``quantileTDigest`` — the third mergeable sketch next
    to HLL (`agg_hll_sketch_merge`) and Count-Min
    (`agg_count_min_frequencies`): ``approx_percentile`` keeps
    constant-memory centroid state per group and merges across
    partitions, vs exact ``percentile``'s per-group value buffer.  At
    100 TB the exact spelling is the one that breaks; this audit pins
    how much accuracy the sketch trades (accuracy parameter 10000 →
    well under 1% on these distributions).

    The oracle pins tolerance flags (computed against in-engine exact
    percentiles) rather than the quantile VALUES: bit-exact equality
    is unsound for sketches, and even exact interpolated medians
    differ between engines in the last ULP when the midpoint lands on
    a rounding boundary (observed: 52724.245 → .24 vs .25).

    The exact reference percentiles do NOT use ``F.percentile`` (the
    per-group value buffer is precisely the spelling this audit exists
    to warn about — measured 2.2 s of the query's 4.2 s at sf0.1):
    they run as rank selections over the (flag, price) COUNT GRID with
    a per-flag cumulative window.  The window partitions on flag and
    its per-partition row count is bounded by the cents-quantized
    TPC-H price domain (≤ ~10⁶ distinct prices at any corpus size),
    so no value buffer and no corpus-sized sort exists anywhere."""
    # non-null price contract on BOTH the exact grid and the sketch
    # side (the oracle filters identically; an unfiltered n_rows
    # counted NULL-price rows — round-8 code review)
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    grid = (
        li.groupBy(F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("price"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("flag").orderBy("price").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        "flag", "price", F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy("flag")).alias("n"),
    )

    def rank_val(p: float, off: int) -> "Column":
        # smallest price whose cumulative count reaches the 1-based
        # rank floor(p*(n-1)) + 1 + off (off=1 → interpolation partner)
        k = F.floor(F.lit(p) * (F.col("n") - 1)) + 1 + off
        return F.min(F.when(F.col("cum") >= k, F.col("price")))

    # exact interpolated percentile: pos = p*(n-1) (0-based), value =
    # v[floor(pos)] + frac*(v[floor(pos)+1] − v[floor(pos)]) — the same
    # definition F.percentile / percentile_cont uses
    exacts = cum.groupBy("flag").agg(
        *[
            rank_val(p, off).alias(f"v_{tag}_{off}")
            for tag, p in (("p50", 0.5), ("p99", 0.99))
            for off in (0, 1)
        ],
        F.max("n").alias("n"),
    )

    def interp(tag: str, p: float) -> "Column":
        pos = F.lit(p) * (F.col("n") - 1)
        frac = pos - F.floor(pos)
        lo = F.col(f"v_{tag}_0").cast("double")
        hi = F.coalesce(F.col(f"v_{tag}_1"), F.col(f"v_{tag}_0")).cast("double")
        return lo + frac * (hi - lo)

    exact_rows = exacts.select(
        "flag", interp("p50", 0.5).alias("e50"), interp("p99", 0.99).alias("e99")
    )
    sketch = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("a50"),
        F.expr("approx_percentile(l_extendedprice, 0.99, 10000)").alias("a99"),
    )
    # null-safe: a NULL flag group with non-null prices must survive
    both = sketch.join(
        F.broadcast(exact_rows),
        sketch["flag"].eqNullSafe(exact_rows["flag"]),
    ).drop(exact_rows["flag"])
    return both.select(
        "flag",
        "n_rows",
        (F.abs(F.col("a50") - F.col("e50")) <= 0.01 * F.col("e50")).alias(
            "p50_within_1pct"
        ),
        (F.abs(F.col("a99") - F.col("e99")) <= 0.01 * F.col("e99")).alias(
            "p99_within_1pct"
        ),
    ).orderBy("flag")


@register(
    "agg_histogram_2d",
    oracle="""
    SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bin,
           CAST(floor(l_discount / 0.02) AS BIGINT) AS disc_bin,
           count(*) AS n,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
    FROM lineitem
    GROUP BY 1, 2 ORDER BY qty_bin, disc_bin
    """,
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (quantity x discount grid with revenue per cell) —
    the joint-distribution heatmap behind pricing analysis.  Fixed-width
    bins are pure arithmetic on the scan; ONE hash aggregate on the
    composite bin key (never bin-then-join); cell count is bounded by
    the grid, so the shuffle is constant-size at any corpus scale."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_quantity") / 10).cast("bigint").alias("qty_bin"),
            F.floor(F.col("l_discount") / 0.02).cast("bigint").alias("disc_bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2).alias("total_price"),
        )
        .orderBy("qty_bin", "disc_bin")
    )


@register(
    "agg_order_value_deciles",
    oracle=f"""
    WITH d AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders WHERE o_totalprice IS NOT NULL)
    SELECT decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
           {oracle_round_quotient(
               "sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100",
               "sum(sum(CAST(o_totalprice AS DECIMAL(18,2)))) OVER ()",
               4, den_scale=2)}
             AS pct_of_revenue
    FROM d GROUP BY decile ORDER BY decile
    """,
)
def agg_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile table of order values: boundaries, counts and revenue
    share per tenth — the quantile-based cousin of the fixed-width
    histograms (equal POPULATION per bucket, so the table localizes
    where the money is: compare `agg_pareto_concentration`'s single
    number).  The decile assignment uses the distributed row-number
    substrate (no single-partition sort of the orders table): exact
    global rank → exact ntile arithmetic, tie-broken on the key for
    cross-engine determinism; the share ratio runs over the 10-row
    aggregate."""
    from .stats import exact_ntile, with_global_row_number

    # non-null rank contract BOTH in the substrate and in n_total —
    # an unfiltered count inflated the ntile divisor while the range
    # join dropped NULL prices (round-8 code review)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select("o_totalprice", "o_orderkey")
    )
    # the ntile divisor comes from the substrate's own 64-row bucket
    # frame (with_totals) — a separate o.agg(count) consumer re-ran the
    # orders scan just for one integer
    ranked = with_global_row_number(
        o, ["o_totalprice", "o_orderkey"], rn_col="_rn", with_totals=True
    )
    d = ranked.select(
        "o_totalprice",
        exact_ntile(F.col("_rn"), F.col("n_total"), 10).cast("bigint").alias("decile"),
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("raw_total"),
    )
    w = Window.partitionBy()
    return g.select(
        "decile",
        "n",
        "lo",
        "hi",
        F.round(F.col("raw_total").cast("double"), 2).alias("total"),
        round_quotient(
            F.col("raw_total") * 100,
            F.sum("raw_total").over(w),
            4,
            den_scale=2,
        ).alias("pct_of_revenue"),
    ).orderBy("decile")


@register(
    "agg_seasonal_index",
    oracle=f"""
    WITH monthly AS (
      SELECT month(o_orderdate) AS mo,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
             count(*) AS n
      FROM orders GROUP BY 1)
    SELECT mo AS month, n,
           round(CAST(rev AS DOUBLE), 2) AS revenue,
           {oracle_round_quotient(
               "rev * 12", "sum(rev) OVER ()", 6, den_scale=2)} AS seasonal_index
    FROM monthly ORDER BY month
    """,
)
def agg_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal index: each calendar month's revenue relative
    to the average month (index 1.0 = typical, 1.3 = +30% season) —
    the deseasonalization factor used before trend comparison (the
    event-series decomposition sibling is `ts_decompose_additive`).
    One scan to a 12-row frame; the normalizing mean is a frame-less
    window over those rows."""
    monthly = (
        table(spark, sf_dir, "orders")
        .groupBy(F.month("o_orderdate").alias("month"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    w = Window.partitionBy()
    return monthly.select(
        "month",
        "n",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        round_quotient(
            F.col("rev") * 12, F.sum("rev").over(w), 6, den_scale=2
        ).alias("seasonal_index"),
    ).orderBy("month")


@register(
    "agg_contribution_waterfall",
    oracle=f"""
    WITH p1 AS (
      SELECT o_orderpriority AS seg,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1995-02-01 00:00:00'
      GROUP BY 1),
    p2 AS (
      SELECT o_orderpriority AS seg,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-02-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1995-03-01 00:00:00'
      GROUP BY 1)
    SELECT coalesce(p1.seg, p2.seg) AS segment,
           round(CAST(coalesce(p1.rev, 0) AS DOUBLE), 2) AS rev_jan,
           round(CAST(coalesce(p2.rev, 0) AS DOUBLE), 2) AS rev_feb,
           round(CAST(coalesce(p2.rev, 0) - coalesce(p1.rev, 0) AS DOUBLE), 2)
             AS delta,
           {oracle_round_quotient(
               "(coalesce(p2.rev, 0) - coalesce(p1.rev, 0)) * 100",
               "sum(coalesce(p2.rev, 0) - coalesce(p1.rev, 0)) OVER ()",
               4, den_scale=2)}
             AS pct_of_total_change
    FROM p1 FULL OUTER JOIN p2 ON p1.seg = p2.seg
    ORDER BY segment
    """,
)
def agg_contribution_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution waterfall: which segments drove the month-over-month
    revenue change (Jan→Feb 1995 by order priority) — per-segment
    deltas plus each segment's share of the total movement, the
    decomposition behind every "why did the number move" review.

    Two filtered aggregates full-outer-joined on the segment (the
    reference diff-planner's join shape, `migrate.py:34`, applied to
    metrics); the share-of-change window runs over the 5-row result."""
    o = table(spark, sf_dir, "orders")

    def period(start: str, end: str, out: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(start).cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit(end).cast("timestamp_ntz"))
            )
            .groupBy(F.col("o_orderpriority").alias(f"seg_{out}"))
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(out))
        )

    p1 = period("1995-01-01 00:00:00", "1995-02-01 00:00:00", "rev1")
    p2 = period("1995-02-01 00:00:00", "1995-03-01 00:00:00", "rev2")
    joined = p1.join(
        p2, F.col("seg_rev1") == F.col("seg_rev2"), "full_outer"
    ).select(
        F.coalesce("seg_rev1", "seg_rev2").alias("segment"),
        F.coalesce("rev1", F.lit(0).cast("decimal(18,2)")).alias("r1"),
        F.coalesce("rev2", F.lit(0).cast("decimal(18,2)")).alias("r2"),
    )
    w = Window.partitionBy()
    delta = F.col("r2") - F.col("r1")
    return joined.select(
        "segment",
        F.round(F.col("r1").cast("double"), 2).alias("rev_jan"),
        F.round(F.col("r2").cast("double"), 2).alias("rev_feb"),
        F.round(delta.cast("double"), 2).alias("delta"),
        round_quotient(
            delta * 100, F.sum(delta).over(w), 4, den_scale=2
        ).alias("pct_of_total_change"),
    ).orderBy("segment")


@register(
    "agg_tukey_fences",
    oracle="""
    WITH q AS (
      SELECT l_returnflag AS flag,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem GROUP BY 1)
    SELECT q.flag,
           round(q.q1 - 1.5 * (q.q3 - q.q1), 4) AS lower_fence,
           round(q.q3 + 1.5 * (q.q3 - q.q1), 4) AS upper_fence,
           count(*) FILTER (
             WHERE l.l_extendedprice < q.q1 - 1.5 * (q.q3 - q.q1)
                OR l.l_extendedprice > q.q3 + 1.5 * (q.q3 - q.q1)) AS n_outliers,
           count(*) AS n_rows
    FROM lineitem l JOIN q ON l.l_returnflag = q.flag
    GROUP BY q.flag, q.q1, q.q3 ORDER BY q.flag
    """,
)
def agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey fences (Q1 − 1.5·IQR, Q3 + 1.5·IQR) with per-group outlier
    counts — the boxplot rule, the distribution-free sibling of the
    z-score/MAD outlier queries (those assume a scale; IQR assumes
    only order).

    Two passes by necessity: the fences need the quartiles before any
    row can be judged — quartile frame (one row per group) broadcast
    back into the counting scan."""
    li = table(spark, sf_dir, "lineitem")
    q = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.percentile("l_extendedprice", 0.25).alias("q1"),
        F.percentile("l_extendedprice", 0.75).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo, hi = F.col("q1") - 1.5 * iqr, F.col("q3") + 1.5 * iqr
    return (
        li.join(F.broadcast(q), F.col("l_returnflag") == F.col("flag"))
        .groupBy("flag", "q1", "q3")
        .agg(
            F.count(
                F.when(
                    (F.col("l_extendedprice") < lo) | (F.col("l_extendedprice") > hi),
                    1,
                )
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "flag",
            F.round(lo, 4).alias("lower_fence"),
            F.round(hi, 4).alias("upper_fence"),
            "n_outliers",
            "n_rows",
        )
        .orderBy("flag")
    )


@register(
    "agg_hll_set_operations",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '1-URGENT'),
    b AS (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderpriority = '2-HIGH')
    SELECT (SELECT count(*) FROM a)                              AS n_a,
           (SELECT count(*) FROM b)                              AS n_b,
           (SELECT count(*) FROM (SELECT * FROM a UNION
                                  SELECT * FROM b))              AS n_union_exact,
           (SELECT count(*) FROM (SELECT * FROM a INTERSECT
                                  SELECT * FROM b))              AS n_inter_exact,
           TRUE AS union_within_5pct,
           TRUE AS inter_within_5pct
    """,
)
def agg_hll_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based SET OPERATIONS: |A∪B| straight from merged HLL
    estimates, |A∩B| by inclusion-exclusion (|A|+|B|−|A∪B|) — the
    audience-overlap workhorse when A and B are each too big to
    materialize (the exact bitmap variant is
    `agg_bitmap_audience_overlap`; this is its sketch-tier sibling).

    Certification pattern: exact counts ride along and the output is
    the WITHIN-TOLERANCE flags (union 2%, intersection 5% — the
    subtraction compounds both sketches' error), so the driver's
    value-hash gate pins estimator quality, not a flaky estimate.
    r13: the two segments are disjoint filters of ONE table, so each
    branch now makes a single isin-filtered pass (6 scans → 2 in the
    committed plans), and the union estimate merges the two segments'
    persisted HLL sketch STATES (``hll_union_agg`` over a pinned 2-row
    sketch frame) instead of re-aggregating the combined scan — the
    100 TB shape this docstring used to only describe."""
    o = table(spark, sf_dir, "orders")
    ab = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(
        "o_custkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("_s"),
    )
    # segments are disjoint, so distinct (custkey, segment) equals the
    # union of the per-segment distincts; the pre-dedup keeps the
    # 3-countDistinct Expand on the deduped frame, as before
    exact = (
        ab.distinct()
        .groupBy()
        .agg(
            F.countDistinct(F.when(F.col("_s") == "a", F.col("o_custkey"))).alias("n_a"),
            F.countDistinct(F.when(F.col("_s") == "b", F.col("o_custkey"))).alias("n_b"),
            F.countDistinct("o_custkey").alias("n_union_exact"),
        )
        .withColumn(
            "n_inter_exact", F.col("n_a") + F.col("n_b") - F.col("n_union_exact")
        )
    )
    sk = ab.groupBy("_s").agg(F.expr("hll_sketch_agg(o_custkey, 14)").alias("sk"))
    # coalesce to 0: on an empty/degenerate segment the sketch
    # aggregates yield NULL where approx_count_distinct yielded 0 —
    # the flags must stay TRUE, not go NULL (round-13 edge fuzz)
    est = (
        sk.agg(
            F.coalesce(
                F.expr("hll_sketch_estimate(hll_union_agg(sk))"), F.lit(0)
            ).alias("est_union"),
            F.coalesce(
                F.max(
                    F.when(F.col("_s") == "a", F.expr("hll_sketch_estimate(sk)"))
                ),
                F.lit(0),
            ).alias("est_a"),
            F.coalesce(
                F.max(
                    F.when(F.col("_s") == "b", F.expr("hll_sketch_estimate(sk)"))
                ),
                F.lit(0),
            ).alias("est_b"),
        )
        .withColumn(
            "est_inter", F.col("est_a") + F.col("est_b") - F.col("est_union")
        )
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "n_a",
            "n_b",
            "n_union_exact",
            "n_inter_exact",
            (
                F.abs(F.col("est_union") - F.col("n_union_exact"))
                <= 0.05 * F.col("n_union_exact")
            ).alias("union_within_5pct"),
            (
                F.abs(F.col("est_inter") - F.col("n_inter_exact"))
                <= F.greatest(
                    0.05 * F.col("n_inter_exact"),
                    0.02 * (F.col("n_a") + F.col("n_b")),
                )
            ).alias("inter_within_5pct"),
        )
    )


@register(
    "agg_mode_exact",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_quantity AS v, count(*) AS n
      FROM lineitem GROUP BY 1, 2),
    r AS (
      SELECT l_returnflag, v, n,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, v) AS rk
      FROM c)
    SELECT l_returnflag,
           round(v, 2)          AS mode_quantity,
           CAST(n AS BIGINT)    AS mode_count
    FROM r WHERE rk = 1 ORDER BY l_returnflag
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group (ClickHouse ``topK(1)`` / SQL:2023
    ``mode()``): the most frequent quantity per return flag, ties
    broken by the smaller value for cross-engine determinism.

    Two-level shape: count per (group, value) — map-side combined, the
    only full-data shuffle — then a top-1 window over the small
    (group × distinct-value) grid.  Never collects value lists; the
    per-group state in the window is one row."""
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), F.asc("v"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.round("v", 2).alias("mode_quantity"),
            F.col("n").cast("bigint").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_pythagorean_means",
    oracle="""
    SELECT l_returnflag AS flag,
           count(*) AS n,
           round(avg(l_quantity), 4) AS arithmetic_mean,
           round(exp(avg(ln(l_quantity))), 4) AS geometric_mean,
           round(count(*) / sum(1.0 / l_quantity), 4) AS harmonic_mean,
           round(sqrt(avg(l_quantity * l_quantity)), 4) AS quadratic_mean
    FROM lineitem
    WHERE l_quantity > 0
    GROUP BY l_returnflag
    ORDER BY flag
    """,
)
def agg_pythagorean_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Pythagorean-means family per group: arithmetic,
    geometric (exp∘avg∘ln — the only distributable spelling; a naive
    product overflows immediately at scale), harmonic (n / Σ 1/x —
    rate averaging: the correct mean for speeds/throughputs), and
    quadratic/RMS (energy averaging).  ClickHouse users reach these
    via avg/exp(avg(log())) just like this; all four are single-pass
    partial-aggregable sums, so one hash aggregate total — the
    HM ≤ GM ≤ AM ≤ QM ordering doubles as a free sanity invariant."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    q = F.col("l_quantity")
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(q), 4).alias("arithmetic_mean"),
            F.round(F.exp(F.avg(F.log(q))), 4).alias("geometric_mean"),
            # round-ok: harmonic mean has a float-sum denominator (Σ 1/x)
            F.round(F.count(F.lit(1)) / F.sum(1.0 / q), 4).alias("harmonic_mean"),
            F.round(F.sqrt(F.avg(q * q)), 4).alias("quadratic_mean"),
        )
        .orderBy("flag")
    )


@register(
    "agg_hdr_histogram_buckets",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(log2(l_extendedprice)) AS BIGINT) AS expo,
             CAST(floor((l_extendedprice / pow(2, floor(log2(l_extendedprice))) - 1) * 4)
               AS BIGINT) AS sub,
             l_extendedprice
      FROM lineitem WHERE l_extendedprice > 0)
    SELECT expo, sub,
           count(*) AS n,
           round(CAST(pow(2, expo) * (1 + sub / 4.0) AS DOUBLE), 4) AS bucket_lo,
           round(CAST(pow(2, expo) * (1 + (sub + 1) / 4.0) AS DOUBLE), 4) AS bucket_hi
    FROM b GROUP BY expo, sub
    ORDER BY expo, sub
    """,
)
def agg_hdr_histogram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HdrHistogram-style LOG-LINEAR bucketing of prices: bucket =
    (binary exponent, 4 linear sub-buckets per octave) — constant
    relative error (≤ 25% per bucket here), a FIXED number of buckets
    across any value range, and pure integer bucket ids that merge
    trivially across partitions and days.  This is the histogram shape
    latency/money pipelines persist when t-digest sketches are too
    opaque to store (the bucket table IS the artifact).

    One hash aggregate on the composite bucket key; state is bounded
    by octaves × sub-buckets regardless of corpus size."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    v = F.col("l_extendedprice")
    expo = F.floor(F.log2(v)).cast("bigint")
    sub = F.floor((v / F.pow(F.lit(2.0), expo.cast("double")) - 1) * 4).cast("bigint")
    return (
        li.select(expo.alias("expo"), sub.alias("sub"))
        .groupBy("expo", "sub")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "expo",
            "sub",
            "n",
            F.round(
                F.pow(F.lit(2.0), F.col("expo").cast("double"))
                * (1 + F.col("sub") / 4.0),
                4,
            ).alias("bucket_lo"),
            F.round(
                F.pow(F.lit(2.0), F.col("expo").cast("double"))
                * (1 + (F.col("sub") + 1) / 4.0),
                4,
            ).alias("bucket_hi"),
        )
        .orderBy("expo", "sub")
    )
