"""Statistical-analysis operator pack (SURVEY.md §2.D).

ClickHouse ships a family of statistical aggregates the reference's
users reach through opaque migration SQL (`migrate.py:52,59` executes
user statements verbatim): ``simpleLinearRegression``, ``corr`` /
``covarPop`` / ``covarSamp``, ``rankCorr``, ``arrayAUC``,
``kolmogorovSmirnovTest``, ``welchTTest``, ``mannWhitneyUTest``,
``groupUniqArray``, the ``-ForEach`` combinator, and the
``nonNegativeDerivative`` window function.  This pack re-expresses each
one Spark-first:

- moment-based statistics (regression, corr/covar, t-test) are pure
  hash aggregations — one shuffle, map-side partials, no Python;
- rank-based statistics (Spearman, AUC, Mann-Whitney) are a sort
  window + average-rank normalization (ties get the mean rank, the
  textbook treatment) followed by a plain aggregate;
- distribution comparison (KS) is a groupBy on the value grid plus a
  running-sum window — O(distinct values) state, not O(rows);
- ``-ForEach`` element-wise array aggregation is posexplode + hash
  agg on (group, position), the shuffle-parallel shape that scales to
  wide vectors and billions of rows.

Scale notes: global rank windows (AUC / Mann-Whitney / Spearman
within a group) need a total order over the scored set; at 100 TB
those become range-partitioned sorts (Spark's global orderBy) — still
one pass.  Everything else is partial-aggregatable and skew-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import memo
from ..hashsafe import oracle_round_quotient, round_quotient, utrim
from ..registry import register
from ..tables import table

PREFIX_BUCKETS = 64
# Bucket-boundary sketch accuracy: boundaries only steer bucket BALANCE
# (exactness comes from the two-level structure), so a coarse sketch is
# enough — 10k accuracy measured ~3x the agg cost of 1k on a 3M-row
# input with no change in any substrate consumer's output.
_BOUNDS_ACCURACY = 1_000


def _bucketed(df: DataFrame, value_col: str, n_buckets: int) -> DataFrame:
    """Attach the order-preserving ``_bucket`` id (= #boundaries
    strictly below ``value_col``): ``n_buckets − 1`` approx-quantile
    boundaries of ``value_col`` (one broadcast row; the approximation
    only steers bucket balance, never exactness), then a BROADCAST
    RANGE JOIN against the exploded boundary list.

    Probe-shape history (the substrate's hot inner loop):

    * ``F.size(F.filter(_bounds, b -> b < v))`` — higher-order
      functions are CodegenFallback, ~0.5 µs/element interpreted
      (~32 µs/row), and needed a round-robin ``repartition`` bolted on
      just to parallelize interpreter overhead;
    * a 63-way unrolled ``element_at`` when-chain — one expression too
      big to split, tripping the huge-method fallback and turning the
      whole stage interpreted (measured 4× WORSE);
    * this form — 64 tiny ``(bucket, lo, hi)`` rows broadcast from the
      same 1-row bounds aggregate, probed by a BroadcastNestedLoopJoin
      whose per-row cost is ≤64 compiled two-comparison predicates
      (~sub-µs/row), no widening exchange, no oversized codegen.

    Bucket ``b`` covers ``lo < v AND v <= hi`` with open ends as NULLs
    (``v <= b0`` for the first, ``v > b62`` for the last); duplicate
    boundaries — percentile_approx may repeat a value on skewed data —
    yield ``lo == hi`` ranges that simply match nothing, exactly the
    strictly-less counting semantics.  ``value_col`` must be non-null
    (rank substrates order on non-null keys by construction)."""
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.agg(
        F.percentile_approx(
            value_col, F.array(*[F.lit(f) for f in fracs]), _BOUNDS_ACCURACY
        ).alias("_bounds")
    )
    n = F.size(F.col("_bounds"))
    ranges = bounds.select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n),
                lambda i: F.struct(
                    F.when(i > 0, F.element_at(F.col("_bounds"), i)).alias("_lo"),
                    F.when(i < n, F.element_at(F.col("_bounds"), i + 1)).alias("_hi"),
                ),
            )
        ).alias("_bucket", "_rng")
    ).select("_bucket", "_rng._lo", "_rng._hi")
    v = F.col(value_col)
    cond = (F.col("_lo").isNull() | (v > F.col("_lo"))) & (
        F.col("_hi").isNull() | (v <= F.col("_hi"))
    )
    return df.join(F.broadcast(ranges), cond, "inner").drop("_lo", "_hi")


def with_global_row_number(
    df: DataFrame,
    order_cols: list[str],
    rn_col: str = "_rn",
    n_buckets: int = PREFIX_BUCKETS,
    sum_cols: list[str] | None = None,
    tot_cols: list[str] | None = None,
    with_totals: bool = False,
) -> DataFrame:
    """Global 1-based ``row_number()`` over a total order WITHOUT a
    single-partition sort — the distributed two-level shape:

    1. order-preserving buckets on the FIRST order column
       (:func:`_bucketed`);
    2. within-bucket windows — ``Window.partitionBy(bucket)``,
       partition-parallel;
    3. cross-bucket offsets — per-bucket totals through one tiny
       ``n_buckets``-row ordered window, broadcast-joined back.

    A naive ``Window.orderBy`` is a single-partition sort of the whole
    input; this shape caps the serial work at ``n_buckets`` rows.

    ``order_cols`` must form a total order (include a unique tiebreak,
    or order a distinct-value grid by its value alone); the first
    column drives the bucketing and must be numeric.  Equal
    first-column values always land in one bucket (strictly-less
    boundary test), so the composite order is preserved.  Exact ntile /
    percent_rank / cume_dist are row-local arithmetic on the result:
    with n = total rows, cume = rn/n, pct_rank = (rn−1)/(n−1), and
    ntile(k) from the standard first-buckets-bigger split.

    ``sum_cols`` additionally emits ``cum_<col>`` — the inclusive
    running sum of each column in the same total order (Lorenz-curve /
    Pareto shapes need rank AND cumulative value together).

    ``with_totals=True`` attaches ``n_total`` (the exact row count)
    and ``tot_<col>`` (the grand total of every column in ``sum_cols``
    and ``tot_cols``) as constant columns on every row — computed from
    the substrate's OWN ≤``n_buckets``-row per-bucket counts frame, so
    consumers that need rank AND totals no longer pay a separate
    ``df.agg(...)`` (a full duplicate of the upstream subtree) or an
    eager ``df.count()`` action.  ``tot_cols`` names columns whose
    grand total is wanted WITHOUT the per-row running sum (no window
    work is added for them).  Callers must not already have columns
    named ``n_total`` / ``tot_<col>``."""
    sum_cols = sum_cols or []
    tot_cols = [c for c in (tot_cols or []) if c not in sum_cols]
    b = _bucketed(df, order_cols[0], n_buckets)
    wb = Window.partitionBy("_bucket").orderBy(*order_cols)
    wbf = wb.rowsBetween(Window.unboundedPreceding, 0)
    within = b.select(
        "*",
        F.row_number().over(wb).alias("_wrn"),
        *[F.sum(c).over(wbf).alias(f"_w_{c}") for c in sum_cols],
    )
    # per-bucket totals from `within`, NOT from `b`: both sides then
    # share the same _bucket exchange and Catalyst plans a
    # ReusedExchange — one scan+bucket pass instead of two (measured
    # ~2× on the substrate-heavy queries at sf0.1)
    counts = within.groupBy("_bucket").agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(c).alias(f"_t_{c}") for c in sum_cols + tot_cols],
    )
    wo = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    # grand totals share the SAME ordered 64-row window pass as the
    # offsets (unbounded-following frame): with_totals costs no extra
    # exchange or job, only additional broadcast-side columns
    wall = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "_bucket",
        F.coalesce(F.sum("_n").over(wo), F.lit(0)).alias("_off"),
        *[
            F.coalesce(F.sum(f"_t_{c}").over(wo), F.lit(0)).alias(f"_o_{c}")
            for c in sum_cols
        ],
        *(
            [F.sum("_n").over(wall).alias("n_total")]
            + [
                F.sum(f"_t_{c}").over(wall).alias(f"tot_{c}")
                for c in sum_cols + tot_cols
            ]
            if with_totals
            else []
        ),
    )
    out = within.join(F.broadcast(offsets), "_bucket").withColumn(
        rn_col, F.col("_off") + F.col("_wrn")
    )
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.col(f"_o_{c}") + F.col(f"_w_{c}"))
    return out.drop(
        "_bucket",
        "_wrn",
        "_off",
        *[f"_w_{c}" for c in sum_cols],
        *[f"_o_{c}" for c in sum_cols],
    )


def median_rank_select(
    vals: DataFrame,
    value_col: str,
    n_total: DataFrame,
    n_col: str,
    n_buckets: int = PREFIX_BUCKETS,
) -> DataFrame:
    """Exact ``quantile_cont(0.5)`` of ``value_col`` as a 1-row frame
    (column ``median``) by BUCKET RANK SELECTION — cheaper than the
    full row-number substrate when only one order statistic is needed:
    the middle ranks' bucket(s) are located from the 64-row per-bucket
    count table, and ONLY those buckets (≈ 2/64 of the data) are ever
    sorted; everything else is hash aggregation.  ``n_total`` is a
    1-row frame whose ``n_col`` holds the exact row count of ``vals``
    (callers usually know it arithmetically — passing it in avoids a
    count pass).  Ties are fine: the value at a global rank is
    deterministic regardless of tie order."""
    b = _bucketed(vals, value_col, n_buckets)
    counts = b.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_cnt"))
    wo = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "_bucket",
        "_cnt",
        F.coalesce(F.sum("_cnt").over(wo), F.lit(0)).alias("_off"),
    )
    n = F.col(n_col)
    k1 = ((n + 1) / 2).cast("bigint")
    k2 = ((n + 2) / 2).cast("bigint")
    sel = (
        offs.crossJoin(F.broadcast(n_total))
        .withColumn("_k1", k1)
        .withColumn("_k2", k2)
        .filter(
            ((F.col("_k1") > F.col("_off")) & (F.col("_k1") <= F.col("_off") + F.col("_cnt")))
            | ((F.col("_k2") > F.col("_off")) & (F.col("_k2") <= F.col("_off") + F.col("_cnt")))
        )
        .select("_bucket", "_off", "_k1", "_k2")
    )
    w = Window.partitionBy("_bucket").orderBy(value_col)
    mids = (
        b.join(F.broadcast(sel), "_bucket")
        .withColumn("_rn", F.row_number().over(w) + F.col("_off"))
        .filter((F.col("_rn") == F.col("_k1")) | (F.col("_rn") == F.col("_k2")))
    )
    return mids.agg(F.avg(value_col).alias("median"))


def exact_ntile(rn: "F.Column", n: "F.Column", k: int) -> "F.Column":
    """SQL ``ntile(k)`` from a global row number and the total count —
    first ``n % k`` buckets get ``ceil(n/k)`` rows (the standard
    semantics), as pure row-local arithmetic."""
    big = n % k
    size_small = F.floor(n / k)
    size_big = size_small + 1
    return F.when(size_small == 0, rn).otherwise(
        F.when(
            rn <= big * size_big, F.floor((rn - 1) / size_big) + 1
        ).otherwise(big + F.floor((rn - big * size_big - 1) / size_small) + 1)
    ).cast("int")


@register(
    "agg_linear_regression",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6) + 0.0 AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0 AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           count(*)                                              AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``simpleLinearRegression(x, y)`` → least-squares
    slope/intercept (+ R²) per group.  Moment-based: a single hash
    aggregation with map-side partials; no sort, no Python."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_linestatus,
           round(corr(l_quantity, l_extendedprice), 6)       AS pearson_r,
           round(covar_pop(l_quantity, l_extendedprice), 4)  AS covar_pop,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_samp
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``corr`` / ``covarPop`` / ``covarSamp`` — co-moment
    aggregates, one shuffle on the group key."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("pearson_r"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar_pop"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_samp"),
    )


@register(
    "agg_rank_corr_spearman",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_quantity, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity, l_orderkey, l_linenumber) AS rnx,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rny
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ), avg_ranked AS (
      SELECT l_returnflag,
             avg(rnx) OVER (PARTITION BY l_returnflag, l_quantity)      AS rx,
             avg(rny) OVER (PARTITION BY l_returnflag, l_extendedprice) AS ry
      FROM ranked
    )
    SELECT l_returnflag, round(corr(rx, ry), 6) AS spearman_rho
    FROM avg_ranked GROUP BY l_returnflag
    """,
)
def agg_rank_corr_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``rankCorr(x, y)`` — Spearman's ρ.  Ranks are
    assigned with the average-rank tie rule (mean of the positions a
    tied value block occupies), then Pearson corr of the two rank
    columns.

    Scale shape: ranks come from the per-group distinct-value grids
    (running-count windows over the grids, which are tiny next to the
    fact rows), joined back onto the rows on (group, value) — two
    shuffle joins + one co-moment agg, never a per-row sort of a whole
    group in one partition."""
    # rank contract: only non-null (x, y) pairs rank (both sides)
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select("l_returnflag", "l_quantity", "l_extendedprice")
    )

    def grid_ranks(col: str, out: str) -> DataFrame:
        # distinct-value grid per group; avg rank of a tied block is
        # arithmetic on the grid's running count — no per-row sort
        g = li.groupBy("l_returnflag", col).agg(F.count(F.lit(1)).alias("c"))
        w = (
            Window.partitionBy("l_returnflag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return g.select(
            "l_returnflag",
            col,
            (F.sum("c").over(w) - F.col("c") + (F.col("c") + 1) / 2.0).alias(out),
        )

    avg_ranked = li.join(
        grid_ranks("l_quantity", "rx"), ["l_returnflag", "l_quantity"]
    ).join(
        grid_ranks("l_extendedprice", "ry"), ["l_returnflag", "l_extendedprice"]
    )
    return avg_ranked.groupBy("l_returnflag").agg(
        F.round(F.corr("rx", "ry"), 6).alias("spearman_rho")
    )


@register(
    "agg_value_auc",
    oracle=f"""
    WITH ranked AS (
      SELECT (event_type = 'purchase') AS pos,
             avg(rn) OVER (PARTITION BY value) AS avg_rank
      FROM (SELECT event_type, value,
                   row_number() OVER (ORDER BY value, event_id) AS rn
            FROM events WHERE value IS NOT NULL)
    )
    SELECT {oracle_round_quotient(
               "CAST(2 * sum(CASE WHEN pos THEN avg_rank END) AS HUGEINT)"
               " - CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS HUGEINT)"
               "   * (sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1)",
               "2 * CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS HUGEINT)"
               "   * sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)", 6)} AS auc,
           CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)     AS n_pos,
           CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
    FROM ranked
    """,
)
def agg_value_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``arrayAUC(scores, labels)`` — ROC AUC of ``value``
    as a score for "event is a purchase", via the rank-sum (Mann-
    Whitney) identity AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻) with
    average ranks for tied scores.

    Scale shape: no per-row global sort.  Rows first reduce to the
    distinct-score grid (value → class counts); the average rank of a
    tied block is then pure arithmetic on the grid's running total,
    avg_rank(v) = cum_before(v) + (c_v + 1)/2, and the rank-sum is a
    weighted aggregate of grid rows.  The only ordered pass is a
    running-sum window over the (much smaller) grid — the same
    O(|distinct|) state as the KS query."""
    # rank contract: a NULL score cannot be ranked (both sides)
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select((F.col("event_type") == "purchase").alias("pos"), "value")
    )
    grid = e.groupBy("value").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("c_pos"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0)).alias("c_neg"),
    ).withColumn("c_tot", F.col("c_pos") + F.col("c_neg"))
    # the substrate reads the grid twice (bounds + bucketing): pin it
    # once, one events scan instead of two
    grid = memo.pin(grid)
    # distributed two-level prefix sum: no single-partition sort even
    # when the score is continuous and the grid approaches row count;
    # the grid is distinct on value, so [value] is a total order
    ranked = with_global_row_number(grid, ["value"], sum_cols=["c_tot"]).select(
        "c_pos",
        "c_neg",
        (
            F.col("cum_c_tot") - F.col("c_tot") + (F.col("c_tot") + 1) / 2.0
        ).alias("avg_rank"),
    )
    npos = F.sum("c_pos")
    nneg = F.sum("c_neg")
    rpos = F.sum(F.col("c_pos") * F.col("avg_rank"))
    # AUC numerator/denominator are exact integers (2*rpos is an integer
    # because avg ranks are half-integers); round in exact arithmetic so
    # the 6-digit output is engine-invariant (hashsafe.round_quotient).
    num = (F.lit(2) * rpos).cast("decimal(38,0)") - (
        npos.cast("decimal(19,0)") * (npos + 1).cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    den = (
        F.lit(2).cast("decimal(19,0)")
        * npos.cast("decimal(19,0)")
        * nneg.cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    return ranked.agg(
        round_quotient(num, den, 6).alias("auc"),
        npos.alias("n_pos"),
        nneg.alias("n_neg"),
    )


@register(
    "agg_ks_two_sample",
    oracle=f"""
    WITH grid AS (
      SELECT value,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c_p,
             sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS c_e
      FROM events WHERE event_type IN ('purchase', 'error')
      GROUP BY value
    ), cum AS (
      SELECT sum(c_p) OVER (ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
             sum(c_e) OVER (ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_e
      FROM grid
    )
    SELECT {oracle_round_quotient(
               "max(abs(CAST(cum_p AS HUGEINT) * (SELECT sum(c_e) FROM grid)"
               "        - CAST(cum_e AS HUGEINT) * (SELECT sum(c_p) FROM grid)))",
               "CAST((SELECT sum(c_p) FROM grid) AS HUGEINT)"
               " * (SELECT sum(c_e) FROM grid)", 6)} AS ks_d,
           CAST((SELECT sum(c_p) FROM grid) AS BIGINT) AS n_purchase,
           CAST((SELECT sum(c_e) FROM grid) AS BIGINT) AS n_error
    FROM cum
    """,
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``kolmogorovSmirnovTest`` (statistic only) between
    the ``value`` distributions of purchase vs error events:
    D = max |F̂₁(v) − F̂₂(v)|.  Collapsing to the distinct-value grid
    first makes the running-sum window O(|grid|), and evaluating both
    ECDFs *after* all rows at a value handles ties exactly.  Totals
    ride along as a broadcast single-row cross join."""
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .select("event_type", "value")
    )
    grid = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c_p"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("c_e"),
    )
    # the substrate reads the grid twice (bounds + bucketing): pin it
    # once, one events scan instead of two
    grid = memo.pin(grid)
    # distributed two-level prefix sum (see with_global_row_number): the
    # ECDF running sums stay partition-parallel at any grid cardinality.
    # Totals come from the substrate's own 64-row bucket frame
    # (with_totals) — a separate grid.agg() would re-run the whole
    # events-scan + grid aggregate subtree
    cum = with_global_row_number(
        grid, ["value"], sum_cols=["c_p", "c_e"], with_totals=True
    ).select(
        F.col("cum_c_p").alias("cum_p"),
        F.col("cum_c_e").alias("cum_e"),
        F.col("tot_c_p").alias("n_purchase"),
        F.col("tot_c_e").alias("n_error"),
    )
    return (
        cum
        .agg(
            # D * n_p * n_e is an exact integer: round the rational in
            # exact arithmetic (see hashsafe.round_quotient)
            round_quotient(
                F.max(
                    F.abs(
                        F.col("cum_p").cast("decimal(19,0)")
                        * F.col("n_error").cast("decimal(19,0)")
                        - F.col("cum_e").cast("decimal(19,0)")
                        * F.col("n_purchase").cast("decimal(19,0)")
                    ).cast("decimal(38,0)")
                ),
                (
                    F.max(F.col("n_purchase")).cast("decimal(19,0)")
                    * F.max(F.col("n_error")).cast("decimal(19,0)")
                ).cast("decimal(38,0)"),
                6,
            ).alias("ks_d"),
            F.first("n_purchase").alias("n_purchase"),
            F.first("n_error").alias("n_error"),
        )
    )


@register(
    "agg_welch_ttest",
    oracle="""
    WITH p AS (
      SELECT count(*) AS n, avg(value) AS m, var_samp(value) AS v
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT count(*) AS n, avg(value) AS m, var_samp(value) AS v
      FROM events WHERE event_type = 'error'
    )
    SELECT round((p.m - e.m) / sqrt(p.v / p.n + e.v / e.n), 6) + 0.0 AS t_stat,
           round(pow(p.v / p.n + e.v / e.n, 2)
                 / (pow(p.v / p.n, 2) / (p.n - 1)
                    + pow(e.v / e.n, 2) / (e.n - 1)), 4)       AS welch_df,
           round(p.m, 4) AS mean_purchase,
           round(e.m, 4) AS mean_error
    FROM p, e
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``welchTTest(value, class)`` — unequal-variance
    t-statistic and Welch–Satterthwaite degrees of freedom between
    purchase and error values.  Two single-row moment aggregates
    joined by a broadcast cross join; wholly partial-aggregatable."""
    ev = table(spark, sf_dir, "events")

    def side(t: str, suffix: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == t)
            .agg(
                F.count(F.lit(1)).alias(f"n_{suffix}"),
                F.avg("value").alias(f"m_{suffix}"),
                F.var_samp("value").alias(f"v_{suffix}"),
            )
        )

    j = side("purchase", "p").crossJoin(F.broadcast(side("error", "e")))
    se_p = F.col("v_p") / F.col("n_p")
    se_e = F.col("v_e") / F.col("n_e")
    return j.select(
        F.round((F.col("m_p") - F.col("m_e")) / F.sqrt(se_p + se_e), 6).alias(
            "t_stat"
        ),
        F.round(
            F.pow(se_p + se_e, 2)
            / (
                F.pow(se_p, 2) / (F.col("n_p") - 1)
                + F.pow(se_e, 2) / (F.col("n_e") - 1)
            ),
            4,
        ).alias("welch_df"),
        F.round(F.col("m_p"), 4).alias("mean_purchase"),
        F.round(F.col("m_e"), 4).alias("mean_error"),
    )


@register(
    "agg_mann_whitney_u",
    oracle="""
    WITH ranked AS (
      SELECT (event_type = 'purchase') AS pos,
             avg(rn) OVER (PARTITION BY value) AS avg_rank
      FROM (SELECT event_type, value,
                   row_number() OVER (ORDER BY value, event_id) AS rn
            FROM events WHERE event_type IN ('purchase', 'error'))
    )
    SELECT round(sum(CASE WHEN pos THEN avg_rank END)
                 - (sum(CASE WHEN pos THEN 1 ELSE 0 END)
                    * (sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1)) / 2.0, 4) AS u1,
           round(sum(CASE WHEN pos THEN 1 ELSE 0 END)
                 * sum(CASE WHEN NOT pos THEN 1 ELSE 0 END)
                 - (sum(CASE WHEN pos THEN avg_rank END)
                    - (sum(CASE WHEN pos THEN 1 ELSE 0 END)
                       * (sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1)) / 2.0), 4) AS u2,
           CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)     AS n_purchase,
           CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS n_error
    FROM ranked
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``mannWhitneyUTest`` (U statistics) for purchase vs
    error values: U₁ = R₁ − n₁(n₁+1)/2 with average ranks over the
    pooled sample, U₂ = n₁n₂ − U₁.  Same rank machinery as the AUC
    query (the two are equivalent up to normalization)."""
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .select((F.col("event_type") == "purchase").alias("pos"), "value")
    )
    # same distinct-score-grid ranking as agg_value_auc: avg_rank is
    # arithmetic on the grid's running total, no per-row global sort
    grid = e.groupBy("value").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("c_pos"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0)).alias("c_neg"),
    ).withColumn("c_tot", F.col("c_pos") + F.col("c_neg"))
    # pinned for the substrate's two readers, as in agg_value_auc
    grid = memo.pin(grid)
    ranked = with_global_row_number(grid, ["value"], sum_cols=["c_tot"]).select(
        "c_pos",
        "c_neg",
        (
            F.col("cum_c_tot") - F.col("c_tot") + (F.col("c_tot") + 1) / 2.0
        ).alias("avg_rank"),
    )
    n1 = F.sum("c_pos")
    n2 = F.sum("c_neg")
    # R₁ over POSITIVE rows only: with zero purchases the oracle's
    # conditional sum is NULL (empty sum) while summing c_pos·rank
    # would give 0.0 — align to NULL (round-8 edge fuzz, single-row)
    r1 = F.sum(F.when(F.col("c_pos") > 0, F.col("c_pos") * F.col("avg_rank")))
    u1 = r1 - (n1 * (n1 + 1)) / 2.0
    return ranked.agg(
        F.round(u1, 4).alias("u1"),
        F.round(n1 * n2 - u1, 4).alias("u2"),
        n1.alias("n_purchase"),
        n2.alias("n_error"),
    )


@register(
    "agg_group_uniq_array",
    oracle="""
    SELECT o_orderpriority,
           coalesce(array_to_string(list_sort(list(DISTINCT o_orderstatus)), ','), '') AS statuses,
           count(DISTINCT o_orderstatus)           AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_group_uniq_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupUniqArray(x)`` — the distinct set per group,
    emitted sorted so the result is deterministic (ClickHouse's own
    output order is unspecified).  collect_set is a mergeable
    aggregation state, the distributed analogue."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias(
            "statuses"
        ),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "agg_sum_foreach",
    oracle="""
    SELECT label, pos,
           CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS dim_sum_e6
    FROM (SELECT label,
                 unnest(range(0, len(embedding))) AS pos,
                 unnest(embedding)                AS v
          FROM embeddings)
    GROUP BY label, pos
    """,
)
def agg_sum_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sumForEach(arr)`` — element-wise array sum per
    group (here: per-label sum of 64-dim embeddings, the centroid
    numerator).  posexplode + hash agg on (label, position): fully
    shuffle-parallel, scales to wide vectors × billions of rows where
    a collect-and-zip approach would not.  Sums are taken on an exact
    integer micro-grid (floor(v·1e6 + 0.5)) so the result is
    independent of accumulation order — float addition is not."""
    emb = table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        "pos",
        F.floor(F.col("v").cast("double") * 1000000 + 0.5)
        .cast("long")
        .alias("v_e6"),
    )
    return exploded.groupBy("label", "pos").agg(F.sum("v_e6").alias("dim_sum_e6"))


@register(
    "window_nonnegative_derivative",
    oracle="""
    WITH d AS (
      SELECT event_id, user_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v,
             lag(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)          AS prev_us
      FROM events
    )
    SELECT event_id, user_id,
           round(greatest(0.0, (value - prev_v) / ((us - prev_us) / 1000000.0)), 6)
             AS rate_per_s
    FROM d WHERE prev_us IS NOT NULL AND us > prev_us
    """,
)
def window_nonnegative_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``nonNegativeDerivative(value, ts)`` — per-user rate
    of change per second, clamped at zero (counter-reset semantics).
    One sort window per user; the time delta is computed on exact
    integer microseconds so both engines feed identical doubles into
    the division (SURVEY §2.D time-series surface)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = e.select(
        "event_id",
        "user_id",
        "value",
        us.alias("us"),
        F.lag("value").over(w).alias("prev_v"),
        F.lag(us).over(w).alias("prev_us"),
    )
    return d.filter(F.col("prev_us").isNotNull() & (F.col("us") > F.col("prev_us"))).select(
        "event_id",
        "user_id",
        # round-ok: value deltas are raw doubles — float provenance
        F.round(
            F.greatest(
                F.lit(0.0),
                (F.col("value") - F.col("prev_v"))
                / ((F.col("us") - F.col("prev_us")) / 1000000.0),
            ),
            6,
        ).alias("rate_per_s"),
    )


@register(
    "events_max_intersections_position",
    oracle="""
    WITH pts AS (
      SELECT event_type, ts AS p, 1 AS d FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL 30 MINUTE AS p, -1 AS d FROM events
    ), run AS (
      SELECT event_type, p,
             sum(d) OVER (PARTITION BY event_type ORDER BY p, d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS concurrent
      FROM pts
    ), best AS (
      SELECT event_type, p, concurrent,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY concurrent DESC, p ASC) AS rk
      FROM run
    )
    SELECT event_type, CAST(concurrent AS BIGINT) AS max_concurrent, p AS at_ts
    FROM best WHERE rk = 1
    """,
)
def events_max_intersections_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``maxIntersectionsPosition(start, end)`` — the
    earliest instant at which interval concurrency peaks (companion to
    ``events_max_intersections``; same 30-minute-hold sweep line).
    Within a tied (p, d) block the running sum assigns consecutive
    partial sums to arbitrary rows, but the block's *maximum* and its
    position are deterministic, so ordering by (concurrent DESC, p
    ASC) and keeping row 1 is stable."""
    e = table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("p"), F.lit(1).alias("d")),
                F.struct(
                    (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("p"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("pt"),
    ).select("event_type", "pt.p", "pt.d")
    w = (
        Window.partitionBy("event_type")
        .orderBy("p", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = pts.select(
        "event_type", "p", F.sum("d").over(w).alias("concurrent")
    )
    best = run.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("concurrent").desc(), F.col("p").asc()
            )
        ),
    )
    return best.filter(F.col("rk") == 1).select(
        "event_type", F.col("concurrent").alias("max_concurrent"), F.col("p").alias("at_ts")
    )


@register(
    "scalar_regex_funcs",
    oracle="""
    SELECT p_partkey,
           coalesce(array_to_string(regexp_extract_all(p_name, '[a-z]+'), ','), '') AS name_tokens,
           len(regexp_extract_all(p_name, '[a-z]+')) AS n_name_tokens,
           regexp_extract(p_name, '^[a-z]+')         AS first_token,
           coalesce(array_to_string(string_split_regex(p_type, '\\s+'), ','), '')   AS type_words,
           regexp_replace(p_type, '[AEIOU]', '', 'g') AS type_no_vowels,
           regexp_matches(p_name, '[0-9]')           AS has_digit
    FROM part
    """,
)
def scalar_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse regex vocabulary — ``extractAll`` →
    regexp_extract_all, ``splitByRegexp`` → split, ``replaceRegexpAll``
    → regexp_replace, ``match`` → rlike.  All JVM-side expressions
    inside whole-stage codegen; no UDFs."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat_ws(",", F.expr("regexp_extract_all(p_name, '[a-z]+', 0)")).alias(
            "name_tokens"
        ),
        F.size(F.expr("regexp_extract_all(p_name, '[a-z]+', 0)")).alias(
            "n_name_tokens"
        ),
        F.regexp_extract("p_name", "^[a-z]+", 0).alias("first_token"),
        F.concat_ws(",", F.split("p_type", r"\s+")).alias("type_words"),
        F.regexp_replace("p_type", "[AEIOU]", "").alias("type_no_vowels"),
        F.col("p_name").rlike("[0-9]").alias("has_digit"),
    )


@register(
    "agg_association_measures",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(count(*) AS DOUBLE) AS n
      FROM orders GROUP BY 1, 2
    ), rt AS (SELECT a, sum(n) AS rn FROM c GROUP BY a),
       ct AS (SELECT b, sum(n) AS cn FROM c GROUP BY b),
       tot AS (SELECT sum(n) AS nn,
                      CAST(count(DISTINCT a) AS DOUBLE) AS nr,
                      CAST(count(DISTINCT b) AS DOUBLE) AS nc
               FROM c),
       agg AS (
      SELECT sum(pow(c.n - rt.rn * ct.cn / tot.nn, 2)
                 / (rt.rn * ct.cn / tot.nn))          AS chi2,
             max(tot.nn) AS nn, max(tot.nr) AS nr, max(tot.nc) AS nc,
             -sum(c.n / tot.nn * ln(rt.rn / tot.nn))  AS h_a,
             -sum(c.n / tot.nn * ln(c.n / ct.cn))     AS h_a_given_b
      -- null-safe joins: NULL categories survive like Spark's
      -- window partitions (round-8 edge fuzz)
      FROM c JOIN rt ON c.a IS NOT DISTINCT FROM rt.a
             JOIN ct ON c.b IS NOT DISTINCT FROM ct.b
             CROSS JOIN tot
    )
    SELECT round(sqrt(chi2 / (chi2 + nn)), 6) AS contingency_c,
           -- +0 normalizes IEEE -0.0 on degenerate (single-category)
           -- contingency tables
           round(sqrt(greatest(0.0, chi2 / nn - (nr - 1) * (nc - 1) / (nn - 1))
                      / (least(nr - pow(nr - 1, 2) / (nn - 1),
                               nc - pow(nc - 1, 2) / (nn - 1)) - 1)), 6) + 0
             AS cramers_v_corrected,
           round((h_a - h_a_given_b) / h_a, 6) AS theils_u,
           CAST(nn AS BIGINT) AS n_rows
    FROM agg
    """,
)
def agg_association_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``contingency(a, b)``, ``cramersVBiasCorrected`` and
    ``theilsU`` over orderpriority × orderstatus.  Same single-scan
    shape as ``agg_cramers_v_flag_status``: one partial-agg shuffle
    reduces the fact table to the contingency cells; marginals are
    window sums over that tiny frame.  Theil's U uses the identity
    Σ_cells (n/N)·ln(rn/N) = Σ_a (rn/N)·ln(rn/N), so the row entropy
    comes out of the very same cell aggregate — no rescans.  Natural
    logs in both engines."""
    o = table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
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
    agg = c3.agg(
        F.sum(F.pow(F.col("n") - expected, 2) / expected).alias("chi2"),
        F.max("nn").alias("nn"),
        F.countDistinct("a").cast("double").alias("nr"),
        F.countDistinct("b").cast("double").alias("nc"),
        (-F.sum(F.col("n") / F.col("nn") * F.log(F.col("rn") / F.col("nn")))).alias(
            "h_a"
        ),
        (-F.sum(F.col("n") / F.col("nn") * F.log(F.col("n") / F.col("cn")))).alias(
            "h_a_given_b"
        ),
    )
    phi2_corr = F.greatest(
        F.lit(0.0),
        F.col("chi2") / F.col("nn")
        - (F.col("nr") - 1) * (F.col("nc") - 1) / (F.col("nn") - 1),
    )
    # try_divide: a single-row table zeroes nn-1 (round-8 edge fuzz)
    k_corr = (
        F.least(
            F.col("nr")
            - F.try_divide(F.pow(F.col("nr") - 1, 2), F.col("nn") - 1),
            F.col("nc")
            - F.try_divide(F.pow(F.col("nc") - 1, 2), F.col("nn") - 1),
        )
        - 1
    )
    return agg.select(
        F.round(F.sqrt(F.col("chi2") / (F.col("chi2") + F.col("nn"))), 6).alias(
            "contingency_c"
        ),
        (F.round(F.sqrt(F.try_divide(phi2_corr, k_corr)), 6) + 0.0).alias(
            "cramers_v_corrected"
        ),
        # round-ok: entropies are log-derived — float-stat provenance
        F.round(
            F.try_divide(F.col("h_a") - F.col("h_a_given_b"), F.col("h_a")), 6
        ).alias("theils_u"),
        F.col("nn").cast("long").alias("n_rows"),
    )


LTTB_N_OUT = 50
# Monster-series guard (VERDICT r3 directive #7): applyInPandas
# materializes one FULL series per pandas frame, so a series beyond
# this row count first passes through an in-engine bucket-level
# extreme-point pre-reduction (see _lttb_route) and only the reduced
# candidates cross the Arrow boundary.
LTTB_PRE_REDUCE_THRESHOLD = 1_000_000
# value-range buckets for the pre-reduction: 4 extreme points each
# (min/max y, first/last x) → ≤ 8·LTTB_N_OUT·4 candidate rows/series
LTTB_PRE_BUCKETS = LTTB_N_OUT * 8
# inputs whose optimizer size estimate is below this cannot contain a
# series over the threshold (~28 B/row × 1M rows), so the routed plan
# (which costs an extra counting scan) is only built past it — the
# common path stays byte-identical to the unguarded plan
_LTTB_SMALL_INPUT_BYTES = 24 << 20


def _lttb_route(pts, out_schema: str):
    """Route series to the exact grouped-map LTTB, pre-reducing any
    series larger than LTTB_PRE_REDUCE_THRESHOLD.

    Pre-reduction is the documented bucket-level extreme-point pass:
    each of LTTB_PRE_BUCKETS x-range buckets keeps its min-y / max-y /
    first / last points (one hash aggregate — map-side combined, fully
    parallel, never a single-task sort), and the exact LTTB then runs
    on ≤ 4·LTTB_PRE_BUCKETS candidates.  The LTTB argmax over a bucket
    is the maximizer of |linear(x, y)|, which extreme points capture
    well; the pass is an approximation for monster series only — any
    series at or under the threshold takes the exact path untouched,
    so fixture-scale oracle hashes are unaffected."""

    def fn(pdf):
        pdf = pdf.sort_values(["x_us", "event_id"], kind="mergesort").reset_index(
            drop=True
        )
        return _lttb_pandas(pdf, LTTB_N_OUT)

    exact = lambda df: df.groupBy("event_type").applyInPandas(fn, out_schema)  # noqa: E731
    try:
        est = int(pts._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — no stats: assume big, build the guard
        est = _LTTB_SMALL_INPUT_BYTES + 1
    if est < _LTTB_SMALL_INPUT_BYTES:
        return exact(pts)
    counts = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("x_us").alias("__xmin"),
        F.max("x_us").alias("__xmax"),
    )
    tagged = pts.join(F.broadcast(counts), "event_type")
    small = tagged.filter(
        F.col("__n") <= LTTB_PRE_REDUCE_THRESHOLD
    ).select(*pts.columns)
    big = tagged.filter(F.col("__n") > LTTB_PRE_REDUCE_THRESHOLD)
    span = F.col("__xmax") - F.col("__xmin")
    bucket = F.when(
        span > 0,
        F.least(
            F.lit(LTTB_PRE_BUCKETS - 1),
            (
                (F.col("x_us") - F.col("__xmin"))
                * F.lit(LTTB_PRE_BUCKETS)
                / (span + 1)
            ).cast("long"),
        ),
    ).otherwise(F.lit(0))
    pt = F.struct("x_us", "y", "event_id")
    reduced = (
        big.withColumn("__b", bucket)
        .groupBy("event_type", "__b")
        .agg(
            F.min_by(pt, F.struct("y", "x_us", "event_id")).alias("p1"),
            F.max_by(pt, F.struct("y", "x_us", "event_id")).alias("p2"),
            F.min_by(pt, F.struct("x_us", "event_id")).alias("p3"),
            F.max_by(pt, F.struct("x_us", "event_id")).alias("p4"),
        )
        .select("event_type", F.explode(F.array("p1", "p2", "p3", "p4")).alias("p"))
        .select("event_type", "p.x_us", "p.y", "p.event_id")
        .distinct()
    )
    return exact(small.unionByName(reduced))


def _lttb_pandas(pdf, n_out: int):
    """Largest-Triangle-Three-Buckets over one (pre-sorted) series.

    Pure-pandas inner loop over ``n_out`` buckets (not rows): the
    sequential selected-point dependency makes LTTB irreducible to a
    window/agg composition, which is why it rides in ``applyInPandas``.

    Cross-engine-exact arithmetic (this is what lets the DuckDB
    recursive-CTE oracle certify the output): the bucket centroid is
    kept as EXACT integer sums (x in µs, y on the cents grid), and the
    triangle area is evaluated as

        A_i = | (px·c − Σx) · (y_ci − py_c)  −  (px − x_i) · (Σy_c − py_c·c) |

    — a positive multiple (100·c) of the real area.  Every operand is
    an exact int64; the two products round identically in IEEE double
    on any engine, so argmax ties break identically (lowest index).
    """
    import numpy as np

    x = pdf["x_us"].to_numpy(dtype="int64")
    y = pdf["y"].to_numpy(dtype="float64")
    y_c = np.rint(y * 100).astype("int64")  # exact cents grid
    n = len(x)
    if n <= n_out:
        sel = list(range(n))
    else:
        # bucket edges over the interior points (first/last are pinned)
        edges = [1 + (i * (n - 2)) // (n_out - 2) for i in range(n_out - 1)]
        sel = [0]
        prev = 0
        for b in range(n_out - 2):
            lo, hi = edges[b], edges[b + 1]
            nxt_lo, nxt_hi = (edges[b + 1], n) if b == n_out - 3 else (
                edges[b + 1],
                edges[b + 2],
            )
            c = nxt_hi - nxt_lo
            sx = int(x[nxt_lo:nxt_hi].sum())
            sy = int(y_c[nxt_lo:nxt_hi].sum())
            px, py_c = int(x[prev]), int(y_c[prev])
            d1 = float(px * c - sx)
            d2 = float(sy - py_c * c)
            areas = np.abs(
                d1 * (y_c[lo:hi] - py_c).astype("float64")
                - (px - x[lo:hi]).astype("float64") * d2
            )
            prev = lo + int(np.argmax(areas))
            sel.append(prev)
        sel.append(n - 1)
    out = pdf.iloc[sel][["event_type", "x_us", "y"]].copy()
    out["sel_idx"] = range(len(sel))
    return out


_LTTB_NB = LTTB_N_OUT - 2      # interior buckets
_LTTB_LASTB = LTTB_N_OUT - 3   # last interior bucket index


@register(
    "ts_lttb_downsample",
    oracle=f"""
    WITH RECURSIVE pts AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS x_us,
             value AS y,
             CAST(round(value * 100) AS BIGINT) AS y_c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
               - 1 AS i,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ),
    sel AS (
      SELECT event_type, n, CAST(-1 AS BIGINT) AS b, CAST(0 AS BIGINT) AS i,
             x_us, y, y_c
      FROM pts WHERE i = 0 AND n > {LTTB_N_OUT}
      UNION ALL
      SELECT s.event_type, s.n, s.b + 1, c.i, c.x_us, c.y, c.y_c
      FROM sel s, LATERAL (
        SELECT p.i, p.x_us, p.y, p.y_c
        FROM pts p,
             (SELECT count(*) AS c, sum(p2.x_us) AS sx, sum(p2.y_c) AS sy
              FROM pts p2
              WHERE p2.event_type = s.event_type
                AND p2.i >= 1 + ((s.b + 2) * (s.n - 2)) // {_LTTB_NB}
                AND p2.i <  CASE WHEN s.b + 1 = {_LTTB_LASTB} THEN s.n
                                 ELSE 1 + ((s.b + 3) * (s.n - 2)) // {_LTTB_NB}
                            END) nb
        WHERE p.event_type = s.event_type
          AND p.i >= 1 + ((s.b + 1) * (s.n - 2)) // {_LTTB_NB}
          AND p.i <  1 + ((s.b + 2) * (s.n - 2)) // {_LTTB_NB}
        ORDER BY abs(CAST(s.x_us * nb.c - nb.sx AS DOUBLE)
                       * CAST(p.y_c - s.y_c AS DOUBLE)
                     - CAST(s.x_us - p.x_us AS DOUBLE)
                       * CAST(nb.sy - s.y_c * nb.c AS DOUBLE)) DESC,
                 p.i ASC
        LIMIT 1
      ) c
      WHERE s.b + 1 <= {_LTTB_LASTB}
    )
    SELECT event_type, x_us, y, CAST(b + 1 AS INT) AS sel_idx FROM sel
    UNION ALL
    SELECT event_type, x_us, y, CAST({LTTB_N_OUT} - 1 AS INT) AS sel_idx
    FROM pts WHERE n > {LTTB_N_OUT} AND i = n - 1
    UNION ALL
    SELECT event_type, x_us, y, CAST(i AS INT) AS sel_idx
    FROM pts WHERE n <= {LTTB_N_OUT}
    """,
)
def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``largestTriangleThreeBuckets(n)(x, y)`` — perceptual
    time-series downsampling to LTTB_N_OUT points per event_type.
    Each bucket keeps the point forming the largest triangle with the
    previously kept point and the next bucket's centroid — a
    sequential dependency no window/agg composition expresses, so the
    per-series loop runs as a grouped-map Pandas UDF (one Arrow batch
    per series; the loop is O(n_out) numpy vector steps, not O(n)
    Python).  Scale: series are the unit of parallelism — thousands of
    independent series spread across executors; a series past
    LTTB_PRE_REDUCE_THRESHOLD rows is first collapsed IN-ENGINE to its
    per-bucket extreme points (:func:`_lttb_route`) so a monster
    series never crosses the Arrow boundary whole.

    Oracle (r3, graduating the entry from rows-only to full hash): the
    per-bucket recurrence is expressed as a DuckDB RECURSIVE CTE — one
    recursion step per bucket, a LATERAL argmax over the bucket's
    points given the previously selected point.  Both sides evaluate
    the triangle area from the same exact integers (µs grid × cents
    grid, see ``_lttb_pandas``), so the argmax — ties included — is
    bit-identical across engines."""
    # downsampling contract: NULL values carry no point (both sides)
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pts = e.select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("x_us"),
        F.col("value").alias("y"),
        "event_id",
    ).repartition("event_type")
    return _lttb_route(
        pts, "event_type string, x_us long, y double, sel_idx int"
    )


@register(
    "ts_decompose_additive",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
             CAST(count(*) AS DOUBLE) AS n
      FROM events WHERE event_type = 'click' GROUP BY 1
    ), t AS (
      SELECT bucket, n,
             avg(n) OVER (ORDER BY bucket
                          ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS trend
      FROM hourly
    ), d AS (
      SELECT bucket, n, trend, n - trend AS detr,
             EXTRACT(hour FROM bucket) AS hod
      FROM t
    ), s AS (
      SELECT d.*,
             avg(detr) OVER (PARTITION BY hod) AS s_raw,
             avg(detr) OVER ()                 AS s_mean
      FROM d
    )
    SELECT bucket, CAST(n AS BIGINT) AS n,
           round(trend, 4) + 0.0                AS trend,
           round(s_raw - s_mean, 4) + 0.0       AS seasonal,
           round(detr - (s_raw - s_mean), 4) + 0.0 AS residual
    FROM s
    """,
)
def ts_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the hourly click-count
    series (the SQL-expressible analogue of ClickHouse's
    ``seriesDecomposeSTL``): trend = 24-point centered moving average,
    seasonal = mean hour-of-day deviation from trend (re-centered so
    components sum back to the observation), residual = remainder.

    Scale shape: the fact stream reduces to the hourly grid in one
    partial-agg pass; every later window runs over grid rows (the
    trend MA is a ROWS frame on the time order, the seasonal means are
    24-key partitions).  Components are certified by the oracle,
    and n = trend + seasonal + residual by construction."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts").cast("timestamp"))
        .cast("timestamp_ntz")
        .alias("bucket")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    w_ma = Window.orderBy("bucket").rowsBetween(-11, 12)
    t = hourly.withColumn("trend", F.avg("n").over(w_ma))
    d = t.withColumn("detr", F.col("n") - F.col("trend")).withColumn(
        "hod", F.hour("bucket")
    )
    s = d.withColumn(
        "s_raw", F.avg("detr").over(Window.partitionBy("hod"))
    ).withColumn("s_mean", F.avg("detr").over(Window.partitionBy()))
    return s.select(
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.round("trend", 4).alias("trend"),
        F.round(F.col("s_raw") - F.col("s_mean"), 4).alias("seasonal"),
        F.round(
            F.col("detr") - (F.col("s_raw") - F.col("s_mean")), 4
        ).alias("residual"),
    )


@register(
    "agg_student_ttest",
    oracle="""
    WITH p AS (
      SELECT count(*) AS n, avg(value) AS m, var_samp(value) AS v
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT count(*) AS n, avg(value) AS m, var_samp(value) AS v
      FROM events WHERE event_type = 'error'
    ), sp AS (
      SELECT p.n AS n_p, e.n AS n_e, p.m AS m_p, e.m AS m_e,
             ((p.n - 1) * p.v + (e.n - 1) * e.v) / (p.n + e.n - 2) AS s2
      FROM p, e
    )
    SELECT round((m_p - m_e) / sqrt(s2 * (1.0 / n_p + 1.0 / n_e)), 6) + 0.0 AS t_stat,
           n_p + n_e - 2                                              AS df,
           round(m_p - m_e, 6)                                        AS mean_diff
    FROM sp
    """,
)
def agg_student_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``studentTTest(value, class)`` — EQUAL-variance
    two-sample t-statistic (pooled variance), the classical sibling of
    the Welch test above.  Same scale shape: two single-row moment
    aggregates (count/avg/var are all partial-aggregatable) joined by
    a broadcast cross join; zero wide shuffles over the fact stream."""
    ev = table(spark, sf_dir, "events")

    def side(t: str, suffix: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).agg(
            F.count(F.lit(1)).alias(f"n_{suffix}"),
            F.avg("value").alias(f"m_{suffix}"),
            F.var_samp("value").alias(f"v_{suffix}"),
        )

    j = side("purchase", "p").crossJoin(F.broadcast(side("error", "e")))
    n_p, n_e = F.col("n_p"), F.col("n_e")
    s2 = ((n_p - 1) * F.col("v_p") + (n_e - 1) * F.col("v_e")) / (n_p + n_e - 2)
    diff = F.col("m_p") - F.col("m_e")
    return j.select(
        F.round(diff / F.sqrt(s2 * (1.0 / n_p + 1.0 / n_e)), 6).alias("t_stat"),
        (n_p + n_e - 2).alias("df"),
        F.round(diff, 6).alias("mean_diff"),
    )


@register(
    "ml_ols_two_features",
    oracle="""
    WITH m AS (
      SELECT var_pop(l_quantity)                       AS v11,
             covar_pop(l_quantity, l_discount)         AS v12,
             var_pop(l_discount)                       AS v22,
             covar_pop(l_quantity, l_extendedprice)    AS c1,
             covar_pop(l_discount, l_extendedprice)    AS c2,
             avg(l_quantity)      AS mx1,
             avg(l_discount)      AS mx2,
             avg(l_extendedprice) AS my,
             count(*)             AS n
      FROM lineitem
    ), b AS (
      SELECT n, mx1, mx2, my,
             (c1 * v22 - c2 * v12) / (v11 * v22 - v12 * v12) AS b1,
             (c2 * v11 - c1 * v12) / (v11 * v22 - v12 * v12) AS b2
      FROM m
    )
    SELECT round(b1, 6)                         AS beta_quantity,
           round(b2, 6)                         AS beta_discount,
           round(my - b1 * mx1 - b2 * mx2, 4) + 0.0 AS intercept,
           n
    FROM b
    """,
)
def ml_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression (ClickHouse
    ``stochasticLinearRegression`` target, solved in CLOSED FORM):
    regress l_extendedprice on (l_quantity, l_discount) by the normal
    equations on CENTERED data — the 2x2 covariance system solved by
    Cramer's rule, intercept recovered from the means.

    Centering first (covar_pop/var_pop instead of raw sum-of-products)
    keeps the determinant numerically stable, so Spark and the oracle
    agree to 6 decimals despite different summation orders.  Scale
    shape: ONE pass of partial-aggregatable co-moments over the fact
    table, then O(1) driver-side algebra inside the same plan — no
    iteration, no shuffle beyond the single global aggregate."""
    li = table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.var_pop("l_quantity").alias("v11"),
        F.covar_pop("l_quantity", "l_discount").alias("v12"),
        F.var_pop("l_discount").alias("v22"),
        F.covar_pop("l_quantity", "l_extendedprice").alias("c1"),
        F.covar_pop("l_discount", "l_extendedprice").alias("c2"),
        F.avg("l_quantity").alias("mx1"),
        F.avg("l_discount").alias("mx2"),
        F.avg("l_extendedprice").alias("my"),
        F.count(F.lit(1)).alias("n"),
    )
    # try_divide: a singular design matrix (constant features /
    # single row) zeroes det — NULL like DuckDB, not an ANSI crash
    det = F.col("v11") * F.col("v22") - F.col("v12") * F.col("v12")
    b1 = F.try_divide(
        F.col("c1") * F.col("v22") - F.col("c2") * F.col("v12"), det
    )
    b2 = F.try_divide(
        F.col("c2") * F.col("v11") - F.col("c1") * F.col("v12"), det
    )
    return m.select(
        F.round(b1, 6).alias("beta_quantity"),
        F.round(b2, 6).alias("beta_discount"),
        F.round(F.col("my") - b1 * F.col("mx1") - b2 * F.col("mx2"), 4).alias(
            "intercept"
        ),
        F.col("n"),
    )


@register(
    "agg_information_value",
    oracle="""
    WITH cell AS (
      SELECT event_type,
             sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS g,
             sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS b
      FROM events GROUP BY event_type
    ), tot AS (
      SELECT cell.*, sum(g) OVER () AS tg, sum(b) OVER () AS tb FROM cell
    )
    SELECT event_type,
           round((CAST(g AS DOUBLE) / tg - CAST(b AS DOUBLE) / tb)
                 * ln((CAST(g AS DOUBLE) / tg) / (CAST(b AS DOUBLE) / tb)),
                 6) AS iv_component,
           CAST(g AS BIGINT) AS n_good,
           CAST(b AS BIGINT) AS n_bad
    FROM tot
    """,
)
def agg_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``categoricalInformationValue(cat, outcome)`` — the
    weight-of-evidence information-value component per category
    (outcome classes split deterministically on user parity so both
    classes are populated in every category).

    Scale shape: one partial-aggregatable conditional-count pass over
    the fact stream to the per-category cell frame; the class totals
    come from a window over those ≤ |categories| rows, not a second
    fact scan (same discipline as the Cramér's V query)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    cell = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("g"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("b"),
    )
    w = Window.partitionBy()
    t = cell.withColumn("tg", F.sum("g").over(w)).withColumn(
        "tb", F.sum("b").over(w)
    )
    # try_divide: an all-good or all-bad corpus zeroes a class total
    pg = F.try_divide(F.col("g").cast("double"), F.col("tg"))
    pb = F.try_divide(F.col("b").cast("double"), F.col("tb"))
    return t.select(
        "event_type",
        F.round((pg - pb) * F.log(pg / pb), 6).alias("iv_component"),
        F.col("g").cast("long").alias("n_good"),
        F.col("b").cast("long").alias("n_bad"),
    )


@register(
    "agg_anova_event_values",
    oracle="""
    WITH g AS (
      SELECT event_type, count(*) AS n_g, sum(value) AS s_g,
             sum(value * value) AS ss_g
      FROM events GROUP BY event_type),
    tot AS (
      SELECT count(*) AS k, sum(n_g) AS n, sum(s_g) AS s,
             sum(ss_g) AS ss, sum(s_g * s_g / n_g) AS sb
      FROM g)
    SELECT k, CAST(n AS BIGINT) AS n,
           round(sb - s * s / n, 4)              AS ss_between,
           round(ss - sb, 4)                     AS ss_within,
           round(((sb - s * s / n) / (k - 1))
                 / ((ss - sb) / (n - k)), 6)     AS f_stat
    FROM tot
    """,
)
def agg_anova_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``analysisOfVariance(value, group)`` — one-way ANOVA
    F-statistic across event types, computed in CLOSED FORM from
    per-group (n, Σx, Σx²): SS_between = Σ(S_g²/n_g) − S²/N,
    SS_within = ΣΣx² − Σ(S_g²/n_g), F = (SSB/(k−1)) / (SSW/(N−k)).

    Two-level aggregation — per-group partials then a 1-row combine —
    so the fact table is scanned once and only k rows cross the
    exchange; the same plan at 100 TB is map-side partials + a
    constant-size final reduce."""
    g = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum("value").alias("s_g"),
            F.sum(F.col("value") * F.col("value")).alias("ss_g"),
        )
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias("sb"),
    )
    sb_minus = F.col("sb") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sb")
    return tot.select(
        "k",
        "n",
        F.round(sb_minus, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        # round-ok: sums of squares are float — float-stat provenance
        # try_divide: k=1 groups or n=k rows zero a denominator —
        # NULL like DuckDB, not an ANSI crash (round-8 edge fuzz)
        F.round(
            F.try_divide(
                F.try_divide(sb_minus, F.col("k") - 1),
                F.try_divide(ssw, F.col("n") - F.col("k")),
            ),
            6,
        ).alias("f_stat"),
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS from_state,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_state
      FROM events),
    pairs AS (
      SELECT from_state, to_state, count(*) AS n_transitions
      FROM seq WHERE to_state IS NOT NULL
      GROUP BY from_state, to_state)
    SELECT from_state, to_state, n_transitions,
           round(n_transitions / CAST(sum(n_transitions)
                 OVER (PARTITION BY from_state) AS DOUBLE), 6) AS p
    FROM pairs
    ORDER BY from_state, to_state
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: count (state → next state) pairs, normalize per source
    state.  The behavioral-model summary behind next-event prediction
    and anomalous-flow detection.

    One user_id shuffle for the lead() window, one hash aggregate on
    the (from, to) pair, and the normalizing ratio-to-total runs over
    the TINY aggregated matrix (|states|² rows), never the raw
    stream — the same pattern as `events_type_share`."""
    seq = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("from_state"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("to_state"),
    )
    pairs = (
        seq.filter(F.col("to_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w = Window.partitionBy("from_state")
    return pairs.select(
        "from_state",
        "to_state",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(w).cast("double"), 6
        ).alias("p"),
    ).orderBy("from_state", "to_state")


@register(
    "text_zipf_slope",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    freq AS (SELECT token, count(*) AS f FROM tok GROUP BY token),
    ranked AS (
      SELECT ln(row_number() OVER (ORDER BY f DESC, token)) AS lr,
             ln(f) AS lf
      FROM freq),
    m AS (
      SELECT count(*) AS n, sum(lr) AS sx, sum(lf) AS sy,
             sum(lr * lr) AS sxx, sum(lr * lf) AS sxy, sum(lf * lf) AS syy
      FROM ranked)
    SELECT n AS vocab_size,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(frequency) against ln(rank) (natural language ≈ −1) plus R² —
    the corpus-health diagnostic that flags synthetic or degenerate
    training data (a near-flat or near-perfect fit is suspicious).

    The rank runs over the DISTINCT-token frequency table (vocabulary
    is sublinear in corpus size, Heaps' law) and through the
    distributed row-number substrate (:func:`with_global_row_number`),
    so even a billion-token vocabulary never single-partition-sorts.
    The OLS fit is the same closed-form moment aggregation as
    `agg_linear_regression`."""
    # NOT rewired onto the shared token substrate: measured slower
    # (cache-decoding full array<string> rows costs more than the
    # codegen'd scan+regex-split when the query makes only ONE pass —
    # interleaved paired minima 1.14 s own-tokenize vs 1.66-1.72 s
    # substrate, r13).  Instead the duplicate pass is removed one level
    # up: freq below is pinned, so tokenize runs once instead of twice.
    tok = table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower(utrim(F.col("text"))), r"\s+")).alias("token")
    )
    # freq feeds the rank substrate's bounds pass AND its bucketed-rows
    # pass; it is vocabulary-sized (Heaps-bounded), so pinning it runs
    # the corpus tokenize+count once
    freq = memo.pin(
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
        .withColumn("neg_f", -F.col("f"))
    )
    ranked = with_global_row_number(freq, ["neg_f", "token"], rn_col="_rk").select(
        F.log(F.col("_rk").cast("double")).alias("lr"),
        F.log("f").alias("lf"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lr").alias("sx"),
        F.sum("lf").alias("sy"),
        F.sum(F.col("lr") * F.col("lr")).alias("sxx"),
        F.sum(F.col("lr") * F.col("lf")).alias("sxy"),
        F.sum(F.col("lf") * F.col("lf")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("n").alias("vocab_size"),
        # round-ok: log-log regression sums — float-stat provenance
        F.round(num / den, 6).alias("zipf_slope"),
        F.round(F.pow(num, 2) / (den * deny), 6).alias("r2"),
    )


ACF_MAX_LAG = 6


@register(
    "ts_autocorrelation",
    oracle=f"""
    WITH series AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS y
      FROM events GROUP BY 1),
    m AS (SELECT avg(y) AS mu, count(*) AS n FROM series),
    lagged AS (
      SELECT k, (a.y - mu) * (b.y - mu) AS prod
      FROM series a
      CROSS JOIN m
      JOIN (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS k) lags ON true
      JOIN series b ON b.h = a.h + k * INTERVAL '1 hour'),
    denom AS (SELECT sum(pow(y - mu, 2)) AS ss FROM series CROSS JOIN m)
    SELECT k AS lag_hours,
           round(sum(prod) / (SELECT ss FROM denom), 6) + 0.0 AS acf
    FROM lagged GROUP BY k ORDER BY k
    """,
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at
    lags 1..{ACF_MAX_LAG} (the seasonality probe behind
    `ts_decompose_additive`: a daily cycle shows as a peak at lag 24,
    white noise decays immediately).

    The series is an aggregated frame (#hours rows), so every step after
    the first rollup — mean, lag self-join, normalization — runs on
    tiny data; the lag join is an equi-join on the shifted hour key,
    not a window over the raw stream.  One fact shuffle total."""
    series = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    # mean via a frame-less window over the tiny aggregated series.
    # stats feeds THREE subtrees (denom, both lag-join sides); it is
    # #hours rows, so pinning it runs the fact scan+hourly rollup once
    stats = memo.pin(
        series.select(F.avg("y").over(Window.partitionBy()).alias("mu"), "h", "y")
    )
    denom = stats.agg(F.sum(F.pow(F.col("y") - F.col("mu"), 2)).alias("ss"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("k"))
    a = stats.alias("a")
    b = stats.select(F.col("h").alias("bh"), F.col("y").alias("by")).alias("b")
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("bh")
            == F.col("a.h") + F.make_interval(hours=F.col("k").cast("int")),
        )
        .select(
            "k", ((F.col("a.y") - F.col("a.mu")) * (F.col("by") - F.col("a.mu"))).alias("prod")
        )
    )
    return (
        lagged.groupBy("k")
        .agg(F.sum("prod").alias("num"))
        .crossJoin(F.broadcast(denom))
        # round-ok: autocovariance products are float — float-stat provenance
        .select(F.col("k").alias("lag_hours"), F.round(F.col("num") / F.col("ss"), 6).alias("acf"))
        .orderBy("lag_hours")
    )


@register(
    "agg_gini_spend",
    oracle=f"""
    WITH per_user AS (
      -- exact cents grid: every rank, running sum and ratio below is
      -- integer-exact, so accumulation order cannot move the output
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, user_id) AS i,
             count(*) OVER () AS n, sum(cents) OVER () AS s
      FROM per_user)
    SELECT CAST(max(n) AS BIGINT) AS n_users,
           round(CAST(max(s) AS DOUBLE) / 100.0, 2) AS total_spend,
           {oracle_round_quotient(
               "2 * CAST(sum(CAST(i AS HUGEINT) * cents) AS HUGEINT)"
               " - (CAST(max(n) AS HUGEINT) + 1) * max(s)",
               "CAST(max(n) AS HUGEINT) * max(s)", 6)} AS gini
    FROM ranked
    """,
)
def agg_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user purchase spend — the inequality
    summary behind "what share of revenue comes from whales":
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over spend sorted ascending.

    The rank runs over the per-user AGGREGATE (one row per purchasing
    user), not raw events — and even that rank avoids a single-
    partition sort: the distributed row-number substrate
    (:func:`with_global_row_number`) keeps the serial work at 64 rows
    for any user count.  The final Gini is a 1-row reduce."""
    per_user = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    # the substrate reads its input twice (quantile bounds + bucketing):
    # pin the user-level aggregate, one events scan instead of two
    per_user = memo.pin(per_user)
    # n and Σx come from the substrate's own 64-row bucket-counts frame
    # (with_totals) — a separate per_user.agg() consumer would duplicate
    # the whole events-scan + user-aggregate subtree
    ranked = with_global_row_number(
        per_user,
        ["cents", "user_id"],
        rn_col="i",
        tot_cols=["cents"],
        with_totals=True,
    ).withColumns({"n": F.col("n_total"), "s": F.col("tot_cents")})
    # i*cents summed as decimal(38,0): exact at any user count (bigint
    # would overflow near 1e19; the rank-weighted sum grows as n^2 x)
    rw = F.sum((F.col("i") * F.col("cents")).cast("decimal(38,0)"))
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.round(F.max("s").cast("double") / 100.0, 2).alias("total_spend"),
        # G = (2*sum(i*x) - (n+1)*s) / (n*s): exact integers both
        # sides, so the 6-digit round is engine-invariant
        round_quotient(
            F.lit(2).cast("decimal(38,0)") * rw
            - (
                (F.max("n") + 1).cast("decimal(19,0)")
                * F.max("s").cast("decimal(19,0)")
            ).cast("decimal(38,0)"),
            (
                F.max("n").cast("decimal(19,0)")
                * F.max("s").cast("decimal(19,0)")
            ).cast("decimal(38,0)"),
            6,
        ).alias("gini"),
    )


@register(
    "agg_ab_test_lift",
    oracle=f"""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN (((((((CAST(0 AS BIGINT)) + CAST(user_id AS BIGINT)) % 1000003 * 999983) % 1000003) + 12345) * 999983 % 1000003) + 67890) * 999983 % 1000003 < 1000003 * 0.5
                  THEN 'A' ELSE 'B' END AS arm,
             max(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    arms AS (
      SELECT arm, count(*) AS n, sum(converted) AS conv,
             sum(converted) / CAST(count(*) AS DOUBLE) AS rate
      FROM assigned GROUP BY arm),
    wide AS (
      SELECT max(CASE WHEN arm = 'A' THEN n END)    AS na,
             CAST(max(CASE WHEN arm = 'A' THEN conv END) AS BIGINT) AS ca,
             max(CASE WHEN arm = 'A' THEN rate END) AS ra,
             max(CASE WHEN arm = 'B' THEN n END)    AS nb,
             CAST(max(CASE WHEN arm = 'B' THEN conv END) AS BIGINT) AS cb,
             max(CASE WHEN arm = 'B' THEN rate END) AS rb
      FROM arms)
    SELECT na, ca, {oracle_round_quotient("ca", "na", 6)} AS rate_a,
           nb, cb, {oracle_round_quotient("cb", "nb", 6)} AS rate_b,
           {oracle_round_quotient(
               "CAST(cb AS HUGEINT) * na - CAST(ca AS HUGEINT) * nb",
               "CAST(na AS HUGEINT) * nb", 6)} AS abs_lift,
           round((rb - ra) / sqrt(
               ((ca + cb) / CAST(na + nb AS DOUBLE))
               * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
               * (1.0 / na + 1.0 / nb)), 6) AS z_stat
    FROM wide
    """,
)
def agg_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: users split into
    deterministic hash arms (the same portable bucketing the sampling
    pack uses, so assignment is reproducible across engines and runs),
    conversion = ever made a >150-value purchase (every fixture user
    purchases SOMETHING, which would degenerate the pooled variance to
    zero), z = (p_B − p_A)/√(p̂(1−p̂)(1/n_A+1/n_B))
    with the pooled rate p̂ — the decision statistic of every
    experimentation platform.

    One user-level aggregate (reusing a single user exchange), a 2-row
    arm rollup, and a 1-row closed-form reduce."""
    from .sampling import _P, hash_bucket

    assigned = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 150),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(
            F.when(hash_bucket(F.col("user_id")) < _P * 0.5, "A")
            .otherwise("B")
            .alias("arm"),
            "converted",
        )
    )
    arms = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").alias("conv"),
        (F.sum("converted") / F.count(F.lit(1)).cast("double")).alias("rate"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == "A", F.col("rate"))).alias("ra"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("cb"),
        F.max(F.when(F.col("arm") == "B", F.col("rate"))).alias("rb"),
    )
    pooled = (F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb")).cast("double")
    return wide.select(
        "na",
        "ca",
        round_quotient(F.col("ca"), F.col("na"), 6).alias("rate_a"),
        "nb",
        "cb",
        round_quotient(F.col("cb"), F.col("nb"), 6).alias("rate_b"),
        # lift = (cb*na - ca*nb)/(na*nb): exact integers both sides
        round_quotient(
            F.col("cb").cast("decimal(19,0)") * F.col("na").cast("decimal(19,0)")
            - F.col("ca").cast("decimal(19,0)") * F.col("nb").cast("decimal(19,0)"),
            F.col("na").cast("decimal(19,0)") * F.col("nb").cast("decimal(19,0)"),
            6,
        ).alias("abs_lift"),
        # try_divide: a degenerate experiment (zero or total conversion
        # → pooled variance 0) must yield NULL like DuckDB's /0, not an
        # ANSI DIVIDE_BY_ZERO crash (round-8 data-edge fuzz catch)
        F.round(
            F.try_divide(
                F.col("rb") - F.col("ra"),
                F.sqrt(
                    pooled
                    * (1 - pooled)
                    * (1.0 / F.col("na") + 1.0 / F.col("nb"))
                ),
            ),
            6,
        ).alias("z_stat"),
    )


@register(
    "agg_benford_first_digit",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice))))
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0),
    obs AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    tot AS (SELECT sum(n) AS total FROM obs)
    SELECT digit, n,
           round(n / CAST(total AS DOUBLE), 6) AS observed_p,
           round(log10(1 + 1.0 / digit), 6) AS benford_p,
           round(pow(n / CAST(total AS DOUBLE) - log10(1 + 1.0 / digit), 2)
                 / log10(1 + 1.0 / digit) * total, 4) AS chi2_term
    FROM obs CROSS JOIN tot ORDER BY digit
    """,
)
def agg_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed first-digit
    frequencies against log10(1+1/d), with per-digit chi-square terms —
    the forensic screen for fabricated or truncated numeric columns
    (natural multi-scale amounts follow Benford; capped, binned or
    invented ones don't).

    First digit is pure arithmetic (no string casts): x / 10^floor(log10 x).
    One scan → 9-row aggregate; the total is a frame-less broadcast."""
    d = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.floor(
                F.col("o_totalprice")
                / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
            )
            .cast("bigint")
            .alias("digit")
        )
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total").cast("double")
    bp = F.log10(1 + 1.0 / F.col("digit"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(p, 6).alias("observed_p"),
            F.round(bp, 6).alias("benford_p"),
            F.round(F.pow(p - bp, 2) / bp * F.col("total"), 4).alias("chi2_term"),
        )
        .orderBy("digit")
    )


@register(
    "agg_pareto_concentration",
    oracle=f"""
    WITH per_user AS (
      -- exact cents grid (see agg_gini_spend): the 80% crossing is a
      -- comparison of exact integers against 0.8*total
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents DESC, user_id) AS i,
             count(*) OVER () AS n,
             sum(cents) OVER () AS total,
             sum(cents) OVER (ORDER BY cents DESC, user_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM per_user)
    SELECT CAST(min(CASE WHEN cum >= 0.8 * total THEN i END) AS BIGINT)
             AS users_for_80pct,
           CAST(max(n) AS BIGINT) AS n_users,
           {oracle_round_quotient(
               "min(CASE WHEN cum >= 0.8 * total THEN i END) * 100",
               "max(n)", 4)} AS pct_users_for_80pct
    FROM ranked
    """,
)
def agg_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 check: how few top spenders cover 80% of revenue —
    the concentration headline (`agg_gini_spend` gives the same story
    as one coefficient; this gives the operational number: how many
    accounts your retention team must keep).

    Descending running sum over the per-user aggregate, then the first
    rank whose cumulative share crosses 80% — a 1-row reduce.  Same
    scale posture as Gini: rank and running sum come from the
    distributed row-number substrate (spend negated for the descending
    order), so nothing is single-partition-sorted at any user count."""
    per_user = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
        .withColumn("neg_cents", -F.col("cents"))
    )
    # pinned for the substrate's two readers, as in agg_gini_spend
    per_user = memo.pin(per_user)
    # n and the grand total come from the substrate's 64-row bucket
    # frame (with_totals) instead of a second events-scan aggregate
    ranked = (
        with_global_row_number(
            per_user,
            ["neg_cents", "user_id"],
            rn_col="i",
            sum_cols=["cents"],
            with_totals=True,
        )
        .withColumnRenamed("cum_cents", "cum")
        .withColumns({"n": F.col("n_total"), "total": F.col("tot_cents")})
    )
    crossing = F.min(F.when(F.col("cum") >= 0.8 * F.col("total"), F.col("i")))
    return ranked.agg(
        crossing.cast("bigint").alias("users_for_80pct"),
        F.max("n").cast("bigint").alias("n_users"),
        round_quotient(crossing * 100, F.max("n"), 4).alias(
            "pct_users_for_80pct"
        ),
    )


@register(
    "agg_weighted_median_price",
    oracle="""
    WITH grid AS (
      SELECT l_extendedprice AS v,
             sum(CAST(round(l_quantity * 100) AS BIGINT)) AS w
      FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
    c AS (
      SELECT v, w,
             sum(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER () AS tw
      FROM grid)
    SELECT round(min(CASE WHEN 2 * cw >= tw THEN v END), 2)
             AS weighted_median_price,
           CAST(count(*) AS BIGINT)          AS n_distinct_prices,
           round(CAST(max(tw) AS DOUBLE) / 100.0, 2) AS total_weight
    FROM c
    """,
)
def agg_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the price at which half the total QUANTITY sits
    on each side — the robust "typical traded price" (an unweighted
    median overweights penny lines; the volume weighting is what
    pricing desks actually quote).  ClickHouse spells it
    ``quantileExactWeighted(0.5)(price, qty)``.

    No single-partition sort at any cardinality: the (price → summed
    weight) grid feeds the distributed two-level prefix sum
    (:func:`with_global_row_number`), and the median is the first grid row
    whose cumulative weight crosses half the total — a 1-row reduce.
    Weights ride the exact integer centi-quantity grid, so the
    crossing compares exact integers."""
    li = table(spark, sf_dir, "lineitem")
    # filter BEFORE the grid: the prefix-sum substrate drops the NULL
    # price key but an unfiltered total kept its weight in tw, skewing
    # the median crossing (round-8 code review; oracle matches)
    grid = (
        li.filter(F.col("l_extendedprice").isNotNull())
        .groupBy(F.col("l_extendedprice").alias("v"))
        .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("w"))
    )
    # the substrate reads the grid twice (bounds + bucketing): pin it
    # once, one lineitem scan instead of two
    grid = memo.pin(grid)
    # total weight from the substrate's 64-row bucket frame
    # (with_totals): drops the separate grid.agg() pass + cross join
    cum = with_global_row_number(
        grid, ["v"], sum_cols=["w"], with_totals=True
    ).withColumn("tw", F.col("tot_w"))
    return cum.agg(
        F.round(
            F.min(F.when(2 * F.col("cum_w") >= F.col("tw"), F.col("v"))), 2
        ).alias("weighted_median_price"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_prices"),
        F.round(F.max("tw").cast("double") / 100.0, 2).alias("total_weight"),
    )


@register(
    "ts_theil_sen_trend",
    oracle="""
    WITH series AS (
      SELECT CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
      FROM series a JOIN series b ON b.x > a.x),
    m AS (SELECT quantile_cont(slope, 0.5) AS slope, count(*) AS n_pairs FROM pairs),
    r AS (
      SELECT quantile_cont(s.y - m.slope * s.x, 0.5) AS intercept
      FROM series s CROSS JOIN m)
    SELECT (SELECT count(*) FROM series) AS n_days,
           (SELECT n_pairs FROM m)       AS n_pairs,
           round((SELECT slope FROM m), 6) + 0.0 AS slope_per_day,
           round((SELECT intercept FROM r), 2) + 0.0 AS intercept
    """,
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily order revenue: the median of all
    pairwise slopes (breakdown point 29% — one bad ingestion day cannot
    bend the line, unlike OLS in `ml_ols_two_features`), intercept =
    median of (y − slope·x).

    Scale shape: the fact table reduces to the CALENDAR-BOUNDED daily
    grid first (exact decimal sums — no float-order jitter), so the
    O(days²) pair self-join is ~3M rows regardless of corpus size —
    constant work at 100 TB.  The exact slope median is RANK SELECTION
    on the distributed row-number substrate (bucket-parallel, no
    single-group percentile buffer — that variant measured 11 s);
    nothing is ever sorted in one partition."""
    series = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
            )
            .cast("bigint")
            .alias("x")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
    )
    # the grid is tiny (calendar-bounded) but sits on top of a full
    # fact scan — materialize it once so the pair join, the residual
    # pass and the count don't each re-scan orders
    series = memo.pin(series)
    # the checkpointed grid is AQE-coalesced to ONE partition, so the
    # O(days²) nested-loop pair expansion would run single-task
    # (measured 3.6 s of the query) — spread the probe side across the
    # executor parallelism first; the build side broadcasts
    a = series.repartition(
        spark.sparkContext.defaultParallelism
    ).alias("a")
    b = series.select(F.col("x").alias("bx"), F.col("y").alias("by")).alias("b")
    pairs = a.join(F.broadcast(b), F.col("bx") > F.col("a.x")).select(
        ((F.col("by") - F.col("a.y")) / (F.col("bx") - F.col("a.x")).cast("double")).alias(
            "slope"
        )
    )
    # Median of ~3M slopes via the distributed rank substrate: a
    # single-group exact `percentile` funnels every slope into ONE
    # aggregation buffer (measured 11 s at sf0.1 — the only serial
    # step in the query); rank-selection keeps the sort
    # bucket-parallel and reads back just the 1-2 middle rows.
    # quantile_cont(0.5) == mean of the lo/hi middle ranks exactly.
    counts = series.agg(F.count(F.lit(1)).alias("n_days")).withColumn(
        "n_pairs", (F.col("n_days") * (F.col("n_days") - 1) / 2).cast("bigint")
    )
    # median_rank_select sorts ONLY the 1-2 buckets holding the middle
    # ranks (~2/64 of the pairs); the full row-number substrate would
    # sort all 3M.
    m = memo.pin(
        median_rank_select(pairs, "slope", counts, "n_pairs").select(
            F.col("median").alias("slope")
        )
    )
    r = (
        series.crossJoin(F.broadcast(m))
        .select((F.col("y") - F.col("slope") * F.col("x")).alias("resid"))
        .agg(F.percentile("resid", F.lit(0.5)).alias("intercept"))
    )
    return (
        counts.crossJoin(m.select("slope"))
        .crossJoin(r)
        .select(
            "n_days",
            "n_pairs",
            F.round("slope", 6).alias("slope_per_day"),
            F.round("intercept", 2).alias("intercept"),
        )
    )


@register(
    "ts_cusum_changepoint",
    oracle="""
    WITH series AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY 1),
    m AS (SELECT avg(y) AS mu, stddev_pop(y) AS sigma, count(*) AS n FROM series),
    c AS (
      SELECT d,
             sum((y - mu) / sigma) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM series CROSS JOIN m),
    top AS (
      SELECT d, s, row_number() OVER (ORDER BY abs(s) DESC, d) AS rn FROM c)
    SELECT (SELECT n FROM m) AS n_days,
           CAST(d AS TIMESTAMP) AS changepoint_day,
           round(abs(s), 4) AS max_abs_cusum,
           abs(s) > 3 * sqrt((SELECT n FROM m)) AS drift_detected
    FROM top WHERE rn = 1
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily order revenue: standardize
    the series, take the running sum of z-scores, and flag the day of
    the maximum |CUSUM| excursion (the classic Page/Pettitt-style
    level-shift locator; |S| > 3·sqrt(n) ≈ drift, not noise).

    Scale shape: one partial-agg pass collapses the fact table to the
    calendar-bounded day grid (exact decimal sums); the running sum and
    the argmax are windows over grid rows only — the unpartitioned
    windows are provably bounded by the calendar, never row-scale (the
    `tests/test_global_window_audit.py` contract)."""
    series = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
    )
    m = series.agg(
        F.avg("y").alias("mu"),
        F.stddev_pop("y").alias("sigma"),
        F.count(F.lit(1)).alias("n"),
    )
    # day-grid running sum: bounded by the calendar, not by row count
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c = (
        series.crossJoin(F.broadcast(m))
        .withColumn(
            "s",
            F.sum(
                F.try_divide(F.col("y") - F.col("mu"), F.col("sigma"))
            ).over(w),
        )
    )
    top = c.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.abs("s").desc(), "d"))
    ).filter(F.col("rn") == 1)
    return top.select(
        F.col("n").alias("n_days"),
        F.col("d").cast("timestamp_ntz").alias("changepoint_day"),
        F.round(F.abs("s"), 4).alias("max_abs_cusum"),
        (F.abs("s") > 3 * F.sqrt(F.col("n").cast("double"))).alias("drift_detected"),
    )


from .sampling import _sql_bucket as _srm_bucket_sql  # noqa: E402


@register(
    "events_ab_srm_check",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT CASE WHEN ({_srm_bucket_sql('user_id')}) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM users),
    counts AS (SELECT arm, count(*) AS n FROM arms GROUP BY arm),
    tot AS (SELECT sum(n) AS total FROM counts)
    SELECT arm, n,
           round(total / 2.0, 1) AS expected,
           round(pow(n - total / 2.0, 2) / (total / 2.0)
                 + pow((total - n) - total / 2.0, 2) / (total / 2.0), 6)
             AS chi_square,
           (pow(n - total / 2.0, 2) / (total / 2.0)
            + pow((total - n) - total / 2.0, 2) / (total / 2.0)) > 3.841
             AS srm_detected
    FROM counts CROSS JOIN tot
    ORDER BY arm
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) check for an A/B assignment: users
    are hashed 50/50 into arms with the portable deterministic mixer
    (the same engine-portable assignment `sample_train_test_split`
    uses), then a 1-df chi-square goodness-of-fit against the expected
    split; stat > 3.841 (α = 0.05) flags a broken randomizer — THE
    standard trustworthiness gate run before reading any experiment
    metric.

    One distinct-users aggregate + a 2-row reduce: the heavy step is
    the same shuffle any per-user metric already pays; everything after
    is constant-size."""
    from .sampling import hash_bucket

    users = table(spark, sf_dir, "events").select("user_id").distinct()
    arms = users.select(
        F.when(hash_bucket(F.col("user_id")) % 2 == 0, "control")
        .otherwise("treatment")
        .alias("arm")
    )
    counts = arms.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    exp = F.col("total") / 2.0
    chi = F.pow(F.col("n") - exp, 2) / exp + F.pow(
        (F.col("total") - F.col("n")) - exp, 2
    ) / exp
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "n",
            F.round(exp, 1).alias("expected"),
            F.round(chi, 6).alias("chi_square"),
            (chi > 3.841).alias("srm_detected"),
        )
        .orderBy("arm")
    )


@register(
    "events_diff_in_diff",
    oracle=f"""
    WITH cells AS (
      SELECT CASE WHEN ({_srm_bucket_sql('user_id')}) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
                  THEN 'pre' ELSE 'post' END AS period,
             value
      FROM events WHERE event_type = 'purchase'),
    m AS (
      SELECT arm, period, count(*) AS n, avg(value) AS mean_value
      FROM cells GROUP BY arm, period)
    SELECT arm, period, n, round(mean_value, 4) AS mean_value,
           round((SELECT (t2.mean_value - t1.mean_value)
                         - (c2.mean_value - c1.mean_value)
                  FROM m t1, m t2, m c1, m c2
                  WHERE t1.arm = 'treatment' AND t1.period = 'pre'
                    AND t2.arm = 'treatment' AND t2.period = 'post'
                    AND c1.arm = 'control'   AND c1.period = 'pre'
                    AND c2.arm = 'control'   AND c2.period = 'post'), 4)
             AS did_estimate
    FROM m ORDER BY arm, period
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator: purchase value change
    (post − pre) in the treatment arm minus the same change in control
    — the workhorse causal estimate when a raw post-period comparison
    would be confounded by a shared trend.  Arms come from the portable
    hash (the `events_ab_srm_check` assignment), the period split from
    a fixed cutover date.

    One pass: a 4-cell (arm × period) aggregate over the fact stream,
    then the 2×2 contrast on the 4-row frame — the estimate costs
    exactly one hash aggregate at any scale."""
    from .sampling import hash_bucket

    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cells = e.select(
        F.when(hash_bucket(F.col("user_id")) % 2 == 0, "control")
        .otherwise("treatment")
        .alias("arm"),
        F.when(F.col("ts").cast("date") < F.lit("2024-01-15").cast("date"), "pre")
        .otherwise("post")
        .alias("period"),
        "value",
    )
    m = cells.groupBy("arm", "period").agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("mv")
    )
    pick = lambda a, p: F.max(  # noqa: E731
        F.when((F.col("arm") == a) & (F.col("period") == p), F.col("mv"))
    )
    did = m.agg(
        (
            (pick("treatment", "post") - pick("treatment", "pre"))
            - (pick("control", "post") - pick("control", "pre"))
        ).alias("did")
    )
    return (
        m.crossJoin(F.broadcast(did))
        .select(
            "arm",
            "period",
            "n",
            F.round("mv", 4).alias("mean_value"),
            F.round("did", 4).alias("did_estimate"),
        )
        .orderBy("arm", "period")
    )


@register(
    "agg_ratio_metric_delta_method",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS x,
             count(*) AS y
      FROM events GROUP BY user_id),
    m AS (
      SELECT count(*) AS n,
             avg(x) AS mx, avg(y) AS my,
             var_samp(x) AS vx, var_samp(y) AS vy,
             covar_samp(x, y) AS cxy
      FROM per_user)
    SELECT n,
           round(mx / my, 6) AS ratio,
           round(sqrt((vx / (mx * mx) + vy / (my * my) - 2 * cxy / (mx * my))
                      / n) * (mx / my), 6) AS se_delta,
           round(mx / my - 1.96 * sqrt((vx / (mx * mx) + vy / (my * my)
                      - 2 * cxy / (mx * my)) / n) * (mx / my), 6) AS ci_lo,
           round(mx / my + 1.96 * sqrt((vx / (mx * mx) + vy / (my * my)
                      - 2 * cxy / (mx * my)) / n) * (mx / my), 6) AS ci_hi
    FROM m
    """,
)
def agg_ratio_metric_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for a RATIO metric — revenue per
    event, computed as sum(x)/sum(y) over users.  Naive per-row
    variance is wrong for ratio metrics (the denominator is random
    too); the delta method propagates var(x), var(y) AND cov(x, y) of
    the per-user totals — the standard correction every experimentation
    platform applies before quoting a CI on revenue-per-session-style
    metrics (complements `sample_poisson_bootstrap_se`, which gets the
    same answer by resampling).

    One per-user aggregate + one 1-row moment reduce — two shuffles
    total, both already paid by any per-user metric."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
    )
    # try_divide throughout: zero/NULL means (degenerate inputs —
    # round-8 edge fuzz) must yield NULL like DuckDB's /0, not crash
    ratio = F.try_divide(F.col("mx"), F.col("my"))
    rel_var = (
        F.try_divide(F.col("vx"), F.col("mx") * F.col("mx"))
        + F.try_divide(F.col("vy"), F.col("my") * F.col("my"))
        - 2 * F.try_divide(F.col("cxy"), F.col("mx") * F.col("my"))
    )
    se = F.sqrt(F.try_divide(rel_var, F.col("n"))) * ratio
    return m.select(
        "n",
        F.round(ratio, 6).alias("ratio"),
        F.round(se, 6).alias("se_delta"),
        F.round(ratio - 1.96 * se, 6).alias("ci_lo"),
        F.round(ratio + 1.96 * se, 6).alias("ci_hi"),
    )
