"""Event-time windowing over the events table, batch-first
(SURVEY.md §2.D M4; streaming mirrors live in
:mod:`clickhouse_migrator_spark.streaming`).

Scale notes: `F.window`/`F.session_window` group by (key, window) —
partial aggregation applies, and the shuffle key includes the window so
hot hours spread across tasks when combined with event_type/user_id.
Session windows shuffle once on user_id then sort within partitions —
the same plan a 100 TB sessionization wants (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import memo
from ..hashsafe import oracle_round_quotient, round_quotient
from ..registry import register
from ..tables import table


@register(
    "events_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket_start, event_type,
           count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "events_sliding_2h_1h",
    oracle="""
    SELECT date_trunc('hour', ts) - k * INTERVAL '1 hour' AS window_start,
           count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) offsets
    GROUP BY 1
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h window, 1h slide — each event lands in 2 windows
    (Spark materializes the window list per row; the oracle replicates
    with an explicit offset cross join)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "events_session_30m",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def events_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap via
    `F.session_window` (native stateful session assignment; the oracle
    is the classic gaps-and-islands SQL).  session_end is max(ts), not
    Spark's window end (which pads the gap)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


@register(
    "events_type_share",
    oracle=f"""
    SELECT event_type, count(*) AS n_events,
           {oracle_round_quotient("count(*)", "sum(count(*)) OVER ()", 6)} AS share
    FROM events GROUP BY event_type
    """,
)
def events_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-total: aggregate then a frame-less window over the tiny
    aggregated result (never over the raw fact table)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return agg.select(
        "event_type",
        "n_events",
        round_quotient(
            F.col("n_events"), F.sum("n_events").over(Window.partitionBy()), 6
        ).alias("share"),
    )


@register(
    "events_funnel_signup_to_purchase",
    oracle="""
    WITH signup AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), conv AS (
      SELECT s.user_id, s.signup_ts, min(e.ts) AS first_purchase_ts
      FROM signup s
      LEFT JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY s.user_id, s.signup_ts
    )
    SELECT user_id, signup_ts, first_purchase_ts,
           (first_purchase_ts IS NOT NULL) AS converted
    FROM conv
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase funnel: first signup per user, earliest
    subsequent purchase, conversion flag.  Scale: both stages shuffle
    on user_id once; the signup side is aggregated (tiny) before the
    join → broadcast."""
    e = table(spark, sf_dir, "events")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    return (
        F.broadcast(signup)
        .join(
            purchases,
            (F.col("user_id") == F.col("p_user")) & (F.col("p_ts") >= F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("first_purchase_ts"))
        .select(
            "user_id",
            "signup_ts",
            "first_purchase_ts",
            F.col("first_purchase_ts").isNotNull().alias("converted"),
        )
    )


@register(
    "events_dedup_first_occurrence",
    oracle="""
    SELECT event_id, user_id, event_type, ts FROM (
      SELECT event_id, user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def events_dedup_first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-style dedup in batch: keep the first occurrence per
    (user, event_type) — `dropDuplicates` made deterministic via
    row_number.  The streaming twin is
    `dropDuplicatesWithinWatermark` (state bounded by the watermark
    horizon instead of unbounded key memory)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


@register(
    "events_user_daily_activity",
    oracle="""
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_types,
           round(max(value), 2) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def events_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # day stays TIMESTAMP (midnight) on both engines: a DATE output
    # collects as datetime.date on Spark but datetime64 on DuckDB —
    # dtype-divergent through the driver's pandas hash (same class as
    # the HUGEINT reds; see tools/schema_sweep.oracle_type_scan).
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


@register(
    "events_gapfill_hourly",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket FROM bounds),
    actual AS (
      SELECT date_trunc('hour', ts) AS bucket, count(*) AS n_events,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
      FROM events GROUP BY 1)
    SELECT g.bucket, coalesce(a.n_events, 0) AS n_events,
           coalesce(a.total_value, 0.0) AS total_value
    FROM grid g LEFT JOIN actual a ON g.bucket = a.bucket
    ORDER BY g.bucket
    """,
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup (the hypertable/time_bucket_gapfill
    shape): a dense hour grid generated with `sequence`+`explode` from
    the observed bounds, left-joined to the actual rollup so silent
    hours appear as explicit zeros.

    Scale: the grid is #hours rows (tiny — 1-row bounds aggregate
    broadcast into the sequence), the rollup is one partial-agg
    shuffle; the rollup (#buckets rows, already reduced) broadcasts
    into the final join — the *preserved* grid side of an outer join
    cannot be the broadcast build side, so the hint goes on the rollup."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    actual = (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("tv"),
        )
    )
    return (
        grid.join(F.broadcast(actual), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("tv", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("bucket")
    )


@register(
    "events_locf_hourly_value",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket,
             {oracle_round_quotient("sum(CAST(value AS DECIMAL(18,2)))", "count(value)", 4)} AS avg_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events),
    grid AS (
      SELECT u.user_id, g.bucket
      FROM (SELECT DISTINCT user_id FROM hourly) u
      CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket
                  FROM bounds) g)
    SELECT grid.user_id, grid.bucket,
           last_value(h.avg_value IGNORE NULLS)
             OVER (PARTITION BY grid.user_id ORDER BY grid.bucket
                   ROWS UNBOUNDED PRECEDING) AS locf_value
    FROM grid LEFT JOIN hourly h
      ON h.user_id = grid.user_id AND h.bucket = grid.bucket
    ORDER BY grid.user_id, grid.bucket
    """,
)
def events_locf_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward interpolation over a dense
    per-user hour grid (the standard sensor/metric densification step):
    missing hours inherit the most recent observed hourly average.

    Plan shape (r9 sf10 probe rewrite): the dense grid is generated
    SPARSELY — each observed row explodes the hour range it covers
    (``[bucket, next_bucket)``, last observation carries to the grid
    end) with its value attached, plus per-user leading-NULL rows from
    the grid start to the first observation.  Equivalent row-for-row to
    the old dense-grid LEFT JOIN + carry-forward window, but with NO
    dense-grid shuffle and NO dense window sort: the ×#hours fan-out
    happens inside ``Generate`` on the (well-partitioned) observed
    rows.  The old shape also hid an AQE trap — coalescePartitions
    sized the distinct-users exchange on its PRE-fan-out bytes (~2 MB)
    and collapsed it to ONE partition, so the whole 108M-row grid was
    generated and windowed in a single task at sf10 (124 s of 188 s,
    single-threaded; an explicit repartition gets collapsed into the
    coalescable ENSURE_REQUIREMENTS exchange and does not help)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            round_quotient(
                F.sum(F.col("value").cast("decimal(18,2)")), F.count("value"), 4
            ).alias("avg_value")
        )
    )
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    w_obs = Window.partitionBy("user_id").orderBy("bucket")
    # r13 (VERDICT r12 next-round #7; guide §2.4): the leading-NULL
    # branch used to re-aggregate `hourly` a second time just to find
    # each user's first observation — that fact is a `lag` on the SAME
    # window pass the segments already run (lag NULL ⇔ first row).
    # One purchase aggregate instead of two; the segment frame is then
    # pinned (aggregate-sized: observed (user, hour) rows) for the two
    # explode branches, which otherwise re-ran the agg+window per branch.
    seg = memo.pin(
        hourly.withColumn("nt", F.lead("bucket").over(w_obs))
        .withColumn("prev_t", F.lag("bucket").over(w_obs))
        .crossJoin(F.broadcast(bounds))
    )
    hour = F.expr("INTERVAL 1 HOUR")
    covered = seg.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("bucket"), F.coalesce(F.col("nt") - hour, F.col("hi")), hour
            )
        ).alias("bucket"),
        F.col("avg_value").alias("locf_value"),
    )
    leading = (
        seg.filter(F.col("prev_t").isNull() & (F.col("bucket") > F.col("lo")))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("lo"), F.col("bucket") - hour, hour)
            ).alias("bucket"),
            F.lit(None).cast("double").alias("locf_value"),
        )
    )
    return covered.unionByName(leading).orderBy("user_id", "bucket")


@register(
    "events_value_histogram",
    oracle="""
    WITH stats AS (
      SELECT min(value) AS vmin, max(value) AS vmax FROM events)
    SELECT least(CAST(floor((value - vmin) / ((vmax - vmin) / 10.0)) AS INT), 9)
             AS bucket,
           count(*) AS n_events,
           round(min(value), 4) AS bucket_min,
           round(max(value), 4) AS bucket_max
    FROM events CROSS JOIN stats
    GROUP BY 1 ORDER BY 1
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 10-bucket histogram of event values: global min/max
    from a 1-row aggregate broadcast into the bucketing expression —
    two scans, one tiny shuffle (10 groups), no driver round-trip."""
    e = table(spark, sf_dir, "events")
    stats = e.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    # try_divide: a constant-valued (or single-row) stream zeroes the
    # bucket width (round-8 edge fuzz)
    bucket = F.least(
        F.floor(
            F.try_divide(
                F.col("value") - F.col("vmin"),
                (F.col("vmax") - F.col("vmin")) / 10.0,
            )
        ).cast("int"),
        F.lit(9),
    )
    return (
        e.crossJoin(F.broadcast(stats))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 4).alias("bucket_min"),
            F.round(F.max("value"), 4).alias("bucket_max"),
        )
        .orderBy("bucket")
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id),
    acts AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events)
    SELECT CAST(cohort AS TIMESTAMP) AS cohort,
           count(DISTINCT CASE WHEN day = cohort     THEN a.user_id END) AS d0,
           count(DISTINCT CASE WHEN day = cohort + 1 THEN a.user_id END) AS d1,
           count(DISTINCT CASE WHEN day = cohort + 7 THEN a.user_id END) AS d7
    FROM firsts f JOIN acts a ON f.user_id = a.user_id
    GROUP BY cohort ORDER BY cohort
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (ClickHouse `retention()` shape): users grouped
    by first-seen day, counted again on day+1 / day+7.

    Scale: two aggregations of events (first-seen, distinct activity)
    shuffled on user_id co-partition for the join; the conditional
    count-distincts run in one pass over the joined rows."""
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("cohort")
    )
    acts = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    j = firsts.join(acts, "user_id")
    return (
        j.groupBy("cohort")
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("cohort"), F.col("user_id"))
            ).alias("d0"),
            F.countDistinct(
                F.when(F.col("day") == F.date_add("cohort", 1), F.col("user_id"))
            ).alias("d1"),
            F.countDistinct(
                F.when(F.col("day") == F.date_add("cohort", 7), F.col("user_id"))
            ).alias("d7"),
        )
        .withColumn("cohort", F.col("cohort").cast("timestamp_ntz"))
        .orderBy("cohort")
    )


@register(
    "events_retention_steps",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)   AS s,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)     AS v,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      FROM events GROUP BY user_id
    )
    SELECT CAST(sum(s) AS BIGINT)                       AS signed_up,
           CAST(sum(CASE WHEN s = 1 AND v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained_view,
           CAST(sum(CASE WHEN s = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained_purchase
    FROM per_user
    """,
)
def events_retention_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``retention(cond1, ..., condN)`` re-expressed natively:
    element 1 = cond1 ever held for the user; element i = cond1 AND
    condi (ClickHouse docs semantics).  Two-level aggregate — per-user
    flags are map-side-combined bits on the user_id shuffle, the final
    rollup is a partial-agg of three ints, so the plan carries one
    narrow shuffle regardless of event volume."""
    e = table(spark, sf_dir, "events")
    # when/otherwise, not bool-cast: a NULL event_type must count 0
    # like the oracle's CASE ... ELSE 0 (a bare comparison yields NULL
    # → max/sum NULL on an all-null column; round-8 edge fuzz)
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("s"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
    )
    return per_user.agg(
        F.sum("s").alias("signed_up"),
        F.sum(((F.col("s") == 1) & (F.col("v") == 1)).cast("int")).alias(
            "retained_view"
        ),
        F.sum(((F.col("s") == 1) & (F.col("p") == 1)).cast("int")).alias(
            "retained_purchase"
        ),
    )


FUNNEL_WINDOW_DAYS = 7


@register(
    "events_window_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts >= s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
      GROUP BY e.user_id
    ), lv AS (
      SELECT s1.user_id,
             CASE
               WHEN t3 IS NOT NULL AND t3 <= t1 + INTERVAL 7 DAY THEN 3
               WHEN t2 IS NOT NULL AND t2 <= t1 + INTERVAL 7 DAY THEN 2
               ELSE 1
             END AS level
      FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
              LEFT JOIN s3 ON s1.user_id = s3.user_id
    )
    SELECT level, count(*) AS users FROM lv GROUP BY level ORDER BY level
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(window)(ts, cond1, cond2, cond3)``:
    deepest signup→view→purchase chain per user whose steps advance in
    time, scored against a 7-day window from the first step.  Semantics
    pinned here (and mirrored by the oracle): the chain is *greedy
    earliest* — step i+1 is the first matching event at-or-after step
    i's time.

    Scale: one shuffle on user_id, then the whole chain is computed
    inside `collect_list` + array expressions (JVM higher-order
    functions) — per-user event counts are bounded, and there is no
    join, no second shuffle, no Python."""
    e = table(spark, sf_dir, "events")
    evs = (
        e.filter(F.col("event_type").isin("signup", "view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col("event_type")))
            ).alias("evs")
        )
    )
    t1 = F.array_min(
        F.transform(
            F.filter(F.col("evs"), lambda x: x.event_type == F.lit("signup")),
            lambda x: x.ts,
        )
    )
    t2 = F.array_min(
        F.transform(
            F.filter(
                F.col("evs"),
                lambda x: (x.event_type == F.lit("view")) & (x.ts >= F.col("t1")),
            ),
            lambda x: x.ts,
        )
    )
    t3 = F.array_min(
        F.transform(
            F.filter(
                F.col("evs"),
                lambda x: (x.event_type == F.lit("purchase")) & (x.ts >= F.col("t2")),
            ),
            lambda x: x.ts,
        )
    )
    horizon = F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAY")
    return (
        evs.withColumn("t1", t1)
        .filter(F.col("t1").isNotNull())
        .withColumn("t2", t2)
        .withColumn("t3", t3)
        .select(
            "user_id",
            F.when(
                F.col("t3").isNotNull() & (F.col("t3") <= F.col("t1") + horizon),
                F.lit(3),
            )
            .when(
                F.col("t2").isNotNull() & (F.col("t2") <= F.col("t1") + horizon),
                F.lit(2),
            )
            .otherwise(F.lit(1))
            .alias("level"),
        )
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("users"))
        .orderBy("level")
    )


@register(
    "events_time_buckets",
    oracle="""
    SELECT event_id,
           time_bucket(INTERVAL '5 minutes', ts)  AS bucket_5m,
           time_bucket(INTERVAL '15 minutes', ts) AS bucket_15m,
           CAST(date_trunc('quarter', ts) AS TIMESTAMP) AS quarter_start,
           CAST(date_trunc('week', ts) AS TIMESTAMP)    AS week_start,
           dayofyear(ts)                          AS doy
    FROM events
    """,
)
def events_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``toStartOfFiveMinutes`` / ``toStartOfFifteenMinutes``
    / ``toStartOfQuarter`` / ``toStartOfWeek`` / ``toDayOfYear`` —
    the time-bucketing vocabulary every rollup query leans on, as pure
    epoch arithmetic + date_trunc (codegen'd, no UDF)."""
    from ..functions.clickhouse import to_start_of_interval

    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        to_start_of_interval("ts", 5).alias("bucket_5m"),
        to_start_of_interval("ts", 15).alias("bucket_15m"),
        F.date_trunc("quarter", "ts").cast("timestamp_ntz").alias("quarter_start"),
        F.date_trunc("week", "ts").cast("timestamp_ntz").alias("week_start"),
        F.dayofyear("ts").alias("doy"),
    )


@register(
    "agg_summap_user_values",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type,
             CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) / 100.0
                  AS DECIMAL(18,2)) AS VARCHAR) AS v
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           coalesce(array_to_string(list(event_type ORDER BY event_type NULLS FIRST), ','), '') AS map_keys,
           coalesce(array_to_string(list(v ORDER BY event_type NULLS FIRST), ','), '')          AS map_values
    FROM per GROUP BY user_id
    """,
)
def agg_summap_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sumMap`` — merge per-key sums into one map per
    group.  Two-level aggregate: the inner (user, type) sum is
    map-side-combined, the outer map assembly touches only #types rows
    per user.  The map is built natively (`map_from_entries`); the
    comparable projection is its key-sorted entries as parallel arrays
    (DuckDB's MAP renders structurally differently in Python, so raw
    maps can't hash-compare)."""
    e = table(spark, sf_dir, "events")
    # exact cents grid — a float sum's partial-agg order can flip the
    # rounded output between runs; integer sums cannot
    per = e.groupBy("user_id", "event_type").agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0))
        .cast("decimal(18,2)")
        .cast("string")
        .alias("v")
    )
    # project the key-sorted entries array directly rather than through
    # map_from_entries: a NULL key (degenerate data) crashes Spark's
    # map construction with NULL_MAP_KEY while the DuckDB oracle's
    # list() carries it (round-8 edge fuzz catch); the rendered
    # parallel arrays are identical for valid keys
    entries = F.array_sort(F.collect_list(F.struct("event_type", "v")))
    return per.groupBy("user_id").agg(
        F.concat_ws(
            ",", F.transform(entries, lambda s: s["event_type"])
        ).alias("map_keys"),
        F.concat_ws(",", F.transform(entries, lambda s: s["v"])).alias(
            "map_values"
        ),
    )


@register(
    "events_sequence_match",
    oracle="""
    SELECT user_id,
           CASE WHEN min(CASE WHEN event_type = 'signup' THEN ts END)
                     < max(CASE WHEN event_type = 'purchase' THEN ts END)
                THEN 1 ELSE 0 END AS matched
    FROM events
    WHERE event_type IN ('signup', 'purchase')
    GROUP BY user_id
    """,
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceMatch('(?1).*(?2)')(ts, signup, purchase)``
    per user: does any signup strictly precede any purchase?  The
    existential pattern collapses to two conditional extremes
    (min signup ts < max purchase ts) — one partial-agg'd shuffle on
    user_id, constant state per user, no event-list materialization.
    That reduction is exactly why this pattern stays cheap at 100 TB
    while general regex-over-events does not."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    return e.groupBy("user_id").agg(
        F.when(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
            < F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("matched")
    )


@register(
    "events_sequence_count",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cum_b,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cum_a
      FROM events WHERE event_type IN ('signup', 'purchase')
    )
    SELECT user_id,
           CAST(max(cum_b) - greatest(max(cum_b - cum_a), 0) AS BIGINT) AS chains
    FROM seq GROUP BY user_id
    """,
)
def events_sequence_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceCount('(?1)(?2)')`` — the number of
    NON-OVERLAPPING signup→purchase chains per user, where each
    purchase greedily consumes the earliest unmatched signup.  This is
    bracket matching: with signup='(' and purchase=')', matched pairs =
    total ')' − unmatched ')' and unmatched ')' = max over prefixes of
    (cum ')' − cum '('), floored at 0.  One window cumsum + one
    aggregate on the same user_id shuffle — no iteration, no state
    machine, no Python; the (ts, event_id) tie-break pins equal-time
    order across engines."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = e.select(
        "user_id",
        F.sum((F.col("event_type") == "purchase").cast("long")).over(w).alias("cum_b"),
        F.sum((F.col("event_type") == "signup").cast("long")).over(w).alias("cum_a"),
    )
    return seq.groupBy("user_id").agg(
        (
            F.max("cum_b")
            - F.greatest(F.max(F.col("cum_b") - F.col("cum_a")), F.lit(0))
        ).alias("chains")
    )


@register(
    "events_delta_sum",
    oracle="""
    WITH d AS (
      SELECT user_id,
             value - lag(value) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      FROM events
    )
    SELECT user_id,
           round(CAST(sum(CASE WHEN delta > 0
                               THEN CAST(delta AS DECIMAL(18,2)) END)
                      AS DOUBLE), 6) AS delta_sum
    FROM d GROUP BY user_id
    """,
)
def events_delta_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``deltaSum(value)`` — the sum of positive deltas
    between consecutive values, per user in (ts, event_id) order (the
    counter-reset-tolerant rate primitive for monotonic gauges).  One
    lag window + one aggregate on the same user_id shuffle key, so the
    exchange is reused — a single shuffle end to end."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        "user_id", (F.col("value") - F.lag("value").over(w)).alias("delta")
    )
    return d.groupBy("user_id").agg(
        F.round(
            F.sum(
                F.when(F.col("delta") > 0, F.col("delta").cast("decimal(18,2)"))
            ).cast("double"),
            6,
        ).alias("delta_sum")
    )


INTERVAL_LEN_US = 30 * 60 * 1_000_000  # each event opens a 30-minute interval


@register(
    "events_interval_length_sum",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + {INTERVAL_LEN_US} AS e,
             event_id
      FROM events
    ), isl AS (
      SELECT user_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER
               (PARTITION BY user_id ORDER BY s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS new_island,
             event_id
      FROM iv
    ), tagged AS (
      SELECT user_id, s, e,
             sum(new_island) OVER
               (PARTITION BY user_id ORDER BY s, event_id) AS island
      FROM isl
    ), spans AS (
      SELECT user_id, island, max(e) - min(s) AS span_us
      FROM tagged GROUP BY user_id, island
    )
    SELECT user_id, CAST(sum(span_us) AS BIGINT) AS covered_us FROM spans GROUP BY user_id
    """,
)
def events_interval_length_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``intervalLengthSum`` — total length of the UNION of
    per-user intervals (each event opens a 30-minute window; overlaps
    counted once).  Classic islands algorithm, fully windowed: a
    running max of interval ends marks island starts, a running sum
    numbers the islands, then span = max(end) − min(start) per island.
    Everything partitions on user_id — the window pair and both
    aggregations reuse ONE shuffle; time is integer microseconds
    (`unix_micros`/`epoch_us`) so the arithmetic is exact in both
    engines."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ (parquet-nanos normalization); unix_micros
    # needs TIMESTAMP.  The tz offset the cast introduces is constant,
    # and islands/spans are shift-invariant, so it cancels exactly.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = e.select(
        "user_id",
        "event_id",
        us.alias("s"),
        (us + F.lit(INTERVAL_LEN_US)).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = iv.withColumn(
        "new_island",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    tagged = isl.withColumn("island", F.sum("new_island").over(w_run))
    spans = tagged.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("span_us")
    )
    return spans.groupBy("user_id").agg(F.sum("span_us").alias("covered_us"))


@register(
    "events_zscore_outliers",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, value,
             avg(value) OVER w        AS mu,
             stddev_pop(value) OVER w AS sd
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           round((value - mu) / sd, 4) + 0.0 AS z,
           CASE WHEN abs((value - mu) / sd) > 2 THEN 1 ELSE 0 END AS is_outlier
    FROM s WHERE sd > 0
    """,
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score outlier flagging (the data-cleaning
    primitive for metric streams and training-data filtering): each
    value scored against the mean/stddev of its user's previous 10
    events — the frame excludes the current row, so the score is a
    genuine out-of-sample residual.  One user_id shuffle; window state
    is the 10-row frame's running moments, constant per row."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    s = e.select(
        "event_id",
        "user_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_pop("value").over(w).alias("sd"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return s.filter(F.col("sd") > 0).select(
        "event_id",
        "user_id",
        F.round(z, 4).alias("z"),
        F.when(F.abs(z) > 2, F.lit(1)).otherwise(F.lit(0)).alias("is_outlier"),
    )


@register(
    "events_max_intersections",
    oracle="""
    WITH pts AS (
      SELECT event_type, ts AS p, 1 AS d FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL 30 MINUTE AS p, -1 AS d FROM events
    ), run AS (
      SELECT event_type,
             sum(d) OVER (PARTITION BY event_type ORDER BY p, d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS concurrent
      FROM pts
    )
    SELECT event_type, CAST(max(concurrent) AS BIGINT) AS max_concurrent
    FROM run GROUP BY event_type
    """,
)
def events_max_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``maxIntersections(start, end)`` — the peak number of
    simultaneously-open intervals (here: each event held open for 30
    minutes), per event_type.  Sweep-line as a dataflow: every interval
    becomes a +1 point at its start and a -1 at its end (half-open, so
    an end that coincides with a start is processed first via the
    ``d`` tie-break), a running prefix sum over the time-ordered points
    gives instantaneous concurrency, and its max is the answer.  One
    shuffle on event_type; window state is a single counter.  Ties
    among identical (p, d) rows are order-insensitive — equal deltas
    commute through the prefix sum — so the result is deterministic."""
    from pyspark.sql import Window

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
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("event_type", F.sum("d").over(w).alias("concurrent"))
    return run.groupBy("event_type").agg(
        F.max("concurrent").alias("max_concurrent")
    )


@register(
    "agg_minmaxavg_map_user",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type,
             round(min(value), 4) AS lo,
             round(max(value), 4) AS hi,
             -- exact integer half-up rounding: cents-sum -> 1e-4 units
             ((200 * sum(CAST(round(value * 100) AS BIGINT)) + count(*))
              // (2 * count(*))) / 10000.0 AS mean
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           -- coalesce: all-NULL renderings match Spark concat_ws ''
           coalesce(array_to_string(list(event_type ORDER BY event_type NULLS FIRST), ','), '') AS map_keys,
           coalesce(array_to_string(list(CAST(CAST(lo AS DECIMAL(18,4)) AS VARCHAR)
                                ORDER BY event_type NULLS FIRST), ','), '')  AS min_values,
           coalesce(array_to_string(list(CAST(CAST(hi AS DECIMAL(18,4)) AS VARCHAR)
                                ORDER BY event_type NULLS FIRST), ','), '')  AS max_values,
           coalesce(array_to_string(list(CAST(CAST(mean AS DECIMAL(18,4)) AS VARCHAR)
                                ORDER BY event_type NULLS FIRST), ','), '')  AS avg_values
    FROM per GROUP BY user_id
    """,
)
def agg_minmaxavg_map_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``minMap``/``maxMap``/``avgMap`` — per-key extremes
    and means merged into one map per group (companion to
    ``agg_summap_user_values``).  Same two-level shape: the inner
    (user, type) aggregate is map-side combined, the outer map
    assembly touches #types rows per user; emitted as key-sorted
    parallel arrays because raw DuckDB MAPs don't hash-compare."""
    e = table(spark, sf_dir, "events")
    # mean via exact integer arithmetic: engines' round() disagree when
    # sum/count lands exactly on a .00005 boundary, so do the half-up
    # rounding in integer space (cents-sum → 1e-4 units → /1e4)
    num = F.lit(200) * F.sum(
        F.round(F.col("value") * 100).cast("long")
    ) + F.count(F.lit(1))
    per = e.groupBy("user_id", "event_type").agg(
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
        (
            F.floor(num / (F.lit(2) * F.count(F.lit(1)))) / F.lit(10000.0)
        ).alias("mean"),
    )
    entries = F.array_sort(
        F.collect_list(F.struct("event_type", "lo", "hi", "mean"))
    )

    def _dec4(c):
        return c.cast("decimal(18,4)").cast("string")

    return per.groupBy("user_id").agg(
        F.concat_ws(",", F.transform(entries, lambda s: s.event_type)).alias(
            "map_keys"
        ),
        F.concat_ws(",", F.transform(entries, lambda s: _dec4(s.lo))).alias(
            "min_values"
        ),
        F.concat_ws(",", F.transform(entries, lambda s: _dec4(s.hi))).alias(
            "max_values"
        ),
        F.concat_ws(",", F.transform(entries, lambda s: _dec4(s.mean))).alias(
            "avg_values"
        ),
    )


@register(
    "events_linear_interp_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket,
             {oracle_round_quotient("sum(CAST(value AS DECIMAL(18,2)))", "count(value)", 4)} AS avg_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events),
    grid AS (
      SELECT u.user_id, g.bucket
      FROM (SELECT DISTINCT user_id FROM hourly) u
      CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour'))
                    AS bucket FROM bounds) g),
    j AS (
      SELECT grid.user_id, grid.bucket, h.avg_value,
             last_value(h.avg_value IGNORE NULLS)
               OVER (PARTITION BY grid.user_id ORDER BY grid.bucket
                     ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN h.avg_value IS NOT NULL
                             THEN grid.bucket END IGNORE NULLS)
               OVER (PARTITION BY grid.user_id ORDER BY grid.bucket
                     ROWS UNBOUNDED PRECEDING) AS pt,
             first_value(h.avg_value IGNORE NULLS)
               OVER (PARTITION BY grid.user_id ORDER BY grid.bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN h.avg_value IS NOT NULL
                              THEN grid.bucket END IGNORE NULLS)
               OVER (PARTITION BY grid.user_id ORDER BY grid.bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM grid LEFT JOIN hourly h
        ON h.user_id = grid.user_id AND h.bucket = grid.bucket)
    SELECT user_id, bucket,
           CASE
             WHEN avg_value IS NOT NULL THEN avg_value
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               ((2 * (CAST(round(pv * 10000) AS BIGINT)
                        * (date_diff('hour', pt, nt)
                           - date_diff('hour', pt, bucket))
                      + CAST(round(nv * 10000) AS BIGINT)
                        * date_diff('hour', pt, bucket))
                 + date_diff('hour', pt, nt))
                // (2 * date_diff('hour', pt, nt))) / 10000.0
           END AS interp_value
    FROM j
    """,
)
def events_linear_interp_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a dense per-user hour grid — the
    companion to ``events_locf_hourly_value`` (LOCF holds flat; this
    draws the line between the neighboring observations, the standard
    sensor/metric resampling step).  Observed hours keep their value;
    interior gaps get ``pv + (nv-pv)·k/n``; hours before the first /
    after the last observation stay NULL.

    The interpolated value is computed with exact integer half-up
    rounding in 1e-4 units (the bracketing values are 4-decimal
    rationals and k/n is a small exact ratio, so engine round()
    boundary behavior never enters; values are non-negative).

    Plan shape (r9 sf10 probe rewrite, with ``events_locf_hourly_value``):
    the dense grid is generated SPARSELY from the observed rows — one
    ``lead`` window over the 2M observed rows, then each observation
    explodes the segment it brackets (``[pt, nt)``; bucket==pt keeps
    the observed value, interior buckets interpolate), plus per-user
    trailing and leading NULL segments.  No dense-grid shuffle, no
    dense window sort, and no AQE pre-fan-out-coalesce trap (the old
    dense shape ran the whole users×hours grid in ONE task at sf10
    because the distinct-users exchange looked tiny before the
    fan-out)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            round_quotient(
                F.sum(F.col("value").cast("decimal(18,2)")), F.count("value"), 4
            ).alias("avg_value")
        )
    )
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    w_obs = Window.partitionBy("user_id").orderBy("bucket")
    hour = F.expr("INTERVAL 1 HOUR")
    # r13 (VERDICT r12 next-round #7; guide §2.4): `prev_t` (a lag on
    # the same window pass) marks each user's first observation, so the
    # leading-NULL branch no longer re-aggregates `hourly`; the segment
    # frame is pinned (aggregate-sized) for its THREE explode branches,
    # which otherwise re-ran the purchase aggregate + window per branch.
    base = memo.pin(
        hourly.select(
            "user_id",
            F.col("bucket").alias("pt"),
            "avg_value",
            F.lead("avg_value").over(w_obs).alias("nv"),
            F.lead("bucket").over(w_obs).alias("nt"),
            F.lag("bucket").over(w_obs).alias("prev_t"),
        ).crossJoin(F.broadcast(bounds))
    )
    k = F.expr("timestampdiff(HOUR, pt, bucket)").cast("long")
    n = F.expr("timestampdiff(HOUR, pt, nt)").cast("long")
    p = F.round(F.col("avg_value") * 10000).cast("long")
    q = F.round(F.col("nv") * 10000).cast("long")
    interp_e4 = F.floor(
        (F.lit(2) * (p * (n - k) + q * k) + n) / (F.lit(2) * n)
    )
    # bracketed segment [pt, nt): bucket==pt is the observation itself,
    # interior buckets draw the line; a last observation (nt NULL)
    # contributes only itself here — its tail is the NULL segment below
    interior = base.select(
        "user_id",
        "pt",
        "avg_value",
        "nv",
        "nt",
        F.explode(
            F.sequence(F.col("pt"), F.coalesce(F.col("nt") - hour, F.col("pt")), hour)
        ).alias("bucket"),
    ).select(
        "user_id",
        "bucket",
        F.when(F.col("bucket") == F.col("pt"), F.col("avg_value"))
        .otherwise(interp_e4 / F.lit(10000.0))
        .alias("interp_value"),
    )
    trailing = (
        base.filter(F.col("nt").isNull() & (F.col("pt") < F.col("hi")))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("pt") + hour, F.col("hi"), hour)).alias(
                "bucket"
            ),
            F.lit(None).cast("double").alias("interp_value"),
        )
    )
    leading = (
        base.filter(F.col("prev_t").isNull() & (F.col("pt") > F.col("lo")))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("lo"), F.col("pt") - hour, hour)
            ).alias("bucket"),
            F.lit(None).cast("double").alias("interp_value"),
        )
    )
    return interior.unionByName(trailing).unionByName(leading)


@register(
    "events_sequence_next_node",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS s_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), n AS (
      SELECT e.user_id, e.event_type,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS rn
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.s_ts
    )
    SELECT s.user_id, n.event_type AS next_event
    FROM s LEFT JOIN (SELECT user_id, event_type FROM n WHERE rn = 1) n
      USING (user_id)
    """,
)
def events_sequence_next_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceNextNode('forward', 'head')(ts, event_type,
    event_type = 'signup')`` — for every user, WHICH event immediately
    follows their first signup (NULL if the signup is their last
    event).  The "what happens next" exploration primitive behind
    next-action funnels.

    Two aggregates on the same user_id key (first-signup, then
    min-struct over later events) — the struct-min trick picks the
    earliest (ts, event_id, type) row in ONE partial-agg'd pass, no
    row_number sort of the full event stream; both aggregations and
    the join ride a single user_id shuffle."""
    e = table(spark, sf_dir, "events")
    # s feeds the later-events probe AND the final left join; it is
    # one row per signed-up user, so pinning it saves a duplicate fact
    # scan + first-signup aggregate.
    s = memo.pin(
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    nxt = (
        e.join(s, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(
            F.min(F.struct("ts", "event_id", "event_type"))
            .getField("event_type")
            .alias("next_event")
        )
    )
    return s.select("user_id").join(nxt, "user_id", "left")


@register(
    "events_window_funnel_strict_order",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type AS t,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS n1,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS n2
      FROM events
    )
    SELECT user_id,
           max(CASE WHEN t = 'view' AND n1 = 'signup' AND n2 = 'purchase'
                    THEN 3
                    WHEN t = 'view' AND n1 = 'signup' THEN 2
                    WHEN t = 'view' THEN 1
                    ELSE 0 END) AS level
    FROM r GROUP BY user_id
    """,
)
def events_window_funnel_strict_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(..., 'strict_order')`` — the funnel
    variant where the chain BREAKS if any other event intervenes:
    view→signup→purchase counts only when the three are consecutive
    events of the user (contrast ``events_window_funnel``, whose greedy
    chain skips over unrelated events).  Strict adjacency reduces to
    two ``lead`` probes on the per-user ordered stream + a max — one
    user_id shuffle, constant window state, no event-list
    materialization; the time-bound variant adds a ts-delta guard on
    the same leads."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("t"),
        F.lead("event_type", 1).over(w).alias("n1"),
        F.lead("event_type", 2).over(w).alias("n2"),
    )
    level = (
        F.when(
            (F.col("t") == "view")
            & (F.col("n1") == "signup")
            & (F.col("n2") == "purchase"),
            3,
        )
        .when((F.col("t") == "view") & (F.col("n1") == "signup"), 2)
        .when(F.col("t") == "view", 1)
        .otherwise(0)
    )
    return e.groupBy("user_id").agg(F.max(level).alias("level"))


@register(
    "events_sliding_distinct_users",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL '6 hours', ts) - k * INTERVAL '6 hours'
               AS window_start,
             user_id
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) offsets
    )
    SELECT window_start,
           count(DISTINCT user_id) AS active_users
    FROM w GROUP BY window_start
    """,
)
def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding DISTINCT count — 24 h active-user windows sliding every
    6 h (the DAU-style rolling-uniques metric).  Distinct-over-window
    is the expensive variant of the sliding aggregate: Spark expands
    each event into its 4 windows, then runs the standard two-phase
    distinct (partial dedupe per (window, user), final count).  At
    100 TB swap the exact count for `approx_count_distinct` — HLL
    sketches are mergeable across partials, so the plan shape is
    identical with constant-memory state."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "24 hours", "6 hours").alias("w"))
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "active_users",
        )
    )


@register(
    "join_interval_overlap_bucketed",
    oracle="""
    SELECT a.event_id AS error_id, b.event_id AS purchase_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'error' AND b.event_type = 'purchase'
     AND a.ts < b.ts + INTERVAL 30 MINUTE
     AND b.ts < a.ts + INTERVAL 30 MINUTE
    """,
)
def join_interval_overlap_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (each event held open 30 minutes; pairs of
    overlapping error/purchase intervals per user), computed the way it
    survives 100 TB: each interval is exploded to the hour buckets it
    spans, the join runs as an EQUI-join on (user, bucket) with the
    overlap predicate as a cheap residual filter, and duplicate pairs
    (intervals sharing several buckets) are deduped after.  The naive
    theta-join (the oracle's spelling) degenerates to a per-user cross
    product; bucketing bounds each join group to co-resident intervals
    — the standard trick when an as-of/range join isn't enough."""
    e = table(spark, sf_dir, "events")

    def side(tp: str, eid: str, ts: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == tp)
            .select(
                F.col("event_id").alias(eid),
                F.col("user_id").alias(f"{eid}_user"),
                F.col("ts").alias(ts),
                F.explode(
                    F.sequence(
                        F.date_trunc("hour", F.col("ts")),
                        F.date_trunc(
                            "hour", F.col("ts") + F.expr("INTERVAL 30 MINUTES")
                        ),
                        F.expr("INTERVAL 1 HOUR"),
                    )
                ).alias("bucket"),
            )
        )

    a = side("error", "error_id", "a_ts")
    b = side("purchase", "purchase_id", "b_ts")
    half = F.expr("INTERVAL 30 MINUTES")
    return (
        a.join(
            b,
            (F.col("error_id_user") == F.col("purchase_id_user"))
            & (a.bucket == b.bucket)
            & (F.col("a_ts") < F.col("b_ts") + half)
            & (F.col("b_ts") < F.col("a_ts") + half),
        )
        .select("error_id", "purchase_id")
        .dropDuplicates()
    )


@register(
    "events_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           round(max(d.med), 4) AS median_value,
           round(max(m.mad), 4) AS mad,
           count(*) FILTER (d.adev > 3 * 1.4826 * m.mad) AS n_outliers,
           count(*) AS n_events
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    heavy-tail-safe complement to ``events_zscore_outliers`` (a single
    extreme value shifts a mean/stddev gate but not a median/MAD one);
    1.4826·MAD rescales to σ-equivalents, flagging |v−med| > 3σ_robust.

    Plan: two percentile passes over the same event_type key (median,
    then MAD of deviations), each one partial shuffle; the per-type
    medians are tiny and broadcast back onto the scan both times.  At
    100 TB swap `percentile` for `approx_percentile` — same two-pass
    shape, t-digest state."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 4).alias("median_value"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.count(
                F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "events_retention_matrix_weekly",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id
    ), sizes AS (
      SELECT cohort, count(*) AS cohort_size FROM firsts GROUP BY cohort
    ), acts AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    )
    SELECT CAST(f.cohort AS TIMESTAMP) AS cohort,
           CAST(date_diff('day', f.cohort, a.week) / 7 AS BIGINT)
             AS week_offset,
           count(DISTINCT a.user_id) AS n_active,
           {oracle_round_quotient("count(DISTINCT a.user_id)",
               "max(s.cohort_size)", 6)} AS retention
    FROM firsts f
    JOIN acts a ON f.user_id = a.user_id
    JOIN sizes s ON f.cohort = s.cohort
    GROUP BY f.cohort, week_offset
    """,
)
def events_retention_matrix_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cohort-retention MATRIX in long form — every
    (signup-week, week-offset) cell with active count and retention
    rate (the generalization of ``events_cohort_retention``'s fixed
    d0/d1/d7 columns; what a retention heatmap reads).

    Plan: first-seen and distinct-activity aggregates co-partition on
    user_id for the join; cohort sizes are a tiny second-level
    aggregate broadcast into the final (cohort, offset) rollup.  Every
    stage is partial-agg'd; nothing global."""
    e = table(spark, sf_dir, "events")
    # pinning firsts (it feeds the cohort-size rollup AND the activity
    # join) measured consistently slower at fixture scale (+0.3 s
    # paired minima, r13): the duplicate first-seen passes overlap
    # inside one job, while the checkpoint serializes them — same
    # verdict as events_dau_wau_mau.
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
    )
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    acts = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    j = (
        firsts.join(acts, "user_id")
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            (F.datediff(F.col("week"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
            "cohort_size",
        )
    )
    return (
        j.groupBy("cohort", "week_offset")
        .agg(
            F.countDistinct("user_id").alias("n_active"),
            round_quotient(
                F.countDistinct("user_id"), F.max("cohort_size"), 6
            ).alias("retention"),
        )
        .withColumn("cohort", F.col("cohort").cast("timestamp_ntz"))
    )


@register(
    "events_window_funnel_strict_increase",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    ), lv AS (
      SELECT s1.user_id,
             CASE
               WHEN t3 IS NOT NULL AND t3 <= t1 + INTERVAL 7 DAY THEN 3
               WHEN t2 IS NOT NULL AND t2 <= t1 + INTERVAL 7 DAY THEN 2
               ELSE 1
             END AS level
      FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
              LEFT JOIN s3 ON s1.user_id = s3.user_id
    )
    SELECT level, count(*) AS users FROM lv GROUP BY level ORDER BY level
    """,
)
def events_window_funnel_strict_increase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ClickHouse ``windowFunnel(7d, 'strict_increase')`` — the greedy
    funnel of ``events_window_funnel`` but each step must be STRICTLY
    later than the previous one (simultaneous events cannot satisfy
    two consecutive steps).  Same single-shuffle collect_list + array-
    expression shape; only the comparison operator differs."""
    e = table(spark, sf_dir, "events")
    evs = (
        e.filter(F.col("event_type").isin("signup", "view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col("event_type")))
            ).alias("evs")
        )
    )
    t1 = F.array_min(
        F.transform(
            F.filter(F.col("evs"), lambda x: x.event_type == F.lit("signup")),
            lambda x: x.ts,
        )
    )
    t2 = F.array_min(
        F.transform(
            F.filter(
                F.col("evs"),
                lambda x: (x.event_type == F.lit("view")) & (x.ts > F.col("t1")),
            ),
            lambda x: x.ts,
        )
    )
    t3 = F.array_min(
        F.transform(
            F.filter(
                F.col("evs"),
                lambda x: (x.event_type == F.lit("purchase")) & (x.ts > F.col("t2")),
            ),
            lambda x: x.ts,
        )
    )
    horizon = F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAY")
    return (
        evs.withColumn("t1", t1)
        .filter(F.col("t1").isNotNull())
        .withColumn("t2", t2)
        .withColumn("t3", t3)
        .select(
            "user_id",
            F.when(
                F.col("t3").isNotNull() & (F.col("t3") <= F.col("t1") + horizon),
                F.lit(3),
            )
            .when(
                F.col("t2").isNotNull() & (F.col("t2") <= F.col("t1") + horizon),
                F.lit(2),
            )
            .otherwise(F.lit(1))
            .alias("level"),
        )
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("users"))
        .orderBy("level")
    )


@register(
    "events_histogram_equidepth",
    oracle=f"""
    WITH q AS (
      SELECT quantile_cont(value,
               [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bounds
      FROM events WHERE event_type = 'purchase'
    ), b AS (
      SELECT CAST(len(list_filter(q.bounds, x -> e.value > x)) AS BIGINT)
               AS bucket,
             e.value AS v
      FROM events e, q WHERE e.event_type = 'purchase'
    )
    SELECT bucket,
           count(*)                          AS n_rows,
           round(min(v), 6)                  AS lo,
           round(max(v), 6)                  AS hi,
           {oracle_round_quotient("sum(CAST(v AS DECIMAL(18,2)))", "count(v)", 6)}
             AS mean_v
    FROM b GROUP BY bucket
    """,
)
def events_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-boundary) histogram of purchase values —
    the exact-arithmetic cousin of ClickHouse's adaptive ``histogram``:
    8 buckets bounded at the exact octile values.

    Scale shape (the purchase values are near-continuous, so a
    distinct-value grid would be row-sized — no window pass is
    allowed here): pass 1 computes the 7 interior boundaries with the
    ``percentile`` AGGREGATE (partial-aggregatable, no global sort;
    identical interpolation to the oracle's quantile_cont), pass 2
    broadcasts that single boundary row and buckets every value with a
    per-row array scan, then hash-aggregates the 8 cells.  The only
    single-partition exchange merges the 1-row percentile accumulator;
    exact percentile buffers the distinct-value map, so the 100 TB
    swap is ``percentile_approx`` (t-digest, constant memory) at the
    cost of the oracle's exactness."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    q = e.agg(
        F.percentile(
            F.col("value"),
            F.array(*[F.lit(i / 8.0) for i in range(1, 8)]),
        ).alias("bounds")
    )
    b = e.crossJoin(F.broadcast(q)).select(
        F.size(
            F.filter(F.col("bounds"), lambda x: F.col("value") > x)
        ).cast("long").alias("bucket"),
        F.col("value").alias("v"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("v"), 6).alias("lo"),
        F.round(F.max("v"), 6).alias("hi"),
        round_quotient(
            F.sum(F.col("v").cast("decimal(18,2)")), F.count("v"), 6
        ).alias("mean_v"),
    )


@register(
    "events_growth_rates",
    oracle=f"""
    WITH weekly AS (
      SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
      FROM events GROUP BY 1)
    SELECT week, n, total_value,
           lag(n) OVER (ORDER BY week) AS prev_n,
           {oracle_round_quotient("(n - lag(n) OVER (ORDER BY week)) * 100",
               "lag(n) OVER (ORDER BY week)", 4)}
             AS wow_pct
    FROM weekly ORDER BY week
    """,
)
def events_growth_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth: weekly event volume with
    week-over-week % change — the reporting staple.  The lag window
    runs over the AGGREGATED weeks frame (tens of rows), so the
    single-partition window is constant-size, never the raw stream;
    the only full-data work is one hash aggregate."""
    weekly = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("week", "ts").cast("timestamp_ntz").alias("week"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total_value"),
        )
    )
    w = Window.orderBy("week")
    prev = F.lag("n").over(w)
    return weekly.select(
        "week",
        "n",
        "total_value",
        prev.alias("prev_n"),
        round_quotient((F.col("n") - prev) * 100, prev, 4).alias("wow_pct"),
    ).orderBy("week")


@register(
    "events_dau_wau_mau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT CAST(d.day AS TIMESTAMP) AS day,
           count(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END) AS dau,
           count(DISTINCT CASE WHEN u.day > d.day - 7 THEN u.user_id END) AS wau,
           count(DISTINCT u.user_id) AS mau
    FROM days d
    JOIN ud u ON u.day <= d.day AND u.day > d.day - 30
    GROUP BY d.day ORDER BY d.day
    """,
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU: for every active day, distinct users over the
    trailing 1 / 7 / 30 days — the canonical engagement dashboard, and
    a metric exact sliding windows make expensive if computed naively
    over raw events.

    Shape: the raw stream first collapses to DISTINCT (user, day)
    pairs (one hash aggregate — the only full-data work; at 100 TB this
    is users x days rows, orders of magnitude smaller than events).
    The trailing-window counts are then a range join of that compact
    frame against the day grid with per-day conditional distincts —
    all three windows from ONE join, no per-window rescan."""
    ud = (
        table(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    days = ud.select("day").distinct().select(F.col("day").alias("d"))
    joined = ud.join(
        days,
        (F.col("day") <= F.col("d")) & (F.col("day") > F.date_sub(F.col("d"), 30)),
    )
    return (
        joined.groupBy(F.col("d").alias("day"))
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("d"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct(
                F.when(F.col("day") > F.date_sub(F.col("d"), 7), F.col("user_id"))
            ).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
        )
        .withColumn("day", F.col("day").cast("timestamp_ntz"))
        .orderBy("day")
    )


@register(
    "events_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
    paths AS (
      SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path, count(*) AS n
      FROM seq WHERE e3 IS NOT NULL
      GROUP BY 1)
    SELECT path, n FROM paths ORDER BY n DESC, path LIMIT 5
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event PATHS: the most common 3-step event-type sequences
    across all users (the path-analysis view behind funnel discovery —
    windowFunnel tests a KNOWN chain; this surfaces the chains worth
    testing).  Ordering is arrival order (event_id), matching the
    spend-alarm semantics.

    One user_id shuffle for the lead windows, then a hash aggregate on
    the path string whose key space is |event_types|³ — tiny — so the
    partial aggregation absorbs the per-user fan-out before the final
    top-k (TakeOrderedAndProject)."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(" > ", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(5)
    )


@register(
    "events_weekday_hour_matrix",
    oracle=f"""
    WITH m AS (
      SELECT dayofweek(ts) AS dow, hour(ts) AS hr, count(*) AS n
      FROM events GROUP BY 1, 2),
    tot AS (SELECT sum(n) AS s FROM m)
    SELECT dow, hr, n, {oracle_round_quotient("n * 100", "s", 4)} AS pct
    FROM m CROSS JOIN tot
    ORDER BY dow, hr
    """,
)
def events_weekday_hour_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday x hour activity matrix with share-of-total — the
    seasonality heatmap (feeds the same intuition `ts_autocorrelation`
    quantifies).  One hash aggregate on a 168-cell key space; the share
    ratio is a frame-less window over the aggregated matrix.  DuckDB's
    dayofweek is 0=Sunday; Spark's dayofweek is 1=Sunday, so the Spark
    side shifts by one to agree."""
    m = (
        table(spark, sf_dir, "events")
        .groupBy(
            (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hr")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_all = Window.partitionBy()
    return m.select(
        "dow",
        "hr",
        "n",
        round_quotient(F.col("n") * 100, F.sum("n").over(w_all), 4).alias("pct"),
    ).orderBy("dow", "hr")


@register(
    "events_time_to_convert",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    conv AS (
      SELECT s.user_id,
             min(epoch(e.ts) - epoch(s.signup_ts)) AS delta_s
      FROM s JOIN events e
        ON e.user_id = s.user_id
       AND e.event_type = 'purchase' AND e.ts > s.signup_ts
      GROUP BY s.user_id)
    SELECT count(*) AS n_converted,
           round(avg(delta_s), 4) AS avg_seconds,
           round(quantile_cont(delta_s, 0.25), 4) AS p25_seconds,
           round(quantile_cont(delta_s, 0.50), 4) AS p50_seconds,
           round(quantile_cont(delta_s, 0.75), 4) AS p75_seconds
    FROM conv
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user, seconds from first
    signup to first subsequent purchase, summarized as mean + quartiles
    — the latency companion to `events_funnel_signup_to_purchase`'s
    conversion COUNTS.

    Both "firsts" are min-aggregates keyed on user_id, so the whole
    query reuses one user exchange; the quartiles run over the
    converted-users frame (one row per converted user)."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    conv = (
        s.join(p, (F.col("user_id") == F.col("p_user")) & (F.col("pts") > F.col("signup_ts")))
        .groupBy("user_id")
        .agg(
            F.min(
                F.col("pts").cast("timestamp").cast("double")
                - F.col("signup_ts").cast("timestamp").cast("double")
            ).alias("delta_s")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.avg("delta_s"), 4).alias("avg_seconds"),
        F.round(F.percentile("delta_s", 0.25), 4).alias("p25_seconds"),
        F.round(F.percentile("delta_s", 0.50), 4).alias("p50_seconds"),
        F.round(F.percentile("delta_s", 0.75), 4).alias("p75_seconds"),
    )


@register(
    "events_weekly_churn",
    oracle=f"""
    WITH uw AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events),
    weeks AS (SELECT DISTINCT week FROM uw),
    pairs AS (
      SELECT w.week,
             count(*) AS active,
             count(*) FILTER (WHERE nxt.user_id IS NULL) AS churned
      FROM weeks w
      JOIN uw cur ON cur.week = w.week
      LEFT JOIN uw nxt ON nxt.user_id = cur.user_id
                      AND nxt.week = w.week + INTERVAL 7 DAY
      WHERE w.week < (SELECT max(week) FROM weeks)
      GROUP BY w.week)
    SELECT CAST(week AS TIMESTAMP) AS week, active, churned,
           {oracle_round_quotient("churned", "active", 6)} AS churn_rate
    FROM pairs ORDER BY week
    """,
)
def events_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn: the share of week-W actives with NO activity in
    week W+1 (the last week is excluded — its successor is
    unobserved).  The inverse metric of `events_cohort_retention`.

    Shape: the stream collapses once to distinct (user, week) pairs;
    churn is a self left-join of that compact frame on (user, week+1) —
    the NULL side of the join IS the churn set, no per-user windowing
    over raw events."""
    # uw feeds THREE subtrees (the last-week bound, the shifted probe
    # side, and the active side of the churn join), each of which
    # otherwise re-ran the fact scan + global distinct; it is distinct
    # (user, week) pairs, so pinning it runs the fact pass + distinct
    # shuffle once.
    uw = memo.pin(
        table(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
        )
        .distinct()
    )
    last_week = uw.agg(F.max("week").alias("mx"))
    nxt = uw.select(
        F.col("user_id").alias("n_user"), F.date_sub(F.col("week"), 7).alias("n_week")
    )
    pairs = (
        uw.crossJoin(F.broadcast(last_week))
        .filter(F.col("week") < F.col("mx"))
        .join(
            nxt,
            (F.col("user_id") == F.col("n_user")) & (F.col("week") == F.col("n_week")),
            "left",
        )
    )
    return (
        pairs.groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("active"),
            F.count(F.when(F.col("n_user").isNull(), 1)).alias("churned"),
        )
        .select(
            F.col("week").cast("timestamp_ntz").alias("week"),
            "active",
            "churned",
            round_quotient(F.col("churned"), F.col("active"), 6).alias(
                "churn_rate"
            ),
        )
        .orderBy("week")
    )


@register(
    "events_id_gap_audit",
    oracle="""
    WITH s AS (
      SELECT event_id,
             lead(event_id) OVER (ORDER BY event_id) AS nxt
      FROM events WHERE event_type = 'purchase')
    SELECT event_id AS gap_after, nxt AS resume_at,
           nxt - event_id - 1 AS n_missing
    FROM s WHERE nxt - event_id > 1
    ORDER BY gap_after LIMIT 25
    """,
)
def events_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit: ranges of missing event_ids in the purchase
    stream (the ingestion integrity check that catches dropped batches —
    a run of absent ids is a lost file, scattered singles are producer
    retries; audited per-topic, here the purchase topic, because the
    global id space interleaves topics).  Top-25 earliest gaps.

    The lead() needs a total order over ids, but NOT a single-partition
    window: ids bucket by range (id div 2¹⁶), lead() runs inside each
    bucket in parallel, and each bucket's LAST id pairs with the next
    non-empty bucket's min via a lead over the per-bucket bounds frame
    (2¹⁶× smaller; repeat the device if that frame ever matters).
    Identical output to the naive global window."""
    B = 1 << 16
    ids = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id")
        .withColumn("_bkt", F.floor(F.col("event_id") / B))
    )
    wb = Window.partitionBy("_bkt").orderBy("event_id")
    in_bucket = ids.withColumn("_nxt_in", F.lead("event_id").over(wb))
    bounds = ids.groupBy("_bkt").agg(F.min("event_id").alias("_mn"))
    handoff = bounds.select(
        "_bkt",
        F.lead("_mn").over(Window.orderBy("_bkt")).alias("_next_bucket_min"),
    )
    s = in_bucket.join(handoff, "_bkt").select(
        "event_id",
        F.coalesce("_nxt_in", "_next_bucket_min").alias("nxt"),
    )
    return (
        s.filter(F.col("nxt") - F.col("event_id") > 1)
        .select(
            F.col("event_id").alias("gap_after"),
            F.col("nxt").alias("resume_at"),
            (F.col("nxt") - F.col("event_id") - 1).alias("n_missing"),
        )
        .orderBy("gap_after")
        .limit(25)
    )


@register(
    "events_cohort_ltv",
    oracle=f"""
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id),
    rev AS (
      SELECT f.cohort,
             CAST(floor(date_diff('day', f.cohort, CAST(e.ts AS DATE)) / 7)
                  AS BIGINT) AS week_offset,
             e.value
      FROM events e
      JOIN first_seen f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'),
    cohort_sizes AS (
      SELECT cohort, count(*) AS n_users FROM first_seen GROUP BY cohort),
    weekly AS (
      SELECT cohort, week_offset,
             sum(CAST(value AS DECIMAL(18,2))) AS rev
      FROM rev GROUP BY cohort, week_offset)
    SELECT CAST(w.cohort AS TIMESTAMP) AS cohort, w.week_offset,
           round(CAST(sum(w2.rev) AS DOUBLE), 2) AS cum_revenue,
           {oracle_round_quotient("sum(w2.rev)", "s.n_users", 4)} AS ltv_per_user
    FROM weekly w
    JOIN weekly w2 ON w2.cohort = w.cohort AND w2.week_offset <= w.week_offset
    JOIN cohort_sizes s ON s.cohort = w.cohort
    GROUP BY w.cohort, w.week_offset, s.n_users
    ORDER BY w.cohort, w.week_offset
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative purchase revenue per signup-week
    cohort at each week offset, normalized per cohort user — the
    payback-period view that prices acquisition (the revenue companion
    to `events_retention_matrix_weekly`'s activity counts).

    Shape: first-seen is one user aggregate; revenue buckets to
    (cohort, offset) cells; the cumulative sum runs over the CELL frame
    (cohorts x offsets — tiny) via a running window, never re-joining
    the fact table per offset."""
    ev = table(spark, sf_dir, "events")
    # first_seen feeds the cohort-size rollup AND the revenue join; it
    # is one row per user, so pinning it saves a duplicate fact scan +
    # per-user aggregate.
    first_seen = memo.pin(
        ev.groupBy("user_id").agg(
            F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
        )
    )
    sizes = first_seen.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort")) / 7
            ).alias("week_offset"),
            "value",
        )
    )
    weekly = rev.groupBy("cohort", "week_offset").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("rev")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        weekly.select(
            "cohort", "week_offset", F.sum("rev").over(w).alias("cum")
        )
        .join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").cast("timestamp_ntz").alias("cohort"),
            "week_offset",
            F.round(F.col("cum").cast("double"), 2).alias("cum_revenue"),
            round_quotient(
                F.col("cum"), F.col("n_users"), 4
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort", "week_offset")
    )


@register(
    "events_session_stats",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), per_session AS (
      SELECT user_id, sid, count(*) AS n_events,
             epoch(max(ts)) - epoch(min(ts)) AS dur_s
      FROM sess GROUP BY user_id, sid)
    SELECT count(*) AS n_sessions,
           round(avg(n_events), 4) AS avg_events,
           round(avg(dur_s), 4) AS avg_duration_s,
           round(quantile_cont(dur_s, 0.5), 4) AS p50_duration_s,
           round(quantile_cont(dur_s, 0.9), 4) AS p90_duration_s,
           count(*) FILTER (WHERE n_events = 1) AS n_bounces
    FROM per_session
    """,
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution: count, mean events, mean/median/
    p90 duration, and single-event "bounce" sessions — the summary
    layer over `events_session_30m`'s raw sessions (same 30-minute gap
    rule, same gaps-and-islands shape, one user exchange; the
    percentiles run over the per-session frame)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    ev = table(spark, sf_dir, "events")
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("timestamp").cast("double")
                - F.lag(F.col("ts").cast("timestamp")).over(w).cast("double")
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = marked.withColumn("sid", F.sum("new_sess").over(wrun))
    per_session = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.max(F.col("ts").cast("timestamp").cast("double"))
            - F.min(F.col("ts").cast("timestamp").cast("double"))
        ).alias("dur_s"),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_events"),
        F.round(F.avg("dur_s"), 4).alias("avg_duration_s"),
        F.round(F.percentile("dur_s", 0.5), 4).alias("p50_duration_s"),
        F.round(F.percentile("dur_s", 0.9), 4).alias("p90_duration_s"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounces"),
    )


@register(
    "events_rfm_segments",
    oracle="""
    WITH per_user AS (
      -- monetary on the exact cents grid: the quintile ORDER is then
      -- engine- and accumulation-order-independent
      SELECT user_id,
             epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(max(ts)) AS recency_s,
             count(*) AS frequency,
             sum(CAST(round(value * 100) AS BIGINT)) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    scored AS (
      SELECT user_id,
             ntile(5) OVER (ORDER BY recency_s DESC, user_id) AS r,
             ntile(5) OVER (ORDER BY frequency, user_id) AS f,
             ntile(5) OVER (ORDER BY monetary, user_id) AS m
      FROM per_user)
    SELECT r || '-' || f || '-' || m AS segment,
           count(*) AS n_users
    FROM scored
    GROUP BY segment HAVING count(*) >= 2
    ORDER BY n_users DESC, segment
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every purchasing user scored 1-5 on Recency
    (recent = high), Frequency and Monetary value via quintile ntiles,
    then bucketed into R-F-M segments (5-5-5 = champions, 1-1-1 =
    lost) — the classic lifecycle-marketing partition.

    The ntiles run over the per-user AGGREGATE (one row per purchasing
    user) through the distributed row-number substrate
    (stats.with_global_row_number + exact ntile arithmetic) — no
    single-partition sort at any user count.  Ties break on user_id
    so both engines assign identical quintiles; monetary rides the
    exact cents grid so the order itself cannot flake; segments with a
    single user are suppressed."""
    from .stats import exact_ntile, with_global_row_number

    anchor = F.lit("2024-02-01 00:00:00").cast("timestamp").cast("double")
    per_user = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            (anchor - F.max(F.col("ts").cast("timestamp").cast("double"))).alias(
                "recency_s"
            ),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("monetary"),
        )
        .withColumn("neg_recency", -F.col("recency_s"))
    )
    # the three ranks are INDEPENDENT orders over the same per-user
    # grid: pin the grid once (each substrate reads its input ~3× —
    # bounds, windows, counts), then rank each dimension as its own
    # branch and join the 2-column (user_id, rn) results back; the
    # joins are 1:1 on the grid key, not the fact table.
    per_user = memo.pin(per_user)
    # the ntile divisor rides the R branch's own 64-row bucket frame
    # (with_totals) — no separate count pass over the checkpoint, no
    # broadcast cross join
    rn_r = with_global_row_number(
        per_user, ["neg_recency", "user_id"], rn_col="rn_r", with_totals=True
    ).select("user_id", "rn_r", "n_total")
    rn_f = with_global_row_number(
        per_user, ["frequency", "user_id"], rn_col="rn_f"
    ).select("user_id", "rn_f")
    rn_m = with_global_row_number(
        per_user, ["monetary", "user_id"], rn_col="rn_m"
    ).select("user_id", "rn_m")
    ranked = rn_r.join(rn_f, "user_id").join(rn_m, "user_id")
    n = F.col("n_total")
    scored = ranked.select(
        exact_ntile(F.col("rn_r"), n, 5).alias("r"),
        exact_ntile(F.col("rn_f"), n, 5).alias("f"),
        exact_ntile(F.col("rn_m"), n, 5).alias("m"),
    )
    return (
        scored.select(
            F.concat_ws("-", "r", "f", "m").alias("segment")
        )
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") >= 2)
        .orderBy(F.col("n_users").desc(), "segment")
    )


@register(
    "events_purchase_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE event_type = 'purchase'),
    grp AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS anchor
      FROM days),
    streaks AS (
      SELECT user_id, count(*) AS len
      FROM grp GROUP BY user_id, anchor)
    SELECT max(len) AS longest_streak_days,
           count(DISTINCT user_id) AS n_users,
           count(*) FILTER (WHERE len >= 3) AS n_streaks_3plus,
           round(avg(len), 4) AS avg_streak_days
    FROM streaks
    """,
)
def events_purchase_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day purchase streaks — the habit/engagement
    metric, via the date-minus-row_number gaps-and-islands trick: in a
    run of consecutive days, day − rank is CONSTANT, so the anchor
    groups each streak with zero joins.

    The stream collapses to distinct (user, day) first (the only
    full-data aggregate); ranks and streak counts run over that
    compact frame on the user key."""
    days = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    streaks = grp.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    return streaks.agg(
        F.max("len").alias("longest_streak_days"),
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.when(F.col("len") >= 3, 1)).alias("n_streaks_3plus"),
        F.round(F.avg("len"), 4).alias("avg_streak_days"),
    )


@register(
    "events_new_vs_returning",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS first_day
      FROM events GROUP BY user_id)
    SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
           count(DISTINCT CASE WHEN CAST(date_trunc('day', e.ts) AS DATE)
                                    = f.first_day
                               THEN e.user_id END) AS new_users,
           count(DISTINCT CASE WHEN CAST(date_trunc('day', e.ts) AS DATE)
                                    > f.first_day
                               THEN e.user_id END) AS returning_users,
           count(*) AS n_events
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1 ORDER BY day
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split — the acquisition/retention
    top-line.  First-seen day is one user aggregate broadcast back into
    the daily rollup; both distinct counts come out of the same
    aggregate pass (conditional distincts), not two scans."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("first_day")
    )
    day = F.date_trunc("day", "ts").cast("date")
    return (
        ev.join(F.broadcast(first_seen), "user_id")
        .groupBy(day.alias("day"))
        .agg(
            F.countDistinct(
                F.when(day == F.col("first_day"), F.col("user_id"))
            ).alias("new_users"),
            F.countDistinct(
                F.when(day > F.col("first_day"), F.col("user_id"))
            ).alias("returning_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("day", F.col("day").cast("timestamp_ntz"))
        .orderBy("day")
    )


@register(
    "events_error_rate_sli",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             count(*) AS n,
             count(*) FILTER (WHERE event_type = 'error') AS n_err
      FROM events GROUP BY 1)
    SELECT hour, n, n_err,
           {oracle_round_quotient("n_err", "n", 6)} AS err_rate,
           {oracle_round_quotient("sum(n_err) OVER w", "sum(n) OVER w", 6)}
             AS err_rate_3h,
           (sum(n_err) OVER w / CAST(sum(n) OVER w AS DOUBLE)) > 0.25
             AS breach
    FROM hourly
    WINDOW w AS (ORDER BY hour ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY hour
    """,
)
def events_error_rate_sli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-rate SLI with a trailing 3-hour window and breach flags
    (threshold 25%) — the alerting query of a reliability dashboard.
    The ratio-of-sums over the window (not the average of ratios —
    hours with little traffic must not dominate) runs on the hourly
    aggregate; raw events are touched once."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err"),
        )
    )
    w = Window.orderBy("hour").rowsBetween(-2, 0)
    rate3h = F.sum("n_err").over(w) / F.sum("n").over(w).cast("double")
    return hourly.select(
        "hour",
        "n",
        "n_err",
        round_quotient(F.col("n_err"), F.col("n"), 6).alias("err_rate"),
        round_quotient(
            F.sum("n_err").over(w), F.sum("n").over(w), 6
        ).alias("err_rate_3h"),
        (rate3h > 0.25).alias("breach"),
    ).orderBy("hour")


@register(
    "events_anomaly_dow_adjusted",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             dayofweek(ts) AS dow, hour(ts) AS hod,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3),
    baseline AS (
      SELECT dow, hod, avg(n) AS mu, stddev_samp(n) AS sigma
      FROM hourly GROUP BY dow, hod)
    SELECT h.hour, h.n, round(b.mu, 4) AS expected,
           round((h.n - b.mu) / b.sigma, 4) + 0.0 AS z,
           abs((h.n - b.mu) / b.sigma) > 2.5 AS anomaly
    FROM hourly h JOIN baseline b ON h.dow = b.dow AND h.hod = b.hod
    WHERE b.sigma > 0
    ORDER BY h.hour
    """,
)
def events_anomaly_dow_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: each hour's volume
    z-scored against the baseline for ITS OWN (weekday, hour-of-day)
    cell — a Monday-9am spike is judged against Monday 9ams, not the
    global mean (the raw-trailing-window variant is
    `events_zscore_outliers`; this one can't be fooled by normal
    weekly rhythm).

    Both the hourly rollup and the 168-cell baseline come from one
    scan; the scoring join is baseline-broadcast.  DuckDB's 0-based
    dayofweek is matched by shifting Spark's 1-based one."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            (F.dayofweek("ts") - 1).alias("dow"),
            F.hour("ts").alias("hod"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    baseline = hourly.groupBy("dow", "hod").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(baseline), ["dow", "hod"])
        .filter(F.col("sigma") > 0)
        .select(
            "hour",
            "n",
            F.round("mu", 4).alias("expected"),
            F.round(z, 4).alias("z"),
            (F.abs(z) > 2.5).alias("anomaly"),
        )
        .orderBy("hour")
    )


@register(
    "events_first_touch_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts
      FROM events WHERE event_type = 'purchase'),
    touches AS (
      SELECT event_id, first_touch FROM (
        SELECT p.event_id, e.event_type AS first_touch,
               row_number() OVER (PARTITION BY p.event_id
                                  ORDER BY e.ts, e.event_id) AS rk
        FROM purchases p
        JOIN events e
          ON e.user_id = p.user_id
         AND e.ts < p.ts
         AND e.ts >= p.ts - INTERVAL 24 HOUR
         AND e.event_type != 'purchase')
      WHERE rk = 1)
    SELECT coalesce(t.first_touch, 'organic') AS channel,
           count(*) AS n_purchases
    FROM purchases p LEFT JOIN touches t ON p.event_id = t.event_id
    GROUP BY channel ORDER BY channel
    """,
)
def events_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase credited to the FIRST
    non-purchase event type in the preceding 24 hours (no touch →
    'organic') — the marketing-attribution join, with event types
    standing in for channels.

    One user-keyed join bounded by the 24 h interval condition; the
    earliest touch per purchase is min_by on (ts, event_id) — an
    aggregate, not a window over the joined fan-out.  At 100 TB
    the per-user candidate product is bounded by the day window, the
    same posture as `join_asof_nearest`."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    touches = (
        purchases.join(
            ev.filter(F.col("event_type") != "purchase").select(
                "user_id", F.col("ts").alias("ets"), F.col("event_type").alias("etype"),
                F.col("event_id").alias("eid"),
            ),
            (F.col("user_id") == F.col("p_user"))
            & (F.col("ets") < F.col("pts"))
            & (F.col("ets") >= F.col("pts") - F.expr("INTERVAL 24 HOURS")),
        )
        .groupBy("event_id")
        .agg(
            F.min_by("etype", F.struct("ets", "eid")).alias("first_touch")
        )
    )
    return (
        purchases.join(touches, "event_id", "left")
        .groupBy(F.coalesce("first_touch", F.lit("organic")).alias("channel"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("channel")
    )


@register(
    "events_in_session_conversion",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), per_session AS (
      SELECT user_id, sid,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_signup,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      FROM sess GROUP BY user_id, sid)
    SELECT count(*) AS n_sessions,
           CAST(sum(has_signup) AS BIGINT) AS sessions_with_signup,
           CAST(sum(CASE WHEN has_signup = 1 AND has_purchase = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS converted_sessions,
           {oracle_round_quotient(
               "sum(CASE WHEN has_signup = 1 AND has_purchase = 1 THEN 1 ELSE 0 END)",
               "sum(has_signup)", 6)} AS in_session_cvr
    FROM per_session
    """,
)
def events_in_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion WITHIN a session: of sessions containing a signup,
    how many also contain a purchase — the composite of the
    sessionizer and the funnel (the user-lifetime funnel is
    `events_funnel_signup_to_purchase`; this one answers "did they
    convert before walking away").  Same 30-minute gaps-and-islands
    sessionization, one user exchange, flags folded per session."""
    w = Window.partitionBy("user_id").orderBy("ts")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    ev = table(spark, sf_dir, "events")
    marked = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("timestamp").cast("double")
                - F.lag(F.col("ts").cast("timestamp")).over(w).cast("double")
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = marked.withColumn("sid", F.sum("new_sess").over(wrun))
    per_session = sess.groupBy("user_id", "sid").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias(
            "has_signup"
        ),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_purchase"
        ),
    )
    converted = F.sum(
        F.when((F.col("has_signup") == 1) & (F.col("has_purchase") == 1), 1).otherwise(0)
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("has_signup").alias("sessions_with_signup"),
        converted.alias("converted_sessions"),
        round_quotient(converted, F.sum("has_signup"), 6).alias(
            "in_session_cvr"
        ),
    )


@register(
    "events_repeat_purchase_rate",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS k
      FROM events WHERE event_type = 'purchase'),
    per_user AS (
      SELECT user_id, max(k) AS n_purchases,
             min(CASE WHEN k = 1 THEN ts END) AS first_ts,
             min(CASE WHEN k = 2 THEN ts END) AS second_ts
      FROM ranked GROUP BY user_id)
    SELECT count(*) AS n_buyers,
           count(*) FILTER (WHERE n_purchases >= 2) AS repeat_buyers,
           {oracle_round_quotient("count(*) FILTER (WHERE n_purchases >= 2)",
               "count(*)", 6)} AS repeat_rate,
           round(quantile_cont(epoch(second_ts) - epoch(first_ts), 0.5), 4)
             AS median_days_to_second_s
    FROM per_user
    """,
)
def events_repeat_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate and median time to the SECOND purchase —
    the loyalty metric pair behind retention economics (one-off buyers
    vs habits; pairs with `events_time_to_convert`'s first-conversion
    latency).

    One user-keyed rank window over purchases, folded to per-user
    first/second timestamps in the same pass; the median runs over the
    buyers frame."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.row_number().over(w).alias("k"))
    )
    per_user = ranked.groupBy("user_id").agg(
        F.max("k").alias("n_purchases"),
        F.min(F.when(F.col("k") == 1, F.col("ts"))).alias("first_ts"),
        F.min(F.when(F.col("k") == 2, F.col("ts"))).alias("second_ts"),
    )
    gap = F.col("second_ts").cast("timestamp").cast("double") - F.col(
        "first_ts"
    ).cast("timestamp").cast("double")
    repeat = F.count(F.when(F.col("n_purchases") >= 2, 1))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_buyers"),
        repeat.alias("repeat_buyers"),
        round_quotient(repeat, F.count(F.lit(1)), 6).alias("repeat_rate"),
        F.round(F.percentile(gap, 0.5), 4).alias("median_days_to_second_s"),
    )


@register(
    "events_session_abandonment",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), per_session AS (
      SELECT user_id, sid,
             count(*) AS n_events,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_buy
      FROM sess GROUP BY user_id, sid)
    SELECT CASE WHEN has_view = 1 AND has_click = 1 AND has_buy = 1 THEN 'converted'
                WHEN has_view = 1 AND has_click = 1 THEN 'abandoned'
                WHEN has_view = 1 OR has_click = 1 THEN 'browsed'
                ELSE 'other' END AS outcome,
           count(*) AS n_sessions,
           {oracle_round_quotient("sum(n_events)", "count(*)", 4)} AS avg_events,
           {oracle_round_quotient("count(*)", "sum(count(*)) OVER ()", 6)} AS share
    FROM per_session GROUP BY 1 ORDER BY outcome
    """,
)
def events_session_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session outcome funnel: 30-minute-gap sessions classified as
    converted (view + click + purchase), abandoned (engaged but no
    purchase — THE metric e-commerce funnels optimize), browsed, or
    other — with per-outcome session share and intensity.

    Same gaps-and-islands session substrate as `events_session_stats`
    (one user-keyed shuffle; the two stacked windows and the session
    aggregate reuse the same exchange); outcome classification is
    row-local flags on the tiny per-session frame; (ts, event_id)
    ordering makes equal-timestamp sessions deterministic."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    ev = table(spark, sf_dir, "events")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("timestamp").cast("double")
                - F.lag(F.col("ts").cast("timestamp").cast("double")).over(w)
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = marked.withColumn("sid", F.sum("new_sess").over(wrun))
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("has_view"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "has_click"
        ),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_buy"
        ),
    )
    outcome = (
        F.when(
            (F.col("has_view") == 1) & (F.col("has_click") == 1) & (F.col("has_buy") == 1),
            "converted",
        )
        .when((F.col("has_view") == 1) & (F.col("has_click") == 1), "abandoned")
        .when((F.col("has_view") == 1) | (F.col("has_click") == 1), "browsed")
        .otherwise("other")
    )
    g = per.groupBy(outcome.alias("outcome")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        round_quotient(F.sum("n_events"), F.count(F.lit(1)), 4).alias(
            "avg_events"
        ),
    )
    return g.select(
        "outcome",
        "n_sessions",
        "avg_events",
        round_quotient(
            F.col("n_sessions"), F.sum("n_sessions").over(Window.partitionBy()), 6
        ).alias("share"),
    ).orderBy("outcome")


@register(
    "events_survival_time_to_purchase",
    oracle="""
    WITH obs AS (SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS end_day
                 FROM events),
    signup AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS s_day
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    first_buy AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS p_day
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    subj AS (
      SELECT s.user_id,
             CASE WHEN f.p_day >= s.s_day
                  THEN date_diff('day', s.s_day, f.p_day) END AS event_t,
             date_diff('day', s.s_day, o.end_day) AS censor_t
      FROM signup s LEFT JOIN first_buy f ON s.user_id = f.user_id
      CROSS JOIN obs o),
    st AS (
      SELECT user_id,
             coalesce(least(event_t, censor_t), censor_t) AS t,
             CASE WHEN event_t IS NOT NULL AND event_t <= censor_t
                  THEN 1 ELSE 0 END AS observed
      FROM subj),
    grid AS (
      SELECT t AS day, sum(observed) AS d
      FROM st WHERE observed = 1 GROUP BY t),
    risk AS (
      SELECT g.day, g.d,
             (SELECT count(*) FROM st WHERE st.t >= g.day) AS n_at_risk
      FROM grid g)
    SELECT day, CAST(d AS BIGINT) AS n_events,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           round(exp(sum(ln(1.0 - d / CAST(n_at_risk AS DOUBLE)))
                     OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)), 6)
             AS survival
    FROM risk ORDER BY day
    """,
)
def events_survival_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase after
    signup, WITH right-censoring (users who never purchase contribute
    risk time up to the observation end instead of being dropped —
    the bias every naive "average days to convert" metric has):
    S(t) = Π_{dᵢ≤t} (1 − dᵢ/nᵢ).

    Shape: per-user first-event aggregates (the only full-data
    shuffles), then the event-day grid with at-risk counts via a
    non-equi join of the tiny grid against per-user times, and the
    product via exp(Σ ln) over the bounded day grid.  The day grid is
    #observed-event-days rows, so the global window is small by
    construction."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    obs_end = e.agg(F.max(day).alias("end_day"))
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(day).alias("s_day"))
    )
    first_buy = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(day).alias("p_day"))
    )
    subj = (
        signup.join(first_buy, "user_id", "left")
        .crossJoin(F.broadcast(obs_end))
        .select(
            "user_id",
            F.when(
                F.col("p_day") >= F.col("s_day"),
                F.datediff("p_day", "s_day"),
            ).alias("event_t"),
            F.datediff("end_day", "s_day").alias("censor_t"),
        )
    )
    # st feeds BOTH sides of the risk join (event-day grid + at-risk
    # probe), each of which otherwise re-ran the whole subj subtree
    # (two per-user aggregates + join: 3 fact scans, twice).  It is one
    # row per signed-up user, so pinning it runs the upstream once.
    st = memo.pin(
        subj.select(
            F.coalesce(F.least("event_t", "censor_t"), F.col("censor_t")).alias("t"),
            F.when(
                F.col("event_t").isNotNull() & (F.col("event_t") <= F.col("censor_t")),
                1,
            )
            .otherwise(0)
            .alias("observed"),
        )
    )
    grid = (
        st.filter(F.col("observed") == 1)
        .groupBy(F.col("t").alias("day"))
        .agg(F.sum("observed").alias("d"))
    )
    # at-risk counts: tiny event-day grid against per-user times — a
    # broadcast non-equi join, never a per-row subquery
    risk = (
        grid.join(st, st.t >= grid.day)
        .groupBy("day", "d")
        .agg(F.count(F.lit(1)).alias("n_at_risk"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return risk.select(
        "day",
        F.col("d").cast("bigint").alias("n_events"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.round(
            F.exp(
                F.sum(
                    F.log(1.0 - F.col("d") / F.col("n_at_risk").cast("double"))
                ).over(w)
            ),
            6,
        ).alias("survival"),
    ).orderBy("day")


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH o AS (
      SELECT user_id, date_trunc('second', ts) AS ts_s, value, event_id
      FROM events),
    d AS (
      SELECT user_id, value,
             CAST(date_diff('second', ts_s,
                  lead(ts_s) OVER (PARTITION BY user_id
                                   ORDER BY ts_s, event_id)) AS BIGINT) AS dt
      FROM o),
    agg AS (
      SELECT user_id,
             count(*) AS n_events,
             sum(dt) AS duration_s,
             sum(value * dt) AS vdt
      FROM d WHERE dt IS NOT NULL
      GROUP BY user_id)
    SELECT user_id, n_events + 1 AS n_events,
           CAST(duration_s AS BIGINT) AS duration_s,
           round(vdt / duration_s, 4) AS time_weighted_avg
    FROM agg WHERE duration_s > 0
    ORDER BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user — the TSDB aggregate
    (Influx/Timescale ``time_weight``): each reading is held until the
    next one, so the mean is Σ value·Δt / Σ Δt, not the row mean (a
    sensor that reports rarely while high must not be averaged as if
    sampled uniformly).

    Timestamps are truncated to WHOLE SECONDS in both engines first:
    the fixture carries nanosecond precision that Spark reads as µs and
    DuckDB as ns — integer-second deltas make the weights bit-identical
    instead of 1 µs apart (a real cross-engine hash flake measured on
    the raw deltas).  One per-user window (lead) + one aggregate: the
    same single shuffle any per-user metric pays."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("second", F.col("ts")).alias("ts_s"),
        "value",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    d = e.select(
        "user_id",
        "value",
        (
            F.lead("ts_s").over(w).cast("double") - F.col("ts_s").cast("double")
        ).cast("bigint").alias("dt"),
    )
    agg = (
        d.filter(F.col("dt").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_events"),
            F.sum("dt").alias("duration_s"),
            F.sum(F.col("value") * F.col("dt")).alias("vdt"),
        )
    )
    return (
        agg.filter(F.col("duration_s") > 0)
        .select(
            "user_id",
            "n_events",
            "duration_s",
            # round-ok: vdt = Σ value·dt is a float sum (value is double)
            F.round(F.col("vdt") / F.col("duration_s"), 4).alias("time_weighted_avg"),
        )
        .orderBy("user_id")
    )


@register(
    "events_rolling_7d_uniques_hll",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    pairs AS (
      SELECT a.d, e.user_id
      FROM days a
      JOIN events e
        ON CAST(e.ts AS DATE) BETWEEN a.d - INTERVAL 6 DAY AND a.d)
    SELECT CAST(d AS TIMESTAMP) AS d,
           count(DISTINCT user_id) AS exact_uniques,
           true AS within_5pct
    FROM pairs GROUP BY d ORDER BY d
    """,
)
def events_rolling_7d_uniques_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users via MERGEABLE HLL sketches
    (Spark's Apache DataSketches `hll_sketch_agg`/`hll_union_agg`):
    one daily sketch per day, then each day's trailing week is the
    UNION of 7 daily sketches — the only shape that scales, because
    exact rolling distinct needs the full 7-day id set per window
    while sketch state is constant-size and mergeable (precompute
    daily, merge forever: the streaming/cube pattern).

    The fact table is scanned ONCE (daily sketches); the rolling merge
    is a calendar-grid self-join (≤7 sketch rows per anchor day).  The
    oracle pins the EXACT rolling uniques plus a 2%-tolerance flag on
    the sketch estimate (lgK=14 → ~0.8% rsd, so a breach means broken
    plumbing, not sketch noise); the Spark side computes the same exact
    value from the grid join to certify its own estimate."""
    e = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "user_id"
    )
    # daily feeds THREE subtrees (anchors, the rolling merge's sketch
    # side, and the exact pass's anchor grid), each of which otherwise
    # re-ran the fact scan + sketch aggregate; it is one sketch row per
    # day, so pinning it cuts the fact passes to the minimum two (daily
    # sketches + the exact-uniques certifier).
    daily = memo.pin(
        e.groupBy("d").agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    )
    anchors = daily.select(F.col("d").alias("anchor"))
    merged = (
        anchors.join(
            daily,
            (F.col("d") <= F.col("anchor"))
            & (F.col("d") >= F.date_sub(F.col("anchor"), 6)),
        )
        .groupBy("anchor")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
        )
    )
    exact = (
        anchors.join(
            e,
            (F.col("d") <= F.col("anchor"))
            & (F.col("d") >= F.date_sub(F.col("anchor"), 6)),
        )
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("exact_uniques"))
    )
    return (
        exact.join(merged, "anchor")
        .select(
            F.col("anchor").cast("timestamp_ntz").alias("d"),
            "exact_uniques",
            (
                F.abs(F.col("est") - F.col("exact_uniques"))
                <= 0.05 * F.col("exact_uniques")
            ).alias("within_5pct"),
        )
        .orderBy("d")
    )


@register(
    "events_attribution_linear",
    oracle="""
    WITH purch AS (
      SELECT event_id AS pid, user_id, ts AS pts, value
      FROM events WHERE event_type = 'purchase'),
    touches AS (
      SELECT p.pid, p.value, e.event_type
      FROM purch p
      JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type IN ('view', 'click', 'signup')
       AND e.ts < p.pts
       AND e.ts >= p.pts - INTERVAL 7 DAY),
    weighted AS (
      SELECT pid, event_type,
             value / count(*) OVER (PARTITION BY pid) AS credit
      FROM touches)
    SELECT event_type,
           count(*) AS n_touches,
           round(sum(credit), 2) AS attributed_revenue
    FROM weighted
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    EQUALLY across the user's qualifying touchpoints (view/click/
    signup) in the 7 days before it — the multi-touch counterpart to
    `events_first_touch_attribution` (which gives the first touch 100%).

    Plan: purchases ⨝ events on the user equi-key with the 7-day
    window as a residual range predicate — one hash join keyed on
    user_id (both sides already cluster by user for every other
    per-user metric), then a per-purchase count window on the joined
    TOUCH rows (bounded by touches-per-purchase, not corpus) and one
    final rollup."""
    e = table(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        "value",
    )
    touches = purch.join(
        e.filter(F.col("event_type").isin("view", "click", "signup")).select(
            "user_id", F.col("ts").alias("ets"), "event_type"
        ),
        (F.col("user_id") == F.col("pu"))
        & (F.col("ets") < F.col("pts"))
        & (F.col("ets") >= F.col("pts") - F.expr("INTERVAL 7 DAY")),
    )
    w = Window.partitionBy("pid")
    weighted = touches.select(
        "pid", "event_type", (F.col("value") / F.count(F.lit(1)).over(w)).alias("credit")
    )
    return (
        weighted.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum("credit"), 2).alias("attributed_revenue"),
        )
        .orderBy("event_type")
    )


@register(
    "events_inter_arrival_profile",
    oracle="""
    WITH o AS (
      SELECT event_type, date_trunc('second', ts) AS ts_s, event_id
      FROM events),
    d AS (
      SELECT event_type,
             CAST(date_diff('second', lag(ts_s) OVER
                  (PARTITION BY event_type ORDER BY ts_s, event_id), ts_s)
               AS BIGINT) AS gap
      FROM o)
    SELECT event_type,
           count(*) AS n_gaps,
           round(avg(gap), 2) AS mean_gap_s,
           round(quantile_cont(gap, 0.5), 2) AS p50_gap_s,
           round(quantile_cont(gap, 0.9), 2) AS p90_gap_s,
           round(stddev_pop(gap) / avg(gap), 4) AS cv
    FROM d WHERE gap IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_inter_arrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time profile per event type: mean/median/p90 gap
    and the coefficient of variation — the arrival-PROCESS diagnosis
    (CV ≈ 1 → Poisson/memoryless arrivals; CV ≫ 1 → bursty, CV ≪ 1 →
    scheduled/heartbeat), which decides watermark delays and capacity
    headroom for the streaming mirrors.

    Timestamps truncate to whole seconds first so gaps are exact
    integers in both engines (the same ns-vs-µs parity rule as
    `events_time_weighted_avg`).  One per-type lag window + one
    aggregate; the exact percentiles run per-type on gap values —
    bounded by events-per-type, the same state any per-type percentile
    already carries (sketch spelling: `approx_percentile`)."""
    o = table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("second", F.col("ts")).alias("ts_s"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("ts_s", "event_id")
    d = o.select(
        "event_type",
        (
            F.col("ts_s").cast("double") - F.lag("ts_s").over(w).cast("double")
        ).cast("bigint").alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap"), 2).alias("mean_gap_s"),
            F.round(F.percentile("gap", F.lit(0.5)), 2).alias("p50_gap_s"),
            F.round(F.percentile("gap", F.lit(0.9)), 2).alias("p90_gap_s"),
            F.round(F.stddev_pop("gap") / F.avg("gap"), 4).alias("cv"),
        )
        .orderBy("event_type")
    )


@register(
    "events_out_of_orderness_audit",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_id, date_trunc('second', ts) AS ts_s
      FROM events),
    l AS (
      SELECT user_id,
             CAST(date_diff('second', ts_s,
                  max(ts_s) OVER (PARTITION BY user_id ORDER BY event_id
                                  ROWS UNBOUNDED PRECEDING)) AS BIGINT)
               AS lateness_s
      FROM o)
    SELECT count(*) AS n_events,
           CAST(sum(CASE WHEN lateness_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           round(quantile_cont(lateness_s, 0.99), 2) AS p99_lateness_s,
           CAST(max(lateness_s) AS BIGINT) AS max_lateness_s,
           {oracle_round_quotient("sum(CASE WHEN lateness_s > 60 THEN 1 ELSE 0 END)",
               "count(*)", 6)} AS share_beyond_1m
    FROM l
    """,
)
def events_out_of_orderness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit: per user, each event's LATENESS versus
    the running maximum event time in ARRIVAL order (event_id) — the
    number that actually sets the watermark delay for every streaming
    mirror: `withWatermark(p99_lateness)` drops at most 1% of events;
    the share beyond 1 minute says what the current 1m delay loses.

    Arrival order is the ingestion sequence (event_id); event time
    truncates to whole seconds for cross-engine integer deltas.  One
    per-user window (running max) + one global reduce — the same
    single user-shuffle every per-user metric pays.  The exact p99 here
    is the oracle-checkable spelling; at 100 TB swap it for
    `approx_percentile` (or rank selection on `with_global_row_number`,
    the `ts_theil_sen_trend` shape) — lateness values are integers with
    a tiny distinct grid, so even the exact buffer is usually small."""
    o = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.date_trunc("second", F.col("ts")).alias("ts_s")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    l = o.select(
        (
            F.max("ts_s").over(w).cast("double") - F.col("ts_s").cast("double")
        ).cast("bigint").alias("lateness_s")
    )
    return l.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("lateness_s") > 0, 1).otherwise(0)).alias("n_late"),
        F.round(F.percentile("lateness_s", F.lit(0.99)), 2).alias("p99_lateness_s"),
        F.max("lateness_s").cast("bigint").alias("max_lateness_s"),
        round_quotient(
            F.sum(F.when(F.col("lateness_s") > 60, 1).otherwise(0)),
            F.count(F.lit(1)),
            6,
        ).alias("share_beyond_1m"),
    )
