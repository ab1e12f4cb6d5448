"""Queries written in ClickHouse SQL, executed through the dialect
layer (:func:`clickhouse_migrator_spark.migrate.rewrite_query`) and
certified by the same DuckDB oracles as every native query.

This is the end-to-end proof of the "switch engines, keep your SQL"
story: the reference forwards user SQL verbatim to ClickHouse
(`/root/reference/clickhouse_migrate/migrate.py:52,59`); here the same
text runs on Spark after the clause + function-vocabulary rewrites,
and the result hash-matches the oracle.  The rewrites emit only Spark
built-ins, so these plans are identical to their hand-written
DataFrame equivalents — nothing about going through SQL costs plan
quality (same shuffles, same codegen, same pushdown).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as sql_functions

from .. import memo
from ..registry import register
from ..tables import table


def _view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Register fixture ``name`` as a uniquely-prefixed temp view and
    return the view name (unique so driver/test sessions never collide
    with user views)."""
    v = f"__dq_{name}"
    table(spark, sf_dir, name).createOrReplaceTempView(v)
    return v


@register(
    "dialect_limit_by_top_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 2
    """,
)
def dialect_limit_by_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``LIMIT 2 BY o_custkey`` — the raw ClickHouse SQL
    text runs through ``rewrite_query`` and plans as one shuffle on
    the BY key + per-partition ranking (no global sort of the fact
    stream; the outer ORDER BY sorts only survivors)."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "orders")
    return execute_and_inflate(
        spark,
        f"""
        SELECT o_custkey, o_orderkey, o_totalprice FROM {v}
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2 BY o_custkey
        """,
    )


@register(
    "dialect_ch_sql_tokens",
    oracle="""
    WITH e AS (
      SELECT unnest(string_split(event_type, '_')) AS tok, value
      FROM events WHERE value > 10
    )
    SELECT tok, count(*) AS n,
           round(CAST(sum(CASE WHEN value > 50
                               THEN CAST(value AS DECIMAL(18,2)) END)
                      AS DOUBLE), 4) AS hot_value
    FROM e GROUP BY tok
    """,
)
def dialect_ch_sql_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse clause + function vocabulary in one statement:
    ``ARRAY JOIN … AS tok`` (→ LATERAL VIEW explode), ``PREWHERE``
    (→ pushed-down WHERE conjunct), ``sumIf`` (→ conditional sum).
    The rewritten plan is scan → generate → partial agg → one shuffle
    on tok — exactly what the DataFrame spelling produces."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "events")
    return execute_and_inflate(
        spark,
        f"""
        SELECT tok, count(*) AS n,
               round(CAST(sumIf(CAST(value AS DECIMAL(18,2)), value > 50) AS DOUBLE), 4) AS hot_value
        FROM {v}
        ARRAY JOIN splitByChar('_', event_type) AS tok
        PREWHERE value > 10
        GROUP BY tok
        """,
    )


@register(
    "dialect_with_fill_monthly",
    oracle="""
    WITH q AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS mo_idx,
             count(*) AS n
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
    ), g AS (
      SELECT unnest(generate_series((SELECT min(mo_idx) FROM q),
                                    (SELECT max(mo_idx) FROM q))) AS mo_idx
    )
    SELECT g.mo_idx AS mo_idx, q.n AS n FROM g LEFT JOIN q USING (mo_idx)
    """,
)
def dialect_with_fill_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY … WITH FILL`` through the dialect layer: monthly
    urgent-order counts densified over a linear month index.  The grid
    is a generated ``sequence`` bounded by the result's own min/max
    (1-row scalar subqueries — broadcast, no second fact scan), and the
    join against it touches only the already-aggregated months."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "orders")
    return execute_and_inflate(
        spark,
        f"""
        SELECT toInt64(toYear(o_orderdate) * 12 + toMonth(o_orderdate))
                 AS mo_idx,
               count(*) AS n
        FROM {v} WHERE o_orderpriority = '1-URGENT'
        GROUP BY mo_idx
        ORDER BY mo_idx WITH FILL
        """,
    )


@register(
    "dialect_with_totals_status",
    oracle="""
    SELECT o_orderstatus,
           count(*)                    AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
    FROM orders GROUP BY GROUPING SETS ((o_orderstatus), ())
    """,
)
def dialect_with_totals_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``GROUP BY … WITH TOTALS`` end-to-end: the raw SQL
    runs through ``rewrite_query``, which plans it as
    ``GROUPING SETS ((k), ())`` — per-status rows plus ONE all-groups
    totals row (keys NULL).  Spark evaluates grouping sets in a single
    pass (expand + one shuffle), so totals cost one extra partial-agg
    lane, not a second scan."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "orders")
    return execute_and_inflate(
        spark,
        f"""
        SELECT o_orderstatus,
               count(*) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM {v}
        GROUP BY o_orderstatus WITH TOTALS
        """,
    )


@register(
    "dialect_monthly_quantiles",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           round(quantile_cont(o_totalprice, 0.5), 4)    AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4)    AS p90,
           count(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent,
           count(DISTINCT o_custkey)                     AS n_cust
    FROM orders GROUP BY 1
    """,
)
def dialect_monthly_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse aggregate vocabulary in one raw-SQL statement:
    parametric ``quantile(p)(x)`` (→ ``percentile``, which matches
    DuckDB's ``quantile_cont`` interpolation exactly), ``countIf``
    (→ ``count_if``), ``uniqExact`` (→ ``count(DISTINCT …)``) over a
    ``toStartOfMonth`` bucket (→ ``date_trunc`` as DATE).  One shuffle
    on the month key; percentile state is the per-group value buffer —
    at 100 TB swap to ``approx_percentile`` (t-digest spelling
    ``quantileTDigest`` is already in the vocabulary)."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "orders")
    # month is presented as TIMESTAMP: a DATE output collects as
    # datetime.date on Spark vs datetime64 on DuckDB — dtype-divergent
    # through the driver's pandas hash (see schema_sweep.oracle_type_scan)
    return execute_and_inflate(
        spark,
        f"""
        SELECT toStartOfMonth(o_orderdate) AS month,
               round(quantile(0.5)(o_totalprice), 4) AS p50,
               round(quantile(0.9)(o_totalprice), 4) AS p90,
               countIf(o_orderpriority = '1-URGENT') AS n_urgent,
               uniqExact(o_custkey) AS n_cust
        FROM {v}
        GROUP BY month
        """,
    ).withColumn("month", sql_functions.col("month").cast("timestamp_ntz"))


@register(
    "dialect_final_replacing_latest",
    oracle="""
    WITH src AS (
      SELECT o_custkey AS k, o_orderkey AS version, o_totalprice AS price
      FROM orders
    ), r AS (
      SELECT k, version, price,
             row_number() OVER (PARTITION BY k
                                ORDER BY version DESC, price DESC) AS rn
      FROM src
    )
    SELECT k, version, price FROM r WHERE rn = 1
    """,
)
def dialect_final_replacing_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ReplacingMergeTree lifecycle through the dialect layer:
    ClickHouse DDL (``ENGINE = ReplacingMergeTree ORDER BY k``) creates
    a catalog table whose engine/key intent persists as ``clickhouse.*``
    TBLPROPERTIES, a ClickHouse ``INSERT … SELECT`` populates it, and
    ``SELECT … FROM t FINAL`` reads it merge-on-read — one survivor per
    ORDER BY key.  Parquet has no part order, so the survivor is the
    max of the non-key columns (struct comparison) — deterministic,
    documented divergence from ClickHouse's newest-part rule; the
    oracle mirrors it as a lexicographic row_number.  The FINAL dedupe
    is one partial-agg'd shuffle on the key — the same plan OPTIMIZE
    DEDUPLICATE writes, just without the rewrite."""
    import os
    import shutil
    from urllib.parse import urlparse

    from ..migrate import execute_and_inflate, execute_statement

    v = _view(spark, sf_dir, "orders")
    execute_statement(spark, "DROP TABLE IF EXISTS dq_final_orders")
    # a previous session may have left the managed location behind after
    # its in-memory catalog died — purge it or CREATE fails
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    shutil.rmtree(os.path.join(wh.path or "spark-warehouse", "dq_final_orders"),
                  ignore_errors=True)
    execute_statement(
        spark,
        """
        CREATE TABLE dq_final_orders (k UInt64, version UInt64, price Float64)
        ENGINE = ReplacingMergeTree ORDER BY (k)
        """,
    )
    execute_statement(
        spark,
        f"""
        INSERT INTO dq_final_orders
        SELECT o_custkey, o_orderkey, o_totalprice FROM {v}
        """,
    )
    # pinned: the table is dropped next
    out = memo.pin(
        execute_and_inflate(spark, "SELECT k, version, price FROM dq_final_orders FINAL")
    )
    execute_statement(spark, "DROP TABLE dq_final_orders")
    return out


@register(
    "dialect_numbers_grid",
    oracle="""
    SELECT range % 7 AS d, count(*) AS n, CAST(sum(range) AS BIGINT) AS total
    FROM range(1000) GROUP BY 1
    """,
)
def dialect_numbers_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``numbers(N)`` table function — the idiom behind
    generated grids, date spines, and synthetic benchmarks — rewritten
    to Spark's ``range()`` table-valued function (a parallel,
    partitioned source: no data file, no driver loop).  The raw
    ClickHouse text runs through ``rewrite_query`` unchanged."""
    from ..migrate import execute_and_inflate

    return execute_and_inflate(
        spark,
        "SELECT number % 7 AS d, count(*) AS n, sum(number) AS total "
        "FROM numbers(1000) GROUP BY d",
    )


@register(
    "dialect_array_lambdas",
    oracle="""
    WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents)
    SELECT lang,
           round(avg(list_sum(list_transform(toks,
                 w -> CAST(length(w) AS DOUBLE)))), 4) AS avg_chars,
           CAST(max(len(list_distinct(toks))) AS INT)  AS max_uniq
    FROM t GROUP BY lang
    """,
)
def dialect_array_lambdas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse array higher-order vocabulary in raw SQL:
    ``splitByChar`` (→ split, args swapped), ``arrayMap`` (→ transform,
    lambda moved last), ``arraySum`` (→ aggregate fold), ``arrayUniq``
    (→ size∘array_distinct).  Everything rewrites to JVM built-ins
    running inside whole-stage codegen; the only shuffle is the
    per-lang hash aggregate."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "documents")
    return execute_and_inflate(
        spark,
        f"""
        SELECT lang,
               round(avg(arraySum(arrayMap(w -> length(w), toks))), 4)
                 AS avg_chars,
               max(arrayUniq(toks)) AS max_uniq
        FROM (SELECT lang, splitByChar(' ', text) AS toks FROM {v})
        GROUP BY lang
        """,
    )


@register(
    "dialect_group_uniq_concat",
    oracle="""
    SELECT o_orderpriority,
           coalesce(string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus), '')
             AS statuses
    FROM orders GROUP BY o_orderpriority
    """,
)
def dialect_group_uniq_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``arrayStringConcat(arraySort(groupUniqArray(x)), sep)`` — the
    canonical ClickHouse spelling for "distinct values as one ordered
    string" — rewritten to array_join∘array_sort∘collect_set.  The
    sort happens inside each group's (tiny) array, not as a row sort,
    so the text is deterministic on any partitioning."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "orders")
    return execute_and_inflate(
        spark,
        f"""
        SELECT o_orderpriority,
               arrayStringConcat(arraySort(groupUniqArray(o_orderstatus)), ',')
                 AS statuses
        FROM {v}
        GROUP BY o_orderpriority
        """,
    )


@register(
    "dialect_string_search_round3",
    oracle="""
    WITH t AS (
      SELECT source, text,
             string_split_regex(trim(text), '\\s+') AS toks
      FROM documents)
    SELECT source,
           CAST(sum(CAST((length(text) - length(replace(text, 'data', '')))
                    / 4 AS BIGINT)) AS BIGINT)                   AS n_data_hits,
           count(*) FILTER (WHERE text LIKE '%spark%'
                               OR text LIKE '%batch%'
                               OR text LIKE '%window%')          AS n_any_hit,
           max(len(list_filter(toks, w -> length(w) > 4)))       AS max_long_words,
           min(list_filter(toks, w -> length(w) > 4)[1])         AS first_long_word
    FROM t GROUP BY source ORDER BY source
    """,
)
def dialect_string_search_round3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 ClickHouse string/array-search vocabulary, end to end
    from raw ClickHouse SQL: ``countSubstrings`` (occurrence count via
    the length-difference identity), ``multiSearchAny`` with a bracket
    array literal (``[…]`` → ``array(…)``), ``splitByWhitespace``,
    ``arrayCount`` and ``arrayFirst`` (lambda-first forms).  All of it
    rewrites to codegen'd built-ins; one scan + one hash aggregate on
    ``source``."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "documents")
    return execute_and_inflate(
        spark,
        f"""
        SELECT source,
               sum(countSubstrings(text, 'data')) AS n_data_hits,
               countIf(multiSearchAny(text, ['spark', 'batch', 'window']))
                 AS n_any_hit,
               max(arrayCount(w -> length(w) > 4, splitByWhitespace(text)))
                 AS max_long_words,
               min(arrayFirst(w -> length(w) > 4, splitByWhitespace(text)))
                 AS first_long_word
        FROM {v} GROUP BY source ORDER BY source
        """,
    )


@register(
    "dialect_time_round3",
    oracle="""
    SELECT CASE event_type WHEN 'purchase' THEN 'conversion'
                           WHEN 'error' THEN 'failure'
                           ELSE 'other' END AS bucket,
           count(*) AS n,
           min(time_bucket(INTERVAL '30 minutes', ts)) AS first_slot,
           max(monthname(ts)) AS max_month_name,
           max(CAST(floor((epoch(ts) - epoch(TIMESTAMP '2020-01-01 00:00:00'))
                          / 3600) AS BIGINT)) AS max_age_h
    FROM events
    GROUP BY bucket ORDER BY bucket
    """,
)
def dialect_time_round3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 ClickHouse time/value-mapping vocabulary from raw SQL:
    ``transform(x, from, to, default)`` (→ a broadcast-free
    map-literal lookup), ``timeSlot`` (half-hour floor), ``dateName``
    (→ date_format), ``age`` (elapsed complete units — matches Spark's
    ``timestampdiff``), with bracket array literals in the transform
    call.  Single scan, one aggregate on the mapped bucket."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "events")
    return execute_and_inflate(
        spark,
        f"""
        SELECT transform(event_type, ['purchase', 'error'],
                         ['conversion', 'failure'], 'other') AS bucket,
               count(*) AS n,
               min(timeSlot(ts)) AS first_slot,
               max(dateName('month', ts)) AS max_month_name,
               max(age('hour', toDateTime('2020-01-01 00:00:00'), ts)) AS max_age_h
        FROM {v}
        GROUP BY bucket ORDER BY bucket
        """,
    )


@register(
    "dialect_with_rollup_hierarchy",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           count(*) AS n_customers, round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY region_name, nation_name
    """,
)
def dialect_with_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``GROUP BY … WITH ROLLUP`` — the clause passes
    through the dialect layer untouched because Spark SQL accepts the
    identical spelling (proved end-to-end by running the raw text
    through ``execute_and_inflate``'s rewrite path).  Rollup plans as
    ONE Expand + hash aggregate (each input row expanded to its
    grouping sets map-side), not one aggregation per level."""
    from ..migrate import execute_and_inflate

    c = _view(spark, sf_dir, "customer")
    n = _view(spark, sf_dir, "nation")
    r = _view(spark, sf_dir, "region")
    return execute_and_inflate(
        spark,
        f"""
        SELECT coalesce(r_name, 'ALL') AS region_name,
               coalesce(n_name, 'ALL') AS nation_name,
               count(*) AS n_customers, round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_bal
        FROM {c}
        JOIN {n} ON c_nationkey = n_nationkey
        JOIN {r} ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name WITH ROLLUP
        ORDER BY region_name, nation_name
        """,
    )


@register(
    "dialect_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def dialect_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``GROUP BY ALL`` (group by every non-aggregate select
    expression) — Spark SQL accepts the identical spelling, so the
    clause passes through the dialect layer untouched; run end-to-end
    here with ClickHouse function vocabulary (``round``/``sum``) in the
    same statement.  Plans as the ordinary single hash aggregate."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "orders")
    return execute_and_inflate(
        spark,
        f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM {v}
        GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority
        """,
    )


@register(
    "dialect_tuple_in_subquery",
    oracle="""
    SELECT count(*) AS n_matching,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM lineitem l
    JOIN (SELECT l_orderkey AS k, min(l_linenumber) AS ln
          FROM lineitem GROUP BY l_orderkey) f
      ON l.l_orderkey = f.k AND l.l_linenumber = f.ln
    """,
)
def dialect_tuple_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse tuple-IN over a subquery — ``(a, b) IN (SELECT …)`` —
    the composite-key membership idiom.  The spelling passes through
    the dialect layer untouched (Spark SQL accepts it) and Catalyst
    plans it as a LEFT SEMI join on both columns, exactly the
    first-line-of-each-order filter a hand-written semi-join would be."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "lineitem")
    return execute_and_inflate(
        spark,
        f"""
        SELECT count(*) AS n_matching,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM {v}
        WHERE (l_orderkey, l_linenumber) IN (
          SELECT l_orderkey, min(l_linenumber)
          FROM {v} GROUP BY l_orderkey)
        """,
    )


@register(
    "dialect_array_round4",
    oracle="""
    WITH base AS (
      SELECT user_id,
             list_transform(range(0, 6), i -> (user_id + i) % 7) AS arr
      FROM events GROUP BY user_id)
    SELECT user_id,
           array_to_string(list_filter(arr,
             (x, i) -> i = 1 OR x IS DISTINCT FROM arr[i - 1]), ',')
             AS compact_s,
           array_to_string(list_transform(range(1, 7),
             i -> CAST(CASE WHEN i = 1 THEN 0
                            ELSE arr[i] - arr[i - 1] END AS VARCHAR)), ',')
             AS diff_s,
           CAST(arr[1] * arr[2] * arr[3] AS DOUBLE) AS prod3,
           user_id & 1 AS low_bit
    FROM base
    """,
)
def dialect_array_round4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 ClickHouse array/bit vocabulary end to end through the
    dialect layer: ``range`` (guarded 0..n-1), ``arrayMap``,
    ``arrayCompact`` (indexed-lambda consecutive-dup collapse),
    ``arrayDifference`` (first element 0), ``arrayProduct``,
    ``arraySlice``, ``arrayStringConcat``, ``toString`` and ``bitTest``
    — every rewrite lands on JVM higher-order builtins, no UDFs; array
    outputs are emitted as joined strings (driver-hash-safe)."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "events")
    return execute_and_inflate(
        spark,
        f"""
        SELECT user_id,
               arrayStringConcat(arrayMap(x -> toString(x),
                                          arrayCompact(arr)), ',') AS compact_s,
               arrayStringConcat(arrayMap(x -> toString(x),
                                          arrayDifference(arr)), ',') AS diff_s,
               arrayProduct(arraySlice(arr, 1, 3)) AS prod3,
               bitTest(user_id, 0) AS low_bit
        FROM (SELECT user_id,
                     arrayMap(i -> (user_id + i) % 7, range(6)) AS arr
              FROM {v} GROUP BY user_id)
        """,
    )


@register(
    "dialect_round5_scalars",
    oracle="""
    SELECT event_type,
           CAST(sum(CASE WHEN json_extract(props, '$.k') IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT)              AS n_with_k,
           CAST(sum(CASE WHEN json_extract(props, '$.missing') IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT)              AS n_with_missing,
           min(CASE WHEN instr(event_type, 'e') = 0 THEN event_type
                    ELSE substr(event_type, 1, instr(event_type, 'e') - 1)
                         || 'E' || substr(event_type, instr(event_type, 'e') + 1)
               END)                                            AS renamed,
           max(to_base64(CAST(event_type AS BLOB)))            AS b64,
           max(datediff('day', DATE '1858-11-17', CAST(ts AS DATE)))
                                                               AS max_mjd,
           CAST(sum(CASE WHEN len(list_intersect(
                         string_split(event_type, 'i'),
                         ['ew', 'ck'])) > 0
                    THEN 1 ELSE 0 END) AS BIGINT)              AS n_splitmatch
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def dialect_round5_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 function vocabulary end-to-end through the SQL path:
    ``JSONHas`` (→ get_json_object IS NOT NULL), ``replaceOne``
    (→ guarded overlay), ``base64Encode``, ``toModifiedJulianDay``
    (→ datediff from 1858-11-17), ``splitByString`` (→ \\Q-quoted
    split) + ``hasAny`` (→ arrays_overlap), under ``countIf``
    combinators — one ClickHouse statement, one Spark hash aggregate,
    all built-ins (zero UDFs), hash-matched against the oracle."""
    from ..migrate import execute_and_inflate

    v = _view(spark, sf_dir, "events")
    return execute_and_inflate(
        spark,
        f"""
        SELECT event_type,
               countIf(JSONHas(props, 'k'))           AS n_with_k,
               countIf(JSONHas(props, 'missing'))     AS n_with_missing,
               min(replaceOne(event_type, 'e', 'E'))  AS renamed,
               max(base64Encode(event_type))          AS b64,
               max(toModifiedJulianDay(toDate(ts)))   AS max_mjd,
               countIf(hasAny(splitByString('i', event_type),
                              array('ew', 'ck')))     AS n_splitmatch
        FROM {v}
        GROUP BY event_type
        ORDER BY event_type
        """,
    )
