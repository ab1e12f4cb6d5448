"""ClickHouse function-vocabulary translation
(:mod:`clickhouse_migrator_spark.functions.select_funcs`).

The reference forwards user SQL verbatim to ClickHouse
(`/root/reference/clickhouse_migrate/migrate.py:52,59`); running the
same statements here requires translating ClickHouse-only function
spellings to Spark built-ins.  String-level tests pin the rewrite
shapes; execution tests run translated ClickHouse SQL end-to-end over
the testdata parquet and compare against the native Spark spelling.
"""

from __future__ import annotations

import pytest

from clickhouse_migrator_spark import migrate as M
from clickhouse_migrator_spark.functions.select_funcs import (
    _depths,
    rewrite_functions,
)
from clickhouse_migrator_spark.migrate import execute_and_inflate
from clickhouse_migrator_spark.tables import table


@pytest.mark.parametrize(
    "src,expected",
    [
        ("SELECT countIf(x > 1) FROM t", "SELECT count_if(x > 1) FROM t"),
        (
            "SELECT sumIf(v, x > 1) FROM t",
            "SELECT sum(CASE WHEN x > 1 THEN v END) FROM t",
        ),
        ("SELECT uniq(x), uniqExact(y) FROM t",
         "SELECT approx_count_distinct(x), count(DISTINCT y) FROM t"),
        ("SELECT any(x), argMax(a, b) FROM t",
         "SELECT any_value(x), max_by(a, b) FROM t"),
        ("SELECT quantile(0.9)(x) FROM t", "SELECT percentile(x, 0.9) FROM t"),
        ("SELECT median(x) FROM t", "SELECT percentile(x, 0.5) FROM t"),
        (
            "SELECT quantiles(0.25, 0.75)(x) FROM t",
            "SELECT array(percentile(x, 0.25), percentile(x, 0.75)) FROM t",
        ),
        ("SELECT position(h, n) FROM t", "SELECT locate(n, h) FROM t"),
        ("SELECT toInt32(x), toString(y) FROM t",
         "SELECT CAST(x AS INT), CAST(y AS STRING) FROM t"),
        (
            "SELECT toStartOfMonth(d) FROM t",
            "SELECT CAST(date_trunc('MONTH', d) AS DATE) FROM t",
        ),
        ("SELECT toStartOfHour(d) FROM t", "SELECT date_trunc('HOUR', d) FROM t"),
        ("SELECT toYYYYMM(d) FROM t",
         "SELECT CAST(date_format(d, 'yyyyMM') AS INT) FROM t"),
        (
            "SELECT dateDiff('day', a, b), addDays(d, 3) FROM t",
            "SELECT timestampdiff(DAY, a, b), timestampadd(DAY, (3), d) FROM t",
        ),
        (
            "SELECT multiIf(a > 1, 'x', b > 2, 'y', 'z') FROM t",
            "SELECT (CASE WHEN a > 1 THEN 'x' WHEN b > 2 THEN 'y' ELSE 'z' END) FROM t",
        ),
        (
            "SELECT arrayMap(x -> x + 1, arr) FROM t",
            "SELECT transform(arr, x -> x + 1) FROM t",
        ),
        ("SELECT bitAnd(a, b), intDiv(a, b) FROM t",
         "SELECT (a & b), (a DIV b) FROM t"),
        (
            "SELECT formatDateTime(d, '%Y-%m-%d %H:%i') FROM t",
            "SELECT date_format(d, 'yyyy-MM-dd HH:mm') FROM t",
        ),
        # nested: inner ClickHouse calls resolve inside rewritten args
        (
            "SELECT sumIf(toInt64(v), toYear(d) = 1995) FROM t",
            "SELECT sum(CASE WHEN year(d) = 1995 THEN CAST(v AS BIGINT) END) FROM t",
        ),
    ],
)
def test_rewrite_shapes(src, expected):
    assert rewrite_functions(src) == expected


def test_leaves_plain_sql_alone():
    q = "SELECT count(*), sum(x) FROM t WHERE y LIKE 'any(%' GROUP BY z"
    assert rewrite_functions(q) == q


def test_quoted_literals_untouched():
    q = "SELECT 'countIf(x)' AS s, `uniq` FROM t"
    assert rewrite_functions(q) == q


def test_any_subquery_passthrough():
    q = "SELECT * FROM t WHERE x = any(SELECT y FROM u)"
    assert rewrite_functions(q) == q


def test_position_in_form_passthrough():
    q = "SELECT position('a' IN s) FROM t"
    assert rewrite_functions(q) == q


def test_unbalanced_raises():
    with pytest.raises(ValueError):
        rewrite_functions("SELECT sumIf(v, x FROM t")


@pytest.fixture()
def views(spark, sf_dir):
    """Temp views for the execution tests — dropped afterwards so the
    shared session's SHOW TABLES stays clean for other test files."""
    names = ("orders", "lineitem", "events")
    for t in names:
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    yield
    for t in names:
        spark.catalog.dropTempView(t)


def test_execution_aggregate_vocabulary(spark, sf_dir, views):
    """Translated ClickHouse aggregates match native Spark spellings."""
    ch = execute_and_inflate(
        spark,
        """
        SELECT o_orderstatus,
               countIf(o_totalprice > 100000)          AS big,
               sumIf(o_totalprice, toYear(o_orderdate) = 1995) AS rev95,
               uniqExact(o_custkey)                    AS custs,
               argMax(o_orderkey, o_totalprice)        AS top_order,
               round(quantile(0.5)(o_totalprice), 4)   AS med
        FROM orders GROUP BY o_orderstatus
        """,
    ).collect()
    native = spark.sql(
        """
        SELECT o_orderstatus,
               count_if(o_totalprice > 100000)         AS big,
               sum(CASE WHEN year(o_orderdate) = 1995 THEN o_totalprice END) AS rev95,
               count(DISTINCT o_custkey)               AS custs,
               max_by(o_orderkey, o_totalprice)        AS top_order,
               round(percentile(o_totalprice, 0.5), 4) AS med
        FROM orders GROUP BY o_orderstatus
        """
    ).collect()
    assert sorted(map(tuple, ch)) == sorted(map(tuple, native))


def test_execution_scalar_vocabulary(spark, sf_dir, views):
    ch = execute_and_inflate(
        spark,
        """
        SELECT event_id,
               toStartOfMonth(ts)                    AS mo,
               toYYYYMM(ts)                          AS ym,
               toDayOfWeek(ts)                       AS dow_mon1,
               multiIf(value > 50, 'hi', value > 10, 'mid', 'lo') AS tier,
               position(event_type, 'e')             AS e_pos
        FROM events
        """,
    ).collect()
    native = spark.sql(
        """
        SELECT event_id,
               CAST(date_trunc('MONTH', ts) AS DATE)  AS mo,
               CAST(date_format(ts, 'yyyyMM') AS INT) AS ym,
               (dayofweek(ts) + 5) % 7 + 1            AS dow_mon1,
               CASE WHEN value > 50 THEN 'hi'
                    WHEN value > 10 THEN 'mid' ELSE 'lo' END AS tier,
               locate('e', event_type)                AS e_pos
        FROM events
        """
    ).collect()
    assert sorted(map(tuple, ch)) == sorted(map(tuple, native))


def test_migration_dml_uses_ch_vocabulary(spark, tmp_path):
    """ALTER TABLE UPDATE / ADD COLUMN DEFAULT accept ClickHouse
    function spellings (the reference forwards them verbatim to the
    server; here they translate at expression level)."""
    import uuid

    from clickhouse_migrator_spark import migrate as M

    name = "fndml_" + uuid.uuid4().hex[:8]
    M.create_db(spark, name)
    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase(name)
    try:
        M.execute_statement(
            spark,
            "CREATE TABLE ev (id UInt32, d DateTime, v UInt32) "
            "ENGINE = MergeTree ORDER BY (id)",
        )
        spark.sql(
            "INSERT INTO ev VALUES (1, TIMESTAMP'1995-03-15 10:00:00', 4), "
            "(2, TIMESTAMP'1996-07-01 00:00:00', 9)"
        )
        M.execute_statement(
            spark, "ALTER TABLE ev ADD COLUMN ym UInt32 DEFAULT toYYYYMM(d)"
        )
        M.execute_statement(
            spark,
            "ALTER TABLE ev UPDATE v = multiIf(toYear(d) = 1995, bitAnd(v, 3), 0) "
            "WHERE toYear(d) >= 1995",
        )
        rows = {r.id: (r.ym, r.v) for r in spark.table("ev").collect()}
        assert rows == {1: (199503, 0), 2: (199607, 0)}
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql(f"DROP DATABASE `{name}` CASCADE")


# ---- clause-level dialect (PREWHERE / ARRAY JOIN / GLOBAL / FORMAT) ----

from clickhouse_migrator_spark.migrate import _rewrite_clauses


def test_prewhere_alone_becomes_where():
    out = _rewrite_clauses("SELECT x FROM t PREWHERE a > 1 GROUP BY x")
    assert out == "SELECT x FROM t WHERE a > 1 GROUP BY x"


def test_prewhere_merges_with_where():
    out = _rewrite_clauses(
        "SELECT x FROM t PREWHERE a > 1 WHERE b < 2 ORDER BY x"
    )
    assert out == "SELECT x FROM t WHERE (a > 1) AND (b < 2) ORDER BY x"


def test_array_join_to_lateral_view():
    out = _rewrite_clauses("SELECT doc_id, w FROM t ARRAY JOIN words AS w")
    assert out == "SELECT doc_id, w FROM t LATERAL VIEW explode(words) AS w"
    out = _rewrite_clauses("SELECT doc_id, w FROM t LEFT ARRAY JOIN words AS w")
    assert (
        out == "SELECT doc_id, w FROM t LATERAL VIEW OUTER explode(words) AS w"
    )
    # backslash-escaped quotes and comments inside the joined expression
    out = _rewrite_clauses(
        r"SELECT x FROM t ARRAY JOIN splitByChar(',', concat(s, 'it\'s')) AS x"
    )
    assert out == (
        r"SELECT x FROM t LATERAL VIEW "
        r"explode(splitByChar(',', concat(s, 'it\'s'))) AS x"
    )
    out = _rewrite_clauses("SELECT x FROM t ARRAY JOIN arr -- it's\n AS x")
    assert out == "SELECT x FROM t LATERAL VIEW explode(arr) AS x"


def test_array_join_zip_form_raises():
    with pytest.raises(ValueError, match="zip form"):
        _rewrite_clauses("SELECT 1 FROM t ARRAY JOIN a AS x, b AS y")


def test_global_and_format_stripped():
    out = _rewrite_clauses(
        "SELECT x FROM t WHERE k GLOBAL IN (SELECT k FROM u) FORMAT JSONEachRow"
    )
    assert out == "SELECT x FROM t WHERE k IN (SELECT k FROM u)"
    out = _rewrite_clauses("SELECT 1 FROM t SETTINGS max_threads = 8")
    assert out == "SELECT 1 FROM t"


def test_execution_clause_dialect(spark, sf_dir, views):
    """PREWHERE + ARRAY JOIN run end-to-end through execute_and_inflate."""
    ch = execute_and_inflate(
        spark,
        """
        SELECT user_id, tok FROM events
        ARRAY JOIN splitByChar('_', event_type) AS tok
        PREWHERE value > 90
        WHERE event_type != ''
        """,
    )
    native = spark.sql(
        """
        SELECT user_id, tok FROM events
        LATERAL VIEW explode(split(event_type, '_')) AS tok
        WHERE value > 90 AND event_type != ''
        """
    )
    assert sorted(map(tuple, ch.collect())) == sorted(map(tuple, native.collect()))


def test_limit_by_rewrite_shape():
    from clickhouse_migrator_spark.migrate import _rewrite_limit_by

    out = _rewrite_limit_by(
        "SELECT a, b FROM t ORDER BY b DESC LIMIT 2 BY a LIMIT 10"
    )
    assert out == (
        "SELECT * EXCEPT (__rn) FROM ("
        "SELECT *, row_number() OVER (PARTITION BY a ORDER BY b DESC) "
        "AS __rn FROM (SELECT a, b FROM t)"
        ") WHERE __rn <= 2 ORDER BY b DESC LIMIT 10"
    )


def test_limit_by_without_order_by_raises():
    from clickhouse_migrator_spark.migrate import _rewrite_limit_by

    with pytest.raises(ValueError, match="ORDER BY"):
        _rewrite_limit_by("SELECT a FROM t LIMIT 2 BY a")


def test_execution_limit_by(spark, sf_dir, views):
    """LIMIT n BY cols runs end-to-end and matches the native window."""
    ch = execute_and_inflate(
        spark,
        """
        SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2 BY o_custkey
        """,
    )
    native = spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT *, row_number() OVER (
            PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders
        ) WHERE rn <= 2
        """
    )
    assert sorted(map(tuple, ch.collect())) == sorted(map(tuple, native.collect()))


@pytest.mark.parametrize(
    "src,expected",
    [
        (
            "SELECT JSONExtractString(props, 'country') FROM t",
            "SELECT get_json_object(props, '$.country') FROM t",
        ),
        (
            "SELECT JSONExtractInt(props, 'n') FROM t",
            "SELECT CAST(get_json_object(props, '$.n') AS BIGINT) FROM t",
        ),
        # dynamic key: no JSONPath to build — pass through
        (
            "SELECT JSONExtractString(props, k) FROM t",
            "SELECT JSONExtractString(props, k) FROM t",
        ),
        (
            "SELECT replaceAll(s, 'a', 'b'), replaceRegexpAll(s, '[0-9]+', '#') FROM t",
            "SELECT replace(s, 'a', 'b'), regexp_replace(s, '[0-9]+', '#') FROM t",
        ),
        (
            "SELECT arrayStringConcat(arr, ', '), arrayFlatten(aa) FROM t",
            "SELECT array_join(arr, ', '), flatten(aa) FROM t",
        ),
        (
            "SELECT tupleElement(tuple(a, b), 2) FROM t",
            "SELECT (struct(a, b).col2) FROM t",
        ),
        (
            "SELECT isNull(x), ifNull(x, 0), assumeNotNull(y) FROM t",
            "SELECT (x IS NULL), nvl(x, 0), (y) FROM t",
        ),
    ],
)
def test_rewrite_shapes_round2(src, expected):
    assert rewrite_functions(src) == expected


def test_comments_untouched():
    q = "SELECT sum(x) FROM t -- note: any( open paren in comment\nWHERE y > 1"
    assert rewrite_functions(q) == q
    q2 = "SELECT /* uses countIf( */ count(*) FROM t"
    assert rewrite_functions(q2) == q2


@pytest.mark.parametrize(
    "src,expected",
    [
        (
            "SELECT uniqUpTo(3)(x) FROM t",
            "SELECT least(count(DISTINCT x), 4) FROM t",
        ),
        ("SELECT uniqUpTo(x) FROM t",
         "SELECT least(count(DISTINCT x), 6) FROM t"),
        (
            "SELECT groupArray(5)(x) FROM t",
            "SELECT slice(collect_list(x), 1, 5) FROM t",
        ),
        ("SELECT groupArray(x) FROM t", "SELECT collect_list(x) FROM t"),
        (
            "SELECT quantileTDigest(0.95)(x) FROM t",
            "SELECT approx_percentile(x, 0.95) FROM t",
        ),
        ("SELECT quantile(x) FROM t", "SELECT percentile(x, 0.5) FROM t"),
        (
            "SELECT avgWeighted(price, qty) FROM t",
            "SELECT (sum((price) * (qty)) / sum(qty)) FROM t",
        ),
    ],
)
def test_parametric_round2(src, expected):
    assert rewrite_functions(src) == expected


def test_with_fill_rewrite_shape():
    from clickhouse_migrator_spark.migrate import _rewrite_with_fill

    out = _rewrite_with_fill(
        "SELECT d, count(*) AS n FROM t GROUP BY d ORDER BY d WITH FILL STEP 1"
    )
    # defaulted bounds fold into ONE 1-row aggregate subquery (a
    # per-bound scalar subquery re-runs the whole inner aggregate)
    assert out == (
        "WITH __wf AS (SELECT d, count(*) AS n FROM t GROUP BY d) "
        "SELECT * FROM __wf FULL OUTER JOIN "
        "(SELECT explode(sequence(__lo, __hi, 1)) AS d FROM "
        "(SELECT min(d) AS __lo, max(d) AS __hi FROM __wf)) "
        "USING (d) ORDER BY d"
    )


@pytest.mark.parametrize(
    "query",
    [
        "SELECT d AS __lo, count(*) AS n FROM t GROUP BY d ORDER BY __lo WITH FILL",
        "SELECT d, max(v) AS `__HI` FROM t GROUP BY d ORDER BY d WITH FILL FROM 0 TO 9",
        "SELECT d, __wf FROM t ORDER BY d WITH FILL STEP 1",
    ],
)
def test_with_fill_reserved_names_raise(query):
    """A fill column or inner projection named like the rewrite's own
    CTE (``__wf``) or bounds (``__lo``/``__hi``) would be rebound to
    them; the rewrite refuses instead of answering wrongly."""
    from clickhouse_migrator_spark.migrate import _rewrite_with_fill

    with pytest.raises(ValueError, match="WITH FILL is supported"):
        _rewrite_with_fill(query)


def test_with_fill_reserved_name_in_literal_is_data():
    from clickhouse_migrator_spark.migrate import _rewrite_with_fill

    out = _rewrite_with_fill("SELECT d, '__lo' AS s FROM t ORDER BY d WITH FILL FROM 0 TO 3")
    assert out.startswith("WITH __wf AS (SELECT d, '__lo' AS s FROM t)")
    q = r"SELECT d, 'it\'s __wf' AS c FROM t ORDER BY d WITH FILL FROM 1 TO 5"
    out = _rewrite_with_fill(q)
    assert out.startswith(r"WITH __wf AS (SELECT d, 'it\'s __wf' AS c FROM t)")


def test_with_fill_execution(spark, sf_dir, views):
    """WITH FILL densifies integer gaps; filled rows carry NULL counts."""
    ch = execute_and_inflate(
        spark,
        """
        SELECT toInt64(value) DIV 20 AS bucket, count(*) AS n
        FROM events WHERE value >= 0
        GROUP BY bucket
        ORDER BY bucket WITH FILL FROM 0 TO 10
        """,
    )
    rows = {r.bucket: r.n for r in ch.collect()}
    # grid is dense over [0, 10) plus any observed buckets outside it
    assert set(range(10)) <= set(rows)
    native = {
        r.bucket: r.n
        for r in spark.sql(
            """
            SELECT CAST(value AS BIGINT) DIV 20 AS bucket, count(*) AS n
            FROM events WHERE value >= 0 GROUP BY bucket
            """
        ).collect()
    }
    for b, n in native.items():
        assert rows[b] == n
    for b in set(rows) - set(native):
        assert rows[b] is None


def test_distinct_if_combinators():
    assert rewrite_functions("SELECT uniqExactIf(u, v > 1) FROM t") == (
        "SELECT count(DISTINCT CASE WHEN v > 1 THEN u END) FROM t"
    )
    assert rewrite_functions("SELECT anyIf(u, v > 1) FROM t") == (
        "SELECT any_value(CASE WHEN v > 1 THEN u END, true) FROM t"
    )


def test_rewriter_fixed_point_and_oracle_safety():
    """Two safety invariants over the whole registry: (1) rewriting is
    idempotent — output is always a fixed point (no rewrite loops, no
    double-mangling); (2) ordinary SQL is untouched — the registry's
    own DuckDB oracle strings pass through unchanged, except (a) the
    one that uses `median()`, which maps to the semantically identical
    `percentile(x, 0.5)` (ClickHouse's `median` must translate; Spark's
    own median IS the 0.5 percentile), and (b) `[…]` list literals,
    which DuckDB spells exactly like ClickHouse array literals — those
    normalize to `array(…)` by design, so they are factored out of the
    comparison here."""
    from clickhouse_migrator_spark.functions.select_funcs import (
        _rewrite_array_literals,
    )
    from clickhouse_migrator_spark.registry import all_specs

    changed = set()
    for name, spec in all_specs().items():
        if not spec.oracle:
            continue
        once = rewrite_functions(spec.oracle)
        assert rewrite_functions(once) == once, f"not idempotent: {name}"
        if once != _rewrite_array_literals(spec.oracle):
            changed.add(name)
    assert changed == {"agg_order_statistics"}


@pytest.mark.parametrize(
    "src,expected",
    [
        ("SELECT lengthUTF8(s), lowerUTF8(s) FROM t",
         "SELECT length(s), lower(s) FROM t"),
        (
            "SELECT toDecimal64(x, 4) FROM t",
            "SELECT CAST(x AS DECIMAL(18, 4)) FROM t",
        ),
        (
            "SELECT fromUnixTimestamp(x) FROM t",
            "SELECT timestamp_seconds(x) FROM t",
        ),
        ("SELECT currentDatabase(), e() FROM t",
         "SELECT current_database(), exp(1) FROM t"),
        # e used as a real function/alias with args: untouched
        ("SELECT e(x) FROM t", "SELECT e(x) FROM t"),
        (
            "SELECT simpleJSONExtractString(j, 'k') FROM t",
            "SELECT get_json_object(j, '$.k') FROM t",
        ),
    ],
)
def test_rewrite_shapes_round3(src, expected):
    assert rewrite_functions(src) == expected


@pytest.mark.parametrize(
    "src,expected",
    [
        (
            "SELECT arrayIntersect(a, b) FROM t",
            "SELECT array_intersect(a, b) FROM t",
        ),
        # 3-arg arrayIntersect has no binary Spark spelling: rule declines
        (
            "SELECT arrayIntersect(a, b, c) FROM t",
            "SELECT arrayIntersect(a, b, c) FROM t",
        ),
        (
            "SELECT arrayZip(a, b), arrayPushBack(a, 1) FROM t",
            "SELECT arrays_zip(a, b), array_append(a, 1) FROM t",
        ),
        (
            "SELECT arrayPopBack(a) FROM t",
            "SELECT slice(a, 1, greatest(size(a) - 1, 0)) FROM t",
        ),
        (
            "SELECT arrayUniq(a), arrayEnumerate(a), arrayElement(a, 2) FROM t",
            "SELECT size(array_distinct(a)), sequence(1, size(a)),"
            " element_at(a, 2) FROM t",
        ),
        (
            "SELECT arrayEnumerateUniq(a) FROM t",
            "SELECT transform(a, (_x, _i) ->"
            " size(filter(slice(a, 1, _i + 1), _y -> _y = _x))) FROM t",
        ),
        (
            "SELECT arrayMin(a), arrayMax(a) FROM t",
            "SELECT array_min(a), array_max(a) FROM t",
        ),
        (
            "SELECT arraySum(a) FROM t",
            "SELECT aggregate(a, CAST(0 AS DOUBLE), (_acc, _x) -> _acc + _x)"
            " FROM t",
        ),
        ("SELECT groupConcat(x) FROM t", "SELECT listagg(x) FROM t"),
    ],
)
def test_rewrite_shapes_arrays_round2(src, expected):
    assert rewrite_functions(src) == expected


def test_array_round2_rewrites_execute(spark):
    """The rewritten spellings are legal Spark SQL with correct values."""
    row = spark.sql(
        rewrite_functions(
            "SELECT arrayIntersect(array(1, 2, 3), array(2, 3, 4)) AS i, "
            "arrayUniq(array(1, 1, 2)) AS u, "
            "arrayEnumerateUniq(array('a', 'b', 'a')) AS e, "
            "arraySum(array(1, 2, 3)) AS s, "
            "arrayPopBack(array(7, 8, 9)) AS p"
        )
    ).first()
    assert sorted(row.i) == [2, 3]
    assert row.u == 2
    assert list(row.e) == [1, 1, 2]
    assert row.s == 6.0
    assert list(row.p) == [7, 8]


@pytest.mark.parametrize(
    "src,expected",
    [
        ("SELECT sumOrNull(x) FROM t", "SELECT sum(x) FROM t"),
        ("SELECT countOrNull(x) FROM t", "SELECT nullif(count(x), 0) FROM t"),
        (
            "SELECT sumOrDefault(x), avgOrDefault(x) FROM t",
            "SELECT coalesce(sum(x), 0), coalesce(avg(x), 0.0) FROM t",
        ),
        (
            "SELECT sumArray(a) FROM t",
            "SELECT sum(aggregate(a, CAST(0 AS DOUBLE), (_a, _x) -> _a + _x))"
            " FROM t",
        ),
        (
            "SELECT countArray(a), minArray(a), maxArray(a) FROM t",
            "SELECT sum(size(a)), min(array_min(a)), max(array_max(a)) FROM t",
        ),
        (
            "SELECT groupArrayArray(a) FROM t",
            "SELECT flatten(collect_list(a)) FROM t",
        ),
    ],
)
def test_rewrite_agg_combinators(src, expected):
    assert rewrite_functions(src) == expected


def test_agg_combinators_execute(spark):
    row = spark.sql(
        rewrite_functions(
            "SELECT sumArray(a) AS s, countArray(a) AS c, avgArray(a) AS av, "
            "minArray(a) AS mn, groupArrayArray(a) AS g "
            "FROM VALUES (array(1.0, 2.0)), (array(3.0)) AS t(a)"
        )
    ).first()
    assert row.s == 6.0 and row.c == 3 and row.av == 2.0 and row.mn == 1.0
    assert sorted(row.g) == [1.0, 2.0, 3.0]
    # OrNull / OrDefault on an EMPTY input
    row2 = spark.sql(
        rewrite_functions(
            "SELECT sumOrNull(x) AS sn, countOrNull(x) AS cn, "
            "sumOrDefault(x) AS sd FROM (SELECT 1 AS x WHERE false)"
        )
    ).first()
    assert row2.sn is None and row2.cn is None and row2.sd == 0


@pytest.mark.parametrize(
    "src,expected",
    [
        (
            "SELECT arrayCount(x -> x > 2, a) FROM t",
            "SELECT size(filter(a, x -> x > 2)) FROM t",
        ),
        (
            "SELECT arrayCount(a) FROM t",
            "SELECT size(filter(a, _x -> _x != 0)) FROM t",
        ),
        (
            "SELECT arrayFirst(x -> x > 2, a) FROM t",
            "SELECT get(filter(a, x -> x > 2), 0) FROM t",
        ),
        (
            "SELECT arrayFirstIndex(x -> x > 2, a) FROM t",
            "SELECT array_position(transform(a, x -> x > 2), true) FROM t",
        ),
        (
            "SELECT arrayReverseSort(a) FROM t",
            "SELECT reverse(array_sort(a)) FROM t",
        ),
        (
            "SELECT multiSearchAny(s, ['a','b']) FROM t",
            "SELECT exists(array('a','b'), _n -> contains(s, _n)) FROM t",
        ),
        (
            "SELECT roundBankers(v, 2) FROM t",
            "SELECT bround(v, 2) FROM t",
        ),
        (
            "SELECT substringIndex(s, ' ', 2) FROM t",
            "SELECT substring_index(s, ' ', 2) FROM t",
        ),
        # ClickHouse 4-arg transform rewrites; Spark's 2-arg higher-order
        # transform passes through
        (
            "SELECT transform(a, x -> x + 1) FROM t",
            "SELECT transform(a, x -> x + 1) FROM t",
        ),
        # array literals: literal-start brackets rewrite, indexing doesn't
        (
            "SELECT [1, 2][1] AS x, a[1] FROM t",
            "SELECT array(1, 2)[1] AS x, a[1] FROM t",
        ),
        (
            "SELECT '[not an array]' AS s FROM t",
            "SELECT '[not an array]' AS s FROM t",
        ),
    ],
)
def test_rewrite_shapes_round3_vocab(src, expected):
    assert rewrite_functions(src) == expected


def test_round3_rewrites_execute(spark):
    row = spark.sql(
        rewrite_functions(
            "SELECT arrayCount(x -> x > 1, [1, 2, 3]) AS c, "
            "arrayFirst(x -> x > 1, [1, 2, 3]) AS f, "
            "arrayFirst(x -> x > 9, [1, 2, 3]) AS f_none, "
            "arrayLast(x -> x > 1, [1, 2, 3]) AS l, "
            "arrayFirstIndex(x -> x > 2, [1, 2, 3]) AS fi, "
            "arrayResize([1, 2], 4, 0) AS rz, "
            "arrayResize([1, 2, 3], 2) AS shrink, "
            "countSubstrings('abcabc', 'bc') AS cs, "
            "multiSearchAny('haystack', ['xyz', 'stack']) AS ms, "
            "transform('b', ['a', 'b'], ['x', 'y'], 'z') AS tr, "
            "transform('q', ['a', 'b'], ['x', 'y'], 'z') AS tr_def, "
            "intDivOrZero(7, 0) AS dz, moduloOrZero(7, 0) AS mz, "
            "roundBankers(2.5) AS rb, "
            "age('day', toDateTime('2020-01-01 00:00:00'), "
            "toDateTime('2020-01-03 12:00:00')) AS age_d, "
            "dateName('month', toDateTime('2020-03-05 00:00:00')) AS mn, "
            "toLastDayOfMonth(toDate('2020-02-05')) AS ld, "
            "splitByWhitespace('  a  b c ') AS sw, "
            "substringIndex('a.b.c', '.', 2) AS si"
        )
    ).first()
    assert row.c == 2 and row.f == 2 and row.f_none is None and row.l == 3
    assert row.fi == 3 and row.rz == [1, 2, 0, 0] and row.shrink == [1, 2]
    assert row.cs == 2 and row.ms is True
    assert row.tr == "y" and row.tr_def == "z"
    assert row.dz == 0 and row.mz == 0 and row.rb == 2.0
    assert row.age_d == 2 and row.mn == "March"
    assert str(row.ld) == "2020-02-29" and row.sw == ["a", "b", "c"]
    assert row.si == "a.b"


def test_round3_search_aliases(spark):
    assert rewrite_functions("SELECT lagInFrame(v) OVER w FROM t") == (
        "SELECT lag(v) OVER w FROM t"
    )
    assert rewrite_functions("SELECT extract(y FROM ts) FROM t") == (
        "SELECT extract(y FROM ts) FROM t"
    )
    row = spark.sql(
        rewrite_functions(
            "SELECT positionCaseInsensitive('Haystack', 'STACK') AS p, "
            "countMatches('a1b22c333', '[0-9]+') AS cm, "
            "extract('a1b22', '[0-9]+') AS ex, "
            "ilike('HayStack', 'hay%') AS il, "
            "notLike('abc', 'a%') AS nl"
        )
    ).first()
    assert row.p == 4 and row.cm == 3 and row.ex == "1"
    assert row.il is True and row.nl is False


def test_round3_quantile_variants_and_jaccard(spark):
    assert rewrite_functions("SELECT quantileTiming(0.9)(v) FROM t") == (
        "SELECT percentile(v, 0.9) FROM t"
    )
    assert rewrite_functions("SELECT quantileDeterministic(0.5)(v, d) FROM t") == (
        "SELECT percentile(v, 0.5) FROM t"
    )
    row = spark.sql(
        rewrite_functions("SELECT arrayJaccardIndex([1,2,3], [2,3,4]) AS j")
    ).first()
    assert abs(row.j - 0.5) < 1e-12


def test_migration_dml_round3_vocabulary(spark):
    """Round-3 vocabulary (transform value-mapping with bracket array
    literals, dateName, roundBankers, age) reaches the copy-on-write
    DML path the same way earlier rounds do — migrations written for
    ClickHouse run unchanged."""
    import uuid

    from clickhouse_migrator_spark import migrate as M

    name = "fndml3_" + uuid.uuid4().hex[:8]
    M.create_db(spark, name)
    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase(name)
    try:
        M.execute_statement(
            spark,
            "CREATE TABLE ev3 (id UInt32, d DateTime, tier String) "
            "ENGINE = MergeTree ORDER BY (id)",
        )
        spark.sql(
            "INSERT INTO ev3 VALUES (1, TIMESTAMP'2020-03-05 00:00:00', 'a'), "
            "(2, TIMESTAMP'2021-07-01 12:00:00', 'b'), "
            "(3, TIMESTAMP'2022-01-01 00:00:00', 'q')"
        )
        M.execute_statement(
            spark,
            "ALTER TABLE ev3 ADD COLUMN mn String DEFAULT dateName('month', d)",
        )
        M.execute_statement(
            spark,
            "ALTER TABLE ev3 UPDATE tier = transform(tier, ['a', 'b'], "
            "['alpha', 'beta'], 'other') "
            "WHERE age('year', toDateTime('2019-01-01 00:00:00'), d) >= 1",
        )
        rows = {r.id: (r.mn, r.tier) for r in spark.table("ev3").collect()}
        assert rows == {
            1: ("March", "alpha"),
            2: ("July", "beta"),
            3: ("January", "other"),
        }
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql(f"DROP DATABASE `{name}` CASCADE")


def test_to_interval_constructors(spark):
    assert rewrite_functions("SELECT d + toIntervalDay(3) FROM t") == (
        "SELECT d + make_interval(0, 0, 0, 3) FROM t"
    )
    row = spark.sql(
        rewrite_functions(
            "SELECT CAST(toDateTime('2020-01-31 00:00:00') + toIntervalMonth(1) "
            "AS DATE) AS m, "
            "CAST(toDateTime('2020-01-01 00:00:00') + toIntervalWeek(2) AS DATE) AS w, "
            "toDateTime('2020-01-01 00:00:00') - toIntervalHour(1) AS h"
        )
    ).first()
    assert str(row.m) == "2020-02-29" and str(row.w) == "2020-01-15"
    assert str(row.h).startswith("2019-12-31 23:00")


def test_iso_week_aliases(spark):
    row = spark.sql(
        rewrite_functions(
            "SELECT toISOWeek(toDate('2021-01-01')) AS w, "
            "toISOYear(toDate('2021-01-01')) AS y"
        )
    ).first()
    # 2021-01-01 falls in ISO week 53 of ISO year 2020
    assert row.w == 53 and row.y == 2020


def test_to_week_mode0_semantics(spark):
    """ClickHouse toWeek defaults to MODE 0 (Sunday-first, weeks 0-53),
    NOT ISO: toWeek('2021-01-01') = 0 (the year's first Sunday is
    Jan 3), toWeek('2021-01-03') = 1.  Mode 3 = ISO -> weekofyear;
    other modes decline to passthrough rather than translate wrongly."""
    row = spark.sql(
        rewrite_functions(
            "SELECT toWeek(toDate('2021-01-01')) AS w_jan1, "
            "toWeek(toDate('2021-01-02')) AS w_jan2, "
            "toWeek(toDate('2021-01-03')) AS w_first_sunday, "
            "toWeek(toDate('2021-01-09')) AS w_sat, "
            "toWeek(toDate('2021-01-10')) AS w_sun2, "
            "toWeek(toDate('2017-01-01')) AS w_jan1_sunday, "
            "toWeek(toDate('2021-06-15'), 3) AS w_iso"
        )
    ).first()
    assert row.w_jan1 == 0 and row.w_jan2 == 0
    assert row.w_first_sunday == 1 and row.w_sat == 1 and row.w_sun2 == 2
    # 2017-01-01 was a Sunday: week 1 starts on Jan 1 in mode 0
    assert row.w_jan1_sunday == 1
    assert row.w_iso == 24
    # unknown mode: decline (passthrough untouched)
    assert rewrite_functions("SELECT toWeek(d, 1) FROM t") == (
        "SELECT toWeek(d, 1) FROM t"
    )


def test_transform_first_match_and_null_mapping(spark):
    """ClickHouse transform takes the FIRST match on duplicate keys and
    returns a mapped NULL as NULL (not the default); the old
    map_from_arrays spelling threw DUPLICATE_MAP_KEY / masked NULLs."""
    row = spark.sql(
        rewrite_functions(
            "SELECT transform('a', ['a', 'a'], ['x', 'y'], 'z') AS first_match, "
            "transform('b', ['a', 'b'], ['x', NULL], 'z') AS mapped_null, "
            "transform('q', ['a', 'b'], ['x', 'y'], 'z') AS dflt"
        )
    ).first()
    assert row.first_match == "x"
    assert row.mapped_null is None
    assert row.dflt == "z"


def test_extract_capturing_group(spark):
    """ClickHouse extract() returns the first capturing group when the
    pattern has one, else the whole match."""
    row = spark.sql(
        rewrite_functions(
            r"SELECT extract('key=42;', 'key=([0-9]+)') AS grp, "
            r"extract('a1b22', '[0-9]+') AS whole, "
            r"extract('x(y)z', 'x\\(y\\)') AS esc, "
            r"extract('abc', '(?:a)(b)') AS noncap"
        )
    ).first()
    assert row.grp == "42"
    assert row.whole == "1"
    assert row.esc == "x(y)"   # escaped parens: whole match
    assert row.noncap == "b"   # (?:...) skipped, real group found


def test_round4_array_reshaping(spark):
    row = spark.sql(
        rewrite_functions(
            "SELECT arrayCompact([1, 1, 2, 2, 2, 1]) AS compact, "
            "arrayEnumerateDense([10, 20, 10, 30]) AS dense, "
            "arrayDifference([1, 4, 9, 16]) AS diff, "
            "arrayCumSum([1, 2, 3]) AS cs, "
            "arrayProduct([2.0, 3.0, 4.0]) AS prod, "
            "size(emptyArrayString()) AS empt, "
            "range(4) AS r1, range(0) AS r0"
        )
    ).first()
    assert row.compact == [1, 2, 1]
    assert row.dense == [1, 2, 1, 3]
    assert row.diff == [0, 3, 5, 7]
    assert row.cs == [1.0, 3.0, 6.0]
    assert row.prod == 24.0
    assert row.empt == 0
    assert row.r1 == [0, 1, 2, 3] and row.r0 == []


def test_round4_bits_time_maps_geo(spark):
    row = spark.sql(
        rewrite_functions(
            "SELECT bitTest(5, 0) AS b0, bitTest(5, 1) AS b1, "
            "toStartOfFifteenMinutes(toDateTime('2021-06-01 12:23:45')) AS q15, "
            "toStartOfTenMinutes(toDateTime('2021-06-01 12:23:45')) AS q10, "
            "timeDiff(toDateTime('2021-01-01 00:00:00'), "
            "         toDateTime('2021-01-01 00:01:30')) AS td, "
            "mapContains(map('a', 1), 'a') AS mc, "
            "round(greatCircleDistance(-86.5813, 34.7309, "
            "                          -86.7677, 34.7309) / 1000, 0) AS dist_km, "
            "formatReadableQuantity(1234567) AS frq, "
            "formatReadableQuantity(12) AS frq_small"
        )
    ).first()
    assert row.b0 == 1 and row.b1 == 0
    assert str(row.q15).startswith("2021-06-01 12:15:00")
    assert str(row.q10).startswith("2021-06-01 12:20:00")
    assert row.td == 90
    assert row.mc is True
    # ClickHouse documents greatCircleDistance for this pair as ~17 km
    assert abs(row.dist_km - 17) <= 1
    assert row.frq == "1.23 million"
    assert row.frq_small == "12"


def test_round5_string_array_json_time(spark):
    row = spark.sql(
        rewrite_functions(
            "SELECT splitByString('==', 'a==b==c') AS sbs, "
            "replaceOne('banana', 'an', 'X') AS r1, "
            "replaceOne('banana', 'zz', 'X') AS r_miss, "
            "JSONHas('{\"k\": 1}', 'k') AS jh, "
            "JSONHas('{\"k\": 1}', 'nope') AS jh_no, "
            "dateSub('DAY', 3, toDate('2021-01-10')) AS ds, "
            "base64Encode('spark') AS b64, "
            "base64Decode('c3Bhcms=') AS b64d, "
            "hasAll([1, 2, 3, 4], [2, 4]) AS hall, "
            "hasAll([1, 2], [2, 9]) AS hall_no, "
            "hasAny([1, 2], [2, 9]) AS hany, "
            "hasAny([1, 2], [8, 9]) AS hany_no, "
            "toModifiedJulianDay(toDate('1858-11-17')) AS mjd0, "
            "toModifiedJulianDay(toDate('2020-01-01')) AS mjd"
        )
    ).first()
    assert row.sbs == ["a", "b", "c"]
    assert row.r1 == "bXana" and row.r_miss == "banana"
    assert row.jh is True and row.jh_no is False
    assert str(row.ds).startswith("2021-01-07")
    assert row.b64 == "c3Bhcms=" and row.b64d == "spark"
    assert row.hall is True and row.hall_no is False
    assert row.hany is True and row.hany_no is False
    assert row.mjd0 == 0 and row.mjd == 58849


def test_format_readable_size(spark):
    row = spark.sql(
        rewrite_functions(
            "SELECT formatReadableSize(1536) AS k, "
            "formatReadableSize(1073741824) AS g, "
            "formatReadableSize(12) AS b, "
            "formatReadableSize(1125899906842624) AS p, "
            "formatReadableSize(2305843009213693952) AS e"
        )
    ).first()
    # ClickHouse prints fixed two decimals at every tier
    assert row.k == "1.50 KiB"
    assert row.g == "1.00 GiB"
    assert row.b == "12.00 B"
    assert row.p == "1.00 PiB"
    assert row.e == "2.00 EiB"


def test_if_combinators_round6(spark):
    """r3 combinator additions: argMaxIf/argMinIf (null-keyed rows are
    ignored by max_by/min_by, so gating key AND value on the condition
    reproduces the ClickHouse semantics), groupArrayIf/groupUniqArrayIf
    (collect_* skip NULLs), corrIf, medianIf, quantile*If, uniqArray,
    stddev/var -If forms."""
    spark.range(10).selectExpr(
        "id", "id * 2 AS v", "id % 3 = 0 AS c", "array(id, id + 10) AS arr"
    ).createOrReplaceTempView("t_comb")
    row = spark.sql(
        rewrite_functions(
            "SELECT argMaxIf(id, v, c) AS amx, "
            "argMinIf(id, v, c) AS amn, "
            "sort_array(groupArrayIf(id, c)) AS ga, "
            "size(groupUniqArrayIf(id % 2, c)) AS gua, "
            "medianIf(id, c) AS med, "
            "quantileIf(1.0)(id, c) AS q1, "
            "uniqArray(arr) AS ua, "
            "varPopIf(id, id < 0) AS vempty "
            "FROM t_comb"
        )
    ).first()
    # condition keeps ids 0, 3, 6, 9
    assert row.amx == 9 and row.amn == 0
    assert list(row.ga) == [0, 3, 6, 9]
    assert row.gua == 2  # {0, 1}
    assert row.med == 4.5 and row.q1 == 9.0
    assert row.ua == 20  # ids 0..9 and 10..19, all distinct
    assert row.vempty is None  # empty -If input stays NULL


def test_uniq_array_sole_aggregate_takes_explode_path(spark):
    """VERDICT r5 #3: with uniqArray the only aggregate, the rewrite is
    structural — explode_outer + count(DISTINCT) in a subquery (shuffle,
    no per-group array buffer)."""
    sql = rewrite_functions("SELECT uniqArray(arr) AS ua FROM t_uniq")
    assert "explode_outer(arr)" in sql and "count(DISTINCT _ua_el)" in sql
    assert "collect_set" not in sql
    # 1000 rows of the SAME 3-element array: distinct count 3
    spark.range(1000).selectExpr(
        "array(1, 1, 2, 2, 3, 3) AS arr"
    ).createOrReplaceTempView("t_uniq")
    assert spark.sql(sql).first().ua == 3


def test_uniq_array_grouped_explode_path(spark):
    """Grouped form: other select items that ARE the group keys still
    allow the explode rewrite; groups whose arrays are all empty must
    survive with count 0 (explode_outer, not explode)."""
    spark.range(10).selectExpr(
        "id % 2 AS g",
        "CASE WHEN id % 2 = 0 THEN array(id, id + 100) ELSE array() END AS arr",
    ).createOrReplaceTempView("t_uniq_g")
    sql = rewrite_functions(
        "SELECT g, uniqArray(arr) AS ua FROM t_uniq_g GROUP BY g ORDER BY g"
    )
    assert "explode_outer(arr)" in sql and "GROUP BY g" in sql
    rows = spark.sql(sql).collect()
    assert [(r.g, r.ua) for r in rows] == [(0, 10), (1, 0)]


def test_uniq_array_fallback_buffering_template(spark):
    """ADVICE r4 #5 contract still holds on the FALLBACK path (another
    aggregate alongside): per-row-deduped, null-compacted collect_set —
    and the two forms agree exactly, including NULL elements and empty
    groups."""
    sql = rewrite_functions(
        "SELECT count(*) AS n, uniqArray(arr) AS ua FROM t_uniq_n"
    )
    assert "collect_set(array_distinct(array_compact(arr)))" in sql
    spark.range(6).selectExpr(
        "CASE WHEN id < 3 THEN array(id, NULL, 99) ELSE array() END AS arr"
    ).createOrReplaceTempView("t_uniq_n")
    row = spark.sql(sql).first()
    assert row.n == 6
    assert row.ua == 4  # {0,1,2,99} — NULL elements skipped like ClickHouse
    sole = rewrite_functions("SELECT uniqArray(arr) AS ua FROM t_uniq_n")
    assert "explode_outer" in sole
    assert spark.sql(sole).first().ua == 4  # both forms agree


def test_uniq_array_unsafe_shapes_keep_template():
    """Shapes the scanner cannot prove safe must fall back: joins,
    table-qualified refs, HAVING, windows, missing alias, subquery FROM."""
    unsafe = [
        # a CTE prefix must NOT be dropped by the span reassembly
        "WITH c AS (SELECT arr FROM t) SELECT uniqArray(arr) AS ua FROM c",
        "SELECT uniqArray(arr) AS ua FROM a JOIN b ON a.k = b.k",
        "SELECT t.g, uniqArray(arr) AS ua FROM t GROUP BY t.g",
        "SELECT g, uniqArray(arr) AS ua FROM t GROUP BY g HAVING ua > 1",
        "SELECT uniqArray(arr) FROM t",
        "SELECT uniqArray(arr) AS ua FROM (SELECT * FROM t) s",
        "SELECT g, uniqArray(arr) AS ua, sum(v) AS s FROM t GROUP BY g",
        # ADVICE r6 #1: alias shadowing a base column — sum(v) AS k
        # with GROUP BY k must NOT be accepted via the alias match
        "SELECT sum(v) AS k, uniqArray(arr) AS ua FROM t GROUP BY k",
        # ADVICE r6 #2: an aggregate in ORDER BY would evaluate over
        # exploded rows in the rewritten query
        "SELECT g, uniqArray(arr) AS ua FROM t GROUP BY g ORDER BY count(*) DESC",
        "SELECT g, uniqArray(arr) AS ua FROM t GROUP BY g ORDER BY sum(v)",
        # ADVICE r6 #3: the statement already mentions _ua_el — the
        # inner subquery's exploded column would be ambiguous
        "SELECT uniqArray(_ua_el) AS ua FROM t",
    ]
    for sql in unsafe:
        out = rewrite_functions(sql)
        assert "explode_outer" not in out, sql
        assert "collect_set(array_distinct(array_compact(" in out, sql


def test_uniq_array_alias_shadowing_not_inflated(spark):
    """ADVICE r6 #1 end-to-end: `sum(v) AS k … GROUP BY k` where the
    table ALSO has a base column k.  The fallback template must be used
    and the sum must not be inflated by explode fan-out."""
    spark.range(6).selectExpr(
        "id % 2 AS k", "1 AS v", "array(1, 2, 3) AS arr"
    ).createOrReplaceTempView("t_uniq_shadow")
    sql = rewrite_functions(
        "SELECT sum(v) AS k, uniqArray(arr) AS ua FROM t_uniq_shadow GROUP BY k"
    )
    assert "explode_outer" not in sql
    rows = sorted(spark.sql(sql).collect())
    # Spark resolves GROUP BY k to the base column: two groups of 3 rows
    assert [(r[0], r.ua) for r in rows] == [(3, 3), (3, 3)]


def test_uniq_array_safe_order_by_forms_keep_explode_path():
    """ORDER BY items that are group keys, select aliases, or ordinals
    stay on the structural path (with ASC/DESC/NULLS suffixes)."""
    safe = [
        "SELECT g, uniqArray(arr) AS ua FROM t GROUP BY g ORDER BY g DESC",
        "SELECT g, uniqArray(arr) AS ua FROM t GROUP BY g ORDER BY ua, g",
        "SELECT g, uniqArray(arr) AS ua FROM t GROUP BY g ORDER BY 1 ASC",
        "SELECT g AS grp, uniqArray(arr) AS ua FROM t GROUP BY g "
        "ORDER BY grp NULLS LAST",
    ]
    for sql in safe:
        out = rewrite_functions(sql)
        assert "explode_outer" in out, sql


def test_format_readable_quantity_top_tier_no_separator(spark):
    """ADVICE r6 #4: at >=1e15 the trillion-tier mantissa reaches 1000
    and format_number would insert a thousands separator; ClickHouse
    prints '1234.56 trillion' without one."""
    row = spark.sql(
        rewrite_functions(
            "SELECT formatReadableQuantity(1234560000000000) AS big, "
            "formatReadableQuantity(1500000000000) AS small"
        )
    ).first()
    assert row.big == "1234.56 trillion"
    assert row.small == "1.50 trillion"


# ── backslash escapes and LIMIT BY spellings inside literals are data ───────


def test_string_mask_backslash_quote_stays_inside_literal():
    q = r"SELECT 'it\'s data SETTINGS max_threads = 1' AS note, v FROM t"
    mask = [d < 0 for d in _depths(q)]  # -1 marks a lexer span
    lit_start = q.index("'")
    lit_end = q.index("' AS") + 1
    assert all(mask[i] for i in range(lit_start, lit_end))
    assert not mask[q.index(" AS note") + 1]


def test_settings_strip_is_backslash_literal_opaque():
    q = r"SELECT 'it\'s data SETTINGS max_threads = 1' AS note, v FROM t"
    assert M._rewrite_clauses(q) == q
    assert rewrite_functions(q) == q


def test_limit_by_spelling_inside_literal_after_order_by_is_data():
    q = "SELECT id, v FROM t ORDER BY v, 'a LIMIT 9 BY z'"
    assert M._rewrite_limit_by(q) == q


def test_real_limit_by_with_literal_decoy_in_sort_key():
    q = (
        "SELECT id, g, v FROM t "
        "ORDER BY if(s = 'x LIMIT 9 BY y', 0, 1), v LIMIT 2 BY g"
    )
    out = M._rewrite_limit_by(q)
    # the window partitions on the REAL BY column and keeps the decoy
    # literal intact inside the sort key
    assert "PARTITION BY g" in out
    assert "'x LIMIT 9 BY y'" in out
    assert "__rn <= 2" in out


def test_limit_by_execution_with_literal_decoy(spark):
    pdf_view = "advice8_lb"
    spark.createDataFrame(
        [(i, i % 3, (i * 7) % 11, "x" if i % 2 else "y") for i in range(30)],
        "id int, g int, v int, s string",
    ).createOrReplaceTempView(pdf_view)
    try:
        out = M.execute_and_inflate(
            spark,
            f"SELECT id, g, v, s FROM {pdf_view} "
            "ORDER BY if(s = 'x LIMIT 9 BY y', 0, 1), v, id LIMIT 2 BY g",
        ).collect()
        assert len(out) == 6  # 3 groups × 2
        per_g = {}
        for r in out:
            per_g.setdefault(r.g, []).append(r)
        assert all(len(v) == 2 for v in per_g.values())
    finally:
        spark.catalog.dropTempView(pdf_view)
