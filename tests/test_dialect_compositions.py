"""Compositional dialect fuzzing (VERDICT r6 #4).

Round 6's single-construct properties and the 283-spelling execution
smoke each exercise ONE rewriter rule at a time; the bugs they caught
(CTE-prefix drop, rand() rewrite loop, ALTER passthroughs) were all
*interaction* bugs.  This suite draws random COMPOSITIONS of the
clause rewrites — CTE prefix × [LEFT] ARRAY JOIN × PREWHERE/WHERE
spellings × (grouped aggregates | LIMIT BY | WITH FILL) × ORDER
BY/LIMIT × a FROM-subquery wrap of the grouped shape — and asserts,
for every generated statement:

1. the full rewrite pipeline (`migrate.rewrite_query`) is idempotent,
2. the rewritten statement EXECUTES on Spark, and
3. the result agrees exactly with a DuckDB oracle composed from the
   same component pairs (each ClickHouse fragment carries its own
   independently-written ANSI twin).

Value domains are integer/string only, so agreement is exact — no
float tolerance.  NULL conventions follow the engine's documented
contracts (LEFT ARRAY JOIN → NULL element via LATERAL VIEW OUTER;
WITH FILL → NULL non-fill columns).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from clickhouse_migrator_spark import migrate as M

VIEW = "fuzz_comp_t"


def _fixture_pdf() -> pd.DataFrame:
    n = 120
    return pd.DataFrame(
        {
            "id": range(n),
            "g": [i % 7 for i in range(n)],
            "v": [(i * 37) % 101 for i in range(n)],
            "s": [(f"w{i % 5}Ax" if i % 2 else f"q{i % 4}") for i in range(n)],
            "arr": [list(range(i % 4)) for i in range(n)],
        }
    )


@pytest.fixture(scope="module")
def comp_env(spark):
    pdf = _fixture_pdf()
    spark.createDataFrame(pdf).createOrReplaceTempView(VIEW)
    con = duckdb.connect()
    con.register(VIEW, pdf)
    yield spark, con
    spark.catalog.dropTempView(VIEW)
    con.close()


# ── component pairs: (clickhouse fragment, duckdb fragment) ─────────────────

_PREDICATES = [
    ("modulo(id, 7) != 3", "id % 7 != 3"),
    ("toInt64(v) > 20", "CAST(v AS BIGINT) > 20"),
    ("position(s, 'A') > 0", "strpos(s, 'A') > 0"),
    ("length(s) >= 3", "length(s) >= 3"),
    # a subquery with boundary keywords (ORDER BY/LIMIT) inside the
    # predicate — exercises the depth-aware PREWHERE/WHERE scans
    (
        f"id IN (SELECT id FROM {VIEW} ORDER BY id LIMIT 80)",
        f"id IN (SELECT id FROM {VIEW} ORDER BY id LIMIT 80)",
    ),
    # GLOBAL distribution hint is dropped; parens/keywords in string
    # literals count for nothing in the clause scans
    (
        f"id GLOBAL IN (SELECT id FROM {VIEW} ORDER BY id LIMIT 80)",
        f"id IN (SELECT id FROM {VIEW} ORDER BY id LIMIT 80)",
    ),
    ("s != '(WHERE'", "s != '(WHERE'"),
    # a GROUP BY inside a predicate subquery belongs to that subquery
    # (WITH TOTALS pairs with the GROUP BY at its own depth)
    (
        f"id IN (SELECT id FROM {VIEW} GROUP BY id)",
        f"id IN (SELECT id FROM {VIEW} GROUP BY id)",
    ),
    # backtick-quoted identifiers (round-8 widening): the rewriter's
    # masks treat backticks as opaque spans — a quoted column crossing
    # a clause scan must survive verbatim
    ("`v` > 20", '"v" > 20'),
    ("length(`s`) >= 3", 'length("s") >= 3'),
]

# aggregates valid with or without ARRAY JOIN
_AGGS_BASE = [
    ("count(*) AS cnt", "CAST(count(*) AS BIGINT) AS cnt"),
    ("uniqExact(s) AS us", "CAST(count(DISTINCT s) AS BIGINT) AS us"),
    (
        "countIf(v > 50) AS chi",
        "CAST(count(*) FILTER (WHERE v > 50) AS BIGINT) AS chi",
    ),
    ("max(v) AS mx", "max(v) AS mx"),
    ("min(toInt64(v)) AS mn", "CAST(min(v) AS BIGINT) AS mn"),
]
# aggregates over the ARRAY JOIN element
_AGGS_X = [
    ("sum(x) AS sx", "CAST(sum(x) AS BIGINT) AS sx"),
    ("uniqExact(x) AS ux", "CAST(count(DISTINCT x) AS BIGINT) AS ux"),
]


@st.composite
def compositions(draw):
    """One ClickHouse statement + its DuckDB oracle, built in parallel
    from independently drawn component pairs."""
    cte_mode = draw(st.sampled_from(["none", "single", "nested"]))
    use_cte = cte_mode != "none"
    aj = draw(st.sampled_from([None, "inner", "left"]))
    shape = draw(st.sampled_from(["grouped", "limit_by", "with_fill"]))
    if shape == "limit_by":
        aj = None  # id uniqueness is the deterministic tie-break
    n_preds = draw(st.integers(0, 2))
    preds = draw(
        st.lists(st.sampled_from(_PREDICATES), min_size=n_preds, max_size=n_preds)
    )
    use_prewhere = bool(preds) and draw(st.booleans())

    src = VIEW
    cte_ch = cte_dd = ""
    if cte_mode == "single":
        src = "base"
        cte_ch = cte_dd = f"WITH base AS (SELECT * FROM {VIEW} WHERE id < 90) "
    elif cte_mode == "nested":
        # two chained CTEs (round-8 widening): the rewrites must anchor
        # past the WHOLE prefix, not just the first CTE
        src = "base2"
        cte_ch = cte_dd = (
            f"WITH base AS (SELECT * FROM {VIEW} WHERE id < 90), "
            "base2 AS (SELECT * FROM base WHERE g != 6) "
        )

    from_ch, from_dd = f"FROM {src}", f"FROM {src}"
    if aj == "inner":
        from_ch += " ARRAY JOIN arr AS x"
        from_dd += ", UNNEST(arr) AS _u(x)"
    elif aj == "left":
        from_ch += " LEFT ARRAY JOIN arr AS x"
        from_dd += " LEFT JOIN LATERAL (SELECT UNNEST(arr) AS x) AS _u ON TRUE"

    where_ch = where_dd = ""
    if preds:
        if use_prewhere:
            where_ch = f" PREWHERE {preds[0][0]}"
            if len(preds) > 1:
                where_ch += f" WHERE {preds[1][0]}"
        else:
            where_ch = " WHERE " + " AND ".join(p[0] for p in preds)
        where_dd = " WHERE " + " AND ".join(f"({p[1]})" for p in preds)

    if shape == "grouped":
        pool = _AGGS_BASE + (_AGGS_X if aj else [])
        k = draw(st.integers(1, 3))
        idxs = draw(
            st.lists(
                st.integers(0, len(pool) - 1), min_size=k, max_size=k, unique=True
            )
        )
        aggs = [pool[i] for i in idxs]
        sel_ch = "g, " + ", ".join(a[0] for a in aggs)
        sel_dd = "g, " + ", ".join(a[1] for a in aggs)
        having = draw(st.booleans())
        totals = not having and draw(st.booleans())
        hv_ch = hv_dd = " HAVING max(v) > 10" if having else ""
        if totals:
            # WITH TOTALS → GROUPING SETS ((g), ()); the totals row has
            # g NULL and the engines order NULLs differently, so compare
            # unordered and skip LIMIT
            gb_ch, gb_dd, limit = "GROUP BY g WITH TOTALS", (
                "GROUP BY GROUPING SETS ((g), ())"
            ), ""
            ordered = False
        else:
            gb_ch = gb_dd = "GROUP BY g"
            limit = draw(st.sampled_from(["", " LIMIT 3"]))
            ordered = True
        ch = f"SELECT {sel_ch} {from_ch}{where_ch} {gb_ch}{hv_ch} ORDER BY g{limit}"
        dd = f"SELECT {sel_dd} {from_dd}{where_dd} {gb_dd}{hv_dd} ORDER BY g{limit}"
        # the FROM-subquery dimension: every clause scan must stop where
        # the subquery closes, and the outer query adds its own clause
        outer = draw(st.sampled_from([None, "WHERE g > 1", "ORDER BY g"]))
        if outer is not None:
            ch = f"SELECT * FROM ({ch}) AS sub {outer}"
            dd = f"SELECT * FROM ({dd}) AS sub {outer}"
            ordered = ordered and outer.startswith("ORDER")
        ch, dd = cte_ch + ch, cte_dd + dd
    elif shape == "limit_by":
        n = draw(st.integers(1, 3))
        tail = draw(st.sampled_from(["", " LIMIT 5"]))
        ch = (
            f"{cte_ch}SELECT id, g, v {from_ch}{where_ch} "
            f"ORDER BY v, id LIMIT {n} BY g{tail}"
        )
        dd = (
            f"{cte_dd}SELECT id, g, v FROM ("
            f"SELECT id, g, v, row_number() OVER "
            f"(PARTITION BY g ORDER BY v, id) AS _rn {from_dd}{where_dd}"
            f") WHERE _rn <= {n} ORDER BY v, id{tail}"
        )
        ordered = True
    else:  # with_fill
        step = draw(st.sampled_from([1, 2]))
        ch = (
            f"{cte_ch}SELECT g, count(*) AS cnt {from_ch}{where_ch} "
            f"GROUP BY g ORDER BY g WITH FILL FROM 0 TO 10 STEP {step}"
        )
        dd = (
            f"{cte_dd.replace('WITH ', 'WITH __grid AS (SELECT unnest(generate_series(0, 9, ' + str(step) + ')) AS g), ') if use_cte else 'WITH __grid AS (SELECT unnest(generate_series(0, 9, ' + str(step) + ')) AS g) '}"
            f"SELECT coalesce(__q.g, __grid.g) AS g, cnt FROM ("
            f"SELECT g, count(*) AS cnt {from_dd}{where_dd} GROUP BY g"
            f") __q FULL OUTER JOIN __grid USING (g) ORDER BY 1"
        )
        ordered = False  # filled rows interleave; compare as sorted sets
    # wire-format / server-knob tails are stripped before every other
    # clause rewrite — compose them onto ANY shape
    ch += draw(st.sampled_from(["", " FORMAT JSON", " SETTINGS max_threads = 4"]))
    return ch, dd, ordered


def _normalize(cols, rows, ordered):
    """Column-name-sorted tuples; rows sorted unless order matters."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    if not ordered:
        out.sort(key=lambda t: tuple((x is None, x) for x in t))
    return [c for c in sorted(cols)], out


# deep-fuzz sessions: SPARK_GRAFT_FUZZ_EXAMPLES=800 pytest … (default 120)
@settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "120")),
    deadline=None,
)
@given(comp=compositions())
def test_composed_statements_rewrite_execute_and_agree(comp_env, comp):
    spark, con = comp_env
    ch, dd, ordered = comp
    rewritten = M.rewrite_query(spark, ch)
    assert M.rewrite_query(spark, rewritten) == rewritten, ch  # idempotent
    sdf = spark.sql(rewritten)
    s_cols, s_rows = _normalize(
        sdf.columns, [tuple(r) for r in sdf.collect()], ordered
    )
    rel = con.sql(dd)
    d_cols, d_rows = _normalize(
        list(rel.columns), rel.fetchall(), ordered
    )
    assert s_cols == d_cols, (ch, s_cols, d_cols)
    # int-valued everywhere — exact agreement expected
    assert s_rows == d_rows, (ch, rewritten, dd, s_rows[:5], d_rows[:5])


def test_prewhere_limit_by_composition_pinned(comp_env):
    """Pinned regression (found by this fuzzer, round 7): PREWHERE used
    to merge AFTER the LIMIT BY wrap, so its WHERE-merge boundary scan
    ran over the wrapper's closing parens and produced unbalanced SQL
    (`WHERE (p1) AND (p2)) WHERE __rn <= n)`)."""
    spark, con = comp_env
    ch = (
        f"WITH base AS (SELECT * FROM {VIEW} WHERE id < 90) "
        "SELECT id, g, v FROM base PREWHERE toInt64(v) > 20 "
        "WHERE length(s) >= 3 ORDER BY v, id LIMIT 1 BY g LIMIT 5"
    )
    out = M.rewrite_query(spark, ch)
    got = [(r.id, r.g, r.v) for r in spark.sql(out).collect()]
    want = con.sql(
        f"WITH base AS (SELECT * FROM {VIEW} WHERE id < 90) "
        "SELECT id, g, v FROM ("
        "SELECT id, g, v, row_number() OVER (PARTITION BY g ORDER BY v, id) AS _rn "
        "FROM base WHERE CAST(v AS BIGINT) > 20 AND length(s) >= 3"
        ") WHERE _rn <= 1 ORDER BY v, id LIMIT 5"
    ).fetchall()
    assert got == want and len(got) == 5


def test_prewhere_boundary_ignores_subquery_keywords(comp_env):
    """The WHERE-merge boundary scan is depth-aware: LIMIT/ORDER BY
    inside a WHERE subquery belong to that subquery."""
    spark, con = comp_env
    ch = (
        f"SELECT g, count(*) AS cnt FROM {VIEW} "
        f"PREWHERE v > 10 "
        f"WHERE id IN (SELECT id FROM {VIEW} ORDER BY id LIMIT 50) "
        "GROUP BY g ORDER BY g"
    )
    out = M.rewrite_query(spark, ch)
    got = [(r.g, r.cnt) for r in spark.sql(out).collect()]
    want = con.sql(
        f"SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM {VIEW} "
        f"WHERE v > 10 AND id IN (SELECT id FROM {VIEW} ORDER BY id LIMIT 50) "
        "GROUP BY g ORDER BY g"
    ).fetchall()
    assert got == want


def test_prewhere_predicate_with_subquery_keywords(comp_env):
    """Pinned (round-7 fuzzer class): the PREWHERE predicate capture is
    depth-aware — ORDER BY/LIMIT inside the predicate's own subquery
    no longer truncate it (the regex-lookahead form emitted a double
    WHERE)."""
    spark, con = comp_env
    ch = (
        f"SELECT g, count(*) AS cnt FROM {VIEW} "
        f"PREWHERE id IN (SELECT id FROM {VIEW} ORDER BY id LIMIT 30) "
        "WHERE v > 1 GROUP BY g ORDER BY g"
    )
    out = M.rewrite_query(spark, ch)
    got = [(r.g, r.cnt) for r in spark.sql(out).collect()]
    want = con.sql(
        f"SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM {VIEW} "
        f"WHERE id IN (SELECT id FROM {VIEW} ORDER BY id LIMIT 30) AND v > 1 "
        "GROUP BY g ORDER BY g"
    ).fetchall()
    assert got == want


def test_prewhere_scan_is_string_literal_aware():
    """Pinned (round-7 review): parens and boundary keywords inside
    string literals count for nothing in the PREWHERE/WHERE scans."""
    from clickhouse_migrator_spark.migrate import _rewrite_clauses

    assert (
        _rewrite_clauses("SELECT count(*) FROM t PREWHERE s = '(' WHERE v > 0")
        == "SELECT count(*) FROM t WHERE (s = '(') AND (v > 0)"
    )
    assert (
        _rewrite_clauses("SELECT g FROM t PREWHERE v > 1 WHERE s = '(' GROUP BY g")
        == "SELECT g FROM t WHERE (v > 1) AND (s = '(') GROUP BY g"
    )
    assert (
        _rewrite_clauses("SELECT g FROM t PREWHERE s = 'WHERE LIMIT' GROUP BY g")
        == "SELECT g FROM t WHERE s = 'WHERE LIMIT' GROUP BY g"
    )
    # the word PREWHERE inside a literal is not a clause
    sql = "SELECT 'PREWHERE' AS lit FROM t WHERE v > 0"
    assert _rewrite_clauses(sql) == sql


def test_limit_by_anchors_on_depth0_order_by(comp_env):
    """Pinned (round-7 fuzzer catch #2): an ORDER BY inside a predicate
    subquery must not become the LIMIT BY window's sort key."""
    spark, con = comp_env
    ch = (
        f"SELECT id, g, v FROM {VIEW} "
        f"WHERE id IN (SELECT id FROM {VIEW} ORDER BY id LIMIT 80) "
        "ORDER BY v, id LIMIT 1 BY g"
    )
    out = M.rewrite_query(spark, ch)
    got = [(r.id, r.g, r.v) for r in spark.sql(out).collect()]
    want = con.sql(
        f"SELECT id, g, v FROM ("
        f"SELECT id, g, v, row_number() OVER (PARTITION BY g ORDER BY v, id) AS _rn "
        f"FROM {VIEW} WHERE id IN (SELECT id FROM {VIEW} ORDER BY id LIMIT 80)"
        ") WHERE _rn <= 1 ORDER BY v, id"
    ).fetchall()
    assert got == want and len(got) == 7


def test_prewhere_in_from_subquery_ends_at_its_close(comp_env):
    """A PREWHERE inside a FROM subquery ends where the subquery closes:
    the outer WHERE is not merged into it (it became ``WHERE (v > 30)
    sub) AND (g > 1)``)."""
    spark, con = comp_env
    for ch, pred in (
        (f"SELECT * FROM (SELECT id, g FROM {VIEW} PREWHERE v > 30) sub WHERE g > 1",
         "v > 30"),
        (f"SELECT * FROM (SELECT id, g FROM {VIEW} PREWHERE v > 30 WHERE id < 90) sub "
         "WHERE g > 1", "v > 30 AND id < 90"),
    ):
        out = M.rewrite_query(spark, ch)
        got = sorted(tuple(r) for r in spark.sql(out).collect())
        want = sorted(con.sql(
            f"SELECT * FROM (SELECT id, g FROM {VIEW} WHERE {pred}) sub WHERE g > 1"
        ).fetchall())
        assert got == want and got, (ch, out)


def test_with_totals_pairs_with_the_group_by_at_its_depth(comp_env):
    """WITH TOTALS pairs with the GROUP BY at its own depth, not with one
    inside a predicate subquery (that gave ``GROUPING SETS ((g) GROUP BY
    g), ())``)."""
    spark, con = comp_env
    ch = (
        f"SELECT g, count(*) AS cnt FROM {VIEW} "
        f"WHERE g IN (SELECT g FROM {VIEW} GROUP BY g) GROUP BY g WITH TOTALS"
    )
    out = M.rewrite_query(spark, ch)
    assert out.endswith("GROUP BY GROUPING SETS ((g), ())"), out
    got = sorted((tuple(r) for r in spark.sql(out).collect()), key=repr)
    want = sorted(con.sql(
        f"SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM {VIEW} "
        "GROUP BY GROUPING SETS ((g), ())"
    ).fetchall(), key=repr)
    assert got == want and len(want) == 8


def test_nested_limit_by_and_with_fill_are_refused_as_nested():
    """LIMIT BY and WITH FILL rewrite the whole statement, so inside a
    subquery they are refused with an error that says so (a nested
    LIMIT BY used to be told it lacked the ORDER BY it has)."""
    from clickhouse_migrator_spark.migrate import _rewrite_clauses

    for sql in (
        "SELECT x FROM (SELECT x FROM t ORDER BY x LIMIT 1 BY x)",
        "WITH c AS (SELECT x FROM t ORDER BY x LIMIT 1 BY x) SELECT * FROM c",
        "SELECT * FROM (SELECT x FROM t ORDER BY x LIMIT 1 BY x) ORDER BY x LIMIT 2 BY x",
        "SELECT * FROM (SELECT d FROM t ORDER BY d WITH FILL) x",
    ):
        with pytest.raises(ValueError, match="only at the statement's top level"):
            _rewrite_clauses(sql)
    with pytest.raises(ValueError, match="requires an explicit ORDER BY"):
        _rewrite_clauses("SELECT x FROM t LIMIT 1 BY x")


def test_all_clause_rewrites_ignore_string_literals():
    """Pinned (round-7 probe battery): every clause-level rewrite must
    treat keywords inside string literals as data — the quote-blind
    regexes silently truncated at a literal SETTINGS, mutated a literal
    GLOBAL/ARRAY JOIN/numbers(), and raised on literal WITH FILL and
    LIMIT BY."""
    from clickhouse_migrator_spark.migrate import _rewrite_clauses

    passthrough = [
        "SELECT x, 'tail SETTINGS a = 1' AS note FROM t",
        "SELECT x, 'pick FORMAT JSON' AS note FROM t",
        "SELECT 'GLOBAL IN' AS note, x FROM t WHERE v > 0",
        "SELECT 'ORDER BY x WITH FILL' AS note FROM t",
        "SELECT 'ARRAY JOIN arr AS x' AS note FROM t",
        "SELECT 'LIMIT 3 BY g' AS note FROM t",
        "SELECT x FROM t WHERE s = 'numbers(10)'",
        "SELECT 'PREWHERE v' AS note FROM t",
    ]
    for sql in passthrough:
        assert _rewrite_clauses(sql) == sql, sql
    # and the REAL clauses still rewrite next to literals
    out = _rewrite_clauses(
        "SELECT g, 'keep SETTINGS' AS note FROM t ARRAY JOIN arr AS x "
        "WHERE v GLOBAL IN (SELECT v FROM u) SETTINGS max_threads = 4"
    )
    assert "LATERAL VIEW explode(arr)" in out
    assert "'keep SETTINGS'" in out
    assert not out.rstrip().endswith("= 4")
    assert " GLOBAL " not in out


def test_rewrite_query_subs_ignore_string_literals(comp_env):
    """system.* / WITH TOTALS / FINAL / dictGet spellings inside string
    literals are data too (rewrite_query layer)."""
    spark, _ = comp_env
    sql = (
        "SELECT 'system.tables' AS a, 'GROUP BY g WITH TOTALS' AS b, "
        "'FROM t FINAL' AS c, 'dictGet(''d'', ''x'', id)' AS d"
    )
    assert M.rewrite_query(spark, sql) == sql


# ── ALTER UPDATE expression compositions (round-8 widening) ─────────────────
#
# The runner path round 7's comma-literal pin touched: translated
# ClickHouse mutation DML through the copy-on-write swap, with
# assignment expressions drawn from ClickHouse-function / literal-decoy
# pairs and a WHERE from the predicate pool.  The oracle computes the
# same simultaneous-assignment UPDATE as a SELECT-CASE over the
# pre-update snapshot (exactly the engine's copy-on-write semantics).

_UPD_ASSIGNS = [
    ("v = v + 1", "v", "v + 1"),
    ("v = multiIf(v > 50, 0, v + 1)", "v", "CASE WHEN v > 50 THEN 0 ELSE v + 1 END"),
    ("v = toInt64(length(s))", "v", "CAST(length(s) AS BIGINT)"),
    ("s = concat(s, ',x')", "s", "s || ',x'"),
    ("s = 'a,b'", "s", "'a,b'"),
    ("s = upper(`s`)", "s", 'upper("s")'),
    ("s = if(v > 50, 'hi', s)", "s", "CASE WHEN v > 50 THEN 'hi' ELSE s END"),
]

_UPD_PREDS = [
    ("modulo(id, 7) != 3", "id % 7 != 3"),
    ("toInt64(v) > 20", "CAST(v AS BIGINT) > 20"),
    ("s != '(WHERE'", "s != '(WHERE'"),
    ("position(s, 'A') > 0 AND length(s) >= 3", "strpos(s, 'A') > 0 AND length(s) >= 3"),
]

_UPD_DB = "fuzz_upd_db"
_UPD_TBL = f"{_UPD_DB}.t_upd"


@pytest.fixture(scope="module")
def upd_env(spark):
    pdf = _fixture_pdf().drop(columns=["arr"])
    pdf["v"] = pdf["v"].astype("int64")
    pdf["id"] = pdf["id"].astype("int64")
    pdf["g"] = pdf["g"].astype("int64")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_UPD_DB}")
    con = duckdb.connect()
    con.register("src", pdf)
    yield spark, con, pdf
    con.close()
    spark.sql(f"DROP DATABASE {_UPD_DB} CASCADE")


@settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_UPD_FUZZ_EXAMPLES", "12")),
    deadline=None,
)
@given(data=st.data())
def test_alter_update_expression_compositions(upd_env, data):
    spark, con, pdf = upd_env
    k = data.draw(st.integers(1, 2))
    idxs = data.draw(
        st.lists(
            st.integers(0, len(_UPD_ASSIGNS) - 1),
            min_size=k,
            max_size=k,
            unique_by=lambda i: _UPD_ASSIGNS[i][1],  # one assign per column
        )
    )
    assigns = [_UPD_ASSIGNS[i] for i in idxs]
    pred_ch, pred_dd = data.draw(st.sampled_from(_UPD_PREDS))

    spark.createDataFrame(pdf).write.mode("overwrite").saveAsTable(_UPD_TBL)
    stmt = (
        f"ALTER TABLE {_UPD_TBL} UPDATE "
        + ", ".join(a[0] for a in assigns)
        + f" WHERE {pred_ch}"
    )
    M.execute_statement(spark, stmt)
    spark.catalog.refreshTable(_UPD_TBL)
    got = sorted(
        (r.id, r.g, r.v, r.s) for r in spark.table(_UPD_TBL).collect()
    )

    sel = {"id": "id", "g": "g", "v": "v", "s": "s"}
    for _, col, expr in assigns:
        sel[col] = f"CASE WHEN {pred_dd} THEN {expr} ELSE {col} END"
    want = sorted(
        con.sql(
            f"SELECT {sel['id']} AS id, {sel['g']} AS g, "
            f"CAST({sel['v']} AS BIGINT) AS v, {sel['s']} AS s FROM src"
        ).fetchall()
    )
    assert got == want, (stmt, got[:3], want[:3])
