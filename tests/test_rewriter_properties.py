"""Property-based tests (hypothesis) for the ClickHouse-SQL rewriter —
the rewriter is a string transformation, so its safety invariants
(idempotency, quoted-literal preservation, passthrough of unknown
spellings, bracket balance) must hold on ARBITRARY well-formed input,
not just the hand-picked examples in test_select_functions.py."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from clickhouse_migrator_spark.functions.select_funcs import (
    _depths,
    _lex_spans,
    _split_top,
    _top_level,
    rewrite_functions,
)


def _span_mask(sql: str) -> list[bool]:
    """True inside a lexer span: where ``_depths`` reads -1."""
    return [d < 0 for d in _depths(sql)[: len(sql)]]


# building blocks for random-but-balanced SQL expressions
_IDENTS = st.sampled_from(
    ["x", "y", "col1", "tbl.c", "value", "ts", "user_id", "`quoted col`", "`a,b`"]
)
_CH_FUNCS = st.sampled_from(
    ["countIf", "sumIf", "uniq", "argMax", "toInt32", "arrayMap", "position",
     "multiIf", "toStartOfMonth", "unknownFunc", "my_udf", "lower"]
)
_LITERALS = st.sampled_from(
    ["'plain'", "'countIf(x)'", "'it''s'", "'[1,2]'", "'-- no comment'",
     "42", "3.14", "'argMax(a, b)'", r"'it\'s'", "'a,b'"]
)


@st.composite
def sql_exprs(draw, depth: int = 2) -> str:
    kind = draw(st.integers(0, 5 if depth > 0 else 2))
    if kind == 0:
        return draw(_IDENTS)
    if kind == 5:
        return f"{draw(sql_exprs(depth=depth - 1))} /* c, d */"
    if kind == 1:
        return draw(_LITERALS)
    if kind == 2:
        a = draw(_IDENTS)
        b = draw(_LITERALS)
        return f"{a} + {b}"
    if kind == 3:
        inner = draw(st.lists(sql_exprs(depth=depth - 1), min_size=0, max_size=3))
        fn = draw(_CH_FUNCS)
        return f"{fn}({', '.join(inner)})"
    inner = draw(st.lists(sql_exprs(depth=depth - 1), min_size=1, max_size=3))
    return "[" + ", ".join(inner) + "]"


@st.composite
def sql_statements(draw) -> str:
    exprs = draw(st.lists(sql_exprs(), min_size=1, max_size=4))
    stmt = "SELECT " + ", ".join(exprs) + " FROM t"
    if draw(st.booleans()):
        stmt += f" WHERE {draw(sql_exprs(depth=1))} > 0"
    return stmt


@given(sql_statements())
@settings(max_examples=300, deadline=None)
def test_rewrite_is_idempotent(sql):
    once = rewrite_functions(sql)
    assert rewrite_functions(once) == once


@given(sql_statements())
@settings(max_examples=300, deadline=None)
def test_quoted_literals_survive_verbatim(sql):
    out = rewrite_functions(sql)
    # every single-quoted literal of the input must appear in the output
    # (rewrites never reach inside quotes, and rules only copy args)
    for s, e, kind in _lex_spans(sql):
        if kind == "literal":
            assert sql[s:e] in out, (sql[s:e], out)


@given(sql_statements())
@settings(max_examples=300, deadline=None)
def test_brackets_stay_balanced(sql):
    out = rewrite_functions(sql)
    mask = _span_mask(out)
    depth = 0
    for i, ch in enumerate(out):
        if mask[i]:
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        assert depth >= 0, out
    assert depth == 0, out


@given(st.sampled_from(["unknownFunc", "my_udf", "weird_name_2"]),
       st.lists(_IDENTS, min_size=0, max_size=3))
@settings(max_examples=100, deadline=None)
def test_unknown_functions_pass_through(name, args):
    sql = f"SELECT {name}({', '.join(args)}) FROM t"
    assert rewrite_functions(sql) == sql


# ── the lexer: one span scanner under the mask and the splitter ─────────────

_LEX_TEXT = st.text(
    alphabet=st.sampled_from(
        ["'", "`", "\\", "-", "/", "*", "+", "\n", "a", " ", ",", "(", ")", "["]
    ),
    max_size=40,
)


def _reference_mask(sql: str) -> list[bool]:
    """The character-loop scanner the span lexer replaced, kept verbatim
    as the reference its mask must reproduce."""
    mask = [False] * len(sql)
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "-" and sql[i : i + 2] == "--":
            j = sql.find("\n", i)
            j = n if j == -1 else j
            for k in range(i, j):
                mask[k] = True
            i = j
        elif ch == "/" and sql[i : i + 2] == "/*":
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            for k in range(i, j):
                mask[k] = True
            i = j
        elif ch == "'" or ch == "`":
            quote = ch
            mask[i] = True
            i += 1
            while i < n:
                mask[i] = True
                if sql[i] == "\\" and i + 1 < n:
                    mask[i + 1] = True
                    i += 2
                    continue
                if sql[i] == quote:
                    if quote == "'" and i + 1 < n and sql[i + 1] == "'":
                        mask[i + 1] = True
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
        else:
            i += 1
    return mask


@given(st.one_of(_LEX_TEXT, sql_statements()))
@settings(max_examples=500, deadline=None)
def test_span_mask_matches_reference_scanner(sql):
    assert _span_mask(sql) == _reference_mask(sql)


@given(st.one_of(_LEX_TEXT, sql_statements()))
@settings(max_examples=500, deadline=None)
def test_split_top_rejoins_and_never_splits_a_span(sql):
    parts = _split_top(sql)
    assert ",".join(parts) == sql
    assert parts or sql == ""
    mask = _span_mask(sql)
    cut = -1
    for p in parts[:-1]:
        cut += len(p) + 1
        assert sql[cut] == "," and not mask[cut], (sql, parts)


# ── the nesting rule: one depth counter under every clause scan ─────────────

_NEST_PATTERN = re.compile(r",|\(|\bFROM\b")


def _reference_depths(sql: str) -> list[int]:
    """A plain character scan: brackets of either kind outside the
    reference mask move the depth, which never drops below 0; -1 inside
    the mask."""
    mask, out, d = _reference_mask(sql), [], 0
    for i, ch in enumerate(sql):
        out.append(-1 if mask[i] else d)
        if not mask[i] and ch in "([":
            d += 1
        elif not mask[i] and ch in ")]":
            d = max(d - 1, 0)
    return out + [d]


@given(st.one_of(_LEX_TEXT, sql_statements()), st.data())
@settings(max_examples=500, deadline=None)
def test_depths_and_top_level_match_reference_scan(sql, data):
    depths = _reference_depths(sql)
    assert _depths(sql) == depths
    start = data.draw(st.integers(0, len(sql)))
    base = next(d for d in depths[start:] if d >= 0)
    end = next(
        (i for i in range(start, len(sql)) if sql[i] in ")]" and depths[i] == base), len(sql)
    )
    want = [i for i in range(start, end) if depths[i] == base and _NEST_PATTERN.match(sql, i)]
    matches, got_end = _top_level(_NEST_PATTERN, sql, start)
    assert (got_end, [m.start() for m in matches]) == (end, want), (sql, start)
