"""Property-based tests (hypothesis) for the ClickHouse-DDL translator —
`translate()` classifies and rewrites arbitrary user migration
statements, so it must never crash on well-formed DDL and its type
mapping must always produce balanced, ClickHouse-free Spark types."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from clickhouse_migrator_spark.ddl import map_types, translate

_BASE_TYPES = st.sampled_from(
    ["UInt8", "UInt32", "UInt64", "Int32", "Int64", "Float32", "Float64",
     "String", "Date", "DateTime", "Bool", "UUID"]
)


@st.composite
def ch_types(draw, depth: int = 2) -> str:
    kind = draw(st.integers(0, 4 if depth > 0 else 0))
    if kind == 0:
        return draw(_BASE_TYPES)
    inner = draw(ch_types(depth=depth - 1))
    if kind == 1:
        return f"Nullable({inner})"
    if kind == 2:
        return f"LowCardinality({inner})"
    if kind == 3:
        return f"Array({inner})"
    return f"Map(String, {inner})"


_COLNAMES = st.sampled_from(["id", "name", "value", "ts", "payload", "k1"])


# a column DEFAULT of each kind: a literal, a function call, an array, a
# map; CODEC arguments nest
_DEFAULTS = st.sampled_from(
    ["", " DEFAULT 7", " DEFAULT 'a,b)c'", " DEFAULT -1", " DEFAULT NULL",
     " DEFAULT now()", " DEFAULT toDate(now())", " DEFAULT [1, 2]",
     " DEFAULT map('a', 1)"]
)
_CODECS = st.sampled_from(["", " CODEC(Delta(4), ZSTD(1))", " CODEC(ZSTD(3))"])


@st.composite
def create_tables(draw) -> str:
    ncols = draw(st.integers(1, 4))
    names = draw(st.lists(_COLNAMES, min_size=ncols, max_size=ncols, unique=True))
    cols = ", ".join(
        f"{n} {draw(ch_types())}{draw(_DEFAULTS)}{draw(_CODECS)}" for n in names
    )
    engine = draw(st.sampled_from(
        ["MergeTree", "ReplacingMergeTree", "SummingMergeTree", "TinyLog",
         f"ReplacingMergeTree(toUInt64({names[0]}))", "MergeTree()"]))
    stmt = f"CREATE TABLE t ({cols}) ENGINE = {engine}"
    if draw(st.booleans()):
        stmt += f" PARTITION BY {draw(st.sampled_from(['tuple()', names[0]]))}"
    if draw(st.booleans()):
        stmt += f" ORDER BY {draw(st.sampled_from(['tuple()', names[0]]))}"
    if draw(st.booleans()):
        stmt += " SETTINGS index_granularity = 8192"
    return stmt


@given(ch_types())
@settings(max_examples=300, deadline=None)
def test_map_types_erases_clickhouse_spellings(t):
    out = map_types(t)
    for ch_only in ("Nullable", "LowCardinality", "UInt", "Float32",
                    "Float64", "DateTime", "Array(", "Map("):
        assert ch_only not in out, (t, out)
    assert out.count("<") == out.count(">"), (t, out)
    assert out.count("(") == out.count(")"), (t, out)


@given(create_tables())
@settings(max_examples=300, deadline=None)
def test_translate_create_never_crashes_and_strips_engine(stmt):
    st_out = translate(stmt)
    assert st_out.kind == "create_table"
    assert "ENGINE" not in st_out.sql.upper()
    assert "SETTINGS" not in st_out.sql.upper()
    # engine intent is preserved as metadata, not lost
    assert st_out.engine is not None


@given(create_tables())
@settings(max_examples=150, deadline=None)
def test_translated_create_parses_in_spark(spark, stmt):
    """Nested DEFAULTs, ENGINE arguments and CODECs never leave a
    stray paren: Spark's parser accepts every translated CREATE."""
    spark._jsparkSession.sessionState().sqlParser().parsePlan(translate(stmt).sql)


@given(st.sampled_from(["UPDATE", "DELETE"]),
       _COLNAMES, st.integers(-5, 10**6))
@settings(max_examples=100, deadline=None)
def test_translate_mutations_classified(kind, col, val):
    if kind == "UPDATE":
        s = translate(f"ALTER TABLE t UPDATE {col} = {val} WHERE {col} > {val}")
        assert s.kind == "cow_update" and s.assignments and s.predicate
    else:
        s = translate(f"ALTER TABLE t DELETE WHERE {col} > {val}")
        assert s.kind == "cow_delete" and s.predicate
