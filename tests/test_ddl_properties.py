"""Property-based tests (hypothesis) for the DDL translator and the
diff planner's pure invariants — the randomized coverage the reference
suite lacks (SURVEY.md §5 "Not present: property-based testing")."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st

from clickhouse_migrator_spark.ddl import TYPE_MAP, map_types, translate

IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,15}", fullmatch=True)
CH_TYPE = st.sampled_from(sorted(TYPE_MAP))


@given(name=IDENT, ch_type=CH_TYPE)
def test_add_column_roundtrip(name, ch_type):
    st_ = translate(f"ALTER TABLE t ADD COLUMN {name} {ch_type}")
    assert st_.kind == "add_column"
    assert st_.table == "t"
    assert st_.column == name
    assert st_.col_type == TYPE_MAP[ch_type]
    assert st_.default is None


@given(name=IDENT, ch_type=CH_TYPE, default=st.integers(-100, 100))
def test_add_column_default_preserved(name, ch_type, default):
    sql = f"ALTER TABLE db1.t ADD COLUMN {name} {ch_type} DEFAULT {default}"
    # the value ClickHouse stores (see ddl._stored_default): a date reads
    # 0 as the epoch and takes no other number; negative defaults on
    # UInt8/16/32 wrap two's-complement; everything else passes through
    # verbatim
    if TYPE_MAP[ch_type] in ("DATE", "TIMESTAMP") and default != 0:
        with pytest.raises(ValueError, match=f"'{name}'.*DEFAULT {default} as {ch_type}"):
            translate(sql)
        return
    st_ = translate(sql)
    assert st_.kind == "add_column"
    assert st_.table == "db1.t"
    m = re.fullmatch(r"UInt(8|16|32)", ch_type)
    if TYPE_MAP[ch_type] in ("DATE", "TIMESTAMP"):
        assert st_.default == "'1970-01-01'"
    elif m and default < 0:
        assert st_.default == str(default % (1 << int(m.group(1))))
    else:
        assert st_.default == str(default)


@given(cols=st.lists(st.tuples(IDENT, CH_TYPE), min_size=1, max_size=6, unique_by=lambda t: t[0]))
def test_create_table_types_all_mapped(cols):
    body = ", ".join(f"{n} {t}" for n, t in cols)
    st_ = translate(
        f"CREATE TABLE IF NOT EXISTS t ({body}) ENGINE = MergeTree "
        "PARTITION BY tuple() ORDER BY tuple()"
    )
    assert st_.kind == "create_table"
    # no ClickHouse type token or clause survives
    for tok in list(TYPE_MAP) + ["ENGINE", "MergeTree", "PARTITION BY", "ORDER BY"]:
        assert tok not in st_.sql, f"{tok!r} leaked into: {st_.sql}"
    assert st_.sql.rstrip().upper().endswith("USING PARQUET")


@given(
    col=IDENT,
    val=st.integers(-1000, 1000),
    pred_col=IDENT,
    pred_val=st.integers(-1000, 1000),
)
def test_update_parse(col, val, pred_col, pred_val):
    st_ = translate(f"ALTER TABLE t UPDATE {col} = {val} WHERE {pred_col} > {pred_val}")
    assert st_.kind == "cow_update"
    assert st_.assignments == [(col, str(val))]
    assert st_.predicate == f"{pred_col} > {pred_val}"


@given(s=st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200))
def test_map_types_total(s):
    # never raises, idempotent on already-translated text
    out = map_types(s)
    assert map_types(out) == out or any(t in out for t in TYPE_MAP)


def test_multi_assignment_split():
    st_ = translate("ALTER TABLE t UPDATE a = f(x, y), b = 2 WHERE c = 1")
    assert st_.assignments == [("a", "f(x, y)"), ("b", "2")]
