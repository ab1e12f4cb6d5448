"""The runner's one catalog lookup (``migrate._describe_table``) reads
the session catalog's ``CatalogTable``; it must report what
``DESCRIBE TABLE EXTENDED`` and ``SHOW TBLPROPERTIES`` report."""

from __future__ import annotations

import json

import pytest
from pyspark.errors import AnalysisException

from clickhouse_migrator_spark import migrate as M


def _describe(spark, qual):
    """(schema rows, partition columns, detail rows) of DESCRIBE TABLE
    EXTENDED, parsed by section: a data column named ``Location`` sits
    among the schema rows, the table's location in the detail rows."""
    columns, pcols, detail = [], [], {}
    section = "columns"
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {qual}").collect():
        name = r.col_name or ""
        if name == "# Partition Information":
            section = "partition"
        elif name == "# Detailed Table Information":
            section = "detail"
        elif section == "detail":
            detail.setdefault(name, r.data_type)
        elif name == "# col_name":
            continue
        elif not name.strip() or name.startswith("#"):
            section = None
        elif section == "columns":
            columns.append((name, r.data_type))
        elif section == "partition":
            pcols.append(name)
    return columns, pcols, detail


def _assert_parity(spark, qual):
    info = M._describe_table(spark, qual)
    columns, pcols, detail = _describe(spark, qual)
    assert [(f.name, f.dataType.simpleString()) for f in info.schema] == columns
    assert info.pcols == pcols
    assert info.path == M._path_of_location(detail.get("Location"))
    assert info.provider == detail.get("Provider")
    assert info.bucketed == ("Num Buckets" in detail)
    props = {r.key: r.value for r in spark.sql(f"SHOW TBLPROPERTIES {qual}").collect()}
    assert info.props == props
    assert M._table_props(spark, qual) == props
    return info


@pytest.mark.usefixtures("ledger_db")
def test_lookup_matches_describe_partitioned_and_location_column(spark, db):
    spark.sql(
        f"CREATE TABLE `{db}`.pt (k BIGINT, `Location` STRING, d STRING) USING PARQUET "
        "PARTITIONED BY (d) TBLPROPERTIES ('clickhouse.order_by' = 'k', 'q' = 'it''s')"
    )
    info = _assert_parity(spark, f"`{db}`.`pt`")
    assert info.pcols == ["d"]
    assert info.props == {"clickhouse.order_by": "k", "q": "it's"}
    assert info.path.endswith("/pt") and M._local_parquet_location(info) == info.path


@pytest.mark.usefixtures("ledger_db")
def test_lookup_matches_describe_bucketed_and_its_insert_runs_direct(
    spark, db, tmp_path, monkeypatch
):
    spark.sql(
        f"CREATE TABLE `{db}`.bt (k BIGINT, v STRING) USING PARQUET "
        "CLUSTERED BY (k) INTO 4 BUCKETS"
    )
    info = _assert_parity(spark, f"`{db}`.`bt`")
    assert info.bucketed and info.path is not None
    assert M._local_parquet_location(info) is None
    staged = []
    stage = M._maybe_stage_insert

    def recorded(*a, **k):
        out = stage(*a, **k)
        staged.append(out)
        return out

    monkeypatch.setattr(M, "_maybe_stage_insert", recorded)
    (tmp_path / "V1__i.json").write_text(json.dumps(["INSERT INTO bt VALUES (1, 'a')"]))
    assert M.migrate(spark, db, str(tmp_path), create_db_if_no_exists=False) == 1
    assert staged == [None]
    assert [(r.k, r.v) for r in spark.table(f"`{db}`.bt").collect()] == [(1, "a")]


@pytest.mark.usefixtures("ledger_db")
def test_lookup_matches_describe_dictionary_view(spark, db):
    M.execute_statement(
        spark, "CREATE TABLE regions (id UInt64, name String) ENGINE = MergeTree ORDER BY id"
    )
    M.execute_statement(
        spark,
        "CREATE DICTIONARY geo (id UInt64, name String) PRIMARY KEY id "
        "SOURCE(CLICKHOUSE(TABLE 'regions')) LAYOUT(HASHED()) LIFETIME(300)",
    )
    info = _assert_parity(spark, f"`{db}`.`geo`")
    assert info.path is None and info.provider is None and not info.bucketed
    assert info.props == {"clickhouse.dict_key": "id"}


@pytest.mark.usefixtures("ledger_db")
def test_lookup_of_a_missing_table_raises_like_describe(spark, db):
    qual = f"`{db}`.`nowhere`"
    for read in (
        lambda: M._describe_table(spark, qual),
        lambda: spark.sql(f"DESCRIBE TABLE EXTENDED {qual}").collect(),
        lambda: spark.sql(f"SHOW TBLPROPERTIES {qual}").collect(),
    ):
        with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
            read()
