"""Every registered query vs its DuckDB oracle at sf0.001 (fast local
mirror of the driver's t2 gate; the driver runs the same comparison at
sf0.01)."""

from __future__ import annotations

import math
from datetime import date, datetime

import duckdb
import pytest

from clickhouse_migrator_spark.registry import all_specs
from clickhouse_migrator_spark.tables import TABLES


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def ducks(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


SPECS = sorted(all_specs().items())


@pytest.mark.parametrize("name", [n for n, _ in SPECS])
def test_query_matches_oracle(name, spark, sf_dir, ducks):
    spec = dict(SPECS)[name]
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        # rows-only contract: runs, stable schema, deterministic
        again = [tuple(r) for r in spec.fn(spark, sf_dir).collect()]
        assert _rowset(sdf.columns, srows) == _rowset(sdf.columns, again)
        return
    rel = ducks.sql(spec.oracle)
    drows = rel.fetchall()
    assert len(srows) == len(drows), f"rowcount spark={len(srows)} duckdb={len(drows)}"
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert _rowset(sdf.columns, srows) == _rowset(rel.columns, drows)


# ── mixed NULL/non-NULL map keys render in the same order on both engines ────


def test_mixed_null_map_keys_render_consistently(spark, tmp_path):
    """agg_summap_user_values on a user with a NULL-typed event: keys
    skip the NULL (concat_ws), values keep it FIRST — identical to the
    oracle's NULLS FIRST ordering."""
    import __spark_entry__ as e

    events = spark.createDataFrame(
        [
            (1, None, 1, None, 10.0, None),
            (2, None, 1, "click", 5.0, None),
            (3, None, 1, "view", 2.0, None),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    events.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    sf = str(tmp_path)
    row = e.queries()["agg_summap_user_values"](spark, sf).collect()[0]
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; glob its part files for DuckDB
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    want = con.sql(e.oracle_sql()["agg_summap_user_values"]).fetchone()
    assert (row.user_id, row.map_keys, row.map_values) == want
    assert row.map_keys == "click,view"
    assert row.map_values.split(",")[0] == "10.00"  # NULL key's sum first
