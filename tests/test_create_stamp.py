"""Crash-after-CREATE rerun window (VERDICT r11 #1).

A crash after a ``CREATE TABLE`` statement executed but before its
journal append used to fail-stop the rerun on TABLE_ALREADY_EXISTS —
the one statement class the runner fuzzer had to EXCLUDE from the
``after_stmt`` crash stage.  The runner now stamps every table it
creates with the in-flight ``version:stmt_index:md5``
(``clickhouse.create_stamp``, set with the layout props in the
CREATE's own TBLPROPERTIES clause), so the rerun's re-executed CREATE recognizes the existing table
as its own earlier attempt's product and reports success — the apply
loop then journals the statement late, exactly the recognize-and-journal
pattern ``recover_cow`` uses for COW swaps.

A stamp mismatch (edited script → different md5) or a missing stamp
(user's pre-existing table) keeps the conservative fail-stop: those
tables are NOT the crashed attempt's product and re-creating over them
would destroy data.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from clickhouse_migrator_spark import migrate as M


# CREATE at index 1, sandwiched by non-idempotent statements so a
# double-applied neighbor is visible too
STMTS = [
    "CREATE TABLE ca (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()",
    "CREATE TABLE cb (k Int64, v Int64) ENGINE = MergeTree ORDER BY k",
    "INSERT INTO cb VALUES (1, 7)",
    "ALTER TABLE cb UPDATE v = v + 100 WHERE k = 1",
]
EXPECTED = [(1, 107)]


def _setup(spark, db, tmp_path, stmts=STMTS, version=5):
    home = tmp_path / "mig_create"
    home.mkdir(exist_ok=True)
    (home / f"V{version}__c.json").write_text(json.dumps(stmts))
    return str(home)


def _arm(monkeypatch, stage: str, occurrence: int):
    seen = {"n": 0}

    def boom(s):
        if s == stage:
            if seen["n"] == occurrence:
                seen["n"] += 1
                raise RuntimeError("injected crash")
            seen["n"] += 1

    monkeypatch.setattr(M, "_crash_point", boom)
    return seen


BOUNDARIES = [
    (stage, i)
    for stage in ("before_stmt", "after_stmt", "after_journal")
    for i in range(len(STMTS))
]


@pytest.mark.usefixtures("ledger_db")
@pytest.mark.parametrize(
    "stage,occ", BOUNDARIES, ids=[f"{s}-{i}" for s, i in BOUNDARIES]
)
def test_create_crash_at_every_boundary_converges(
    spark, db, tmp_path, monkeypatch, stage, occ
):
    """Creates armed at EVERY boundary — including the formerly-excluded
    after_stmt window — converge on the documented recovery rerun."""
    home = _setup(spark, db, tmp_path)
    _arm(monkeypatch, stage, occ)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    M.recover_cow(spark, db)
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    rows = sorted((r.k, r.v) for r in spark.table(f"`{db}`.cb").collect())
    assert rows == EXPECTED, f"diverged at {stage}:{occ}"
    assert spark.table(f"`{db}`.ca").count() == 0
    assert M.migrate(spark, db, home) == 0  # converged


@pytest.mark.usefixtures("ledger_db")
def test_created_table_carries_stamp(spark, db, tmp_path):
    home = _setup(spark, db, tmp_path, version=6)
    assert M.migrate(spark, db, home) == 1
    props = M._table_props(spark, f"`{db}`.ca")
    v, i, md5 = props[M._CREATE_STAMP_PROP].split(":")
    assert (v, i) == ("6", "0") and len(md5) == 32


@pytest.mark.usefixtures("ledger_db")
def test_preexisting_unstamped_table_still_fail_stops(spark, db, tmp_path):
    """A table the user created OUTSIDE the runner has no stamp — the
    CREATE must keep the conservative TABLE_ALREADY_EXISTS fail-stop."""
    spark.sql(f"CREATE TABLE `{db}`.ca (k BIGINT) USING PARQUET")
    home = _setup(spark, db, tmp_path, version=7)
    with pytest.raises(Exception, match="(?i)already.exists|ALREADY_EXISTS"):
        M.migrate(spark, db, home)


@pytest.mark.usefixtures("ledger_db")
def test_edited_script_stamp_mismatch_fail_stops(
    spark, db, tmp_path, monkeypatch
):
    """Crash after the CREATE, then EDIT the script: the md5 changed, so
    the stamp no longer matches and the whole-script rerun fail-stops on
    the CREATE — the documented fix-and-rerun contract for edited
    scripts is unchanged."""
    home = _setup(spark, db, tmp_path, version=8)
    _arm(monkeypatch, "after_stmt", 0)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    M.clear_claims(spark, db)
    edited = ["CREATE TABLE ca (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()"]
    import os

    (tmp_path / "mig_create" / "V8__c.json").write_text(json.dumps(edited))
    with pytest.raises(Exception, match="(?i)already.exists|ALREADY_EXISTS"):
        M.migrate(spark, db, home)


@pytest.mark.usefixtures("ledger_db")
def test_direct_execute_statement_never_stamps(spark, db):
    """Outside a migration there is no in-flight identity: a direct
    execute_statement CREATE gets layout props but NO stamp, and a
    repeated direct CREATE raises as before."""
    M.execute_statement(
        spark, "CREATE TABLE cd (k Int64) ENGINE = MergeTree ORDER BY k"
    )
    props = M._table_props(spark, f"`{db}`.cd")
    assert M._CREATE_STAMP_PROP not in props
    with pytest.raises(Exception, match="(?i)already.exists|ALREADY_EXISTS"):
        M.execute_statement(
            spark, "CREATE TABLE cd (k Int64) ENGINE = MergeTree ORDER BY k"
        )


@pytest.mark.usefixtures("ledger_db")
def test_create_sets_its_props_in_its_own_statement(spark, db, tmp_path, monkeypatch):
    """A CREATE-only version issues no ALTER TABLE: the layout props and
    the stamp ride in the CREATE's TBLPROPERTIES clause — ahead of a
    CTAS query, or merged into a clause the statement has — so no
    moment exists at which the table stands without its stamp."""
    from pyspark.sql import SparkSession

    stmts = [
        "CREATE TABLE cp (k Int64, d Date) ENGINE = MergeTree "
        "PARTITION BY toYYYYMM(d) ORDER BY (k, if(k = 1, 'a', 'b'))",
        "CREATE TABLE cq ENGINE = ReplacingMergeTree ORDER BY k AS SELECT 1 AS k",
        "CREATE TABLE cr (k BIGINT) USING PARQUET TBLPROPERTIES ('note' = 'AS SELECT')",
    ]
    home = _setup(spark, db, tmp_path, stmts, version=9)
    real_sql, statements = SparkSession.sql, []

    def counted(sess, q, *a, **k):
        statements.append(" ".join(q.split()[:2]).upper())
        return real_sql(sess, q, *a, **k)

    monkeypatch.setattr(SparkSession, "sql", counted)
    assert M.migrate(spark, db, home) == 1
    assert "ALTER TABLE" not in statements, statements
    monkeypatch.setattr(SparkSession, "sql", real_sql)
    cp = M._table_props(spark, f"`{db}`.cp")
    assert cp["clickhouse.partition_by"] == "toYYYYMM(d)"
    assert cp["clickhouse.order_by"] == "(k, if(k = 1, 'a', 'b'))"
    assert cp[M._CREATE_STAMP_PROP].startswith("9:0:")
    cq = M._table_props(spark, f"`{db}`.cq")
    assert (cq["clickhouse.engine"], cq["clickhouse.order_by"]) == ("ReplacingMergeTree", "k")
    assert cq[M._CREATE_STAMP_PROP].startswith("9:1:")
    assert [r.k for r in spark.table(f"`{db}`.cq").collect()] == [1]
    cr = M._table_props(spark, f"`{db}`.cr")
    assert cr["note"] == "AS SELECT" and cr[M._CREATE_STAMP_PROP].startswith("9:2:")
