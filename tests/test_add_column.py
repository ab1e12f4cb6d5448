"""Column defaults.  ADD COLUMN: a metadata change for a literal
DEFAULT, a rewrite for an expression one; CREATE TABLE keeps literal
DEFAULTs; MODIFY COLUMN keeps a column's default.

ClickHouse keeps a column's DEFAULT in metadata: existing rows read it
and a later INSERT that omits the column gets it.  With no DEFAULT or a
literal one (a number, a string, NULL) the runner does the same with
one Spark ``ADD COLUMNS … DEFAULT``, which rewrites no data.  Spark
column defaults must be constants, so an expression DEFAULT keeps the
copy-on-write rewrite, and INSERTs that omit such a column get NULL.
"""

from __future__ import annotations

import datetime
import json
import uuid

import pytest

from clickhouse_migrator_spark import migrate as M


EPOCH = datetime.date(1970, 1, 1)


def _write(home, version: int, stmts: list[str]) -> None:
    (home / f"V{version}__step.json").write_text(json.dumps(stmts))


def _rows(spark, db, table, cols):
    return sorted(tuple(r[c] for c in cols) for r in spark.table(f"`{db}`.`{table}`").collect())


def _jobs_started(spark, fn):
    sc = spark.sparkContext
    group = "count-" + uuid.uuid4().hex
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.usefixtures("ledger_db")
def test_literal_default_through_migrate_is_metadata_only(spark, db, tmp_path, monkeypatch):
    """Through migrate(), whose INSERTs run staged: existing rows read the
    default, later INSERTs that omit the column get it, and it survives
    the rewrites of an UPDATE (of that very column too), an OPTIMIZE
    FINAL and a RENAME COLUMN.  The ADD itself starts no Spark job and
    rewrites nothing."""
    home = tmp_path / "mig"
    home.mkdir()
    _write(home, 1, [
        "CREATE TABLE ta (id Int64, v Int64) ENGINE = ReplacingMergeTree ORDER BY id",
        "INSERT INTO ta VALUES (1, 10)",
    ])
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1

    run_stmt, swaps = M.execute_statement, []
    add_jobs = []

    def counted(sess, sql):
        if "ADD COLUMN" not in sql:
            return run_stmt(sess, sql)
        out, jobs = _jobs_started(sess, lambda: run_stmt(sess, sql))
        add_jobs.append(jobs)
        return out

    real_swap = M._swap_overwrite

    def swap(sess, table, df):
        swaps.append(table)
        return real_swap(sess, table, df)

    monkeypatch.setattr(M, "execute_statement", counted)
    monkeypatch.setattr(M, "_swap_overwrite", swap)
    _write(home, 2, [
        "ALTER TABLE ta ADD COLUMN c Int64 DEFAULT 24",
        "INSERT INTO ta (id, v) VALUES (2, 20)",
    ])
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
    assert add_jobs == [0] and swaps == []
    assert _rows(spark, db, "ta", ("id", "v", "c")) == [(1, 10, 24), (2, 20, 24)]

    _write(home, 3, [
        "ALTER TABLE ta UPDATE c = c + 1 WHERE id = 1",
        "INSERT INTO ta (id, v) VALUES (3, 30)",
        "OPTIMIZE TABLE ta FINAL",
        "INSERT INTO ta (id, v) VALUES (4, 40)",
    ])
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
    assert _rows(spark, db, "ta", ("id", "c")) == [(1, 25), (2, 24), (3, 24), (4, 24)]

    _write(home, 4, [
        "ALTER TABLE ta RENAME COLUMN c TO c2",
        "INSERT INTO ta (id, v) VALUES (5, 50)",
    ])
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
    assert _rows(spark, db, "ta", ("id", "c2")) == [(1, 25), (2, 24), (3, 24), (4, 24), (5, 24)]


@pytest.mark.usefixtures("ledger_db")
def test_literal_defaults_direct_on_partitioned_table(spark, db):
    """Through ``execute_statement``, on a PARTITIONED BY table: string,
    negative, wrapped-unsigned and NULL literals, and no DEFAULT.  The
    table keeps its partitioning, which a rewrite would lose."""
    spark.sql(
        f"CREATE TABLE `{db}`.tp (id BIGINT, p STRING) USING PARQUET PARTITIONED BY (p)"
    )
    spark.sql(f"INSERT INTO `{db}`.tp VALUES (1, 'a')")
    for stmt in (
        "ALTER TABLE tp ADD COLUMN s String DEFAULT 'it''s'",
        "ALTER TABLE tp ADD COLUMN n Int32 DEFAULT -3",
        "ALTER TABLE tp ADD COLUMN u UInt32 DEFAULT -1",
        "ALTER TABLE tp ADD COLUMN z Nullable(String) DEFAULT NULL",
        "ALTER TABLE tp ADD COLUMN w Float64",
    ):
        assert M.translate(stmt).metadata_only, stmt
        M.execute_statement(spark, stmt)
    spark.sql(f"INSERT INTO `{db}`.tp (id, p) VALUES (2, 'b')")
    cols = ("id", "p", "s", "n", "u", "z", "w")
    assert _rows(spark, db, "tp", cols) == [
        (1, "a", "it's", -3, 4294967295, None, None),
        (2, "b", "it's", -3, 4294967295, None, None),
    ]
    assert M._describe_table(spark, f"`{db}`.`tp`").pcols == ["p"]
    assert M._CREATE_STAMP_PROP not in M._table_props(spark, f"`{db}`.`tp`")


@pytest.mark.usefixtures("ledger_db")
def test_expression_default_still_rewrites(spark, db, monkeypatch):
    """An expression DEFAULT (Spark defaults must be constants) keeps the
    copy-on-write rewrite: existing rows get the computed value."""
    M.execute_statement(spark, "CREATE TABLE te (id Int64, d Date) ENGINE = MergeTree ORDER BY id")
    spark.sql(f"INSERT INTO `{db}`.te VALUES (1, DATE'2019-03-04')")
    real_swap, swaps = M._swap_overwrite, []

    def swap(sess, table, df):
        swaps.append(table)
        return real_swap(sess, table, df)

    monkeypatch.setattr(M, "_swap_overwrite", swap)
    st = M.translate("ALTER TABLE te ADD COLUMN ym UInt32 DEFAULT toYYYYMM(d)")
    assert not st.metadata_only
    M.execute_statement(spark, st.sql)
    assert swaps == ["te"]
    assert _rows(spark, db, "te", ("id", "ym")) == [(1, 201903)]


@pytest.mark.usefixtures("ledger_db")
def test_crash_after_metadata_add_resumes_once(spark, db, tmp_path, monkeypatch):
    """A crash after the ADD but before its journal row: the table wears
    the statement's stamp, so the rerun journals the ADD late instead of
    failing on "column already exists", and the column is added once."""
    spark.sql(f"CREATE TABLE `{db}`.tc (id BIGINT, v BIGINT) USING PARQUET")
    spark.sql(f"INSERT INTO `{db}`.tc VALUES (1, 10)")
    home = tmp_path / "mig"
    home.mkdir()
    _write(home, 1, [
        "INSERT INTO tc (id, v) VALUES (2, 20)",
        "ALTER TABLE tc ADD COLUMN c Int64 DEFAULT 7",
        "INSERT INTO tc (id, v) VALUES (3, 30)",
    ])
    fired = []

    def boom(stage):
        if stage == "after_stmt" and len(fired) == 1:
            fired.append(stage)
            raise RuntimeError("injected crash")
        if stage == "after_stmt":
            fired.append(stage)

    monkeypatch.setattr(M, "_crash_point", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, str(home), create_db_if_no_exists=False)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    assert "c" in spark.table(f"`{db}`.tc").columns
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
    assert spark.table(f"`{db}`.tc").columns == ["id", "v", "c"]
    assert _rows(spark, db, "tc", ("id", "v", "c")) == [(1, 10, 7), (2, 20, 7), (3, 30, 7)]
    # a column someone else added is still refused
    _write(home, 2, ["ALTER TABLE tc ADD COLUMN c Int64 DEFAULT 7"])
    with pytest.raises(ValueError, match="already exists"):
        M.migrate(spark, db, str(home), create_db_if_no_exists=False)


@pytest.mark.usefixtures("ledger_db")
def test_create_literal_defaults_reach_inserts_that_omit_them(spark, db, tmp_path):
    """CREATE TABLE keeps a literal DEFAULT as a Spark column default, so
    an INSERT that omits the column gets it: a staged INSERT through
    migrate(), and one through ``execute_statement``.  The zero date
    (``0``, ``'0000-00-00'``, ``'0000-00-00 00:00:00'``) reads as the
    epoch and an integer out of the type's range wraps, as ClickHouse
    stores them.  An expression DEFAULT is dropped (NULL), as before,
    and so is a literal Spark cannot cast: ``Date DEFAULT -1``."""
    ddl = (
        "CREATE TABLE {} (id Int64, s String DEFAULT 'it''s', n Int32 DEFAULT -3, "
        "u UInt32 DEFAULT -1, f Float64 DEFAULT 0.5, z Nullable(String) DEFAULT NULL, "
        "d Date DEFAULT today(), k Date DEFAULT '2020-01-02', "
        "t DateTime DEFAULT '2020-01-02 03:04:05', d0 Date DEFAULT 0, "
        "d1 Date DEFAULT -1, dz Date DEFAULT '0000-00-00', "
        "tz DateTime DEFAULT '0000-00-00 00:00:00', b Int8 DEFAULT 300) "
        "ENGINE = MergeTree ORDER BY id"
    )
    cols = ("id", "s", "n", "u", "f", "z", "d", "k", "t", "d0", "d1", "dz", "tz", "b")
    want = [(
        1, "it's", -3, 4294967295, 0.5, None, None, datetime.date(2020, 1, 2),
        datetime.datetime(2020, 1, 2, 3, 4, 5), EPOCH, None, EPOCH,
        datetime.datetime(1970, 1, 1), 44,
    )]
    home = tmp_path / "mig"
    home.mkdir()
    _write(home, 1, [ddl.format("tm"), "INSERT INTO tm (id) VALUES (1)"])
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
    assert _rows(spark, db, "tm", cols) == want
    M.execute_statement(spark, ddl.format("tx"))
    M.execute_statement(spark, "INSERT INTO tx (id) VALUES (1)")
    assert _rows(spark, db, "tx", cols) == want


@pytest.mark.usefixtures("ledger_db")
def test_add_column_stores_zero_dates_and_wrapped_integers(spark, db, tmp_path):
    """Through migrate(), ADD COLUMN stores what ClickHouse stores: the
    zero date reads as the epoch and an out-of-range integer wraps, for
    existing rows and for a later INSERT that omits the columns.  A
    literal Spark cannot store fails with its column, literal and type
    named, before the table changes."""
    home = tmp_path / "mig"
    home.mkdir()
    _write(home, 1, [
        "CREATE TABLE tz (id Int64) ENGINE = MergeTree ORDER BY id",
        "INSERT INTO tz VALUES (1)",
        "ALTER TABLE tz ADD COLUMN d Date DEFAULT 0",
        "ALTER TABLE tz ADD COLUMN ds Date DEFAULT '0000-00-00'",
        "ALTER TABLE tz ADD COLUMN t DateTime DEFAULT '0000-00-00 00:00:00'",
        "ALTER TABLE tz ADD COLUMN b Int8 DEFAULT 300",
        "ALTER TABLE tz ADD COLUMN s Int16 DEFAULT -32769",
        "INSERT INTO tz (id) VALUES (2)",
    ])
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
    row = (EPOCH, EPOCH, datetime.datetime(1970, 1, 1), 44, 32767)
    assert _rows(spark, db, "tz", ("id", "d", "ds", "t", "b", "s")) == [
        (1, *row), (2, *row),
    ]
    _write(home, 2, ["ALTER TABLE tz ADD COLUMN bad Date DEFAULT -1"])
    with pytest.raises(ValueError, match=r"'bad'.*DEFAULT -1 as Date"):
        M.migrate(spark, db, str(home), create_db_if_no_exists=False)
    assert "bad" not in spark.table(f"`{db}`.tz").columns


@pytest.mark.usefixtures("ledger_db")
def test_reference_ledger_ddl_through_migrate(spark, db, tmp_path):
    """The reference's own ledger DDL, ``created_at DateTime DEFAULT
    now()``, applies through migrate() (it used to end in a stray paren
    Spark could not parse); the expression default is dropped."""
    home = tmp_path / "mig"
    home.mkdir()
    _write(home, 1, [
        "CREATE TABLE IF NOT EXISTS audit (version UInt32, md5 String, script String, "
        "created_at DateTime DEFAULT now()) ENGINE = MergeTree ORDER BY tuple(created_at)",
        "INSERT INTO audit (version, md5, script) VALUES (1, 'm', 's')",
    ])
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
    df = spark.table(f"`{db}`.audit")
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("version", "bigint"), ("md5", "string"), ("script", "string"),
        ("created_at", "timestamp"),
    ]
    assert _rows(spark, db, "audit", ("version", "md5", "created_at")) == [(1, "m", None)]


@pytest.mark.usefixtures("ledger_db")
def test_modify_column_keeps_the_default(spark, db):
    """MODIFY COLUMN's rewrite keeps the column's default: an INSERT that
    omits the widened column still gets it."""
    for stmt in (
        "CREATE TABLE tw (id Int64) ENGINE = MergeTree ORDER BY id",
        "INSERT INTO tw VALUES (1)",
        "ALTER TABLE tw ADD COLUMN c Int32 DEFAULT 7",
        "ALTER TABLE tw MODIFY COLUMN c Int64",
        "INSERT INTO tw (id) VALUES (2)",
    ):
        M.execute_statement(spark, stmt)
    assert spark.table(f"`{db}`.tw").schema["c"].dataType.simpleString() == "bigint"
    assert _rows(spark, db, "tw", ("id", "c")) == [(1, 7), (2, 7)]
