"""Statement-level journal: exactly-once rerun convergence (VERDICT r9
directive #1).

A crash between a script's last durable effect and its ledger append
used to make the mandatory rerun re-execute the WHOLE script —
double-applying non-idempotent mutations (r8/r9 only disclosed this via
recover_cow's "completed:V<n>" + README warning).  Round 10 journals
every successfully executed statement (version, stmt_index, md5)
through the claims' atomic-rename channel; a COW swap journals an
intent and stamps its swap id onto the temp table first, so the next
run (or recover_cow) can write the journal row on the crashed runner's
behalf.

The headline test injects a crash at EVERY statement boundary of a
5-statement non-idempotent migration (v += 10^i, so any double-apply
perturbs a unique digit) — before each statement, after its effects are
durable but before the journal append, after the journal append, and
on both sides of the swap's DROP (after its intent is journaled) —
then runs the documented recovery (recover_cow + clear_claims + rerun)
and asserts the final value shows each statement applied EXACTLY once.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from clickhouse_migrator_spark import migrate as M


N_STMTS = 5
STMTS = [f"ALTER TABLE jt UPDATE v = v + {10 ** i} WHERE k = 1" for i in range(N_STMTS)]
EXPECTED = 1 + sum(10 ** i for i in range(N_STMTS))  # 11112 — every digit distinct


def _setup(spark, db, tmp_path, stmts=STMTS, version=3):
    M.execute_statement(
        spark, "CREATE TABLE jt (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    spark.sql(f"INSERT INTO `{db}`.jt VALUES (1, 1)")
    home = tmp_path / "mig"
    home.mkdir(exist_ok=True)
    path = home / f"V{version}__m.json"
    path.write_text(json.dumps(stmts))
    return str(home), path


def _v(spark, db) -> int:
    return spark.table(f"`{db}`.jt").collect()[0].v


def _arm(monkeypatch, stage: str, occurrence: int):
    """Raise on the `occurrence`-th firing of `stage` (0-based)."""
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
    for i in range(N_STMTS)
] + [("before_drop", 2), ("after_drop", 2)]


@pytest.mark.usefixtures("ledger_db")
@pytest.mark.parametrize("stage,occ", BOUNDARIES, ids=[f"{s}-{i}" for s, i in BOUNDARIES])
def test_crash_at_every_boundary_converges_exactly_once(
    spark, db, tmp_path, monkeypatch, stage, occ
):
    home, _ = _setup(spark, db, tmp_path)
    _arm(monkeypatch, stage, occ)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    # documented recovery: recover_cow, clear stale claim, rerun
    M.recover_cow(spark, db)
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    assert _v(spark, db) == EXPECTED, f"double/lost apply at {stage}:{occ}"
    led = spark.table(f"`{db}`.{M.LEDGER}").filter(F.col("version") == 3)
    assert led.count() == 1
    # converged: a further rerun is a no-op and changes nothing
    assert M.migrate(spark, db, home) == 0
    assert _v(spark, db) == EXPECTED


@pytest.mark.usefixtures("ledger_db")
def test_transient_failure_resumes_same_script(spark, db, tmp_path, monkeypatch):
    """A statement that fails WITHOUT an edit (transient cause): the
    rerun of the identical script resumes at the failed statement —
    statements 0..2 execute exactly once across both runs."""
    home, _ = _setup(spark, db, tmp_path)
    real = M.execute_statement
    state = {"fail": True}

    def flaky(spark_, sql):
        if state["fail"] and sql == STMTS[3]:
            state["fail"] = False
            raise RuntimeError("transient")
        return real(spark_, sql)

    monkeypatch.setattr(M, "execute_statement", flaky)
    with pytest.raises(RuntimeError, match="transient"):
        M.migrate(spark, db, home)
    # fail-stop applied 0..2 once; failure released the claim
    assert _v(spark, db) == 1 + 1 + 10 + 100
    assert M._live_claims(spark, M._meta(spark, db, M.CLAIMS)).count() == 0
    assert M.migrate(spark, db, home) == 1  # resumes at stmt 3
    assert _v(spark, db) == EXPECTED


@pytest.mark.usefixtures("ledger_db")
def test_edited_script_discards_journal_whole_script_rerun(
    spark, db, tmp_path, monkeypatch
):
    """Editing the failed script changes its md5 → journaled progress is
    discarded and the rerun re-executes from statement 0 (the
    documented semantics for edits; indices no longer correspond)."""
    bad = STMTS[:2] + ["ALTER TABLE missing_tbl UPDATE v = 0 WHERE k = 0"]
    home, path = _setup(spark, db, tmp_path, stmts=bad)
    with pytest.raises(Exception):
        M.migrate(spark, db, home)
    assert _v(spark, db) == 1 + 1 + 10  # stmts 0,1 applied once
    path.write_text(json.dumps(STMTS[:2]))  # FIXED script, md5 differs
    assert M.migrate(spark, db, home) == 1
    # whole-script rerun: 0,1 applied AGAIN (documented double-apply on edit)
    assert _v(spark, db) == 1 + 2 * (1 + 10)


@pytest.mark.usefixtures("ledger_db")
def test_clear_journal_forces_full_reexecution(spark, db, tmp_path, monkeypatch):
    home, _ = _setup(spark, db, tmp_path)
    _arm(monkeypatch, "before_stmt", 3)
    with pytest.raises(RuntimeError):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    assert _v(spark, db) == 1 + 1 + 10 + 100
    cleared = M.clear_journal(spark, db)
    assert cleared == 3  # stmts 0..2 were journaled
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    # journal cleared → full re-execution (0..2 applied twice, 3..4 once)
    assert _v(spark, db) == 1 + 2 * (1 + 10 + 100) + 1000 + 10000


@pytest.mark.usefixtures("ledger_db")
def test_recover_cow_live_table_reconciliation_action(
    spark, db, tmp_path, monkeypatch
):
    """Crash after the swap's RENAME but before the journal append: the
    live table wears the swap id of an intent that has no commit row;
    recover_cow journals the statement late and reports journaled:V<n>."""
    home, _ = _setup(spark, db, tmp_path)
    _arm(monkeypatch, "after_stmt", 2)
    with pytest.raises(RuntimeError):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    journal = M._meta(spark, db, M.JOURNAL)
    md5 = M.scan_migrations(home)[0].md5
    (intent,) = [
        r for r in M._read_journal_rows(journal) if r["swap_id"] and r["stmt_index"] == 2
    ]
    assert (intent["version"], intent["md5"]) == (3, md5)
    props = M._table_props(spark, f"`{db}`.jt")
    assert props.get(M._COW_SWAP_PROP) == intent["swap_id"]
    assert all(k not in props for k in M._COW_MARKER_PROPS)
    assert M._journaled_stmts(journal, 3, md5)[0] == {0, 1}
    actions = M.recover_cow(spark, db)
    assert actions == {"jt": "journaled:V3"}
    assert M._journaled_stmts(journal, 3, md5)[0] == {0, 1, 2}
    # the late-journaled row makes the rerun resume AFTER stmt 2
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    assert _v(spark, db) == EXPECTED


@pytest.mark.usefixtures("ledger_db")
def test_recover_cow_after_journal_crash_does_not_duplicate_row(
    spark, db, tmp_path, monkeypatch
):
    home, _ = _setup(spark, db, tmp_path)
    _arm(monkeypatch, "after_journal", 1)
    with pytest.raises(RuntimeError):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    M.recover_cow(spark, db)
    jq = f"`{db}`.`{M.JOURNAL}`"
    spark.catalog.refreshTable(jq)
    rows = (
        spark.table(jq)
        .filter((F.col("version") == 3) & (F.col("stmt_index") == 1))
        .filter(F.col("swap_id").isNull())  # commit rows, not the swap intent
        .count()
    )
    assert rows == 1  # reconciliation saw the commit row and added none
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    assert _v(spark, db) == EXPECTED


@pytest.mark.usefixtures("ledger_db")
def test_pre_journal_orphan_falls_back_to_disclosure(spark, db, tmp_path):
    """An orphan temp from a pre-journal build (version marker only, no
    stmt/md5): recover_cow completes the rename and keeps the r9
    disclosure semantics — completed:V<n>, rerun re-executes."""
    M.execute_statement(
        spark, "CREATE TABLE old_t (v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    spark.sql(f"INSERT INTO `{db}`.old_t VALUES (5)")
    # hand-build the crashed state: target dropped, temp carries only
    # the version marker (old stamp format)
    spark.sql(f"CREATE TABLE `{db}`.`__cow_old_t` AS SELECT v + 1 AS v FROM `{db}`.old_t")
    spark.sql(
        f"ALTER TABLE `{db}`.`__cow_old_t` SET TBLPROPERTIES "
        f"('{M._COW_VERSION_PROP}' = '9')"
    )
    spark.sql(f"DROP TABLE `{db}`.old_t")
    actions = M.recover_cow(spark, db)
    assert actions == {"old_t": "completed:V9"}
    assert spark.table(f"`{db}`.old_t").collect()[0].v == 6
    # no journal row was invented for the unknown statement index
    jq = f"`{db}`.`{M.JOURNAL}`"
    spark.catalog.refreshTable(jq)
    assert spark.table(jq).filter(F.col("version") == 9).count() == 0


# ── exactly-once INSERTs (VERDICT r10 #1: staged-append commit) ──────────────

INSERT_STMTS = [f"INSERT INTO ji VALUES ({i}, {10 ** i})" for i in range(N_STMTS)]
# any double-applied INSERT adds a duplicate (i, 10^i) row: the multiset
# and the digit-sum both catch it
INSERT_EXPECTED = {(i, 10**i) for i in range(N_STMTS)}


def _setup_insert(spark, db, tmp_path, stmts, version=7, table="ji"):
    M.execute_statement(
        spark,
        f"CREATE TABLE {table} (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()",
    )
    home = tmp_path / "mig_ins"
    home.mkdir(exist_ok=True)
    path = home / f"V{version}__ins.json"
    path.write_text(json.dumps(stmts))
    return str(home), path


def _rows(spark, db, table):
    return sorted((r.k, r.v) for r in spark.table(f"`{db}`.{table}").collect())


INSERT_BOUNDARIES = [
    (stage, i)
    for stage in ("before_stmt", "after_stmt", "after_journal")
    for i in range(N_STMTS)
] + [("mid_publish", 0), ("mid_publish", 2), ("mid_publish", 4)]


@pytest.mark.usefixtures("ledger_db")
@pytest.mark.parametrize(
    "stage,occ", INSERT_BOUNDARIES, ids=[f"{s}-{i}" for s, i in INSERT_BOUNDARIES]
)
def test_insert_crash_at_every_boundary_exactly_once(
    spark, db, tmp_path, monkeypatch, stage, occ
):
    """A crash before the journal append leaves only an invisible stage
    (rerun drops it and re-executes); a crash after leaves a committed
    stage (rerun publishes it and skips) — the INSERT's rows land
    exactly once either way, including mid-publish crashes."""
    home, _ = _setup_insert(spark, db, tmp_path, INSERT_STMTS)
    _arm(monkeypatch, stage, occ)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    # an after_stmt crash means the statement's rows must NOT be visible
    if stage == "after_stmt":
        visible = {kv for kv in _rows(spark, db, "ji")}
        assert (occ, 10**occ) not in visible, "uncommitted stage leaked rows"
    M.recover_cow(spark, db)
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    assert sorted(_rows(spark, db, "ji")) == sorted(INSERT_EXPECTED), (
        f"double/lost INSERT at {stage}:{occ}"
    )
    assert M.migrate(spark, db, home) == 0
    assert sorted(_rows(spark, db, "ji")) == sorted(INSERT_EXPECTED)
    # no stage tables survive convergence
    leftovers = [
        r["tableName"]
        for r in spark.sql(f"SHOW TABLES IN `{db}`").collect()
        if r["tableName"].startswith(M._STAGE_PREFIX)
    ]
    assert leftovers == []


MIXED_STMTS = [
    "INSERT INTO jm VALUES (1, 1)",
    "ALTER TABLE jm UPDATE v = v + 10 WHERE k >= 0",
    "INSERT INTO jm VALUES (2, 100)",
    "ALTER TABLE jm UPDATE v = v + 1000 WHERE k >= 0",
    "INSERT INTO jm VALUES (3, 10000)",
]
# s0→(1,1); s1→(1,11); s2→+(2,100); s3→(1,1011),(2,1100); s4→+(3,10000)
MIXED_EXPECTED = [(1, 1011), (2, 1100), (3, 10000)]

MIXED_BOUNDARIES = [
    (stage, i)
    for stage in ("before_stmt", "after_stmt", "after_journal")
    for i in range(len(MIXED_STMTS))
]


@pytest.mark.usefixtures("ledger_db")
@pytest.mark.parametrize(
    "stage,occ", MIXED_BOUNDARIES, ids=[f"{s}-{i}" for s, i in MIXED_BOUNDARIES]
)
def test_mixed_insert_cow_crash_sweep_exactly_once(
    spark, db, tmp_path, monkeypatch, stage, occ
):
    """Interleaved INSERTs and non-idempotent COW mutations: the rerun
    must publish a journal-committed-but-unpublished INSERT *before*
    re-executing the next statement, or the following UPDATE would miss
    its rows (ordering pin for _reconcile_staged-before-loop)."""
    home, _ = _setup_insert(spark, db, tmp_path, MIXED_STMTS, version=8, table="jm")
    _arm(monkeypatch, stage, occ)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    M.recover_cow(spark, db)
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    assert _rows(spark, db, "jm") == MIXED_EXPECTED, f"diverged at {stage}:{occ}"
    assert M.migrate(spark, db, home) == 0
    assert _rows(spark, db, "jm") == MIXED_EXPECTED


@pytest.mark.usefixtures("ledger_db")
def test_self_referencing_insert_select_exactly_once(
    spark, db, tmp_path, monkeypatch
):
    """INSERT INTO t SELECT ... FROM t doubles the table — the most
    insert-shape-sensitive non-idempotent statement.  A crash after the
    journal append must not re-double on rerun, and the staged read
    must see only committed rows."""
    stmts = ["INSERT INTO js SELECT k + 10, v FROM js"]
    home, _ = _setup_insert(spark, db, tmp_path, stmts, version=9, table="js")
    spark.sql(f"INSERT INTO `{db}`.js VALUES (1, 5), (2, 6)")
    _arm(monkeypatch, "after_journal", 0)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    assert _rows(spark, db, "js") == [(1, 5), (2, 6), (11, 5), (12, 6)]
    assert M.migrate(spark, db, home) == 0
    assert spark.table(f"`{db}`.js").count() == 4


@pytest.mark.usefixtures("ledger_db")
def test_insert_journal_append_failure_converges(spark, db, tmp_path, monkeypatch):
    """The journal append FAILS with a plain exception (not a crash)
    right after an INSERT staged: fail-stop releases the claim, the
    staged rows stay invisible, and a plain rerun — no recover step —
    applies the insert exactly once."""
    stmts = ["INSERT INTO jf VALUES (1, 42)"]
    home, _ = _setup_insert(spark, db, tmp_path, stmts, version=11, table="jf")
    real = M._append_journal_row
    state = {"fail": True}

    def flaky(spark_, journal, version, i, md5, owner):
        if state["fail"] and version == 11:
            state["fail"] = False
            raise RuntimeError("journal io error")
        return real(spark_, journal, version, i, md5, owner)

    monkeypatch.setattr(M, "_append_journal_row", flaky)
    with pytest.raises(RuntimeError, match="journal io error"):
        M.migrate(spark, db, home)
    assert _rows(spark, db, "jf") == []  # staged rows never became visible
    assert M._live_claims(spark, M._meta(spark, db, M.CLAIMS)).count() == 0
    assert M.migrate(spark, db, home) == 1  # plain rerun, no recovery step
    assert _rows(spark, db, "jf") == [(1, 42)]


@pytest.mark.usefixtures("ledger_db")
def test_staged_insert_column_list_fills_null(spark, db, tmp_path):
    """A column-subset INSERT through the runner behaves exactly like a
    direct execution (unspecified columns NULL) — the stage table is a
    faithful schema clone."""
    stmts = ["INSERT INTO jc (k) VALUES (9)"]
    home, _ = _setup_insert(spark, db, tmp_path, stmts, version=13, table="jc")
    assert M.migrate(spark, db, home) == 1
    rows = spark.table(f"`{db}`.jc").collect()
    assert [(r.k, r.v) for r in rows] == [(9, None)]


@pytest.mark.usefixtures("ledger_db")
def test_staged_insert_cross_database_target(spark, db, tmp_path, monkeypatch):
    """INSERT INTO a table in ANOTHER database: the stage lives in the
    migration db, the publish lands in the target db's table directory,
    and the crash windows still reconcile exactly-once."""
    other = db + "_x"
    M.create_db(spark, other)
    try:
        spark.sql(
            f"CREATE TABLE `{other}`.xt (k BIGINT, v BIGINT) USING PARQUET"
        )
        stmts = [f"INSERT INTO {other}.xt VALUES (1, 5)"]
        home, _ = _setup_insert(spark, db, tmp_path, stmts, version=14, table="jx")
        _arm(monkeypatch, "after_journal", 0)
        with pytest.raises(RuntimeError, match="injected crash"):
            M.migrate(spark, db, home)
        monkeypatch.setattr(M, "_crash_point", lambda s: None)
        # journal committed, publish pending — rows not yet visible
        assert spark.table(f"`{other}`.xt").count() == 0
        M.clear_claims(spark, db)
        assert M.migrate(spark, db, home) == 1
        assert [(r.k, r.v) for r in spark.table(f"`{other}`.xt").collect()] == [
            (1, 5)
        ]
        assert M.migrate(spark, db, home) == 0
        assert spark.table(f"`{other}`.xt").count() == 1
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS `{other}` CASCADE")


@pytest.mark.usefixtures("ledger_db")
def test_staged_insert_into_missing_table_raises_user_error(spark, db, tmp_path):
    """An INSERT whose target doesn't exist must surface the analyzer's
    error (the staging gate returns None and direct execution raises),
    not a staging artifact."""
    stmts = ["INSERT INTO no_such_tbl VALUES (1, 2)"]
    home, _ = _setup_insert(spark, db, tmp_path, stmts, version=15, table="jn")
    with pytest.raises(Exception) as ei:
        M.migrate(spark, db, home)
    assert "no_such_tbl" in str(ei.value)
    # and no stage-table garbage was left behind
    leftovers = [
        r["tableName"]
        for r in spark.sql(f"SHOW TABLES IN `{db}`").collect()
        if r["tableName"].startswith(M._STAGE_PREFIX)
    ]
    assert leftovers == []


# ── journal compaction (VERDICT r10 #6) ──────────────────────────────────────


@pytest.mark.usefixtures("ledger_db")
def test_journal_compacts_after_each_success(spark, db, tmp_path):
    """Journal rows for ledgered versions are removed automatically —
    the journal stays bounded (empty) across N successful migrations,
    logically and physically."""
    import json as _json
    import os as _os

    home = tmp_path / "mc"
    home.mkdir()
    jq = f"`{db}`.`{M.JOURNAL}`"
    for v in (1, 2, 3):
        (home / f"V{v}__c.json").write_text(
            _json.dumps(
                [
                    f"CREATE TABLE ct{v} (k Int64, v Int64) "
                    "ENGINE = MergeTree ORDER BY tuple()",
                    f"INSERT INTO ct{v} VALUES ({v}, {v})",
                ]
            )
        )
        assert M.migrate(spark, db, str(home)) == 1
        spark.catalog.refreshTable(jq)
        assert spark.table(jq).count() == 0
        loc = M._meta(spark, db, M.JOURNAL).path
        files = [
            f
            for f in _os.listdir(loc)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        assert files == [], f"journal files not compacted after V{v}: {files}"


@pytest.mark.usefixtures("ledger_db")
def test_compaction_preserves_failed_version_progress(
    spark, db, tmp_path, monkeypatch
):
    """Compaction removes only LEDGERED versions' rows: a crashed
    version's journaled progress survives the compaction that runs when
    an earlier version commits, and the rerun still resumes."""
    import json as _json

    home = tmp_path / "mp"
    home.mkdir()
    (home / "V1__a.json").write_text(
        _json.dumps(
            [
                "CREATE TABLE pt (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()",
                "INSERT INTO pt VALUES (0, 0)",
            ]
        )
    )
    (home / "V2__b.json").write_text(
        _json.dumps(
            [
                "INSERT INTO pt VALUES (1, 1)",
                "ALTER TABLE pt UPDATE v = v + 7 WHERE k = 1",
            ]
        )
    )
    # occurrences of before_stmt: V1 stmts 0,1 → occ 0,1; V2 stmt 0 →
    # occ 2; V2 stmt 1 → occ 3.  Crash before V2's UPDATE.
    _arm(monkeypatch, "before_stmt", 3)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, str(home))
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    jq = f"`{db}`.`{M.JOURNAL}`"
    spark.catalog.refreshTable(jq)
    # V2's INSERT left its commit row and the stage intent ahead of it
    rows = sorted((r.version, r.stmt_index, r.swap_id is None) for r in spark.table(jq).collect())
    assert rows == [(2, 0, False), (2, 0, True)], f"V1 compacted, V2 progress kept — got {rows}"
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, str(home)) == 1
    got = sorted((r.k, r.v) for r in spark.table(f"`{db}`.pt").collect())
    assert got == [(0, 0), (1, 8)]  # V2 stmt0 applied once, stmt1 once
    spark.catalog.refreshTable(jq)
    assert spark.table(jq).count() == 0  # V2 now ledgered → compacted


def test_journal_schema_widens_swap_columns_in_place(spark, db, tmp_path):
    """A journal an older build created, without the swap-intent columns,
    gains ``swap_id`` and ``target`` in place on the next migrate(); its
    older row reads them as NULL, a commit row, and is kept (its version
    is not ledgered)."""
    jq = f"`{db}`.`{M.JOURNAL}`"
    spark.sql(
        f"CREATE TABLE {jq} (version BIGINT, stmt_index BIGINT, md5 STRING, "
        "owner STRING, created_at TIMESTAMP) USING PARQUET"
    )
    spark.sql(f"INSERT INTO {jq} VALUES (9, 0, 'old', 'older-build', current_timestamp())")
    home, _path = _setup(spark, db, tmp_path, stmts=STMTS[:1])
    assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 1
    assert _v(spark, db) == 2
    journal = spark.table(jq)
    assert {"swap_id", "target"} <= set(journal.columns)
    assert [(r.version, r.owner) for r in journal.filter("swap_id IS NULL").collect()] == [
        (9, "older-build")
    ]


@pytest.mark.usefixtures("ledger_db")
def test_compaction_races_reader_and_appender(spark, db):
    """A rival compacting dead files concurrently with journal appends
    and reads never breaks either: whole-file removal only ever touches
    fully-ledgered rows, and _read_journal_rows tolerates files
    vanishing between listing and read."""
    import threading

    journal = M._meta(spark, db, M.JOURNAL)
    spark.sql(
        f"INSERT INTO `{db}`.`{M.LEDGER}` VALUES (1, 'x', 's', current_timestamp())"
    )
    stop = threading.Event()
    errors: list[Exception] = []

    def compacter():
        while not stop.is_set():
            try:
                M.compact_journal(spark, db)
            except Exception as e:  # pragma: no cover - the failure we test for
                errors.append(e)
                return

    th = threading.Thread(target=compacter)
    th.start()
    try:
        for i in range(20):
            M._append_journal_row(spark, journal, 1, i, "dead", "o")  # ledgered → dead
            M._append_journal_row(spark, journal, 99, i, "live", "o")  # must survive
            done, _ = M._journaled_stmts(journal, 99, "live")
            assert done == set(range(i + 1)), f"live row lost at {i}: {done}"
    finally:
        stop.set()
        th.join()
    assert errors == []
    M.compact_journal(spark, db)
    done, _ = M._journaled_stmts(journal, 99, "live")
    assert done == set(range(20))
    dead, _ = M._journaled_stmts(journal, 1, "dead")
    assert dead == set()


@pytest.mark.usefixtures("ledger_db")
def test_journal_rows_keyed_by_md5_not_just_version(spark, db, tmp_path):
    """_journaled_stmts honors only rows whose md5 matches the current
    script body; rows from a different body are reported stale."""
    journal = M._meta(spark, db, M.JOURNAL)
    M._append_journal_row(spark, journal, 4, 0, "aaa", "o1")
    M._append_journal_row(spark, journal, 4, 1, "aaa", "o1")
    M._append_journal_row(spark, journal, 4, 0, "bbb", "o2")
    done, stale = M._journaled_stmts(journal, 4, "aaa")
    assert done == {0, 1} and stale is True
    done, stale = M._journaled_stmts(journal, 4, "ccc")
    assert done == set() and stale is True
    done, stale = M._journaled_stmts(journal, 5, "aaa")
    assert done == set() and stale is False


# ── plain INSERT crash and journal-append failure reruns are exactly-once ────


@pytest.mark.usefixtures("ledger_db")
def test_after_stmt_crash_on_insert_no_duplicates(spark, db, tmp_path, monkeypatch):
    """The exact fault shape ADVICE r11 #1 reproduced live under r10
    semantics (rows duplicated): crash at after_stmt on a plain INSERT,
    then the fuzzer's documented recovery (recover_cow + clear_claims +
    rerun).  The exact-multiset model demands zero duplicates."""
    M.execute_statement(
        spark, "CREATE TABLE az (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    home = tmp_path / "mig"
    home.mkdir()
    (home / "V1__i.json").write_text(
        json.dumps(["INSERT INTO az VALUES (0, 7), (1, 8), (2, 9)"])
    )
    fired = {"n": 0}

    def boom(s):
        if s == "after_stmt" and fired["n"] == 0:
            fired["n"] += 1
            raise RuntimeError("crashj")

    monkeypatch.setattr(M, "_crash_point", boom)
    with pytest.raises(RuntimeError, match="crashj"):
        M.migrate(spark, db, str(home))
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    M.recover_cow(spark, db)
    M.clear_claims(spark, db)
    M.migrate(spark, db, str(home))
    from collections import Counter

    got = Counter((r.k, r.v) for r in spark.table(f"`{db}`.az").collect())
    assert got == Counter({(0, 7): 1, (1, 8): 1, (2, 9): 1}), got


@pytest.mark.usefixtures("ledger_db")
def test_cow_journal_append_failure_plain_rerun_exactly_once(
    spark, db, tmp_path, monkeypatch
):
    M.execute_statement(
        spark, "CREATE TABLE ac (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    spark.sql(f"INSERT INTO `{db}`.ac VALUES (1, 1)")
    home = tmp_path / "mig"
    home.mkdir()
    (home / "V2__u.json").write_text(
        json.dumps(["ALTER TABLE ac UPDATE v = v + 5 WHERE k = 1"])
    )
    real = M._append_journal_row
    state = {"fail": True}

    def flaky(spark_, journal, version, i, md5, owner):
        if state["fail"] and version == 2:
            state["fail"] = False
            raise RuntimeError("journal io error")
        return real(spark_, journal, version, i, md5, owner)

    monkeypatch.setattr(M, "_append_journal_row", flaky)
    with pytest.raises(RuntimeError, match="journal io error"):
        M.migrate(spark, db, str(home))
    # the swap RENAME completed: the mutation is applied, and the table
    # wears the swap id of an intent with no commit row
    assert spark.table(f"`{db}`.ac").collect()[0].v == 6
    journal = M._meta(spark, db, M.JOURNAL)
    (intent,) = M._read_journal_rows(journal)
    assert (intent["version"], intent["stmt_index"]) == (2, 0)
    props = M._table_props(spark, f"`{db}`.ac")
    assert props.get(M._COW_SWAP_PROP) == intent["swap_id"]
    assert M._live_claims(spark, M._meta(spark, db, M.CLAIMS)).count() == 0
    # plain rerun — no recover_cow — must NOT re-apply v = v + 5
    monkeypatch.setattr(M, "_append_journal_row", real)
    assert M.migrate(spark, db, str(home)) == 1
    assert spark.table(f"`{db}`.ac").collect()[0].v == 6
    # the version is ledgered, so its intent went with its commit rows
    assert M._read_journal_rows(journal) == []
    assert M.migrate(spark, db, str(home)) == 0
    assert spark.table(f"`{db}`.ac").collect()[0].v == 6


@pytest.mark.usefixtures("ledger_db")
def test_reconcile_live_markers_journals_stamped_intents(spark, db, monkeypatch):
    """Only an uncommitted intent whose table wears its swap id is
    journaled late; an intent whose swap never happened (old id, or
    table absent) and an intent that already has its commit row are
    left alone.  A second pass finds nothing and adds nothing."""
    M.execute_statement(
        spark, "CREATE TABLE ar (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    spark.sql(f"ALTER TABLE `{db}`.ar SET TBLPROPERTIES ('{M._COW_SWAP_PROP}' = 'sw2')")
    journal = M._meta(spark, db, M.JOURNAL)
    ar, gone = f"`{db}`.`ar`", f"`{db}`.`gone`"
    M._append_swap_intent(journal, 4, 0, "mmm", "o", ar, "sw0")  # committed below
    M._append_journal_row(spark, journal, 4, 0, "mmm", "o")
    M._append_swap_intent(journal, 4, 1, "mmm", "o", ar, "sw1")  # superseded id
    M._append_swap_intent(journal, 4, 2, "mmm", "o", ar, "sw2")  # swapped
    M._append_swap_intent(journal, 4, 3, "mmm", "o", gone, "sw3")  # no table
    tables = len(spark.sql(f"SHOW TABLES IN `{db}`").collect())
    props = M._table_props
    asked = []

    def counted(sess, qual):
        asked.append(qual)
        return props(sess, qual)

    monkeypatch.setattr(M, "_table_props", counted)
    out = M._reconcile_live_markers(spark, journal)
    monkeypatch.setattr(M, "_table_props", props)
    assert out == {"ar": "4"}
    # one property read per distinct uncommitted target, not per table
    assert sorted(asked) == sorted([ar, gone]) and tables > len(asked)
    done, _ = M._journaled_stmts(journal, 4, "mmm")
    assert done == {0, 2}
    # idempotent: second pass finds nothing and adds nothing
    assert M._reconcile_live_markers(spark, journal) == {}
    assert M._journaled_stmts(journal, 4, "mmm")[0] == {0, 2}


@pytest.mark.usefixtures("ledger_db")
def test_recover_cow_retires_legacy_live_markers(spark, db):
    """Upgrade path: markers an earlier build left on a live table (a
    crash between its RENAME and its journal append) are read by
    recover_cow alone — journaled late, unset, reported once."""
    M.execute_statement(
        spark, "CREATE TABLE ar (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    spark.sql(
        f"ALTER TABLE `{db}`.ar SET TBLPROPERTIES "
        f"('{M._COW_VERSION_PROP}' = '4', '{M._COW_STMT_PROP}' = '1', "
        f"'{M._COW_MD5_PROP}' = 'mmm')"
    )
    journal = M._meta(spark, db, M.JOURNAL)
    # migrate()'s self-heal reads intents only
    assert M._reconcile_live_markers(spark, journal) == {}
    assert M.recover_cow(spark, db) == {"ar": "journaled:V4"}
    done, _ = M._journaled_stmts(journal, 4, "mmm")
    assert done == {1}
    assert all(
        k not in M._table_props(spark, f"`{db}`.ar") for k in M._COW_MARKER_PROPS
    )
    # idempotent: second pass finds nothing and adds nothing
    assert M.recover_cow(spark, db) == {}
    assert M._journaled_stmts(journal, 4, "mmm")[0] == {1}


# ── stage intents: leftover stages are found from the journal ───────────────


def _stages(spark, db):
    return [
        r["tableName"]
        for r in spark.sql(f"SHOW TABLES IN `{db}`").collect()
        if r["tableName"].startswith(M._STAGE_PREFIX)
    ]


@pytest.mark.usefixtures("ledger_db")
@pytest.mark.parametrize("stage", ["stage_created", "after_stmt"])
def test_stage_intent_crash_windows_rerun_exactly_once(
    spark, db, tmp_path, monkeypatch, stage
):
    """A crash after the stage is created but before its INSERT runs,
    and one after the INSERT but before its journal row: each leaves a
    stage that only its journaled stage intent names.  The plain rerun
    (no recover_cow) drops it, re-executes the INSERT once and leaves
    no ``__stage_stmt_*`` table."""
    home, _ = _setup_insert(spark, db, tmp_path, INSERT_STMTS[:3])
    _arm(monkeypatch, stage, 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    assert len(_stages(spark, db)) == 1
    intents = [r for r in M._read_journal_rows(M._meta(spark, db, M.JOURNAL)) if M._stage_of(r)]
    assert sorted((r["stmt_index"], r["target"]) for r in intents) == [
        (0, f"`{db}`.`ji`"),
        (1, f"`{db}`.`ji`"),
    ]
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    assert _rows(spark, db, "ji") == sorted((i, 10**i) for i in range(3))
    assert _stages(spark, db) == []


@pytest.mark.usefixtures("ledger_db")
def test_recover_cow_reconciles_stages_without_intents(spark, db):
    """Stages an older build left, which no stage intent names: recovery
    publishes the one whose statement its runner committed and drops
    the one it did not."""
    spark.sql(f"CREATE TABLE `{db}`.tl (k BIGINT, v BIGINT) USING PARQUET")
    target = f"`{db}`.`tl`"
    for i in (0, 1):
        spark.sql(
            f"CREATE TABLE `{db}`.`{M._STAGE_PREFIX}old_7_{i}` LIKE {target} USING PARQUET "
            f"TBLPROPERTIES ('{M._STAGE_TARGET_PROP}' = '{target}')"
        )
        spark.sql(f"INSERT INTO `{db}`.`{M._STAGE_PREFIX}old_7_{i}` VALUES ({i}, {i})")
    journal = M._meta(spark, db, M.JOURNAL)
    M._append_journal_row(spark, journal, 7, 0, "m", "old")
    M.recover_cow(spark, db)
    assert _rows(spark, db, "tl") == [(0, 0)]
    assert _stages(spark, db) == []
