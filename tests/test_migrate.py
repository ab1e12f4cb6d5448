"""Migration-runner behavior, mirroring the reference's 8-test suite
(`/root/reference/tests/test_clickhouse_migration.py` — see SURVEY.md §5):
4 diff-planner cases, 2 end-to-end runs, 2 sequential-DML count checks."""

from __future__ import annotations

import gzip
import json
import os
import re
import uuid

import pytest
from pyspark.sql import Row, functions as F

from clickhouse_migrator_spark import migrate as M

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _ledger_insert(spark, db, version, md5, script):
    spark.sql(
        f"INSERT INTO `{db}`.schema_versions VALUES "
        f"({version}, '{md5}', '{script}', current_timestamp())"
    )


def _manifest(spark, rows):
    return spark.createDataFrame([Row(version=v, script=s, md5=m) for v, s, m in rows], M.MANIFEST_SCHEMA)


# ── diff planner (reference tests :27-59) ───────────────────────────────────


@pytest.mark.usefixtures("ledger_db")
def test_empty_ledger_returns_all_incoming(spark, db):
    inc = _manifest(spark, [(1, "a.sql", "m1"), (2, "b.sql", "m2")])
    out = M.migrations_to_apply(spark, db, inc)
    assert sorted(r.version for r in out.collect()) == [1, 2]


@pytest.mark.usefixtures("ledger_db")
def test_deleted_migration_raises(spark, db):
    _ledger_insert(spark, db, 1, "m1", "a.sql")
    _ledger_insert(spark, db, 2, "m2", "b.sql")
    inc = _manifest(spark, [(1, "a.sql", "m1"), (3, "c.sql", "m3")])
    with pytest.raises(AssertionError, match="deleted"):
        M.migrations_to_apply(spark, db, inc)


@pytest.mark.usefixtures("ledger_db")
def test_missing_migration_count_raises(spark, db):
    _ledger_insert(spark, db, 1, "m1", "a.sql")
    _ledger_insert(spark, db, 2, "m2", "b.sql")
    inc = _manifest(spark, [(1, "a.sql", "m1")])
    with pytest.raises(AssertionError, match="missing"):
        M.migrations_to_apply(spark, db, inc)


@pytest.mark.usefixtures("ledger_db")
def test_edited_migration_raises(spark, db):
    _ledger_insert(spark, db, 1, "m1", "a.sql")
    inc = _manifest(spark, [(1, "a.sql", "EDITED")])
    with pytest.raises(AssertionError, match="edit"):
        M.migrations_to_apply(spark, db, inc)


@pytest.mark.usefixtures("ledger_db")
def test_pending_set_is_anti_join(spark, db):
    _ledger_insert(spark, db, 1, "m1", "a.sql")
    inc = _manifest(spark, [(1, "a.sql", "m1"), (2, "b.sql", "m2"), (3, "c.sql", "m3")])
    out = M.migrations_to_apply(spark, db, inc)
    assert sorted(r.version for r in out.collect()) == [2, 3]
    assert set(out.columns) == {"version", "script", "md5"}


# ── end-to-end (reference tests :62-89) ─────────────────────────────────────


@pytest.mark.usefixtures("ledger_db")
def test_e2e_sql_only(spark, db):
    n = M.migrate(spark, db, f"{FIXTURES}/migrations_sql", create_db_if_no_exists=False)
    assert n == 1
    assert M.show_tables(spark, db) == ["schema_versions", "widgets"]
    # idempotent rerun: nothing pending
    assert M.migrate(spark, db, f"{FIXTURES}/migrations_sql", create_db_if_no_exists=False) == 0


@pytest.mark.usefixtures("ledger_db")
def test_e2e_mixed_sql_and_json(spark, db):
    n = M.migrate(spark, db, f"{FIXTURES}/migrations_mixed", create_db_if_no_exists=False)
    assert n == 2
    assert M.show_tables(spark, db) == [
        "schema_versions",
        "shapes1",
        "shapes2",
        "shapes3",
        "widgets",
    ]
    ledger = spark.table(f"`{db}`.schema_versions")
    assert [r.version for r in ledger.orderBy("version").collect()] == [1, 2]
    assert ledger.filter(F.col("created_at").isNull()).count() == 0


# ── sequential DML semantics (reference tests :91-138) ──────────────────────


N_ROWS = 10_000


def _score(i: int) -> int:
    return (i * 7919) % 10_000


@pytest.fixture()
def seq_csv(tmp_path):
    p = tmp_path / "metrics.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write("id,score\n")
        for i in range(1, N_ROWS + 1):
            f.write(f"{i},{_score(i)}\n")
    return str(p)


@pytest.mark.usefixtures("ledger_db")
@pytest.mark.parametrize("queue_exec", [True, False])
def test_sequential_dmls_via_runner(spark, db, seq_csv, queue_exec):
    """Dependent UPDATE chain: enabled=0 WHERE score>3000, then guard
    derived from enabled.  In the reference this is racy without the
    mutation barrier (its `queue_exec=False` test asserts *divergence*);
    Spark's synchronous execution makes BOTH paths correct — the
    documented, intentional divergence (SURVEY.md §2.C C4)."""
    expected_hi = sum(1 for i in range(1, N_ROWS + 1) if _score(i) > 3000)
    home = f"{FIXTURES}/migrations_seq"
    spark.catalog.setCurrentDatabase(db)
    try:
        manifest = M.manifest_df(spark, M.scan_migrations(home))
        pending = M.migrations_to_apply(spark, db, manifest)
        # stage 1: V1 creates the empty table
        M.apply_migration(spark, db, pending.filter(F.col("version") == 1), queue_exec=queue_exec)
        assert M.ingest_csv(spark, seq_csv, f"`{db}`.metrics", schema="id BIGINT, score BIGINT") == N_ROWS
        # stage 2: the diff now sees only V2 pending → dependent DMLs
        pending2 = M.migrations_to_apply(spark, db, manifest)
        assert [r.version for r in pending2.collect()] == [2]
        M.apply_migration(spark, db, pending2, queue_exec=queue_exec)
        t = spark.table(f"`{db}`.metrics")
        assert t.filter("enabled = 0").count() == expected_hi
        assert t.filter("guard = 0").count() == expected_hi
        assert t.filter("guard = 1").count() == N_ROWS - expected_hi
        assert t.filter("guard = -1").count() == 0
        ledger = spark.table(f"`{db}`.schema_versions")
        assert [r.version for r in ledger.orderBy("version").collect()] == [1, 2]
    finally:
        spark.catalog.setCurrentDatabase("default")


@pytest.mark.usefixtures("ledger_db")
def test_sequential_dmls_full_flow(spark, db, seq_csv):
    """Reference flow order: create table → ingest CSV → run dependent
    DMLs → assert exact counts (reference tests :91-118)."""
    expected_hi = sum(1 for i in range(1, N_ROWS + 1) if _score(i) > 3000)
    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(
            spark,
            "CREATE TABLE IF NOT EXISTS metrics (id UInt32, score UInt32) "
            "ENGINE = MergeTree PARTITION BY tuple() ORDER BY tuple(id)",
        )
        assert M.ingest_csv(spark, seq_csv, f"`{db}`.metrics", schema="id BIGINT, score BIGINT") == N_ROWS
        for stmt in [
            "ALTER TABLE metrics ADD COLUMN enabled UInt32 DEFAULT 1",
            "ALTER TABLE metrics ADD COLUMN guard UInt32 DEFAULT -1",
            "ALTER TABLE metrics UPDATE enabled = 0 WHERE score > 3000",
            "ALTER TABLE metrics UPDATE guard = 0 WHERE enabled = 0",
            "ALTER TABLE metrics UPDATE guard = 1 WHERE enabled = 1",
        ]:
            M.execute_statement(spark, stmt)
        t = spark.table(f"`{db}`.metrics")
        assert t.count() == N_ROWS
        assert t.filter("enabled = 0").count() == expected_hi
        assert t.filter("guard = 0").count() == expected_hi
        assert t.filter("guard = 1").count() == N_ROWS - expected_hi
        assert t.filter("guard = -1").count() == 0
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_duplicate_versions_rejected(tmp_path):
    (tmp_path / "V1__a.sql").write_text("SELECT 1")
    (tmp_path / "V1_b.json").write_text('["SELECT 1"]')
    with pytest.raises(AssertionError, match="Duplicate"):
        M.scan_migrations(str(tmp_path))


@pytest.mark.usefixtures("ledger_db")
def test_cow_delete(spark, db):
    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(spark, "CREATE TABLE t (id UInt32) ENGINE = MergeTree ORDER BY tuple()")
        spark.sql(f"INSERT INTO `{db}`.t VALUES (1), (2), (3), (4)")
        M.execute_statement(spark, "ALTER TABLE t DELETE WHERE id > 2")
        assert sorted(r.id for r in spark.table(f"`{db}`.t").collect()) == [1, 2]
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_ctas_executes_end_to_end(spark):
    import uuid as _uuid

    from clickhouse_migrator_spark import migrate as M

    db = "ctasdb_" + _uuid.uuid4().hex[:8]
    M.create_db(spark, db)
    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(
            spark, "CREATE TABLE src (id UInt64, v UInt64) ENGINE = MergeTree ORDER BY (id)"
        )
        spark.sql("INSERT INTO src VALUES (1, 10), (2, 20), (3, 30)")
        M.execute_statement(
            spark,
            "CREATE TABLE derived ENGINE = MergeTree ORDER BY (id) "
            "AS SELECT id, v * 2 AS v2 FROM src WHERE v >= 20",
        )
        rows = {r.id: r.v2 for r in spark.table("derived").collect()}
        assert rows == {2: 40, 3: 60}
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql(f"DROP DATABASE `{db}` CASCADE")


def test_alter_column_ops_end_to_end(spark):
    import uuid as _uuid

    from clickhouse_migrator_spark import migrate as M

    db = "alterdb_" + _uuid.uuid4().hex[:8]
    M.create_db(spark, db)
    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(
            spark,
            "CREATE TABLE t (id UInt64, v UInt32, junk String) "
            "ENGINE = MergeTree ORDER BY (id)",
        )
        spark.sql("INSERT INTO t VALUES (1, 10, 'x'), (2, 20, 'y')")
        M.execute_statement(spark, "ALTER TABLE t DROP COLUMN junk")
        assert spark.table("t").columns == ["id", "v"]
        M.execute_statement(spark, "ALTER TABLE t MODIFY COLUMN v Float64")
        assert dict(spark.table("t").dtypes)["v"] == "double"
        M.execute_statement(spark, "ALTER TABLE t RENAME COLUMN v TO value")
        rows = {r.id: r.value for r in spark.table("t").collect()}
        assert rows == {1: 10.0, 2: 20.0}
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql(f"DROP DATABASE `{db}` CASCADE")


def test_exchange_tables_swaps_contents(spark):
    import uuid as _uuid

    from clickhouse_migrator_spark import migrate as M

    db = "xchgdb_" + _uuid.uuid4().hex[:8]
    M.create_db(spark, db)
    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(
            spark, "CREATE TABLE live (v UInt64) ENGINE = MergeTree ORDER BY tuple()"
        )
        M.execute_statement(
            spark, "CREATE TABLE staged (v UInt64) ENGINE = MergeTree ORDER BY tuple()"
        )
        spark.sql("INSERT INTO live VALUES (1)")
        spark.sql("INSERT INTO staged VALUES (2)")
        M.execute_statement(spark, "EXCHANGE TABLES live AND staged")
        assert spark.table("live").collect()[0].v == 2
        assert spark.table("staged").collect()[0].v == 1
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql(f"DROP DATABASE `{db}` CASCADE")


def test_comment_column_rewritten(spark):
    from clickhouse_migrator_spark.ddl import translate

    st = translate("ALTER TABLE t COMMENT COLUMN v 'the value'")
    assert st.kind == "passthrough"
    assert st.sql == "ALTER TABLE t ALTER COLUMN v COMMENT 'the value'"
    st = translate("ALTER TABLE t COMMENT COLUMN c 'it''s'")
    assert st.sql == "ALTER TABLE t ALTER COLUMN c COMMENT 'it''s'"


def test_ingest_jsoneachrow(spark, tmp_path):
    import uuid as _uuid

    db = "jsondb_" + _uuid.uuid4().hex[:8]
    prev = spark.catalog.currentDatabase()
    M.create_db(spark, db)
    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(
            spark,
            "CREATE TABLE j (id UInt64, name String) ENGINE = MergeTree ORDER BY (id)",
        )
        p = tmp_path / "rows.jsonl"
        p.write_text('{"id": 1, "name": "a"}\n{"id": 2, "name": "b"}\n')
        assert M.ingest_jsoneachrow(spark, str(p), "j") == 2
        assert {r.id: r.name for r in spark.table("j").collect()} == {1: "a", 2: "b"}
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql(f"DROP DATABASE `{db}` CASCADE")


@pytest.mark.usefixtures("ledger_db")
def test_unsigned_default_wraps_two_complement(spark, db):
    """ClickHouse reinterprets a negative DEFAULT on an unsigned column
    as two's-complement (UInt32 DEFAULT -1 → 4294967295 — the value the
    reference's V1_sequential_dmls.json relies on before its UPDATEs
    overwrite it).  UInt64 stays signed (wrap would overflow BIGINT;
    documented divergence)."""
    from clickhouse_migrator_spark.ddl import _stored_default

    assert _stored_default("UInt32", "-1") == "4294967295"
    assert _stored_default("UInt16", "-1") == "65535"
    assert _stored_default("UInt8", "-2") == "254"
    assert _stored_default("UInt32", "7") == "7"
    assert _stored_default("UInt64", "-1") == "-1"
    assert _stored_default("Int32", "-1") == "-1"

    spark.catalog.setCurrentDatabase(db)
    try:
        M.execute_statement(
            spark,
            "CREATE TABLE uw (id UInt32) ENGINE = MergeTree ORDER BY tuple()",
        )
        spark.sql(f"INSERT INTO `{db}`.uw VALUES (1), (2)")
        M.execute_statement(
            spark, "ALTER TABLE uw ADD COLUMN guard UInt32 DEFAULT -1"
        )
        vals = {r.guard for r in spark.table(f"`{db}`.uw").collect()}
        assert vals == {4294967295}
    finally:
        spark.catalog.setCurrentDatabase("default")


# ── mid-script failure / rerun semantics (VERDICT r6 #2) ────────────────────


def _write_migrations(d, files):
    for name, content in files.items():
        (d / name).write_text(content)
    return str(d)


@pytest.mark.usefixtures("ledger_db")
def test_mid_script_failure_rerun_semantics(spark, db, tmp_path):
    """Reference contract (`/root/reference/README.md:58`): a failure
    stops the run and no further version files execute.  SURVEY §4
    caveat: a multi-statement script is NOT atomic — statements before
    the failing one are applied but unrecorded, and a rerun after
    fixing the script re-executes the script from statement 1."""
    import json as _json

    home = tmp_path / "mig"
    home.mkdir()
    _write_migrations(
        home,
        {
            "V1__create.sql": "CREATE TABLE t_mid (v Int64) ENGINE = MergeTree ORDER BY tuple()",
            "V2_inserts.json": _json.dumps(
                [
                    f"INSERT INTO `{db}`.t_mid VALUES (1)",
                    "THIS IS NOT SQL AT ALL (",
                    f"INSERT INTO `{db}`.t_mid VALUES (3)",
                ]
            ),
        },
    )
    with pytest.raises(Exception):
        M.migrate(spark, db, str(home), create_db_if_no_exists=False)
    # statement 1 of V2 persisted (applied-but-unrecorded), statement 3
    # never ran, the ledger records only V1
    vals = sorted(r.v for r in spark.table(f"`{db}`.t_mid").collect())
    assert vals == [1]
    ledger = [r.version for r in spark.table(f"`{db}`.schema_versions").collect()]
    assert ledger == [1]
    # a failed (never-recorded) script MAY be edited — the edited-guard
    # only protects recorded migrations
    (home / "V2_inserts.json").write_text(
        _json.dumps(
            [
                f"INSERT INTO `{db}`.t_mid VALUES (1)",
                f"INSERT INTO `{db}`.t_mid VALUES (2)",
                f"INSERT INTO `{db}`.t_mid VALUES (3)",
            ]
        )
    )
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
    # statement 1 re-executed: the value 1 appears TWICE — the exact
    # non-atomicity surface SURVEY §4 documents
    vals = sorted(r.v for r in spark.table(f"`{db}`.t_mid").collect())
    assert vals == [1, 1, 2, 3]
    ledger = sorted(
        r.version for r in spark.table(f"`{db}`.schema_versions").collect()
    )
    assert ledger == [1, 2]


@pytest.mark.usefixtures("ledger_db")
def test_fail_stop_skips_later_versions(spark, db, tmp_path):
    """A failing V2 must prevent V3 from ever executing (fail-stop in
    version order), and the claim taken for V2 is released so the rerun
    is not blocked."""
    home = tmp_path / "mig"
    home.mkdir()
    _write_migrations(
        home,
        {
            "V1__create.sql": "CREATE TABLE t_fs (v Int64) ENGINE = MergeTree ORDER BY tuple()",
            "V2__boom.sql": "SELECT * FROM `nonexistent_db_xyz`.`no_such_table`",
            "V3__later.sql": f"INSERT INTO `{db}`.t_fs VALUES (30)",
        },
    )
    with pytest.raises(Exception):
        M.migrate(spark, db, str(home), create_db_if_no_exists=False)
    assert spark.table(f"`{db}`.t_fs").count() == 0  # V3 never ran
    assert [r.version for r in spark.table(f"`{db}`.schema_versions").collect()] == [1]
    # claim released on failure: no stale LIVE claims (releases are
    # append-only tombstones now — the raw table keeps claim+release
    # row pairs; what must be empty is the live view)
    assert M._live_claims(spark, M._meta(spark, db, M.CLAIMS)).count() == 0


# ── concurrent-runner guard (VERDICT r6 #3) ─────────────────────────────────


@pytest.mark.usefixtures("ledger_db")
def test_concurrent_runners_exactly_one_applies(spark, db, tmp_path):
    """Two runners racing on the SAME pending set: the claims protocol
    must let exactly one apply each script (the loser either raises
    ConcurrentMigrationError or skips an already-applied version)."""
    import threading

    home = tmp_path / "mig"
    home.mkdir()
    _write_migrations(
        home,
        {
            "V1__create.sql": (
                "CREATE TABLE t_race (v Int64) ENGINE = MergeTree ORDER BY tuple()"
            ),
            "V2__insert.sql": f"INSERT INTO `{db}`.t_race VALUES (42)",
        },
    )
    # both runners compute the SAME pending set first (the worst-case
    # interleaving), then race through apply_migration
    manifest = M.manifest_df(spark, M.scan_migrations(str(home)))
    pending = M.migrations_to_apply(spark, db, manifest).collect()
    barrier = threading.Barrier(2)
    results: dict[str, object] = {}

    def run(name):
        sess = spark.newSession()
        sess.catalog.setCurrentDatabase(db)
        pend = sess.createDataFrame(pending, M.MANIFEST_SCHEMA)
        barrier.wait()
        try:
            results[name] = M.apply_migration(sess, db, pend)
        except M.ConcurrentMigrationError as e:
            results[name] = e

    ts = [threading.Thread(target=run, args=(n,)) for n in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    applied = [v for v in results.values() if isinstance(v, int)]
    errs = [v for v in results.values() if isinstance(v, M.ConcurrentMigrationError)]
    # exactly one runner made progress; the other refused (or skipped
    # everything after the winner finished: applied == 0)
    assert sum(v for v in applied) + 0 == 2 or (applied and errs), results
    # the real invariants: single ledger row per version, single effect
    spark.catalog.refreshTable(f"`{db}`.schema_versions")
    spark.catalog.refreshTable(f"`{db}`.t_race")
    spark.catalog.refreshTable(f"`{db}`.`{M.CLAIMS}`")
    ledger = spark.table(f"`{db}`.schema_versions")
    versions = [r.version for r in ledger.orderBy("version").collect()]
    assert versions == [1, 2], versions  # no duplicates, both applied overall
    assert spark.table(f"`{db}`.t_race").count() == 1  # INSERT ran exactly once
    # all claims released: live view empty (raw rows are append-only
    # claim+tombstone pairs)
    assert M._live_claims(spark, M._meta(spark, db, M.CLAIMS)).count() == 0


@pytest.mark.usefixtures("ledger_db")
def test_stale_claim_blocks_and_clear_claims_recovers(spark, db, tmp_path):
    """A claim left behind by a crashed runner blocks the version; the
    documented operator recovery is clear_claims()."""
    home = tmp_path / "mig"
    home.mkdir()
    _write_migrations(
        home,
        {"V1__create.sql": "CREATE TABLE t_stale (v Int64) ENGINE = MergeTree ORDER BY tuple()"},
    )
    spark.sql(
        f"INSERT INTO `{db}`.`{M.CLAIMS}` "
        "VALUES (1, 'deadbeef', current_timestamp(), false, 'stale1')"
    )
    with pytest.raises(M.ConcurrentMigrationError, match="clear_claims"):
        M.migrate(spark, db, str(home), create_db_if_no_exists=False)
    assert M.clear_claims(spark, db) >= 1
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1


# ── copy-on-write crash recovery (VERDICT r7 #1) ────────────────────────────


def _raw_tables(spark, db):
    return {
        r.tableName
        for r in spark.sql(f"SHOW TABLES IN `{db}`").collect()
        if not r.isTemporary
    }


@pytest.mark.usefixtures("ledger_db")
def test_cow_crash_in_drop_rename_window_recovers_forward(
    spark, db, tmp_path, monkeypatch, request
):
    """A crash between the swap's DROP and RENAME leaves the user table
    gone from the catalog but the complete post-mutation table (data +
    carried clickhouse.* properties) durable under __cow_<t>.
    recover_cow() must COMPLETE the rename, losslessly."""
    spark.catalog.setCurrentDatabase(db)
    request.addfinalizer(lambda: spark.catalog.setCurrentDatabase("default"))
    M.execute_statement(
        spark,
        f"CREATE TABLE t_cowf (v Int64) ENGINE = ReplacingMergeTree ORDER BY (v)",
    )
    spark.sql(f"INSERT INTO `{db}`.t_cowf VALUES (1), (2)")

    def boom(stage):
        if stage == "after_drop":
            raise RuntimeError("injected crash")

    monkeypatch.setattr(M, "_crash_point", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.execute_statement(
            spark, f"ALTER TABLE t_cowf UPDATE v = v + 10 WHERE v > 0"
        )
    names = _raw_tables(spark, db)
    assert "t_cowf" not in names and "__cow_t_cowf" in names
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    actions = M.recover_cow(spark, db)
    assert actions == {"t_cowf": "completed"}
    assert sorted(r.v for r in spark.table(f"`{db}`.t_cowf").collect()) == [11, 12]
    # layout/engine properties survived the crash + recovery
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES `{db}`.t_cowf").collect()
    }
    assert props.get("clickhouse.engine") == "ReplacingMergeTree"
    assert "__cow_t_cowf" not in _raw_tables(spark, db)
    # recovery is idempotent / empty on a clean warehouse
    assert M.recover_cow(spark, db) == {}


@pytest.mark.usefixtures("ledger_db")
def test_cow_crash_before_drop_rolls_back(spark, db, tmp_path, monkeypatch, request):
    """A crash BEFORE the swap's DROP (e.g. mid-write or right after)
    leaves the user-visible table fully intact; recover_cow() must drop
    the orphan temp and the rerun then applies cleanly."""
    spark.catalog.setCurrentDatabase(db)
    request.addfinalizer(lambda: spark.catalog.setCurrentDatabase("default"))
    M.execute_statement(
        spark,
        f"CREATE TABLE t_cowb (v Int64) ENGINE = MergeTree ORDER BY tuple()",
    )
    spark.sql(f"INSERT INTO `{db}`.t_cowb VALUES (1), (2)")

    def boom(stage):
        if stage == "before_drop":
            raise RuntimeError("injected crash")

    monkeypatch.setattr(M, "_crash_point", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.execute_statement(
            spark, f"ALTER TABLE t_cowb UPDATE v = v + 10 WHERE v > 0"
        )
    assert {"t_cowb", "__cow_t_cowb"} <= _raw_tables(spark, db)
    # old data untouched
    assert sorted(r.v for r in spark.table(f"`{db}`.t_cowb").collect()) == [1, 2]
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    actions = M.recover_cow(spark, db)
    assert actions == {"t_cowb": "rolled_back"}
    assert "__cow_t_cowb" not in _raw_tables(spark, db)
    # the rerun (reference fail-stop contract: fix and rerun) applies
    M.execute_statement(
        spark, f"ALTER TABLE t_cowb UPDATE v = v + 10 WHERE v > 0"
    )
    assert sorted(r.v for r in spark.table(f"`{db}`.t_cowb").collect()) == [11, 12]


@pytest.mark.usefixtures("ledger_db")
def test_release_preserves_rival_claims(spark, db, tmp_path):
    """Releases are append-only tombstones (ADVICE r7): a rival's claim
    row present while our runner releases its own claims must survive
    physically AND stay live — the old rewrite-based release could
    destroy a rival claim appended during its DROP/RENAME window."""
    home = tmp_path / "mig"
    home.mkdir()
    _write_migrations(
        home,
        {
            "V1__create.sql": (
                "CREATE TABLE t_keep (v Int64) ENGINE = MergeTree ORDER BY tuple()"
            )
        },
    )
    # a rival holds a claim for a DIFFERENT (future) version
    spark.sql(
        f"INSERT INTO `{db}`.`{M.CLAIMS}` "
        "VALUES (99, 'rival', current_timestamp(), false, 'rival1')"
    )
    assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
    live = M._live_claims(spark, M._meta(spark, db, M.CLAIMS)).collect()
    assert [(r.version, r.owner) for r in live] == [(99, "rival")]


@pytest.mark.usefixtures("ledger_db")
def test_cross_process_race_at_most_one_applies(spark, db, tmp_path, monkeypatch):
    """Simulate SEPARATE driver processes (no shared in-process lock) by
    neutralizing _CLAIM_LOCK: the claims protocol alone must guarantee
    AT MOST ONE application (both racers may refuse — the documented
    cross-process outcome), and a serial rerun afterwards must converge
    to exactly-once regardless of which interleaving happened."""
    import threading

    class _NoLock:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    monkeypatch.setattr(M, "_CLAIM_LOCK", _NoLock())
    home = tmp_path / "mig"
    home.mkdir()
    _write_migrations(
        home,
        {
            "V1__create.sql": (
                "CREATE TABLE t_xrace (v Int64) ENGINE = MergeTree ORDER BY tuple()"
            ),
            "V2__insert.sql": f"INSERT INTO `{db}`.t_xrace VALUES (7)",
        },
    )
    manifest = M.manifest_df(spark, M.scan_migrations(str(home)))
    pending = M.migrations_to_apply(spark, db, manifest).collect()
    barrier = threading.Barrier(2)
    results: dict[str, object] = {}

    def run(name):
        sess = spark.newSession()
        sess.catalog.setCurrentDatabase(db)
        pend = sess.createDataFrame(pending, M.MANIFEST_SCHEMA)
        barrier.wait()
        try:
            results[name] = M.apply_migration(sess, db, pend)
        except Exception as e:  # ConcurrentMigrationError or swap races
            results[name] = e

    ts = [threading.Thread(target=run, args=(n,)) for n in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    # at-most-one invariant in EVERY interleaving: never a duplicate
    # ledger row, never a doubled INSERT
    spark.catalog.refreshTable(f"`{db}`.schema_versions")
    ledger = spark.table(f"`{db}`.schema_versions")
    per_version = (
        ledger.groupBy("version").count().filter(F.col("count") > 1).count()
    )
    assert per_version == 0, results
    if any(
        r.tableName == "t_xrace"
        for r in spark.sql(f"SHOW TABLES IN `{db}`").collect()
    ):
        spark.catalog.refreshTable(f"`{db}`.t_xrace")
        assert spark.table(f"`{db}`.t_xrace").count() <= 1
    # convergence: clear any stale claims from refused/crashed racers,
    # then a serial rerun lands the warehouse in the exactly-once state
    M.clear_claims(spark, db)
    M.migrate(spark, db, str(home), create_db_if_no_exists=False)
    spark.catalog.refreshTable(f"`{db}`.schema_versions")
    versions = sorted(
        r.version for r in spark.table(f"`{db}`.schema_versions").collect()
    )
    assert versions == [1, 2], (versions, results)
    spark.catalog.refreshTable(f"`{db}`.t_xrace")
    assert spark.table(f"`{db}`.t_xrace").count() == 1


# ── driver-side bookkeeping: the runner's metadata work starts no Spark job ──


def _jobs_started(spark, fn):
    """(fn's result, the number of Spark jobs it started), counted by
    the status tracker over a fresh job group."""
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
def test_noop_migrate_starts_no_spark_jobs(spark, db):
    home = f"{FIXTURES}/migrations_mixed"
    assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 2
    n, jobs = _jobs_started(
        spark, lambda: M.migrate(spark, db, home, create_db_if_no_exists=False)
    )
    assert (n, jobs) == (0, 0)


@pytest.mark.usefixtures("ledger_db")
@pytest.mark.parametrize("case", ["create", "staged_insert"])
def test_create_only_version_starts_no_bookkeeping_jobs(
    spark, db, tmp_path, monkeypatch, case
):
    """Diff, claim, journal, ledger append, compaction and release are
    all driver-side file operations: the only jobs a version may start
    are its statements' own (counted apart in their own group here).
    The ``staged_insert`` case INSERTs into an existing PARTITIONED BY
    table, so the statement runs against a stage: creating the stage
    and publishing it start no job either, and the stage is a clone of
    the target's partitioning that carries the stage-target property
    but none of the target's ``clickhouse.*`` props."""
    if case == "staged_insert":
        spark.sql(
            f"CREATE TABLE `{db}`.t_nojobs (k BIGINT, d STRING) USING PARQUET "
            "PARTITIONED BY (d) TBLPROPERTIES ('clickhouse.order_by' = 'k')"
        )
        body = "INSERT INTO t_nojobs VALUES (1, 'a'), (2, 'b')"
    else:
        body = "CREATE TABLE t_nojobs (v Int64) ENGINE = MergeTree ORDER BY v"
    home = _write_migrations(tmp_path, {"V1__step.sql": body})
    run_stmt = M.execute_statement
    stmt_jobs = []
    stages = []

    def run(sess, sql):
        out = run_stmt(sess, sql)
        stage = re.search(r"`[^`]+`\.`" + M._STAGE_PREFIX + r"[^`]+`", sql)
        if stage is not None:
            qual = stage.group(0)
            stages.append((M._describe_table(sess, qual).pcols, M._table_props(sess, qual)))
        return out

    def counted(sess, sql):
        out, jobs = _jobs_started(sess, lambda: run(sess, sql))
        stmt_jobs.append(jobs)
        return out

    monkeypatch.setattr(M, "execute_statement", counted)
    n, jobs = _jobs_started(
        spark, lambda: M.migrate(spark, db, home, create_db_if_no_exists=False)
    )
    assert (n, jobs) == (1, 0)
    assert len(stmt_jobs) == 1
    assert [r.version for r in spark.table(f"`{db}`.schema_versions").collect()] == [1]
    assert M._live_claims(spark, M._meta(spark, db, M.CLAIMS)).count() == 0
    if case == "staged_insert":
        ((pcols, props),) = stages
        assert pcols == ["d"]
        assert {k: v for k, v in props.items() if k.startswith("clickhouse.")} == {
            M._STAGE_TARGET_PROP: f"`{db}`.`t_nojobs`"
        }
        assert sorted((r.k, r.d) for r in spark.table(f"`{db}`.t_nojobs").collect()) == [
            (1, "a"),
            (2, "b"),
        ]
    else:
        assert stages == []


@pytest.mark.usefixtures("ledger_db")
def test_noop_migrate_catalog_calls_do_not_grow_with_tables(
    spark, db, tmp_path, monkeypatch
):
    """A noop migrate() asks the catalog the same questions with 1 user
    table and with 30: its self-heal reads the journal's swap intents,
    not every table's properties.  So does a version op (a staged
    INSERT), which lists no tables: leftover stages are found from the
    journal's stage intents."""
    from collections import Counter

    from pyspark.sql import SparkSession
    from pyspark.sql.catalog import Catalog

    home = _write_migrations(
        tmp_path, {"V1__t.sql": "CREATE TABLE t_cat0 (v Int64) ENGINE = Log"}
    )
    assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 1
    calls: Counter = Counter()

    def counting(name, real, key=lambda *a: name):
        def wrapped(*a, **k):
            calls[key(*a)] += 1
            return real(*a, **k)

        return wrapped

    monkeypatch.setattr(
        SparkSession,
        "sql",
        counting("sql", SparkSession.sql, lambda _s, q, *a: " ".join(q.split()[:2]).upper()),
    )
    monkeypatch.setattr(Catalog, "refreshTable", counting("refreshTable", Catalog.refreshTable))
    for name in ("_describe_table", "_table_props"):
        monkeypatch.setattr(M, name, counting(name, getattr(M, name)))
    counts, version_counts = [], []
    for version, n_tables in ((2, 1), (3, 30)):
        for i in range(1, n_tables):
            spark.sql(f"CREATE TABLE IF NOT EXISTS `{db}`.t_cat{i} (v BIGINT) USING PARQUET")
        calls.clear()
        assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 0
        counts.append(dict(calls))
        _write_migrations(tmp_path, {f"V{version}__i.sql": f"INSERT INTO t_cat0 VALUES ({version})"})
        calls.clear()
        assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 1
        version_counts.append(dict(calls))
    assert counts[0] == counts[1], counts
    assert version_counts[0] == version_counts[1], version_counts
    assert "SHOW TABLES" not in version_counts[0], version_counts


@pytest.mark.usefixtures("ledger_db")
def test_describes_per_version_do_not_grow_with_statements(spark, db, tmp_path, monkeypatch):
    """The runner looks up its metadata tables' locations once per
    call: a version of three CREATEs asks the catalog as often as a
    version of one (no lookup per journal read or append).  Nor does
    it refresh a metadata table per append: each table it appended to
    is refreshed once, when the call returns.  It lists no tables, and
    a CREATE sets its properties in its own statement (no ALTER).  The
    database is initialised first, so neither call creates a metadata
    table."""
    from pyspark.sql import SparkSession
    from pyspark.sql.catalog import Catalog

    creates =[f"CREATE TABLE t_desc{i} (v Int64) ENGINE = Log" for i in range(4)]
    home = tmp_path / "mig"
    home.mkdir()
    real, real_sql, real_refresh = M._describe_table, SparkSession.sql, Catalog.refreshTable
    calls, refreshed, statements = [], [], []

    def counted(sess, qual):
        calls.append(qual)
        return real(sess, qual)

    def counted_sql(sess, q, *a, **k):
        statements.append(" ".join(q.split()[:2]).upper())
        return real_sql(sess, q, *a, **k)

    def counted_refresh(cat, qual):
        refreshed.append(qual)
        return real_refresh(cat, qual)

    monkeypatch.setattr(M, "_describe_table", counted)
    monkeypatch.setattr(SparkSession, "sql", counted_sql)
    monkeypatch.setattr(Catalog, "refreshTable", counted_refresh)
    meta = {f"`{db}`.`{t}`" for t in (M.LEDGER, M.CLAIMS, M.JOURNAL)}
    counts = []
    for name, stmts in (("V1__one.json", creates[:1]), ("V2__three.json", creates[1:])):
        (home / name).write_text(json.dumps(stmts))
        calls.clear(), refreshed.clear(), statements.clear()
        assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
        counts.append(len(calls))
        assert sorted(refreshed) == sorted(meta), refreshed
        assert "SHOW TABLES" not in statements and "ALTER TABLE" not in statements, statements
    assert counts[0] == counts[1], counts


def _count_catalog_calls(spark, monkeypatch):
    """Counts of CREATE TABLE statements, ``SparkSession.table`` calls,
    and the quals ``_describe_table`` is asked about, from now on."""
    from pyspark.sql import SparkSession

    seen = {"create": 0, "table": 0, "describe": []}
    sql, table, describe = SparkSession.sql, SparkSession.table, M._describe_table

    def counted_sql(self, q, *a, **k):
        seen["create"] += q.split()[:2] == ["CREATE", "TABLE"]
        return sql(self, q, *a, **k)

    def counted_table(self, *a, **k):
        seen["table"] += 1
        return table(self, *a, **k)

    def counted_describe(sess, qual):
        seen["describe"].append(qual)
        return describe(sess, qual)

    monkeypatch.setattr(SparkSession, "sql", counted_sql)
    monkeypatch.setattr(SparkSession, "table", counted_table)
    monkeypatch.setattr(M, "_describe_table", counted_describe)
    return seen


@pytest.mark.usefixtures("ledger_db")
def test_noop_migrate_creates_nothing(spark, db, monkeypatch):
    """On an initialised database a noop migrate() bootstraps nothing:
    no CREATE TABLE, no schema read, and one catalog lookup, the
    ledger's, for the diff."""
    home = f"{FIXTURES}/migrations_mixed"
    assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 2
    seen = _count_catalog_calls(spark, monkeypatch)
    assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 0
    assert seen == {"create": 0, "table": 0, "describe": [f"`{db}`.`{M.LEDGER}`"]}


@pytest.mark.usefixtures("ledger_db")
def test_compaction_reuses_the_runners_handles(spark, db, tmp_path, monkeypatch):
    """A version op resolves each metadata table once: the ledger for
    the diff, whose handle the apply reuses with the claims and journal
    it resolves, and so does the compaction after the ledger append."""
    from collections import Counter

    home = _write_migrations(
        tmp_path, {"V1__t.sql": "CREATE TABLE t_handles (v Int64) ENGINE = Log"}
    )
    seen = _count_catalog_calls(spark, monkeypatch)
    assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 1
    meta = {f"`{db}`.`{t}`" for t in (M.LEDGER, M.CLAIMS, M.JOURNAL)}
    assert Counter(q for q in seen["describe"] if q in meta) == {
        f"`{db}`.`{M.LEDGER}`": 1,
        f"`{db}`.`{M.CLAIMS}`": 1,
        f"`{db}`.`{M.JOURNAL}`": 1,
    }


def _count_statements(monkeypatch):
    """Counts of ``SparkSession.sql`` statements by their first two
    words, and of ``SparkSession.createDataFrame`` calls, from now on."""
    from collections import Counter

    from pyspark.sql import SparkSession

    calls: Counter = Counter()
    sql, frame = SparkSession.sql, SparkSession.createDataFrame

    def counted_sql(self, q, *a, **k):
        calls[" ".join(q.split()[:2]).upper()] += 1
        return sql(self, q, *a, **k)

    def counted_frame(self, *a, **k):
        calls["createDataFrame"] += 1
        return frame(self, *a, **k)

    monkeypatch.setattr(SparkSession, "sql", counted_sql)
    monkeypatch.setattr(SparkSession, "createDataFrame", counted_frame)
    return calls


@pytest.mark.usefixtures("ledger_db")
def test_noop_migrate_runs_no_statement_and_builds_no_frame(spark, db, monkeypatch):
    """A noop migrate() plans on driver rows and reads the catalog
    through the session catalog: no SQL statement (the database probe
    included) and no local DataFrame."""
    home = f"{FIXTURES}/migrations_mixed"
    assert M.migrate(spark, db, home) == 2
    calls = _count_statements(monkeypatch)
    assert M.migrate(spark, db, home) == 0
    assert calls == {}


@pytest.mark.usefixtures("ledger_db")
def test_version_op_issues_no_describe_or_property_listing(spark, db, tmp_path, monkeypatch):
    """A version that creates a table, runs a staged INSERT into it and
    a copy-on-write UPDATE on it reads every catalog fact through the
    lookup: no DESCRIBE and no SHOW TBLPROPERTIES statement.  The
    UPDATE's swap creates its temp with the table's properties, so its
    one ALTER is the RENAME."""
    home = _write_migrations(
        tmp_path,
        {
            "V1__ops.json": json.dumps(
                [
                    "CREATE TABLE t_ops (k Int64, v Int64) ENGINE = ReplacingMergeTree ORDER BY k",
                    "INSERT INTO t_ops VALUES (1, 10), (2, 20)",
                    "ALTER TABLE t_ops UPDATE v = v + 1 WHERE k = 1",
                ]
            )
        },
    )
    calls = _count_statements(monkeypatch)
    assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 1
    listed = {k for k in calls if k.startswith(("DESCRIBE", "SHOW"))}
    assert listed == set(), calls
    assert calls["ALTER TABLE"] == 1, calls
    assert sorted((r.k, r.v) for r in spark.table(f"`{db}`.t_ops").collect()) == [
        (1, 11),
        (2, 20),
    ]
    assert M._table_props(spark, f"`{db}`.`t_ops`")["clickhouse.engine"] == "ReplacingMergeTree"


def test_perfbench_runner_layers_name_migrate_attributes():
    """``perfbench/run.py --trace 1`` wraps each attribute its
    ``RUNNER_LAYERS`` names on the runner module; a renamed or removed
    one would crash the traced run."""
    import ast

    path = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "run.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    layers = next(
        ast.literal_eval(node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "RUNNER_LAYERS" for t in node.targets)
    )
    names = [a for attrs in layers.values() for a in attrs]
    assert "_describe_table" in names
    assert [a for a in names if not callable(getattr(M, a, None))] == []


def test_fresh_database_gets_its_metadata_tables_on_first_need(spark, tmp_path):
    """migrate() on a database that does not exist yet creates it, then
    each metadata table where it is first needed, and applies."""
    db = "testdb_" + uuid.uuid4().hex[:8]
    home = _write_migrations(
        tmp_path, {"V1__t.sql": "CREATE TABLE t_fresh (v Int64) ENGINE = Log"}
    )
    try:
        assert M.migrate(spark, db, home, create_db_if_no_exists=True) == 1
        tables = {r.tableName for r in spark.sql(f"SHOW TABLES IN `{db}`").collect()}
        assert {M.LEDGER, M.CLAIMS, M.JOURNAL, "t_fresh"} <= tables
        assert [r.version for r in spark.table(f"`{db}`.`{M.LEDGER}`").collect()] == [1]
        assert M.migrate(spark, db, home, create_db_if_no_exists=True) == 0
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")


def test_first_migrate_on_fresh_database_logs_no_error(spark, tmp_path):
    """A missing metadata table is found without an exception: a failed
    lookup costs PySpark's exception conversion, and a failed DESCRIBE
    logs an ERROR
    record with the Java stack trace (``SQLQueryContextLogger``), one
    per metadata table of a fresh database."""
    import logging

    from pyspark.logger import PySparkLogger

    db = "testdb_" + uuid.uuid4().hex[:8]
    home = _write_migrations(
        tmp_path, {"V1__t.sql": "CREATE TABLE t_quiet (v Int64) ENGINE = Log"}
    )
    records = []
    handler = logging.Handler()
    handler.emit = records.append
    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    logger.addHandler(handler)
    try:
        assert M.migrate(spark, db, home, create_db_if_no_exists=True) == 1
    finally:
        logger.removeHandler(handler)
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
    assert [r.getMessage()[:80] for r in records] == []


def test_guards_read_spark_written_ledger_and_legacy_claims(spark, tmp_path):
    """The driver-side reader sees what Spark itself wrote: a ledger row
    from ``INSERT INTO schema_versions`` (an INT96 ``created_at``) and a
    claims file from a build before ``released``/``claim_id`` existed,
    whose row is a live claim under its (version, owner) key."""
    db = "testdb_" + uuid.uuid4().hex[:8]
    M.create_db(spark, db)
    try:
        home = _write_migrations(
            tmp_path,
            {
                "V1__a.sql": "CREATE TABLE legacy_a (v Int64) ENGINE = Log",
                "V2__b.sql": "CREATE TABLE legacy_b (v Int64) ENGINE = Log",
            },
        )
        spark.sql(
            f"CREATE TABLE `{db}`.`{M.CLAIMS}` "
            "(version BIGINT, owner STRING, started_at TIMESTAMP) USING PARQUET"
        )
        spark.sql(f"INSERT INTO `{db}`.`{M.CLAIMS}` VALUES (2, 'rival', current_timestamp())")
        M.init_db(spark, db)
        v1 = M.scan_migrations(home)[0]
        _ledger_insert(spark, db, 1, v1.md5, v1.script)

        manifest = M.manifest_df(spark, M.scan_migrations(home))
        assert [r.version for r in M.migrations_to_apply(spark, db, manifest).collect()] == [2]
        live = M._live_claims(spark, M._meta(spark, db, M.CLAIMS)).collect()
        assert [(r.version, r.owner, r.released, r.claim_id) for r in live] == [
            (2, "rival", None, None)
        ]
        assert live[0].started_at is not None
        with pytest.raises(M.ConcurrentMigrationError, match="V2"):
            M.migrate(spark, db, home, create_db_if_no_exists=False)
        assert M.clear_claims(spark, db) == 1
        assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 1
        ledger = spark.table(f"`{db}`.schema_versions").collect()
        assert sorted(r.version for r in ledger) == [1, 2]
        assert all(r.created_at is not None for r in ledger)
    finally:
        spark.sql(f"DROP DATABASE `{db}` CASCADE")


@pytest.mark.usefixtures("ledger_db")
def test_guards_count_duplicate_ledger_rows(spark, db):
    """The diff joins row for row, like the reference's outer merge: a
    duplicated ledger row counts twice in the missing-count guard and
    names its script twice in the edited guard."""
    _ledger_insert(spark, db, 1, "m1", "a.sql")
    _ledger_insert(spark, db, 1, "m1", "a.sql")
    with pytest.raises(AssertionError) as missing:
        M.migrations_to_apply(spark, db, _manifest(spark, [(1, "a.sql", "m1")]))
    assert str(missing.value) == "Migrations have gone missing: ledger has 2, incoming has 1"
    with pytest.raises(AssertionError) as edited:
        M.migrations_to_apply(
            spark, db, _manifest(spark, [(1, "a.sql", "EDITED"), (2, "b.sql", "m2")])
        )
    assert str(edited.value) == "Do not edit migrations once run: ['a.sql', 'a.sql']"
    _ledger_insert(spark, db, 2, "m2", "b.sql")
    with pytest.raises(AssertionError) as deleted:
        M.migrations_to_apply(
            spark,
            db,
            _manifest(spark, [(1, "a.sql", "m1"), (3, "c.sql", "m3"), (4, "d.sql", "m4")]),
        )
    assert str(deleted.value) == "Migrations deleted from codebase but already run: ['b.sql']"
    out = M.migrations_to_apply(
        spark, db, _manifest(spark, [(1, "a.sql", "m1"), (2, "b.sql", "m2"), (3, "c.sql", "m3")])
    )
    assert [(r.version, r.script, r.md5) for r in out.collect()] == [(3, "c.sql", "m3")]


# ── copy-on-write markers name the in-flight version and never outlive it ────


def _write_script(tmp_path, name, body):
    p = tmp_path / name
    p.write_text(body)
    return p


@pytest.mark.usefixtures("ledger_db")
def test_cow_crash_during_apply_reports_inflight_version(
    spark, db, tmp_path, monkeypatch, request
):
    """Crash in the DROP→RENAME window while apply_migration is running
    V7: recover_cow completes the rename AND reports "completed:V7".
    Round 10 (statement journal): recovery also writes the statement's
    journal row from the swap's markers, so the rerun RESUMES after the
    completed mutation — exactly-once, no double-apply (this test
    originally pinned the r9 disclosure-only semantics)."""
    spark.catalog.setCurrentDatabase(db)
    request.addfinalizer(lambda: spark.catalog.setCurrentDatabase("default"))
    M.execute_statement(
        spark, "CREATE TABLE t_adv9 (v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    spark.sql(f"INSERT INTO `{db}`.t_adv9 VALUES (1), (2)")
    home = tmp_path / "mig"
    home.mkdir()
    _write_script(home, "V7__bump.sql", "ALTER TABLE t_adv9 UPDATE v = v + 10 WHERE v > 0;")
    manifest = M.manifest_df(spark, M.scan_migrations(str(home)))
    pending = M.migrations_to_apply(spark, db, manifest)

    def boom(stage):
        if stage == "after_drop":
            raise RuntimeError("injected crash")

    monkeypatch.setattr(M, "_crash_point", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.apply_migration(spark, db, pending)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    # the crashed runner released nothing durable for the ledger…
    assert (
        spark.table(f"`{db}`.schema_versions").filter(F.col("version") == 7).count()
        == 0
    )
    actions = M.recover_cow(spark, db)
    assert actions == {"t_adv9": "completed:V7"}
    # effects of V7 present, marker gone from the recovered table
    assert sorted(r.v for r in spark.table(f"`{db}`.t_adv9").collect()) == [11, 12]
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES `{db}`.t_adv9").collect()
    }
    assert M._COW_VERSION_PROP not in props
    # crashed claim is stale-but-clearable, exactly the documented path
    M.clear_claims(spark, db)
    # the rerun SKIPS the journaled mutation (exactly-once, VERDICT r9
    # #1) and only records the ledger row: values stay +10, not +20
    pending2 = M.migrations_to_apply(spark, db, manifest)
    assert M.apply_migration(spark, db, pending2) == 1
    assert sorted(r.v for r in spark.table(f"`{db}`.t_adv9").collect()) == [11, 12]
    assert (
        spark.table(f"`{db}`.schema_versions").filter(F.col("version") == 7).count()
        == 1
    )


@pytest.mark.usefixtures("ledger_db")
def test_cow_marker_never_survives_successful_swap(spark, db, tmp_path, request):
    """A NON-crashed apply_migration run leaves no cow_inflight_*
    marker and nothing to reconcile: the swap id it stamped is inert
    because its intent was committed (and compacted with the version),
    and no marker is ever unset.  A direct execute_statement stamps
    nothing and journals nothing."""
    spark.catalog.setCurrentDatabase(db)
    request.addfinalizer(lambda: spark.catalog.setCurrentDatabase("default"))
    M.execute_statement(
        spark, "CREATE TABLE t_adv9b (v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    spark.sql(f"INSERT INTO `{db}`.t_adv9b VALUES (1)")
    home = tmp_path / "mig"
    home.mkdir()
    _write_script(home, "V1__bump.sql", "ALTER TABLE t_adv9b UPDATE v = v + 1 WHERE v > 0;")
    manifest = M.manifest_df(spark, M.scan_migrations(str(home)))
    assert M.apply_migration(spark, db, M.migrations_to_apply(spark, db, manifest)) == 1
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES `{db}`.t_adv9b").collect()
    }
    assert all(k not in props for k in M._COW_MARKER_PROPS)
    assert len(props[M._COW_SWAP_PROP]) == 32
    journal = M._meta(spark, db, M.JOURNAL)
    assert M._read_journal_rows(journal) == []
    assert M._reconcile_live_markers(spark, journal) == {}
    # direct execute_statement (no runner context) also stays unmarked
    # on the crash-window temp:
    assert getattr(M._INFLIGHT, "version", None) is None
    M.execute_statement(spark, "ALTER TABLE t_adv9b UPDATE v = v + 1 WHERE v > 0")
    assert M._COW_SWAP_PROP not in M._table_props(spark, f"`{db}`.t_adv9b")
    assert M._read_journal_rows(journal) == []


def _mk(spark, db, rows="(1, 10), (2, 30)"):
    spark.sql(f"CREATE TABLE `{db}`.t (id BIGINT, v BIGINT) USING PARQUET")
    spark.sql(f"INSERT INTO `{db}`.t VALUES {rows}")


@pytest.mark.usefixtures("ledger_db")
def test_cow_markers_excluded_from_carryover(spark, db):
    _mk(spark, db)
    qual = f"`{db}`.`t`"
    # simulate a leaked marker from an earlier build's crash between
    # RENAME and UNSET, and the swap id an earlier swap stamped
    spark.sql(
        f"ALTER TABLE {qual} SET TBLPROPERTIES "
        f"('{M._COW_VERSION_PROP}' = '7', '{M._COW_STMT_PROP}' = '3', "
        f"'{M._COW_SWAP_PROP}' = 'earlier', 'clickhouse.order_by' = 'id')"
    )
    M.execute_statement(spark, "ALTER TABLE t UPDATE v = v + 1 WHERE v > 0")
    props = M._table_props(spark, qual)
    # the real layout prop survives the swap; the leaked markers and the
    # earlier swap's id do not
    assert props.get("clickhouse.order_by") == "id"
    assert M._COW_VERSION_PROP not in props
    assert M._COW_STMT_PROP not in props
    assert M._COW_SWAP_PROP not in props
    # under a migration the swap stamps its OWN id, never the carried one
    M._INFLIGHT.version, M._INFLIGHT.stmt, M._INFLIGHT.md5 = 1, 0, "m"
    M._INFLIGHT.journal, M._INFLIGHT.owner = M._meta(spark, db, M.JOURNAL), "o"
    try:
        M.execute_statement(spark, "ALTER TABLE t UPDATE v = v + 1 WHERE v > 0")
    finally:
        vars(M._INFLIGHT).clear()
    (intent,) = M._read_journal_rows(M._meta(spark, db, M.JOURNAL))
    props = M._table_props(spark, qual)
    assert props[M._COW_SWAP_PROP] == intent["swap_id"] != "earlier"
    assert intent["target"] == qual
    assert props.get("clickhouse.order_by") == "id"


# ── claim tombstones are keyed by claim_id ───────────────────────────────────


@pytest.mark.usefixtures("ledger_db")
def test_tombstone_does_not_shadow_future_claim_with_reused_pair(spark, db):
    """Claim A for (version=5, owner=X) is released (tombstoned by its
    claim_id).  A future claim B reusing the SAME (version, owner) pair
    but a fresh claim_id must be LIVE — under the old (version, owner)
    anti-join it was permanently invisible and two runners could both
    proceed."""
    claims = M._meta(spark, db, M.CLAIMS)
    owner = "owner-reused"
    M._append_claim_row(spark, claims, 5, owner, released=False, claim_id="claimA")
    M._append_claim_row(spark, claims, 5, owner, released=True, claim_id="claimA")
    assert M._live_claims(spark, claims).count() == 0
    M._append_claim_row(spark, claims, 5, owner, released=False, claim_id="claimB")
    live = M._live_claims(spark, claims).collect()
    assert len(live) == 1 and live[0].claim_id == "claimB"


@pytest.mark.usefixtures("ledger_db")
def test_legacy_null_claim_id_rows_keep_pair_semantics(spark, db):
    """Rows from a pre-claim_id build (claim_id NULL) are matched by
    their (version, owner) composite — a NULL-id tombstone still
    releases the NULL-id claim, and never touches a claim_id'd row."""
    claims = M._meta(spark, db, M.CLAIMS)
    M._append_claim_row(spark, claims, 9, "legacy", released=False, claim_id=None)
    M._append_claim_row(spark, claims, 9, "modern", released=False, claim_id="c1")
    M._append_claim_row(spark, claims, 9, "legacy", released=True, claim_id=None)
    live = M._live_claims(spark, claims).collect()
    assert len(live) == 1 and live[0].owner == "modern"


def test_claims_schema_widens_claim_id_in_place(spark):
    """A claims table created by an older build (no claim_id column) is
    widened in place by _meta; existing rows read claim_id NULL (legacy
    semantics)."""
    name = "testdb_" + uuid.uuid4().hex[:8]
    M.create_db(spark, name)
    try:
        spark.sql(
            f"CREATE TABLE `{name}`.`{M.CLAIMS}` "
            "(version BIGINT, owner STRING, started_at TIMESTAMP, "
            "released BOOLEAN) USING PARQUET"
        )
        spark.sql(
            f"INSERT INTO `{name}`.`{M.CLAIMS}` VALUES "
            "(1, 'old', current_timestamp(), false)"
        )
        M._meta(spark, name, M.CLAIMS)
        qual = f"`{name}`.`{M.CLAIMS}`"
        cols = {f.name for f in spark.table(qual).schema.fields}
        assert "claim_id" in cols
        rows = spark.table(qual).collect()
        assert len(rows) == 1 and rows[0].claim_id is None
        assert M._live_claims(spark, M._meta(spark, name, M.CLAIMS)).count() == 1
    finally:
        spark.sql(f"DROP DATABASE `{name}` CASCADE")


@pytest.mark.usefixtures("ledger_db")
def test_apply_releases_use_fresh_claim_ids(spark, db, tmp_path, request):
    """End-to-end: a two-script run leaves every claim tombstoned and
    each claim row carries a distinct non-null claim_id whose tombstone
    matches it exactly."""
    spark.catalog.setCurrentDatabase(db)
    request.addfinalizer(lambda: spark.catalog.setCurrentDatabase("default"))
    home = tmp_path / "mig"
    home.mkdir()
    _write_script(home, "V1__a.sql", "CREATE TABLE adv9_t1 (v Int64) ENGINE = Log;")
    _write_script(home, "V2__b.sql", "CREATE TABLE adv9_t2 (v Int64) ENGINE = Log;")
    manifest = M.manifest_df(spark, M.scan_migrations(str(home)))
    assert M.apply_migration(spark, db, M.migrations_to_apply(spark, db, manifest)) == 2
    qual = f"`{db}`.`{M.CLAIMS}`"
    assert M._live_claims(spark, M._meta(spark, db, M.CLAIMS)).count() == 0
    rows = spark.table(qual).collect()
    claims = [r for r in rows if not (r.released or False)]
    tombs = [r for r in rows if (r.released or False)]
    assert all(r.claim_id for r in rows)
    assert len({r.claim_id for r in claims}) == len(claims) == 2
    assert {r.claim_id for r in tombs} == {r.claim_id for r in claims}


# ── table location URIs are percent-decoded ──────────────────────────────────


def test_table_location_unquotes_percent_escapes(spark, db, tmp_path):
    """The catalog keeps a LOCATION as a URI, which percent-escapes a
    space; the lookup gives the real directory, and a staged INSERT
    publishes into it.  A metadata table outside a local directory (a
    non-file scheme, or a location that is no directory) is refused."""
    loc = tmp_path / "Application Support" / "t"
    loc.mkdir(parents=True)
    spark.sql(f"CREATE TABLE `{db}`.t_space (k BIGINT) USING PARQUET LOCATION '{loc}'")
    info = M._describe_table(spark, f"`{db}`.`t_space`")
    assert info.path == M._local_parquet_location(info) == str(loc)
    published = []
    publish = M._publish_stage

    def recorded(sess, stage_qual, target_qual, dst=None):
        published.append(dst)
        publish(sess, stage_qual, target_qual, dst)

    home = _write_migrations(tmp_path, {"V1__i.sql": "INSERT INTO t_space VALUES (7)"})
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(M, "_publish_stage", recorded)
        assert M.migrate(spark, db, home, create_db_if_no_exists=False) == 1
    assert published == [str(loc)]
    assert [r.k for r in spark.table(f"`{db}`.t_space").collect()] == [7]
    assert any(f.startswith("part-stmt-") for f in os.listdir(loc))
    assert M._path_of_location("s3a://bucket/wh/t") is None
    other = "testdb_" + uuid.uuid4().hex[:8]
    M.create_db(spark, other)
    try:
        spark.sql(
            f"CREATE TABLE `{other}`.`{M.CLAIMS}` (version BIGINT) USING PARQUET "
            f"LOCATION '{tmp_path / 'gone'}'"
        )
        with pytest.raises(ValueError, match=M.CLAIMS):
            M._meta(spark, other, M.CLAIMS)
    finally:
        spark.sql(f"DROP DATABASE `{other}` CASCADE")


# ── ALTER UPDATE/DELETE validate column names case-sensitively ───────────────


def test_alter_update_unknown_column_raises(spark, db):
    M.execute_statement(
        spark, "CREATE TABLE t_rv (v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    spark.sql(f"INSERT INTO `{db}`.t_rv VALUES (1)")
    with pytest.raises(ValueError, match="unknown column"):
        M.execute_statement(spark, "ALTER TABLE t_rv UPDATE tpyo = 0 WHERE v > 0")
    with pytest.raises(ValueError, match="twice"):
        M.execute_statement(
            spark, "ALTER TABLE t_rv UPDATE v = 1, v = 2 WHERE v > 0"
        )
    # case-only mismatch is rejected with a did-you-mean (ClickHouse
    # column names are case-sensitive — ADVICE r9 superseded the r8
    # case-insensitive resolution)
    with pytest.raises(ValueError, match="did you mean 'v'"):
        M.execute_statement(spark, "ALTER TABLE t_rv UPDATE V = v + 1 WHERE v > 0")
    M.execute_statement(spark, "ALTER TABLE t_rv UPDATE v = v + 1 WHERE v > 0")
    assert spark.table(f"`{db}`.t_rv").collect()[0].v == 2


@pytest.mark.usefixtures("ledger_db")
def test_alter_update_rejects_case_mismatched_column(spark, db, request):
    spark.catalog.setCurrentDatabase(db)
    request.addfinalizer(lambda: spark.catalog.setCurrentDatabase("default"))
    M.execute_statement(
        spark,
        "CREATE TABLE t_case (value Int64, k Int64) ENGINE = MergeTree ORDER BY tuple()",
    )
    spark.sql(f"INSERT INTO `{db}`.t_case VALUES (1, 1)")
    with pytest.raises(ValueError, match=r"unknown column 'Value'.*did you mean 'value'"):
        M.execute_statement(spark, "ALTER TABLE t_case UPDATE Value = 0 WHERE k = 1")
    # untouched — the reject happened before any write
    assert spark.table(f"`{db}`.t_case").collect()[0].value == 1
    # exact-case spelling still applies
    M.execute_statement(spark, "ALTER TABLE t_case UPDATE value = 7 WHERE k = 1")
    assert spark.table(f"`{db}`.t_case").collect()[0].value == 7


@pytest.mark.usefixtures("ledger_db")
def test_alter_update_case_mismatch_in_predicate_rejected(spark, db):
    _mk(spark, db)
    with pytest.raises(ValueError, match="did you mean 'v'"):
        M.execute_statement(spark, "ALTER TABLE t UPDATE v = v + 1 WHERE V > 0")


@pytest.mark.usefixtures("ledger_db")
def test_alter_update_case_mismatch_in_rhs_rejected(spark, db):
    _mk(spark, db)
    with pytest.raises(ValueError, match="did you mean 'v'"):
        M.execute_statement(spark, "ALTER TABLE t UPDATE v = V + 1 WHERE v > 0")


@pytest.mark.usefixtures("ledger_db")
def test_alter_delete_case_mismatch_rejected(spark, db):
    _mk(spark, db)
    with pytest.raises(ValueError, match="did you mean 'id'"):
        M.execute_statement(spark, "ALTER TABLE t DELETE WHERE ID = 1")


@pytest.mark.usefixtures("ledger_db")
def test_alter_update_exact_case_still_works(spark, db):
    _mk(spark, db)
    M.execute_statement(spark, "ALTER TABLE t UPDATE v = v + 1 WHERE v > 20")
    got = {
        (r.id, r.v) for r in spark.table(f"`{db}`.t").collect()
    }
    assert got == {(1, 10), (2, 31)}


@pytest.mark.usefixtures("ledger_db")
def test_alter_update_function_names_not_misread_as_columns(spark, db):
    # upper(...) is a FUNCTION; the validator must not reject it even
    # though no column is named "upper"
    spark.sql(f"CREATE TABLE `{db}`.s (id BIGINT, name STRING) USING PARQUET")
    spark.sql(f"INSERT INTO `{db}`.s VALUES (1, 'a'), (2, 'b')")
    M.execute_statement(
        spark, "ALTER TABLE s UPDATE name = upper(name) WHERE id >= 1"
    )
    got = {r.name for r in spark.table(f"`{db}`.s").collect()}
    assert got == {"A", "B"}


@pytest.mark.usefixtures("ledger_db")
def test_alter_update_string_literals_not_validated(spark, db):
    # 'V' inside a string literal is data, not an identifier
    spark.sql(f"CREATE TABLE `{db}`.s2 (id BIGINT, name STRING) USING PARQUET")
    spark.sql(f"INSERT INTO `{db}`.s2 VALUES (1, 'x')")
    M.execute_statement(spark, "ALTER TABLE s2 UPDATE name = 'V' WHERE id = 1")
    assert spark.table(f"`{db}`.s2").collect()[0].name == "V"


@pytest.mark.usefixtures("ledger_db")
def test_update_with_subquery_predicate_not_rejected(spark, db):
    M.execute_statement(
        spark, "CREATE TABLE t_main (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    M.execute_statement(
        spark, "CREATE TABLE t_other (K Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    spark.sql(f"INSERT INTO `{db}`.t_main VALUES (1, 10), (2, 20)")
    spark.sql(f"INSERT INTO `{db}`.t_other VALUES (1)")
    # `K` case-insensitively collides with t_main's `k` but belongs to
    # t_other — r10 rejected this valid migration with ValueError
    M.execute_statement(
        spark,
        "ALTER TABLE t_main UPDATE v = 99 WHERE k IN (SELECT K FROM t_other)",
    )
    assert sorted((r.k, r.v) for r in spark.table(f"`{db}`.t_main").collect()) == [
        (1, 99),
        (2, 20),
    ]
    M.execute_statement(
        spark, "ALTER TABLE t_main DELETE WHERE k IN (SELECT K FROM t_other)"
    )
    assert [(r.k, r.v) for r in spark.table(f"`{db}`.t_main").collect()] == [(2, 20)]


@pytest.mark.usefixtures("ledger_db")
def test_case_mismatch_still_rejected_without_subquery(spark, db):
    """The heuristic still fires on plain expressions — only subqueries
    disable it."""
    M.execute_statement(
        spark, "CREATE TABLE t_case (k Int64, v Int64) ENGINE = MergeTree ORDER BY tuple()"
    )
    with pytest.raises(ValueError, match="case-sensitive"):
        M.execute_statement(spark, "ALTER TABLE t_case UPDATE v = 0 WHERE K = 1")
    # a backslash-escaped quote does not end the literal: 'V' is data
    M._check_read_identifiers(["k", "v", "s"], r"s = 'it\'s V'", "WHERE")


def test_sql_keywords_in_predicate_not_treated_as_identifiers():
    # SELECT/FROM/JOIN/etc. must never reach the column matcher
    M._check_read_identifiers(
        ["select_x", "k"], "k > 0 AND k < 10", "WHERE"
    )  # no raise
