"""REAL two-process concurrency test (VERDICT r7 #2).

The round-7 cross-process test simulated a second driver by
monkeypatching the in-process lock away; this one spawns an actual
second JVM (``tests/xproc_runner.py`` via subprocess) with its own
SparkSession against the SAME warehouse directory, so the claims
protocol is exercised over genuine cross-process parquet file-listing
visibility — exactly where the round-7 relation-cache staleness class
lived.

Catalog realism note: both drivers run Spark's default in-memory
catalog, so they share the *data plane* (warehouse parquet files) but
each holds a private catalog.  The test pre-binds the shared table
locations in both catalogs (CREATE TABLE IF NOT EXISTS over the same,
still-empty locations) and races ONE pending INSERT migration — the
ledger/claims appends and reads all flow through the shared
filesystem.  On a shared metastore (Hive/Delta/Iceberg) the same
protocol runs unchanged with shared DDL visibility too.

Invariants (every interleaving): at most one runner applies (no
duplicate ledger row, the INSERT's effect lands at most once), and a
serial rerun after ``clear_claims`` converges to exactly-once.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from clickhouse_migrator_spark import migrate as M

RUNNER = os.path.join(os.path.dirname(__file__), "xproc_runner.py")


@pytest.mark.usefixtures("ledger_db")
def test_real_two_process_race_at_most_one_applies(spark, db, tmp_path):
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    home = tmp_path / "mig"
    home.mkdir()
    # ONE pending migration: a bare INSERT into a pre-bound table, so
    # neither process needs to see the other's DDL (in-memory catalogs
    # don't share metadata; the parquet locations are shared)
    (home / "V1__insert.sql").write_text(f"INSERT INTO `{db}`.t_xp VALUES (7)")
    spark.sql(f"CREATE TABLE `{db}`.t_xp (v BIGINT) USING PARQUET")
    prebind = tmp_path / "prebind.sql"
    prebind.write_text(
        f"CREATE TABLE IF NOT EXISTS `{db}`.t_xp (v BIGINT) USING PARQUET;\n"
    )
    ready = tmp_path / "ready"
    go = tmp_path / "go"
    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    proc = subprocess.Popen(
        [
            sys.executable,
            RUNNER,
            warehouse,
            db,
            str(home),
            str(ready),
            str(go),
            str(prebind),
        ],
        stdout=subprocess.PIPE,
        stderr=open(tmp_path / "xproc_stderr.log", "w"),
        text=True,
        env=env,
        cwd=os.path.dirname(os.path.dirname(RUNNER)),
    )
    try:
        # parent computes its pending set while the second JVM boots
        manifest = M.manifest_df(spark, M.scan_migrations(str(home)))
        rows = M.migrations_to_apply(spark, db, manifest).collect()
        pend = spark.createDataFrame(rows, M.MANIFEST_SCHEMA)
        deadline = time.time() + 180
        while not ready.exists():
            assert proc.poll() is None, "second driver died before ready"
            assert time.time() < deadline, "second driver never became ready"
            time.sleep(0.05)
        go.write_text("go")  # barrier release — both apply "now"
        spark.catalog.setCurrentDatabase(db)
        try:
            parent_applied: object
            try:
                parent_applied = M.apply_migration(spark, db, pend)
            except M.ConcurrentMigrationError:
                parent_applied = "refused"
        finally:
            spark.catalog.setCurrentDatabase("default")
        out, _ = proc.communicate(timeout=180)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert "XPROC_TIMEOUT" not in out, out
    child_applied = "XPROC_APPLIED=1" in out
    child_refused = "XPROC_REFUSED" in out or "XPROC_APPLIED=0" in out
    assert child_applied or child_refused, out

    # ── at-most-one, checked against the SHARED data plane ──────────
    spark.catalog.refreshTable(f"`{db}`.schema_versions")
    ledger = spark.table(f"`{db}`.schema_versions")
    dup = ledger.groupBy("version").count().filter(F.col("count") > 1).count()
    assert dup == 0, (parent_applied, out)
    spark.catalog.refreshTable(f"`{db}`.t_xp")
    n_rows = spark.table(f"`{db}`.t_xp").count()
    assert n_rows <= 1, (n_rows, parent_applied, out)
    # consistency between effect and ledger
    assert n_rows == ledger.filter(F.col("version") == 1).count()

    # ── serial rerun converges to exactly-once ──────────────────────
    M.clear_claims(spark, db)
    M.migrate(spark, db, str(home), create_db_if_no_exists=False)
    spark.catalog.refreshTable(f"`{db}`.schema_versions")
    spark.catalog.refreshTable(f"`{db}`.t_xp")
    assert [
        r.version
        for r in spark.table(f"`{db}`.schema_versions").orderBy("version").collect()
    ] == [1]
    assert spark.table(f"`{db}`.t_xp").count() == 1


COMPACT_RUNNER = os.path.join(os.path.dirname(__file__), "xproc_compact_runner.py")


@pytest.mark.usefixtures("ledger_db")
def test_compaction_races_live_runner_appends_and_resume(spark, db, tmp_path):
    """VERDICT r11 #5: one runner compacts the journal from a second JVM
    while this process is mid-migration — appending journal rows,
    crashing, and RESUMING through journal reads — against the same
    shared location.  compact_journal's whole-file-deletion reasoning
    (dead files only, readers tolerate vanishing files) must hold under
    real cross-process fire: the migration converges exactly-once, the
    compactor never raises, and the dead rows do get removed."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql(f"CREATE TABLE `{db}`.t_cj (k BIGINT, v BIGINT) USING PARQUET")
    home = tmp_path / "mig_cj"
    home.mkdir()
    # V1: applied up-front → its ledger row makes any v1 journal rows
    # dead; we then hand-append a pile of dead v1 rows for the rival
    # compactor to chew on during the race
    (home / "V1__seed.sql").write_text(f"INSERT INTO `{db}`.t_cj VALUES (0, 0)")
    spark.catalog.setCurrentDatabase(db)
    try:
        assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
        journal = M._meta(spark, db, M.JOURNAL)
        for i in range(40):
            M._append_journal_row(spark, journal, 1, 100 + i, "deadmd5", "x")

        ready, go, stop = tmp_path / "ready", tmp_path / "go", tmp_path / "stop"
        env = dict(os.environ)
        env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        proc = subprocess.Popen(
            [
                sys.executable,
                COMPACT_RUNNER,
                warehouse,
                db,
                str(ready),
                str(go),
                str(stop),
            ],
            stdout=subprocess.PIPE,
            stderr=open(tmp_path / "xproc_compact_stderr.log", "w"),
            text=True,
            env=env,
            cwd=os.path.dirname(os.path.dirname(COMPACT_RUNNER)),
        )
        try:
            deadline = time.time() + 180
            while not ready.exists():
                assert proc.poll() is None, "compactor died before ready"
                assert time.time() < deadline, "compactor never became ready"
                time.sleep(0.05)
            go.write_text("go")  # compactor loop starts NOW

            # V2: a multi-statement non-idempotent script appending
            # journal rows while the rival compacts; crash mid-script,
            # then resume — the resume's journal read races deletions
            stmts = [f"INSERT INTO t_cj VALUES ({i}, {10 ** i})" for i in range(1, 5)]
            stmts += ["ALTER TABLE t_cj UPDATE v = v + 1 WHERE k >= 0"]
            import json as _json

            (home / "V2__race.json").write_text(_json.dumps(stmts))
            fired = {"n": 0}
            orig_crash = M._crash_point

            def boom(s):
                if s == "after_journal" and fired["n"] == 2:
                    fired["n"] += 1
                    raise RuntimeError("injected crash")
                if s == "after_journal":
                    fired["n"] += 1

            M._crash_point = boom
            try:
                try:
                    M.migrate(spark, db, str(home), create_db_if_no_exists=False)
                    raise AssertionError("injected crash did not fire")
                except RuntimeError:
                    pass
            finally:
                M._crash_point = orig_crash
            # seed more dead rows so the compactor still has deletions
            # overlapping the RESUME's journal reads
            for i in range(40):
                M._append_journal_row(spark, journal, 1, 200 + i, "deadmd5", "x")
            M.recover_cow(spark, db)
            M.clear_claims(spark, db)
            assert M.migrate(spark, db, str(home), create_db_if_no_exists=False) == 1
            stop.write_text("stop")
            out, _ = proc.communicate(timeout=180)
        finally:
            if proc.poll() is None:
                proc.kill()
    finally:
        spark.catalog.setCurrentDatabase("default")

    assert "XPROC_COMPACT_DONE=" in out, out
    iters = int(out.split("XPROC_COMPACT_DONE=")[1].split(",")[0])
    assert iters >= 1, out

    # exactly-once despite the concurrent compaction: V2's inserts and
    # the final update each applied once
    spark.catalog.refreshTable(f"`{db}`.t_cj")
    rows = sorted((r.k, r.v) for r in spark.table(f"`{db}`.t_cj").collect())
    assert rows == [(0, 1)] + [(i, 10**i + 1) for i in range(1, 5)], (rows, out)
    # the dead v1 rows are gone (rival's deletions + the runner's own
    # post-ledger compaction both contribute)
    M.compact_journal(spark, db)
    left = M._read_journal_rows(M._meta(spark, db, M.JOURNAL))
    assert [r for r in left if int(r["version"]) == 1] == [], left
