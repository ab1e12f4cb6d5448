"""Exactly-once staged INSERTs into PARTITIONED parquet targets
(round 12, closing VERDICT r11 residual #1's sharpest edge).

The ADVICE r12 (high) fix first scoped staged inserts to FLAT tables,
because the flat stage + root-directory rename publish made rows into a
partitioned target silently invisible (catalog-managed partition
listing never reads unregistered directories).  This round makes
partitioned targets first-class instead of falling back to the
at-least-once direct path:

  - the stage is a PARTITION-MIRRORING schema clone, so the staged
    INSERT writes real ``col=value`` directories with the exact insert
    analysis a direct execution would get (Spark normalizes partition
    columns to the end of the schema on both sides);
  - the publish renames files partition-by-partition under
    deterministic names and registers each touched partition FIRST via
    ``ADD IF NOT EXISTS PARTITION`` (idempotent, O(#touched
    partitions)); NULL partition values — Hive's
    ``__HIVE_DEFAULT_PARTITION__`` directory, unspellable in an ADD
    PARTITION spec — are registered by one ``MSCK REPAIR TABLE`` after
    the renames;
  - every crash window (pre-journal, post-journal, mid-publish)
    reconciles to exactly-once on the documented rerun, same contract
    as the flat sweep in ``test_stmt_journal``.

Only BUCKETED targets still fall back: the bucket id is encoded in the
data file name, which a rename-based publish cannot preserve.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from clickhouse_migrator_spark import migrate as M


def _mig(tmp_path, stmts, version=3):
    home = tmp_path / "mig_sp"
    home.mkdir(exist_ok=True)
    (home / f"V{version}__sp.json").write_text(json.dumps(stmts))
    return str(home)


def _arm(monkeypatch, stage: str, occurrence: int = 0):
    seen = {"n": 0}

    def boom(s):
        if s == stage:
            if seen["n"] == occurrence:
                seen["n"] += 1
                raise RuntimeError("injected crash")
            seen["n"] += 1

    monkeypatch.setattr(M, "_crash_point", boom)


def _mk_pt(spark, db, name="pt"):
    spark.sql(
        f"CREATE TABLE `{db}`.{name} (k BIGINT, v BIGINT, d STRING) "
        "USING PARQUET PARTITIONED BY (d)"
    )


def _rows(spark, db, name="pt"):
    return sorted(
        (r.k, r.v, r.d) for r in spark.table(f"`{db}`.{name}").collect()
    )


def _no_stage_leftovers(spark, db):
    return not [
        r["tableName"]
        for r in spark.sql(f"SHOW TABLES IN `{db}`").collect()
        if r["tableName"].startswith(M._STAGE_PREFIX)
    ]


# ── the staged path engages, and the commit point holds ──────────────────────


@pytest.mark.usefixtures("ledger_db")
def test_partitioned_insert_is_staged_not_fallback(spark, db, tmp_path, monkeypatch):
    """Pre-journal crash on a partitioned INSERT leaves the target EMPTY
    (the old fallback made the first attempt's rows durable — the
    at-least-once window this feature closes), and the rerun lands the
    rows exactly once with the partitions registered."""
    _mk_pt(spark, db)
    home = _mig(tmp_path, ["INSERT INTO pt VALUES (1, 10, 'a'), (2, 20, 'b')"])
    _arm(monkeypatch, "after_stmt")
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    assert spark.table(f"`{db}`.pt").count() == 0, "uncommitted stage leaked rows"
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    assert _rows(spark, db) == [(1, 10, "a"), (2, 20, "b")]
    parts = {r.partition for r in spark.sql(f"SHOW PARTITIONS `{db}`.pt").collect()}
    assert parts == {"d=a", "d=b"}
    assert M.migrate(spark, db, home) == 0
    assert _rows(spark, db) == [(1, 10, "a"), (2, 20, "b")]
    assert _no_stage_leftovers(spark, db)


@pytest.mark.usefixtures("ledger_db")
@pytest.mark.parametrize("stage", ["after_journal", "mid_publish"])
def test_partitioned_crash_windows_converge_exactly_once(
    spark, db, tmp_path, monkeypatch, stage
):
    """Post-journal crash (stage committed, nothing published) and
    mid-publish crash (some files renamed, registration already done
    for that partition) both reconcile: the rerun publishes the
    committed stage — registering any partition whose ADD never ran —
    and skips the statement."""
    _mk_pt(spark, db)
    home = _mig(
        tmp_path,
        ["INSERT INTO pt VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')"],
    )
    _arm(monkeypatch, stage)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    assert _rows(spark, db) == [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]
    parts = {r.partition for r in spark.sql(f"SHOW PARTITIONS `{db}`.pt").collect()}
    assert parts == {"d=a", "d=b", "d=c"}
    assert M.migrate(spark, db, home) == 0
    assert spark.table(f"`{db}`.pt").count() == 3
    assert _no_stage_leftovers(spark, db)


# ── partition semantics: append, escaping, NULL, multi-level ─────────────────


@pytest.mark.usefixtures("ledger_db")
def test_append_into_existing_partition_merges_files(spark, db, tmp_path):
    _mk_pt(spark, db)
    spark.sql(f"INSERT INTO `{db}`.pt VALUES (0, 5, 'a')")  # pre-existing rows
    home = _mig(tmp_path, ["INSERT INTO pt VALUES (1, 10, 'a'), (2, 20, 'b')"])
    assert M.migrate(spark, db, home) == 1
    assert _rows(spark, db) == [(0, 5, "a"), (1, 10, "a"), (2, 20, "b")]
    # pruning still works on the merged layout: one partition's files only
    assert spark.table(f"`{db}`.pt").filter(F.col("d") == "a").count() == 2
    loc = M._describe_table(spark, f"`{db}`.`pt`").path
    staged_files = [
        f for f in os.listdir(os.path.join(loc, "d=a")) if f.startswith("part-stmt-")
    ]
    assert staged_files, "published file must carry the deterministic stage name"


@pytest.mark.usefixtures("ledger_db")
def test_escaped_and_null_partition_values(spark, db, tmp_path):
    """Values Spark %-escapes in directory names (':' → %3A) must round-
    trip through ADD PARTITION's unescaped spec, and a NULL partition
    value (the MSCK path) must land as a real NULL."""
    _mk_pt(spark, db)
    home = _mig(
        tmp_path,
        ["INSERT INTO pt VALUES (1, 10, 'a b:c'), (2, 20, NULL)"],
    )
    assert M.migrate(spark, db, home) == 1
    got = sorted(
        (r.k, r.v, r.d) for r in spark.table(f"`{db}`.pt").collect()
    )
    assert got == [(1, 10, "a b:c"), (2, 20, None)]
    # the escaped value is queryable through partition pruning
    assert spark.table(f"`{db}`.pt").filter(F.col("d") == "a b:c").count() == 1
    assert spark.table(f"`{db}`.pt").filter(F.col("d").isNull()).count() == 1
    assert _no_stage_leftovers(spark, db)


@pytest.mark.usefixtures("ledger_db")
def test_hostile_partition_values_round_trip(spark, db, tmp_path):
    """'=' (the dir-syntax separator), a single quote (the ADD PARTITION
    literal delimiter, escaped via _sq), and '%' (the escape character
    itself) all survive the dir-name escape → unescape → SQL-literal
    round trip: Spark writes d=a%3Db / d=it%27s / d=100%25 and the
    registered partitions prune correctly."""
    _mk_pt(spark, db)
    home = _mig(
        tmp_path,
        ["INSERT INTO pt VALUES (1, 10, 'a=b'), (2, 20, 'it''s'), (3, 30, '100%')"],
    )
    assert M.migrate(spark, db, home) == 1
    assert _rows(spark, db) == [(1, 10, "a=b"), (2, 20, "it's"), (3, 30, "100%")]
    parts = {r.partition for r in spark.sql(f"SHOW PARTITIONS `{db}`.pt").collect()}
    assert parts == {"d=a%3Db", "d=it%27s", "d=100%25"}
    assert spark.table(f"`{db}`.pt").filter(F.col("d") == "a=b").count() == 1
    assert spark.table(f"`{db}`.pt").filter(F.col("d") == "it's").count() == 1
    assert spark.table(f"`{db}`.pt").filter(F.col("d") == "100%").count() == 1


@pytest.mark.usefixtures("ledger_db")
def test_multilevel_partitions_exactly_once_across_crash(
    spark, db, tmp_path, monkeypatch
):
    spark.sql(
        f"CREATE TABLE `{db}`.ml (k BIGINT, y INT, m INT) "
        "USING PARQUET PARTITIONED BY (y, m)"
    )
    home = _mig(
        tmp_path,
        ["INSERT INTO ml VALUES (1, 2024, 1), (2, 2024, 2), (3, 2025, 1)"],
    )
    _arm(monkeypatch, "mid_publish", occurrence=1)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    got = sorted((r.k, r.y, r.m) for r in spark.table(f"`{db}`.ml").collect())
    assert got == [(1, 2024, 1), (2, 2024, 2), (3, 2025, 1)]
    parts = {r.partition for r in spark.sql(f"SHOW PARTITIONS `{db}`.ml").collect()}
    assert parts == {"y=2024/m=1", "y=2024/m=2", "y=2025/m=1"}
    assert spark.table(f"`{db}`.ml").filter("y = 2024 AND m = 2").count() == 1
    assert _no_stage_leftovers(spark, db)


@pytest.mark.usefixtures("ledger_db")
def test_insert_select_into_partitioned_target(spark, db, tmp_path):
    """INSERT ... SELECT (dynamic partitions from data) through the
    staged path, including a partition that already exists."""
    _mk_pt(spark, db, "src")
    _mk_pt(spark, db, "dst")
    spark.sql(
        f"INSERT INTO `{db}`.src VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'a')"
    )
    spark.sql(f"INSERT INTO `{db}`.dst VALUES (9, 90, 'a')")
    home = _mig(tmp_path, ["INSERT INTO dst SELECT * FROM src WHERE d = 'a'"])
    assert M.migrate(spark, db, home) == 1
    assert _rows(spark, db, "dst") == [(1, 10, "a"), (3, 30, "a"), (9, 90, "a")]
    assert M.migrate(spark, db, home) == 0
    assert spark.table(f"`{db}`.dst").count() == 3


@pytest.mark.usefixtures("ledger_db")
def test_migration_created_partitioned_table_takes_staged_inserts(
    spark, db, tmp_path, monkeypatch
):
    """A script can CREATE a physically partitioned table itself (the
    translation keeps its own ``USING PARQUET`` in front of
    ``PARTITIONED BY`` instead of appending a second one), and an INSERT
    into it in the same script goes through the staged per-partition
    publish."""
    home = _mig(
        tmp_path,
        [
            "CREATE TABLE cp (k Int64, v Int64, d String) "
            "USING PARQUET PARTITIONED BY (d)",
            "INSERT INTO cp VALUES (1, 10, 'a'), (2, 20, 'b')",
            # a leading comment still takes the staged path
            "-- backfill, one row\nINSERT INTO cp VALUES (3, 30, 'a')",
        ],
    )
    published = []
    publish = M._publish_stage

    def recorded(sess, stage_qual, target_qual, *rest):
        published.append(target_qual)
        publish(sess, stage_qual, target_qual, *rest)

    monkeypatch.setattr(M, "_publish_stage", recorded)
    assert M.migrate(spark, db, home) == 1
    assert published == [f"`{db}`.`cp`"] * 2
    assert M._describe_table(spark, f"`{db}`.`cp`").pcols == ["d"]
    assert _rows(spark, db, "cp") == [(1, 10, "a"), (2, 20, "b"), (3, 30, "a")]
    parts = {r.partition for r in spark.sql(f"SHOW PARTITIONS `{db}`.cp").collect()}
    assert parts == {"d=a", "d=b"}
    loc = M._describe_table(spark, f"`{db}`.`cp`").path
    assert any(f.startswith("part-stmt-") for f in os.listdir(os.path.join(loc, "d=a")))
    assert _no_stage_leftovers(spark, db)


# ── helpers pinned ───────────────────────────────────────────────────────────


def test_unescape_partition_value():
    assert M._unescape_partition_value("a b%3Ac") == "a b:c"
    assert M._unescape_partition_value("100%25") == "100%"
    assert M._unescape_partition_value("plain") == "plain"
    # a bare '%' not followed by two hex digits is left alone
    assert M._unescape_partition_value("x%zz") == "x%zz"


def test_stage_partition_dirs_flat_and_nested(tmp_path):
    root = tmp_path / "t"
    (root / "y=1" / "m=2").mkdir(parents=True)
    (root / "y=1" / "m=3").mkdir(parents=True)
    (root / "y=2" / "m=2").mkdir(parents=True)
    (root / "_temporary").mkdir()
    (root / "stray=9").mkdir()  # wrong column name at level 0 → skipped
    (root / "y=1" / "_SUCCESS").write_text("")
    assert M._stage_partition_dirs(str(root), []) == [()]
    assert M._stage_partition_dirs(str(root), ["y", "m"]) == [
        ("y=1", "m=2"),
        ("y=1", "m=3"),
        ("y=2", "m=2"),
    ]


# ── r12 self-review regressions ──────────────────────────────────────────────


@pytest.mark.usefixtures("ledger_db")
def test_underscore_leading_partition_column(spark, db, tmp_path):
    """A partition column named with a leading underscore (legal Spark
    identifier, e.g. _c0) must publish: the old shape-heuristic walk
    skipped any '_'-prefixed directory, silently dropping EVERY row of
    the insert after its journal row had committed."""
    spark.sql(
        f"CREATE TABLE `{db}`.ut (k BIGINT, `_d` STRING) "
        "USING PARQUET PARTITIONED BY (`_d`)"
    )
    home = _mig(tmp_path, ["INSERT INTO ut VALUES (1, 'a'), (2, 'b')"])
    assert M.migrate(spark, db, home) == 1
    got = sorted((r.k, r._d) for r in spark.table(f"`{db}`.ut").collect())
    assert got == [(1, "a"), (2, "b")]
    parts = {r.partition for r in spark.sql(f"SHOW PARTITIONS `{db}`.ut").collect()}
    assert parts == {"_d=a", "_d=b"}
    assert _no_stage_leftovers(spark, db)


@pytest.mark.usefixtures("ledger_db")
def test_backslash_partition_value(spark, db, tmp_path):
    """A backslash in a partition value must survive the dir-escape →
    SQL-literal round trip: Spark's default parser treats backslash as
    an escape character inside string literals, so an unescaped spec
    would register value 'a<backspace>' while the files sat in
    d=a%5Cb, unregistered and invisible."""
    _mk_pt(spark, db)
    home = _mig(tmp_path, [r"INSERT INTO pt VALUES (1, 10, 'a\\b')"])
    assert M.migrate(spark, db, home) == 1
    [row] = spark.table(f"`{db}`.pt").collect()
    assert (row.k, row.v, row.d) == (1, 10, "a\\b")
    assert spark.table(f"`{db}`.pt").filter(F.col("d") == "a\\b").count() == 1
    parts = {r.partition for r in spark.sql(f"SHOW PARTITIONS `{db}`.pt").collect()}
    assert parts == {"d=a%5Cb"}


@pytest.mark.usefixtures("ledger_db")
def test_data_column_named_location_does_not_shadow_metadata(spark, db, tmp_path):
    """A data column literally named 'Location' must not shadow the
    table's location and route the publish to a garbage path (a flat
    parse of DESCRIBE rows, whose schema rows come first, did)."""
    spark.sql(
        f"CREATE TABLE `{db}`.lt (k BIGINT, Location STRING) USING PARQUET"
    )
    real_loc = M._describe_table(spark, f"`{db}`.`lt`").path
    assert real_loc is not None and os.path.isdir(real_loc)
    assert real_loc != "string"  # the old rows[0] bug returned the TYPE
    home = _mig(tmp_path, ["INSERT INTO lt VALUES (1, 'somewhere')"])
    assert M.migrate(spark, db, home) == 1
    assert [(r.k, r.Location) for r in spark.table(f"`{db}`.lt").collect()] == [
        (1, "somewhere")
    ]
    assert _no_stage_leftovers(spark, db)


# ── bucketed targets fall back to direct execution (at-least-once) ───────────


@pytest.mark.usefixtures("ledger_db")
def test_local_parquet_location_refuses_bucketed_accepts_partitioned(spark, db):
    spark.sql(
        f"CREATE TABLE `{db}`.pt (k BIGINT, v BIGINT, d STRING) "
        "USING PARQUET PARTITIONED BY (d)"
    )
    spark.sql(
        f"CREATE TABLE `{db}`.bt (k BIGINT, v BIGINT) "
        "USING PARQUET CLUSTERED BY (k) INTO 4 BUCKETS"
    )
    spark.sql(f"CREATE TABLE `{db}`.ft (k BIGINT, v BIGINT) USING PARQUET")
    info = {t: M._describe_table(spark, f"`{db}`.`{t}`") for t in ("pt", "bt", "ft")}
    assert M._local_parquet_location(info["pt"]) is not None
    assert M._local_parquet_location(info["bt"]) is None
    assert M._local_parquet_location(info["ft"]) is not None
    assert info["pt"].pcols == ["d"]
    assert info["ft"].pcols == []


@pytest.mark.usefixtures("ledger_db")
def test_runner_insert_into_partitioned_table_rows_visible(spark, db, tmp_path):
    """The r11 regression shape: INSERT through the runner into a
    PARTITIONED BY parquet table.  Rows must be visible afterwards (the
    staged flat-rename publish made them invisible) and land in real
    partition directories."""
    spark.sql(
        f"CREATE TABLE `{db}`.pt (k BIGINT, v BIGINT, d STRING) "
        "USING PARQUET PARTITIONED BY (d)"
    )
    home = _mig(
        tmp_path,
        [
            "INSERT INTO pt VALUES (1, 10, 'a'), (2, 20, 'b')",
            "INSERT INTO pt VALUES (3, 30, 'a')",
        ],
    )
    assert M.migrate(spark, db, home) == 1
    got = sorted((r.k, r.v, r.d) for r in spark.table(f"`{db}`.pt").collect())
    assert got == [(1, 10, "a"), (2, 20, "b"), (3, 30, "a")]
    # partition pruning actually works on the written layout
    assert (
        spark.table(f"`{db}`.pt").filter(F.col("d") == "a").count() == 2
    )
    loc = M._describe_table(spark, f"`{db}`.`pt`").path
    assert loc and os.path.isdir(os.path.join(loc, "d=a"))
    # and no stage-table garbage
    leftovers = [
        r["tableName"]
        for r in spark.sql(f"SHOW TABLES IN `{db}`").collect()
        if r["tableName"].startswith(M._STAGE_PREFIX)
    ]
    assert leftovers == []


@pytest.mark.usefixtures("ledger_db")
def test_runner_insert_into_bucketed_table_rows_visible(spark, db, tmp_path):
    spark.sql(
        f"CREATE TABLE `{db}`.bt (k BIGINT, v BIGINT) "
        "USING PARQUET CLUSTERED BY (k) INTO 4 BUCKETS"
    )
    home = _mig(tmp_path, ["INSERT INTO bt VALUES (1, 10), (2, 20)"], version=4)
    assert M.migrate(spark, db, home) == 1
    got = sorted((r.k, r.v) for r in spark.table(f"`{db}`.bt").collect())
    assert got == [(1, 10), (2, 20)]


@pytest.mark.usefixtures("ledger_db")
def test_fallback_insert_crash_documented_at_least_once(
    spark, db, tmp_path, monkeypatch
):
    """A fallback-path INSERT (bucketed target → direct execution; the
    partitioned case graduated to the staged exactly-once path) crashed
    after its effects but before the journal row: the rerun re-executes
    it and the rows DUPLICATE — the documented at-least-once fallback
    window (README), not silent corruption: every written row is a
    faithful copy of the statement's rows."""
    spark.sql(
        f"CREATE TABLE `{db}`.pf (k BIGINT, v BIGINT, d STRING) "
        "USING PARQUET CLUSTERED BY (k) INTO 2 BUCKETS"
    )
    home = _mig(tmp_path, ["INSERT INTO pf VALUES (1, 10, 'a')"], version=5)
    fired = {"n": 0}

    def boom(s):
        if s == "after_stmt" and fired["n"] == 0:
            fired["n"] += 1
            raise RuntimeError("injected crash")

    monkeypatch.setattr(M, "_crash_point", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.migrate(spark, db, home)
    monkeypatch.setattr(M, "_crash_point", lambda s: None)
    # fallback = direct execution: the first attempt's rows ARE visible
    assert spark.table(f"`{db}`.pf").count() == 1
    M.clear_claims(spark, db)
    assert M.migrate(spark, db, home) == 1
    got = sorted((r.k, r.v, r.d) for r in spark.table(f"`{db}`.pf").collect())
    assert got == [(1, 10, "a"), (1, 10, "a")]  # documented duplicate
    assert M.migrate(spark, db, home) == 0  # and converged thereafter
    assert spark.table(f"`{db}`.pf").count() == 2


def test_readme_scopes_exactly_once_claim():
    """README's exactly-once section must carry the scope qualifier:
    flat local parquet only; partitioned/bucketed/non-local targets
    fall back to at-least-once direct execution."""
    with open(os.path.join(os.path.dirname(__file__), "..", "README.md")) as f:
        txt = f.read().lower()
    assert "exactly-once" in txt
    assert "at-least-once" in txt
    assert "partitioned" in txt and "bucketed" in txt
