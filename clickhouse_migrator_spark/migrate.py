"""Versioned schema-migration runner on Spark catalog tables.

A ground-up Spark-native rebuild of the reference's public surface
(`/root/reference/clickhouse_migrate/migrate.py`, 8 functions — see
SURVEY.md §2.A/§3): scan a directory of ``V<N>__name.sql`` /
``V<N>_name.json`` migration files, md5-checksum them, diff against a
``schema_versions`` ledger table via a full-outer join with integrity
validation, and execute the pending scripts in version order,
fail-stop, recording each success in the ledger.

Spark-native deltas from the reference:

- ClickHouse server → Spark catalog (parquet-backed warehouse);
  ``clickhouse_driver.Client`` → ``SparkSession``.
- pandas metadata frames → driver-side rows: the ledger, claims and
  journal are read and appended as parquet part files on the driver
  (:func:`_read_meta_rows`, :func:`_append_meta_row`) in the directory
  each entry point resolves once (:func:`_meta`, which also creates or
  widens the table from its schema where it is first needed, in place
  of the reference's per-call ``init_db``), and the diff is a guard
  pass over those rows (full outer join + three guards + projection,
  reference `migrate.py:26-41`) — the bookkeeping starts no Spark job.
  Manifest and pending set are driver rows, and catalog facts come from
  the session catalog (:func:`_describe_table`: a classic session).
- ClickHouse async-mutation polling (``pipelined``, reference
  `migrate.py:56-71`) → nothing: Spark actions are synchronous, so the
  sequencing that ``queue_exec=True`` exists to enforce is automatic.
  The flag is kept for API fidelity and is a documented no-op; both
  flag values yield correct (identical) results.
- ``ALTER TABLE UPDATE/DELETE`` mutation DML (and an ADD COLUMN whose
  DEFAULT is an expression) → copy-on-write rewrite with an atomic
  temp-table swap (:func:`_swap_overwrite`) — the same
  write-new-then-swap pattern a 100 TB table rewrite needs (never an
  in-place overwrite of a table being scanned).  ADD COLUMN with no
  DEFAULT or a literal one changes metadata only, as in ClickHouse: a
  Spark ``ADD COLUMNS`` whose column default existing rows read and
  later INSERTs that omit the column get.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import logging
import os
import re
import threading
import uuid
import weakref
from dataclasses import asdict, dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .ddl import Statement, translate
from .functions.select_funcs import (
    _blank,
    _depths,
    _lex_spans,
    _scan_args,
    _split_top,
    _top_level,
    rewrite_functions as _rewrite_funcs,
)

_log = logging.getLogger(__name__)


def _ch_expr(s: str) -> "F.Column":
    """A scalar expression from a migration script, with ClickHouse
    function spellings (``toDate``/``multiIf``/``bitAnd``/…) translated
    to Spark built-ins first — the same vocabulary rewrite SELECTs get
    in :func:`rewrite_query`."""
    return F.expr(_rewrite_funcs(s))

LEDGER = "schema_versions"
# `__` prefix = engine-internal, hidden from show_tables like the
# cow-swap temps and detached-table names
CLAIMS = "__schema_versions_claims"
# Statement-level journal (VERDICT r9 #1): one append-only row per
# SUCCESSFULLY executed statement of an in-flight script, keyed
# (version, stmt_index, md5).  A rerun of the SAME script (same md5)
# skips journaled statements, so a crash between a script's last
# durable effect and its ledger append no longer re-executes
# non-idempotent statements.  Rows for ledgered versions are dead
# weight by construction (the diff never re-applies them) and are
# compacted automatically after each ledger append (compact_journal);
# clear_journal() additionally drops live progress as an operator step.
JOURNAL = "__stmt_journal"

# Serializes the claim-append + claim-read pair within ONE driver
# process, making the guard exact for concurrent migrate() calls in the
# same application (the only coordination a plain-parquet warehouse can
# give; see :class:`ConcurrentMigrationError` for the cross-process
# contract).
_CLAIM_LOCK = threading.Lock()

# Set by apply_migration around each script's statements: the in-flight
# (version, stmt_index, md5), the runner's owner tag and its journal
# handle.  A copy-on-write swap under a migration writes a SWAP INTENT
# ahead of its non-transactional DROP→RENAME window: it stamps a fresh
# swap id on the temp table (``clickhouse.cow_swap_id``; the RENAME
# carries it onto the live table) and appends one journal row naming
# the statement, the target and that id.  An intent with no commit row
# whose target wears its id is a swap that happened but was never
# journaled, so _reconcile_live_markers() journals it late and the
# rerun resumes AFTER the completed mutation instead of double-applying
# it (VERDICT r9 #1).  Reconciliation costs one journal read plus one
# property read per uncommitted intent, never a scan of every table;
# a stale stamp is inert once its intent is committed, so nothing is
# ever unset.  Thread-local because concurrent migrate() calls in one
# driver are supported (see _CLAIM_LOCK).
_INFLIGHT = threading.local()
_COW_SWAP_PROP = "clickhouse.cow_swap_id"
# the markers earlier builds SET on the temp and UNSET after the commit;
# only recover_cow() still reads them, so a crash under such a build
# recovers exactly once after an upgrade
_COW_VERSION_PROP = "clickhouse.cow_inflight_version"
_COW_STMT_PROP = "clickhouse.cow_inflight_stmt"
_COW_MD5_PROP = "clickhouse.cow_inflight_md5"
_COW_MARKER_PROPS = (_COW_VERSION_PROP, _COW_STMT_PROP, _COW_MD5_PROP)
# CREATE TABLE statements executed through the runner stamp the created
# table with their (version, stmt_index, md5) identity (VERDICT r11 #1):
# a crash AFTER the create but BEFORE its journal append used to
# fail-stop the rerun on TABLE_ALREADY_EXISTS.  With the stamp, the
# rerun's re-executed CREATE recognizes the existing table as ITS OWN
# earlier attempt's product (stamp matches the in-flight triple) and
# returns success, so the apply loop journals the statement late —
# the same recognize-and-journal pattern recover_cow uses for COW
# swaps.  A stamp mismatch (or no stamp) keeps the conservative
# fail-stop: the table is someone else's and re-creating over it would
# destroy data.  A metadata-only ADD COLUMN sets the same stamp on its
# table BEFORE it adds the column, so a rerun that finds the column on
# a table wearing its stamp journals it late instead of failing on
# "column already exists".
_CREATE_STAMP_PROP = "clickhouse.create_stamp"


def _inflight_stamp() -> str | None:
    """`version:stmt_index:md5` of the statement the apply loop is
    executing on THIS thread, or None outside a migration (direct
    ``execute_statement`` calls never stamp or recognize)."""
    v = getattr(_INFLIGHT, "version", None)
    i = getattr(_INFLIGHT, "stmt", None)
    md5 = getattr(_INFLIGHT, "md5", None)
    if v is None or i is None or md5 is None:
        return None
    return f"{v}:{i}:{md5}"


class ConcurrentMigrationError(RuntimeError):
    """Another runner holds the claim for a pending migration version.

    The reference delegates this race to the ClickHouse server (one
    authoritative mutation queue per table); a Spark parquet warehouse
    has no transactional commit, so the runner takes a ledger-adjacent
    claim row before executing each script and refuses when any other
    claim for that version is visible.  Within one driver process the
    check is exact (claim append + read are serialized under a lock);
    across separate driver processes it is at-most-one — two racing
    claimants can BOTH refuse, in which case a rerun applies the script.
    A runner that crashes mid-script leaves its claim behind; clear it
    with :func:`clear_claims` after confirming no runner is live (the
    same operator step as Flyway's ``repair``)."""

LEDGER_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("md5", StringType()),
        StructField("script", StringType()),
        StructField("created_at", TimestampType()),
    ]
)

CLAIMS_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("owner", StringType()),
        StructField("started_at", TimestampType()),
        StructField("released", BooleanType()),
        StructField("claim_id", StringType()),
    ]
)

JOURNAL_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("stmt_index", LongType()),
        StructField("md5", StringType()),
        StructField("owner", StringType()),
        StructField("created_at", TimestampType()),
        # set only on a swap intent (see _INFLIGHT); NULL on a commit
        # row, which is also how files from earlier builds read
        StructField("swap_id", StringType()),
        StructField("target", StringType()),
    ]
)

#: each runner metadata table's schema, the one source :func:`_meta`
#: creates and widens it from
_META_SCHEMAS = {LEDGER: LEDGER_SCHEMA, CLAIMS: CLAIMS_SCHEMA, JOURNAL: JOURNAL_SCHEMA}

MANIFEST_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("script", StringType()),
        StructField("md5", StringType()),
    ]
)


@dataclass(frozen=True)
class Migration:
    version: int
    script: str  # absolute path to the migration file
    md5: str


# ── bootstrap (reference migrate.py:18-23, 74-77) ────────────────────────────


def create_db(spark: SparkSession, db_name: str) -> None:
    if not spark.catalog.databaseExists(db_name):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db_name}`")


def init_db(spark: SparkSession, db_name: str) -> None:
    """Idempotent bootstrap of the ledger, claims and journal tables
    (reference `migrate.py:22-23`: ``version UInt32, md5 String, script
    String, created_at DateTime DEFAULT now()`` — types mapped per
    SURVEY.md §1.2; the DEFAULT is injected at insert time).  The runner
    itself needs no call: :func:`_meta` creates or widens each table
    where it is first needed."""
    for name in _META_SCHEMAS:
        _meta(spark, db_name, name)


@dataclass(frozen=True)
class _TableInfo:
    """A catalog table or view as :func:`_describe_table` reads it;
    ``path`` is None for a view or a non-file location."""

    schema: StructType
    path: str | None
    provider: str | None
    bucketed: bool
    pcols: list[str]
    props: dict[str, str]


#: session -> (its SessionCatalog, SQL parser, a Jackson mapper that
#: writes Scala values, scala.Tuple5): each ``_jvm.a.b`` segment is a
#: py4j round trip, so they are fetched once
_JVM: "weakref.WeakKeyDictionary[SparkSession, tuple]" = weakref.WeakKeyDictionary()


def _jvm_helpers(spark: SparkSession) -> tuple:
    if spark not in _JVM:
        jvm, state = spark._jvm, spark._jsparkSession.sessionState()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(getattr(scala, "MODULE$"))
        _JVM[spark] = (state.catalog(), state.sqlParser(), mapper, jvm.scala.Tuple5)
    return _JVM[spark]


def _describe_table(spark: SparkSession, qual: str) -> _TableInfo:
    """Table or view ``qual``'s ``CatalogTable``, read from the session
    catalog with no SQL statement and no result collect.  The schema
    comes as its JSON, the rest as one JSON written in the JVM (a py4j
    walk over a Java map is one round trip per entry).  A missing table
    raises ``AnalysisException``.  Needs a classic, JVM-backed session."""
    catalog, parser, mapper, tuple5 = _jvm_helpers(spark)
    t = catalog.getTempViewOrPermanentTableMetadata(parser.parseTableIdentifier(qual))
    facts = tuple5(
        t.storage().locationUri(), t.provider(), t.bucketSpec(),
        t.partitionColumnNames(), t.properties(),
    )
    location, provider, buckets, pcols, props = json.loads(mapper.writeValueAsString(facts))
    schema = StructType.fromJson(json.loads(t.schema().json()))
    # a view keeps its definition in ``view.*`` properties
    props = {k: v for k, v in props.items() if not k.startswith("view.")}
    path = _path_of_location(location)
    return _TableInfo(schema, path, provider, buckets is not None, pcols, props)


def _table_props(spark: SparkSession, qual: str) -> dict[str, str]:
    return _describe_table(spark, qual).props


def _path_of_location(loc: str | None) -> str | None:
    """Local-filesystem path of a catalog Location URI (None for absent
    locations and non-file schemes).  The Hadoop URI percent-escapes
    spaces etc.; os.rename needs the real filesystem path (round-8
    code review)."""
    from urllib.parse import unquote, urlparse

    if not loc:
        return None
    p = urlparse(loc)
    if p.scheme in ("file", ""):
        return unquote(p.path)
    return None


def _part_files(directory: str) -> list[str]:
    """Sorted names of the parquet part files in ``directory``, skipping
    the hidden (``.``/``_``-prefixed) files Spark's listing skips too."""
    return sorted(
        f
        for f in os.listdir(directory)
        if not f.startswith((".", "_")) and f.endswith(".parquet")
    )


@dataclass(eq=False)
class _MetaTable:
    """A runner metadata table (ledger, claims or journal): its quoted
    catalog name, the local directory holding its part files, and
    whether files were added or removed since Spark last listed it."""

    qual: str
    path: str
    stale: bool = False


def _refresh_stale(spark: SparkSession, *metas: _MetaTable) -> None:
    """Refresh Spark's file listing of each table in ``metas`` that the
    runner appended to or compacted, so Spark readers in this session
    see the change.  The runner reads these tables from their files, so
    each entry point does this once, when it returns, not per append."""
    for meta in metas:
        if meta.stale:
            meta.stale = False
            spark.catalog.refreshTable(meta.qual)


def _meta(spark: SparkSession, db_name: str, name: str) -> _MetaTable:
    """The handle of metadata table ``name`` of ``db_name``, from one
    catalog lookup.  This is the only place such a table is created,
    widened or located, all from its schema in :data:`_META_SCHEMAS`: a
    missing table is created (IF NOT EXISTS, so a rival's create is no
    error), and a table an older build wrote gains the fields it lacks,
    which its rows read as NULL, their old meaning.  Existence is probed
    with ``SessionCatalog.tableExists``, which raises nothing: a failed
    lookup costs PySpark's exception conversion.  Each entry point
    resolves the tables it touches once and passes the handle down.  The
    runner reads and appends these tables as local part files, so any
    other location is refused: on HDFS or an object store replace them
    with a transactional table format (README)."""
    qual = f"`{db_name}`.`{name}`"
    catalog, parser, *_ = _jvm_helpers(spark)
    if not catalog.tableExists(parser.parseTableIdentifier(qual)):
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {qual} "
            f"({_column_list(_META_SCHEMAS[name].fields)}) USING PARQUET"
        )
    info = _describe_table(spark, qual)
    if info.path is None or not os.path.isdir(info.path):
        raise ValueError(
            f"runner metadata table {qual} is not in a local directory; the "
            "runner needs a local-filesystem warehouse for its ledger, claims "
            "and journal"
        )
    have = info.schema.fieldNames()
    missing = [f for f in _META_SCHEMAS[name].fields if f.name not in have]
    if missing:
        try:
            # the ALTER refreshes Spark's cached relation itself
            spark.sql(f"ALTER TABLE {qual} ADD COLUMNS ({_column_list(missing)})")
        except AnalysisException as e:  # a rival runner widened it first
            if e.getCondition() != "COLUMN_ALREADY_EXISTS":
                raise
    return _MetaTable(qual, info.path)


def _column_list(fields: list[StructField]) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in fields)


def _append_claim_row(
    spark: SparkSession,
    claims: _MetaTable,
    version: int,
    owner: str,
    released: bool,
    claim_id: str | None = None,
) -> None:
    """Append ONE claim/tombstone row with a private-staging atomic
    rename instead of a Spark insert.

    Two drivers appending to the same parquet table path concurrently
    share the Hadoop FileOutputCommitter's ``_temporary/0`` staging
    directory — the first commit DELETES it and the rival's in-flight
    append dies with FileNotFoundException (found by the real
    two-process race test, round 8).  Writing the finished file under a
    dot-prefixed name (invisible to Spark's file listing) in the table
    directory and ``os.rename``-ing it into place races nothing: a
    reader sees the whole row file or nothing — exactly the
    durable-before-visible contract the guard needs.

    Scope of the atomicity claim: ``os.rename`` is a LOCAL-filesystem
    syscall, so the metadata tables must live in POSIX local
    directories — :func:`_meta` refuses ``hdfs://`` and object-store
    locations rather than fall back to a Spark insert, which would
    bring back the shared ``_temporary`` staging race.  On HDFS/object
    stores a transactional table format (Delta/Iceberg) is the
    production answer, per README.

    ``claim_id`` uniquely identifies one claim row; its release
    tombstone carries the SAME claim_id, and :func:`_live_claim_rows`
    matches tombstones on it — so a tombstone can never shadow a FUTURE claim
    that happens to reuse a (version, owner) pair (ADVICE r8: the old
    (version, owner) tombstone join silently degraded the at-most-one
    guard to both-proceed under owner reuse)."""
    row = {
        "version": version,
        "owner": owner,
        "started_at": datetime.datetime.now(datetime.timezone.utc),
        "released": bool(released),
        "claim_id": claim_id,
    }
    _append_meta_row(claims, CLAIMS_SCHEMA, "claim", row)


def _arrow_table(rows: list[dict], schema: StructType):
    """``rows`` as a pyarrow table of a runner metadata ``schema``;
    timestamps as UTC microseconds, which Spark reads as TIMESTAMP."""
    import pyarrow as pa

    types = {
        LongType(): pa.int64(),
        StringType(): pa.string(),
        BooleanType(): pa.bool_(),
        TimestampType(): pa.timestamp("us", tz="UTC"),
    }
    return pa.Table.from_pylist(
        rows, schema=pa.schema([(f.name, types[f.dataType]) for f in schema.fields])
    )


def _append_meta_row(meta: _MetaTable, schema: StructType, prefix: str, row: dict) -> None:
    """Append ``row`` to a runner metadata table as one part file: a
    dot-file, then an atomic rename into view (durable-before-visible;
    see :func:`_append_claim_row` for why a Spark insert can't be used
    here).  No ``refreshTable``: the runner reads these tables from
    their files, and the entry point refreshes the table for Spark
    readers once, when it returns (:func:`_refresh_stale`)."""
    import pyarrow.parquet as pq

    fname = f"part-{prefix}-{uuid.uuid4().hex}.snappy.parquet"
    tmp = os.path.join(meta.path, "." + fname)
    pq.write_table(_arrow_table([row], schema), tmp, compression="snappy")
    os.rename(tmp, os.path.join(meta.path, fname))
    meta.stale = True


def _journal_row(
    version: int,
    stmt_index: int,
    md5: str,
    owner: str,
    swap_id: str | None = None,
    target: str | None = None,
) -> dict:
    return {
        "version": version,
        "stmt_index": stmt_index,
        "md5": md5,
        "owner": owner,
        "created_at": datetime.datetime.now(datetime.timezone.utc),
        "swap_id": swap_id,
        "target": target,
    }


def _append_journal_row(
    spark: SparkSession,
    journal: _MetaTable,
    version: int,
    stmt_index: int,
    md5: str,
    owner: str,
) -> None:
    """Record statement ``stmt_index`` of script ``version`` (identified
    by its ``md5``) as durably applied: its COMMIT row.  Same
    atomic-rename channel and POSIX-local-warehouse scope as the claims
    table."""
    row = _journal_row(version, stmt_index, md5, owner)
    _append_meta_row(journal, JOURNAL_SCHEMA, "journal", row)


def _append_swap_intent(
    journal: _MetaTable,
    version: int,
    stmt_index: int,
    md5: str,
    owner: str,
    target: str,
    swap_id: str,
) -> None:
    """Record, ahead of the write it announces, that statement
    ``stmt_index`` of script ``version`` is about to write ``target``
    through an object named ``swap_id``: a COW swap's temp table
    stamped with that id (see _INFLIGHT), or a staged INSERT's stage
    table, whose quoted name is the id (:func:`_stage_of`)."""
    row = _journal_row(version, stmt_index, md5, owner, swap_id=swap_id, target=target)
    _append_meta_row(journal, JOURNAL_SCHEMA, "intent", row)


def _append_ledger_row(
    spark: SparkSession, ledger: _MetaTable, version: int, md5: str, script: str
) -> None:
    """Record script ``version`` as applied.  Same atomic-rename channel
    and POSIX-local-warehouse scope as the claims table, so a rival
    runner's ledger append never shares a ``_temporary/0`` committer
    directory with ours."""
    row = {
        "version": version,
        "md5": md5,
        "script": script,
        "created_at": datetime.datetime.now(datetime.timezone.utc),
    }
    _append_meta_row(ledger, LEDGER_SCHEMA, "ledger", row)


def _read_meta_rows(meta: _MetaTable, columns: list[str]) -> list[dict]:
    """All rows of a runner metadata table (ledger, claims, journal) as
    plain dicts holding ``columns``: a direct pyarrow scan of the
    table's part files on the driver, with no Spark job and no catalog
    call.  It TOLERATES files vanishing between the listing and the
    read — :func:`compact_journal` removes whole dead part files, and a
    rival runner's read racing a compaction must see the surviving
    rows, not die on FileNotFound (every append is one whole file, so
    every surviving row is intact).

    A column a file lacks reads as ``None``: files written before
    :func:`_meta` widened their table (claims without ``released``/
    ``claim_id``, journal rows without ``swap_id``/``target``) mean
    exactly that (live claim, legacy key, commit row).  INT96 timestamps
    (what a Spark ``INSERT INTO`` writes) come back as microsecond
    datetimes, the type a Spark frame built from these rows accepts."""
    import pyarrow.parquet as pq

    out: list[dict] = []
    for fname in _part_files(meta.path):
        try:
            with pq.ParquetFile(
                os.path.join(meta.path, fname), coerce_int96_timestamp_unit="us"
            ) as f:
                have = f.schema_arrow.names
                table = f.read(columns=[c for c in columns if c in have])
        except (FileNotFoundError, OSError):  # compacted mid-listing
            continue
        out.extend({c: r.get(c) for c in columns} for r in table.to_pylist())
    return out


def _read_journal_rows(journal: _MetaTable) -> list[dict]:
    """All journal rows as plain dicts (see :func:`_read_meta_rows`):
    commit rows, whose ``swap_id`` is None, and swap intents."""
    return _read_meta_rows(
        journal, ["version", "stmt_index", "md5", "owner", "swap_id", "target"]
    )


def _commit_rows(rows: list[dict]) -> list[dict]:
    return [r for r in rows if r["swap_id"] is None]


def _ledgered_versions(ledger: _MetaTable) -> set[int]:
    return {
        int(r["version"])
        for r in _read_meta_rows(ledger, ["version"])
        if r["version"] is not None
    }


def _journaled_stmts(
    journal: _MetaTable, version: int, md5: str, rows: list[dict] | None = None
) -> tuple[set[int], bool]:
    """(indices journaled for this exact script, whether STALE rows for
    the version exist under a DIFFERENT md5).  Stale rows mean the
    script was edited after a partial run — statement indices no longer
    correspond, so the caller discards the progress and falls back to
    the documented whole-script rerun semantics.  ``rows`` are the
    journal's rows when the caller has read them already."""
    if rows is None:
        rows = _read_journal_rows(journal)
    rows = [r for r in _commit_rows(rows) if int(r["version"]) == version]
    done = {int(r["stmt_index"]) for r in rows if r["md5"] == md5}
    stale = any(r["md5"] != md5 for r in rows)
    return done, stale


def _journal_late(
    spark: SparkSession,
    journal: _MetaTable,
    version: str,
    stmt: str,
    md5: str,
    owner: str,
) -> None:
    """Append the journal row of a COW swap whose effects are durable
    but whose own journal append was lost (a crash or a failed append
    after the swap's RENAME), unless the row is already there.  The
    arguments are the marker values an earlier build stamped on the
    swap (see :func:`recover_cow`)."""
    done, _stale = _journaled_stmts(journal, int(version), md5)
    if int(stmt) not in done:
        _append_journal_row(spark, journal, int(version), int(stmt), md5, owner)


def compact_journal(spark: SparkSession, db_name: str) -> int:
    """Drop journal rows for LEDGERED versions (VERDICT r10 #6).

    A version's journal rows are dead weight the moment its ledger row
    is durable — the diff never re-applies a ledgered version, so no
    reader will ever consult them.  Without compaction the journal
    grows one file per executed statement forever.

    The physical unit is the WHOLE part file: every append writes one
    single-row file through the atomic-rename channel, so deleting a
    file whose rows are all ledgered can never clip a rival runner's
    live progress rows (they live in other files, for un-ledgered
    versions by definition).  Readers go through
    :func:`_read_journal_rows`, which tolerates a file vanishing
    between its listing and its read — a concurrent compaction is
    invisible to them.  The runner runs the same compaction after each
    ledger append, with the handles it already holds; this is the
    operator step, safe any time.  Returns the number of rows removed."""
    journal = _meta(spark, db_name, JOURNAL)
    try:
        return _compact_journal(journal, _meta(spark, db_name, LEDGER))
    finally:
        _refresh_stale(spark, journal)


def _compact_journal(journal: _MetaTable, ledger: _MetaTable) -> int:
    """:func:`compact_journal` over resolved handles; marks the journal
    stale when it removed a file."""
    import pyarrow.parquet as pq

    ledgered = _ledgered_versions(ledger)
    removed = 0
    for fname in _part_files(journal.path):
        path = os.path.join(journal.path, fname)
        try:
            t = pq.read_table(path, columns=["version"])
        except (FileNotFoundError, OSError):  # a rival compacted it
            continue
        versions = {int(v) for v in t.column("version").to_pylist()}
        if versions and versions <= ledgered:
            try:
                os.remove(path)
                removed += len(t)
            except FileNotFoundError:  # pragma: no cover - rival won
                pass
    if removed:
        journal.stale = True
    return removed


# ── exactly-once staged INSERT (VERDICT r10 #1) ──────────────────────────────
#
# A journaled COW mutation is exactly-once (its swap intent lets the
# next run write the journal row late), but a plain INSERT used to
# retain an at-least-once window: effects durable, crash before the
# journal append → rerun re-executes it.  The staged-append path closes
# it by making the journal row the single COMMIT POINT for the insert's
# data too: the INSERT executes against a hidden stage table, the
# journal row is appended (atomic rename), and only then are the staged
# part files renamed into the target's directory.  Before the stage is
# created, a STAGE INTENT naming it and its target is journaled (the
# swap-intent row shape, the stage's quoted name as its id), so the
# rerun finds leftover stages in the journal rows it reads anyway —
# O(interrupted stages), never a listing of the database's tables.
# Every crash window reconciles deterministically on rerun:
#   - before the journal append → the stage is garbage; drop it and
#     re-execute (the target never saw the first attempt's rows);
#   - after the append → the statement is committed; finish the renames
#     (idempotent: deterministic target names, each file either still
#     staged or already in place) and skip the statement.
# Cost at scale: the insert's bytes are written ONCE (into the stage,
# which lives on the same filesystem as the target); publish is
# O(#files) metadata renames — no second data pass.
_STAGE_PREFIX = "__stage_stmt_"
_STAGE_TARGET_PROP = "clickhouse.stage_target"
_INSERT_TARGET_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?:TABLE\s+)?(?P<t>[\w.`$]+)", re.I
)


def _local_parquet_location(info: _TableInfo) -> str | None:
    """Local-filesystem path of an UNBUCKETED PARQUET catalog table,
    given its :func:`_describe_table`, or None (view, non-parquet
    provider, HDFS or object-store scheme — the
    staged-append path publishes by ``os.rename``, so it applies only to
    local directories; other targets execute direct).

    Partitioned targets are ELIGIBLE (round 12): the stage clone
    mirrors the target's partitioning and :func:`_publish_stage`
    renames files partition-by-partition, registering each touched
    partition in the catalog (``Partition Provider: Catalog`` listing
    never reads unregistered directories — the ADVICE r11 flat-rename
    bug).  Bucketed targets still return None: Spark encodes the bucket
    id in the data FILE NAME, so a renamed staged file would silently
    violate the bucket layout that bucket-pruned reads and shuffle-free
    joins rely on — those targets take the direct-execution fallback
    (at-least-once on crash-before-journal, see README scope note)."""
    if (info.provider or "").lower() != "parquet" or info.bucketed:
        return None
    return info.path


#: Spark/Hive's directory name for a NULL partition value
_NULL_PARTITION_DIR = "__HIVE_DEFAULT_PARTITION__"


def _unescape_partition_value(v: str) -> str:
    """Invert the %XX escaping Spark applies to partition values in
    directory names (``a b:c`` is written as ``a b%3Ac``; ``%`` itself
    as ``%25``, so the decode is unambiguous).  Hive's escapePathName
    emits ASCII-only %XX sequences, so urllib's unquote — which leaves
    invalid sequences like ``x%zz`` intact — decodes them exactly
    (r12 self-review #5: same semantics, no bespoke decoder)."""
    from urllib.parse import unquote

    return unquote(v, errors="strict")


def _sql_str_lit(spark: SparkSession, value: str) -> str:
    """Render ``value`` as a Spark SQL single-quoted string literal.
    Quotes double via :func:`_sq`; backslashes must ALSO double unless
    ``spark.sql.parser.escapedStringLiterals`` is on, because Spark's
    default parser treats ``\\`` as an escape character — without this
    an ADD PARTITION spec for value ``a\\b`` would register partition
    value ``a<backspace>`` while the files sat in ``d=a%5Cb``,
    unregistered and invisible (r12 self-review #2)."""
    v = value
    if spark.conf.get("spark.sql.parser.escapedStringLiterals", "false") != "true":
        v = v.replace("\\", "\\\\")
    return "'" + _sq(v) + "'"


def _stage_of(row: dict) -> str | None:
    """The quoted stage table a journal row's stage intent names, or
    None for a commit row or a swap intent (whose id is a bare hex)."""
    sid = row["swap_id"]
    return sid if sid is not None and _STAGE_PREFIX in sid else None


def _maybe_stage_insert(
    spark: SparkSession,
    db_name: str,
    journal: _MetaTable,
    sql: str,
    version: int,
    stmt_index: int,
    md5: str,
    owner: str,
) -> tuple[str, str, str] | None:
    """Execute an INSERT statement against a hidden stage table instead
    of its target; returns (stage_qual, target_qual, target path) for
    :func:`_publish_stage`, or None when the statement is not an INSERT
    into a local-filesystem parquet table (the caller falls back to
    direct execution).

    One catalog lookup resolves the target.  A stage intent naming the
    stage and the target is journaled before the stage exists, so a rerun
    finds any stage this call leaves behind (:func:`_reconcile_staged`).
    The stage is an empty ``CREATE TABLE … LIKE`` clone of the target —
    same schema and column defaults, with partition
    columns last as Spark normalizes them, and same partitioning, but
    none of its properties — so Spark's insert analysis
    (positional/by-name resolution, coercions, column lists) matches a
    direct execution exactly, and creating it starts no Spark job.  Its
    name carries this run's fresh owner tag, so no earlier table can
    hold it.  The original statement text is rewritten only at the
    target-name span and flows through the same :func:`execute_statement`
    translation.  A failure (not crash) drops the stage and re-raises —
    fail-stop semantics unchanged."""
    m = _INSERT_TARGET_RE.match(_blank(sql))
    if m is None or m.group("t").lower() == "function":
        return None
    try:
        target_qual = _qualify(spark, m.group("t").replace("`", ""))
        info = _describe_table(spark, target_qual)
    except Exception:
        # unresolvable target: let direct execution raise the user error
        return None
    dst = _local_parquet_location(info)
    if dst is None:
        return None
    stage_qual = f"`{db_name}`.`{_STAGE_PREFIX}{owner}_{version}_{stmt_index}`"
    _append_swap_intent(journal, version, stmt_index, md5, owner, target_qual, stage_qual)
    spark.sql(
        f"CREATE TABLE {stage_qual} LIKE {target_qual} USING PARQUET "
        f"TBLPROPERTIES ('{_STAGE_TARGET_PROP}' = '{_sq(target_qual)}')"
    )
    _crash_point("stage_created")
    try:
        staged_sql = sql[: m.start("t")] + stage_qual + sql[m.end("t") :]
        execute_statement(spark, staged_sql)
    except BaseException:
        spark.sql(f"DROP TABLE IF EXISTS {stage_qual}")
        raise
    return stage_qual, target_qual, dst


def _stage_partition_dirs(src: str, pcols: list[str]) -> list[tuple[str, ...]]:
    """Relative ``col=value`` path tuples of every partition directory
    under ``src``, one level per partition column (sorted, for
    deterministic publish order).  A directory counts as a partition
    segment iff its ``col`` part matches THAT level's expected column
    name — not a shape heuristic: an earlier blanket skip of
    '.'/'_'-prefixed names silently dropped every partition of a
    column itself named with a leading underscore (legal in Spark,
    e.g. ``_c0``), losing the insert's rows after its journal row had
    committed (r12 self-review #1).  Non-matching entries
    (``_SUCCESS``/``_temporary``/dot-files have no matching ``col=``)
    are skipped."""
    out: list[tuple[str, ...]] = []

    def walk(cur: str, rel: tuple[str, ...]) -> None:
        if len(rel) == len(pcols):
            out.append(rel)
            return
        expected = pcols[len(rel)].lower()
        for name in sorted(os.listdir(cur)):
            if "=" not in name:
                continue
            col = _unescape_partition_value(name.split("=", 1)[0]).lower()
            full = os.path.join(cur, name)
            if col == expected and os.path.isdir(full):
                walk(full, rel + (name,))

    walk(src, ())
    return out


def _publish_stage(
    spark: SparkSession, stage_qual: str, target_qual: str, dst: str | None = None
) -> None:
    """Make a journal-committed stage's rows visible: rename each data
    file into the target's directory under a deterministic name derived
    from the stage identity + source file name, so an interrupted
    publish finishes idempotently on rerun (each file is either still
    staged or already in place — never both, never duplicated).  The
    stage table is dropped once empty.

    Partitioned targets (round 12): files move partition-by-partition
    into the target's ``col=value`` layout, and each touched partition
    is registered FIRST via ``ADD IF NOT EXISTS PARTITION`` — catalog-
    managed partition listing never reads unregistered directories, so
    registration is what makes the rows visible; doing it before the
    renames keeps every crash window reconcilable from the surviving
    stage directories (the rerun re-walks them and repeats both steps
    idempotently).  A NULL partition value (``__HIVE_DEFAULT_PARTITION__``
    directory) can't be spelled in an ADD PARTITION spec; those rare
    partitions are registered by one ``MSCK REPAIR TABLE`` after the
    renames — a full-listing metadata op, priced and documented in
    SCALE.md, on the null-partition path only.  Cost stays O(#touched
    partitions) metadata calls + O(#files) renames; the data bytes are
    never rewritten.

    ``dst`` is the target's path as :func:`_maybe_stage_insert` resolved
    it; the recovery call from :func:`_reconcile_staged` leaves it None
    and the target is resolved by name.  The stage's own lookup gives
    its location and its partition columns, which the ``LIKE`` clone
    took from the target."""
    sinfo = _describe_table(spark, stage_qual)
    src = sinfo.path
    if dst is None:
        dst = _describe_table(spark, target_qual).path
    token = stage_qual.rsplit(".", 1)[1].strip("`")[len(_STAGE_PREFIX) :]
    if src is not None and dst is not None and os.path.isdir(src):
        pcols = sinfo.pcols
        rels = _stage_partition_dirs(src, pcols)
        # register EVERY touched partition in ONE batched ALTER before
        # any rename (crash windows stay reconcilable from the surviving
        # stage dirs; one metastore round trip instead of one per
        # partition — at sf1 the per-partition form was 83 calls and
        # ~2× the publish cost, SCALE.md Round 12)
        specs = []
        needs_msck = False
        for rel in rels:
            values = [seg.split("=", 1)[1] for seg in rel]
            if _NULL_PARTITION_DIR in values:
                needs_msck = True  # unspellable in a spec; MSCK below
            elif pcols:
                specs.append(
                    "PARTITION ("
                    + ", ".join(
                        f"`{c}` = {_sql_str_lit(spark, _unescape_partition_value(v))}"
                        for c, v in zip(pcols, values)
                    )
                    + ")"
                )
        # chunked: an insert touching tens of thousands of partitions
        # (realistic for a wide backfill at 100 TB) must not build one
        # unbounded SQL string; 500 specs ≈ 20 KB per statement
        for lo in range(0, len(specs), 500):
            spark.sql(
                f"ALTER TABLE {target_qual} ADD IF NOT EXISTS "
                + " ".join(specs[lo : lo + 500])
            )
        for rel in rels:
            src_dir, dst_dir = os.path.join(src, *rel), os.path.join(dst, *rel)
            os.makedirs(dst_dir, exist_ok=True)
            for fname in _part_files(src_dir):
                # 'part-stmt-' prefix: visible to Spark's file listing
                # (a '_'-prefixed name would be treated as hidden)
                os.rename(
                    os.path.join(src_dir, fname),
                    os.path.join(dst_dir, f"part-stmt-{token}-{fname}"),
                )
                _crash_point("mid_publish")
        if needs_msck:
            spark.sql(f"MSCK REPAIR TABLE {target_qual}")
    spark.sql(f"DROP TABLE IF EXISTS {stage_qual}")
    spark.catalog.refreshTable(target_qual)


def _reconcile_staged(
    spark: SparkSession, rows: list[dict], version: int, md5: str
) -> None:
    """Finish or garbage-collect insert stages left behind by a crashed
    or failed earlier run of ``version`` (called before the statement
    loop), found from their stage intents among the journal ``rows``
    the apply has read: no catalog listing, and nothing at all to do on
    a clean run.  A stage whose statement has a commit row from the
    stage's own runner for the CURRENT script body is committed →
    publish it (if an earlier rerun has not already) so statements the
    rerun skips are fully visible to the ones it re-executes.  Every
    other stage for the version (no commit row: crashed pre-commit;
    different md5: script edited; different owner: superseded attempt)
    is garbage → drop it, so the re-executed statement starts clean."""
    mine = [r for r in rows if int(r["version"]) == version]
    commits = {(r["stmt_index"], r["md5"], r["owner"]) for r in _commit_rows(mine)}
    for r in mine:
        stage = _stage_of(r)
        if stage is None:
            continue
        if r["md5"] == md5 and (r["stmt_index"], md5, r["owner"]) in commits:
            if spark.catalog.tableExists(stage):
                _publish_stage(spark, stage, r["target"])
        else:
            spark.sql(f"DROP TABLE IF EXISTS {stage}")


def clear_journal(spark: SparkSession, db_name: str) -> int:
    """Operator maintenance: drop ALL statement-journal rows (rows for
    ledgered versions are dead weight; rows for a failed version force
    the rerun to RESUME — clear them to force a full re-execution
    instead).  Single-operator step like :func:`clear_claims`.  Returns
    the number of statement (commit) rows cleared; swap intents go too."""
    journal = _meta(spark, db_name, JOURNAL)
    rows = _read_journal_rows(journal)
    if rows:
        _swap_overwrite(spark, f"{db_name}.{JOURNAL}", spark.table(journal.qual).limit(0))
    return len(_commit_rows(rows))


def _live_claim_rows(rows: list[dict]) -> list[dict]:
    """Claim rows minus release tombstones.  Releases are APPEND-ONLY
    rows (``released = true`` carrying the released claim's
    ``claim_id``) rather than a table rewrite: the old
    ``_swap_overwrite``-based release had a DROP/RENAME window in which
    a rival's freshly-appended claim was silently destroyed and a
    rival's read could hit FileNotFound (ADVICE r7).  Appends never
    destroy rival rows.

    The tombstone key is the per-row ``claim_id`` (ADVICE r8): a
    (version, owner)-keyed match would permanently shadow any future
    claim reusing a tombstoned pair, silently degrading the at-most-one
    guard to both-proceed.  Legacy rows written before the claim_id
    column (claim_id NULL) fall back to their ``version#owner``
    composite — exactly the old semantics for exactly the old rows."""

    def key(r: dict) -> str:
        if r["claim_id"] is not None:
            return r["claim_id"]
        return "#".join(str(x) for x in (r["version"], r["owner"]) if x is not None)

    tombs = {key(r) for r in rows if r["released"]}
    return [r for r in rows if not r["released"] and key(r) not in tombs]


def _live_claims(spark: SparkSession, claims: _MetaTable) -> DataFrame:
    """The live claims (:func:`_live_claim_rows`) as a local frame."""
    rows = _read_meta_rows(claims, CLAIMS_SCHEMA.fieldNames())
    return _local_frame(spark, _live_claim_rows(rows), CLAIMS_SCHEMA)


def clear_claims(spark: SparkSession, db_name: str) -> int:
    """Operator recovery: drop ALL claim rows (see
    :class:`ConcurrentMigrationError` — a runner that crashed mid-script
    leaves its claim behind and blocks reruns of that version).  Also
    compacts accumulated release tombstones.  Returns the number of
    LIVE claims cleared.  Single-operator step by contract (like
    Flyway's ``repair``): run it only when no runner is live, so the
    compaction rewrite races nothing."""
    claims = _meta(spark, db_name, CLAIMS)
    rows = _read_meta_rows(claims, CLAIMS_SCHEMA.fieldNames())
    if rows:
        _swap_overwrite(spark, f"{db_name}.{CLAIMS}", spark.table(claims.qual).limit(0))
    return len(_live_claim_rows(rows))


# ── manifest scan (reference migrate.py:84-86) ───────────────────────────────


def scan_migrations(migrations_home: str) -> list[Migration]:
    """Directory scan → (version, path, md5-of-bytes) manifest.

    Filename grammar (reference `migrate.py:84`): version =
    ``int(name.split('_')[0].replace('V',''))`` — accepts both
    ``V1__x.sql`` and ``V1_x.json``.  Duplicate versions are rejected
    explicitly (the reference leaves them unvalidated and its outer
    merge would silently fan out — SURVEY.md §4 hazard)."""
    out: list[Migration] = []
    for e in os.scandir(migrations_home):
        if not e.is_file() or not e.name.endswith((".sql", ".json")):
            continue
        version = int(e.name.split("_")[0].replace("V", ""))
        with open(e.path, "rb") as f:
            digest = hashlib.md5(f.read()).hexdigest()
        out.append(Migration(version=version, script=e.path, md5=digest))
    seen: dict[int, str] = {}
    for m in out:
        if m.version in seen:
            raise AssertionError(
                f"Duplicate migration version {m.version}: {seen[m.version]} vs {m.script}"
            )
        seen[m.version] = m.script
    return sorted(out, key=lambda m: m.version)


def _local_frame(spark: SparkSession, rows: list[dict], schema: StructType) -> DataFrame:
    """A frame over driver-side rows, built from a pyarrow table: a
    ``LocalRelation`` whose ``collect()`` starts no Spark job (a frame
    built from a Python list costs one job per action)."""
    return spark.createDataFrame(_arrow_table(rows, schema))


def manifest_df(spark: SparkSession, migrations: list[Migration]) -> DataFrame:
    return _local_frame(spark, [asdict(m) for m in migrations], MANIFEST_SCHEMA)


# ── the diff planner (reference migrate.py:26-41) ────────────────────────────


def _pending(ledger: _MetaTable, incoming: list[Migration]) -> list[Migration]:
    """Driver-side guard pass: the ``ledger``'s rows vs the incoming
    manifest on ``version``.

    Mirrors reference `migrate.py:26-41`, which does the same on a few
    pandas rows: full-outer join, then three validations
    (missing-count guard, deleted-migration guard, edited-migration
    guard), then the pending set = the incoming rows no ledger row
    matches.  The join is row-for-row, so a duplicated ledger row counts
    twice in the missing-count guard, as it did in a Spark join."""
    rows = _read_meta_rows(ledger, ["version", "script", "md5"])
    if not rows:
        return incoming
    if not incoming or len(incoming) < len(rows):
        raise AssertionError(
            "Migrations have gone missing: "
            f"ledger has {len(rows)}, incoming has {len(incoming)}"
        )
    # the full outer join on version: (ledger row | None, incoming row |
    # None, ledger md5, incoming md5); a NULL version matches nothing
    by_version: dict[int, list[Migration]] = {}
    for i in incoming:
        if i.version is not None:
            by_version.setdefault(i.version, []).append(i)
    pairs = []
    for c in rows:
        pairs += [(c, i) for i in by_version.get(c["version"], [])] or [(c, None)]
    ledgered = {c["version"] for c in rows}
    pairs += [(None, i) for i in incoming if i.version is None or i.version not in ledgered]
    joined = [(c, i, c["md5"] if c else None, i.md5 if i else None) for c, i in pairs]

    missing = [c["script"] for c, _, cm, im in joined if cm is not None and im is None]
    if missing:
        raise AssertionError(f"Migrations deleted from codebase but already run: {missing}")
    bad = [i.script for _, i, cm, im in joined if None not in (cm, im) and cm != im]
    if bad:
        raise AssertionError(f"Do not edit migrations once run: {bad}")
    return [
        Migration(c["version"] if c else i.version, i.script if i else None, im)
        for c, i, cm, im in joined
        if cm is None
    ]


def _migrations(df: DataFrame) -> list[Migration]:
    return [
        Migration(None if r.version is None else int(r.version), r.script, r.md5)
        for r in df.collect()
    ]


def migrations_to_apply(
    spark: SparkSession, db_name: str, incoming: DataFrame
) -> DataFrame:
    """The pending set of the manifest frame ``incoming`` against the
    ledger (:func:`_pending`), as a local frame with the manifest's
    columns — the frame form of the diff :func:`migrate` runs on driver
    rows."""
    pending = _pending(_meta(spark, db_name, LEDGER), _migrations(incoming))
    return _local_frame(spark, [asdict(m) for m in pending], MANIFEST_SCHEMA)


# ── copy-on-write DML execution (SURVEY.md §2.C C2-C3) ───────────────────────


def _qualify(spark: SparkSession, table: str) -> str:
    if "." in table:
        db, t = table.split(".", 1)
    else:
        db, t = spark.catalog.currentDatabase(), table
    return f"`{db}`.`{t}`"


def _search_unquoted(pattern: "re.Pattern[str]", query: str, pos: int = 0):
    """First match of ``pattern`` that does not START inside a string
    literal or backticked identifier.  Every clause-level rewrite must
    use this (or :func:`_sub_unquoted`): a keyword inside a literal —
    ``SELECT 'use SETTINGS a=1'`` — is data, not a clause (round-7
    review class: the PREWHERE scan had this bug; a probe battery found
    the same hole in every other clause regex)."""
    depths = _depths(query)
    for m in pattern.finditer(query, pos):
        if depths[m.start()] >= 0:
            return m
    return None


def _sub_unquoted(pattern: "re.Pattern[str]", repl, query: str) -> str:
    """``pattern.sub`` that skips matches starting inside string
    literals / backticked identifiers (see :func:`_search_unquoted`)."""
    depths = _depths(query)
    out: list[str] = []
    last = 0
    for m in pattern.finditer(query):
        if depths[m.start()] < 0:
            continue
        out.append(query[last : m.start()])
        out.append(repl(m) if callable(repl) else m.expand(repl))
        last = m.end()
    out.append(query[last:])
    return "".join(out)


def _sq(value: str) -> str:
    """Escape a value for interpolation into a single-quoted Spark SQL
    literal (TBLPROPERTIES).  ORDER BY / SAMPLE BY / TTL expressions may
    legally contain string literals (``ORDER BY (if(k = 'x', 0, 1))``);
    an unescaped quote would break the generated ALTER TABLE (ADVICE r6)."""
    return value.replace("'", "''")


_BARE_IDENT_RE = re.compile(r"(?<![\w.`'])[A-Za-z_]\w*")
_EXPR_KEYWORDS = frozenset(
    """and or not in like ilike rlike regexp between is null true false case
    when then else end as cast try_cast distinct interval div mod xor exists
    all any escape year years quarter quarters month months week weeks day
    days hour hours minute minutes second seconds millisecond milliseconds
    microsecond microseconds nanosecond nanoseconds date timestamp array map
    struct current_date current_timestamp asc desc nulls first last
    select from where group by order join inner left right full cross
    semi anti on using having limit union except intersect""".split()
)


def _check_read_identifiers(columns: list[str], expr: str, what: str) -> None:
    """Reject case-only identifier mismatches in a read-side expression
    (WHERE predicate / assignment RHS of ALTER UPDATE/DELETE).

    ClickHouse resolves column names CASE-SENSITIVELY and errors on
    ``WHERE V > 0`` when the column is ``v``; Spark's default analyzer
    (spark.sql.caseSensitive=false) silently resolves it, diverging
    from the reference engine (ADVICE r9 — round 8 fixed only the
    assignment TARGETS).  Heuristic tokenizer: string literals are
    data, a word followed by ``(`` is a function, SQL keywords and the
    word after AS (cast target types) are skipped; only a bare or
    backquoted word that matches a real column case-insensitively but
    not exactly raises.  Unknown words that match NO column are left to
    Spark's analyzer (the tokenizer cannot prove they are identifiers).

    Expressions containing a SUBQUERY are left entirely to the analyzer
    (ADVICE r10): ``WHERE k IN (SELECT K FROM other)`` legitimately
    references ANOTHER relation's columns, and validating its words
    against the target table's columns rejected valid migrations when
    a foreign identifier case-insensitively collided with a target
    column.  The heuristic only knows one table's schema, so any
    SELECT in the (literal-stripped) expression disables it."""
    exact = set(columns)
    lower: dict[str, str] = {}
    for c in columns:
        lower.setdefault(c.lower(), c)

    def _reject(word: str) -> None:
        near = lower.get(word.lower())
        if near is not None and word not in exact:
            raise ValueError(
                f"{what} references unknown column {word!r}; did you mean "
                f"{near!r}? (ClickHouse identifiers are case-sensitive)"
            )

    s = _blank(expr, ("literal", "ident", "comment", "hint", "open"))
    if re.search(r"\bSELECT\b", s, re.I):
        return  # subquery: identifiers may belong to other relations
    for b, e, kind in _lex_spans(expr):
        if kind == "ident":  # backquoted = explicit identifier
            _reject(expr[b + 1 : e - 1])
    prev = ""
    for m in _BARE_IDENT_RE.finditer(s):
        w = m.group(0)
        is_func = s[m.end() :].lstrip().startswith("(")
        if (
            not is_func
            and w.lower() not in _EXPR_KEYWORDS
            and prev.lower() != "as"
        ):
            _reject(w)
        prev = w


def _check_exact_column(columns: list[str], col: str, what: str) -> None:
    """Require an EXACT column-name match for a column-DDL target
    (r11 case fuzz).  ClickHouse resolves identifiers case-sensitively
    and errors on unknown columns; Spark's case-insensitive analyzer
    silently resolved a case-mismatched DROP/MODIFY/RENAME/CLEAR target
    (and `df.drop` silently no-ops on a missing one) — both quiet
    semantic divergences from the reference engine."""
    if col in columns:
        return
    lower = {c.lower(): c for c in columns}
    near = lower.get(col.lower())
    hint = (
        f"; did you mean {near!r}? (ClickHouse identifiers are case-sensitive)"
        if near is not None
        else ""
    )
    raise ValueError(f"{what} references unknown column {col!r} (table has {columns}{hint})")


def _crash_point(stage: str) -> None:
    """Test seam: the crash-injection tests monkeypatch this to abort
    :func:`_swap_overwrite` between its non-transactional statements
    (VERDICT r7 #1) and then assert :func:`recover_cow` converges.
    Production: no-op."""
    return None


def _swap_overwrite(spark: SparkSession, table: str, df: DataFrame) -> None:
    """Write ``df`` as a new physical table, then swap catalog names.

    Spark cannot overwrite a table it is currently reading; the
    write-to-new-location + catalog-rename swap is also the only
    pattern that scales (single full write, no driver materialization,
    old data dropped only after the new table is durable).

    The recorded ``clickhouse.*`` layout/engine properties are carried
    over — every mutation path flows through here, and OPTIMIZE's
    dedupe/compaction decisions depend on them surviving.  The TEMP
    table is created with its props in the statement that writes it, so
    it never stands without them, and a crash in the DROP→RENAME window
    loses nothing: the complete new table (data + properties) sits under
    ``__cow_<t>`` and :func:`recover_cow` finishes the rename.  A crash
    anywhere earlier leaves the user-visible table untouched and
    :func:`recover_cow` rolls the orphan back.

    Under :func:`apply_migration` the temp is also created wearing a
    fresh swap id, and a swap intent naming the statement, the
    table and that id is journaled before the DROP (see _INFLIGHT): if
    the run dies after the RENAME but before the statement's commit row,
    the next run finds the id on the live table and journals the
    statement late instead of re-executing it."""
    qual = _qualify(spark, table)
    db, t = qual.split(".", 1)
    props = {
        k: v
        for k, v in _table_props(spark, qual).items()
        # a swap stamp (or an earlier build's leaked marker) belongs to
        # the swap that wrote it and must never ride onto a later one
        if k.startswith("clickhouse.") and k not in (_COW_SWAP_PROP, *_COW_MARKER_PROPS)
    }
    tmp = f"{db}.`__cow_{t.strip('`')}`"
    journal = getattr(_INFLIGHT, "journal", None)
    swap_id = None if journal is None else uuid.uuid4().hex
    if swap_id is not None:
        props[_COW_SWAP_PROP] = swap_id
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    writer = df.writeTo(tmp).using("parquet")
    for k, v in props.items():
        writer = writer.tableProperty(k, v)
    writer.create()
    if swap_id is not None:
        i = _INFLIGHT
        _append_swap_intent(journal, i.version, i.stmt, i.md5, i.owner, qual, swap_id)
    _crash_point("before_drop")
    spark.sql(f"DROP TABLE {qual}")
    _crash_point("after_drop")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {qual}")


def recover_cow(spark: SparkSession, db_name: str) -> dict[str, str]:
    """Crash recovery for the copy-on-write swap (VERDICT r7 #1).

    :func:`_swap_overwrite` runs ``DROP TABLE <t>`` then ``ALTER TABLE
    __cow_<t> RENAME TO <t>`` as two non-transactional statements — a
    plain-parquet warehouse has no multi-statement transaction (the
    reference delegates this atomicity to the ClickHouse server).  A
    driver crash can therefore strand a ``__cow_<t>`` temp table.  For
    each one found:

    - target ``<t>`` ABSENT from the catalog → the crash hit the
      DROP→RENAME window; the temp table is the complete post-mutation
      table (data + carried properties) → COMPLETE the rename.  When the
      crashed swap ran under :func:`apply_migration`, the temp carries
      its swap id, the swap intent names the statement, and recovery
      journals it (below), so the action is ``"completed:V<n>"`` and the
      mandatory rerun resumes AFTER the completed mutation.  A temp with
      no way back to its statement (a direct ``execute_statement``, or a
      pre-journal build's version-only marker) is disclosed instead:
      ``"completed"``, or ``"completed:V<n>"`` with a printed warning
      that the rerun re-executes V<n> — verify it is idempotent or
      record it applied by hand (insert its ledger row).
    - target PRESENT → the swap never reached its DROP (the temp may
      even be a partial write); the user-visible table is intact →
      ROLL BACK by dropping the orphan.

    Then every swap intent with no commit row whose table wears its
    swap id is journaled late (:func:`_reconcile_live_markers`; a crash
    between the RENAME and the commit), reported ``"journaled:V<n>"``.

    **Upgrade path.**  Builds before swap intents stamped three
    ``clickhouse.cow_inflight_*`` markers instead, and :func:`migrate`
    no longer reads them.  Recovery still does, on temps and on every
    live table — O(tables), like the rest of this operator step — so a
    run interrupted under such a build recovers exactly once: the
    markers' statement is journaled late and the markers are unset.
    Likewise builds before stage intents left insert stages that only a
    listing finds: recovery publishes each one whose statement its own
    runner committed and drops the rest.

    Run it like :func:`clear_claims`, as a single-operator recovery
    step with no live runners.  Returns {target_table: "completed" |
    "completed:V<n>" | "rolled_back" | "journaled:V<n>"}."""
    journal = _meta(spark, db_name, JOURNAL)
    try:
        return _recover_cow(spark, db_name, journal)
    finally:
        _refresh_stale(spark, journal)


def _recover_cow(spark: SparkSession, db_name: str, journal: _MetaTable) -> dict[str, str]:
    """:func:`recover_cow` over the resolved journal handle."""
    actions: dict[str, str] = {}
    tables = {
        r["tableName"]
        for r in spark.sql(f"SHOW TABLES IN `{db_name}`").collect()
        if not r["isTemporary"]
    }
    for orphan in sorted(t for t in tables if t.startswith("__cow_")):
        target = orphan[len("__cow_") :]
        if target in tables:
            spark.sql(f"DROP TABLE `{db_name}`.`{orphan}`")
            actions[target] = "rolled_back"
            continue
        qual = f"`{db_name}`.`{target}`"
        props = _table_props(spark, f"`{db_name}`.`{orphan}`")
        spark.sql(f"ALTER TABLE `{db_name}`.`{orphan}` RENAME TO {qual}")
        swap_id = props.get(_COW_SWAP_PROP)
        if swap_id is not None:
            intent = next(
                (r for r in _read_journal_rows(journal) if r["swap_id"] == swap_id), None
            )
            actions[target] = "completed" if intent is None else f"completed:V{intent['version']}"
        elif _COW_VERSION_PROP in props:
            actions[target] = f"completed:V{props[_COW_VERSION_PROP]}"
            _retire_markers(spark, journal, qual, props)
        else:
            actions[target] = "completed"
    # a pre-intent build's markers on a live table: a crash between its
    # RENAME and its journal append
    for name in sorted(tables - set(actions)):
        if name.startswith("__cow_"):
            continue
        qual = f"`{db_name}`.`{name}`"
        props = _table_props(spark, qual)
        if _COW_VERSION_PROP in props:
            journaled = _retire_markers(spark, journal, qual, props)
            kind = "journaled" if journaled else "completed"
            actions[name] = f"{kind}:V{props[_COW_VERSION_PROP]}"
    # a pre-intent build's insert stage, which no stage intent names:
    # publish it when its own runner committed its statement, else drop
    rows = _read_journal_rows(journal)
    intents = {_stage_of(r) for r in rows}
    commits = {(r["version"], r["stmt_index"], r["owner"]) for r in _commit_rows(rows)}
    for name in sorted(t for t in tables if t.startswith(_STAGE_PREFIX)):
        qual = f"`{db_name}`.`{name}`"
        if qual in intents:
            continue  # the rerun reconciles it from its intent
        try:
            owner, v, i = name[len(_STAGE_PREFIX) :].rsplit("_", 2)
            key = (int(v), int(i), owner)
        except ValueError:  # pragma: no cover - foreign table name
            continue
        target = _table_props(spark, qual).get(_STAGE_TARGET_PROP)
        if target is not None and key in commits:
            _publish_stage(spark, qual, target)
        else:
            spark.sql(f"DROP TABLE {qual}")
    for name, version in _reconcile_live_markers(spark, journal).items():
        actions.setdefault(name, f"journaled:V{version}")
    return actions


def _retire_markers(
    spark: SparkSession, journal: _MetaTable, qual: str, props: dict[str, str]
) -> bool:
    """Journal late the statement a pre-intent build's markers in
    ``props`` name, then unset the markers on ``qual``.  Returns whether
    the markers named a statement: a pre-journal build stamped only the
    version, and then the rerun re-executes that version."""
    version = props[_COW_VERSION_PROP]
    stmt, md5 = props.get(_COW_STMT_PROP), props.get(_COW_MD5_PROP)
    journaled = stmt is not None and md5 is not None
    if journaled:
        _journal_late(spark, journal, version, stmt, md5, "recover_cow")
        _log.info(
            "recover_cow: journaled statement %s of migration V%s from the "
            "markers on %s — the rerun resumes AFTER it (exactly-once)",
            stmt, version, qual,
        )
    else:
        _log.warning(
            "recover_cow: the effects of migration V%s on %s are ALREADY "
            "PRESENT but unrecorded (pre-journal temp); the rerun will "
            "re-execute V%s, so verify it is idempotent or record it "
            "applied manually",
            version, qual, version,
        )
    keys = ", ".join(f"'{k}'" for k in _COW_MARKER_PROPS if k in props)
    spark.sql(f"ALTER TABLE {qual} UNSET TBLPROPERTIES ({keys})")
    return journaled


def _reconcile_live_markers(spark: SparkSession, journal: _MetaTable) -> dict[str, str]:
    """Journal late every COW swap that happened but was never committed.

    A swap leaves an uncommitted intent behind when the run died between
    its RENAME and the statement's journal append — by a crash
    (:func:`recover_cow`'s case) or by a plain EXCEPTION in the append
    itself, which releases the claim and raises without any crash for
    the operator to notice (ADVICE r10).  :func:`apply_migration`
    therefore runs this reconciliation before it claims anything, so the
    plain rerun — not just the recover_cow path — is exactly-once.

    Cost: one read of the journal's files, plus one property read per
    swap intent that has no commit row for its (version, stmt_index,
    md5); stage intents are :func:`_reconcile_staged`'s —
    none on a clean run, whatever the number of tables.  An intent's
    table wearing the intent's swap id means the RENAME happened, so the
    statement is journaled late; anything else (table absent mid-swap,
    an older or newer id, no id) means the swap did not complete under
    that name and the rerun re-executes the statement.  Intents are
    compacted with their version's commit rows (:func:`compact_journal`).
    Racing a LIVE runner is harmless: a swap between its RENAME and its
    own commit is journaled idempotently (duplicate commit rows collapse
    in :func:`_journaled_stmts`' set).  Returns {table: version} for
    each swap journaled late."""
    rows = _read_journal_rows(journal)
    committed = {(r["version"], r["stmt_index"], r["md5"]) for r in _commit_rows(rows)}
    stamps: dict[str, str | None] = {}
    out: dict[str, str] = {}
    for r in rows:
        key = (r["version"], r["stmt_index"], r["md5"])
        if r["swap_id"] is None or _stage_of(r) is not None or key in committed:
            continue
        target = r["target"]
        if target not in stamps:
            try:
                stamps[target] = _table_props(spark, target).get(_COW_SWAP_PROP)
            except AnalysisException:  # absent: dropped, or mid-swap
                stamps[target] = None
        if stamps[target] != r["swap_id"]:
            continue
        _append_journal_row(spark, journal, *key, "reconcile")
        committed.add(key)
        out[target.rsplit(".", 1)[1].strip("`")] = str(r["version"])
    return out


_CREATE_NAME_RE = re.compile(
    r"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.`]+)", re.I
)
# where a CREATE's TBLPROPERTIES go: into the clause it already has, or
# ahead of its CTAS query (Spark wants every table clause before it)
_PROPS_AT_RE = re.compile(r"\bTBLPROPERTIES\s*\(|\bAS\s+(?:\(\s*)?(?:SELECT|WITH)\b", re.I)


def _with_tblproperties(sql: str, props: dict[str, str]) -> str:
    """The translated CREATE TABLE ``sql`` with ``props`` set by its own
    TBLPROPERTIES clause."""
    if not props:
        return sql
    kv = ", ".join(f"'{k}' = '{_sq(v)}'" for k, v in props.items())
    for m in _top_level(_PROPS_AT_RE, sql)[0]:
        if m.group(0).endswith("("):  # merge into the statement's own clause
            rest = sql[m.end() :]
            return sql[: m.end()] + kv + ("" if rest.lstrip().startswith(")") else ", ") + rest
        return f"{sql[: m.start()]}TBLPROPERTIES ({kv}) {sql[m.start() :]}"
    return f"{sql} TBLPROPERTIES ({kv})"


# ClickHouse partition-key functions → Spark column expressions.  The
# partition id a user names in ALTER ... PARTITION <id> is the *value*
# of the PARTITION BY expression (e.g. toYYYYMM(d) → 201901), so the
# engine recomputes the expression per row and compares.
_PART_FUNCS: list[tuple[re.Pattern[str], "object"]] = [
    (
        re.compile(r"^toYYYYMMDD\(\s*`?(\w+)`?\s*\)$", re.I),
        lambda c: F.year(c) * 10000 + F.month(c) * 100 + F.dayofmonth(c),
    ),
    (
        re.compile(r"^toYYYYMM\(\s*`?(\w+)`?\s*\)$", re.I),
        lambda c: F.year(c) * 100 + F.month(c),
    ),
    (re.compile(r"^toYear\(\s*`?(\w+)`?\s*\)$", re.I), F.year),
    (re.compile(r"^toMonth\(\s*`?(\w+)`?\s*\)$", re.I), F.month),
    (re.compile(r"^toDate\(\s*`?(\w+)`?\s*\)$", re.I), F.to_date),
]


def _partition_cond(partition_by: str, value: str):
    """Row predicate for ``ALTER TABLE ... <op> PARTITION <value>``:
    recorded PARTITION BY expression(s) == the named partition value(s).
    Stays a pure column expression, so the rewrite it guards is one
    partition-parallel scan — no driver-side row handling."""
    p = partition_by.strip()
    if p.lower().startswith("tuple"):
        p = p[p.index("(") + 1 : p.rindex(")")].strip()
    # strip one *wrapping* paren pair (`(a, b)`), never a function's
    # closing paren (`toYYYYMM(ts)`)
    if p.startswith("(") and p.endswith(")") and _split_top(p)[0] == p:
        p = p[1:-1].strip()
    pieces = [x.strip() for x in _split_top(p)]
    v = value.strip()
    if v.startswith("(") and v.endswith(")"):
        vals = [x.strip() for x in _split_top(v[1:-1])]
    else:
        vals = [v]
    if len(vals) != len(pieces):
        raise ValueError(
            f"partition value {value!r} does not match PARTITION BY {partition_by!r}"
        )
    cond = F.lit(True)
    for piece, x in zip(pieces, vals):
        for rx, fn in _PART_FUNCS:
            m = rx.match(piece)
            if m:
                e = fn(F.col(m.group(1)))
                break
        else:
            e = F.expr(piece)
        cond = cond & e.eqNullSafe(F.expr(x))
    return cond


def _named_partition(spark: SparkSession, st: Statement) -> tuple[str, "F.Column"]:
    """(qualified ``st.table``, row predicate of the partition ``st``
    names), from the table's recorded ``clickhouse.partition_by``."""
    qual = _qualify(spark, st.table)
    pby = _table_props(spark, qual).get("clickhouse.partition_by")
    if not pby:
        raise ValueError(f"table {st.table} has no recorded PARTITION BY")
    return qual, _partition_cond(pby, st.predicate)


def _detached_parts_name(qual: str) -> str:
    db, t = qual.split(".", 1)
    return f"{db}.`__detparts_{t.strip('`')}`"


_TTL_EXPR_RE = re.compile(
    r"^\s*(?P<col>[\w`]+)\s*\+\s*INTERVAL\s+(?P<n>\d+)\s+(?P<unit>\w+?)S?\s*$", re.I
)


def apply_ttl(spark: SparkSession, table: str) -> int:
    """Enforce the recorded ``clickhouse.ttl`` retention policy: delete
    rows whose TTL expression has passed.  ClickHouse applies TTL
    lazily during background merges; here it is an explicit maintenance
    pass (one partition-parallel copy-on-write rewrite).  Returns the
    number of expired rows removed; supports the canonical
    ``col + INTERVAL n UNIT`` policy shape."""
    qual = _qualify(spark, table)
    ttl = _table_props(spark, qual).get("clickhouse.ttl")
    if not ttl:
        return 0
    m = _TTL_EXPR_RE.match(ttl)
    if not m:
        raise ValueError(f"unsupported TTL expression: {ttl!r}")
    col = m.group("col").strip("`")
    horizon = F.expr(f"INTERVAL {int(m.group('n'))} {m.group('unit').upper()}")
    df = spark.table(qual)
    expired = (F.col(col) + horizon) < F.current_timestamp()
    n_expired = df.filter(expired).count()
    if n_expired:
        _swap_overwrite(spark, table, df.filter(~expired))
    return n_expired


def _order_keys(props: dict[str, str]) -> list[str]:
    order_by = props.get("clickhouse.order_by", "")
    return [
        c.strip().strip("`")
        for c in order_by.strip().lstrip("tuple").strip("() ").split(",")
        if c.strip()
    ]


def _dedupe_latest(df: DataFrame, keys: list[str]) -> DataFrame:
    """One survivor per ORDER BY key — ClickHouse Replacing-merge
    semantics.  Parquet has no part order, so the survivor is the max
    of the non-key columns (struct comparison) — deterministic,
    documented divergence.  One partial-agg shuffle on the key."""
    others = [c for c in df.columns if c not in keys]
    if keys and others:
        return (
            df.groupBy(*keys)
            .agg(F.max(F.struct(*others)).alias("_survivor"))
            .select(*keys, *[_as_column(df, c, F.col(f"_survivor.`{c}`")) for c in others])
        )
    return df.distinct()


def _as_column(df: DataFrame, name: str, col: "F.Column") -> "F.Column":
    """``col`` named as ``df``'s column ``name``, keeping that column's
    metadata — its Spark column default (metadata-only ADD COLUMN) —
    which a computed column would otherwise drop in the rewrite."""
    return col.alias(name, metadata=df.schema[name].metadata)


def _optimize_table(spark: SparkSession, st: Statement) -> None:
    """``OPTIMIZE TABLE`` made real on parquet tables (ClickHouse: a
    MergeTree part-merge; reference fixtures issue it as a hint).

    - Replacing/Collapsing engines, or an explicit ``DEDUPLICATE``
      clause → keep ONE row per recorded ``ORDER BY`` key.  ClickHouse
      keeps the row from the newest part; parquet has no part order,
      so the survivor is chosen deterministically as the max of the
      non-key columns (struct comparison) — documented divergence.
    - plain engines → small-file compaction: rewrite sorted by the
      recorded ``ORDER BY`` (restores data-skipping locality), sized
      by spark.sql.files.maxPartitionBytes.
    Both paths are one distributed rewrite + atomic swap."""
    qual = _qualify(spark, st.table)
    df = spark.table(qual)
    props = _table_props(spark, qual)
    engine = props.get("clickhouse.engine", "")
    keys = _order_keys(props)
    dedupe = st.deduplicate or any(
        k in engine.lower() for k in ("replacing", "collapsing")
    )
    if dedupe:
        out = _dedupe_latest(df, keys)
    elif keys:
        # range-partition + sort on the ORDER BY key: the parquet
        # analog of a MergeTree part merge (contiguous key ranges per
        # file → min/max footer stats actually prune)
        out = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
    else:
        out = df.coalesce(max(1, spark.sparkContext.defaultParallelism // 4))
    _swap_overwrite(spark, st.table, out)  # carries clickhouse.* props over


def _exec_translated(spark: SparkSession, st: Statement) -> DataFrame | None:
    """Execute one translated statement.  A CREATE TABLE carries its
    ``clickhouse.*`` layout props and, under a migration, its stamp in
    its own TBLPROPERTIES clause, so the table never stands without
    them.  An ADD COLUMN with no DEFAULT or a literal one is one Spark
    ``ADD COLUMNS`` (a column default, as ClickHouse keeps it in
    metadata); every other mutation is a copy-on-write rewrite
    (:func:`_swap_overwrite`).  A CREATE or a metadata-only ADD COLUMN
    whose effect is already present on a table wearing this statement's
    stamp returns None without acting: the crashed attempt's effect,
    which the apply loop then journals late."""
    if st.kind == "passthrough":
        # FINAL / SAMPLE SELECT modifiers also reach the runner through
        # migration scripts (e.g. INSERT ... SELECT ... FROM t FINAL)
        return spark.sql(rewrite_query(spark, st.sql))
    if st.kind == "create_table":
        stamp = _inflight_stamp()
        m = _CREATE_NAME_RE.search(st.sql)
        # the ClickHouse physical-layout intent, kept as metadata: ORDER
        # BY → the write-sort a compaction job should apply; PARTITION
        # BY → candidate partition columns (SURVEY.md §1.1)
        props = {}
        if st.order_by and st.order_by.lower() not in ("tuple()", "tuple ( )"):
            props["clickhouse.order_by"] = st.order_by
        if st.partition_by and st.partition_by.lower() not in ("tuple()", "tuple ( )"):
            props["clickhouse.partition_by"] = st.partition_by
        if st.engine:
            props["clickhouse.engine"] = st.engine
        if st.ttl:
            props["clickhouse.ttl"] = st.ttl
        if st.sample_by:
            props["clickhouse.sample_by"] = st.sample_by
        if stamp is not None:
            props[_CREATE_STAMP_PROP] = stamp
        try:
            # the props ride in the CREATE itself: no moment exists at
            # which the table stands without its stamp
            return spark.sql(_with_tblproperties(st.sql, props))
        except Exception as e:
            # crash-after-CREATE rerun window (VERDICT r11 #1): the
            # earlier attempt created the table and stamped it, then
            # crashed before its journal append.  If the existing
            # table carries OUR stamp, the create already applied —
            # report success so the apply loop journals it late.
            if (
                stamp is not None
                and m is not None
                and "ALREADY_EXISTS" in str(e).upper().replace(" ", "_")
            ):
                try:
                    prior = _table_props(spark, m.group("name")).get(
                        _CREATE_STAMP_PROP
                    )
                except Exception:
                    prior = None
                if prior == stamp:
                    return None
            raise
    if st.kind == "add_column":
        qual = _qualify(spark, st.table)
        df = spark.table(qual)
        stamp = _inflight_stamp()
        if st.column in df.columns:
            # Spark's withColumn would silently REPLACE the existing
            # column (data loss); ClickHouse errors unless IF NOT EXISTS
            if st.if_exists:
                return None
            # this statement's own earlier attempt added it, then the
            # run died before the journal append: journal it late
            if (
                st.metadata_only
                and stamp is not None
                and _table_props(spark, qual).get(_CREATE_STAMP_PROP) == stamp
            ):
                return None
            raise ValueError(
                f"ALTER ADD COLUMN: column {st.column!r} already exists "
                f"in {st.table} (use IF NOT EXISTS for a no-op)"
            )
        if st.column.lower() in {c.lower() for c in df.columns}:
            # ClickHouse would allow a case-only sibling, but Spark's
            # case-insensitive analyzer makes the pair unreadable —
            # refuse rather than write an ambiguous table
            raise ValueError(
                f"ALTER ADD COLUMN: {st.column!r} differs only in case "
                f"from an existing column of {st.table}; Spark resolves "
                "identifiers case-insensitively and cannot represent both"
            )
        if st.default is not None:
            _check_read_identifiers(
                df.columns, st.default, f"ALTER ADD COLUMN {st.column!r} DEFAULT"
            )
        if st.metadata_only:
            # ClickHouse's metadata-only ADD COLUMN: a Spark column
            # default, which existing rows read and INSERTs that omit
            # the column get.  The stamp goes on first, so a rerun can
            # tell this statement's column from anyone else's.
            if stamp is not None:
                spark.sql(
                    f"ALTER TABLE {qual} SET TBLPROPERTIES "
                    f"('{_CREATE_STAMP_PROP}' = '{stamp}')"
                )
            default = "" if st.default is None else f" DEFAULT CAST({st.default} AS {st.col_type})"
            spark.sql(f"ALTER TABLE {qual} ADD COLUMNS (`{st.column}` {st.col_type}{default})")
            return None
        # an expression default (Spark defaults must be constants):
        # rewrite every row; INSERTs that omit the column get NULL
        default = _ch_expr(st.default).cast(st.col_type)
        _swap_overwrite(spark, st.table, df.withColumn(st.column, default))
        return None
    if st.kind == "drop_column":
        qual = _qualify(spark, st.table)
        df = spark.table(qual)
        if st.column not in df.columns and st.if_exists:
            return None  # ClickHouse DROP COLUMN IF EXISTS: no-op
        _check_exact_column(df.columns, st.column, "ALTER DROP COLUMN")
        _swap_overwrite(spark, st.table, df.drop(st.column))
        return None
    if st.kind == "modify_column":
        qual = _qualify(spark, st.table)
        df = spark.table(qual)
        _check_exact_column(df.columns, st.column, "ALTER MODIFY COLUMN")
        cast = _as_column(df, st.column, F.col(st.column).cast(st.col_type))
        _swap_overwrite(spark, st.table, df.withColumn(st.column, cast))
        return None
    if st.kind == "rename_column":
        qual = _qualify(spark, st.table)
        df = spark.table(qual)
        if st.column not in df.columns and st.if_exists:
            return None  # ClickHouse RENAME COLUMN IF EXISTS: no-op
        _check_exact_column(df.columns, st.column, "ALTER RENAME COLUMN")
        if st.rename_to in df.columns:
            raise ValueError(
                f"ALTER RENAME COLUMN: target name {st.rename_to!r} "
                f"already exists in {st.table}"
            )
        _swap_overwrite(
            spark, st.table, df.withColumnRenamed(st.column, st.rename_to)
        )
        return None
    if st.kind == "cow_update":
        qual = _qualify(spark, st.table)
        df = spark.table(qual)
        _check_read_identifiers(df.columns, st.predicate, "ALTER UPDATE predicate")
        for _c, _e in st.assignments:
            _check_read_identifiers(
                df.columns, _e, f"ALTER UPDATE assignment to {_c!r}"
            )
        pred = _ch_expr(st.predicate)
        # ONE simultaneous projection, ClickHouse UPDATE semantics:
        # every RHS and the predicate read the PRE-update snapshot.
        # The old chained withColumn made assignment k see assignment
        # k−1's writes — `UPDATE v = 0, s = f(s) WHERE v > 20` skipped
        # the s-assignment wherever the v-assignment had just falsified
        # the predicate (round-8 ALTER UPDATE composition fuzz catch).
        dtypes = dict(df.dtypes)
        assigned: dict[str, str] = {}
        exact_cols = set(df.columns)
        lower_cols = {c.lower(): c for c in df.columns}
        for col, expr in st.assignments:
            # ClickHouse column names are CASE-SENSITIVE: resolve the
            # assignment target by exact match first; a case-only
            # mismatch is rejected with a did-you-mean instead of being
            # silently applied to the differently-cased column
            # (ADVICE r8 — quiet semantic divergence from the
            # reference's engine otherwise)
            if col in exact_cols:
                resolved = col
            else:
                near = lower_cols.get(col.lower())
                hint = f"; did you mean {near!r}?" if near is not None else ""
                # ClickHouse rejects unknown columns; the projection
                # form would otherwise silently no-op the assignment
                # and record the migration as applied (round-8 review)
                raise ValueError(
                    f"ALTER UPDATE assigns unknown column {col!r} "
                    f"(table has {df.columns}{hint})"
                )
            if resolved in assigned:
                raise ValueError(
                    f"ALTER UPDATE assigns column {col!r} twice"
                )
            assigned[resolved] = expr
        out = df.select(
            *[
                (
                    _as_column(
                        df,
                        c,
                        F.when(
                            pred,
                            _ch_expr(assigned[c]).cast(dtypes.get(c, "string")),
                        ).otherwise(F.col(c)),
                    )
                    if c in assigned
                    else F.col(c)
                )
                for c in df.columns
            ]
        )
        _swap_overwrite(spark, st.table, out)
        return None
    if st.kind == "cow_delete":
        qual = _qualify(spark, st.table)
        df = spark.table(qual)
        _check_read_identifiers(df.columns, st.predicate, "ALTER DELETE predicate")
        _swap_overwrite(spark, st.table, df.filter(~_ch_expr(st.predicate)))
        return None
    if st.kind == "optimize":
        _optimize_table(spark, st)
        return None
    if st.kind == "exchange_tables":
        a = _qualify(spark, st.table)
        b = _qualify(spark, st.rename_to)
        tmp = a.rsplit(".", 1)[0] + ".`__xchg_tmp`"
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        spark.sql(f"ALTER TABLE {a} RENAME TO {tmp}")
        spark.sql(f"ALTER TABLE {b} RENAME TO {a}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {b}")
        return None
    if st.kind == "create_dictionary":
        qual = _qualify(spark, st.table)
        spark.sql(
            f"CREATE OR REPLACE VIEW {qual} "
            f"TBLPROPERTIES ('clickhouse.dict_key' = '{st.column}') "
            f"AS {st.sql}"
        )
        return None
    if st.kind == "move_partition":
        src_q, cond = _named_partition(spark, st)
        df = spark.table(src_q)
        dst_q = _qualify(spark, st.rename_to)
        df.filter(cond).write.insertInto(dst_q.replace("`", ""))
        _swap_overwrite(spark, st.table, df.filter(~cond))
        return None
    if st.kind == "replace_partition":
        # dst := (dst minus partition) ∪ (src's partition copy); one
        # union rewrite + atomic swap, src untouched
        dst_q, cond = _named_partition(spark, st)
        src = spark.table(_qualify(spark, st.rename_to))
        dst = spark.table(dst_q)
        _swap_overwrite(
            spark,
            st.table,
            dst.filter(~cond).unionByName(src.filter(cond)),
        )
        return None
    if st.kind == "truncate":
        if st.if_exists and not spark.catalog.tableExists(st.table):
            return None
        spark.sql(f"TRUNCATE TABLE {_qualify(spark, st.table)}")
        return None
    if st.kind in ("drop_partition", "detach_partition", "attach_partition"):
        qual, cond = _named_partition(spark, st)
        det = _detached_parts_name(qual)
        if st.kind == "attach_partition":
            # restore parked rows: append the matching slice back, then
            # rewrite the side table without it (atomic swap)
            src = spark.table(det)
            src.filter(cond).write.insertInto(qual.replace("`", ""))
            _swap_overwrite(spark, det.replace("`", ""), src.filter(~cond))
            return None
        df = spark.table(qual)
        if st.kind == "detach_partition":
            moving = df.filter(cond)
            if spark.catalog.tableExists(det.replace("`", "")):
                moving.write.insertInto(det.replace("`", ""))
            else:
                moving.write.format("parquet").saveAsTable(det.replace("`", ""))
        _swap_overwrite(spark, st.table, df.filter(~cond))
        return None
    if st.kind == "clear_column_in_partition":
        qual, cond = _named_partition(spark, st)
        df = spark.table(qual)
        if st.column not in df.columns and st.if_exists:
            return None  # CLEAR COLUMN IF EXISTS: no-op
        _check_exact_column(df.columns, st.column, "ALTER CLEAR COLUMN")
        dtype = dict(df.dtypes).get(st.column, "string")
        _swap_overwrite(
            spark,
            st.table,
            df.withColumn(
                st.column,
                _as_column(
                    df,
                    st.column,
                    F.when(cond, F.lit(None).cast(dtype)).otherwise(F.col(st.column)),
                ),
            ),
        )
        return None
    if st.kind in ("detach_table", "attach_table"):
        qual = _qualify(spark, st.table)
        db, t = qual.split(".", 1)
        hidden = f"{db}.`__dettable_{t.strip('`')}`"
        src, dst = (qual, hidden) if st.kind == "detach_table" else (hidden, qual)
        spark.sql(f"ALTER TABLE {src} RENAME TO {dst}")
        return None
    if st.kind in ("set_ttl", "set_order_by", "set_sample_by"):
        # update the recorded property the CREATE-time clause sets: TTL
        # is a retention policy (enforced by apply_ttl() in a maintenance
        # job, not storage DDL); ORDER BY is the sort key OPTIMIZE …
        # DEDUPLICATE and FINAL resolve against; SAMPLE BY is the key
        # `FROM t SAMPLE k` resolves against
        prop = st.kind[len("set_") :]
        spark.sql(
            f"ALTER TABLE {_qualify(spark, st.table)} SET TBLPROPERTIES "
            f"('clickhouse.{prop}' = '{_sq(getattr(st, prop))}')"
        )
        return None
    raise ValueError(f"unknown statement kind: {st.kind}")  # pragma: no cover


def execute_statement(spark: SparkSession, sql: str) -> DataFrame | None:
    """Translate + execute one ClickHouse-dialect statement.

    Synchronous by construction — by the time this returns, the
    statement's effects are fully durable (this is what replaces the
    reference's ``pipelined`` mutation barrier, `migrate.py:56-71`)."""
    return _exec_translated(spark, translate(sql))


# ── the runner (reference migrate.py:44-54, 79-88) ───────────────────────────


def _parse_script(path: str) -> list[str]:
    """``.json`` → array of statements; ``.sql`` → one whole-file
    statement (reference `migrate.py:49-50`)."""
    with open(path) as f:
        if path.endswith(".json"):
            return json.load(f)
        return [f.read()]


def apply_migration(
    spark: SparkSession, db_name: str, migrations: DataFrame, queue_exec: bool = True
) -> int:
    """Apply pending migrations in version order, fail-stop.

    Reference `migrate.py:44-54`: sort ascending, iterate on the
    driver (ordering + fail-stop semantics require a sequential
    driver-side loop — NOT ``foreach``), execute each script's
    statements in order, and append to the ledger only after *all*
    statements of that script succeed.  ``queue_exec`` is accepted for
    API fidelity; Spark's synchronous execution makes both settings
    correct (SURVEY.md §3.3).

    **Rerun semantics (statement journal, VERDICT r9 #1 / r10 #1):**
    each successfully executed statement is journaled (version,
    stmt_index, md5) through the same atomic-rename channel as claims.
    A rerun of the SAME script after a failure or crash resumes at the
    first un-journaled statement, and every statement class is
    EXACTLY-ONCE on a local-filesystem parquet warehouse: COW mutations
    recover their journal row from the swap intent journaled ahead of
    the swap (:func:`_reconcile_live_markers`, run here before any
    claim, and :func:`recover_cow`), and plain
    INSERTs run staged — rows become visible only after their journal
    row is durable (:func:`_maybe_stage_insert`), so a crash on either
    side of the commit reconciles without duplication.  INSERTs into
    a table that is not a local unbucketed parquet table (hdfs/object
    stores, bucketed targets) execute direct and keep the documented
    at-least-once-on-crash window; the metadata tables themselves must
    be local (:func:`_meta`) — a transactional table format is the
    production answer elsewhere.
    Editing the failed script changes its md5 and discards the
    journaled progress — the documented whole-script rerun semantics
    for edited scripts.
    """
    return _apply(spark, db_name, _migrations(migrations))


def _apply(
    spark: SparkSession, db_name: str, pending: list[Migration], ledger: _MetaTable | None = None
) -> int:
    """:func:`apply_migration` over driver rows, with the ledger handle
    the caller resolved, if any."""
    if not pending:
        return 0
    ledger = ledger or _meta(spark, db_name, LEDGER)
    claims, journal = (_meta(spark, db_name, t) for t in (CLAIMS, JOURNAL))
    try:
        # self-heal first: a run that died between a swap's RENAME and its
        # journal append (a crash OR a plain append failure, ADVICE r10)
        # left an intent whose swap happened — journal the completed
        # mutation late so this run resumes after it.  Only a pending
        # version can own such an intent, so a call with nothing pending
        # (returned above) has nothing to heal.
        _reconcile_live_markers(spark, journal)
        applied = 0
        owner = uuid.uuid4().hex
        for row in sorted(pending, key=lambda m: m.version):
            version = row.version
            # ── concurrent-runner guard (VERDICT r6 #3) ──────────────────
            # Claim the version BEFORE executing; refuse if any other claim
            # is visible.  Claim append + read are serialized in-process by
            # _CLAIM_LOCK (exact for same-driver races); across processes
            # the durable-before-visible append makes the guard at-most-one
            # (two racers can both refuse — rerun applies).
            # one fresh claim_id per (runner, version) claim; its tombstone
            # releases exactly this row and can never shadow a future claim
            claim_id = uuid.uuid4().hex

            def _release_own_claim_locked() -> None:
                # append-only release: a tombstone row (released = true)
                # carrying OUR claim_id.  No table rewrite — the old
                # DROP/RENAME release window destroyed rival claims
                # appended mid-swap and could serve a rival's read a
                # FileNotFound (ADVICE r7); an atomic-rename append races
                # nothing and a rival's rows are physically untouched.
                _append_claim_row(
                    spark, claims, version, owner, released=True, claim_id=claim_id
                )

            with _CLAIM_LOCK:
                # every guard read lists the metadata tables' files afresh
                # (_read_meta_rows), so a rival runner's appends through its
                # OWN SparkSession are visible
                if version in _ledgered_versions(ledger):
                    # another runner applied it between our diff and now
                    _log.info("Skipping V%s: already applied by a concurrent runner", version)
                    continue
                _append_claim_row(
                    spark, claims, version, owner, released=False, claim_id=claim_id
                )
                rivals = any(
                    c["version"] == version and c["owner"] not in (owner, None)
                    for c in _live_claim_rows(
                        _read_meta_rows(claims, CLAIMS_SCHEMA.fieldNames())
                    )
                )
                if rivals:
                    # release OWN claim before refusing: both racers may
                    # refuse (the documented cross-process outcome), and
                    # neither may leave a row that blocks the rerun
                    _release_own_claim_locked()
                else:
                    # cross-process close: a rival may have finished and
                    # RELEASED between our first ledger check and the
                    # rivals read (its claim is gone, its ledger row is
                    # durable-before-visible) — re-check the ledger now
                    # that we hold the winning claim
                    if version in _ledgered_versions(ledger):
                        _release_own_claim_locked()
                        _log.info(
                            "Skipping V%s: already applied by a concurrent runner", version
                        )
                        continue
            if rivals:
                raise ConcurrentMigrationError(
                    f"migration V{version} is claimed by another runner "
                    f"(claims table `{db_name}`.`{CLAIMS}`; if that runner "
                    "crashed, clear with migrate.clear_claims())"
                )
            try:
                stmts = _parse_script(row.script)
                # ── statement-level journal (VERDICT r9 #1) ──────────────
                # a rerun of the SAME script (same md5) resumes after the
                # last journaled statement instead of re-executing the
                # whole script; an EDITED script (md5 mismatch) discards
                # the journaled progress and keeps the documented
                # whole-script rerun semantics (indices no longer
                # correspond after an edit)
                rows = _read_journal_rows(journal)
                done, stale = _journaled_stmts(journal, version, row.md5, rows)
                # publish journal-committed insert stages a crash orphaned
                # (their statements are in `done` and will be skipped) and
                # drop uncommitted ones (their statements re-execute clean)
                _reconcile_staged(spark, rows, version, row.md5)
                if stale:
                    _log.warning(
                        "V%s: discarding journaled progress from an earlier run "
                        "of a DIFFERENT script body (edited after the failure) — "
                        "re-executing from the first statement",
                        version,
                    )
                if done:
                    _log.info(
                        "V%s: resuming — statements %s already journaled as applied",
                        version, sorted(done),
                    )
                _INFLIGHT.version, _INFLIGHT.md5 = version, row.md5
                _INFLIGHT.journal, _INFLIGHT.owner = journal, owner
                try:
                    for i, stmt in enumerate(stmts):
                        if i in done:
                            continue
                        _INFLIGHT.stmt = i
                        _crash_point("before_stmt")
                        # INSERTs run STAGED (VERDICT r10 #1): rows land in
                        # a hidden stage table and become visible only
                        # after the journal append below — the journal row
                        # is the commit point, so a crash on either side of
                        # it reconciles to exactly-once on rerun
                        # (_reconcile_staged).  COW mutations are
                        # exactly-once via their swap intent (the next run
                        # journals late); everything else executes direct.
                        staged = _maybe_stage_insert(
                            spark, db_name, journal, stmt, version, i, row.md5, owner
                        )
                        if staged is None:
                            execute_statement(spark, stmt)
                        # effects durable (or staged): the commit row
                        _crash_point("after_stmt")
                        _append_journal_row(
                            spark, journal, version, i, row.md5, owner
                        )
                        _crash_point("after_journal")
                        if staged is not None:
                            _publish_stage(spark, *staged)
                finally:
                    vars(_INFLIGHT).clear()
                _append_ledger_row(spark, ledger, version, row.md5, row.script)
                # the version's journal rows are dead weight now that its
                # ledger row is durable — compact them so the journal stays
                # bounded across N migrations (VERDICT r10 #6).  Whole-file
                # removal + the listing-tolerant reader make this safe
                # against rival runners (see compact_journal).
                with _CLAIM_LOCK:
                    _compact_journal(journal, ledger)
            except BaseException:
                # a FAILED statement releases the claim (the runner is
                # alive and fail-stop is the contract — the rerun must be
                # able to re-execute the script, SURVEY §4); only a CRASH
                # leaves a stale claim, for clear_claims().  A release
                # failure must never MASK the statement error the user
                # needs to fix the script.
                try:
                    with _CLAIM_LOCK:
                        _release_own_claim_locked()
                except Exception:
                    pass
                raise
            with _CLAIM_LOCK:
                _release_own_claim_locked()
            _log.info("Applied migration V%s: %s", version, os.path.basename(row.script))
            applied += 1
        return applied
    finally:
        _refresh_stale(spark, ledger, claims, journal)


def migrate(
    spark: SparkSession,
    db_name: str,
    migrations_home: str,
    create_db_if_no_exists: bool = True,
    queue_exec: bool = True,
) -> int:
    """Top-level orchestrator (reference `migrate.py:79-88`): optional
    db bootstrap → scan → diff → apply, planned on driver rows (the
    manifest and the ledger's rows meet in :func:`_pending`; no Spark
    frame is built).  Each metadata table is created where it is first
    needed (:func:`_meta`), the ledger by the diff and the claims and
    journal by the apply.  Returns the number applied."""
    if create_db_if_no_exists:
        create_db(spark, db_name)
    prev_db = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase(db_name)
    try:
        ledger = _meta(spark, db_name, LEDGER)
        pending = _pending(ledger, scan_migrations(migrations_home))
        return _apply(spark, db_name, pending, ledger)
    finally:
        spark.catalog.setCurrentDatabase(prev_db)


# ── reference API-parity shims (SURVEY.md §2.A) ──────────────────────────────


# ClickHouse table modifiers inside SELECT: `FROM t FINAL [SAMPLE k]`.
# FINAL = merge-on-read (one survivor per ORDER BY key on Replacing/
# Collapsing engines); SAMPLE k = deterministic fraction over the
# recorded SAMPLE BY key.  Both become temp views over native plans.
_QUERY_MOD_RE = re.compile(
    r"\bFROM\s+(?P<t>[\w.`]+)"
    r"(?:(?P<final>\s+FINAL)|\s+SAMPLE\s+(?P<k>\d+(?:\.\d+)?(?:\s*/\s*\d+)?)){1,2}",
    re.I,
)


# ClickHouse system tables the engine emulates from the Spark catalog.
# The reference's only system read is `system.mutations` (`migrate.py:64`,
# the async-mutation poll); tables/columns round out the introspection
# surface migrations commonly touch.
_SYSTEM_RE = re.compile(r"\bsystem\.(?P<which>tables|columns|mutations)\b", re.I)


def _system_view(spark: SparkSession, which: str) -> str:
    """Materialize `system.<which>` as a temp view over catalog
    metadata.  Driver-side by design: these are metadata frames (the
    reference inflates the same query results into pandas), never data-
    bearing scans."""
    name = f"__system_{which.lower()}"
    if which in ("tables", "columns"):
        rows = []
        for db in spark.catalog.listDatabases():
            for t in spark.catalog.listTables(db.name):
                if t.name.startswith("__") or t.database is None:
                    continue
                info = _describe_table(spark, f"`{db.name}`.`{t.name}`")
                key = (db.name, t.name)
                if which == "tables":
                    rows.append((*key, info.props.get("clickhouse.engine", t.tableType or "")))
                else:
                    rows += [(*key, f.name, f.dataType.simpleString()) for f in info.schema]
        df = spark.createDataFrame(
            rows,
            "database string, name string, engine string"
            if which == "tables"
            else "database string, table string, name string, type string",
        )
    else:  # mutations: Spark statements are synchronous — every
        # mutation is complete before control returns, so the poll
        # table is always empty (SURVEY.md §2.A A14/§3.3)
        df = spark.createDataFrame(
            [],
            "database string, table string, mutation_id string, "
            "command string, create_time timestamp, is_done int",
        )
    df.createOrReplaceTempView(name)
    return name


_DICTGET_RE = re.compile(r"\bdictGet(?:String|U?Int\d+|Float\d+|Date(?:Time)?)?\s*\(", re.I)


def _rewrite_dictget(spark: SparkSession, query: str) -> str:
    """``dictGet('d', 'attr', key_expr)`` → a correlated scalar
    subquery ``(SELECT attr FROM d WHERE d.pk = key_expr)``.  Catalyst
    decorrelates this into a left outer join, and with a
    dictionary-sized build side AQE broadcasts it — exactly the hash
    lookup a ClickHouse HASHED layout performs, minus the manual cache.
    The typed variants (dictGetString/dictGetUInt64/...) share the
    rewrite; the view's column type already carries the type."""
    while True:
        m = _search_unquoted(_DICTGET_RE, query)
        if not m:
            return query
        # balanced-paren scan for the argument list — lexer spans count
        # for nothing: a paren inside a literal arg, dictGet('d', 'x',
        # concat(k, ')')), must not close the call
        try:
            args, i = _scan_args(query, m.end())
        except ValueError:
            raise ValueError(f"unclosed dictGet call: {query[m.start():]!r}") from None
        if len(args) != 3:
            raise ValueError(f"dictGet expects 3 args: {query[m.start():i]!r}")
        dname = args[0].strip("'\"")
        attr = args[1].strip("'\"")
        key_expr = args[2]
        qual = _qualify(spark, dname)
        pk = _table_props(spark, qual).get("clickhouse.dict_key")
        if not pk:
            raise ValueError(f"{dname} is not a dictionary (no recorded key)")
        sub = f"(SELECT `{attr}` FROM {qual} WHERE {qual}.`{pk}` = {key_expr})"
        query = query[: m.start()] + sub + query[i:]


# ClickHouse `GROUP BY k1, k2 WITH TOTALS`: per-group rows plus ONE
# all-groups totals row — exactly GROUPING SETS ((k1, k2), ()).  (Not
# ROLLUP: that would add per-prefix subtotals ClickHouse doesn't emit.)
# In the totals row the grouping keys are NULL (ClickHouse emits type
# defaults — documented divergence, same as dictGet misses).
_GROUP_BY_OR_TOTALS_RE = re.compile(r"\bGROUP\s+BY\b|(?P<totals>\bWITH\s+TOTALS\b)", re.I)


def _rewrite_with_totals(query: str) -> str:
    """Each ``GROUP BY k… WITH TOTALS`` → ``GROUP BY GROUPING SETS
    ((k…), ())``: a GROUP BY pairs with a WITH TOTALS only when that is
    the next of the two at the GROUP BY's own depth, so a subquery's
    GROUP BY never captures the outer query's keys."""
    while True:
        depths = _depths(query)
        for g in _GROUP_BY_OR_TOTALS_RE.finditer(query):
            if depths[g.start()] < 0 or g.group("totals"):  # -1: a lexer span
                continue
            nxt = _top_level(_GROUP_BY_OR_TOTALS_RE, query, g.end(), depths)[0]
            if nxt and nxt[0].group("totals"):
                keys = query[g.end() : nxt[0].start()].strip()
                query = (
                    f"{query[: g.start()]}GROUP BY GROUPING SETS (({keys}), ())"
                    f"{query[nxt[0].end() :]}"
                )
                break
        else:
            return query


# ClickHouse clause-level SELECT dialect -------------------------------
# PREWHERE is a ClickHouse scan-stage optimization hint; semantically it
# is a conjunct of WHERE.  Catalyst's predicate pushdown already does
# what PREWHERE asks for, so the rewrite is purely syntactic.
_PREWHERE_START_RE = re.compile(r"\bPREWHERE\s+", re.I)
_PREWHERE_END_RE = re.compile(
    r"\bWHERE\b|\bGROUP\s+BY\b|\bHAVING\b|\bORDER\s+BY\b|\bLIMIT\b"
    r"|\bSETTINGS\b|\bFORMAT\b|\bARRAY\s+JOIN\b",
    re.I,
)


def _find_prewhere(query: str):
    """Locate ``PREWHERE <pred>``: the predicate ends at the first
    boundary keyword at its own depth, or where its group closes.  A
    boundary keyword inside a predicate subquery (``PREWHERE id IN
    (SELECT … LIMIT 3)``) belongs to the subquery, and keywords or
    parens inside string literals count for nothing (``PREWHERE s =
    '('``).  Returns (start, end_of_pred, pred) or None."""
    m = _search_unquoted(_PREWHERE_START_RE, query)
    if m is None or m.end() >= len(query):
        return None
    ends, close = _top_level(_PREWHERE_END_RE, query, m.end())
    cut = ends[0].start() if ends else close
    return m.start(), cut, query[m.end() : cut].strip()


# `[LEFT] ARRAY JOIN expr AS alias` — single-column form only (the
# multi-column zip form has no 1:1 Spark clause; raise, don't mangle).
_ARRAY_JOIN_START_RE = re.compile(r"\b(?P<left>LEFT\s+)?ARRAY\s+JOIN\s+", re.I)
_ARRAY_JOIN_AS_RE = re.compile(r"\s+AS\s+(?P<alias>\w+)", re.I)
_ARRAY_JOIN_ZIP_RE = re.compile(r"\s*,\s*\S.*?\s+AS\s+\w+", re.I | re.S)


def _rewrite_array_join(query: str) -> str:
    """``[LEFT] ARRAY JOIN expr AS x`` → ``LATERAL VIEW [OUTER]
    explode(expr) AS x``.  The expression is scanned past lexer spans
    with paren awareness (it may contain commas inside calls), and its
    comments are blanked; the alias is the first top-level ``AS``."""
    while True:
        m = _search_unquoted(_ARRAY_JOIN_START_RE, query)
        if not m:
            return query
        spans = _lex_spans(query)
        if spans and spans[-1][2] == "open" and spans[-1][0] >= m.end():
            raise ValueError("unterminated string literal in ARRAY JOIN")
        aliases = _top_level(_ARRAY_JOIN_AS_RE, query, m.end())[0]
        if not aliases:
            raise ValueError(
                "ARRAY JOIN requires an 'AS <alias>' (the bare form would "
                "shadow the source column ambiguously in Spark)"
            )
        mm = aliases[0]
        if _ARRAY_JOIN_ZIP_RE.match(query, mm.end()):
            raise ValueError(
                "multi-column ARRAY JOIN (zip form) is not supported; use "
                "one ARRAY JOIN per array or arrays_zip"
            )
        expr = _blank(query[m.end() : mm.start()]).strip()
        outer = " OUTER" if m.group("left") else ""
        repl = f"LATERAL VIEW{outer} explode({expr}) AS {mm.group('alias')}"
        query = query[: m.start()] + repl + query[mm.end() :]


_GLOBAL_RE = re.compile(
    r"\bGLOBAL\s+(?=(?:NOT\s+)?IN\b|ANY\b|ALL\b|JOIN\b|LEFT\b|RIGHT\b"
    r"|INNER\b|FULL\b|CROSS\b|SEMI\b|ANTI\b)",
    re.I,
)
_TRAILING_FORMAT_RE = re.compile(r"\s*\bFORMAT\s+\w+\s*;?\s*$", re.I)
_QUERY_SETTINGS_RE = re.compile(r"\s*\bSETTINGS\s+\w+\s*=\s*[^;]*;?\s*$", re.I)

# ClickHouse `numbers(N)` / `numbers(offset, N)` table function →
# Spark's `range()` table-valued function (column `id`, aliased back
# to ClickHouse's `number`).  `system.numbers` without a bound is
# rejected later by normal resolution (it is infinite in ClickHouse).
_NUMBERS_RE = re.compile(
    r"\bnumbers\s*\(\s*(?P<a>\d+)\s*(?:,\s*(?P<b>\d+)\s*)?\)", re.I
)


def _rewrite_numbers(query: str) -> str:
    def _sub(m: "re.Match[str]") -> str:
        a, b = m.group("a"), m.group("b")
        lo, hi = ("0", a) if b is None else (a, str(int(a) + int(b)))
        return f"(SELECT id AS number FROM range({lo}, {hi}))"

    return _sub_unquoted(_NUMBERS_RE, _sub, query)


# `ORDER BY … LIMIT n BY cols [LIMIT m]` at the query tail (the
# canonical ClickHouse shape: LIMIT BY keeps the first n rows per
# distinct cols-group in ORDER BY order, then the final LIMIT applies).
_LIMIT_BY_TAIL_RE = re.compile(
    r"\bORDER\s+BY\s+(?P<ord>[^;]*?)\s+LIMIT\s+(?P<n>\d+)\s+BY\s+"
    r"(?P<cols>[^;]*?)(?:\s+LIMIT\s+(?P<m>\d+))?\s*;?\s*$",
    re.I | re.S,
)
_LIMIT_BY_ANY_RE = re.compile(r"\bLIMIT\s+\d+\s+BY\b", re.I)
_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.I)


def _reject_nested(pattern: "re.Pattern[str]", query: str, clause: str) -> None:
    """Raise when ``clause`` (spelled by ``pattern``) occurs below the
    statement's top level: its rewrite wraps the whole statement, so it
    cannot apply inside a subquery or CTE."""
    depths = _depths(query)
    unquoted = [m for m in pattern.finditer(query) if depths[m.start()] >= 0]
    if len(unquoted) > len(_top_level(pattern, query, depths=depths)[0]):
        raise ValueError(
            f"{clause} is supported only at the statement's top level, "
            "not inside a subquery or CTE"
        )


def _rewrite_limit_by(query: str) -> str:
    """ClickHouse ``LIMIT n BY cols`` → a ``row_number`` window filter.

    ``… ORDER BY o LIMIT n BY c [LIMIT m]`` becomes::

        SELECT * EXCEPT (__rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY c ORDER BY o) AS __rn
          FROM (<query minus the tail clauses>)
        ) WHERE __rn <= n ORDER BY o [LIMIT m]

    This is the per-group-top-k plan Spark wants anyway: one shuffle on
    the BY columns, ranking inside each partition, no global sort until
    the (already reduced) outer ORDER BY.  An explicit ORDER BY is
    required — ClickHouse's LIMIT BY without one picks arbitrary rows,
    which a distributed rewrite must not silently reproduce."""
    if not _LIMIT_BY_ANY_RE.search(query):
        return query
    _reject_nested(_LIMIT_BY_ANY_RE, query, "LIMIT n BY")
    # anchor on the LAST top-level ORDER BY — an ORDER BY inside a
    # predicate subquery (`WHERE id IN (SELECT … ORDER BY id LIMIT 80)`)
    # must not become the window's sort key
    orders = _top_level(_ORDER_BY_RE, query)[0]
    # run the tail parse on a literal-masked SAME-LENGTH copy, so no
    # keyword, digit or ';' inside a literal can match; every captured
    # group is recovered by SPAN from the original text
    depths = _depths(query)
    masked = "".join("\x01" if depths[i] < 0 else ch for i, ch in enumerate(query))
    m = _LIMIT_BY_TAIL_RE.match(masked, orders[-1].start()) if orders else None
    if not m:
        if _search_unquoted(_LIMIT_BY_ANY_RE, query):
            raise ValueError(
                "LIMIT BY requires an explicit ORDER BY (… ORDER BY o "
                "LIMIT n BY cols [LIMIT m]) so the kept rows are "
                "deterministic"
            )
        return query
    inner = query[: m.start()].strip()
    ord_ = query[m.start("ord") : m.end("ord")].strip()
    cols = query[m.start("cols") : m.end("cols")].strip()
    n = m.group("n")
    tail_limit = f" LIMIT {m.group('m')}" if m.group("m") else ""
    return (
        f"SELECT * EXCEPT (__rn) FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {cols} ORDER BY {ord_}) "
        f"AS __rn FROM ({inner})"
        f") WHERE __rn <= {n} ORDER BY {ord_}{tail_limit}"
    )


# `ORDER BY col [ASC|DESC] WITH FILL [FROM a] [TO b] [STEP s]` at the
# query tail — single fill column (ClickHouse allows several; the
# multi-column interleave has no clean join form, so it raises).
_WITH_FILL_RE = re.compile(
    r"\bORDER\s+BY\s+(?P<col>[\w.`]+)(?P<dir>\s+(?:ASC|DESC))?\s+WITH\s+FILL"
    r"(?:\s+FROM\s+(?P<lo>\S+))?(?:\s+TO\s+(?P<hi>\S+))?"
    r"(?:\s+STEP\s+(?P<step>INTERVAL\s+\d+\s+\w+|[-\d.]+))?\s*;?\s*$",
    re.I | re.S,
)


_WITH_FILL_UNSUPPORTED = (
    "WITH FILL is supported for a single trailing ORDER BY column "
    "(ORDER BY c [ASC|DESC] WITH FILL [FROM a] [TO b] [STEP s]) of a "
    "query that names none of the rewrite's __wf/__lo/__hi columns"
)
# the names the rewrite below introduces; a query that uses one would
# be silently rebound to the rewrite's own CTE or bounds
_WITH_FILL_RESERVED_RE = re.compile(r"(?<!\w)__(?:wf|lo|hi)(?!\w)", re.I)
_WITH_FILL_ANY_RE = re.compile(r"\bWITH\s+FILL\b", re.I)


def _rewrite_with_fill(query: str) -> str:
    """``ORDER BY c WITH FILL …`` → full-outer join against a dense
    ``sequence()`` grid (the same declarative gap-fill plan as the
    native ``events_gapfill_hourly`` operator: the grid is generated,
    never scanned, and the join key is the fill column).

    Bounds default to the result's own min/max (one 1-row aggregate —
    broadcast, not a second scan pass, since the result is a CTE).
    ClickHouse's TO bound is exclusive and is honored with a grid
    filter.  Non-fill columns are NULL on filled rows, as in
    ClickHouse."""
    if not _WITH_FILL_ANY_RE.search(query):
        return query
    _reject_nested(_WITH_FILL_ANY_RE, query, "WITH FILL")
    fills = _top_level(_WITH_FILL_RE, query)[0]
    if not fills:
        if _search_unquoted(_WITH_FILL_ANY_RE, query):
            raise ValueError(_WITH_FILL_UNSUPPORTED)
        return query
    m = fills[0]
    inner = query[: m.start()].strip()
    col = m.group("col")
    if _WITH_FILL_RESERVED_RE.search(_blank(f"{inner} {col}", ("literal", "comment"))):
        raise ValueError(_WITH_FILL_UNSUPPORTED)
    direction = (m.group("dir") or "").strip()
    step = m.group("step") or "1"
    lo, hi = m.group("lo"), m.group("hi")
    if lo is None or hi is None:
        # defaulted bound(s) come from the result's own min/max, folded
        # into ONE 1-row aggregate subquery over the CTE — CTEs inline,
        # so a per-bound scalar subquery re-runs the whole inner
        # aggregate (3 fact passes for a fully defaulted WITH FILL;
        # this form pays 2)
        grid = (
            f"SELECT explode(sequence(__lo, __hi, {step})) AS {col} FROM "
            f"(SELECT {lo or f'min({col})'} AS __lo, "
            f"{hi or f'max({col})'} AS __hi FROM __wf)"
        )
    else:
        grid = f"SELECT explode(sequence({lo}, {hi}, {step})) AS {col}"
    if hi:
        # ClickHouse's TO is exclusive; the sequence endpoint is not
        grid = f"SELECT {col} FROM ({grid}) WHERE {col} < {hi}"
    return (
        f"WITH __wf AS ({inner}) "
        f"SELECT * FROM __wf FULL OUTER JOIN ({grid}) USING ({col}) "
        f"ORDER BY {col}{(' ' + direction) if direction else ''}"
    )


def _rewrite_clauses(query: str) -> str:
    """Clause-level ClickHouse SELECT dialect → Spark SQL:

    - ``PREWHERE p`` → ``WHERE p`` (AND-merged with an existing WHERE;
      the scan-stage split it requests is Catalyst predicate pushdown)
    - ``[LEFT] ARRAY JOIN arr AS x`` → ``LATERAL VIEW [OUTER]
      explode(arr) AS x`` (single-column form; the zip form raises)
    - ``GLOBAL IN`` / ``GLOBAL JOIN`` → distribution hint dropped
      (Spark's broadcast/shuffle decision is AQE's job)
    - trailing ``FORMAT X`` / ``SETTINGS k=v`` → stripped (wire-format
      and server knobs have no meaning here)
    - ``numbers(N)`` / ``numbers(offset, N)`` → Spark's ``range()``
      table function with the column aliased back to ``number``
    - ``ORDER BY o LIMIT n BY c [LIMIT m]`` → per-group top-n via a
      ``row_number`` window filter (see :func:`_rewrite_limit_by`)
    """
    query = _sub_unquoted(_TRAILING_FORMAT_RE, "", query)
    query = _sub_unquoted(_QUERY_SETTINGS_RE, "", query)
    query = _sub_unquoted(_GLOBAL_RE, "", query)
    query = _rewrite_numbers(query)

    # PREWHERE merges BEFORE the LIMIT BY / WITH FILL rewrites: those
    # wrap the statement in subqueries, and a merge running after them
    # would scan past the wrapper's closing parens (the boundary
    # keywords it looks for now belong to the OUTER query — caught by
    # the round-7 compositional fuzzer)
    pw = _find_prewhere(query)
    if pw:
        start, pred_end, pred = pw
        rest = query[pred_end:]
        if re.match(r"\s*WHERE\b", rest, re.I):
            rest = re.sub(r"\s*WHERE\b", "", rest, count=1, flags=re.I)
            query = query[:start] + _merge_prewhere(pred, rest)
        else:
            query = f"{query[:start]}WHERE {pred} {rest}".rstrip()

    query = _rewrite_limit_by(query)
    query = _rewrite_with_fill(query)
    return _rewrite_array_join(query)


_CLAUSE_BOUNDARY_RE = re.compile(
    r"\b(GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|SETTINGS|FORMAT)\b", re.I
)


def _merge_prewhere(pred: str, rest_after_where: str) -> str:
    """AND-merge a PREWHERE predicate into the following WHERE clause,
    wrapping only up to the next clause boundary at its own depth, or
    where its group closes (a boundary keyword inside a WHERE subquery —
    ``WHERE v IN (SELECT … LIMIT 3)`` — belongs to that subquery, not to
    this clause; keywords and parens inside string literals are
    ignored)."""
    bounds, close = _top_level(_CLAUSE_BOUNDARY_RE, rest_after_where)
    cut = bounds[0].start() if bounds else close
    wpred = rest_after_where[:cut].strip()
    tail = rest_after_where[cut:]
    return f"WHERE ({pred}) AND ({wpred}) {tail}".rstrip()


def rewrite_query(spark: SparkSession, query: str) -> str:
    """Rewrite ClickHouse SELECT modifiers to plain Spark SQL.

    - ``FROM t FINAL`` → dedupe-on-read view (Replacing semantics via
      :func:`_dedupe_latest`; plain MergeTree FINAL is a no-op, matching
      ClickHouse).  The dedupe is one partial-agg shuffle — the same
      plan OPTIMIZE ... DEDUPLICATE runs, minus the table rewrite.
    - ``FROM t SAMPLE 0.1`` / ``SAMPLE 1/10`` → deterministic hash
      filter over the recorded ``SAMPLE BY`` key (falls back to the
      ORDER BY key): ``xxhash64(key) % 1e6 < k·1e6``.  Repeatable
      across runs and engines — ClickHouse's sampling contract — and
      fully pushed into the scan stage (no shuffle).
    - ``dictGet('d', 'attr', key)`` → correlated scalar subquery
      (see :func:`_rewrite_dictget`).
    - ``system.tables`` / ``system.columns`` / ``system.mutations`` →
      catalog-metadata views (see :func:`_system_view`).
    - ClickHouse function vocabulary (``countIf``/``sumIf``, ``uniq*``,
      ``quantile(p)(x)``, ``toStartOf*``, ``multiIf``, bit ops, …) →
      Spark built-ins (see
      :func:`clickhouse_migrator_spark.functions.select_funcs.rewrite_functions`).
    """
    query = _rewrite_clauses(query)
    query = _rewrite_funcs(query)
    query = _rewrite_dictget(spark, query)
    query = _sub_unquoted(
        _SYSTEM_RE, lambda m: _system_view(spark, m.group("which").lower()), query
    )
    query = _rewrite_with_totals(query)

    def _sub(m: "re.Match[str]") -> str:
        t = m.group("t")
        is_final = bool(m.group("final"))
        k = m.group("k")
        if not is_final and k is None:
            return m.group(0)
        qual = _qualify(spark, t.strip("`"))
        props = _table_props(spark, qual)
        df = spark.table(qual)
        if is_final and any(
            e in props.get("clickhouse.engine", "").lower()
            for e in ("replacing", "collapsing")
        ):
            df = _dedupe_latest(df, _order_keys(props))
        ppm = 0
        if k is not None:
            num, _, den = k.partition("/")
            frac = float(num) / float(den) if den else float(num)
            if not 0 < frac < 1:
                raise ValueError(f"SAMPLE {k}: only fractional sampling supported")
            ppm = int(frac * 1_000_000)
            key = props.get("clickhouse.sample_by")
            keys = [key.strip("()` ")] if key else _order_keys(props)
            cols = [F.col(c) for c in (keys or df.columns)]
            df = df.filter(F.pmod(F.xxhash64(*cols), F.lit(1_000_000)) < ppm)
        view = "__q_{}_{}{}".format(
            t.strip("`").replace(".", "_"), "final" if is_final else "", f"s{ppm}"
        )
        df.createOrReplaceTempView(view)
        return f"FROM {view}"

    return _sub_unquoted(_QUERY_MOD_RE, _sub, query)


def execute_and_inflate(spark: SparkSession, query: str) -> DataFrame:
    """Reference `migrate.py:12-15`: SELECT → row dicts → pandas frame.
    Spark-native: `spark.sql` already returns a DataFrame — there is
    nothing to inflate; kept for API parity.  ClickHouse SELECT
    modifiers (FINAL / SAMPLE) are rewritten to native plans first."""
    return spark.sql(rewrite_query(spark, query))


def pipelined(
    spark: SparkSession, migration_script: str, db_name: str | None = None,
    timeout: int = 60 * 60,
) -> None:
    """Reference `migrate.py:56-71`: execute a statement, then poll
    `system.mutations` every 5 s (up to ``timeout``) until its
    asynchronous mutations finish.  Spark-native: `spark.sql`/DataFrame
    writes are synchronous — by the time :func:`execute_statement`
    returns, the statement is durable, so the barrier is the call
    itself.  ``db_name``/``timeout`` are accepted for signature parity.

    For parity the reference's poll query (B5, `migrate.py:64`) is
    executed once against the emulated ``system.mutations`` — it is
    empty by construction (synchronous execution), so the loop body
    the reference sleeps in is provably unreachable here."""
    execute_statement(spark, migration_script)
    db = db_name or spark.catalog.currentDatabase()
    pending = execute_and_inflate(
        spark,
        "SELECT database, table, mutation_id, lower(command) as command "
        f"FROM system.mutations WHERE database='{db}' and is_done=0",
    )
    assert pending.isEmpty(), "synchronous execution left a pending mutation"


# ── auxiliary surface exercised by the reference's tests ─────────────────────


def show_tables(spark: SparkSession, db_name: str) -> list[str]:
    """Name-sorted table list (ClickHouse's SHOW TABLES is sorted and
    the reference tests index into it — SURVEY.md §2.C C7)."""
    return sorted(
        r.tableName
        for r in spark.sql(f"SHOW TABLES IN `{db_name}`").collect()
        # engine-internal names: cow-swap temps, exchange temp, detached
        # partition side tables, detached (hidden) tables
        if not r.tableName.startswith("__")
    )


def ingest_csv(
    spark: SparkSession,
    path: str,
    table: str,
    schema: str | StructType | None = None,
    header: bool = True,
) -> int:
    """CSV (optionally gzipped) → existing catalog table (SURVEY.md
    §2.C C8; replaces the reference tests' ``gunzip | clickhouse-client
    --query='INSERT … FORMAT CSVWithNames'`` shell pipeline)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        target = spark.table(table)
        reader = reader.schema(target.schema)
    df = reader.csv(path)
    df.write.mode("append").insertInto(table)
    return spark.table(table).count()


def ingest_jsoneachrow(
    spark: SparkSession,
    path: str,
    table: str,
    schema: str | StructType | None = None,
) -> int:
    """JSON-lines (ClickHouse ``FORMAT JSONEachRow`` — its most common
    streaming ingest format) → existing catalog table.  Schema defaults
    to the target table's (explicit, never inferred: inference would
    scan twice and can mistype sparse columns).  Gzip transparent, like
    the CSV path."""
    target_schema = schema if schema is not None else spark.table(table).schema
    df = spark.read.schema(target_schema).json(path)
    df.write.mode("append").insertInto(table)
    return spark.table(table).count()
