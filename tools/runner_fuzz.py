"""End-to-end migration-runner orchestration fuzz (VERDICT r9 #5).

The dialect fuzzers cover statement REWRITES; this harness fuzzes the
ORCHESTRATION layer that round 8's three real bugs lived in: manifest
scan → diff → claim → apply → ledger → release, plus recover_cow /
clear_claims.  Each scenario drives `migrate()` over a randomly grown
migration directory with randomly injected faults, against a MODEL that
replays exactly the statements the engine executed (including the
documented non-idempotent rerun semantics after a mid-script failure or
a copy-on-write crash), and asserts the invariants after every epoch:

  I1  the ledger holds exactly the model's applied versions, one row
      each, with the md5 of the script on disk;
  I2  every fuzzed table's (k, v) contents == the model state;
  I3  zero live claims after any completed/failed run (failures release
      their claim; only CRASHES leave one, and clear_claims clears it),
      no journal row or swap intent left for a ledgered version, no
      leftover ``__stage_stmt_*`` / ``__cow_*`` table, and every
      metadata table has its full schema in the catalog;
  I4  a rerun after convergence applies 0 migrations (idempotent diff);
  I5  duplicate versions / edited-after-commit / deleted-after-commit
      manifests are rejected, and the run they reject is a no-op.

I1 and I3 are the benchmark's own runner checker
(``perfbench/checks.py``'s ``check_runner``), so the fuzz and the
benchmark hold the runner to one definition.

Odd seeds start from the claims and journal tables an older build made
(no claim ids, no swap-intent columns) instead of ``init_db``'s, so
every fault also runs against tables the runner must widen in place.

Faults per epoch (random, seeded):
  - mid-script failure at a random statement index of a .json script
    (fail-stop: prior statements' effects persist, ledger unchanged;
    the FIX edits the script, so its md5 changes, the statement
    journal's progress is discarded, and the rerun re-executes the
    whole fixed script — the model replays both runs);
  - copy-on-write crash injection at before_drop / after_drop during a
    random ALTER UPDATE/DELETE, then recover_cow + journal-aware rerun
    (r10 exactly-once: the journaled prefix is SKIPPED; the crashed
    mutation applies exactly once — "rolled_back" → the rerun executes
    it, "completed:V<n>" → recovery journaled it from the swap intent
    and the rerun resumes after it);
  - statement-journal crash injection (r10, fault "crashj") at
    before_stmt / after_stmt / after_journal on a random statement of
    the batch — covering the journal-append and staged-insert-publish
    windows, a swap left without its commit row (journaled late by
    the rerun's self-heal) and a metadata-only ADD COLUMN (literal
    DEFAULT) left without one (journaled late through its stamp); the
    model asserts every statement (INSERTs included, r11: staged-append
    commit) applies exactly once;
  - fallback-path crash injection (r12, fault "crashf"): the INSERT's
    target is made non-stageable (_local_parquet_location → None,
    simulating bucketed parquet, JDBC sinks, object stores —
    partitioned parquet is first-class staged since later in r12, and
    ~half the scenarios pre-create a physically partitioned table so
    the partition-aware publish fuzzes under every crash fault too), a
    crash lands after its direct effects but before its
    journal row, and the model asserts the rerun produces the
    DOCUMENTED duplicate — at-least-once, in statement order, never
    silent corruption;
  - duplicate-version file (expect scan_migrations rejection);
  - edit-after-commit / delete-after-commit (expect diff rejection).

Usage:
    python tools/runner_fuzz.py [n_scenarios] [seed]
Exit 0 = all invariants held.  The pytest wrapper
(tests/test_runner_fuzz.py) runs a bounded number of seeded scenarios
every CI run.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import uuid
from collections import Counter
from dataclasses import dataclass, field

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from clickhouse_migrator_spark import migrate as M  # noqa: E402
from perfbench.checks import check_runner  # noqa: E402


# ── statement generators (engine SQL + model effect) ────────────────────────


@dataclass
class Stmt:
    sql: str
    kind: str  # create | insert | update | delete | add_column
    table: str
    # model params
    rows: list[tuple[int, int]] = field(default_factory=list)  # insert
    mod: int = 1
    rem: int = 0
    delta: int = 0  # update: v += delta (delta=None → v = set_to)
    set_to: int | None = None
    cow: bool = False  # goes through _swap_overwrite

    def apply(self, state: dict[str, "Counter"]) -> None:
        """Replay this statement's effect on the model state.

        State is an exact (k, v) MULTISET per table (collections.Counter),
        not a k→v dict: a re-executed INSERT after an edited-script rerun
        APPENDS duplicate rows (the engine's — and ClickHouse's —
        semantics), and when an UPDATE ran between the two inserts the
        duplicates differ in v.  The old dict model silently upserted and
        the old dict-comprehension state check kept an arbitrary
        duplicate — seed 10109 produced a nondeterministic fuzz failure
        that was a MODEL hole, not an engine defect (r10).  An ADD
        COLUMN leaves (k, v) as it is."""
        if self.kind == "create":
            state[self.table] = Counter()
        elif self.kind == "insert":
            for kv in self.rows:
                state[self.table][kv] += 1
        elif self.kind == "update":
            new: Counter = Counter()
            for (k, v), n in state[self.table].items():
                if k % self.mod == self.rem:
                    nv = self.set_to if self.set_to is not None else v + self.delta
                    new[(k, nv)] += n
                else:
                    new[(k, v)] += n
            state[self.table] = new
        elif self.kind == "delete":
            state[self.table] = Counter(
                {
                    (k, v): n
                    for (k, v), n in state[self.table].items()
                    if k % self.mod != self.rem
                }
            )


class Gen:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.tables: list[str] = []
        self.next_key: dict[str, int] = {}
        self.added: dict[str, int] = {}  # table -> columns added so far

    def stmt(self) -> Stmt:
        r = self.rng
        if not self.tables or r.random() < 0.15:
            t = f"fz_{len(self.tables)}"
            self.tables.append(t)
            self.next_key[t] = 0
            return Stmt(
                sql=(
                    f"CREATE TABLE {t} (k Int64, v Int64) "
                    "ENGINE = MergeTree ORDER BY tuple()"
                ),
                kind="create",
                table=t,
            )
        t = r.choice(self.tables)
        kind = r.choice(["insert", "insert", "update", "update", "delete", "add_column"])
        if kind == "add_column":
            # a literal DEFAULT: a metadata-only change, exactly-once
            # across a crash through its stamp
            n = self.added[t] = self.added.get(t, 0) + 1
            return Stmt(
                sql=f"ALTER TABLE {t} ADD COLUMN c{n} Int64 DEFAULT {r.randint(0, 99)}",
                kind="add_column",
                table=t,
            )
        if kind == "insert":
            k0 = self.next_key[t]
            n = r.randint(1, 6)
            self.next_key[t] = k0 + n
            rows = [(k0 + i, r.randint(0, 99)) for i in range(n)]
            vals = ", ".join(f"({k}, {v})" for k, v in rows)
            # named columns: an added column takes its default
            return Stmt(
                sql=f"INSERT INTO {t} (k, v) VALUES {vals}", kind="insert", table=t, rows=rows
            )
        mod, rem = r.randint(1, 4), 0
        rem = r.randint(0, mod - 1)
        if kind == "update":
            if r.random() < 0.5:  # non-idempotent
                d = r.randint(1, 9)
                return Stmt(
                    sql=f"ALTER TABLE {t} UPDATE v = v + {d} WHERE k % {mod} = {rem}",
                    kind="update",
                    table=t,
                    mod=mod,
                    rem=rem,
                    delta=d,
                    cow=True,
                )
            s = r.randint(100, 199)
            return Stmt(
                sql=f"ALTER TABLE {t} UPDATE v = {s} WHERE k % {mod} = {rem}",
                kind="update",
                table=t,
                mod=mod,
                rem=rem,
                set_to=s,
                cow=True,
            )
        return Stmt(
            sql=f"ALTER TABLE {t} DELETE WHERE k % {mod} = {rem}",
            kind="delete",
            table=t,
            mod=mod,
            rem=rem,
            cow=True,
        )


# ── scenario driver ──────────────────────────────────────────────────────────

BAD_SQL = "ALTER TABLE __no_such_table__ UPDATE v = 0 WHERE k = 0"



def _expect_reject(fn, needle: str, ctx: str) -> None:
    """Run fn expecting the ENGINE's rejection (AssertionError/ValueError
    whose message contains `needle`).  The harness's own invariant
    failures are AssertionErrors too — the needle match keeps them
    distinguishable."""
    try:
        fn()
    except (AssertionError, ValueError) as e:
        assert needle in str(e), f"{ctx}: wrong rejection: {e}"
        return
    raise AssertionError(f"{ctx}: expected rejection ({needle!r}) did not happen")


def _write_script(home: str, version: int, stmts: list[str], rng: random.Random) -> str:
    """Randomly .json (multi-statement) or .sql (single statement —
    only when the script has exactly one)."""
    if len(stmts) == 1 and rng.random() < 0.4:
        path = os.path.join(home, f"V{version}__s.sql")
        with open(path, "w") as f:
            f.write(stmts[0])
    else:
        path = os.path.join(home, f"V{version}__s.json")
        with open(path, "w") as f:
            json.dump(stmts, f)
    return path


def _assert_state(spark, db: str, state: dict[str, Counter], ctx: str) -> None:
    """Exact (k, v) MULTISET comparison — duplicate rows (from the
    documented whole-script-rerun re-INSERT after an edit) must match
    the model row-for-row, not collapse through a dict."""
    for t, want in state.items():
        got = Counter(
            (r.k, r.v)
            for r in spark.table(f"`{db}`.`{t}`").select("k", "v").collect()
        )
        assert got == +want, f"{ctx}: table {t}: got {got} want {+want}"


def _assert_runner(spark, db: str, home: str, applied: list[int], ctx: str) -> None:
    """I1 and I3 through ``check_runner``, which keys the ledger by
    version; the row count catches a version ledgered twice, and the
    catalog columns a metadata table the runner did not widen."""
    md5 = {m.version: m.md5 for m in M.scan_migrations(home)}
    problems = check_runner(spark, db, {v: md5[v] for v in applied})
    assert not problems, f"{ctx}: {problems}"
    rows = spark.table(f"`{db}`.`{M.LEDGER}`").count()
    assert rows == len(applied), f"{ctx}: {rows} ledger rows for {len(applied)} versions"
    for name, schema in M._META_SCHEMAS.items():
        cols = spark.table(f"`{db}`.`{name}`").columns
        assert cols == schema.fieldNames(), f"{ctx}: {name} has columns {cols}"


def _create_pre_intent_tables(spark, db: str) -> None:
    """The claims and journal tables as older builds created them: claims
    without ``released``/``claim_id``, a journal without the swap-intent
    columns ``swap_id``/``target``.  The runner widens both in place, and
    creates the ledger, on first need."""
    spark.sql(
        f"CREATE TABLE `{db}`.`{M.CLAIMS}` "
        "(version BIGINT, owner STRING, started_at TIMESTAMP) USING PARQUET"
    )
    spark.sql(
        f"CREATE TABLE `{db}`.`{M.JOURNAL}` (version BIGINT, stmt_index BIGINT, "
        "md5 STRING, owner STRING, created_at TIMESTAMP) USING PARQUET"
    )


def run_scenario(spark, seed: int, n_epochs: int = 4, verbose: bool = False) -> None:
    rng = random.Random(seed)
    gen = Gen(rng)
    db = f"fuzzdb_{seed}_{uuid.uuid4().hex[:6]}"
    home = f"/tmp/runner_fuzz_{db}"
    os.makedirs(home, exist_ok=True)
    M.create_db(spark, db)
    if seed % 2:
        _create_pre_intent_tables(spark, db)
    else:
        M.init_db(spark, db)
    state: dict[str, Counter] = {}
    applied: list[int] = []
    version = 0
    # round 12: in ~half the scenarios, pre-create a PHYSICALLY
    # partitioned parquet table out-of-band — how production
    # partitioned tables actually appear (written by sinks/rollup
    # code; CH-dialect migration DDL records PARTITION BY as metadata
    # only) — so staged-INSERT publishes exercise the partition-aware
    # path (per-partition registration + renames) at every crash
    # boundary the faults below arm.  Partitioning by v keeps the
    # model's (k, v) multiset contract unchanged; a later COW mutation
    # legitimately rewrites the table flat, after which inserts take
    # the flat staged path — both layouts fuzz the same invariants.
    if rng.random() < 0.5:
        t_part = "fz_part"
        spark.sql(
            f"CREATE TABLE `{db}`.{t_part} (k BIGINT, v BIGINT) "
            "USING PARQUET PARTITIONED BY (v)"
        )
        gen.tables.append(t_part)
        gen.next_key[t_part] = 0
        state[t_part] = Counter()
    prev_db = spark.catalog.currentDatabase()
    orig_crash = M._crash_point
    try:
        for epoch in range(n_epochs):
            ctx = f"seed={seed} epoch={epoch}"
            # ── grow the migration dir ────────────────────────────────
            new: list[tuple[int, list[Stmt], str]] = []
            for _ in range(rng.randint(1, 3)):
                version += rng.randint(1, 3)  # gaps allowed
                stmts = [gen.stmt() for _ in range(rng.randint(1, 4))]
                path = _write_script(home, version, [s.sql for s in stmts], rng)
                new.append((version, stmts, path))

            fault = rng.choice(
                [
                    "none",
                    "midfail",
                    "crash",
                    "crashj",
                    "crashf",
                    "dupver",
                    "edit",
                    "delete",
                ]
            )
            if verbose:
                print(f"{ctx}: fault={fault} new={[v for v, _, _ in new]}")

            if fault == "dupver":
                # duplicate version file → scan rejects, run is a no-op
                dup_v = new[-1][0]
                dup = os.path.join(home, f"V{dup_v}__dup.sql")
                with open(dup, "w") as f:
                    f.write("SELECT 1")
                try:
                    _expect_reject(
                        lambda: M.migrate(spark, db, home),
                        "Duplicate migration version",
                        ctx,
                    )
                finally:
                    os.remove(dup)
            elif fault == "edit" and applied:
                # edit an applied script → diff rejects, run is a no-op
                tgt = rng.choice(
                    [f for f in os.listdir(home) if int(f.split("_")[0][1:]) in applied]
                )
                p = os.path.join(home, tgt)
                orig = open(p).read()
                with open(p, "w") as f:
                    f.write(orig + " ")
                try:
                    _expect_reject(
                        lambda: M.migrate(spark, db, home),
                        "Do not edit migrations once run",
                        ctx,
                    )
                finally:
                    with open(p, "w") as f:
                        f.write(orig)
            elif fault == "delete" and applied:
                tgt = rng.choice(
                    [f for f in os.listdir(home) if int(f.split("_")[0][1:]) in applied]
                )
                p = os.path.join(home, tgt)
                orig = open(p).read()
                os.remove(p)
                try:
                    _expect_reject(
                        lambda: M.migrate(spark, db, home),
                        "deleted from codebase but already run",
                        ctx,
                    )
                finally:
                    with open(p, "w") as f:
                        f.write(orig)
            elif fault == "midfail":
                # inject a failing statement into the LAST new script at
                # a random index BEFORE any CREATE or ADD COLUMN (either,
                # re-executed, would fail the rerun — the documented fix-and-rerun
                # contract makes that the user's problem, not the
                # orchestrator's; the fuzz pins orchestration);
                # fail-stop leaves prior statements' effects, ledger
                # without the failed version; the fixed rerun
                # re-executes the WHOLE script (model replays both)
                v_bad, stmts, path = new[-1]
                first_create = next(
                    (i for i, s in enumerate(stmts) if s.kind in ("create", "add_column")),
                    len(stmts),
                )
                bad_idx = min(rng.randint(0, len(stmts)), first_create)
                if verbose:
                    print(f"{ctx}: midfail v_bad={v_bad} bad_idx={bad_idx}")
                sqls = [s.sql for s in stmts]
                sqls.insert(bad_idx, BAD_SQL)
                os.remove(path)
                path = os.path.join(home, f"V{v_bad}__s.json")
                with open(path, "w") as f:
                    json.dump(sqls, f)
                new[-1] = (v_bad, stmts, path)
                raised = False
                try:
                    M.migrate(spark, db, home)
                except Exception:
                    raised = True
                assert raised, f"{ctx}: mid-script failure did not raise"
                # model: earlier new versions fully applied; bad script's
                # statements BEFORE the bad index applied (fail-stop)
                for v, ss, _ in new[:-1]:
                    for s in ss:
                        s.apply(state)
                    applied.append(v)
                for s in stmts[:bad_idx]:
                    s.apply(state)
                _assert_runner(spark, db, home, applied, ctx + " (post-fail)")
                _assert_state(spark, db, state, ctx + " (post-fail)")
                # fix: rewrite without the bad statement; rerun converges
                with open(path, "w") as f:
                    json.dump([s.sql for s in stmts], f)
                M.migrate(spark, db, home)
                for s in stmts:  # whole-script rerun semantics
                    s.apply(state)
                applied.append(v_bad)
            elif fault == "crash":
                # crash the FIRST cow statement of the new batch at a
                # random swap stage, then recover_cow + clear_claims +
                # rerun.  Model: statements before the cow applied once;
                # the cow applied per the recovery action; rerun replays
                # every script that was not yet in the ledger.
                # target is the FIRST cow statement of the batch (so
                # the armed crash_point hits it).  CREATEs before it
                # are fine since r10's statement journal (they journal
                # before the crash and the SAME-md5 rerun skips them);
                # the r11 create-exclusion here predated the journal.
                target = None
                for v, ss, _ in new:
                    for i, s in enumerate(ss):
                        if s.cow:
                            target = (v, i)
                            break
                    if target is not None:
                        break
                if target is None:
                    M.migrate(spark, db, home)
                    for v, ss, _ in new:
                        for s in ss:
                            s.apply(state)
                        applied.append(v)
                else:
                    stage = rng.choice(["before_drop", "after_drop"])
                    armed = {"n": 1}

                    def boom(s, _stage=stage, _armed=armed):
                        if s == _stage and _armed["n"] > 0:
                            _armed["n"] -= 1
                            raise RuntimeError("fuzz crash")

                    M._crash_point = boom
                    try:
                        M.migrate(spark, db, home)
                        raise AssertionError(f"{ctx}: injected crash did not raise")
                    except RuntimeError:
                        pass
                    finally:
                        M._crash_point = orig_crash
                    v_crash, i_crash = target
                    actions = M.recover_cow(spark, db)
                    # versions BEFORE the crashed one applied fully
                    for v, ss, _ in new:
                        if v == v_crash:
                            break
                        for s in ss:
                            s.apply(state)
                        applied.append(v)
                    crash_stmts = next(ss for v, ss, _ in new if v == v_crash)
                    for s in crash_stmts[:i_crash]:
                        s.apply(state)
                    act = actions.get(crash_stmts[i_crash].table, "rolled_back")
                    if act.startswith("completed"):
                        # ADVICE r9: forward recovery names the version
                        assert act == f"completed:V{v_crash}", f"{ctx}: {act}"
                        crash_stmts[i_crash].apply(state)
                    _assert_state(spark, db, state, ctx + " (post-recover)")
                    # crashed runner left its claim: clear, then rerun.
                    # STATEMENT JOURNAL (r10): the rerun RESUMES — the
                    # journaled [:i_crash] are skipped; the crashed cow
                    # is skipped too when recovery completed (it wrote
                    # the journal row from the swap's intent) and
                    # re-executed when rolled back.  Exactly-once.
                    M.clear_claims(spark, db)
                    M.migrate(spark, db, home)
                    for v, ss, _ in new:
                        if v in applied:
                            continue
                        if v == v_crash:
                            start = (
                                i_crash + 1
                                if act.startswith("completed")
                                else i_crash
                            )
                            for s in ss[start:]:
                                s.apply(state)
                        else:
                            for s in ss:
                                s.apply(state)
                        applied.append(v)
            elif fault == "crashj":
                # crash around the STATEMENT JOURNAL itself (r10): the
                # seam fires once per executed statement — before_stmt
                # (nothing done yet), after_stmt (cow effects durable /
                # insert rows STAGED but invisible, journal row lost),
                # after_journal (journal durable, insert not yet
                # published).  Model: every statement of every new version
                # applies EXACTLY once — the journaled prefix is
                # skipped on rerun (committed insert stages are
                # published by _reconcile_staged), an un-journaled cow
                # is journaled late from its swap intent,
                # and an un-journaled INSERT re-executes against a
                # target that never saw the staged rows (r11
                # exactly-once; the r10 at-least-once duplicate-INSERT
                # window is closed).
                seq = [(v, i, s) for v, ss, _ in new for i, s in enumerate(ss)]
                stages = ["before_stmt", "after_stmt", "after_journal"]
                if any(s.kind == "insert" for _v, _i, s in seq):
                    # r11: crash INSIDE a staged insert's publish loop
                    # (journal durable, data files partly renamed) —
                    # _reconcile_staged must finish the publish on rerun
                    stages.append("mid_publish")
                stage = rng.choice(stages)
                # r12: CREATE statements are armed at EVERY boundary —
                # the create-stamp (clickhouse.create_stamp) lets the
                # rerun recognize its own earlier attempt's table and
                # journal the statement late instead of fail-stopping
                # on TABLE_ALREADY_EXISTS (the r11 after_stmt
                # exclusion is gone).  mid_publish fires once per
                # published FILE, only for staged inserts — arm the
                # first firing (statement-index targeting doesn't apply)
                cand = list(range(len(seq)))
                k = 0 if stage == "mid_publish" else rng.choice(cand)
                # half the time, the after_stmt window of an ADD COLUMN
                # of the batch: only its stamp makes that exactly-once
                adds = [j for j, (_v, _i, s) in enumerate(seq) if s.kind == "add_column"]
                if adds and rng.random() < 0.5:
                    stage, k = "after_stmt", rng.choice(adds)
                if verbose:
                    print(f"{ctx}: crashj stage={stage} k={k}")
                armed_j = {"n": 0}

                def boomj(s, _stage=stage, _k=k, _armed=armed_j):
                    if s == _stage:
                        if _armed["n"] == _k:
                            _armed["n"] += 1
                            raise RuntimeError("fuzz crashj")
                        _armed["n"] += 1

                M._crash_point = boomj
                try:
                    M.migrate(spark, db, home)
                    raise AssertionError(f"{ctx}: injected crashj did not raise")
                except RuntimeError:
                    pass
                finally:
                    M._crash_point = orig_crash
                M.recover_cow(spark, db)
                M.clear_claims(spark, db)
                M.migrate(spark, db, home)
                for v, ss, _ in new:
                    for s in ss:
                        s.apply(state)
                    applied.append(v)
            elif fault == "crashf":
                # fallback-path after_stmt crash (VERDICT r11 #2): the
                # INSERT's target is NOT stageable (bucketed parquet,
                # JDBC sink, object store — simulated by
                # forcing _local_parquet_location to None), so it
                # executes DIRECT; a crash after its effects but before
                # its journal row makes the rerun re-execute it and
                # DUPLICATE its rows — the documented at-least-once
                # fallback window (README), never silent corruption.
                # Model: the armed insert applies TWICE, everything
                # else exactly once.
                seq = [(v, i, s) for v, ss, _ in new for i, s in enumerate(ss)]
                inserts = [k for k, (_v, _i, s) in enumerate(seq) if s.kind == "insert"]
                if not inserts:
                    M.migrate(spark, db, home)
                    for v, ss, _ in new:
                        for s in ss:
                            s.apply(state)
                        applied.append(v)
                else:
                    k = rng.choice(inserts)
                    if verbose:
                        print(f"{ctx}: crashf k={k}")
                    armed_f = {"n": 0}

                    def boomf(s, _k=k, _armed=armed_f):
                        if s == "after_stmt":
                            if _armed["n"] == _k:
                                _armed["n"] += 1
                                raise RuntimeError("fuzz crashf")
                            _armed["n"] += 1

                    orig_lpl = M._local_parquet_location
                    M._local_parquet_location = lambda *_a, **_k: None
                    M._crash_point = boomf
                    try:
                        try:
                            M.migrate(spark, db, home)
                            raise AssertionError(
                                f"{ctx}: injected crashf did not raise"
                            )
                        except RuntimeError:
                            pass
                        M._crash_point = orig_crash
                        M.recover_cow(spark, db)
                        M.clear_claims(spark, db)
                        # rerun with the target STILL non-stageable
                        M.migrate(spark, db, home)
                    finally:
                        M._crash_point = orig_crash
                        M._local_parquet_location = orig_lpl
                    # replay IN ORDER with the duplicate in place: the
                    # rerun re-executes insert k (second copy) BEFORE
                    # the statements after it, so later updates see and
                    # mutate both copies
                    for idx, (_v, _i, s) in enumerate(seq):
                        s.apply(state)
                        if idx == k:
                            s.apply(state)
                    for v, _ss, _ in new:
                        applied.append(v)
            if fault in ("none", "dupver", "edit", "delete"):
                # the faulted run was a no-op; a clean run applies all new
                M.migrate(spark, db, home)
                for v, ss, _ in new:
                    if v in applied:
                        continue
                    for s in ss:
                        s.apply(state)
                    applied.append(v)

            # ── invariants after every epoch ──────────────────────────
            _assert_runner(spark, db, home, applied, ctx)
            _assert_state(spark, db, state, ctx)
            assert M.migrate(spark, db, home) == 0, f"{ctx}: rerun not a no-op"
    finally:
        M._crash_point = orig_crash
        spark.catalog.setCurrentDatabase(prev_db)
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
        shutil.rmtree(home, ignore_errors=True)


def main() -> int:
    """CLI: ``runner_fuzz.py [n_scenarios] [seed] [--artifact PATH
    [--xproc K]]``.  Artifact mode (VERDICT r9 #5) records the seed
    for replay, runs the scenarios WITHOUT fail-fast (counting
    failures), optionally runs the REAL two-process racer K times as a
    fuzz stage (pytest tests/test_migrate_xproc.py in a fresh
    interpreter each run), and writes one JSON artifact with the seed
    and the failure count."""
    import time as _time

    args = [a for a in sys.argv[1:]]
    artifact = None
    xproc = 0
    if "--artifact" in args:
        i = args.index("--artifact")
        artifact = args[i + 1]
        del args[i : i + 2]
    if "--xproc" in args:
        i = args.index("--xproc")
        xproc = int(args[i + 1])
        del args[i : i + 2]
    n = int(args[0]) if len(args) > 0 else 10
    seed0 = int(args[1]) if len(args) > 1 else 900
    from clickhouse_migrator_spark.session import get_spark

    t0 = _time.time()
    spark = get_spark(app_name="runner-fuzz", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    failures: list[dict] = []
    for i in range(n):
        try:
            run_scenario(spark, seed0 + i, verbose=True)
            print(f"scenario {seed0 + i}: OK")
        except Exception as e:
            if artifact is None:
                raise
            failures.append({"seed": seed0 + i, "error": str(e)[:500]})
            print(f"scenario {seed0 + i}: FAILED: {e}")
    xproc_failures = 0
    import subprocess as _sp

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for i in range(xproc):
        r = _sp.run(
            [sys.executable, "-m", "pytest", "tests/test_migrate_xproc.py", "-x", "-q"],
            cwd=repo,
            capture_output=True,
            text=True,
        )
        ok = r.returncode == 0
        print(f"xproc race {i}: {'OK' if ok else 'FAILED'}")
        if not ok:
            xproc_failures += 1
            failures.append({"xproc_run": i, "error": r.stdout[-500:]})
    if artifact is not None:
        art = {
            "seed": seed0,
            "scenarios": n,
            "epochs_per_scenario": 4,
            "epochs": 4 * n,
            "faults": [
                "none",
                "midfail",
                "crash",
                "crashj",
                "crashf",
                "dupver",
                "edit",
                "delete",
            ],
            "xproc_races": xproc,
            "xproc_failures": xproc_failures,
            "failures": len(failures),
            "failure_detail": failures,
            "elapsed_s": round(_time.time() - t0, 1),
        }
        with open(artifact, "w") as f:
            json.dump(art, f, indent=1)
        print(f"artifact written: {artifact} (failures={len(failures)})")
        return 1 if failures else 0
    print(f"{n} scenarios, all invariants held")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
