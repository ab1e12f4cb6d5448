"""Identifier-case-mutation fuzz over the DDL/DML dialect surface
(VERDICT r10 #7).

ClickHouse resolves column identifiers CASE-SENSITIVELY and errors on
unknown ones; Spark's default analyzer (spark.sql.caseSensitive=false)
silently resolves case-mismatched identifiers — a quiet semantic
divergence from the reference engine.  Rounds 8-10 closed it for ALTER
UPDATE/DELETE targets, predicates, and RHS; this harness sweeps the
REST of the mutation surface: for every statement template with known
identifier slots, it

  1. executes the well-cased statement on a fresh mixed-case table and
     asserts it SUCCEEDS with the expected effect (no false rejections),
     then runs it once more, decorated with a leading ``--`` line and a
     ``/* */`` comment between two clauses, on another fresh table and
     asserts the same effect (comments are never part of the statement);
  2. mutates the case of one identifier occurrence (seeded random case
     pattern) and asserts the engine REJECTS it with the case-sensitive
     ValueError — never silently resolves it;
  3. re-runs the mutated form under IF EXISTS / IF NOT EXISTS (where the
     dialect has one) and asserts the documented NO-OP (state unchanged).

Statement kinds swept: ALTER UPDATE (target/pred/RHS), ALTER DELETE
(pred), ADD COLUMN DEFAULT (default expr + duplicate/case-sibling
target), DROP COLUMN, MODIFY COLUMN, RENAME COLUMN (src + dst
collision), CLEAR COLUMN IN PARTITION.

KNOWN_DIVERGENCES registers the one surface deliberately left
case-insensitive, with rationale; the harness PINS the divergence
(asserts current behavior) so a silent change is caught.

Usage:
    python tools/case_fuzz.py [n_epochs] [seed] [--json OUT.json]
Exit 0 = every template behaved; artifact records seed + counts.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from clickhouse_migrator_spark import migrate as M  # noqa: E402

#: Surfaces deliberately left case-INSENSITIVE, each with its rationale.
#: The fuzzer pins these (asserts the divergence still holds) so a
#: behavior change is a loud diff, not a silent one.
KNOWN_DIVERGENCES: dict[str, str] = {
    "select_passthrough": (
        "SELECT-side queries (passthrough/rewrite_query) resolve "
        "identifiers through Spark's analyzer, which is case-insensitive "
        "by default.  Read-only resolution cannot corrupt data (unlike a "
        "mutation aimed at the wrong column), every mutation path IS "
        "case-checked, and flipping spark.sql.caseSensitive engine-wide "
        "would change resolution for every analytics query on the "
        "session — a user-level conf choice, not a dialect shim.  "
        "Documented divergence from ClickHouse, which errors on "
        "case-mismatched SELECT identifiers."
    ),
}

# column case patterns a mutation draws from
def _mutations(word: str) -> list[str]:
    out = {word.upper(), word.lower(), word.capitalize(), word[0].swapcase() + word[1:]}
    out.discard(word)
    return sorted(out)


def _fresh_table(spark, db: str, rng: random.Random) -> str:
    t = f"cf_{uuid.uuid4().hex[:8]}"
    M.execute_statement(
        spark,
        f"CREATE TABLE {t} (Id Int64, vAl Int64, Name String) "
        "ENGINE = MergeTree ORDER BY tuple()",
    )
    spark.sql(f"INSERT INTO `{db}`.`{t}` VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    return t


def _state(spark, db: str, t: str):
    df = spark.table(f"`{db}`.`{t}`")
    return (tuple(df.columns), tuple(sorted(tuple(r) for r in df.collect())))


def run_epoch(spark, db: str, seed: int) -> list[str]:
    """One sweep over every template; returns failure descriptions."""
    rng = random.Random(seed)
    failures: list[str] = []

    # (label, well-cased SQL template, identifier slots to mutate,
    #  IF-EXISTS variant template or None)
    def templates(t: str):
        return [
            (
                "update_rhs",
                f"ALTER TABLE {t} UPDATE vAl = vAl + Id WHERE Id % 2 = 1",
                ["vAl", "Id"],
                None,
            ),
            (
                "delete_pred",
                f"ALTER TABLE {t} DELETE WHERE Id = 3 AND vAl > 0",
                ["Id", "vAl"],
                None,
            ),
            (
                "add_column_default",
                f"ALTER TABLE {t} ADD COLUMN nu Int64 DEFAULT Id + vAl",
                ["Id", "vAl"],
                None,
            ),
            (
                "drop_column",
                f"ALTER TABLE {t} DROP COLUMN vAl",
                ["vAl"],
                f"ALTER TABLE {t} DROP COLUMN IF EXISTS {{col}}",
            ),
            (
                "modify_column",
                f"ALTER TABLE {t} MODIFY COLUMN vAl Float64",
                ["vAl"],
                None,
            ),
            (
                "rename_column",
                f"ALTER TABLE {t} RENAME COLUMN vAl TO vAl2",
                ["vAl"],
                f"ALTER TABLE {t} RENAME COLUMN IF EXISTS {{col}} TO vAl2",
            ),
        ]

    for label, good_sql, slots, ifex_tpl in templates("__t__"):
        # 1. well-cased form succeeds on a fresh table
        t = _fresh_table(spark, db, rng)
        sql = good_sql.replace("__t__", t)
        try:
            M.execute_statement(spark, sql)
        except Exception as e:
            failures.append(f"{label}: well-cased form rejected: {e}")
            continue
        td = _fresh_table(spark, db, rng)
        decorated = "-- note, x\n" + good_sql.replace(
            "__t__", f"{td} /* c, d */", 1
        )
        try:
            M.execute_statement(spark, decorated)
            if _state(spark, db, td) != _state(spark, db, t):
                failures.append(f"{label}: commented form differs: {decorated!r}")
        except Exception as e:
            failures.append(f"{label}: commented form rejected: {e}")
        # 2. one mutated identifier occurrence must be rejected
        slot = rng.choice(slots)
        bad = rng.choice(_mutations(slot))
        t2 = _fresh_table(spark, db, rng)
        # replace ONE whole-word occurrence of the slot (templates place
        # identifiers only where identifiers are legal)
        import re as _re

        bad_sql = _re.sub(
            rf"\b{_re.escape(slot)}\b", bad, good_sql.replace("__t__", t2), count=1
        )
        before = _state(spark, db, t2)
        try:
            M.execute_statement(spark, bad_sql)
            failures.append(
                f"{label}: case-mutated identifier silently accepted: {bad_sql!r}"
            )
        except ValueError:
            if _state(spark, db, t2) != before:
                failures.append(f"{label}: rejected but state changed: {bad_sql!r}")
        except Exception as e:
            failures.append(f"{label}: wrong rejection type {type(e).__name__}: {e}")
        # 3. IF EXISTS variant of the mutated form is a no-op
        if ifex_tpl is not None:
            t3 = _fresh_table(spark, db, rng)
            ifex_sql = ifex_tpl.replace("__t__", t3).format(col=bad)
            before = _state(spark, db, t3)
            try:
                M.execute_statement(spark, ifex_sql)
                if _state(spark, db, t3) != before:
                    failures.append(f"{label}: IF EXISTS no-op changed state")
            except Exception as e:
                failures.append(f"{label}: IF EXISTS form rejected: {e}")

    # CLEAR COLUMN IN PARTITION (needs a recorded PARTITION BY)
    tp = f"cf_{uuid.uuid4().hex[:8]}"
    M.execute_statement(
        spark,
        f"CREATE TABLE {tp} (Id Int64, vAl Int64, d Date) "
        "ENGINE = MergeTree ORDER BY tuple() PARTITION BY toYYYYMM(d)",
    )
    spark.sql(
        f"INSERT INTO `{db}`.`{tp}` VALUES (1, 10, DATE'2024-01-15'), "
        "(2, 20, DATE'2024-02-15')"
    )
    M.execute_statement(spark, f"ALTER TABLE {tp} CLEAR COLUMN vAl IN PARTITION 202401")
    bad = rng.choice(_mutations("vAl"))
    before = _state(spark, db, tp)
    try:
        M.execute_statement(
            spark, f"ALTER TABLE {tp} CLEAR COLUMN {bad} IN PARTITION 202402"
        )
        failures.append(f"clear_column: case-mutated {bad!r} silently accepted")
    except ValueError:
        if _state(spark, db, tp) != before:
            failures.append("clear_column: rejected but state changed")
    M.execute_statement(
        spark, f"ALTER TABLE {tp} CLEAR COLUMN IF EXISTS {bad} IN PARTITION 202402"
    )
    if _state(spark, db, tp) != before:
        failures.append("clear_column: IF EXISTS no-op changed state")

    # ADD COLUMN duplicate / case-sibling targets
    t = _fresh_table(spark, db, rng)
    try:
        M.execute_statement(spark, f"ALTER TABLE {t} ADD COLUMN vAl Int64")
        failures.append("add_dup: duplicate ADD COLUMN silently replaced the column")
    except ValueError:
        pass
    before = _state(spark, db, t)
    M.execute_statement(spark, f"ALTER TABLE {t} ADD COLUMN IF NOT EXISTS vAl Int64")
    if _state(spark, db, t) != before:
        failures.append("add_dup: IF NOT EXISTS no-op changed state")
    try:
        M.execute_statement(spark, f"ALTER TABLE {t} ADD COLUMN VAL Int64")
        failures.append("add_case_sibling: case-sibling column accepted")
    except ValueError:
        pass
    # RENAME onto an existing name is rejected
    t = _fresh_table(spark, db, rng)
    try:
        M.execute_statement(spark, f"ALTER TABLE {t} RENAME COLUMN vAl TO Name")
        failures.append("rename_collision: rename onto existing column accepted")
    except ValueError:
        pass

    # pinned KNOWN divergence: SELECT-side stays case-insensitive
    t = _fresh_table(spark, db, rng)
    got = M.execute_statement(spark, f"SELECT count(*) AS n FROM {t} WHERE ID > 0")
    if got is None or got.collect()[0].n != 3:
        failures.append(
            "select_passthrough: pinned case-insensitive SELECT divergence "
            "no longer holds (update KNOWN_DIVERGENCES if intentional)"
        )
    return failures


def main() -> int:
    args = list(sys.argv[1:])
    artifact = None
    if "--json" in args:
        i = args.index("--json")
        artifact = args[i + 1]
        del args[i : i + 2]
    n = int(args[0]) if args else 8
    seed0 = int(args[1]) if len(args) > 1 else 1100
    from clickhouse_migrator_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name="case-fuzz", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    db = f"casefuzz_{uuid.uuid4().hex[:6]}"
    M.create_db(spark, db)
    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase(db)
    failures: list[str] = []
    try:
        for i in range(n):
            fs = run_epoch(spark, db, seed0 + i)
            for f in fs:
                print(f"epoch {i}: FAIL {f}")
            failures.extend(fs)
            if not fs:
                print(f"epoch {i}: OK")
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
    if artifact:
        with open(artifact, "w") as f:
            json.dump(
                {
                    "seed": seed0,
                    "epochs": n,
                    "templates_per_epoch": 10,
                    "known_divergences": sorted(KNOWN_DIVERGENCES),
                    "failures": len(failures),
                    "failure_detail": failures[:50],
                    "elapsed_s": round(time.time() - t0, 1),
                },
                f,
                indent=1,
            )
        print(f"artifact written: {artifact} (failures={len(failures)})")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
