"""Seeded migration-history generator and the row model it implies.

``make_history(seed, n)`` writes nothing: it returns ``n`` versions of
small ClickHouse-dialect migration scripts (``V<n>__*.sql`` holding one
statement, ``V<n>_*.json`` holding a list) together with a pure-Python
model of every user table after each version.  The benchmark reveals the
versions one ``migrate()`` call at a time and, after the timed phase,
compares the warehouse with the model of the last applied version.

Statement mix: CREATE TABLE (ReplacingMergeTree, or MergeTree with or
without a PARTITION BY key), INSERT VALUES of 1-4 rows, ALTER UPDATE /
DELETE, ADD / DROP / RENAME COLUMN, and OPTIMIZE FINAL.  The sequence
of statement kinds, of engines and of statements per version is fixed;
the seed picks tables, column names and values.  That keeps the cost of
version ``k`` nearly the same for every seed while the inputs still
differ.
"""

from __future__ import annotations

import copy
import json
import random
from dataclasses import dataclass, field

#: statements per version, cycled; with KINDS, the first four versions
#: (the run's whole history at the default ``--seconds``) hold every
#: statement kind
SIZES = (4, 3, 1, 4)

#: statement kinds, cycled across the whole history.  The first two
#: inserts both land in the first table, a ReplacingMergeTree, so the
#: second repeats a key and the OPTIMIZE FINAL of version 3 drops a row.
#: An infeasible kind (DROP or RENAME COLUMN with no added column)
#: becomes an ADD COLUMN.
KINDS = (
    "create",
    "insert",
    "insert",
    "create",
    "insert",
    "add_column",
    "update",
    "optimize",
    "delete",
    "rename_column",
    "drop_column",
    "insert",
)

#: CREATE flavours, cycled.  A physically partitioned parquet table is
#: not among them: the runner's CREATE translation cannot express one
#: (Spark wants USING before PARTITIONED BY, and the translator appends a
#: second USING unless USING ends the statement).
FLAVOURS = ("replacing", "merge_partition_by", "merge")

_WORDS = ("amber", "birch", "cedar", "delta", "ember", "fjord", "grove", "heath")
_PARTS = ("p0", "p1", "p2")


@dataclass
class Table:
    name: str
    flavour: str
    columns: list[str]  # in the order Spark stores them
    rows: list[dict] = field(default_factory=list)
    extra: list[str] = field(default_factory=list)  # added, droppable columns


@dataclass(frozen=True)
class Version:
    version: int
    filename: str
    body: str
    statements: tuple[str, ...]


@dataclass
class History:
    versions: list[Version]
    #: models[k] = {table name: Table} after versions[:k] are applied
    models: list[dict[str, Table]]

    def expected(self, applied: int) -> dict[str, list[tuple]]:
        """Table name -> sorted row tuples (columns in sorted-name order)
        after the first ``applied`` versions."""
        return {
            name: rows_of(t.columns, t.rows)
            for name, t in self.models[applied].items()
        }

    def expected_columns(self, applied: int) -> dict[str, list[str]]:
        return {n: list(t.columns) for n, t in self.models[applied].items()}


def rows_of(columns: list[str], rows: list[dict]) -> list[tuple]:
    cols = sorted(columns)
    return sorted(tuple(r[c] for c in cols) for r in rows)


def _lit(v) -> str:
    return f"'{v}'" if isinstance(v, str) else str(int(v))


class _Gen:
    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.tables: dict[str, Table] = {}
        self.n_tables = 0
        self.n_cols = 0
        self.next_id = 0

    # ── statement builders: each returns SQL and updates the model ──────

    def create(self) -> str:
        self.n_tables += 1
        name = f"t{self.n_tables}_{self.rng.choice(_WORDS)}"
        flavour = FLAVOURS[(self.n_tables - 1) % len(FLAVOURS)]
        cols = ["id", "v", "s"]
        if flavour == "replacing":
            sql = (
                f"CREATE TABLE {name} (id UInt64, v Int64, s String) "
                "ENGINE = ReplacingMergeTree ORDER BY id"
            )
        elif flavour == "merge":
            sql = (
                f"CREATE TABLE {name} (id UInt64, v Int64, s String) "
                "ENGINE = MergeTree ORDER BY id"
            )
        else:
            cols.append("p")
            sql = (
                f"CREATE TABLE {name} (id UInt64, v Int64, s String, p String) "
                "ENGINE = MergeTree PARTITION BY p ORDER BY id"
            )
        self.tables[name] = Table(name, flavour, cols)
        return sql

    def _pick(self) -> Table:
        return self.tables[self.rng.choice(sorted(self.tables))]

    def _row(self, t: Table, dup: bool) -> dict:
        if dup:
            rid = self.rng.choice(t.rows)["id"]  # a duplicate key for FINAL
        else:
            rid = self.next_id
            self.next_id += 1
        row = {"id": rid, "v": self.rng.randrange(100), "s": self.rng.choice(_WORDS)}
        if "p" in t.columns:
            row["p"] = self.rng.choice(_PARTS)
        for c in t.extra:
            row[c] = self.rng.randrange(1000)
        return row

    def insert(self) -> str:
        t = self._pick()
        # an insert into a non-empty ReplacingMergeTree repeats one key
        dup = t.flavour == "replacing" and bool(t.rows)
        rows = [self._row(t, dup and i == 0) for i in range(self.rng.randint(1, 4))]
        t.rows.extend(rows)
        values = ", ".join(
            "(" + ", ".join(_lit(r[c]) for c in t.columns) + ")" for r in rows
        )
        return f"INSERT INTO {t.name} ({', '.join(t.columns)}) VALUES {values}"

    def update(self) -> str:
        t = self._pick()
        m = self.rng.randint(2, 4)
        r = self.rng.randrange(m)
        if self.rng.random() < 0.5:
            k = self.rng.randint(1, 9)
            for row in t.rows:
                if row["id"] % m == r:
                    row["v"] += k
            return f"ALTER TABLE {t.name} UPDATE v = v + {k} WHERE id % {m} = {r}"
        w = self.rng.choice(_WORDS)
        for row in t.rows:
            if row["id"] % m == r:
                row["s"] = w
        return f"ALTER TABLE {t.name} UPDATE s = '{w}' WHERE id % {m} = {r}"

    def delete(self) -> str:
        # spare the ReplacingMergeTree tables the duplicate keys FINAL drops
        others = sorted(n for n, t in self.tables.items() if t.flavour != "replacing")
        t = self.tables[self.rng.choice(others)] if others else self._pick()
        m = self.rng.randint(5, 7)
        r = self.rng.randrange(m)
        t.rows[:] = [row for row in t.rows if row["id"] % m != r]
        return f"ALTER TABLE {t.name} DELETE WHERE id % {m} = {r}"

    def add_column(self) -> str:
        t = self._pick()
        self.n_cols += 1
        col = f"c{self.n_cols}"
        default = self.rng.randrange(50)
        t.columns.append(col)
        t.extra.append(col)
        for row in t.rows:
            row[col] = default
        return f"ALTER TABLE {t.name} ADD COLUMN {col} Int64 DEFAULT {default}"

    def _with_extra(self) -> Table | None:
        cands = sorted(n for n, t in self.tables.items() if t.extra)
        return self.tables[self.rng.choice(cands)] if cands else None

    def drop_column(self) -> str | None:
        t = self._with_extra()
        if t is None:
            return None
        col = self.rng.choice(t.extra)
        t.extra.remove(col)
        t.columns.remove(col)
        for row in t.rows:
            del row[col]
        return f"ALTER TABLE {t.name} DROP COLUMN {col}"

    def rename_column(self) -> str | None:
        t = self._with_extra()
        if t is None:
            return None
        col = self.rng.choice(t.extra)
        new = f"{col}_{self.rng.choice(_WORDS)}"
        t.extra[t.extra.index(col)] = new
        t.columns[t.columns.index(col)] = new
        for row in t.rows:
            row[new] = row.pop(col)
        return f"ALTER TABLE {t.name} RENAME COLUMN {col} TO {new}"

    def optimize(self) -> str:
        replacing = sorted(n for n, t in self.tables.items() if t.flavour == "replacing")
        t = self.tables[self.rng.choice(replacing)] if replacing else self._pick()
        if t.flavour == "replacing":
            # one survivor per ORDER BY key: the row whose non-key columns
            # (in storage order) compare greatest
            others = [c for c in t.columns if c != "id"]
            best: dict[int, dict] = {}
            for row in t.rows:
                cur = best.get(row["id"])
                if cur is None or [row[c] for c in others] > [cur[c] for c in others]:
                    best[row["id"]] = row
            t.rows[:] = list(best.values())
        return f"OPTIMIZE TABLE {t.name} FINAL"

    def statement(self, kind: str) -> str:
        if not self.tables:
            kind = "create"
        sql = getattr(self, kind)()
        if sql is None:  # nothing to drop or rename yet
            sql = self.add_column()
        return sql


def make_history(seed: int, n_versions: int) -> History:
    """The first ``n_versions`` versions for ``seed``; deterministic."""
    g = _Gen(seed)
    versions: list[Version] = []
    models: list[dict[str, Table]] = [{}]
    k = 0
    for i in range(n_versions):
        stmts = []
        for _ in range(SIZES[i % len(SIZES)]):
            stmts.append(g.statement(KINDS[k % len(KINDS)]))
            k += 1
        v = i + 1
        if len(stmts) == 1 and g.rng.random() < 0.5:
            filename, body = f"V{v}__step_{v}.sql", stmts[0] + "\n"
        else:
            filename, body = f"V{v}_step_{v}.json", json.dumps(stmts, indent=1) + "\n"
        versions.append(Version(v, filename, body, tuple(stmts)))
        models.append(copy.deepcopy(g.tables))
    return History(versions, models)
