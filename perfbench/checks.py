"""Correctness checks, run after the timed phase.

Each check returns a list of problem strings (empty = correct).

- :func:`check_runner` verifies the runner's own invariants after a
  deploy loop: the ledger holds exactly the applied versions with their
  md5s, no claim is live, no journal row remains for a ledgered version,
  and no ``__stage_stmt_*`` / ``__cow_*`` table is left over.
- :func:`check_tables` compares the final user tables with the
  history generator's row model.
- :func:`Oracle` compares a query's rows with its DuckDB oracle on row
  count, column names and an order-insensitive hash of the normalised
  rows -- the comparison ``tools/check_correctness.py`` makes.  Oracle
  digests depend only on the dataset and the SQL text, so they are
  cached on disk between runs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import date, datetime, timezone

from pyspark.sql import functions as F

from clickhouse_migrator_spark import migrate as M
from clickhouse_migrator_spark.tables import TABLES


def check_runner(spark, db: str, applied: dict[int, str]) -> list[str]:
    """``applied`` maps version -> md5 of every script the loop applied."""
    problems = []
    ledger_q, claims_q, journal_q = (f"`{db}`.`{t}`" for t in (M.LEDGER, M.CLAIMS, M.JOURNAL))
    for q in (ledger_q, claims_q, journal_q):
        spark.catalog.refreshTable(q)
    ledger = {int(r.version): r.md5 for r in spark.table(ledger_q).collect()}
    if ledger != applied:
        problems.append(f"ledger {sorted(ledger.items())} != applied {sorted(applied.items())}")
    claims = spark.table(claims_q).collect()
    released = {r.claim_id for r in claims if r.released}
    live = sum(1 for r in claims if not r.released and r.claim_id not in released)
    if live:
        problems.append(f"{live} live claims")
    stale = spark.table(journal_q).filter(F.col("version").isin(list(ledger) or [-1])).count()
    if stale:
        problems.append(f"{stale} journal rows for ledgered versions")
    leftovers = [
        r.tableName
        for r in spark.sql(f"SHOW TABLES IN `{db}`").collect()
        if r.tableName.startswith(("__stage_stmt_", "__cow_"))
    ]
    if leftovers:
        problems.append(f"leftover tables {leftovers}")
    return problems


def check_tables(spark, db: str, columns: dict[str, list[str]], rows: dict[str, list[tuple]]) -> list[str]:
    problems = []
    for name, want_cols in sorted(columns.items()):
        df = spark.table(f"`{db}`.`{name}`")
        if sorted(df.columns) != sorted(want_cols):
            problems.append(f"{name}: columns {df.columns} != {want_cols}")
            continue
        got = sorted(tuple(r[c] for c in sorted(want_cols)) for r in df.collect())
        if got != rows[name]:
            problems.append(f"{name}: {len(got)} rows differ from the model's {len(rows[name])}")
    return problems


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime) and v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def digest(cols: list[str], rows) -> tuple[int, list[str], str]:
    """(row count, sorted column names, hash of the sorted normalised
    rows with columns in sorted-name order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(lines), sorted(cols), h


class Oracle:
    """DuckDB oracle digests over ``data_dir``, cached in ``cache_path``."""

    def __init__(self, data_dir: str, cache_path: str) -> None:
        self.data_dir = data_dir
        self.cache_path = cache_path
        self._con = None
        try:
            with open(cache_path) as f:
                self._cache = json.load(f)
        except (OSError, ValueError):
            self._cache = {}
        self._dirty = False

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute(f"SET threads TO {os.cpu_count()}")
            for t in TABLES:
                self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        return self._con

    def expected(self, sql: str) -> tuple[int, list[str], str]:
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self._cache:
            rel = self._duck().sql(sql)
            self._cache[key] = list(digest(list(rel.columns), rel.fetchall()))
            self._dirty = True
        n, cols, h = self._cache[key]
        return n, cols, h

    def check(self, name: str, oracle_sql: str | None, result) -> list[str]:
        """``result`` is the query's output as a pyarrow Table."""
        cols = result.column_names
        rows = list(zip(*(c.to_pylist() for c in result.columns))) if result.num_columns else []
        if oracle_sql is None:
            return [] if rows else [f"{name}: rows-only query returned 0 rows"]
        got = digest(cols, rows)
        want = tuple(self.expected(oracle_sql))
        if got == want:
            return []
        return [f"{name}: spark (rows, cols, hash) {got[:2]} != oracle {want[:2]} or hash differs"]

    def save(self) -> None:
        if self._dirty:
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._cache, f)
            os.replace(tmp, self.cache_path)
        if self._con is not None:
            self._con.close()
            self._con = None
