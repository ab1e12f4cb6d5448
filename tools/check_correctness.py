"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet fixtures, then compares row count, sorted
column names, and order-insensitive values.  Use while iterating:

    python tools/check_correctness.py [--pandas] [sf_dir] [query ...]

``--pandas`` switches to the DRIVER-FAITHFUL collection path: Spark
results through ``toPandas()`` and oracle results through DuckDB
``rel.df()``, normalized DTYPE-SENSITIVELY.  The default ``fetchall()``
path hands both sides to Python ints, which structurally cannot see
the divergence the driver's pandas hash sees — e.g. a DuckDB HUGEINT
sum becomes float64 ``6.0`` in pandas while Spark emits int64 ``6``
(VERDICT r4 "what's wrong #2", red for three rounds).  Run the gate
BOTH ways.
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime

import duckdb

sys.path.insert(0, ".")

from clickhouse_migrator_spark.session import get_spark  # noqa: E402
from clickhouse_migrator_spark.tables import TABLES  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact repr — queries are expected to round in-engine
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def _norm_pandas(v):
    """Dtype-sensitive cell normalization for the --pandas path: int64
    and float64 cells must hash DIFFERENTLY (``6`` vs ``6.0``), exactly
    as they do through the driver's pandas collection."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "None"
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return repr(int(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, np.bool_):
        return repr(bool(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, np.ndarray):
        return "[" + ",".join(_norm_pandas(x) for x in v.tolist()) + "]"
    if isinstance(v, list):
        return "[" + ",".join(_norm_pandas(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def _pandas_rows(df):
    """(columns, row tuples) from a pandas frame, cells left as the
    numpy scalars pandas hands out (dtype is the point)."""
    cols = list(df.columns)
    return cols, [tuple(row) for row in df.itertuples(index=False, name=None)]


def _rowset(cols, rows, norm=_norm):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


def main() -> int:
    argv = sys.argv[1:]
    pandas_mode = bool(argv) and argv[0] == "--pandas"
    if pandas_mode:
        argv = argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = get_spark(cpus=8, shuffle_partitions=8)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            if pandas_mode:
                scols, srows = _pandas_rows(sdf.toPandas())
            else:
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            rel = con.sql(oracles[name])
            if pandas_mode:
                dcols, drows = _pandas_rows(rel.df())
            else:
                dcols = [c for c in rel.columns]
                drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            norm = _norm_pandas if pandas_mode else _norm
            s, d = _rowset(scols, srows, norm), _rowset(dcols, drows, norm)
            if s != d:
                diff = [(a, b) for a, b in zip(s, d) if a != b][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS  {name} ({len(srows)} rows)")

    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
