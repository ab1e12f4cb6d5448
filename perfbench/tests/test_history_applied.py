"""On a tiny history, the generator's row model equals what migrate() builds."""

from __future__ import annotations

import contextlib
import hashlib
import io
import os

from checks import check_runner, check_tables
from clickhouse_migrator_spark import migrate as M
from history import SIZES, make_history


def test_row_model_matches_applied_state(spark, tmp_path):
    h = make_history(seed=2, n_versions=len(SIZES))
    home = str(tmp_path / "migrations")
    os.makedirs(home)
    applied = {}
    for v in h.versions:
        with open(os.path.join(home, v.filename), "w") as f:
            f.write(v.body)
        with contextlib.redirect_stdout(io.StringIO()):
            assert M.migrate(spark, "bench_model", home) == 1
        applied[v.version] = hashlib.md5(v.body.encode()).hexdigest()
    with contextlib.redirect_stdout(io.StringIO()):
        assert M.migrate(spark, "bench_model", home) == 0
    assert check_runner(spark, "bench_model", applied) == []
    n = len(h.versions)
    assert check_tables(spark, "bench_model", h.expected_columns(n), h.expected(n)) == []
    # the check is not vacuous: a wrong model is reported
    wrong = {t: rows[1:] for t, rows in h.expected(n).items()}
    assert check_tables(spark, "bench_model", h.expected_columns(n), wrong)
