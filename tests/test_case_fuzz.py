"""Bounded CI slice of the identifier-case-mutation fuzz
(tools/case_fuzz.py — VERDICT r10 #7).  Each epoch sweeps every
column-DDL/DML template: well-cased forms succeed, case-mutated
identifiers are rejected with the case-sensitive ValueError and leave
state untouched, IF [NOT] EXISTS variants no-op, and the one registered
KNOWN divergence (case-insensitive SELECT resolution) still holds.
Longer sweeps: ``python tools/case_fuzz.py 50``."""

from __future__ import annotations

import pytest

from tools.case_fuzz import run_epoch


@pytest.mark.parametrize("seed", [1100, 1101, 1102])
def test_identifier_case_fuzz(spark, db, seed):
    assert run_epoch(spark, db, seed) == []
