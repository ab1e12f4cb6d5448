"""Hygiene for the single-partition bounds registry (VERDICT r5 #7).

Full missing/stale consistency against actual physical plans is
enforced by ``tools/plan_audit.py`` (zero UNJUSTIFIED flags, zero
STALE entries; earlier runs are in ``archive/PLAN_AUDIT_r*.txt``).
These tests pin the cheap invariants so registry rot is caught in the
unit suite."""

from __future__ import annotations

from clickhouse_migrator_spark.plans.bounded_single_partition import BOUNDS


def test_every_entry_names_a_registered_query():
    import __spark_entry__ as entry

    names = set(entry.queries())
    unknown = sorted(set(BOUNDS) - names)
    assert unknown == [], f"bounds registered for unknown queries: {unknown}"


def test_entries_are_meaningful():
    for name, bound in BOUNDS.items():
        assert isinstance(bound, str) and len(bound) >= 10, name
        # every justification must state a bound source the auditor can
        # check: a row-count bound, the prefix substrate, or a scalar
        lowered = bound.lower()
        assert any(
            k in lowered
            for k in ("row", "scalar", "bucket", "grid", "cell", "frame",
                      "histogram", "#", "top-k", "sketch", "sample", "≤")
        ), (name, bound)


def test_streaming_queries_never_registered():
    # plan_audit skips streaming plans (can't build without running) —
    # a streaming entry here would never be validated against a plan
    assert not [n for n in BOUNDS if n.startswith("streaming_")]
