"""Query registry backing ``__spark_entry__.queries()`` / ``oracle_sql()``.

Every operator module registers its public queries here with an optional
DuckDB oracle SQL string.  Queries without an oracle are genuinely
non-SQL-expressible (probabilistic LSH candidate generation, streaming
state machines) and get the driver's weaker rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

#: the grading driver oracle-checks the FIRST N queries() entries
DRIVER_SAMPLE = 50


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB-runnable SQL, or None → rows-only check


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY and not os.environ.get("SPARK_GRAFT_ALLOW_REREGISTER"):
            # duplicate names would silently shadow an oracle pairing;
            # the env knob exists only for importlib.reload() in
            # interactive profiling sessions (tools/profile_query.py)
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


#: the driver-sample rotation round that orders ``queries()``
ROTATION_ROUND = 14


def current_round() -> int:
    """The rotation round ordering ``queries()``: :data:`ROTATION_ROUND`,
    or ``SPARK_GRAFT_ROTATION_ROUND`` when set (tests/tools)."""
    env = os.environ.get("SPARK_GRAFT_ROTATION_ROUND")
    return int(env) if env is not None else ROTATION_ROUND


def rotated_names(names: list[str], rnd: int, window: int = DRIVER_SAMPLE) -> list[str]:
    """Deterministic per-round rotation of the registry order (VERDICT
    r11 #4).  The driver's correctness gate checks only the FIRST
    ``window`` entries of ``queries()``; a fixed order left the other
    300+ queries permanently invisible to it.  Rotating the (sorted)
    name list by ``window`` positions per round sweeps the whole
    registry in ceil(len / window) consecutive rounds — 8 rounds at the
    current 353 — while staying bit-deterministic for a given tree
    (same round → same order, pinned in tests/test_driver_sample.py)."""
    base = sorted(names)
    if not base:
        return base
    off = ((rnd - 1) * window) % len(base)
    return base[off:] + base[:off]


def all_specs() -> dict[str, QuerySpec]:
    """Import all operator modules (side effect: registration) and
    return the full registry, ordered by the current round's rotation
    (the driver samples the first DRIVER_SAMPLE entries — see
    :func:`rotated_names`)."""
    from . import operators, streaming  # noqa: F401  (imports register queries)

    order = rotated_names(list(_REGISTRY), current_round())
    return {n: _REGISTRY[n] for n in order}
