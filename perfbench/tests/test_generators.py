"""Workload generation is a pure function of the seed."""

from __future__ import annotations

import hashlib
import json
import os
import re

import history
import run
from clickhouse_migrator_spark.tables import TABLES


def test_history_is_deterministic_per_seed():
    a, b = history.make_history(5, 12), history.make_history(5, 12)
    assert [v.body for v in a.versions] == [v.body for v in b.versions]
    assert [a.expected(k) for k in range(13)] == [b.expected(k) for k in range(13)]
    other = history.make_history(6, 12)
    assert [v.body for v in other.versions] != [v.body for v in a.versions]


def test_history_prefix_does_not_depend_on_length():
    short, long = history.make_history(3, 4), history.make_history(3, 9)
    assert [v.body for v in short.versions] == [v.body for v in long.versions[:4]]
    assert short.expected(4) == long.expected(4)


def test_history_shape_is_fixed_and_files_parse():
    h = history.make_history(11, 8)
    assert [len(v.statements) for v in h.versions] == [4, 3, 1, 4, 4, 3, 1, 4]
    for v in h.versions:
        if v.filename.endswith(".json"):
            assert json.loads(v.body) == list(v.statements)
        else:
            assert v.filename.startswith(f"V{v.version}__")
            assert v.body.strip() == v.statements[0]


def _bench_spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_a_timed_run_applies_every_statement_kind():
    n = run.n_versions(_bench_spec()["run_seconds"])
    for seed in range(20):
        h = history.make_history(seed, n)
        stmts = [s for v in h.versions for s in v.statements]
        for pattern in (
            r"ENGINE = ReplacingMergeTree", r"ENGINE = MergeTree PARTITION BY",
            r"^INSERT INTO", r"^ALTER TABLE \S+ UPDATE", r"^ALTER TABLE \S+ DELETE",
            r"^ALTER TABLE \S+ ADD COLUMN", r"^ALTER TABLE \S+ DROP COLUMN",
            r"^ALTER TABLE \S+ RENAME COLUMN", r"^OPTIMIZE TABLE \S+ FINAL",
        ):
            assert any(re.search(pattern, s) for s in stmts), (seed, pattern)
        assert max(len(v.statements) for v in h.versions) == 4
        # OPTIMIZE FINAL removes a duplicate key from the model
        k = next(i for i, v in enumerate(h.versions) if v.statements[0].startswith("OPTIMIZE"))
        before, after = h.expected(k), h.expected(k + 1)
        assert sum(map(len, after.values())) < sum(map(len, before.values())), seed


def test_vendored_dataset_matches_its_checksums():
    lines = open(os.path.join(run.DATA, "SHA256SUMS")).read().split("\n")
    sums = dict(reversed(ln.split()) for ln in lines if ln)
    assert sorted(sums) == sorted(f"{t}.parquet" for t in TABLES)
    for name, want in sums.items():
        with open(os.path.join(run.DATA, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == want, name


def test_panel_is_one_query_per_module_by_name():
    from clickhouse_migrator_spark.registry import all_specs

    specs = all_specs()
    for mod, name in run.PANEL.items():
        assert specs[name].fn.__module__.rsplit(".", 1)[1] == mod, name
    assert set(run.SUBSTRATE) < set(run.MODULES)


def test_benchmark_json_names_the_metrics_the_run_prints():
    spec = _bench_spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
