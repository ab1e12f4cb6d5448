"""Pins for bench.py's foreign-CPU attribution instrument (VERDICT r9
#2 root-cause work): per-query /proc/stat + process-subtree snapshots
that make host/neighbor contention visible in the bench artifact.

The r9 driver-session variance (3.3-7.4x inflation confined to
execution positions 84-95) was external CPU contention; this
instrument is how any future inflated window gets attributed from the
committed artifact alone (inflated wall + inflated foreign = machine;
inflated wall + quiet foreign = regression).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def test_cpu_snapshot_shape_and_monotonicity():
    busy0, mine0 = bench._cpu_snapshot()
    assert busy0 > 0 and mine0 > 0
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:  # burn ~0.3s in OUR process
        sum(i * i for i in range(10_000))
    busy1, mine1 = bench._cpu_snapshot()
    assert busy1 >= busy0 and mine1 >= mine0


def test_own_burn_attributed_to_subtree_not_foreign():
    hz = os.sysconf("SC_CLK_TCK")
    busy0, mine0 = bench._cpu_snapshot()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.6:
        sum(i * i for i in range(10_000))
    busy1, mine1 = bench._cpu_snapshot()
    mine_s = (mine1 - mine0) / hz
    # our own 0.6s burn lands in OUR subtree (generous lower bound for
    # sampling granularity) — it must never read as foreign load
    assert mine_s >= 0.4, mine_s


def test_live_child_process_burn_attributed_to_subtree():
    """A LIVE child process (the Spark JVM / reused pandas workers —
    the processes that exist while a query runs) counts as ours, not
    foreign.  Known edge, deliberately out of scope: a child that
    burns CPU and EXITS between two snapshots rolls its jiffies into
    the parent's cutime/cstime, which the subtree walk does not read —
    such a burn reads as foreign.  Irrelevant for the bench (the JVM
    and workers outlive every query) and fail-safe in direction (it
    can only OVERSTATE contention, never hide it)."""
    hz = os.sysconf("SC_CLK_TCK")
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import time\n"
            "t0 = time.process_time()\n"
            "while time.process_time() - t0 < 5:\n"
            "    sum(i * i for i in range(10000))\n",
        ]
    )
    try:
        busy0, mine0 = bench._cpu_snapshot()
        time.sleep(1.2)  # child burns ~1.2s of CPU while LIVE
        busy1, mine1 = bench._cpu_snapshot()
    finally:
        child.kill()
        child.wait()
    mine_s = (mine1 - mine0) / hz
    assert mine_s >= 0.7, mine_s


# ── per-query contention self-healing (VERDICT r11 #3) ──────────────────────


def test_contaminated_budget_shape():
    # under both thresholds → clean
    assert not bench._contaminated(0.5, 0.9, 32)
    assert not bench._contaminated(10.0, bench.RETRY_FOREIGN_PCT * 10 * 32, 32)
    # > max(1s, 25% of wall×cpus) → contaminated (the r11 incident
    # shape: 42.4 s of foreign CPU inside a 0.64 s query)
    assert bench._contaminated(0.64, 42.4, 32)
    assert bench._contaminated(10.0, bench.RETRY_FOREIGN_PCT * 10 * 32 + 1, 32)
    # instrument unavailable / errored run → never triggers
    assert not bench._contaminated(10.0, None, 32)
    assert not bench._contaminated(-1.0, 99.0, 32)


def _measure(specs, run_once, **kw):
    """(timings, foreign, retries) of one _measure_all pass."""
    m = bench._measure_all(specs, run_once, **kw)
    return m["queries"], m["foreign_cpu_s"], m["retries"]


def _fake_runner(script):
    """run_once stub fed from a {name: [(wall, fg, err), ...]} script —
    each call pops the next synthetic measurement for that query."""
    calls = {"n": 0}

    def run_once(name, spec):
        calls["n"] += 1
        return script[name].pop(0)

    return run_once, calls


def test_retry_engages_and_keeps_quieter_measurement():
    script = {
        "q_noisy": [(3.2, 42.4, False), (0.7, 0.2, False)],  # burst → quiet
        "q_clean": [(2.0, 0.1, False)],
    }
    run_once, calls = _fake_runner(script)
    resets = {"n": 0}
    timings, foreign, retries = _measure(
        {"q_noisy": None, "q_clean": None},
        run_once,
        cpus=32,
        reset_caches=lambda name, memos: resets.__setitem__("n", resets["n"] + 1),
    )
    assert calls["n"] == 3 and resets["n"] == 1
    assert timings == {"q_noisy": 0.7, "q_clean": 2.0}
    assert foreign == {"q_noisy": 0.2, "q_clean": 0.1}
    assert len(retries) == 1
    rec = retries["q_noisy"]
    assert rec["kept"] == "retry"
    assert rec["first_wall"] == 3.2 and rec["first_foreign_cpu_s"] == 42.4
    assert rec["retry_wall"] == 0.7 and rec["retry_foreign_cpu_s"] == 0.2


def test_retry_still_noisy_keeps_first_and_discloses():
    script = {"q": [(0.8, 20.0, False), (1.0, 25.0, False)]}
    run_once, _ = _fake_runner(script)
    timings, foreign, retries = _measure(
        {"q": None}, run_once, cpus=32
    )
    # both noisy: keep the first (quieter) — never ping-pong
    assert timings == {"q": 0.8} and foreign == {"q": 20.0}
    assert retries["q"]["kept"] == "first"


def test_retry_error_keeps_first_measurement():
    script = {"q": [(0.8, 20.0, False), (-1.0, None, True)]}
    run_once, _ = _fake_runner(script)
    timings, foreign, retries = _measure(
        {"q": None}, run_once, cpus=32
    )
    assert timings == {"q": 0.8}
    assert retries["q"]["kept"] == "first"
    assert retries["q"]["retry_wall"] is None


def test_clean_run_never_retries():
    script = {"a": [(1.0, 0.0, False)], "b": [(2.0, 0.5, False)]}
    run_once, calls = _fake_runner(script)
    timings, foreign, retries = _measure(
        {"a": None, "b": None}, run_once, cpus=32
    )
    assert calls["n"] == 2 and retries == {}


def test_errored_first_run_not_retried():
    script = {"q": [(-1.0, None, True)]}
    run_once, calls = _fake_runner(script)
    timings, foreign, retries = _measure(
        {"q": None}, run_once, cpus=32
    )
    assert timings == {"q": -1.0} and calls["n"] == 1 and retries == {}


def test_reset_receives_retried_query_name():
    script = {"dedup_x": [(3.0, 50.0, False), (0.5, 0.0, False)]}
    run_once, _ = _fake_runner(script)
    seen = []
    bench._measure_all(
        {"dedup_x": None},
        run_once,
        cpus=32,
        reset_caches=lambda name, memos: seen.append(name),
    )
    assert seen == ["dedup_x"]


def test_memo_families_cleared_only_for_their_consumers():
    """A contention retry must not measure reuse of state the query
    itself warmed, so it clears the memos the first attempt's fill
    events name — and only those: an unrelated query's retry that
    dropped the pair memo once shifted the whole substrate fill onto
    the next dedup/graph consumer (graph_degree_distribution 0.47 ->
    6.3 s at sf1).  A gram consumer outside dedup_* clears the shingle
    and token memos but never the pair table; a token-only consumer
    clears only the token memo; a query that read warm memos and filled
    nothing clears nothing.  Fills land on the query that paid them,
    and what each retry cleared is part of the artifact."""
    from clickhouse_migrator_spark import memo_events

    fills = {
        "dedup_x": ["token_arrays", "shingles_k3", "near_dup_pairs"],
        "pipeline_decontaminate_ngrams": ["token_arrays", "shingles_k3"],
        "pipeline_span_dedup_c4": ["token_arrays"],
    }
    script = {
        name: [(3.0, 50.0, False), (0.5, 0.0, False)]
        for name in (*fills, "graph_degree_distribution")
    }
    script["tpch_q1"] = [(1.0, 0.0, False)]
    base_run, _ = _fake_runner(script)

    def run_once(name, spec):
        for memo in fills.get(name, []):
            memo_events.record_fill(memo, 0.25)
        return base_run(name, spec)

    memo_events.record_fill("vec_arrays", 1.0)  # paid by no measured query
    resets = []
    m = bench._measure_all(
        dict.fromkeys(script),
        run_once,
        cpus=32,
        reset_caches=lambda name, memos: resets.append((name, memos)),
    )
    assert dict(resets) == {
        "dedup_x": ["near_dup_pairs", "shingles_k3", "token_arrays"],
        "pipeline_decontaminate_ngrams": ["shingles_k3", "token_arrays"],
        "pipeline_span_dedup_c4": ["token_arrays"],
        "graph_degree_distribution": [],
    }
    assert len(resets) == 4
    assert m["retry_memos_cleared"] == dict(resets)
    # both attempts of each filling query filled; nothing else paid one
    for name, memos in fills.items():
        assert [f["memo"] for f in m["memo_fills"][name]] == memos * 2
    assert set(m["memo_fills"]) == set(fills)


def test_memo_consumer_lists_match_call_graph(spark, sf_dir):
    """What a retry clears is read from the fill events, so the fill
    events must track the operators' actual substrate reads: built on a
    cold memo slate, every registered query outside dedup_*/graph_*
    whose function body reaches shingles() must fill the shingle and
    token memos, one that reaches only token_arrays() must fill the
    token memo alone, neither may fill the pair memo, and a query that
    reaches no memo fills nothing."""
    import inspect

    from clickhouse_migrator_spark import memo, memo_events
    from clickhouse_migrator_spark.registry import all_specs

    specs = all_specs()
    shingle_users, token_users = set(), set()
    for name, spec in specs.items():
        if name.startswith(("dedup_", "graph_")):
            continue
        src = inspect.getsource(spec.fn)
        if "shingles(" in src:
            shingle_users.add(name)
        elif "token_arrays(" in src:
            token_users.add(name)
    assert shingle_users and token_users

    def cold_fills(name):
        memo.invalidate(sf_dir)
        memo_events.drain_fills()
        specs[name].fn(spark, sf_dir)
        return {e["memo"] for e in memo_events.drain_fills()}

    for name in sorted(shingle_users):
        got = cold_fills(name)
        assert {"token_arrays", "shingles_k3"} <= got, name
        assert "near_dup_pairs" not in got, name
    for name in sorted(token_users):
        assert cold_fills(name) == {"token_arrays"}, name
    for innocent in (
        "events_attribution_linear",
        "agg_skew_kurt",
        "tpch_q1_pricing_summary",
        "pipeline_curriculum_phases",
    ):
        assert cold_fills(innocent) == set(), innocent


def test_memo_fill_events_record_and_drain():
    """VERDICT r12 #1: substrate fills are disclosed per query.  The
    event buffer is the seam — operators record, bench drains after
    each measurement, so a fill (or a retry-induced refill) lands on
    the exact query that paid it."""
    from clickhouse_migrator_spark import memo_events

    memo_events.drain_fills()  # isolate from any prior state
    memo_events.record_fill("near_dup_pairs", 1.23456)
    memo_events.record_fill("token_arrays", 0.5)
    got = memo_events.drain_fills()
    assert got == [
        {"memo": "near_dup_pairs", "s": 1.235},
        {"memo": "token_arrays", "s": 0.5},
    ]
    # drained: a second drain (the next query's) sees nothing
    assert memo_events.drain_fills() == []


# ── SPARK_GRAFT_BENCH_ONLY names must all exist ──────────────────────────────


def test_bench_only_unknown_name_exits_nonzero():
    env = {**os.environ, "SPARK_GRAFT_BENCH_ONLY": "definitely_not_a_query"}
    r = subprocess.run(
        [sys.executable, "-c", "import bench; bench.main()"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 2, r.stderr[-500:]
    assert "unknown queries" in r.stderr
