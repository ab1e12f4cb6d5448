"""Benchmark of the migration runner and the registered queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each exists):

- ``migrate_history``: a deploy loop.  Each op reveals the next version
  of a seeded history of small migration scripts and calls
  ``migrate.migrate()``, which applies exactly that version; then
  ``migrate()`` is called again with nothing pending (``noop`` ops).
- ``queries_mix``: one closed-loop pass over a fixed panel of registered
  queries, one from each registering module but ``graph``, each built and its result
  fetched to the driver as Arrow batches.

``--seconds`` sets the number of versions and noop calls and the time
cap of the query pass; the query panel is fixed.  Set-up (session
start, warm-ups, workload generation) is repeated
``Workload.setups`` times in fresh sessions; the first also launches the
JVM, so ``setup_s`` is the median of the others.  The timed phase runs
in the last session.  Outputs are checked after the timed phase.  The
last line of stdout is one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``); lines before it print every metric with its unit.

The queries read ``perfbench/data/sf0.1``, a byte copy of the
repository's sf0.1 test fixture.  Everything the run writes goes under
``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import re
import shutil
import subprocess
import sys
import time
from urllib.parse import urlparse

from history import SIZES, make_history
from spans import Tracer, median, self_times, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
#: the runner's database
DB = "perfbench"
#: driver heap; the package default (16g) is sized for a 128 GiB host
DRIVER_MEM = "4g"
#: the query dataset: the sf0.1 fixture (lineitem 600,000 rows)
DATA = os.path.join(HERE, "data", "sf0.1")

#: the end-to-end metrics the final JSON line carries; the others
#: (wall_s, op_s.tail, noop_s.p50, error_ratio, space_amp) are printed
#: above it
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_s.p50": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}

#: runner layer -> attributes of clickhouse_migrator_spark.migrate it wraps
RUNNER_LAYERS = {
    "runner.bootstrap": ("create_db", "init_db", "_reconcile_live_markers"),
    "runner.scan": ("scan_migrations", "manifest_df"),
    "runner.diff": ("migrations_to_apply",),
    "runner.claim": ("_append_claim_row", "_live_claims"),
    "runner.journal_read": ("_journaled_stmts", "_read_journal_rows"),
    "runner.reconcile": ("_reconcile_staged",),
    "runner.translate": ("translate",),
    "runner.execute": ("_exec_translated",),
    "runner.cow_swap": ("_swap_overwrite",),
    "runner.stage": ("_maybe_stage_insert",),
    "runner.journal_append": ("_append_journal_row",),
    "runner.publish": ("_publish_stage",),
    "runner.compact": ("compact_journal",),
    "runner.describe": ("_describe_table", "_table_props"),
    "runner.apply_self": ("apply_migration",),
}
DATA_PATH_LAYERS = ("runner.translate", "runner.execute", "runner.cow_swap", "runner.stage", "runner.publish")

QUERY_LAYERS = (
    "query.build_s",
    "query.build_jobs",
    "query.catalyst.analysis_s",
    "query.catalyst.optimization_s",
    "query.catalyst.planning_s",
    "query.exec_s",
    "query.exec_jobs",
    "query.exec_tasks",
    "memo.fills",
    "memo.fill_s",
    "plan.exchanges",
    "plan.python_nodes",
)
#: registering module (short name) -> the query ``queries_mix`` runs from
#: it, in this order.  Each is the module's middle query by sorted name,
#: except two.  ```graph``` is left out: every graph query builds the
#: near-duplicate graph first, ~14 s cold, a third of the pass, and the
#: run budget (4 + 22 x 2 runs in 3420 s) has no room for it.  ``dedup``
#: runs ``dedup_shingle_cap_audit`` in place of the 0.3 s
#: ``dedup_lsh_s_curve``, so that the pass fills the token-array memo on
#: the fixture's real text.
PANEL = {
    "aggregates": "agg_hdr_histogram_buckets",
    "stats": "agg_value_auc",
    "asof": "asof_pandas_last_purchase",
    "dedup": "dedup_shingle_cap_audit",
    "dialect": "dialect_numbers_grid",
    "events": "events_retention_matrix_weekly",
    "joins": "join_fuzzy_entity_match",
    "multimodal": "multimodal_feature_extract",
    "pipeline": "pipeline_language_temperature_mix",
    "sampling": "sample_stratified_by_priority",
    "scalars": "scalar_geo_haversine",
    "setops": "setop_intersect_nations",
    "similarity": "sim_jl_projection_audit",
    "events_stream": "streaming_session_window_30m",
    "subqueries": "subquery_exists_shipped_parts",
    "text": "text_lexical_diversity_by_source",
    "tpch_ext": "tpch_q19_discounted_revenue",
    "tpch": "tpch_q2_min_cost_supplier",
    "windows": "window_ntile_percentiles",
}
MODULES = tuple(sorted(PANEL))
SUBSTRATE = ("dedup", "events_stream", "multimodal", "pipeline", "similarity", "text")

PER_LAYER: dict[str, str] = {}
for _layer in RUNNER_LAYERS:
    PER_LAYER.update({f"{_layer}.self_s": "s", f"{_layer}.calls": "count", f"{_layer}.jobs": "count"})
PER_LAYER.update({"runner.meta_files": "count", "runner.jobs_per_op": "count"})
PER_LAYER.update({m: ("s" if m.endswith("_s") else "count") for m in QUERY_LAYERS})
for _m in MODULES:
    PER_LAYER.update({f"build_s.{_m}": "s", f"exec_s.{_m}": "s"})
PER_LAYER.update({
    "jvm.gc_s": "s",
    "proc.foreign_cpu_s": "s",
    "proc.contaminated_ops": "count",
    "trace.overhead_s": "s",
})

_PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState", "MapInPandas", "MapInArrow", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInArrow",
)


# ── process tree: CPU, foreign CPU, peak RSS ────────────────────────────────


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime jiffies)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rfind(")") + 2:].split()
        out[int(pid)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return out


def _tree(procs) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def cpu_snapshot() -> tuple[int, int]:
    """(busy jiffies of the whole machine, jiffies of this process tree)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    procs = _procs()
    mine = sum(procs[p][1] for p in _tree(procs) if p in procs)
    return sum(vals) - vals[3] - vals[4], mine


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS."""
    total = 0
    for pid in _tree(_procs()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def contaminated(wall: float, foreign_s: float, cpus: int) -> bool:
    """Foreign CPU in an op's window above max(1 s, 25% of its capacity)."""
    return foreign_s > max(1.0, 0.25 * wall * cpus)


# ── sessions ────────────────────────────────────────────────────────────────


def start_session(warehouse: str):
    from clickhouse_migrator_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=os.cpu_count(), warehouse_dir=warehouse)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def gc_seconds(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ── workloads ───────────────────────────────────────────────────────────────


class Workload:
    """One workload: ``setup`` (repeatable), ``run`` (timed), ``check``."""

    #: set-ups per run: one cold (JVM launch), the rest give ``setup_s``
    setups = 3

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.latencies: list[float] = []  # ops that do work
        self.noop_latencies: list[float] = []
        self.failed = 0
        self.skipped = 0  # ops a time cap kept from running; each is failed
        self.problems: list[str] = []
        self.extra: dict[str, tuple[float, str]] = {}

    def attempted(self) -> int:
        return len(self.latencies) + len(self.noop_latencies) + self.skipped


class MigrateHistory(Workload):
    """Deploy loop over a seeded history of small migration scripts."""

    def setup(self, spark, i: int) -> None:
        # no warm-up migrate(): it cost ~8 s cold and ~4 s warm per set-up;
        # the first version pays the runner's first-use cost instead, the
        # same one on every run, and lands in the tail
        spark.range(1).count()
        self.n_noops = max(2, round(self.args.seconds / 15))
        self.history = make_history(self.args.seed, n_versions(self.args.seconds))
        self.home = os.path.join(self.work, f"migrations-{i}")
        os.makedirs(self.home)

    def op(self, spark, expect: int, tracer) -> tuple[float, bool]:
        from clickhouse_migrator_spark import migrate as M

        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(sys.stderr):
                if tracer is None:
                    n = M.migrate(spark, DB, self.home)
                else:
                    with tracer.span("runner.op"):
                        n = M.migrate(spark, DB, self.home)
        except Exception as e:  # a failed deploy is an error, not a crash
            print(f"perfbench: migrate() failed: {e!r}", file=sys.stderr)
            n = -1
        dt = time.perf_counter() - t0
        if n != expect:
            self.failed += 1
            self.problems.append(f"migrate() returned {n}, expected {expect}")
        return dt, n == expect

    def run(self, spark, tracer, on_op) -> None:
        self.applied: dict[int, str] = {}
        for v in self.history.versions:
            with open(os.path.join(self.home, v.filename), "w") as f:
                f.write(v.body)
            lat, ok = self.op(spark, 1, tracer)
            self.latencies.append(lat)
            on_op(lat)
            print(f"perfbench: op V{v.version} ({len(v.statements)} statements) {lat:.3f}s", file=sys.stderr)
            if not ok:
                return  # fail-stop: later versions cannot apply
            self.applied[v.version] = hashlib.md5(v.body.encode()).hexdigest()
        for _ in range(self.n_noops):
            lat, _ok = self.op(spark, 0, tracer)
            self.noop_latencies.append(lat)
            on_op(lat)

    def check(self, spark) -> None:
        from checks import check_runner, check_tables

        n = len(self.applied)
        found = check_runner(spark, DB, self.applied) + check_tables(
            spark, DB, self.history.expected_columns(n), self.history.expected(n)
        )
        self.problems += found
        self.failed = min(self.attempted(), self.failed + len(found))
        self.extra["noop_s.p50"] = (_median(self.noop_latencies), "s")
        self.extra["space_amp"] = (self.space_amp(spark), "ratio")

    def user_tables(self, spark) -> list[str]:
        return [
            r.tableName for r in spark.sql(f"SHOW TABLES IN `{DB}`").collect()
            if not r.tableName.startswith("__") and r.tableName != "schema_versions"
        ]

    def space_amp(self, spark) -> float:
        """Warehouse bytes on disk / bytes of live user-table data files."""
        live = 0
        for t in self.user_tables(spark):
            loc = spark.sql(f"DESCRIBE TABLE EXTENDED `{DB}`.`{t}`").filter("col_name = 'Location'").first()
            live += _data_bytes(urlparse(loc.data_type).path)
        total = _dir_bytes(os.path.join(self.warehouse, f"{DB}.db"))
        return total / live if live else float("nan")

    def meta_files(self) -> int:
        from clickhouse_migrator_spark import migrate as M

        base = os.path.join(self.warehouse, f"{DB}.db")
        return sum(
            _count_data_files(os.path.join(base, t.lower()))
            for t in (M.LEDGER, M.CLAIMS, M.JOURNAL)
        )


def n_versions(seconds: int) -> int:
    """Versions a run applies: ~6 s each, and at least one full cycle of
    ``SIZES`` so that every statement kind runs."""
    return max(len(SIZES), round(seconds / 6))


class QueriesMix(Workload):
    """One pass over a fixed panel of registered queries."""

    setups = 2  # ~3.5 s warm, against ~0.5 s for a migrate_history set-up

    def setup(self, spark, i: int) -> None:
        from clickhouse_migrator_spark.registry import all_specs

        self.data = DATA
        _warm_queries(spark, self.data)
        self.specs = all_specs()
        # a fixed order: the first queries of a pass run on a cold JVM
        # (JIT, codegen), so a seeded order moves that cost between
        # queries and spreads op_s.p50 by ~45% across seeds
        self.order = list(PANEL.values())

    def run(self, spark, tracer, on_op) -> None:
        from clickhouse_migrator_spark.memo_events import drain_fills

        self.results = []
        cap = time.perf_counter() + 4 * self.args.seconds  # keeps a run under 180 s
        drain_fills()
        for k, name in enumerate(self.order):
            if time.perf_counter() > cap:
                # a slowdown must not shrink the panel unseen
                self.skipped = len(self.order) - k
                self.failed += self.skipped
                self.problems.append(f"time cap: {self.skipped} queries from {name} on not run")
                break
            spec = self.specs[name]
            root = None
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    result = spec.fn(spark, self.data).toArrow()
                else:
                    result, root = _traced_query(spark, spec, self.data, tracer)
            except Exception as e:
                print(f"perfbench: {name} failed: {e!r}", file=sys.stderr)
                self.failed += 1
                self.problems.append(f"{name}: {type(e).__name__}")
                result = None
            lat = time.perf_counter() - t0
            self.latencies.append(lat)
            on_op(lat)
            fills = drain_fills()
            print(f"perfbench: op {name} {lat:.3f}s fills={[f['memo'] for f in fills]}", file=sys.stderr)
            if root is not None:
                root.info["memo"] = fills
            if result is not None:
                self.results.append((name, result))

    def check(self, spark) -> None:
        from checks import Oracle

        oracle = Oracle(self.data, os.path.join(BUILD, "oracle-digests-sf0.1.json"))
        try:
            for name, result in self.results:
                bad = oracle.check(name, self.specs[name].oracle, result)
                self.problems += bad
                self.failed += bool(bad)
        finally:
            oracle.save()


def _warm_queries(spark, data: str) -> None:
    """Hoist one-time costs (parquet footers, the Python worker pool,
    Arrow result fetch, local checkpoints) out of whichever query would
    run first."""
    from pyspark.sql import functions as F

    spark.read.parquet(f"{data}/lineitem.parquet").limit(1).toArrow()
    spark.range(64).groupBy(F.col("id") % 8).applyInPandas(lambda p: p, "id bigint").toArrow()
    spark.range(16).localCheckpoint(eager=True).count()


def _traced_query(spark, spec, data: str, tracer):
    """Build, plan and fetch one query inside nested spans; the root
    span carries the Catalyst phases and plan node counts."""
    with tracer.span("query") as root:
        with tracer.span("query.build"):
            df = spec.fn(spark, data)
        with tracer.span("query.plan"):
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            phases = qe.tracker().phases()
            root.info["catalyst"] = {
                p: (phases.get(p).get().durationMs() / 1000.0 if phases.get(p).isDefined() else 0.0)
                for p in ("analysis", "optimization", "planning")
            }
            lines = plan.splitlines()
            root.info["exchanges"] = sum(1 for ln in lines if re.search(r"\b(Broadcast)?Exchange\b", ln))
            root.info["python_nodes"] = sum(1 for ln in lines if re.search(r"\b(" + "|".join(_PY_NODES) + r")\b", ln))
        with tracer.span("query.exec", count_tasks=True):
            result = df.toArrow()
    root.info["module"] = spec.fn.__module__.rsplit(".", 1)[1]
    return result, root


# ── helpers ─────────────────────────────────────────────────────────────────


def _median(xs: list[float]) -> float:
    return median(xs) if xs else float("nan")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(path) for f in fs
    )


def _data_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(b, f))
        for b, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    )


def _count_data_files(path: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def layer_metrics(w: Workload, tracer, ops: int, spark_gc_s: float, foreign: list[float]) -> dict[str, float]:
    """Per-layer metrics; times and counts are means per op."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    layers = tracer.by_layer()
    jobs = 0
    for layer in RUNNER_LAYERS:
        d = layers.get(layer)
        if d:
            m[f"{layer}.self_s"] = d["self_s"] / ops
            m[f"{layer}.calls"] = d["calls"] / ops
            m[f"{layer}.jobs"] = d["jobs"] / ops
            jobs += d["jobs"]
    if isinstance(w, MigrateHistory):
        jobs += layers.get("runner.op", {}).get("jobs", 0)
        m["runner.jobs_per_op"] = jobs / ops
        m["runner.meta_files"] = w.meta_files()
    for name, key in (("query.build", "build"), ("query.exec", "exec")):
        d = layers.get(name)
        if d:
            m[f"query.{key}_s"] = d["self_s"] / ops
            m[f"query.{key}_jobs"] = d["jobs"] / ops
    m["query.exec_tasks"] = layers.get("query.exec", {}).get("tasks", 0) / ops
    selfs = self_times(tracer.spans)
    kids: dict[int, dict[str, float]] = {}
    for i, s in enumerate(tracer.spans):
        if s.parent is not None:
            kids.setdefault(s.parent, {})[s.layer] = selfs[i]
    for i, s in enumerate(tracer.spans):
        if s.layer != "query":
            continue
        for p, v in s.info.get("catalyst", {}).items():
            m[f"query.catalyst.{p}_s"] += v / ops
        m["plan.exchanges"] += s.info.get("exchanges", 0) / ops
        m["plan.python_nodes"] += s.info.get("python_nodes", 0) / ops
        fills = s.info.get("memo", [])
        m["memo.fills"] += len(fills) / ops
        m["memo.fill_s"] += sum(f["s"] for f in fills) / ops
        mod = s.info.get("module")
        if mod in MODULES:
            m[f"build_s.{mod}"] += kids.get(i, {}).get("query.build", 0.0) / ops
            m[f"exec_s.{mod}"] += kids.get(i, {}).get("query.exec", 0.0) / ops
    m["jvm.gc_s"] = spark_gc_s / ops
    m["proc.foreign_cpu_s"] = sum(foreign) / ops
    # the forced physical plan exists only to read Catalyst phases and
    # plan shape, so it is tracing cost too
    plan_s = layers.get("query.plan", {}).get("self_s", 0.0)
    m["trace.overhead_s"] = (tracer.overhead_s + plan_s) / ops
    return m


# ── main ────────────────────────────────────────────────────────────────────

WORKLOADS = {"migrate_history": MigrateHistory, "queries_mix": QueriesMix}


def _environment() -> None:
    """Point every library at the checkout before the JVM starts."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the package from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


def _versions(spark) -> dict[str, str]:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "cores": str(os.cpu_count()),
        "pyspark": pyspark.__version__,
        "jdk": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEM,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "clickhouse_migrator_spark", "migrate.py")):
        print(f"perfbench: no clickhouse_migrator_spark package under {ROOT}", file=sys.stderr)
        return 2
    _environment()

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    w = WORKLOADS[args.workload](args, work)
    spark = None
    setups = []
    try:
        os.makedirs(work)
        for i in range(w.setups):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            w.warehouse = os.path.join(work, f"warehouse-{i}")
            spark = start_session(w.warehouse)
            w.setup(spark, i)
            setups.append(time.perf_counter() - t0)
            print(f"perfbench: set-up {i} took {setups[-1]:.2f}s", file=sys.stderr)
        result = measure(w, spark, args)
        versions = _versions(spark)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    result["setup_s"] = (_median(setups[1:]), "s")
    result["setup_first_s"] = (setups[0], "s")

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in versions.items()))
    for k, (v, unit) in result.items():
        print(f"  {k:34s} {v:12.6g} {unit}")
    for p in w.problems:
        print(f"  PROBLEM {p}")
    keys = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": w.failed == 0,
        "attempted": w.attempted(),
        "failed": w.failed,
        "metrics": {k: {"value": result[k][0], "unit": keys[k]} for k in keys},
    }))
    return 0


def measure(w: Workload, spark, args) -> dict[str, tuple[float, str]]:
    tracer = None
    if args.trace:
        from clickhouse_migrator_spark import migrate as M

        tracer = Tracer(spark)
        if isinstance(w, MigrateHistory):
            for layer, attrs in RUNNER_LAYERS.items():
                for a in attrs:
                    tracer.wrap(M, a, layer)
    foreign: list[float] = []
    hz = os.sysconf("SC_CLK_TCK")
    contaminated_ops = 0
    snap = [cpu_snapshot()] if args.trace else None

    def on_op(lat: float) -> None:
        nonlocal contaminated_ops
        if snap is None:
            return
        t = time.perf_counter()
        cur = cpu_snapshot()
        fg = max(0, (cur[0] - snap[0][0]) - (cur[1] - snap[0][1])) / hz
        foreign.append(fg)
        contaminated_ops += contaminated(lat, fg, os.cpu_count())
        snap[0] = cpu_snapshot()
        tracer.overhead_s += time.perf_counter() - t

    gc0 = gc_seconds(spark)
    busy0, cpu0 = cpu_snapshot()
    t0 = time.perf_counter()
    try:
        w.run(spark, tracer, on_op)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
    wall = time.perf_counter() - t0
    busy1, cpu1 = cpu_snapshot()
    gc = gc_seconds(spark) - gc0
    rss = peak_rss_mb()
    ops = max(1, w.attempted())
    t1 = time.perf_counter()
    w.check(spark)
    print(f"perfbench: timed phase {wall:.2f}s, checks {time.perf_counter() - t1:.2f}s", file=sys.stderr)

    lat = w.latencies or [float("nan")]
    tv, tp, tn = tail(lat)
    out = {
        "wall_s": (wall, "s"),
        "ops_per_s": ((w.attempted() - w.skipped) / wall, "1/s"),
        "op_s.p50": (_median(lat), "s"),
        "op_s.tail": (tv, "s"),
        "op_s.tail_pct": (tp, "%"),
        "op_s.tail_beyond": (tn, "count"),
        "op_s.samples": (len(w.latencies), "count"),
        "error_ratio": (w.failed / ops, "ratio"),
        "cpu_s_per_op": ((cpu1 - cpu0) / hz / ops, "s"),
        "peak_rss_mb": (rss, "MB"),
        "foreign_cpu_s": (max(0, (busy1 - busy0) - (cpu1 - cpu0)) / hz, "s"),
    }
    out.update(w.extra)
    if tracer is not None:
        layers = layer_metrics(w, tracer, ops, gc, foreign)
        layers["proc.contaminated_ops"] = contaminated_ops
        out.update({k: (v, PER_LAYER[k]) for k, v in layers.items()})
        out.update(_purpose(layers))
    return out


def _purpose(m: dict[str, float]) -> dict[str, tuple[float, str]]:
    """The shares that show a workload does what it is for."""
    runner = sum(m[f"{layer}.self_s"] for layer in RUNNER_LAYERS)
    data = sum(m[f"{layer}.self_s"] for layer in DATA_PATH_LAYERS)
    out = {}
    if runner:
        out["check.runner_bookkeeping_share"] = (1 - data / runner, "ratio")
    for group, mods in (("substrate", SUBSTRATE), ("relational", tuple(x for x in MODULES if x not in SUBSTRATE))):
        b = sum(m[f"build_s.{x}"] for x in mods)
        e = sum(m[f"exec_s.{x}"] for x in mods)
        if b + e:
            out[f"check.build_share.{group}"] = (b / (b + e), "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main())
