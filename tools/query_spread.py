"""Single-query N-repeat spread probe with plan-shape forensics
(VERDICT r10 #4: the sf10 `dedup_minhash_lsh_pairs` variance).

A bare wall-clock spread cannot distinguish three mechanisms:

  a) external CPU contention      → foreign_cpu_s inflates with wall;
  b) a real plan-shape sensitivity (e.g. AQE partition-count flapping
     on the k-gram fan-out)       → shuffle bytes / task counts / spill
                                    differ across runs;
  c) host-level variability (CPU frequency, hypervisor neighbors that
     steal without showing in guest /proc)
                                  → wall varies while BOTH the plan
                                    metrics AND executor CPU-seconds
                                    per run stay flat (frequency) or
                                    CPU-seconds track wall (real work).

This probe runs ONE registered query N times in one session and
records, per run: wall seconds, foreign CPU seconds (bench.py's
/proc/stat instrument), and the Spark stage metrics of exactly that
run's stages via the UI REST API — shuffle read/write bytes,
memory/disk spill, task count, and summed executor run time.  Identical
bytes/tasks across runs rules out (b); quiet foreign CPU rules out (a);
the wall-vs-executorRunTime relationship then separates frequency
effects from real work.

Usage:
    python tools/query_spread.py QUERY SF_DIR [N] [--json OUT.json]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from clickhouse_migrator_spark import memo  # noqa: E402


def _rest(port: int, path: str):
    with urllib.request.urlopen(f"http://localhost:{port}/api/v1/{path}", timeout=10) as r:
        return json.loads(r.read())


def _stages(port: int, app_id: str) -> dict[int, dict]:
    out = {}
    for s in _rest(port, f"applications/{app_id}/stages?status=complete"):
        out[(s["stageId"], s["attemptId"])] = s
    return out


STAGE_FIELDS = (
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "executorRunTime",
    "numCompleteTasks",
)


def main() -> int:
    args = list(sys.argv[1:])
    artifact = None
    if "--json" in args:
        i = args.index("--json")
        artifact = args[i + 1]
        del args[i : i + 2]
    qname, sf_dir = args[0], args[1]
    n = int(args[2]) if len(args) > 2 else 5

    from clickhouse_migrator_spark.session import RUNTIME_CONFS

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    builder = (
        SparkSession.builder.appName("query-spread")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "true")  # REST metrics source
        .config("spark.ui.port", "4049")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.retainedStages", "5000")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1])
    app_id = spark.sparkContext.applicationId

    import __spark_entry__ as entrymod
    from bench import _cpu_snapshot, materialize

    fn = entrymod.queries()[qname]
    hz = os.sysconf("SC_CLK_TCK")
    # one unrecorded warm-up: the first execution pays session-global
    # codegen/JIT costs that would masquerade as spread
    materialize(fn(spark, sf_dir))
    runs: list[dict] = []
    for i in range(n):
        # honest repeats: operators cache intermediates (e.g. the doc
        # scan) and the session memos hold substrates such as the
        # localCheckpoint'd pair table; a warm cache would measure
        # reuse, not the plan
        spark.catalog.clearCache()
        memo.invalidate()
        seen = set(_stages(port, app_id))
        busy0, mine0 = _cpu_snapshot()
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        wall = round(time.perf_counter() - t0, 3)
        busy1, mine1 = _cpu_snapshot()
        time.sleep(1.0)  # let the status store flush the last stages
        stages = _stages(port, app_id)
        mine = {k: v for k, v in stages.items() if k not in seen}
        agg = {f: sum(int(s.get(f) or 0) for s in mine.values()) for f in STAGE_FIELDS}
        rec = {
            "run": i,
            "wall_s": wall,
            "foreign_cpu_s": round(max(0, (busy1 - busy0) - (mine1 - mine0)) / hz, 2),
            "n_stages": len(mine),
            **agg,
        }
        runs.append(rec)
        print(json.dumps(rec))
    walls = [r["wall_s"] for r in runs]
    summary = {
        "query": qname,
        "sf_dir": sf_dir,
        "cpus": int(cpus),
        "n_runs": n,
        "wall_min": min(walls),
        "wall_max": max(walls),
        "wall_spread_pct": round(100 * (max(walls) - min(walls)) / min(walls), 1),
        "shuffle_write_stable": len({r["shuffleWriteBytes"] for r in runs}) == 1,
        "tasks_stable": len({r["numCompleteTasks"] for r in runs}) == 1,
        "runs": runs,
    }
    print(json.dumps({k: v for k, v in summary.items() if k != "runs"}))
    if artifact:
        with open(artifact, "w") as f:
            json.dump(summary, f, indent=1)
        print(f"artifact written: {artifact}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
