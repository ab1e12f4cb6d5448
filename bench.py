"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (the driver keeps only the stdout TAIL and parses the
last JSON line — BENCH_r02.json came back ``parsed: null`` because the
full 346-entry per-query map blew past the captured window):

* the COMPLETE per-query map is written to ``$SPARK_GRAFT_BENCH_OUT``
  (default ``BENCH_LOCAL.json`` in the current directory; not tracked);
* stdout ends with ONE COMPACT summary line — total seconds, query
  count, sf, and only the top-20 slowest queries — small enough to
  always sit inside the driver's tail capture.

Each query is materialized through the `noop` sink (all columns computed,
nothing collected to the driver) — the same way a cluster job would be
measured, so the numbers reflect scan+shuffle+agg cost, not driver I/O.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clickhouse_migrator_spark import memo
from clickhouse_migrator_spark.memo_events import drain_fills
from clickhouse_migrator_spark.registry import all_specs
from clickhouse_migrator_spark.session import get_spark


def materialize(df) -> None:
    try:
        df.write.format("noop").mode("overwrite").save()
    except Exception:
        df.count()


def _cpu_snapshot() -> tuple[int, int]:
    """(system-wide busy jiffies, busy jiffies of OUR process subtree).

    Foreign-CPU attribution (VERDICT r9 #2): the r9 driver-session run
    showed one contiguous ~12-query window inflated 3.3-7.4× that no
    local replay of the same code/order/SF reproduces — transient
    external CPU contention on the bench machine.  Recording, per
    query, how much CPU the REST of the machine burned makes any
    future inflated window attributable from the artifact alone:
    inflated wall + inflated foreign CPU = contention; inflated wall +
    quiet foreign CPU = a real regression.  The subtree walk covers
    the python driver, the Spark JVM, and the reused pandas-UDF
    workers (children of the JVM)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    busy = sum(vals) - vals[3] - vals[4]  # minus idle + iowait
    procs: dict[int, tuple[int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rfind(")") + 2 :].split()
        procs[int(pid)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    mine = 0
    stack = [os.getpid()]
    while stack:
        p = stack.pop()
        if p in procs:
            mine += procs[p][1]
            stack.extend(kids.get(p, []))
    return busy, mine


# ── per-query contention self-healing (VERDICT r11 #3) ──────────────────────
# A whole-run foreign-CPU budget can only reject a contaminated run
# after the fact, and bench runs are hostage to host bursts: r11's
# driver artifact read +36% purely because ~190 s of foreign CPU landed
# inside query windows (42 s of it inside one 0.64 s query).  bench.py
# therefore heals per query: a measurement whose foreign-CPU share
# exceeds the budget below is re-run ONCE (after clearing session caches
# so the repeat is honest), the quieter of the two measurements is kept,
# and the artifact discloses both plus a `retried` count — contamination
# self-corrects instead of being diagnosed after the fact.
RETRY_FOREIGN_ABS_S = 1.0
RETRY_FOREIGN_PCT = 0.25


def _contaminated(wall: float, fg: float | None, cpus: int) -> bool:
    """True when foreign CPU during the query's window exceeds
    max(1 s, 25% of wall × cpus) — i.e. the rest of the machine burned
    a material share of the capacity this wall-clock was measured
    against.  fg=None (instrument unavailable) never triggers."""
    if fg is None or wall < 0:
        return False
    return fg > max(RETRY_FOREIGN_ABS_S, RETRY_FOREIGN_PCT * wall * cpus)


def _measure_all(specs, run_once, cpus: int, reset_caches=lambda name, memos: None):
    """Measurement loop with one-shot contention retry per query.

    ``run_once(name, spec) -> (wall, foreign_s | None, errored)`` is
    injected so the policy is unit-testable without Spark
    (tests/test_bench_foreign_cpu.py).  Session-memo fill events
    (:mod:`clickhouse_migrator_spark.memo_events`) recorded during a
    run are attributed to its query.  A retry must not measure reuse
    of state the query itself warmed, so ``reset_caches(name, memos)``
    receives exactly the memos the first attempt filled — clearing a
    memo the query never filled would only dump its refill on the next
    consumer in bench order (r12: an events_* retry dropping the pair
    memo took graph_degree_distribution 0.47 s → 6.3 s at sf1).

    Returns the artifact's measurement fields: ``queries``,
    ``foreign_cpu_s``, ``retries`` (both measurements of each retried
    query and which one was kept — the quieter foreign-CPU one; an
    errored or still-noisy retry keeps the first),
    ``retry_memos_cleared`` and ``memo_fills``."""
    timings: dict[str, float] = {}
    foreign: dict[str, float] = {}
    retries: dict[str, dict] = {}
    cleared: dict[str, list] = {}
    fills: dict[str, list] = {}

    def attempt(name, spec):
        drain_fills()  # discard any fills not attributable to a query
        try:
            return run_once(name, spec)
        finally:
            filled = drain_fills()
            if filled:
                fills.setdefault(name, []).extend(filled)

    for name, spec in sorted(specs.items()):
        wall, fg, err = attempt(name, spec)
        if err:
            timings[name] = -1.0
            continue
        if _contaminated(wall, fg, cpus):
            cleared[name] = sorted({f["memo"] for f in fills.get(name, [])})
            reset_caches(name, cleared[name])
            wall2, fg2, err2 = attempt(name, spec)
            rec = {
                "first_wall": wall,
                "first_foreign_cpu_s": fg,
                "retry_wall": wall2 if not err2 else None,
                "retry_foreign_cpu_s": fg2 if not err2 else None,
            }
            if not err2 and fg2 is not None and fg2 < fg:
                rec["kept"] = "retry"
                wall, fg = wall2, fg2
            else:
                rec["kept"] = "first"
            retries[name] = rec
        timings[name] = wall
        if fg is not None:
            foreign[name] = fg
    return {
        "queries": timings,
        "foreign_cpu_s": foreign,
        "retries": retries,
        "retry_memos_cleared": cleared,
        "memo_fills": fills,
    }


def _warm_shapes(spark) -> None:
    try:
        _warm_shapes_inner(spark)
    except Exception as e:  # pragma: no cover — warm-up must never kill the run
        print(f"bench: shape warm-up skipped: {e}", file=sys.stderr)


def _warm_shapes_inner(spark) -> None:
    """One-time plan-shape warm-up battery (VERDICT r5 #6).

    ~165 s of the r5 bench was per-query fixed machinery; a chunk of it
    is GLOBAL first-use cost that lands on whichever query runs first —
    Catalyst rule and codegen class-loads, Janino's own JIT warm-up,
    the broadcast/exchange/window/HOF execution classes, the decimal
    and percentile aggregate paths.  Running one tiny synthetic plan
    per shape hoists that shared setup out of the per-query timings,
    exactly like the Python-worker and streaming warm-ups below.  Only
    infra is shared: every real query still pays its own plan analysis
    and its own codegen compile, so per-query results and relative
    costs are untouched."""
    from pyspark.sql import Window, functions as F

    d = spark.range(256).select(
        "id",
        (F.col("id") % 7).alias("k"),
        F.col("id").cast("decimal(18,2)").alias("dec"),
        F.col("id").cast("double").alias("dbl"),
        F.concat(F.lit("w"), (F.col("id") % 9).cast("string")).alias("s"),
        F.sequence(F.lit(0), F.col("id") % 4).alias("arr"),
    )
    dim = spark.range(7).select(F.col("id").alias("k"), F.lit("x").alias("nm"))
    w = Window.partitionBy("k").orderBy("id")
    shapes = [
        # decimal hash-agg + rollup + count-distinct expand
        d.rollup("k").agg(
            F.sum("dec"), F.countDistinct("s"), F.avg("dbl"), F.max("id")
        ),
        # sort + ranking/offset windows + range frame
        d.select(
            F.row_number().over(w),
            F.lag("dbl").over(w),
            F.sum("dbl").over(w.rangeBetween(Window.unboundedPreceding, 0)),
        ),
        # broadcast hash join + sort-merge shuffle join
        d.join(F.broadcast(dim), "k").select("id", "nm"),
        d.join(d.select(F.col("id").alias("id2")), F.col("id") == F.col("id2")),
        # explode + HOFs + collect_set/flatten (array exec classes)
        d.select(F.explode("arr")),
        d.select(
            F.transform("arr", lambda x: x + 1),
            F.aggregate("arr", F.lit(0).cast("bigint"), lambda a, x: a + x),
        ),
        d.groupBy("k").agg(F.array_distinct(F.flatten(F.collect_set("arr")))),
        # percentile / approx sketches
        d.groupBy("k").agg(
            F.percentile("dbl", F.lit(0.5)), F.approx_count_distinct("s")
        ),
        # string/regexp + datetime codegen paths
        d.select(
            F.regexp_extract_all("s", F.lit("(w)"), 1),
            F.date_trunc("hour", F.timestamp_micros("id")),
        ),
        # broadcast nested-loop (theta) join — the 1-row scalar pattern
        d.crossJoin(F.broadcast(dim.agg(F.count(F.lit(1)).alias("n")))),
    ]
    for df in shapes:
        try:
            materialize(df)
        except Exception as e:  # pragma: no cover — warm-up must never kill the run
            print(f"bench: shape warm-up skipped: {e}", file=sys.stderr)
    try:
        # localCheckpoint machinery (used by the substrate queries)
        spark.range(16).localCheckpoint(eager=True).count()
    except Exception:
        pass


def _warm_streaming(spark) -> None:
    try:
        _warm_streaming_inner(spark)
    except Exception as e:  # pragma: no cover — warm-up must never kill the run
        print(f"bench: streaming warm-up skipped: {e}", file=sys.stderr)


def _warm_streaming_inner(spark) -> None:
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    warm_dir = tempfile.mkdtemp(prefix="bench_stream_warm_")
    tiny = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "k int, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    tiny.write.mode("overwrite").parquet(f"{warm_dir}/events")
    src = spark.readStream.schema(tiny.schema).parquet(f"{warm_dir}/events")
    q = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("bench_warm_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    q.stop()

    def fn(key, pdfs, state):
        yield pd.DataFrame({"k": [key[0]], "n": [sum(len(p) for p in pdfs)]})

    q = (
        src.groupBy("k")
        .applyInPandasWithState(
            fn,
            "k int, n long",
            "k int, n long",
            "append",
            GroupStateTimeout.NoTimeout,
        )
        .writeStream.format("memory")
        .queryName("bench_warm_state")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    q.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count())
    spark = get_spark(app_name="bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    specs = all_specs()
    # SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts to a subset (the scaling
    # probes bench the ~15 risk queries on partial fixtures)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = {q.strip() for q in only.split(",") if q.strip()}
        missing = keep - set(specs)
        if missing:
            # hard failure: a mistyped subset would otherwise produce a
            # normal-looking artifact that silently benched fewer
            # (possibly zero) queries, which the freshness/ratio gates
            # downstream would then consume as truth (ADVICE r9)
            print(
                f"bench: unknown queries in BENCH_ONLY: {sorted(missing)}",
                file=sys.stderr,
            )
            sys.exit(2)
        specs = {n: s for n, s in specs.items() if n in keep}
        if not specs:
            print("bench: BENCH_ONLY filtered every query out", file=sys.stderr)
            sys.exit(2)
    # warm the JVM + parquet footers once so per-query numbers are steady
    # (subset fixtures may lack lineitem — warm on whatever exists)
    try:
        materialize(spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1))
    except Exception:
        import glob as _glob

        any_pq = sorted(_glob.glob(f"{sf_dir}/*.parquet"))
        if any_pq:
            materialize(spark.read.parquet(any_pq[0]).limit(1))
    # spin up the reusable Python/Arrow workers once so the one-time
    # fork+import cost doesn't land on whichever pandas-UDF query runs
    # first (spark.python.worker.reuse keeps them alive session-wide)
    from pyspark.sql import functions as F

    materialize(
        spark.range(64)
        .groupBy(F.col("id") % 8)
        .applyInPandas(lambda pdf: pdf, schema="id bigint")
    )
    # one tiny plan per common SHAPE, hoisting global class-load/JIT
    # cost out of whichever real query would otherwise pay it first
    _warm_shapes(spark)
    # warm the Structured Streaming machinery once (StreamExecution,
    # state-store provider, commit/offset logs, the with-state Arrow
    # runner) over 1-row streams, so the one-time class-load +
    # checkpoint init doesn't land on whichever streaming_* query runs
    # first — the same hoist as the Python-worker warm-up above
    # (VERDICT r3 directive #6)
    _warm_streaming(spark)

    hz = os.sysconf("SC_CLK_TCK")

    def run_once(name, spec):
        try:
            snap0 = _cpu_snapshot()
        except Exception:  # pragma: no cover — non-Linux fallback
            snap0 = None
        t0 = time.perf_counter()
        try:
            materialize(spec.fn(spark, sf_dir))
            wall = round(time.perf_counter() - t0, 3)
        except Exception as e:  # pragma: no cover
            print(f"bench error {name}: {e}", file=sys.stderr)
            return -1.0, None, True
        fg = None
        if snap0 is not None:
            try:
                busy1, mine1 = _cpu_snapshot()
                fg = round(
                    max(0, (busy1 - snap0[0]) - (mine1 - snap0[1])) / hz, 3
                )
            except Exception:  # pragma: no cover
                fg = None
        return wall, fg, False

    def reset_caches(name, memos):
        # honest repeats: operators cache intermediates and the session
        # memos hold what the first attempt filled — a warm retry would
        # measure reuse, not the query.  The blanket clearCache also
        # drops the cache registrations of the memos that survive;
        # reregister() re-pins them so later consumers read a loaded
        # cache instead of each recomputing uncached (ADVICE r12 #2)
        try:
            spark.catalog.clearCache()
            memo.invalidate(names=memos)
            memo.reregister()
        except Exception:  # pragma: no cover
            pass

    measured = _measure_all(specs, run_once, int(cpus), reset_caches)
    timings, foreign = measured["queries"], measured["foreign_cpu_s"]

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    n_err = sum(1 for t in timings.values() if t < 0)

    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    with open(out_path, "w") as f:
        json.dump(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "cpus": int(cpus),
                "n_queries": len(timings),
                "n_errors": n_err,
                # queries: per-query wall seconds; foreign_cpu_s: CPU
                # seconds burned OUTSIDE the bench's own subtree (the
                # contention fingerprint); retries: queries whose first
                # measurement blew the foreign-CPU budget, both
                # measurements, and which was kept;
                # retry_memos_cleared: the memos each retry dropped
                # (the blanket clearCache always happens); memo_fills:
                # the queries that paid a memo fill/refill, with its
                # wall seconds (VERDICT r12 #1)
                **measured,
                "foreign_cpu_total_s": round(sum(foreign.values()), 1),
                "retried": len(measured["retries"]),
            },
            f,
            indent=1,
        )

    top = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: -kv[1],
        )[:20]
    )
    # LAST line of stdout: compact enough for the driver's tail capture
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "n_errors": n_err,
                "foreign_cpu_total_s": round(sum(foreign.values()), 1),
                "retried": len(measured["retries"]),
                "per_query_file": out_path,
                "queries": top,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
