#!/usr/bin/env python
"""Repeated-run bench spread (VERDICT r6 #1).

Round-over-round bench totals on this host swing ~±10% between runs of
near-identical trees (r5→r6: driver +7.5% while local −9.5% on the same
two trees), which exceeds every genuine per-query change — so a single
run can neither prove nor rule out a real regression.  This tool runs
the full bench N times back-to-back and writes one artifact with
per-query mean/σ/min/max plus run totals:

    python tools/bench_spread.py --n 5 --out BENCH_SPREAD_r7.json

The per-query MIN across runs is the robust "true cost" estimator on a
host with multi-minute steal stretches (steal only ever ADDS time);
`tools/bench_tripwire.py` consumes it for the regression check.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(i: int, sf_dir: str, cpus: str) -> dict:
    out_file = os.path.join(tempfile.gettempdir(), f"bench_spread_run{i}.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_BENCH_OUT=out_file,
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"bench run {i} failed rc={proc.returncode}")
    with open(out_file) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--out", default="BENCH_SPREAD.json")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())))
    args = ap.parse_args()

    runs = []
    for i in range(args.n):
        r = run_once(i, args.sf_dir, args.cpus)
        runs.append(r)
        print(
            f"run {i + 1}/{args.n}: total={r['value']:.1f}s "
            f"n={r.get('n_queries')} errors={r.get('n_errors', 0)}",
            flush=True,
        )

    # union across runs: a query that errored in one run but ran in the
    # others must still get spread stats (and tripwire history)
    names = sorted({q for r in runs for q in r["queries"]})
    per_query = {}
    for q in names:
        vals = [r["queries"][q] for r in runs if q in r["queries"]]
        mean = statistics.fmean(vals)
        sd = statistics.pstdev(vals) if len(vals) > 1 else 0.0
        per_query[q] = {
            "mean": round(mean, 3),
            "sd": round(sd, 3),
            "min": round(min(vals), 3),
            "max": round(max(vals), 3),
            "runs": [round(v, 3) for v in vals],
        }
    totals = [r["value"] for r in runs]
    art = {
        "metric": "bench_spread",
        "n_runs": args.n,
        "sf": runs[0].get("sf"),
        "cpus": args.cpus,
        # per-run contention + self-healing disclosure (ADVICE r11: a
        # spread without these fields bypassed close_check's budget;
        # the gate derives its pct from the QUIETEST run, matching the
        # tripwire's per-query-MIN estimator)
        "run_foreign_cpu_total_s": [
            r.get("foreign_cpu_total_s") for r in runs
        ],
        "run_retried": [r.get("retried", 0) for r in runs],
        "totals": [round(t, 1) for t in totals],
        "total_mean": round(statistics.fmean(totals), 1),
        "total_sd": round(statistics.pstdev(totals), 1),
        "total_min": round(min(totals), 1),
        "total_max": round(max(totals), 1),
        "total_spread_pct": round(
            100.0 * (max(totals) - min(totals)) / min(totals), 1
        ),
        "queries": per_query,
    }
    with open(args.out, "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    print(
        f"spread: total {art['total_min']}–{art['total_max']}s "
        f"(mean {art['total_mean']} ± {art['total_sd']}, "
        f"{art['total_spread_pct']}% band) → {args.out}"
    )


if __name__ == "__main__":
    main()
