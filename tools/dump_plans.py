"""Dump `.explain("formatted")` for a list of registered queries to
files — before/after plan evidence (earlier rounds' dumps are in
archive/plans/<round>/<query>_{before,after}.txt).

Usage:
    python tools/dump_plans.py OUTDIR SUFFIX query [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt per query.  Run it once from the
pre-change tree (git archive of the baseline commit) for the _before
files and once from the working tree for _after.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_migrator_spark.plans.inspect import _formatted
from clickhouse_migrator_spark.registry import all_specs
from clickhouse_migrator_spark.session import get_spark


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = get_spark(app_name="dump_plans", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(_formatted(df))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
