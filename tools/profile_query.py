"""Interactive profiling helper — run inside a REPL so the JVM persists.

Usage (from a pyspark-enabled python REPL):

    >>> from tools.profile_query import P
    >>> p = P()                 # builds the session once
    >>> p.t("agg_weighted_median_price")          # time one query
    >>> p.t("agg_weighted_median_price", n=3)     # best of 3
    >>> p.explain("agg_weighted_median_price")    # formatted plan
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from clickhouse_migrator_spark.registry import all_specs
from clickhouse_migrator_spark.session import get_spark


def _materialize(df) -> None:
    try:
        df.write.format("noop").mode("overwrite").save()
    except Exception:
        df.count()


class P:
    def __init__(
        self,
        sf_dir: str = os.path.join(ROOT, "perfbench", "data", "sf0.1"),
        cpus: str | None = None,
    ):
        self.sf_dir = sf_dir
        self.spark = get_spark(app_name="profile", cpus=cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.specs = all_specs()
        _materialize(self.spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1))

    def t(self, name: str, n: int = 1) -> float:
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            _materialize(self.specs[name].fn(self.spark, self.sf_dir))
            dt = time.perf_counter() - t0
            best = min(best, dt)
            print(f"  {name}: {dt:.3f}s")
        return best

    def family(self, prefix: str) -> None:
        for name in sorted(self.specs):
            if name.startswith(prefix):
                self.t(name)

    def explain(self, name: str) -> None:
        self.specs[name].fn(self.spark, self.sf_dir).explain("formatted")
