"""agg_hll_set_operations r13 internals: the two segments ride ONE
isin-filtered scan per branch, and the union estimate merges
DataSketches HLL states (hll_union_agg over the 2-row sketch frame)
instead of re-aggregating the combined scan.  These tests pin

* estimator quality at fixture scale: the merged-state union estimate
  stays within the query's own 2% certification tolerance of exact
  (lgK=14 is ~0.8% rsd — a breach means broken plumbing);
* the plan shape: orders is read once per branch (the exact distinct
  and the sketch fill), never the six per-segment scans.  The sketch
  frame is not pinned: a pin read orders in its own job, so it saved
  no scan, and it measured slower (memo.pin's rule).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_migrator_spark.operators.aggregates import agg_hll_set_operations
from clickhouse_migrator_spark.tables import table


def test_merged_state_union_estimate_within_tolerance(spark, sf_dir):
    row = agg_hll_set_operations(spark, sf_dir).collect()[0]
    assert row.union_within_5pct and row.inter_within_5pct
    # re-derive the exact union independently of the query's own path
    o = table(spark, sf_dir, "orders")
    exact = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .agg(F.countDistinct("o_custkey"))
        .collect()[0][0]
    )
    assert row.n_union_exact == exact


def test_estimate_branch_does_not_rescan_orders(spark, sf_dir):
    df = agg_hll_set_operations(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # one parquet relation per branch — never the pre-r13 six
    assert plan.count("] parquet") <= 2, plan
