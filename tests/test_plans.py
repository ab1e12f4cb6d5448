"""Physical-plan regression tests — the 100 TB design point made
executable: pushdown reaches scans, dims broadcast, top-k avoids global
sorts, and no operator collapses to a single-partition plan."""

from __future__ import annotations

import pytest

from clickhouse_migrator_spark.operators import tpch, windows, joins, similarity
from clickhouse_migrator_spark.plans import (
    count_shuffles,
    pushed_filters,
    scan_columns,
)
from clickhouse_migrator_spark.plans.inspect import _plan_string, count_broadcasts


def test_q1_filter_pushed_and_columns_pruned(spark, sf_dir):
    df = tpch.q1_pricing_summary(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed}"
    cols = " ".join(scan_columns(df))
    assert cols, "no ReadSchema found in formatted plan"
    assert "l_orderkey" not in cols, f"column pruning failed, scan reads: {cols}"
    # one hash shuffle for the group-by + one range shuffle for the
    # final ORDER BY (6 rows) — nothing else
    assert count_shuffles(df) <= 2


def test_q3_broadcasts_filtered_dimension(spark, sf_dir):
    df = tpch.q3_shipping_priority(spark, sf_dir)
    assert count_broadcasts(df) >= 1
    assert "BroadcastHashJoin" in _plan_string(df)


def test_q5_broadcasts_all_dims_single_fact_shuffle(spark, sf_dir):
    df = tpch.q5_local_supplier_volume(spark, sf_dir)
    plan = _plan_string(df)
    assert plan.count("BroadcastHashJoin") >= 4
    # lineitem⨝orders may itself broadcast at test SF; the invariant is
    # that no more than the fact join + final agg need hash exchanges
    assert count_shuffles(df) <= 3


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    df = windows.topk_global(spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan_string(df)


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    df = joins.join_range(spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in _plan_string(df)


def test_windows_partition_by_key(spark, sf_dir):
    df = windows.window_top3_per_customer(spark, sf_dir)
    # partitioned window → hashpartitioning exchange on the key, never a
    # single-partition global sort
    assert "hashpartitioning(o_custkey" in _plan_string(df)


def test_similarity_broadcasts_queries(spark, sf_dir):
    df = similarity.sim_topk_cosine(spark, sf_dir)
    assert count_broadcasts(df) >= 1


def test_q7_two_shuffles_all_dims_broadcast(spark, sf_dir):
    from clickhouse_migrator_spark.operators import tpch_ext

    df = tpch_ext.q7_volume_shipping(spark, sf_dir)
    plan = _plan_string(df)
    # customer/supplier/nation×2 broadcast; lineitem⨝orders + final agg
    # are the only hash exchanges (plus the output sort)
    assert plan.count("BroadcastHashJoin") >= 4
    assert count_shuffles(df) <= 3


def test_q15_max_revenue_is_broadcast_not_window(spark, sf_dir):
    from clickhouse_migrator_spark.operators import tpch_ext

    df = tpch_ext.q15_top_supplier(spark, sf_dir)
    plan = _plan_string(df)
    # the global max joins back as a broadcast — a single-partition
    # Window over all suppliers would be the scale anti-pattern
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_sampling_filter_is_scan_local(spark, sf_dir):
    from clickhouse_migrator_spark.operators import sampling

    df = sampling.sample_hash_10pct(spark, sf_dir)
    # the keep-predicate is row-local: exactly the one agg shuffle (+
    # output sort), no join, no window
    assert count_shuffles(df) <= 2
    plan = _plan_string(df)
    assert "Join" not in plan and "Window" not in plan


def test_gapfill_broadcasts_rollup_into_grid(spark, sf_dir):
    from clickhouse_migrator_spark.operators import events as events_ops

    df = events_ops.events_gapfill_hourly(spark, sf_dir)
    assert "BroadcastHashJoin" in _plan_string(df)


def test_null_safe_join_stays_hash_join(spark, sf_dir):
    from clickhouse_migrator_spark.operators import joins as joins_ops

    df = joins_ops.join_null_safe(spark, sf_dir)
    plan = _plan_string(df)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "NestedLoop" not in plan


def test_window_funnel_single_user_shuffle_no_join(spark, sf_dir):
    from clickhouse_migrator_spark.operators import events

    df = events.events_window_funnel(spark, sf_dir)
    plan = _plan_string(df)
    # the whole chain must compute inside per-user arrays: no join
    # operator anywhere, and the only wide exchanges are the user_id
    # aggregation, the tiny level rollup, and the final 3-row sort
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan
    assert count_shuffles(df) <= 3


def test_pack_token_budget_shard_partitioned(spark, sf_dir):
    from clickhouse_migrator_spark.operators import pipeline

    df = pipeline.pipeline_pack_token_budget(spark, sf_dir)
    plan = _plan_string(df)
    # window cumsum partitioned by shard — never a global (single
    # partition) sort; then one rollup
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_kmeans_search_broadcasts_queries(spark, sf_dir):
    df = similarity.sim_ivf_kmeans(spark, sf_dir)
    # the probe join must broadcast the tiny query side, never shuffle
    # the corpus on list_id
    assert count_broadcasts(df) >= 1


def test_prewhere_predicate_is_pushed_to_scan(spark, sf_dir):
    """The PREWHERE rewrite's claim is that Catalyst pushdown subsumes
    ClickHouse's scan-stage predicate split — so the predicate must
    actually reach the parquet scan as a pushed filter."""
    from clickhouse_migrator_spark.migrate import execute_and_inflate
    from clickhouse_migrator_spark.plans.inspect import pushed_filters
    from clickhouse_migrator_spark.tables import table

    table(spark, sf_dir, "events").createOrReplaceTempView("__pw_events")
    try:
        df = execute_and_inflate(
            spark, "SELECT user_id FROM __pw_events PREWHERE value > 90"
        )
        pushed = " ".join(pushed_filters(df))
        assert "value" in pushed, pushed
    finally:
        spark.catalog.dropTempView("__pw_events")


def test_sequence_and_islands_reuse_one_user_shuffle(spark, sf_dir):
    """sequenceCount and intervalLengthSum stack windows + aggregations
    on the same user_id key — the whole chain must ride ONE exchange."""
    from clickhouse_migrator_spark.operators import events

    from clickhouse_migrator_spark.plans.inspect import count_shuffles

    assert count_shuffles(events.events_sequence_count(spark, sf_dir)) <= 1
    assert count_shuffles(events.events_interval_length_sum(spark, sf_dir)) <= 1


def test_linear_interp_has_no_unbounded_following_frame(spark, sf_dir):
    """Spark evaluates (CURRENT ROW, UNBOUNDED FOLLOWING) frames by
    re-scanning the partition tail per row — O(n²) (21 s → 2.3 s at
    sf0.1 when rewritten).  The forward carry must stay a backward
    running frame over a descending sort."""
    from clickhouse_migrator_spark.operators import events

    plan = _plan_string(events.events_linear_interp_hourly(spark, sf_dir))
    assert "unboundedfollowing$()" not in plan.lower().replace(" ", "")


def test_cramers_v_single_fact_scan(spark, sf_dir):
    """The contingency statistic must not re-scan the fact table per
    marginal — everything after the cell reduction runs on the tiny
    cell frame."""
    from clickhouse_migrator_spark.operators import aggregates

    plan = _plan_string(aggregates.agg_cramers_v_flag_status(spark, sf_dir))
    assert plan.count("Scan parquet") == 1


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The corpus-shingle stream must never shuffle: the benchmark doc
    set and its shingles both broadcast."""
    from clickhouse_migrator_spark.operators import pipeline

    df = pipeline.pipeline_decontaminate_ngrams(spark, sf_dir)
    assert count_broadcasts(df) >= 2


def test_chunking_has_zero_shuffles(spark, sf_dir):
    from clickhouse_migrator_spark.operators import pipeline

    df = pipeline.pipeline_chunk_documents(spark, sf_dir)
    # chunk explode is row-local; the whole op must be a single scan
    assert count_shuffles(df) == 0, _plan_string(df)


def test_naive_bayes_model_broadcasts_into_scoring(spark, sf_dir):
    from clickhouse_migrator_spark.operators import text

    df = text.ml_naive_bayes_langid(spark, sf_dir)
    plan = _plan_string(df)
    # the model (priors + token-class counts) joins the exploded corpus
    # as broadcasts — the corpus stream itself never shuffles for the join
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2, plan


def test_bitmap_overlap_no_bitmap_materialization(spark, sf_dir):
    from clickhouse_migrator_spark.operators import aggregates

    df = aggregates.agg_bitmap_audience_overlap(spark, sf_dir)
    plan = _plan_string(df)
    # inclusion-exclusion formulation: no collect_list/collect_set of
    # the user universe anywhere in the plan
    assert "collect_set" not in plan and "collect_list" not in plan, plan


def test_q21_single_fact_fact_exchange_reused(spark, sf_dir):
    from clickhouse_migrator_spark.operators import tpch_ext

    df = tpch_ext.q21_waiting_suppliers(spark, sf_dir)
    plan = _plan_string(df)
    # supplier is broadcast; the per-order aggregate and the flagged
    # self-join both key on l_orderkey
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(l_orderkey" in plan, plan


def test_dataset_card_single_source_aggregate(spark, sf_dir):
    from clickhouse_migrator_spark.operators import pipeline

    df = pipeline.pipeline_dataset_card(spark, sf_dir)
    # per-source agg + 1-row total broadcast + final sort — no more
    assert count_shuffles(df) <= 3, _plan_string(df)


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    """The closed-vocabulary top-k must plan as TakeOrderedAndProject
    (distributed per-partition top-k), never a global sort of the
    Heaps-sized vocabulary frame."""
    from clickhouse_migrator_spark.operators import pipeline

    df = pipeline.pipeline_vocab_oov_rate(spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan_string(df)


def test_point_in_time_join_is_single_hash_join(spark, sf_dir):
    """The SCD2 temporal join keys on the customer equi-key with the
    validity interval as a residual filter — one join of the fact
    stream, no Cartesian."""
    from clickhouse_migrator_spark.operators import pipeline

    df = pipeline.pipeline_point_in_time_join(spark, sf_dir)
    plan = _plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boundary_stitch_is_equi_join(spark, sf_dir):
    """Boundary-stitch detection is a plain equi-join on the boundary
    gram (one hash key per document side) — no shingle explosion, no
    nested-loop."""
    from clickhouse_migrator_spark.operators import dedup

    df = dedup.dedup_boundary_stitch_pairs(spark, sf_dir)
    plan = _plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" not in plan, "no explode expected in the stitch path"


def test_fuzzy_match_blocked_not_all_pairs(spark, sf_dir):
    """The entity-resolution fuzzy join must join on the blocking key
    (equi-join); an unblocked edit-distance join would appear as a
    nested-loop over all pairs."""
    from clickhouse_migrator_spark.operators import joins as J

    df = J.join_fuzzy_entity_match(spark, sf_dir)
    plan = _plan_string(df)
    assert "CartesianProduct" not in plan
    # the data-driven key length is attached as a broadcast 1-row
    # scalar (r9): exactly the two scalar attaches may appear as
    # BroadcastNestedLoopJoin; the CANDIDATE join itself must still be
    # an equi-join on the blocking key
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "blk" in plan and (
        "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
    )


def test_bootstrap_fanout_is_broadcast(spark, sf_dir):
    """The 32-replicate fan-out must come from a broadcast of the tiny
    replicate frame — the fact table is scanned once, never shuffled
    for the cross join."""
    from clickhouse_migrator_spark.operators import sampling

    df = sampling.sample_poisson_bootstrap_se(spark, sf_dir)
    plan = _plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bloom_prefilter_prunes_before_join_exchange(spark, sf_dir):
    """join_bloom_prefilter's membership test must sit in the FACT-side
    scan stage (below the final join), so pruned rows never reach a
    join exchange — the whole point of the semi-join reduction."""
    df = joins.join_bloom_prefilter(spark, sf_dir)
    plan = _plan_string(df)
    # the membership test rides the 1-row bloom attach join itself
    # (BroadcastNestedLoopJoin ... shiftleft ...), sitting directly over
    # the orders FileScan
    bnlj_line = next(
        (ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln and "shiftleft" in ln),
        None,
    )
    assert bnlj_line is not None, "bloom membership predicate not on the attach join"
    # tree prints parents first: the pruning BNLJ must be DEEPER than
    # (after) the final customer equi-join, i.e. rows are filtered
    # before they ever reach that join
    assert plan.index("BroadcastHashJoin") < plan.index(bnlj_line.strip()), (
        "bloom prune is not below the final equi-join"
    )


def test_table_cache_returns_same_plan(spark, sf_dir):
    """table() plays the catalog role: same DataFrame object per
    (session, sf_dir, name); memo.invalidate() drops it."""
    from clickhouse_migrator_spark import memo
    from clickhouse_migrator_spark.tables import table

    a = table(spark, sf_dir, "orders")
    b = table(spark, sf_dir, "orders")
    assert a is b
    memo.invalidate(sf_dir, ["table"])
    c = table(spark, sf_dir, "orders")
    assert c is not a
    assert c.schema == a.schema
