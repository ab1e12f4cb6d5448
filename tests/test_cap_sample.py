"""The registered exact all-pairs/scan baselines are bounded by a
deterministic hash-sample cap (VERDICT r2 "what's wrong #2"): no
registered query may be O(N²) in corpus size.  These tests pin

* cap semantics: n_cap ≥ N keeps every row (gate results unchanged at
  test SFs), n_cap < N keeps ~n_cap rows, deterministically;
* Spark/DuckDB agreement on the kept set (the oracle twin);
* that the capped queries actually route through the sample.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from clickhouse_migrator_spark.operators.sampling import (
    _P,
    cap_sample,
    sql_cap_sample,
)
from clickhouse_migrator_spark.tables import table


def test_cap_above_n_keeps_everything(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    n = e.count()
    kept = cap_sample(e, "vec_id", n + 1).count()
    assert kept == n


def test_cap_below_n_is_deterministic_and_bounded(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    n = e.count()
    n_cap = max(10, n // 4)
    ids1 = sorted(r.vec_id for r in cap_sample(e, "vec_id", n_cap).select("vec_id").collect())
    ids2 = sorted(r.vec_id for r in cap_sample(e, "vec_id", n_cap).select("vec_id").collect())
    assert ids1 == ids2  # deterministic
    # binomial(n, n_cap/n) concentrates around n_cap; allow wide slack
    assert 0 < len(ids1) < n
    assert abs(len(ids1) - n_cap) < n_cap  # within (0, 2*n_cap)


def test_cap_sample_matches_duckdb_twin(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    n = e.count()
    n_cap = max(10, n // 4)
    spark_ids = sorted(
        r.vec_id for r in cap_sample(e, "vec_id", n_cap).select("vec_id").collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    sql = sql_cap_sample("vec_id", "embeddings", n_cap)
    duck_ids = sorted(
        r[0] for r in con.sql(f"SELECT vec_id FROM {sql} s").fetchall()
    )
    assert spark_ids == duck_ids


def test_registered_baselines_are_capped(spark, sf_dir):
    """The registered plans must contain the cap's count-broadcast
    filter — i.e. they route through cap_sample, not the raw table —
    plus a behavioral check that a BINDING cap actually bounds the pair
    output."""
    from clickhouse_migrator_spark.operators.dedup import (
        EXACT_COSINE_CAP,
        _embedding_cosine_pairs,
    )
    from clickhouse_migrator_spark.operators.similarity import sim_topk_cosine

    plan = (
        sim_topk_cosine(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "_n_total" in plan, "sim_topk_cosine lost its sample cap"

    pairs_plan = (
        _embedding_cosine_pairs(spark, sf_dir, EXACT_COSINE_CAP)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "_n_total" in pairs_plan, "dedup_embedding_cosine lost its sample cap"

    # Behavioral: with a cap below N, output pairs only involve kept ids.
    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    n = e.count()
    n_cap = max(10, n // 4)
    kept = {r.vec_id for r in cap_sample(e, "vec_id", n_cap).select("vec_id").collect()}
    assert 0 < len(kept) < n  # the cap is binding at this SF
    out = _embedding_cosine_pairs(spark, sf_dir, n_cap).collect()
    out_ids = {r.vec_a for r in out} | {r.vec_b for r in out}
    assert out_ids <= kept, "pair output escaped the cap sample"
